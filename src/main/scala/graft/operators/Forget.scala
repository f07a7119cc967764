package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** UNIFIED right-to-be-forgotten orchestration across every persisted
  * serving index (r16 verdict item 6). Takedown already has one front
  * door ([[Multimodal.takedownUnified]] / takedownUnifiedContent); forget
  * was five separate per-index calls a compliance job had to sequence by
  * hand — and a missed call is a serving index that keeps matching (and,
  * for the shingle-sets / postings tables, literally CONTAINING) content
  * that was supposed to leave. One tombstone frame in, every index
  * rewritten, one audit frame out.
  *
  * No reference counterpart (the reference has no persisted index
  * surface); this is the SURVEY §2.8 LLM-pipeline north star closing the
  * RTBF loop the per-index forgets opened in r16.
  */
object Forget {

  /** Fan ONE tombstone frame (`doc_id`; for the IVF index the id IS the
    * vec_id — callers whose embedding keys differ pre-join their mapping
    * and pass the result) across all seven persisted index families:
    * near-dup bands+sets ([[Dedup.nearDupIndexForget]]), winnowing
    * fingerprints ([[TextAnalysis.winnowIndexForget]]), BM25 postings +
    * stats ([[TextAnalysis.searchIndexForget]] — the stats sidecar is
    * re-derived so idf/avgdl can't drift), IVF vectors
    * ([[Similarity.ivfIndexForget]]), and the image/audio/video sketch
    * tables ([[Multimodal.mediaIndexForget]]). Every per-index call is
    * one anti-join through [[Bucketing.rewrite]] — layout and `graft.*`
    * sidecar from the catalogue, new rows staged under a sibling name and
    * swapped in by rename, forgotten ≡ never-held (spec-pinned on the
    * underlying ops); this orchestrator adds the ONE-CALL guarantee plus
    * an audit trail: one (index, rows_before, rows_after) row per
    * rewritten table, in rewrite order — the evidence frame a compliance
    * ticket attaches. Counts are index-metadata scans, cheap next to the
    * rewrites themselves.
    *
    * The funnel's corpus state forgets through its own ledger
    * ([[CorpusOps.funnelStateForget]], O(tombstones)) — a different
    * mechanism with a different cost model, deliberately not folded in
    * here; call it alongside when the funnel state serves the same
    * corpus. */
  def forgetUnified(spark: SparkSession, tombstoneIds: DataFrame,
                    bandsTable: String, setsTable: String,
                    winnowTable: String, postingsTable: String,
                    statsTable: String, ivfTable: String,
                    imageTable: String, audioTable: String,
                    videoTable: String): DataFrame = {
    // tombstones are request-sized but read by seven rewrites — pin once
    val ids = tombstoneIds.select("doc_id").localCheckpoint(true)
    def cnt(t: String): Long = {
      spark.catalog.refreshTable(t)
      spark.table(t).count()
    }
    val audit = Seq.newBuilder[(String, Long, Long)]
    def step(tables: Seq[String])(run: => Unit): Unit = {
      val before = tables.map(t => t -> cnt(t))
      run
      before.foreach { case (t, b) => audit += ((t, b, cnt(t))) }
    }
    step(Seq(bandsTable, setsTable))(
      Dedup.nearDupIndexForget(spark, bandsTable, setsTable, ids))
    step(Seq(winnowTable))(
      TextAnalysis.winnowIndexForget(spark, winnowTable, ids))
    step(Seq(postingsTable))(
      TextAnalysis.searchIndexForget(spark, postingsTable, statsTable,
        ids))
    step(Seq(ivfTable))(
      Similarity.ivfIndexForget(spark, ivfTable,
        ids.select(col("doc_id").as("vec_id"))))
    Seq(imageTable, audioTable, videoTable).foreach { t =>
      step(Seq(t))(Multimodal.mediaIndexForget(spark, t, ids))
    }
    import spark.implicits._
    audit.result().toDF("index", "rows_before", "rows_after")
  }
}
