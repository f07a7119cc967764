package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Bench.jsonStr

/** Scale-stress bench: measures the scale-critical paths (LSH candidate
  * generation, the full dedup pipeline, sign-LSH kNN, the persisted IVF
  * probe, the two heaviest per-row text ops — rolling fingerprint and
  * repetition scoring, the class where per-row MEMORY regressions hide —
  * plus line-level dedup and the bloom-prefiltered incremental dedup, the
  * two corpus-wide join chains added in round 7, BM25 retrieval —
  * one corpus aggregate + per-row score + TakeOrdered, expected ~linear —
  * the exact-vs-sketch quality-tertile pair, Levenshtein-confirmed fuzzy
  * dedup, and the IVF-PQ composition — the round-9 additions)
  * at 1×, 10×, and 100× the sf0.1 corpus, and reports warm-over-warm
  * growth ratios. This converts the plan-shape "scales" arguments in
  * SURVEY/VERDICT into measurements: a bucketed/candidate-bounded operator
  * should grow ≤~linearly in corpus size; a hidden all-pairs term would show
  * up as a superlinear ratio (×10 step ≫ 10, ×100 step ≫ 10).
  *
  * Scaled-corpus construction (the part that makes the ratios meaningful):
  * naive row replication would put every document in a 10/100-wide EXACT
  * duplicate cluster, so LSH pair counts would grow with the SQUARE of the
  * factor — the workload's character, not the engine, would be superlinear,
  * and the measurement would be noise. Instead each copy is made
  * content-distinct while preserving the base corpus's internal near-dup
  * structure:
  *   - documents: every whitespace-word gets a per-copy suffix
  *     (`word` → `word_c<i>`), so word COUNT (→ shingle volume) is identical
  *     per copy, within-copy Jaccard structure is exactly the base one, and
  *     cross-copy shingle sets are disjoint (cross-copy Jaccard ≈ 0 →
  *     candidate pairs grow ×f, not ×f²);
  *   - embeddings: a small deterministic jitter (±0.05, hash-seeded by
  *     (vec_id, copy, dim)) decorrelates copies without moving vectors
  *     between LSH buckets en masse; ids are remapped by a 10M stride so
  *     the fixed probe set (`vec_id < 8`) stays exactly the base 8 queries
  *     while the CORPUS grows — corpus-side scaling is what the 100 TB
  *     question asks about.
  *
  * Emits ONE JSON line to stdout and to SPARK_GRAFT_SCALE_OUT (default
  * `BENCH_scale.json`): per-factor cold + median-of-3 warm per query, row
  * counts, and the x10/x1 and x100/x10 warm ratios. Generation time is NOT
  * part of any measurement; generated data is cached under
  * SPARK_GRAFT_SCALE_WORK (default /tmp/graft_scale) keyed by factor.
  */
object ScaleBench {

  /** Measured paths. `emb_semantic_dedup` is deliberately ABSENT: its
    * within-cell pairing under the registered query's FIXED nlist=16 grows
    * with the square of the corpus (the workload's construction, not the
    * engine — SemDeDup's scale dial is nlist ∝ √N, per the operator
    * scaladoc), and past `maxCellVecs` the hot-cell guard excludes cells
    * wholesale, so a fixed-config ratio would measure either the quadratic
    * workload or the guard's refusal — both already spec-documented.
    * `multimodal_modality_profile` RE-ENTERED in r14 (verdict item 2):
    * the synthetic BMP universe has a FIXED 32 motif classes, so class
    * size grows ∝ corpus/32 — under the old doc-level banding,
    * within-class perceptual pairs grew ×f² until maxBandDocs refused
    * the buckets outright (r13 probe: ×10 warm 48 s in the quadratic
    * regime, ×100 warm 17 s as the guard dropped the pairs — a recall
    * cliff). The profile now computes incidence VALUE-side
    * (distinct-sketch banding + per-value doc counts, no doc-pair frame
    * — Multimodal.sketchDupIncidence/videoDupIncidence), so this cell
    * watches the duplicate-heaviest universe in the suite stay at the
    * codec scan's linear floor. */
  private val ScaleQueries =
    Seq("doc_lsh_pairs", "doc_dedup_pipeline", "emb_knn_lsh",
      "emb_knn_ivf_indexed", "doc_rolling_fp", "doc_repetition",
      "doc_line_dedup", "doc_dedup_incremental",
      "doc_dedup_incremental_near", "doc_search_bm25",
      // the quality-tertile PAIR: exact integer-rank cutoffs (per-score
      // histogram + an unpartitioned window over distinct scores — the
      // one debatable shape, measured here) vs the percentile_approx
      // sketch twin (pure partial-agg). The 100 TB question this cell
      // answers: when does the exact path's histogram window start to
      // cost, and what does switching to the sketch buy at that point?
      "doc_quality_buckets", "doc_quality_buckets_approx",
      // round-9 additions: Levenshtein-confirmed fuzzy dedup (candidate
      // count grows ~x f by corpus construction; the cell watches the
      // per-pair O(|a|*|b|) DP term stay pair-bounded) and the IVF-PQ
      // composition (per-row decode+argmin map over the corpus + a
      // probe-bounded join — expected ~linear like the other ANN cells)
      "doc_dedup_fuzzy", "emb_knn_ivf_pq",
      // round-11: the residual-encoding twin — same plan family as
      // emb_knn_ivf_pq plus one broadcast centroid join, expected the
      // same ~linear growth
      "emb_knn_ivf_pq_residual",
      // round-11 late: the top-k formulation PAIR — row_number window
      // (shuffle + sort of every scored pair) vs the native
      // TypedImperativeAggregate heap (map-side partial, only |Q|·k rows
      // cross the exchange). Same oracle-proven results; this cell pair
      // measures what the plan difference buys as the pair count grows
      "emb_knn_brute", "emb_knn_brute_heap",
      // r11 session 2: exact-substring span dedup — corpus-token explode
      // + fp census + bounded per-doc coverage window. The cell watches
      // the census shuffle and the window pass both stay ~linear in
      // corpus tokens (the paper's suffix array is O(corpus) too); the
      // cross-copy word suffixes keep duplicate-window volume linear in
      // f, so the ratio measures the engine, not a dup-heavy workload
      "doc_span_dedup",
      // and winnowing — r13: one native per-doc deque pass + explode of
      // the selected set, no exchange at all: expected AT the per-row-map
      // linear floor like doc_rolling_fp (r12's window-sort formulation
      // read 17x at the x100 step — the spill-regime cell this rewrite
      // closes)
      "doc_winnowing",
      // r11 session 3: the CMS heavy-hitter sketch (one token-keyed
      // aggregate feeding a ≤512-row broadcast — expected the aggregate's
      // linear floor) and BPE training (corpus collapses to the word-
      // frequency table first, then 6 vocab-sized rounds; the cross-copy
      // word suffixes grow the VOCAB ×f, so this cell measures the
      // formulation's real dial — training cost tracks vocabulary, and
      // the corpus only pays one explode)
      "corpus_token_cms", "corpus_bpe_train",
      // r11 session 4: Kneser-Ney scoring — the LM family's heaviest
      // member (four vocab-sized model aggregates + three token-keyed
      // joins back onto the exploded corpus); the cell watches the
      // model-side aggregates stay vocab-bounded while the corpus pays
      // one explode. And per-doc entropy — one (doc, token) aggregate +
      // one doc aggregate, expected at the aggregate's linear floor
      "doc_kn_logprob", "doc_entropy",
      // r12: the PII detector — four regexp passes (3 counts + the
      // injection concat) in one codegen'd map over the corpus; the
      // cell prices regex scanning at scale, expected the map's linear
      // floor. Weighted sampling — the WindowGroupLimit cell: output is
      // FIXED at k rows/source whatever the corpus factor, so growth
      // here is the per-partition k-heap scan + a ≤k-rows-per-source
      // exchange; ~linear-in-scan, near-zero shuffle growth. And the
      // perceptual hash — the mapPartitions codec boundary priced at
      // scale: byte-level BMP parse + two 64-bit hashes per row,
      // expected linear like the other per-row passes
      "doc_pii_detect", "doc_weighted_sample", "multimodal_phash",
      // r12 session 4: takedown propagation (tombstones ride id residues,
      // so the tombstone set grows ×f with the corpus; the cell watches
      // the role-flipped band probe stay candidate-bounded — expected
      // ~linear like doc_dedup_incremental_near) and the contamination
      // BFS (edge construction is the LSH chain; 3 frontier hops on top,
      // each O(edges touched) — expected the chain's growth, since the
      // hop joins are pair-bounded)
      "doc_takedown_status", "doc_contamination_radius",
      // r12 session 5: the exact prefix-filter similarity join — the cell
      // watches the canonicalize shuffle, the set-frequency aggregate and
      // the prefix-token join all stay ~linear (cross-copy shingle sets
      // are disjoint by construction, so set-level candidates grow ×f,
      // never ×f²; a superlinear ratio here would mean the prefix buckets
      // stopped pruning). And the trained NB classifier — vocab grows ×f
      // with the suffixed words while classes stay fixed; the cell
      // watches the weight-table join and the test-token scoring stay at
      // the corpus explode's linear floor
      "doc_setsim_join", "doc_nb_langid",
      // r13: the provenance manifest (one source-keyed map-side-combined
      // aggregate — expected the scan's linear floor; this is the op
      // whose ONLINE twin makes publish-time validation corpus-free) and
      // the JSONL quarantine boundary (serialize + PERMISSIVE parse +
      // source-keyed aggregate in one codegen'd map chain — prices the
      // real JSON parse at scale, expected linear). The Misra-Gries
      // summary — one mapPartitions pass with k counters + a
      // partitions-x-(k+1)-row merge; expected the scan floor with
      // near-zero shuffle growth (the summary never grows with the
      // corpus)
      "corpus_manifest", "corpus_jsonl_quarantine",
      "corpus_token_heavy_mg",
      // r14: the cross-modal dup profile, re-admitted after the
      // value-side incidence rewrite (see the exclusion history above);
      // and HTML extraction — synth + 9 regex passes + round-trip
      // compare in one codegen'd map, expected the regex scan's linear
      // floor (the doc_pii_detect cell's big sibling)
      "multimodal_modality_profile", "doc_html_extract")
  private val Factors = Seq(1, 10, 100)
  private val WarmTrials = 3
  /** Trials for the index-maintenance cells (median; 2 would report the
    * max of two). Kept small — each trial rebuilds the x100 index. */
  private val MaintTrials = 3
  /** id remap stride between copies — far above any base id, so copy-0 keeps
    * the original ids (and the `vec_id < 8` probe set) verbatim. */
  val IdStride = 10000000L

  /** `f` content-distinct copies of a `documents` frame (invariants in the
    * object scaladoc; spec-checked in ScaleCorpusSpec): copy 0 is the base
    * verbatim, copy i>0 suffixes every word with `_c<i>` — word count (→
    * shingle volume) identical per copy, cross-copy shingle sets disjoint. */
  def scaleDocuments(base: DataFrame, f: Int): DataFrame =
    base.crossJoin(copies(base, f))
      .select(
        (col("doc_id") + col("copy") * IdStride).as("doc_id"),
        when(col("copy") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1_c"), col("copy")))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  /** `f` copies of an `embeddings` frame: copy 0 verbatim, copy i>0 jittered
    * ±0.05 per dimension (hash-seeded by (vec_id, copy, dim) — deterministic
    * across runs). Ids strided so the base probe set (`vec_id < 8`) is
    * untouched while the corpus grows. */
  def scaleEmbeddings(base: DataFrame, f: Int): DataFrame =
    base.crossJoin(copies(base, f))
      .select(
        (col("vec_id") + col("copy") * IdStride).as("vec_id"),
        when(col("copy") === 0, col("embedding"))
          .otherwise(transform(col("embedding"), (v, j) =>
            (v + (pmod(hash(col("vec_id"), col("copy"), j), lit(1000))
              .cast("float") - lit(500f)) / lit(10000f)).cast("float")))
          .as("embedding"),
        col("label"))

  private def copies(base: DataFrame, f: Int): DataFrame =
    base.sparkSession.range(f).withColumnRenamed("id", "copy")

  def main(args: Array[String]): Unit = {
    val baseDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val workDir =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_WORK", "/tmp/graft_scale")
    val outPath =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_scale.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus, 32)
      // The maintenance cells eagerly localCheckpoint stage frames; their
      // blocks are only reclaimed after a JVM GC lets ContextCleaner see
      // the dead RDDs, and the default periodicGC.interval (30min) is
      // longer than this whole run — blocks from earlier cells piled up
      // until the x100 funnel compact OOM'd the heap (r17). A 1-minute
      // forced GC keeps block reclamation ahead of allocation.
      .config("spark.cleaner.periodicGC.interval", "60s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietBoundedWindowWarnings()

    def scaledDir(f: Int): String =
      if (f == 1) baseDir else s"$workDir/x$f"

    /** Replicate base → f content-distinct copies (see scaladoc). Idempotent:
      * skipped when the target parquet already exists with a _SUCCESS mark. */
    def generate(f: Int): Unit = {
      val dir = scaledDir(f)
      val done = Paths.get(s"$dir/documents.parquet/_SUCCESS")
      if (Files.exists(done)) return
      scaleDocuments(spark.read.parquet(s"$baseDir/documents.parquet"), f)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      scaleEmbeddings(spark.read.parquet(s"$baseDir/embeddings.parquet"), f)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }

    /** (charged seconds, error if failed) — same noop-write materialization
      * as Bench so every output column is forced through the full plan. */
    def once(name: String, dir: String): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      try {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (elapsed, None)
      } catch {
        case e: Throwable =>
          (elapsed, Some(s"${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").take(300)))
      }
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    Factors.filter(_ > 1).foreach(generate)

    case class Cell(cold: Double, warm: Double, warmMin: Double,
      warmMax: Double, err: Option[String])
    // Warm trials are grouped per PASS over all (factor, query) cells, not
    // back-to-back per cell (same rationale as Bench.scala): a transient
    // machine-wide stall then taints one trial of many cells — discarded by
    // each cell's median — instead of ALL trials of one cell, which would
    // land verbatim in that cell's median and fabricate a growth ratio.
    val cells: Seq[(Int, String)] =
      for (f <- Factors; q <- ScaleQueries) yield (f, q)
    val coldRuns = cells.map { case (f, q) => once(q, scaledDir(f)) }
    val warmPasses: Seq[Seq[(Double, Option[String])]] =
      (1 to WarmTrials).map(_ =>
        cells.map { case (f, q) => once(q, scaledDir(f)) })
    val results: Seq[(Int, Map[String, Cell])] = Factors.map { f =>
      f -> ScaleQueries.map { q =>
        val i = cells.indexOf((f, q))
        val trials = warmPasses.map(_(i))
        q -> Cell(coldRuns(i)._1, median(trials.map(_._1)),
          trials.map(_._1).min, trials.map(_._1).max,
          (coldRuns(i)._2 +: trials.map(_._2)).flatten.headOption)
      }.toMap
    }
    val rows: Seq[(Int, (Long, Long))] = Factors.map { f =>
      val dir = scaledDir(f)
      f -> ((spark.read.parquet(s"$dir/documents.parquet").count(),
        spark.read.parquet(s"$dir/embeddings.parquet").count()))
    }

    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => jsonStr(k) + ":" + v }.mkString("{", ",", "}")
    def perFactor(sel: Cell => Double): String =
      obj(results.map { case (f, m) =>
        s"x$f" -> obj(ScaleQueries.map(q => q -> sel(m(q)).toString))
      })
    /** warm-time growth per step; the scale verdict: ≤~linear means the
      * ratio stays at or below the corpus growth factor (10). */
    def ratios: String = obj(Factors.sliding(2).toSeq.map {
      case Seq(a, b) =>
        val (ma, mb) = (results.find(_._1 == a).get._2,
          results.find(_._1 == b).get._2)
        s"x${b}_vs_x$a" -> obj(ScaleQueries.map(q =>
          q -> (mb(q).warm / math.max(ma(q).warm, 1e-9)).toString))
      case _ => throw new IllegalStateException("unreachable")
    })
    // ── Index MAINTENANCE: constant-size append vs corpus-sized rebuild ──
    // The 100 TB upgrade-path claim made measurable: growing a persisted
    // near-dup index (bands + shingle sets) by a FIXED-size increment must
    // cost O(increment) — ~flat across corpus factors — while the rebuild
    // it replaces grows O(corpus). Protocol per factor and trial: drop →
    // time nearDupWriteIndex over the x<f> corpus → time nearDupIndexAppend
    // of the base-corpus-sized batch (ids remapped clear of every copy
    // stride so the append never collides). Median of MaintTrials.
    val maintErrs = scala.collection.mutable.Buffer.empty[(String, String)]
    def maintCell(f: Int): (Double, Double) = {
      val bandsT = s"scale_nd_bands_x$f"
      val setsT = s"scale_nd_sets_x$f"
      try {
        val docs = spark.read.parquet(s"${scaledDir(f)}/documents.parquet")
        val batch = spark.read.parquet(s"$baseDir/documents.parquet")
          .withColumn("doc_id", col("doc_id") + lit(IdStride * 1000))
        val trials = (1 to MaintTrials).map { _ =>
          operators.Bucketing.drop(spark, bandsT, setsT)
          val t0 = System.nanoTime()
          operators.Dedup.nearDupWriteIndex(docs, bandsT, setsT)
          val tBuild = (System.nanoTime() - t0) / 1e9
          val t1 = System.nanoTime()
          operators.Dedup.nearDupIndexAppend(batch, bandsT, setsT)
          (tBuild, (System.nanoTime() - t1) / 1e9)
        }
        (median(trials.map(_._1)), median(trials.map(_._2)))
      } catch {
        case e: Throwable =>
          maintErrs += (s"x$f:maintenance" ->
            (s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").take(300)))
          (-1.0, -1.0)
      } finally {
        operators.Bucketing.drop(spark, bandsT, setsT)
      }
    }
    val maint: Seq[(Int, (Double, Double))] =
      Factors.map(f => f -> maintCell(f))

    // Same protocol for the persisted IVF index (cell-bucketed corpus +
    // seeded centroid table): rebuild assigns and rewrites the whole x<f>
    // corpus; append assigns ONE base-corpus-sized batch with the same
    // centroids and appends in place (ivfIndexAppend). Claim under
    // measure: append ~flat across factors, rebuild grows with the corpus.
    def ivfMaintCell(f: Int): (Double, Double) = {
      val table = s"scale_ivf_x$f"
      try {
        val emb = spark.read.parquet(s"${scaledDir(f)}/embeddings.parquet")
        val cents = operators.Similarity.ivfSeedCentroids(emb, 16)
        val batch = spark.read.parquet(s"$baseDir/embeddings.parquet")
          .withColumn("vec_id", col("vec_id") + lit(IdStride * 1000))
        val trials = (1 to MaintTrials).map { _ =>
          operators.Bucketing.drop(spark, table)
          val t0 = System.nanoTime()
          operators.Similarity.ivfWriteIndex(emb, cents, table)
          val tBuild = (System.nanoTime() - t0) / 1e9
          val t1 = System.nanoTime()
          operators.Similarity.ivfIndexAppend(batch, cents, table)
          (tBuild, (System.nanoTime() - t1) / 1e9)
        }
        (median(trials.map(_._1)), median(trials.map(_._2)))
      } catch {
        case e: Throwable =>
          maintErrs += (s"x$f:ivf_maintenance" ->
            (s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").take(300)))
          (-1.0, -1.0)
      } finally {
        operators.Bucketing.drop(spark, table)
      }
    }
    val ivfMaint: Seq[(Int, (Double, Double))] =
      Factors.map(f => f -> ivfMaintCell(f))

    // The REFIT leg of the IVF lifecycle (ivfRefitCentroids): one Lloyd
    // step over the x<f> corpus under the seeded centroids — the batch
    // job the drift signal triggers. One assignment pass + an
    // index-sized (nlist×d) aggregate, so the expectation under measure
    // is ~linear in f: refit costs one corpus pass, not per-query work,
    // which is why the maintenance contract defers it to drift.
    def ivfRefitCell(f: Int): Double = {
      try {
        val emb = spark.read.parquet(s"${scaledDir(f)}/embeddings.parquet")
        val cents = operators.Similarity.ivfSeedCentroids(emb, 16)
        val trials = (1 to MaintTrials).map { _ =>
          val t0 = System.nanoTime()
          operators.Similarity.ivfRefitCentroids(emb, cents)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        median(trials)
      } catch {
        case e: Throwable =>
          maintErrs += (s"x$f:ivf_refit" ->
            (s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").take(300)))
          -1.0
      }
    }
    val ivfRefit: Seq[(Int, Double)] =
      Factors.map(f => f -> ivfRefitCell(f))

    // The search-index LSM pair (r13, closing the r12 verdict item 6):
    // COMPACTION = searchWriteIndex over the x<f> corpus (grows with the
    // corpus — the scheduled batch job), DELTA COMMIT =
    // StreamingSearch.applyBatch of a base-corpus-sized batch into a
    // delta dir (~flat — the per-micro-batch cost). The equivalence
    // (base+delta probe ≡ compacted probe, bit-identical) is spec-gated
    // in SearchIndexSpec; this cell prices the two legs.
    def searchMaintCell(f: Int): (Double, Double) = {
      val (pT, sT) = (s"scale_srch_p_x$f", s"scale_srch_s_x$f")
      try {
        val docs = spark.read.parquet(s"${scaledDir(f)}/documents.parquet")
        val batch = spark.read.parquet(s"$baseDir/documents.parquet")
          .withColumn("doc_id", col("doc_id") + lit(IdStride * 1000))
        val trials = (1 to MaintTrials).map { i =>
          operators.Bucketing.drop(spark, pT, sT)
          // fresh per-trial dir: a reused delta dir makes applyBatch a
          // replay no-op (batchId already committed) and the cell would
          // price the refusal, not the commit
          val deltaDir = Files.createTempDirectory(
            s"graft_search_delta_x${f}_").toString
          try {
            val t0 = System.nanoTime()
            operators.TextAnalysis.searchWriteIndex(docs, pT, sT)
            val tCompact = (System.nanoTime() - t0) / 1e9
            val t1 = System.nanoTime()
            streaming.StreamingSearch.applyBatch(spark, deltaDir, batch, i)
            (tCompact, (System.nanoTime() - t1) / 1e9)
          } finally {
            // outside both timing windows; the sweep runs many trials —
            // leaked per-trial delta state (parquet + markers) piles up
            // in /tmp otherwise
            org.apache.commons.io.FileUtils
              .deleteQuietly(new java.io.File(deltaDir))
            ()
          }
        }
        (median(trials.map(_._1)), median(trials.map(_._2)))
      } catch {
        case e: Throwable =>
          maintErrs += (s"x$f:search_maintenance" ->
            (s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").take(300)))
          (-1.0, -1.0)
      } finally {
        operators.Bucketing.drop(spark, pT, sT)
      }
    }
    val searchMaint: Seq[(Int, (Double, Double))] =
      Factors.map(f => f -> searchMaintCell(f))

    // The INCREMENTAL CURATION FUNNEL lifecycle (r15, reworked r16):
    // STATE BUILD = funnelWriteState over the x<f> corpus (fp universe +
    // band/sets index + span census — grows with the corpus, once per
    // version), PROBE = curationFunnelIncrementalIndexed of a constant
    // base-corpus-sized batch against the persisted state (the
    // per-increment serve a continuous crawl pipeline pays — the claim
    // under measure is ~flat across factors), ADMIT = funnelStateAppend
    // of the batch (~flat, O(increment)). Batch ids remapped clear of
    // every copy stride, as in the other maintenance cells.
    //
    // The probe batch is PERTURBED per doc (r16, advisor finding: the
    // r15 batch was the base corpus verbatim, which every scaled corpus
    // contains as copy 0 — so with fp = md5(text) every gate survivor
    // died at exact_dedup and the near-dup/span stages probed ~empty
    // frames; the published "probe ~flat" never actually exercised the
    // grown band index). Now one third replays verbatim (the exact-dedup
    // leg measured WITH hits), one third drops its first token (a
    // high-Jaccard near-dup of its copy-0 original — the band-index
    // probe + exact scoring measured with real candidates against the
    // grown index), one third word-suffixes "_b" (novel text — survives
    // to and exercises the span-census probe).
    //
    // r16 also prices the REPLAY-RECLAIM pair the compaction op closes:
    // after admit, the same batch is force-replayed EIGHT more times
    // (duplicate-tolerant appends — an at-least-once worst case; r16
    // used 2 and the bloat never rose above the warm-order noise floor,
    // so probe_bloated read FASTER than probe at every factor and the
    // cell proved nothing — r16 verdict item 4: raise the replay count
    // until the penalty is measurable; 9 copies of the batch's bands
    // multiply the probe's verbatim/near-dup candidate rows ~9x), the
    // probe is re-measured on the bloated state, funnelStateCompact
    // rewrites the four relations distinct, and the probe is measured
    // once more — the claim: probe_compacted returns to probe while
    // compact itself is corpus-sized (the scheduled batch job, like
    // search compaction).
    //
    // r17 closes the lifecycle with RTBF: funnelStateForget of the
    // admitted batch's ids (ONE O(tombstones) ledger append — the claim
    // under measure: ~flat in corpus factor, the O(index) rebuild this
    // op replaces) and probe_forgotten on the tombstoned state (the
    // ledger anti-joins ride the probe — claim: ~probe).
    def funnelMaintCell(f: Int): (Double, Double, Double, Double, Double,
        Double, Double, Double, Long, Long) = {
      val ts = Seq(s"scale_fun_fps_x$f", s"scale_fun_bands_x$f",
        s"scale_fun_sets_x$f", s"scale_fun_spans_x$f")
      try {
        val docs = spark.read.parquet(s"${scaledDir(f)}/documents.parquet")
        val batch = spark.read.parquet(s"$baseDir/documents.parquet")
          .withColumn("doc_id", col("doc_id") + lit(IdStride * 1000))
          .withColumn("text",
            when(col("doc_id") % 3 === 0, col("text"))
              .when(col("doc_id") % 3 === 1,
                regexp_replace(col("text"), lit("^\\S+\\s+"), lit("")))
              .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
                lit("$1_b"))))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .localCheckpoint() // perturbation outside every timing window
        def probeOnce(): Double = {
          val t = System.nanoTime()
          operators.CorpusOps.curationFunnelIncrementalIndexed(spark,
              batch, ts(0), ts(1), ts(2), ts(3))
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t) / 1e9
        }
        // Steady-state probe measure (r17, verdict item 4's order-control
        // half): the FIRST probe against a just-rewritten state pays
        // one-time costs — codegen/JIT on the probe plan, file listing,
        // page-cache fill for the fresh table files — that swamp the
        // band-bloat delta under measure. That order bias is why r16's
        // probe_bloated (always a LATER probe) read FASTER than probe
        // (always the first) at every factor, even at 8 replays. One
        // untimed warm-up probe before every timed one makes all four
        // probe cells steady-state and mutually comparable — which is
        // also the deployed shape: a scheduled incremental pipeline
        // probes continuously, not once-after-rebuild.
        def probeSteady(): Double = { probeOnce(); probeOnce() }
        val trials = (1 to MaintTrials).map { _ =>
          operators.Bucketing.drop(spark, ts :+ (ts(0) + "_dead"): _*)
          val t0 = System.nanoTime()
          operators.CorpusOps.funnelWriteState(docs, ts(0), ts(1), ts(2),
            ts(3))
          val tState = (System.nanoTime() - t0) / 1e9
          val tProbe = probeSteady()
          val t2 = System.nanoTime()
          operators.CorpusOps.funnelStateAppend(batch, ts(0), ts(1),
            ts(2), ts(3))
          val tAdmit = (System.nanoTime() - t2) / 1e9
          // at-least-once torture: the SAME increment replayed 8x more
          (1 to 8).foreach { _ =>
            operators.CorpusOps.funnelStateAppend(batch, ts(0), ts(1),
              ts(2), ts(3))
          }
          val tProbeBloated = probeSteady()
          // What compaction actually buys here is STORAGE, so size it:
          // total rows across the four relations before/after (outside
          // every timing window). Deterministic per factor — the append
          // is a blind dup-tolerant write, so bloat = 9x the batch's
          // relation rows regardless of corpus factor.
          val rowsBloated = ts.map(t => spark.table(t).count()).sum
          val t3 = System.nanoTime()
          operators.CorpusOps.funnelStateCompact(spark, ts(0), ts(1),
            ts(2), ts(3))
          val tCompact = (System.nanoTime() - t3) / 1e9
          val rowsCompacted = ts.map(t => spark.table(t).count()).sum
          val tProbeCompacted = probeSteady()
          // RTBF: tombstone the admitted batch — one ledger append
          val t4 = System.nanoTime()
          operators.CorpusOps.funnelStateForget(spark,
            batch.select("doc_id"), ts(0), ts(1), ts(2), ts(3))
          val tForget = (System.nanoTime() - t4) / 1e9
          (tState, tProbe, tAdmit, tProbeBloated, tCompact,
            tProbeCompacted, tForget, probeSteady(), rowsBloated,
            rowsCompacted)
        }
        (median(trials.map(_._1)), median(trials.map(_._2)),
          median(trials.map(_._3)), median(trials.map(_._4)),
          median(trials.map(_._5)), median(trials.map(_._6)),
          median(trials.map(_._7)), median(trials.map(_._8)),
          trials.head._9, trials.head._10)
      } catch {
        case e: Throwable =>
          maintErrs += (s"x$f:funnel_maintenance" ->
            (s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").take(300)))
          (-1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1.0, -1L, -1L)
      } finally {
        operators.Bucketing.drop(spark, ts :+ (ts(0) + "_dead"): _*)
      }
    }
    val funnelMaint: Seq[(Int, (Double, Double, Double, Double, Double,
        Double, Double, Double, Long, Long))] =
      Factors.map(f => f -> funnelMaintCell(f))

    // ── PQ recall vs ksub (trained codebooks), x10 corpus ──────────────
    // The registered `emb_knn_pq_recall` honestly reports its toy ksub=16
    // number; the pqDecoded scaladoc claims the dial that matters is ksub.
    // Measure the claim where the corpus supports it (x10 = 20k vectors):
    // mean recall@3 over the 8 base probes, brute search in decoded space
    // vs exact ground truth, for a seeded ksub=16 codebook and TRAINED
    // ([[pqFitCodebook]]) codebooks at ksub 16/64/256.
    def pqRecall(): Seq[(String, Double)] = {
      val emb = spark.read.parquet(s"${scaledDir(10)}/embeddings.parquet")
      val truth = operators.Similarity
        .knnBrute(emb, col("vec_id") < 8, k = 3).localCheckpoint()
      def mean(decoded: DataFrame): Double =
        operators.Similarity.recallAtK(
          operators.Similarity.knnBrute(decoded, col("vec_id") < 8, k = 3),
          truth, 3)
          .agg(round(avg(col("recall")), 4)).head.getDouble(0)
      def trained(ksub: Int): DataFrame =
        operators.Similarity.pqDecoded(emb, ksub = ksub,
          codebook = Some(operators.Similarity.pqFitCodebook(emb,
            ksub = ksub)))
      Seq(
        "seeded_k16" -> mean(operators.Similarity.pqDecoded(emb)),
        "trained_k16" -> mean(trained(16)),
        "trained_k64" -> mean(trained(64)),
        "trained_k256" -> mean(trained(256)))
    }
    val pq: Seq[(String, Double)] =
      try pqRecall()
      catch {
        case e: Throwable =>
          maintErrs += ("x10:pq_recall" ->
            (s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").take(300)))
          Seq.empty
      }

    // ── IVF-PQ residual vs raw encoding, x10 corpus (VERDICT r10 #7) ──
    // The question the residual variant exists to answer: at the SAME
    // code budget (m=8, ksub=16) and the same cells/probes, does encoding
    // (v − centroid(cell)) instead of v buy back ADC ranking accuracy?
    // Mean recall@3 over the 8 base probes, seeded AND trained codebooks.
    def ivfPqResidualRecall(): Seq[(String, Double)] = {
      val emb = spark.read.parquet(s"${scaledDir(10)}/embeddings.parquet")
      val truth = operators.Similarity
        .knnBrute(emb, col("vec_id") < 8, k = 3).localCheckpoint()
      val cents = operators.Similarity.ivfSeedCentroids(emb, 16)
      def mean(ann: DataFrame): Double =
        operators.Similarity.recallAtK(ann, truth, 3)
          .agg(round(avg(col("recall")), 4)).head.getDouble(0)
      Seq(
        "raw_seeded_k16" -> mean(operators.Similarity.knnIvfPq(
          emb, col("vec_id") < 8)),
        "raw_trained_k16" -> mean(operators.Similarity.knnIvfPq(
          emb, col("vec_id") < 8,
          codebook = Some(operators.Similarity.pqFitCodebook(emb)))),
        "residual_seeded_k16" -> mean(operators.Similarity.knnIvfPqResidual(
          emb, col("vec_id") < 8)),
        "residual_trained_k16" -> mean(operators.Similarity.knnIvfPqResidual(
          emb, col("vec_id") < 8,
          codebook = Some(operators.Similarity.pqFitCodebookResidual(
            emb, cents)))))
    }
    val pqResidual: Seq[(String, Double)] =
      try ivfPqResidualRecall()
      catch {
        case e: Throwable =>
          maintErrs += ("x10:ivfpq_residual_recall" ->
            (s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").take(300)))
          Seq.empty
      }

    // ── quality-bucket sketch drift, x10 corpus (VERDICT r10 #6) ──────
    // qualityBucketsApprox is the production twin of the exact tertile
    // split; its drift was spec-gated at sf0.01 but never MEASURED at a
    // scale factor. Compare per-bucket doc counts exact-vs-sketch on the
    // x10 corpus; the sketch's rank error is ≤ n/accuracy (1e-4 of the
    // corpus), so count drift beyond ties-at-the-cutoff means a broken
    // twin.
    def qualityDrift(): Seq[(String, String)] = {
      val docs = spark.read.parquet(s"${scaledDir(10)}/documents.parquet")
      def counts(df: DataFrame): Map[String, Long] =
        df.select(col("bucket"), col("n_docs")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = counts(operators.TextAnalysis.qualityBuckets(docs))
      val approx = counts(operators.TextAnalysis.qualityBucketsApprox(docs))
      val n = exact.values.sum.toDouble
      val buckets = (exact.keySet ++ approx.keySet).toSeq.sorted
      val drift = buckets.map(b =>
        math.abs(exact.getOrElse(b, 0L) - approx.getOrElse(b, 0L)) / n).max
      buckets.map(b =>
        b -> s"""{"exact":${exact.getOrElse(b, 0L)},"approx":${
          approx.getOrElse(b, 0L)}}""") ++
        Seq("n_docs" -> n.toLong.toString,
          "max_count_drift_share" ->
            ((math.round(drift * 1e6) / 1e6).toString))
    }
    val qDrift: Seq[(String, String)] =
      try qualityDrift()
      catch {
        case e: Throwable =>
          maintErrs += ("x10:quality_sketch_drift" ->
            (s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").take(300)))
          Seq.empty
      }

    // ── vocabulary-cardinality sketch drift, x10 corpus ───────────────
    // corpus_vocab_coverage's exact distinct-token count is a full
    // shuffle-distinct; the 100 TB production twin is HyperLogLog++
    // (approx_count_distinct, one map-side sketch, no shuffle of tokens).
    // Measure the sketch's relative error against the exact count at two
    // rsd settings so the twin's drift is a number, not a datasheet claim.
    def vocabDrift(): Seq[(String, String)] = {
      val docs = spark.read.parquet(s"${scaledDir(10)}/documents.parquet")
      val toks = docs.select(
        explode(split(col("text"), " ", -1)).as("tok"))
      val row = toks.agg(
        countDistinct(col("tok")).as("exact"),
        approx_count_distinct(col("tok"), 0.05).as("hll_rsd05"),
        approx_count_distinct(col("tok"), 0.01).as("hll_rsd01")).head
      val exact = row.getLong(0)
      def cell(approx: Long) =
        s"""{"approx":$approx,"rel_err":${
          math.round(math.abs(approx - exact) / exact.toDouble * 1e6) / 1e6}}"""
      Seq("exact" -> exact.toString,
        "rsd_0.05" -> cell(row.getLong(1)),
        "rsd_0.01" -> cell(row.getLong(2)))
    }
    val vDrift: Seq[(String, String)] =
      try vocabDrift()
      catch {
        case e: Throwable =>
          maintErrs += ("x10:vocab_hll_drift" ->
            (s"${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").take(300)))
          Seq.empty
      }

    val errs = results.flatMap { case (f, m) =>
      m.collect { case (q, c) if c.err.isDefined => s"x$f:$q" -> c.err.get }
    } ++ maintErrs
    val nErr = errs.size

    val line = obj(Seq(
      "metric" -> jsonStr("scale_stress"),
      "unit" -> jsonStr("sec"),
      "base" -> jsonStr(baseDir),
      "factors" -> Factors.mkString("[", ",", "]"),
      "rows" -> obj(rows.map { case (f, (d, e)) =>
        s"x$f" -> s"""{"documents":$d,"embeddings":$e}""" }),
      "cold" -> perFactor(_.cold),
      "warm" -> perFactor(_.warm),
      "warm_min" -> perFactor(_.warmMin),
      "warm_max" -> perFactor(_.warmMax),
      "warm_ratio" -> ratios,
      "warm_trials" -> WarmTrials.toString,
      "cold_note" -> jsonStr("cold is the single first execution per cell " +
        "in this JVM (planning + codegen included) and cannot be re-trialed; " +
        "machine-wide stalls land in it unguarded. The scale verdict reads " +
        "warm_ratio (median-of-" + WarmTrials + " interleaved passes, " +
        "spread published in warm_min/warm_max)."),
      "maintenance" -> obj(maint.map { case (f, (b, a)) =>
        s"x$f" -> s"""{"rebuild":$b,"append":$a}""" }),
      "maintenance_note" -> jsonStr("near-dup index (bands + shingle " +
        "sets), median-of-" + MaintTrials + " trials: drop+rebuild over " +
        "the x<f> corpus vs appending a constant base-corpus-sized batch " +
        "(nearDupIndexAppend). The claim under measure: rebuild grows " +
        "with the corpus factor, append stays ~flat (O(increment)) — " +
        "that difference is the persisted index's 100 TB upgrade path."),
      "maintenance_ivf" -> obj(ivfMaint.map { case (f, (b, a)) =>
        s"x$f" -> s"""{"rebuild":$b,"append":$a}""" }),
      "maintenance_ivf_note" -> jsonStr("same protocol for the persisted " +
        "cell-bucketed IVF index (ivfWriteIndex vs ivfIndexAppend of a " +
        "base-corpus-sized batch, shared seeded centroids), median-of-" +
        MaintTrials + " trials."),
      "maintenance_ivf_refit" -> obj(ivfRefit.map { case (f, t) =>
        s"x$f" -> t.toString }),
      "maintenance_ivf_refit_note" -> jsonStr("one Lloyd step " +
        "(ivfRefitCentroids) over the x<f> corpus under the seeded " +
        "centroids, median-of-" + MaintTrials + " trials — the batch job " +
        "the drift signal triggers; expected ~linear in f (one " +
        "assignment pass + an index-sized aggregate)."),
      "maintenance_search" -> obj(searchMaint.map { case (f, (c, a)) =>
        s"x$f" -> s"""{"compact":$c,"delta_commit":$a}""" }),
      "maintenance_search_note" -> jsonStr("search-index LSM pair, " +
        "median-of-" + MaintTrials + " trials: full searchWriteIndex " +
        "over the x<f> corpus (compaction — grows with the corpus) vs " +
        "StreamingSearch.applyBatch of a base-corpus-sized delta batch " +
        "(~flat per micro-batch). base+delta ≡ compacted is spec-gated " +
        "bit-identical in SearchIndexSpec."),
      "maintenance_funnel" ->
        obj(funnelMaint.map {
          case (f, (s, p, a, pb, c, pc, fg, pf, rb, rc)) =>
            s"x$f" -> (s"""{"state_build":$s,"probe":$p,"admit":$a""" +
              s""","probe_bloated":$pb,"compact":$c""" +
              s""","probe_compacted":$pc,"forget":$fg""" +
              s""","probe_forgotten":$pf""" +
              s""","rows_bloated":$rb,"rows_compacted":$rc}""") }),
      "maintenance_funnel_note" -> jsonStr("incremental curation-funnel " +
        "lifecycle, median-of-" + MaintTrials + " trials: " +
        "funnelWriteState over the x<f> corpus (grows with the corpus, " +
        "once per version) vs curationFunnelIncrementalIndexed of a " +
        "constant base-corpus-sized batch against the persisted state " +
        "(the per-increment serve — claim: ~flat) vs funnelStateAppend " +
        "of the batch (admission — ~flat, O(increment)). The probe " +
        "batch is perturbed per doc_id%3 (verbatim / first-token-drop " +
        "near-dup / word-suffixed novel) so every stage sees real work " +
        "against the grown state. Every probe cell is STEADY-STATE: one " +
        "untimed warm-up probe runs before each timed one, because the " +
        "first probe after a state rewrite pays one-time costs (codegen, " +
        "file listing, page cache) that swamped the bloat delta and made " +
        "r16's probe_bloated read faster than probe at every factor. " +
        "probe_bloated re-measures the probe " +
        "after the batch is replay-appended 8x more (at-least-once " +
        "torture — 9 band copies multiply the verbatim/near-dup " +
        "candidate rows ~9x; r16's 2 replays never rose above the " +
        "warm-order noise floor). FINDING (r17, measured twice — once " +
        "with 8x replays alone, once with steady-state probes too): " +
        "band/sets duplication does NOT slow this probe shape. The " +
        "probe's cost is dominated by constant per-increment work (the " +
        "four stage plans + their eager checkpoints); and because the " +
        "replayed batch is base-corpus-sized, the relative bloat at " +
        "factor f is 9/f of the corpus rows — 9x at x1 where absolute " +
        "cost is too small to surface it, 9% at x100 where it drowns. " +
        "What compaction buys is STORAGE + bounded rebuild derivatives, " +
        "sized by rows_bloated vs rows_compacted (total rows across the " +
        "four relations before/after; compact restores fresh-build " +
        "counts exactly, spec-pinned in QualityOpsSpec). compact is " +
        "funnelStateCompact's " +
        "distinct-rewrite of the four relations (corpus-sized, the " +
        "scheduled job), probe_compacted is the probe on the reclaimed " +
        "state — claim: back to ~probe. forget is funnelStateForget of " +
        "the admitted batch's ids (ONE tombstone-ledger append — " +
        "claim: ~flat in corpus factor, O(tombstones), vs the " +
        "O(corpus) rebuild it replaces), probe_forgotten the probe on " +
        "the tombstoned state (ledger anti-joins ride it — claim: " +
        "~probe)."),
      "pq_recall_x10" -> obj(pq.map { case (k, v) => k -> v.toString }),
      "pq_recall_note" -> jsonStr("mean recall@3 over the 8 base probes " +
        "on the x10 corpus (20k vectors), brute search in PQ-decoded " +
        "space vs exact ground truth: seeded ksub=16 codebook vs TRAINED " +
        "(pqFitCodebook) codebooks at ksub 16/64/256 — measures the " +
        "scaladoc claim that PQ recall is ksub-dominated."),
      "ivfpq_residual_recall_x10" ->
        obj(pqResidual.map { case (k, v) => k -> v.toString }),
      "ivfpq_residual_recall_note" -> jsonStr("IVF-PQ mean recall@3, " +
        "same cells/probes/code budget (m=8 k16, nlist=16, nprobe=4), " +
        "x10 corpus: raw encoding vs residual (v - centroid(cell)) " +
        "encoding, seeded and trained codebooks — the FAISS-proper " +
        "residual claim, measured."),
      "quality_sketch_x10" ->
        obj(qDrift.map { case (k, v) => k -> v }),
      "quality_sketch_note" -> jsonStr("doc_quality_buckets exact vs " +
        "percentile_approx-twin per-bucket doc counts on the x10 corpus; " +
        "max_count_drift_share is the largest |exact-approx|/n over " +
        "buckets — sketch rank error bounds it near 1e-4 apart from " +
        "ties at the cutoff score."),
      "vocab_hll_x10" -> obj(vDrift.map { case (k, v) => k -> v }),
      "vocab_hll_note" -> jsonStr("distinct whitespace tokens on the x10 " +
        "corpus: exact (shuffle-distinct) vs HyperLogLog++ " +
        "(approx_count_distinct) at rsd 0.05 and 0.01 — the map-only " +
        "production twin's measured relative error."),
      "errors" -> obj(errs.map { case (k, v) => k -> jsonStr(v) }),
      "n_err" -> nErr.toString))
    println(line)
    Files.write(Paths.get(outPath),
      (line + "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
