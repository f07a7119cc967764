package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline over
  * `documents(doc_id, text, …)`. No reference counterpart (SURVEY §2.8
  * north-star).
  *
  * Scale posture: every variant is shuffle-bounded by (doc_id → small
  * signature) maps followed by a groupBy/join on the signature — never an
  * all-pairs cross join. At 100 TB the LSH band join's bucket sizes bound the
  * candidate-pair blowup; the exact variant is a single hash aggregate.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the min doc_id per group.
    * One hash-aggregate; partial aggregation makes the shuffle carry at most
    * one row per (partition, fingerprint). */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dupes"))

  /** What canonicalization buys the exact dedup, measured: duplicate
    * groups/docs under raw md5(text) vs under
    * md5([[TextAnalysis.normalize]]d text) in one row. Case, markup and
    * whitespace variants of one document hash apart raw and together
    * normalized — `extra_dup_docs` is the duplicate mass a pipeline
    * SILENTLY KEEPS if it hashes raw text, read off a query instead of
    * asserted. Two hash aggregates over one corpus scan each; all-integer
    * output. */
  def normDedupDelta(docs: DataFrame): DataFrame = {
    def summarize(grouped: DataFrame, p: String): DataFrame =
      grouped.agg(count(lit(1)).as(s"${p}_groups"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as(s"${p}_dup_groups"),
        sum(when(col("n") > 1, col("n")).otherwise(0L))
          .as(s"${p}_dup_docs"))
    val raw = docs.groupBy(md5(col("text")).as("fp"))
      .agg(count(lit(1)).as("n"))
    val norm = TextAnalysis.normalize(docs)
      .groupBy(md5(col("norm_text")).as("fp"))
      .agg(count(lit(1)).as("n"))
    summarize(raw, "raw").crossJoin(summarize(norm, "norm"))
      .withColumn("extra_dup_docs",
        expr("norm_dup_docs - raw_dup_docs"))
  }

  /** Exact dedup at CHUNK granularity: group [[TextAnalysis.chunk]] windows
    * by fingerprint, keep the lexicographically least (doc_id, chunk_idx)
    * per group — catches boilerplate repeated INSIDE distinct documents
    * (headers, license blocks, navigation) that whole-doc hashing can't see.
    * Same scale shape as [[exact]]: the chunk explode is per-row, then one
    * hash aggregate on the fingerprint; `min` over a (doc_id, chunk_idx)
    * struct is a single partial-agg-friendly accumulator (no window). */
  def chunkDedup(docs: DataFrame, chunkTokens: Int = 64,
                 overlap: Int = 8): DataFrame =
    TextAnalysis.chunk(docs, chunkTokens, overlap)
      .groupBy(col("chunk_fp"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("keep"),
        count(lit(1)).as("n_dupes"))
      .select(col("chunk_fp"),
        col("keep.doc_id").as("keep_doc_id"),
        col("keep.chunk_idx").as("keep_chunk_idx"),
        col("n_dupes"))

  /** Word-level 3-shingles of `text` (docs with <3 tokens are dropped).
    *
    * Formulated as zip_with over shifted slices rather than
    * `transform(sequence(i) -> element_at×3)`: one linear pass, no
    * per-element index arithmetic — ~5× faster in the interpreted
    * higher-order-function path (zip_with pads the shorter side with null;
    * the final slice cuts the padded tail, so results are identical). */
  def shingles(docs: DataFrame): DataFrame = {
    val w = col("words")
    docs
      .withColumn("words", split(col("text"), " ", -1))
      .filter(size(w) >= 3)
      .withColumn("shingle_arr",
        slice(
          zip_with(
            zip_with(w, slice(w, lit(2), greatest(size(w) - 1, lit(0))),
              (x, y) => concat(x, lit(" "), y)),
            slice(w, lit(3), greatest(size(w) - 2, lit(0))),
            (x, y) => concat(x, lit(" "), y)),
          lit(1), greatest(size(w) - 2, lit(0))))
  }

  /** MinHash signatures: for each of `k` seeds, the minimum md5 of
    * `seed + ":" + shingle` over the doc's shingles. Using the hex string
    * ordering as the hash universe keeps the op oracle-expressible and
    * engine-portable; one row per (doc_id, seed).
    *
    * Plan shape: ONE explode of the shingles (no k× row fanout) → k `min`
    * aggregates side by side (partial agg per partition, so the shuffle
    * carries ≤1 row per (doc, partition)) → `stack` unpivots to
    * (doc_id, seed, minhash) rows after the shuffle. */
  def minhash(docs: DataFrame, k: Int = 4): DataFrame =
    minhashOnGrams(shingles(docs)
      .select(col("doc_id"), col("shingle_arr").as("g3")), k)

  /** [[minhash]] over a PRECOMPUTED shingle-array column `g3` (r17): the
    * funnel gate materializes each survivor's word 3-grams once
    * ([[TextAnalysis.wordNgrams]] n=3 builds exactly [[shingles]]'
    * shingle_arr values), so the signature chain explodes that column
    * instead of re-tokenizing text. Docs with an empty array produce no
    * signature rows — exactly where the text form dropped them. */
  private[operators] def minhashOnGrams(grams: DataFrame,
                                        k: Int): DataFrame = {
    val sh = grams.select(col("doc_id"), explode(col("g3")).as("shingle"))
    val aggs = (0 until k).map(i =>
      min(md5(concat(lit(s"$i:"), col("shingle")))).as(s"mh$i"))
    val wide = sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val stackExpr = (0 until k).map(i => s"${i}L, mh$i").mkString(", ")
    wide.select(col("doc_id"),
      expr(s"stack($k, $stackExpr)").as(Seq("seed", "minhash")))
      .select("doc_id", "seed", "minhash")
  }

  /** LSH banding over the minhash signatures: `rowsPerBand` consecutive seeds
    * hash into one band bucket; docs sharing any (band, bucket) become a
    * candidate pair. Returns distinct (doc_a < doc_b) pairs.
    *
    * The self-join is on (band, bucket) — bucket cardinality bounds the
    * join's blowup, so the plan survives scale-up as long as bands are
    * selective (more bands ⇒ higher recall, bigger buckets ⇒ more work). */
  def lshCandidatePairs(sigs: DataFrame, rowsPerBand: Int = 2): DataFrame = {
    // No cache: both sides of the self-join share an IDENTICAL shuffle
    // subtree (explode + hash + exchange), so Catalyst's ReuseExchange rule
    // materializes it once and only the cheap post-shuffle aggregate runs
    // per branch. (A persist() here leaked cached blocks for the session
    // lifetime — callers had no seam to unpersist.)
    val banded = bandTable(sigs, rowsPerBand)
    val a = banded.select(col("doc_id").as("doc_a"), col("band"),
      col("bucket"))
    val b = banded.select(col("doc_id").as("doc_b"), col("band"),
      col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** LSH band table over [[minhash]] signatures: one (doc_id, band, bucket)
    * row per band, where the bucket is the hash of the band's `rowsPerBand`
    * consecutive minhashes. This is the join key space of every LSH dedup
    * variant — and the relation to PERSIST at 100 TB (bucketed by `bucket`
    * alone, as [[nearDupWriteIndex]] does: HashPartitioning(bucket) already
    * satisfies the (band, bucket) equi-join's clustering requirement, and a
    * one-column bucket spec survives `bucketBy`'s single-column hashing)
    * so incremental probes never re-sign the corpus. */
  def bandTable(sigs: DataFrame, rowsPerBand: Int = 2): DataFrame =
    sigs
      .withColumn("band", (col("seed") / rowsPerBand).cast("long"))
      .groupBy("doc_id", "band")
      .agg(md5(array_join(
        transform(array_sort(collect_list(struct(col("seed"),
          col("minhash")))), s => s.getField("minhash")), "|")).as("bucket"))

  /** N-gram Jaccard similarity over blocked pairs: blocks are
    * (lang, source, n_chars bucket) — deterministic, selective blocking;
    * within a block, Jaccard over the distinct 3-shingle sets.
    *
    * Within-block work is quadratic, so `maxBlockDocs` ENFORCES a bound:
    * blocks holding more documents are excluded from pairing entirely (a
    * hot (lang, source) block in a real corpus would otherwise send
    * block²/2 pairs through the join). Oversized blocks are the LSH path's
    * job — score [[lshCandidatePairs]] with [[ngramJaccardOn]] instead,
    * which is candidate-bounded, never all-pairs.
    *
    * `metricName` names the block-guard `observe` node. Spark requires
    * observed-metric names to be UNIQUE within one query, so composing two
    * ngramJaccard invocations into a single query (e.g. a union over two
    * corpora) needs a distinct name per call — the default covers the
    * one-call-per-query case. */
  def ngramJaccard(docs: DataFrame, charBucket: Int = 50,
                   maxBlockDocs: Int = 1000,
                   metricName: String = NgramBlockGuardMetric): DataFrame =
    ngramJaccardRaw(docs, charBucket, maxBlockDocs, metricName)
      .withColumn("jaccard", round(col("jaccard"), 4))

  /** DEFAULT name of the named observation emitted by [[ngramJaccard]]
    * (override per call via its `metricName` parameter when composing
    * several invocations into one query — observation names must be unique
    * per query); metrics:
    * `docs_in_excluded_blocks` (documents silently removed from pairing by
    * the `maxBlockDocs` guard) and `n_excluded_blocks`. Retrieve via a
    * `QueryExecutionListener` (`qe.observedMetrics(NgramBlockGuardMetric)`).
    * At 100 TB a hot (lang, source) block can hold most of a corpus — an
    * operator that silently unpairs it is a data-loss trap, so the exclusion
    * is surfaced on every run. [[dedupPipeline]] (LSH-candidate scoring) is
    * the complete path that covers oversized blocks.
    *
    * Known edge: if EVERY block is oversized, AQE's empty-relation
    * propagation prunes the (empty) census join side — plan, CollectMetrics
    * and all — so no observation fires; the result being empty is the loud
    * signal there. For a pruning-proof audit, [[ngramJaccardExcludedBlocks]]
    * returns the excluded blocks as a first-class DataFrame. */
  val NgramBlockGuardMetric = "ngram_jaccard_block_guard"

  /** The blocks [[ngramJaccard]] EXCLUDES under the same parameters, as a
    * first-class output: (lang, source, len_bucket, n_docs) for every block
    * over `maxBlockDocs`. Run alongside ngramJaccard at scale — its union
    * with the paired blocks is the whole corpus, so "what did the guard
    * drop?" is a query, not a log grep. */
  def ngramJaccardExcludedBlocks(docs: DataFrame, charBucket: Int = 50,
                                 maxBlockDocs: Int = 1000): DataFrame =
    shingles(docs)
      .select(col("doc_id"), col("lang"), col("source"),
        floor(col("n_chars") / charBucket).as("len_bucket"))
      .groupBy("lang", "source", "len_bucket").count()
      .filter(col("count") > maxBlockDocs)
      .select(col("lang"), col("source"), col("len_bucket"),
        col("count").as("n_docs"))

  /** Unrounded variant — thresholding must compare exact values so both
    * engines agree at the boundary. */
  private[operators] def ngramJaccardRaw(
      docs: DataFrame, charBucket: Int, maxBlockDocs: Int = 1000,
      metricName: String = NgramBlockGuardMetric): DataFrame = {
    val sets = shingles(docs).select(
      col("doc_id"), col("lang"), col("source"),
      floor(col("n_chars") / charBucket).as("len_bucket"),
      array_sort(array_distinct(col("shingle_arr"))).as("sset"))
    // block-size guard: the census aggregate prunes to the 3 key columns
    // (no shingle work) and its post-agg output is tiny → broadcast back.
    // The observe node rides the (tiny) census subtree, so the exclusion
    // counters cost one pass over ≤|blocks| rows, not over the corpus.
    val oversized = when(col("count") > maxBlockDocs, col("count"))
    val blockOk = sets.groupBy("lang", "source", "len_bucket").count()
      .observe(metricName,
        coalesce(sum(oversized), lit(0L)).as("docs_in_excluded_blocks"),
        count(oversized).as("n_excluded_blocks"))
      .filter(col("count") <= maxBlockDocs)
      .select("lang", "source", "len_bucket")
    val bounded = sets.join(broadcast(blockOk),
      Seq("lang", "source", "len_bucket"))
    val a = bounded.select(col("doc_id").as("doc_a"), col("lang"),
      col("source"), col("len_bucket"), col("sset").as("set_a"))
    val b = bounded.select(col("doc_id").as("doc_b"), col("lang"),
      col("source"), col("len_bucket"), col("sset").as("set_b"))
    a.join(b, Seq("lang", "source", "len_bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(
        col("doc_a"), col("doc_b"),
        (size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
          (size(col("set_a")) + size(col("set_b")) -
            size(array_intersect(col("set_a"), col("set_b")))))
          .as("jaccard"))
  }

  /** Exact shingle Jaccard scored ONLY on the supplied `pairs`
    * (doc_a, doc_b) — the scale path for near-dup scoring: source pairs
    * from [[lshCandidatePairs]] and the cost is candidate-bounded instead
    * of block-quadratic. Two equi-joins on doc id attach each side's
    * distinct-shingle set. */
  def ngramJaccardOn(docs: DataFrame, pairs: DataFrame): DataFrame =
    jaccardOnPairsRaw(docs, pairs)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard"), 4).as("jaccard"))

  /** Edit-distance CONFIRMATION of candidate pairs — the fuzzy-dedup
    * scoring the shingle-Jaccard family can't give: Levenshtein distance is
    * sensitive to character-level edits (OCR noise, typo farms, template
    * fills) that leave most 3-shingles intact. Scored ONLY on the supplied
    * `pairs` (normally [[lshCandidatePairs]] output), like
    * [[ngramJaccardOn]]: two equi-joins attach each side's text, then
    * per-pair `levenshtein` plus the normalized similarity
    * 1 − lev/max(|a|,|b|), rounded 4dp (two identical empty texts read
    * sim 1.0, not 0/0). Output: (doc_a, doc_b, lev, sim); threshold
    * downstream on the rounded value.
    *
    * Scale shape: candidate-bounded — the corpus is touched only by the
    * two doc-id equi-joins; nothing quadratic in the corpus. The per-PAIR
    * cost is O(|a|·|b|) dynamic programming, so at 100 TB the dial is the
    * LSH band config that bounds |pairs| (and, for long documents, capping
    * compare length or using Spark's thresholded
    * `levenshtein(l, r, threshold)` — constant thresholds only — to
    * early-exit hopeless pairs). */
  def editSimilarityOn(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val lev = levenshtein(col("text_a"), col("text_b")).cast("long")
    val maxLen = greatest(length(col("text_a")), length(col("text_b")))
    pairs
      .join(docs.select(col("doc_id").as("doc_a"),
        col("text").as("text_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"),
        col("text").as("text_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), lev.as("lev"),
        when(maxLen > 0,
          round(lit(1.0) - lev.cast("double") / maxLen.cast("double"), 4))
          .otherwise(lit(1.0)).as("sim"))
  }

  /** Asymmetric shingle CONTAINMENT on candidate pairs — the "doc A lives
    * inside doc B" signal symmetric Jaccard dilutes: a short document
    * quoted whole inside a long one scores |A∩B|/|A∪B| ≈ |A|/|B| (small)
    * but containment_a = |A∩B|/|A| ≈ 1. The quote-expansion/boilerplate-
    * wrapper near-dup class a curation pipeline wants to catch (keep the
    * superstring, drop the contained copy). Scored only on the supplied
    * `pairs` ([[lshCandidatePairs]] output — note banding is driven by
    * full-signature agreement, so sub-Jaccard containment pairs need the
    * band config tuned loose, or candidates from a containment-friendly
    * source). Output: (doc_a, doc_b, containment_a, containment_b), both
    * 4dp; threshold downstream on max(containment_a, containment_b).
    *
    * Scale shape: identical to [[ngramJaccardOn]] — two doc-id equi-joins
    * attach the distinct-shingle sets, cost candidate-bounded. */
  def containmentOn(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val sets = shingleSets(docs)
    val inter = size(array_intersect(col("set_a"), col("set_b")))
    pairs
      .join(sets.select(col("doc_id").as("doc_a"),
        col("sset").as("set_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"),
        col("sset").as("set_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(inter.cast("double") / size(col("set_a")), 4)
          .as("containment_a"),
        round(inter.cast("double") / size(col("set_b")), 4)
          .as("containment_b"))
  }

  /** [[containmentOn]] resolved into a DEDUP: for every candidate pair
    * where either side's containment reaches `threshold`, drop the
    * CONTAINED document — the side with the HIGHER containment has the
    * smaller shingle set, i.e. it is the copy living inside the other
    * (keep the superstring, the standard wrapper/quote-dedup rule). A
    * mutual-containment tie (near-identical pair) falls back to the
    * keep-min-doc_id rule every other dedup here uses. Thresholding
    * compares the 4dp-rounded scores ([[containmentOn]]'s contract), so
    * the drop set is engine-portable. Returns the KEPT doc ids.
    *
    * Scale shape: [[containmentOn]]'s candidate-bounded joins, then an
    * anti-join whose right side is the (small) drop list. */
  def containmentDedup(docs: DataFrame, pairs: DataFrame,
                       threshold: Double = 0.9): DataFrame = {
    val scored = containmentOn(docs, pairs)
    val ca = col("containment_a"); val cb = col("containment_b")
    val drops = scored
      .filter(greatest(ca, cb) >= threshold)
      .select(when(ca > cb, col("doc_a"))
        .when(cb > ca, col("doc_b"))
        .otherwise(greatest(col("doc_a"), col("doc_b"))).as("drop_id"))
      .distinct()
    docs.join(drops, col("doc_id") === col("drop_id"), "left_anti")
      .select(col("doc_id"))
  }

  /** Unrounded [[ngramJaccardOn]] — thresholding compares exact values. */
  private def jaccardOnPairsRaw(docs: DataFrame,
                                pairs: DataFrame): DataFrame =
    jaccardAcross(docs, docs, pairs)

  /** (doc_id, sset) — each doc's sorted distinct 3-shingle set, the
    * scoring-side relation of every exact-Jaccard variant. */
  private[operators] def shingleSets(d: DataFrame): DataFrame =
    shingles(d).select(col("doc_id"),
      array_sort(array_distinct(col("shingle_arr"))).as("sset"))

  /** Exact Jaccard over two pre-built [[shingleSets]] relations on `pairs`
    * (doc_a from `setsA`, doc_b from `setsB`); candidate-bounded via the
    * inner joins. */
  private def jaccardOnSets(setsA: DataFrame, setsB: DataFrame,
                            pairs: DataFrame): DataFrame = {
    val inter = size(array_intersect(col("set_a"), col("set_b")))
    pairs
      .join(setsA.select(col("doc_id").as("doc_a"),
        col("sset").as("set_a")), "doc_a")
      .join(setsB.select(col("doc_id").as("doc_b"),
        col("sset").as("set_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (inter.cast("double") /
          (size(col("set_a")) + size(col("set_b")) - inter)).as("jaccard"))
  }

  /** Exact shingle Jaccard on `pairs` (doc_a from `docsA`, doc_b from
    * `docsB`) — the two-frame generalization [[incrementalNearDedup]]
    * needs; both sides' shingle work survives only through the inner joins,
    * so cost is candidate-bounded. */
  private def jaccardAcross(docsA: DataFrame, docsB: DataFrame,
                            pairs: DataFrame): DataFrame =
    jaccardOnSets(shingleSets(docsA), shingleSets(docsB), pairs)

  /** Incremental NEAR-duplicate dedup — the LSH sibling of the bloom-exact
    * [[incrementalDedup]], closing the incremental story: drop new-batch
    * documents whose exact shingle Jaccard against ANY known-corpus
    * document reaches `jaccardThreshold`, where candidates come from a
    * cross-frame band join (batch bands probe corpus bands) instead of a
    * corpus self-join — today's crawl near-dedups against the 100 TB corpus
    * WITHOUT re-running corpus-wide LSH. Identical text is a 1.0-Jaccard
    * candidate by construction, so exact dups fall out too (docs under 3
    * tokens carry no signature — route those through [[incrementalDedup]]).
    *
    * Scale shape: the batch side's signature chain is increment-sized; the
    * corpus side is one signature pass at bench scale and a PERSISTED
    * (band, bucket)-bucketed [[bandTable]] in production (build it with
    * one `bucketBy((band, bucket)).saveAsTable` job per corpus version,
    * like the IVF index) — then the probe join is co-located against the
    * index with no corpus-side exchange. Scoring joins prune to candidate
    * docs via the inner joins; the final anti-join's right side is the
    * (small) drop list. */
  def incrementalNearDedup(newDocs: DataFrame, knownDocs: DataFrame,
                           jaccardThreshold: Double = 0.8,
                           minhashK: Int = 4,
                           rowsPerBand: Int = 2): DataFrame =
    nearDedupProbe(newDocs,
      bandTable(minhash(knownDocs, minhashK), rowsPerBand),
      shingleSets(knownDocs), jaccardThreshold, minhashK, rowsPerBand)

  /** Build the PERSISTED near-dup probe index for a corpus version — the
    * production path the inline [[incrementalNearDedup]] scaladoc names:
    * the LSH band table saved bucketed by `bucket` (probe joins then
    * co-locate against the stored layout — bucket determines band content,
    * so hash(bucket) clusters the (band, bucket) join keys) and the
    * distinct-shingle sets saved bucketed by `doc_id` for the exact-scoring
    * join. ONE signature pass over the corpus per version, amortized over
    * every subsequent increment, vs re-signing 100 TB per probe. Space
    * tradeoff, stated: the sets table is corpus-shingle-sized — the index
    * trades storage for zero per-probe recompute (the alternative, re-
    * reading raw docs to score candidates, re-pays tokenize+shingle per
    * probe). EAGER: runs the two write jobs at call time; rebuild once per
    * corpus version, like `Similarity.ivfWriteIndex`. */
  def nearDupWriteIndex(docs: DataFrame, bandsTable: String,
                        setsTable: String, minhashK: Int = 4,
                        rowsPerBand: Int = 2, buckets: Int = 32): Unit = {
    Bucketing.writeBucketed(bandTable(minhash(docs, minhashK), rowsPerBand),
      bandsTable, "bucket", buckets)
    Bucketing.writeBucketed(shingleSets(docs), setsTable, "doc_id", buckets)
    // The banding geometry lives ON the index: every probe and append
    // re-bands with it ([[bandParams]]), so no caller can re-band with a
    // geometry that matches nothing.
    Bucketing.setTableParams(docs.sparkSession, bandsTable, Map(
      "minhash_k" -> minhashK.toString,
      "rows_per_band" -> rowsPerBand.toString))
  }

  /** The banding geometry (minhashK, rowsPerBand) recorded on a
    * [[nearDupWriteIndex]] band table — what every probe and append of
    * the index re-bands with. */
  private[graft] def bandParams(spark: org.apache.spark.sql.SparkSession,
                                bandsTable: String): (Int, Int) = {
    def param(key: String): Int =
      Bucketing.tableParam(spark, bandsTable, key, "nearDupWriteIndex").toInt
    (param("minhash_k"), param("rows_per_band"))
  }

  /** FORGET — remove documents from the persisted near-dup index: the
    * text half of the compliance step [[Multimodal.mediaIndexForget]]
    * closes for the sketch indexes. After a takedown the corpus store
    * drops the removed docs' rows, but the band/sets relations still
    * carry their signatures — later probes keep matching ghosts, and the
    * shingle sets literally CONTAIN the removed text (for RTBF they must
    * go, not just stop matching). One anti-join [[Bucketing.rewrite]] per
    * relation against the tombstone ids, bucket layouts and the banding
    * sidecar preserved. Index-sized, never a corpus re-shingle; batch
    * removals to the compaction cadence. Round-trip spec: build(A ∪ B)
    * then forget(B) equals build(A) row-for-row, and a probe that
    * near-duplicates ONLY a forgotten doc survives afterwards.
    *
    * The funnel's CONTENT-keyed relations (fp universe, span census)
    * forget through [[graft.operators.CorpusOps.funnelStateForget]]'s
    * tombstone ledger (r17): both relations are doc-attributed, probes
    * anti-join the ledger (a shared fp keeps matching through its
    * surviving holder), and the next
    * [[graft.operators.CorpusOps.funnelStateCompact]] physically purges
    * the retired rows — O(tombstones) to forget, no corpus rebuild. */
  def nearDupIndexForget(spark: org.apache.spark.sql.SparkSession,
                         bandsTable: String, setsTable: String,
                         tombstoneIds: DataFrame): Unit = {
    val ids = tombstoneIds.select("doc_id")
    Seq(bandsTable, setsTable).foreach(t =>
      Bucketing.rewrite(spark, t)(_.join(ids, Seq("doc_id"), "left_anti")))
  }

  /** [[incrementalNearDedup]] against a PERSISTED index
    * ([[nearDupWriteIndex]] output) — query-time work is the increment's
    * own signature chain plus two joins against stored relations; the
    * corpus is not touched. The increment is banded with the geometry
    * the index was built with ([[bandParams]]), so the result equals the
    * inline variant under the build's parameters (the chain is
    * deterministic). */
  def incrementalNearDedupIndexed(spark: org.apache.spark.sql.SparkSession,
                                  newDocs: DataFrame, bandsTable: String,
                                  setsTable: String,
                                  jaccardThreshold: Double = 0.8)
      : DataFrame = {
    val (minhashK, rowsPerBand) = bandParams(spark, bandsTable)
    nearDedupProbe(newDocs, spark.table(bandsTable), spark.table(setsTable),
      jaccardThreshold, minhashK, rowsPerBand)
  }

  /** Probe stage shared by the inline and indexed near-dedup variants:
    * batch bands join known bands (band, bucket) → candidates; exact
    * Jaccard on candidates via the known-side shingle sets; anti-join the
    * drop list. */
  private[operators] def nearDedupProbe(newDocs: DataFrame,
                             knownBands: DataFrame,
                             knownSets: DataFrame, jaccardThreshold: Double,
                             minhashK: Int, rowsPerBand: Int): DataFrame =
    nearDedupProbeKeep(newDocs, knownBands, knownSets, jaccardThreshold,
      minhashK, rowsPerBand)
      .select("doc_id", "lang", "source")

  /** [[nearDedupProbe]] WITHOUT the output projection — the survivor rows
    * keep every `newDocs` column (r17: the incremental funnel reads the
    * survivors directly instead of projecting ids and joining them back
    * onto the stage frame). */
  private[operators] def nearDedupProbeKeep(newDocs: DataFrame,
                             knownBands: DataFrame,
                             knownSets: DataFrame, jaccardThreshold: Double,
                             minhashK: Int, rowsPerBand: Int): DataFrame = {
    val bNew = bandTable(minhash(newDocs, minhashK), rowsPerBand)
      .select(col("doc_id").as("doc_a"), col("band"), col("bucket"))
    val bKnown = knownBands
      .select(col("doc_id").as("doc_b"), col("band"), col("bucket"))
    val cands = bNew.join(bKnown, Seq("band", "bucket"))
      .select("doc_a", "doc_b").distinct()
    val drops = jaccardOnSets(shingleSets(newDocs), knownSets, cands)
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("doc_a").as("drop_id")).distinct()
    newDocs.join(drops, col("doc_id") === col("drop_id"), "left_anti")
  }

  /** The user-facing dedup endpoint: drop exact duplicates (keep min
    * doc_id) and near-duplicates, return the surviving documents.
    *
    * Near-dup candidate generation is MinHash-LSH banding
    * ([[lshCandidatePairs]]): bucket-bounded, never all-pairs — the blocked
    * Jaccard variant ([[ngramJaccard]]) degrades to O(block²) when one
    * (lang, source) block dominates a real corpus. Exact shingle Jaccard is
    * then computed ONLY on candidate pairs, and the larger doc_id of each
    * pair with jaccard ≥ threshold is dropped. Final anti-join against the
    * small drop-list — the corpus itself is scanned once and never
    * shuffled. */
  def dedupPipeline(docs: DataFrame, jaccardThreshold: Double = 0.8,
                    minhashK: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    val drops = exactDrops(docs)
      .unionByName(nearDrops(docs, jaccardThreshold, minhashK, rowsPerBand))
      .distinct()
    docs.join(drops, docs("doc_id") === drops("drop_id"), "left_anti")
      .select("doc_id", "lang", "source")
  }

  /** doc_ids losing to a smaller exact duplicate (may repeat a drop_id). */
  private def exactDrops(docs: DataFrame): DataFrame =
    exactDropsOnFp(docs.select(col("doc_id"), md5(col("text")).as("fp")))

  /** [[exactDrops]] over a PRECOMPUTED `(doc_id, fp)` frame (r17 funnel
    * form — fp = md5(text) at every call site, value-identical). */
  private[operators] def exactDropsOnFp(fps: DataFrame): DataFrame =
    fps.as("a")
      .join(fps.as("b"), col("a.fp") === col("b.fp") &&
        col("b.doc_id") < col("a.doc_id"))
      .select(col("a.doc_id").as("drop_id"))

  /** doc_ids losing a near-dup candidate pairing (may repeat a drop_id). */
  private def nearDrops(docs: DataFrame, jaccardThreshold: Double,
                        minhashK: Int, rowsPerBand: Int): DataFrame =
    jaccardOnPairsRaw(docs,
      lshCandidatePairs(minhash(docs, minhashK), rowsPerBand))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("doc_b").as("drop_id"))

  /** [[nearDrops]] over a PRECOMPUTED 3-gram column (r17 funnel form):
    * `grams` = (doc_id, g3) where g3 carries [[shingles]]' values —
    * signatures and exact-Jaccard sets both read the materialized array,
    * never re-tokenizing text. Empty-array docs have no signature rows
    * (so no candidates) and their empty sset never joins a pair —
    * row-for-row the text form's behavior. */
  private[operators] def nearDropsOnGrams(grams: DataFrame,
      jaccardThreshold: Double, minhashK: Int,
      rowsPerBand: Int): DataFrame = {
    val sets = grams.select(col("doc_id"),
      array_sort(array_distinct(col("g3"))).as("sset"))
    jaccardOnSets(sets, sets,
      lshCandidatePairs(minhashOnGrams(grams, minhashK), rowsPerBand))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("doc_b").as("drop_id"))
  }

  /** One-row effectiveness summary of [[dedupPipeline]] under the same
    * parameters — the number a pipeline owner actually watches per corpus
    * drop: documents in, exact-dup drops, near-dup drops (a doc can be
    * both; the union is what [[dedupPipeline]] removes), survivors. All
    * four aggregates are single-row and broadcast-joined; the heavy lifting
    * is the same LSH-candidate chain the pipeline itself runs. */
  def dedupReport(docs: DataFrame, jaccardThreshold: Double = 0.8,
                  minhashK: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    val exact = exactDrops(docs).distinct()
    val near = nearDrops(docs, jaccardThreshold, minhashK, rowsPerBand)
      .distinct()
    val dropped = exact.unionByName(near).distinct()
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(exact.agg(count(lit(1)).as("n_exact_dropped"))))
      .crossJoin(broadcast(near.agg(count(lit(1)).as("n_near_dropped"))))
      .crossJoin(broadcast(dropped.agg(count(lit(1)).as("n_dropped"))))
      .select(col("n_docs"), col("n_exact_dropped"), col("n_near_dropped"),
        col("n_dropped"), (col("n_docs") - col("n_dropped")).as("n_kept"))
  }

  /** Per-SOURCE effectiveness breakdown of [[dedupPipeline]] under the same
    * parameters — which feeds are duplicate-heavy is the first question a
    * pipeline owner asks of the one-row [[dedupReport]] total (a crawl dump
    * at 40% dupes and a curated set at 0% average into a useless 20%).
    * The drop list (small by construction) is LEFT-joined back onto the
    * corpus — AQE broadcasts it — then one groupBy(source): the corpus is
    * scanned once and shuffled only on the ≤|sources| aggregate keys. */
  def dedupBySource(docs: DataFrame, jaccardThreshold: Double = 0.8,
                    minhashK: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    val dropped = exactDrops(docs)
      .unionByName(nearDrops(docs, jaccardThreshold, minhashK, rowsPerBand))
      .distinct()
    docs.join(dropped, docs("doc_id") === dropped("drop_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), count(col("drop_id")).as("n_dropped"))
      .select(col("source"), col("n_docs"), col("n_dropped"),
        (col("n_docs") - col("n_dropped")).as("n_kept"),
        round(col("n_dropped").cast("double") / col("n_docs"), 4)
          .as("drop_rate"))
  }

  /** Connected-component clustering of the near-duplicate graph: edges are
    * LSH candidate pairs ([[lshCandidatePairs]]) whose exact shingle Jaccard
    * meets `jaccardThreshold`; each document in the graph is labeled with the
    * smallest doc_id reachable from it (its cluster id). Documents with no
    * near-dup edge do not appear — they are their own singleton clusters.
    *
    * Why this exists alongside [[dedupPipeline]]: pairwise larger-id dropping
    * is NOT transitive-closure dedup. On the path graph 1–3–2 (edges (1,3)
    * and (2,3)) the pairwise rule drops only 3 and keeps BOTH 1 and 2, while
    * cluster-aware dedup keeps exactly one document per component — the
    * semantics a production corpus-dedup actually wants (near-dup chains are
    * common: v1≈v2≈v3 of the same page where v1 and v3 differ too much to
    * pair directly).
    *
    * Algorithm: iterative min-label propagation (each round every vertex
    * takes the min of its own and its neighbors' labels) PLUS a
    * pointer-jumping shortcut (`shortcut=true`, the default): after the
    * neighbor min, every vertex also adopts its label's label —
    * comp(v) ← min(comp(v), comp(comp(v))). Labels are always vertex ids
    * (each label is the min id seen so far, and ids are vertices), so the
    * lookup is one more equi-join of the label table with itself; with it
    * the distance a label travels DOUBLES per round, so a component of
    * diameter d converges in O(log d) rounds instead of O(d) — the
    * difference between 4 rounds and 50 on an adversarial version-chain at
    * 100 TB, where every round is a full pass over the edge list. The
    * fixpoint (min reachable id per vertex) is algorithm-independent, so
    * results are bit-identical with the shortcut on or off (spec-asserted
    * on a 24-deep chain). Each round is two equi-joins + one aggregate on
    * the edge/label tables, never anything quadratic. The edge list and
    * each round's labels are `localCheckpoint`ed: the loop is
    * driver-controlled, so without truncation iteration k would replay all
    * k-1 prior rounds and the plan would grow unboundedly. Checkpoint
    * blocks are reclaimed by the ContextCleaner once unreferenced
    * (GC-based — bounded, unlike a session-lifetime persist).
    *
    * EAGER: runs Spark jobs at call time (checkpoints + one convergence
    * check per round), like the IVF index build. Throws if `maxIters` rounds
    * do not converge — a loud failure instead of silently-unconverged
    * clusters. */
  def dupClusters(docs: DataFrame, jaccardThreshold: Double = 0.8,
                  minhashK: Int = 4, rowsPerBand: Int = 2,
                  maxIters: Int = 50, shortcut: Boolean = true): DataFrame =
    clustersFromEdges(jaccardOnPairsRaw(docs,
      lshCandidatePairs(minhash(docs, minhashK), rowsPerBand))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("doc_a"), col("doc_b")), maxIters, shortcut)

  /** EXACT near-dup connected components: the [[dupClusters]] label
    * propagation over [[setSimJoin]]'s COMPLETE edge set instead of the
    * LSH-candidate edges. LSH banding can drop a true ≥τ edge (a recall
    * property, not a bug), and a dropped edge can SPLIT a component —
    * for takedown propagation or license contagion that split is a
    * compliance miss. This variant pays the prefix-filter join for a
    * completeness proof; same output contract as dupClusters. */
  def setSimClusters(docs: DataFrame, tauNum: Int = 4, tauDen: Int = 5,
                     maxIters: Int = 50): DataFrame =
    clustersFromEdges(
      setSimJoin(docs, tauNum, tauDen).select("doc_a", "doc_b"), maxIters)

  /** The label-propagation core shared by the LSH and exact cluster
    * variants — min-label flooding with the pointer-jump shortcut,
    * localCheckpoint per round (contract notes on [[dupClusters]]). */
  def clustersFromEdges(edges: DataFrame, maxIters: Int = 50,
                        shortcut: Boolean = true): DataFrame = {
    // undirected neighbor list, materialized ONCE — every round re-reads it
    val nbr = edges.unionByName(
      edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .localCheckpoint()
    // r18: initialize each vertex's label to min(own id, min neighbor)
    // — exactly what round 1's propagate would compute — so the loop
    // starts one round further along (one checkpoint + one convergence
    // job fewer per query; the fixpoint — min reachable id — is
    // init-independent for any start with final ≤ comp(v) ≤ v,
    // spec-held).
    // lazy: the init labels materialize inside round 1's checkpoint job
    // instead of paying their own job boundary (both round-1 readers see
    // the one materialized copy).
    var comp = nbr.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("comp"))
      .localCheckpoint(eager = false)
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      // each edge forwards its source's current label to its destination;
      // a vertex keeps the min of its own and all incoming labels. The
      // vertex's OWN previous label rides along (`prev` — non-null on
      // exactly its own comp row, max() picks it out of the group), so
      // the convergence check below reads a materialized column instead
      // of paying a (next ⋈ comp) shuffle join per round (r17: one
      // exchange fewer per iteration, and the check itself is an
      // exchange-free scan of local checkpoint blocks).
      val msgs = nbr.join(comp.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("comp"),
          lit(null).cast(comp.schema("comp").dataType).as("prev"))
      val propagated = comp.select(col("id"), col("comp"),
          col("comp").as("prev"))
        .unionByName(msgs)
        .groupBy("id").agg(min(col("comp")).as("comp"),
          max(col("prev")).as("prev"))
      val next = (if (!shortcut) propagated
        else {
          // pointer jump: follow the label one hop — comp(comp(v)) — and
          // keep the min. Left join because a label's own row can lag a
          // round behind; coalesce keeps the current label then.
          val byId = propagated
            .select(col("id").as("cid"), col("comp").as("ccomp"))
          propagated.join(byId, col("comp") === col("cid"), "left")
            .select(col("id"),
              least(col("comp"), coalesce(col("ccomp"), col("comp")))
                .as("comp"), col("prev"))
        }).localCheckpoint()
      converged = next.filter(col("comp") < col("prev")).isEmpty
      comp = next.select("id", "comp")
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"clustersFromEdges: no fixpoint after $maxIters rounds — component " +
          "diameter exceeds the bound; raise maxIters")
    comp.select(col("id").as("doc_id"), col("comp").as("cluster_id"))
  }

  /** PageRank over the near-duplicate candidate graph — link analysis as
    * a CENTRALITY signal on the same graph [[dupClusters]] partitions: a
    * doc's rank measures how embedded it is in a template/boilerplate
    * neighborhood (hub pages, mirrored chains score high; an isolated doc
    * stays at the (1−d) baseline), the prioritization signal for manual
    * dedup review and for down-weighting template farms in sampling.
    *
    * The iteration is the textbook power method with damping d = 0.85,
    * run ENTIRELY in integer micro-units so it is engine-portable with no
    * rounding contract at all: pr₀ = 10⁶ per node; per round
    * pr(v) = 150000 + Σ_{u→v} (85·pr(u)) DIV (100·deg(u)) — every term
    * exact integer arithmetic, the oracle unrolls the same `iterations`
    * rounds in chained CTEs. (Per-node normalization — total mass is
    * N·10⁶, not 1 — which leaves ranking and convergence untouched.)
    *
    * Scale shape: edges are CANDIDATE-bounded (the LSH banding, never
    * all-pairs); each round is one edge-keyed join carrying (pr, deg) +
    * one destination-keyed aggregate + one left join back onto the node
    * frame, localCheckpoint between rounds like [[dupClusters]]. At
    * 100 TB the per-round cost is O(edges) with the node frame joined on
    * its key — the same shape GraphX's Pregel emits per superstep. */
  def pageRank(docs: DataFrame, iterations: Int = 3,
               minhashK: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    require(iterations >= 1, "need at least one power-method round")
    val pairs = lshCandidatePairs(minhash(docs, minhashK), rowsPerBand)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"),
        col("doc_a").as("dst")))
      .localCheckpoint(eager = false)
    // r18 (guide §2.4): deg is read by every round AND the final join,
    // nodes by every round — checkpoint each once instead of re-running
    // the edge aggregate / the corpus id scan per iteration.
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = false)
    val nodes = docs.select(col("doc_id")).localCheckpoint(eager = false)
    var pr = nodes.withColumn("pr", lit(1000000L))
    for (_ <- 1 to iterations) {
      val contrib = edges
        .join(pr.select(col("doc_id").as("src"), col("pr")), "src")
        .join(deg, "src")
        .select(col("dst").as("doc_id"),
          expr("(85 * pr) DIV (100 * deg)").as("c"))
        .groupBy("doc_id").agg(sum(col("c")).as("in_sum"))
      pr = nodes.join(contrib, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit(150000L) + coalesce(col("in_sum"), lit(0L))).as("pr"))
        .localCheckpoint(eager = false)
    }
    pr.join(deg.select(col("src").as("doc_id"), col("deg")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("deg"), lit(0L)).as("degree"),
        col("pr").as("pr_micro"))
  }

  /** Representative selection per near-dup cluster — the step after
    * [[dupClusters]] in a real curation run: of each cluster's members,
    * KEEP the longest document (max token count, ties → lower doc_id — the
    * standard keep-longest-duplicate heuristic) and report cluster size.
    * One equi-join of the (small) cluster membership against per-doc token
    * counts + one aggregate; `max` over a (n_tokens, −doc_id) struct is a
    * single partial-agg-friendly accumulator, no window over the corpus.
    * EAGER via [[dupClusters]] (label propagation runs at call time). */
  def clusterBest(docs: DataFrame, jaccardThreshold: Double = 0.8): DataFrame = {
    val toks = docs.select(col("doc_id"),
      size(split(col("text"), " ", -1)).cast("long").as("n_tokens"))
    dupClusters(docs, jaccardThreshold).join(toks, "doc_id")
      .groupBy("cluster_id")
      .agg(
        max(struct(col("n_tokens"), (-col("doc_id")).as("neg_id")))
          .as("best"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"),
        (-col("best.neg_id")).as("best_doc_id"),
        col("best.n_tokens").as("best_n_tokens"),
        col("n_members"))
  }

  /** N-gram duplication histogram: how many distinct 3-shingles occur
    * exactly `n_occurrences` times corpus-wide. THE summary statistic for
    * duplication density (the "how much of my corpus is repeated text"
    * number a data team reads before deciding whether near-dedup is worth
    * its cost — a heavy tail here means yes). Occurrences count every
    * appearance, including repeats within one document, matching how
    * duplicated text inflates training loss.
    *
    * Plan shape: one explode → two hash aggregates (shingle counts, then the
    * histogram). Both are partial-aggregated map-side, so the first shuffle
    * carries ≤1 row per (partition, shingle) and the second ≤1 row per
    * (partition, count value) — the histogram's key space is tiny. One
    * corpus scan; scales like [[exact]]. */
  def ngramFrequencyHist(docs: DataFrame): DataFrame =
    shingles(docs)
      .select(explode(col("shingle_arr")).as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("n_occurrences"))
      .groupBy("n_occurrences").agg(count(lit(1)).as("n_grams"))

  /** One-row duplication summary: of all 3-shingle occurrences corpus-wide,
    * how many are REPEAT occurrences (beyond each distinct shingle's first)
    * — `dup_share` is the headline "what fraction of my text is repeated"
    * number, the scalar [[ngramFrequencyHist]] is the distribution of.
    * Same chain (explode → shingle-count aggregate) folded to one row;
    * scales identically. */
  def dupTokenShare(docs: DataFrame): DataFrame =
    shingles(docs)
      .select(explode(col("shingle_arr")).as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("cnt"))
      .agg(sum(col("cnt")).as("n_shingles"),
        count(lit(1)).as("n_distinct"))
      .select(col("n_shingles"), col("n_distinct"),
        round((col("n_shingles") - col("n_distinct")).cast("double")
          / col("n_shingles"), 4).as("dup_share"))

  /** Cross-source contamination matrix: for every pair of sources, the
    * number of distinct 3-shingles they share — the report that tells a
    * pipeline owner which corpus components overlap (a mirrored crawl, a
    * re-scraped dump) before mixing weights are chosen.
    *
    * Plan shape — deliberately NOT a self-join on shingle: the shingle →
    * sorted-distinct-source-set aggregate runs first (collect_set is bounded
    * by |sources|, a config-sized constant), then the ≤C(|sources|,2) pairs
    * per shingle are expanded per-row with array HOFs and re-aggregated.
    * That keeps the plan at two hash aggregates + a bounded per-row flatMap
    * — no join at all, so there is no bucket-skew blowup to mitigate: a
    * stop-word shingle present in every source costs C(|sources|,2) rows,
    * not |docs|² pairs. */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val srcSets = shingles(docs)
      .select(col("source"), explode(col("shingle_arr")).as("shingle"))
      .groupBy("shingle")
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) >= 2)
    val pairs = srcSets.select(explode(
      flatten(transform(col("srcs"), (x, i) =>
        transform(
          slice(col("srcs"), i + lit(2), size(col("srcs"))),
          y => struct(x.as("source_a"), y.as("source_b")))))).as("p"))
    pairs.groupBy(col("p.source_a").as("source_a"),
        col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("shared_grams"))
  }

  /** Incremental (new-batch vs known-corpus) exact dedup with a BLOOM
    * runtime pre-filter — the production shape for "drop today's crawl docs
    * we already have" when the known corpus dwarfs the increment.
    *
    * The naive formulation anti-joins the batch against the corpus, which
    * shuffles (or at best scans-and-broadcasts) ALL known fingerprints.
    * Instead this borrows Spark's own `InjectRuntimeFilter` pattern,
    * explicitly: a bloom sketch is aggregated over the NEW batch's
    * fingerprints (bounded by the increment, not the corpus) and planted in
    * the corpus scan as a scalar subquery, so the corpus pays one map-only
    * codegen'd `might_contain` probe per row and emits only fingerprints
    * that MIGHT collide with the batch — a relation bounded by
    * |batch| + false positives. The exact anti-join against those survivors
    * (AQE broadcasts them) then removes bloom false positives, so the
    * result is EXACTLY `newDocs` minus fingerprints present in
    * `knownDocs` — the bloom changes the plan, never the answer (false
    * negatives are impossible). The corpus is scanned once and never
    * shuffled; nothing here is driver-collected (the sketch rides a lazy
    * scalar subquery, like Spark's own runtime filters).
    *
    * Size the sketch for the INCREMENT: `estimatedItems` ≈ batch rows,
    * `numBits` ≈ 10× that for ~1% false positives (each FP costs one extra
    * row through the confirm join, nothing more). Ceilings: Spark's
    * BloomFilterAggregate rejects `estimatedItems` / `numBits` above
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` /
    * `.maxNumBits` (defaults 4M items / 64M bits) at analysis time — a
    * billion-row increment needs those confs raised alongside the
    * arguments, or the batch split into sub-increments.
    *
    * `fp` is the dedup key as an expression over a document row — default
    * full-content md5 (exact dedup); pass a looser key (normalized text, a
    * URL, a prefix hash) to dedup by that instead. */
  def incrementalDedup(newDocs: DataFrame, knownDocs: DataFrame,
                       fp: Column = md5(col("text")),
                       estimatedItems: Long = 1L << 20,
                       numBits: Long = 1L << 23): DataFrame =
    bloomAntiJoinFp(newDocs.withColumn("fp", fp),
      knownDocs.select(fp.as("fp")), estimatedItems, numBits)
      .select("doc_id", "lang", "source")

  /** The bloom-prefiltered anti-join at the heart of [[incrementalDedup]],
    * reusable wherever a SMALL keyed batch subtracts a HUGE key set (the
    * streaming fp-store compaction probe is the other caller): rows of
    * `batch` (must carry an `fp` column) minus those whose fp appears in
    * `knownFps` ("fp" column). The bloom is aggregated over the batch and
    * rides a lazy scalar subquery into the known-side scan as a map-only
    * `might_contain` filter; the exact anti-join against the (bounded)
    * survivors removes false positives, so the result is exactly the plain
    * anti-join's. An EMPTY batch yields a null sketch, `might_contain`
    * evaluates null, the filter keeps nothing — correct degenerate case.
    *
    * `batch`'s plan is evaluated TWICE — once under the bloom aggregate's
    * scalar subquery and once as the anti-join probe side — so it must be
    * DETERMINISTIC (no `rand()`-derived fp, no re-read of mutating input):
    * a batch whose two evaluations disagree can build a sketch missing
    * probe-side fps, and a known duplicate would survive. Callers with a
    * non-deterministic upstream should `.persist()` or `.localCheckpoint()`
    * the batch first (the streaming fp-store caller persists for delivery
    * anyway; micro-batch sources are replay-stable by contract). */
  def bloomAntiJoinFp(batch: DataFrame, knownFps: DataFrame,
                      estimatedItems: Long = 1L << 20,
                      numBits: Long = 1L << 23): DataFrame = {
    import org.apache.spark.sql.GraftShims
    val bloomDf = batch.agg(
      GraftShims.bloomFilterAgg(xxhash64(col("fp")), estimatedItems, numBits)
        .as("bf"))
    val knownHits = knownFps.select(col("fp"))
      .filter(GraftShims.mightContain(
        GraftShims.scalarSubquery(bloomDf), xxhash64(col("fp"))))
    batch.join(knownHits, Seq("fp"), "left_anti")
  }

  /** The j-th bloom bit position of an `fp` column: the portable
    * md5-prefix fold (the cmsBucket idiom) mod `mBits` — identical in
    * any engine that has md5, which is the point of [[bloomExport]]. */
  private def bloomPos(j: Int, fp: Column, mBits: Long): Column =
    pmod(conv(substring(md5(concat(lit(s"$j:"), fp)), 1, 8), 16, 10)
      .cast("long"), lit(mBits))

  /** PORTABLE bloom-filter EXPORT — [[bloomAntiJoinFp]]'s runtime sketch
    * is Spark-internal (xxhash64 + an opaque binary blob, gone when the
    * job ends); this materializes the dedup membership filter as a
    * TABLE any engine or serving layer can load: `mBits` bits as 64-bit
    * words (only non-zero words materialize), bit positions from the
    * portable md5-prefix hash family, `k` probes per key. The 100 TB
    * story: the corpus-side fp universe is huge and lives in the
    * warehouse, but admission control runs OUTSIDE Spark (an ingest
    * proxy, a KV store, another engine) — exporting ~mBits/8 bytes of
    * filter lets that layer reject re-crawled duplicates at the door
    * and send only probable-new content into the expensive pipeline.
    *
    * Word value = Σ of DISTINCT set bits' powers (each bit contributes
    * once, so the signed-64 sum IS the OR — no overflow possible, and
    * no engine-specific bit_or needed to rebuild it elsewhere). Exports
    * from disjoint shards merge with [[bloomMergeWords]] (per-word OR)
    * — merge ≡ rebuild exactly, spec-proven.
    *
    * Scale shape: one scan → k positions per key (map-only explode) →
    * one distinct on (word, bit) (map-side combined, ≤ mBits rows
    * survive) → one word-keyed aggregate. The filter is mBits-sized —
    * corpus-size-independent. */
  def bloomExport(keys: DataFrame, mBits: Long = 1L << 16,
                  k: Int = 4): DataFrame = {
    require(mBits > 0 && mBits % 64 == 0, "mBits must be a multiple of 64")
    require(k >= 1, "k >= 1")
    keys.select(explode(array((0 until k).map(j =>
        bloomPos(j, col("fp"), mBits)): _*)).as("pos"))
      .select(expr("pos DIV 64").as("word_idx"),
        expr("CAST(pos % 64 AS INT)").as("bit_idx"))
      .distinct()
      .groupBy("word_idx")
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), bit_idx)")).as("bits"))
  }

  /** Merge per-shard [[bloomExport]] word tables: per-word OR. Merging
    * shard filters ≡ rebuilding over the shard union, exactly. */
  def bloomMergeWords(states: Seq[DataFrame]): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy("word_idx").agg(expr("bit_or(bits)").as("bits"))

  /** Probe an exported filter: per probe fp, `positive` = all `k` bit
    * positions set. The word table broadcasts (mBits/64 rows); probing
    * is one map-only explode + a broadcast join — the shape the serving
    * layer reproduces with an array lookup. */
  def bloomProbeWords(words: DataFrame, probes: DataFrame,
                      mBits: Long = 1L << 16, k: Int = 4): DataFrame =
    probes
      .select(col("fp"), explode(array((0 until k).map(j =>
        bloomPos(j, col("fp"), mBits)): _*)).as("pos"))
      .select(col("fp"), expr("pos DIV 64").as("word_idx"),
        expr("CAST(pos % 64 AS INT)").as("bit_idx"))
      .join(broadcast(words), Seq("word_idx"), "left")
      .select(col("fp"),
        when(coalesce(col("bits"), lit(0L))
          .bitwiseAND(expr("shiftleft(CAST(1 AS BIGINT), bit_idx)"))
          =!= 0, 1L).otherwise(0L).as("hit"))
      .groupBy("fp")
      .agg(min(col("hit")).as("positive"))

  /** One-row bloom-export AUDIT: filter geometry, exact load (set-bit
    * popcount), and the MEASURED false-positive rate on `nProbes`
    * synthetic keys disjoint from the corpus fp universe — the number a
    * serving-layer owner reads against the (1−e^{−kn/m})^k theory
    * before shipping the filter. Every column integer-exact. */
  def bloomAudit(docs: DataFrame, mBits: Long = 1L << 16, k: Int = 4,
                 nProbes: Int = 4096): DataFrame = {
    val spark = docs.sparkSession
    val keys = docs.select(md5(col("text")).as("fp")).distinct()
      .localCheckpoint(eager = false)
    val words = bloomExport(keys, mBits, k)
      .localCheckpoint(eager = false)
    val probes = spark.range(nProbes)
      .select(md5(concat(lit("probe:"), col("id"))).as("fp"))
    val pos = bloomProbeWords(words, probes, mBits, k)
      .agg(count(lit(1)).as("n_probes"),
        sum(col("positive")).as("n_positive"))
    val load = words.agg(sum(bit_count(col("bits"))).as("bits_set"))
    keys.agg(count(lit(1)).as("n_keys"))
      .crossJoin(broadcast(load))
      .crossJoin(broadcast(pos))
      .select(lit(mBits).as("m_bits"), lit(k.toLong).as("k"),
        col("n_keys"), col("bits_set"), col("n_probes"),
        col("n_positive"),
        expr("(10000 * n_positive) DIV n_probes").as("fp_rate_e4"))
  }

  /** C4-style cross-corpus LINE dedup: a line (any `sep`-delimited segment,
    * default newline) whose trimmed form occurs in MORE than `maxDocs`
    * distinct documents is boilerplate (navigation, license headers, cookie
    * banners) and is removed from every document EXCEPT the one with the
    * smallest doc_id containing it; each document's text is reassembled
    * from its kept lines in original order. Lines shorter than `minChars`
    * after trimming (blank separators, stray punctuation) are exempt —
    * removing them would silently reflow unrelated text, and short strings
    * collide by chance rather than by provenance. Output per input doc:
    * (doc_id, clean_text, n_lines, n_removed) — docs losing every line
    * surface with empty clean_text rather than vanishing.
    *
    * This is the classic C4/RefinedWeb curation step WHOLE-DOC and CHUNK
    * dedup both miss: boilerplate repeats across documents whose bodies are
    * unique, so no doc- or window-level fingerprint ever matches.
    *
    * Plan shape at 100 TB: one posexplode scan of the corpus, one
    * line-fingerprint hash aggregate (partial agg → the shuffle carries ≤1
    * row per (partition, fp)), one equi-join of the lines against the
    * (boilerplate-only, HAVING-filtered) dup table — co-keyed on fp, AQE
    * broadcasts it when small — then one doc-keyed aggregate to reassemble.
    * Nothing is quadratic; the only all-corpus shuffles are the two hash
    * aggregates, both map-side combined. `sep` is a literal, regex-quoted
    * before hitting `split`. Per-row memory note (the doc_rolling_fp
    * lesson): the reassembly collect_list buffers one document's own lines
    * — O(doc size), the same order as the row it rebuilds, with NO
    * amplification factor; the census side carries only (fp, doc_id). */
  def lineDedup(docs: DataFrame, sep: String = "\n", maxDocs: Int = 1,
                minChars: Int = 1): DataFrame = {
    require(maxDocs >= 1, s"maxDocs must be >= 1, got $maxDocs")
    val lines = docs.select(col("doc_id"),
      posexplode(split(col("text"), java.util.regex.Pattern.quote(sep), -1))
        .as(Seq("line_idx", "line")))
      .withColumn("eligible", length(trim(col("line"))) >= minChars)
      .withColumn("fp", md5(trim(col("line"))))
    // boilerplate census: ONLY fps in > maxDocs distinct docs survive the
    // HAVING, so the join's build side is the (small) offender list, not
    // the corpus's full line vocabulary
    val dups = lines.filter(col("eligible"))
      .groupBy("fp")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") > maxDocs)
      .select(col("fp"), col("first_doc"))
    val flagged = lines.join(dups, Seq("fp"), "left")
      .withColumn("keep", !col("eligible") || col("first_doc").isNull ||
        col("first_doc") === col("doc_id"))
    flagged.groupBy("doc_id")
      .agg(
        concat_ws(sep, transform(
          filter(
            array_sort(collect_list(struct(col("line_idx"), col("keep"),
              col("line")))),
            s => s.getField("keep")),
          s => s.getField("line"))).as("clean_text"),
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_removed"))
  }

  /** SimHash-style 32-bit fingerprint: for each of 8 hex nibbles sampled
    * from each token's md5, majority-vote the bits. Deterministic, portable
    * construction (bit i of the fingerprint = 1 iff the count of tokens whose
    * md5 has bit i set exceeds half the token count). One explode + one
    * groupBy(doc_id). */
  def simhash(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"),
        explode(split(col("text"), " ", -1)).as("token"))
      .withColumn("h", conv(substring(md5(col("token")), 1, 8), 16, 10)
        .cast("long"))
    val bitCols = (0 until 32).map { i =>
      sum(shiftright(col("h"), i).bitwiseAND(1)).as(s"b$i")
    }
    val aggs = count(lit(1)).as("n") +: bitCols
    val voted = tok.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val fp = (0 until 32).map { i =>
      when(col(s"b$i") * 2 > col("n"), lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    voted.select(col("doc_id"), fp.as("simhash"))
  }

  /** SimHash NEAR-DUP PAIRS — the serve half [[simhash]]'s fingerprints
    * exist for, in the Manku/Jain/Sarma (WWW 2007) banded formulation:
    * split the 32-bit fingerprint into 4 bytes; any pair within Hamming
    * distance ≤ 3 must agree EXACTLY on at least one byte (pigeonhole —
    * 3 flipped bits cannot touch all 4 bands), so candidates come from
    * 4 equi self-joins on (band, byte) — bucket-bounded, never
    * all-pairs — and one codegen'd `bit_count(xor)` filter makes the
    * distance exact. The completeness guarantee is spec-gated: a pair
    * at distance exactly `maxHamming` ≤ bands−1 is always found.
    *
    * Scale shape (r14 — the Multimodal distinct-value-banding fix
    * applied at text width, and doubly needed here: the band universe
    * is 8-bit, so a mere 256 DISTINCT byte values saturate a band —
    * doc-level buckets on a dup-heavy corpus went quadratic in copy
    * count): identical fingerprints pair through an exact equi-join on
    * the full 32-bit value; the ×4 banded explode and the (band, key)
    * self-join run over DISTINCT fingerprint VALUES only, so candidate
    * volume is bounded by distinct-value bucket sizes, independent of
    * how many docs share each fingerprint; doc pairs are rebuilt by two
    * value-keyed joins; the Hamming test is integer bit math in
    * whole-stage codegen. Output unchanged (the same oracle row). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "4-band completeness holds for maxHamming <= 3")
    // feeds the exact self-join sides, the value universe and the two
    // doc-rebuild joins: materialize the token-vote aggregate once
    val fps = simhash(docs).localCheckpoint(eager = false)
    val exact = fps.as("a").join(fps.as("b"),
        col("a.simhash") === col("b.simhash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        lit(0L).as("hamming"))
    val banded = fps.select(col("simhash").as("v")).distinct()
      .select(col("v"), posexplode(array((0 until 4).map(b =>
        shiftright(col("v"), b * 8).bitwiseAND(0xff)): _*))
        .as(Seq("band", "key")))
    val vp = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.v") < col("b.v"))
      .select(col("a.v").as("va"), col("b.v").as("vb"))
      .distinct() // values agreeing on several bands are one candidate
      .withColumn("hamming", expr("bit_count(va ^ vb)").cast("long"))
      .filter(col("hamming") <= maxHamming)
    val near = vp
      .join(fps.select(col("simhash").as("va"),
        col("doc_id").as("ia")), "va")
      .join(fps.select(col("simhash").as("vb"),
        col("doc_id").as("ib")), "vb")
      .select(least(col("ia"), col("ib")).as("doc_a"),
        greatest(col("ia"), col("ib")).as("doc_b"), col("hamming"))
    exact.unionByName(near)
  }

  /** Cross-split contamination audit: near-duplicate pairs whose members
    * landed in DIFFERENT train/val/test splits — the leak a held-out set
    * dies of (a test doc whose near-twin sits in train is evaluated on
    * memorized content). Composes the standard chain: LSH candidates →
    * exact Jaccard ≥ threshold → join each side to its
    * [[TextAnalysis.splitAssign]] label → keep pairs with differing labels.
    * Output: (doc_a, doc_b, split_a, split_b, jaccard).
    *
    * The right REMEDY is decided by the caller (usually: move or drop the
    * non-train member); this op is the audit that makes the leak a number.
    * Scale shape: the pair list is LSH-candidate-bounded (never all-pairs)
    * and the split labels are a pure per-row map on each side — the two
    * label joins add no shuffle beyond the pair join's own key exchange. */
  def splitLeakage(docs: DataFrame,
                   splits: Seq[(String, Double)] = Seq(
                     "train" -> 0.98, "val" -> 0.01, "test" -> 0.01),
                   jaccardThreshold: Double = 0.8,
                   minhashK: Int = 4,
                   rowsPerBand: Int = 2): DataFrame = {
    val pairs = ngramJaccardOn(docs,
      lshCandidatePairs(minhash(docs, minhashK), rowsPerBand))
      .filter(col("jaccard") >= jaccardThreshold)
    val sp = TextAnalysis.splitAssign(docs, splits)
      .select(col("doc_id"), col("split"))
    pairs
      .join(sp.select(col("doc_id").as("doc_a"),
        col("split").as("split_a")), "doc_a")
      .join(sp.select(col("doc_id").as("doc_b"),
        col("split").as("split_b")), "doc_b")
      .filter(col("split_a") =!= col("split_b"))
      .select("doc_a", "doc_b", "split_a", "split_b", "jaccard")
  }

  /** Threshold-sensitivity sweep for the near-dup pipeline: how many
    * candidate pairs score ≥ t, and how many documents the pairwise
    * larger-id rule would drop, for EACH threshold in one pass — the table
    * a pipeline owner reads to pick the Jaccard dial before a corpus run
    * (dropping 2% at 0.9 vs 15% at 0.7 is a budget decision, not a guess).
    * The expensive chain (LSH candidates + exact Jaccard) runs ONCE; the
    * sweep is a |thresholds| × |candidates| conditional aggregate over a
    * tiny broadcast thresholds frame. Output per threshold:
    * (threshold, n_pairs, n_dropped). Thresholds are compared against the
    * 4dp-ROUNDED jaccard (the same value every scoring query publishes),
    * so the sweep is engine-portable by the usual round-before-compare
    * contract. A corpus with zero LSH candidates yields an empty sweep. */
  def thresholdSweep(docs: DataFrame,
                     thresholds: Seq[Double] = Seq(0.5, 0.7, 0.8, 0.9),
                     minhashK: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    require(thresholds.nonEmpty, "thresholdSweep: at least one threshold")
    val scored = ngramJaccardOn(docs,
      lshCandidatePairs(minhash(docs, minhashK), rowsPerBand))
    val th = docs.sparkSession.range(1)
      .select(explode(array(thresholds.map(lit): _*)).as("threshold"))
    broadcast(th).crossJoin(scored)
      .groupBy("threshold")
      .agg(
        sum(when(col("jaccard") >= col("threshold"), 1L).otherwise(0L))
          .as("n_pairs"),
        countDistinct(when(col("jaccard") >= col("threshold"),
          col("doc_b"))).as("n_dropped"))
  }

  /** The REMEDY for [[splitLeakage]]'s audit: re-materialize the split
    * assignment with every leaking pair resolved, under the standard
    * train-wins rule — train documents are never touched (removing train
    * data buys nothing; the eval sets are what must be clean), and a
    * non-train document is DROPPED iff it has a near-twin in any OTHER
    * split (a test doc with a train twin is evaluated on memorized
    * content; a val–test twin contaminates both, so both go). Output:
    * (doc_id, split) of the surviving corpus — same shape as
    * [[TextAnalysis.splitAssign]], minus the quarantined rows.
    *
    * Scale shape: [[splitLeakage]]'s candidate-bounded pair list feeds a
    * (small) distinct drop list; the corpus pays one split-label map and
    * one anti-join against that list — AQE broadcasts it, the corpus is
    * never shuffled. */
  def resolveSplitLeakage(docs: DataFrame,
                          splits: Seq[(String, Double)] = Seq(
                            "train" -> 0.98, "val" -> 0.01, "test" -> 0.01),
                          jaccardThreshold: Double = 0.8,
                          minhashK: Int = 4,
                          rowsPerBand: Int = 2): DataFrame = {
    val leaks = splitLeakage(docs, splits, jaccardThreshold, minhashK,
      rowsPerBand)
    val drops = leaks
      .select(col("doc_a").as("doc_id"), col("split_a").as("split"))
      .unionByName(leaks
        .select(col("doc_b").as("doc_id"), col("split_b").as("split")))
      .filter(col("split") =!= "train")
      .select("doc_id").distinct()
    TextAnalysis.splitAssign(docs, splits)
      .select(col("doc_id"), col("split"))
      .join(drops, Seq("doc_id"), "left_anti")
  }

  /** Measured MinHash estimator quality — the dedup chain's analogue of the
    * ANN recall queries (quality dials must be measured, not argued): for
    * every LSH candidate pair, the MinHash ESTIMATE of Jaccard (share of
    * the k seeds whose minhashes agree — the unbiased estimator LSH banding
    * thresholds implicitly) next to the EXACT shingle-set Jaccard and the
    * absolute error. Tells an operator whether k is large enough for the
    * corpus before trusting a band threshold at 100 TB. Output per pair:
    * (doc_a, doc_b, jaccard_est, jaccard_exact, abs_err), all rounded to 4
    * for engine parity.
    *
    * Scale shape: candidate-bounded like every LSH consumer — the signature
    * join fans each pair out to its k seed rows (k·|pairs| rows, k tiny)
    * and one aggregate folds them back; exact scoring rides the same
    * candidate list. */
  def minhashJaccardEst(docs: DataFrame, minhashK: Int = 4,
                        rowsPerBand: Int = 2): DataFrame = {
    val sigs = minhash(docs, minhashK)
    val pairs = lshCandidatePairs(sigs, rowsPerBand)
    val est = pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("seed"),
        col("minhash").as("mh_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("seed"),
        col("minhash").as("mh_b")), Seq("doc_b", "seed"))
      .groupBy("doc_a", "doc_b")
      .agg((sum(when(col("mh_a") === col("mh_b"), 1L).otherwise(0L))
        .cast("double") / minhashK).as("est"))
    est.join(ngramJaccardOn(docs, pairs), Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("est"), 4).as("jaccard_est"),
        col("jaccard").as("jaccard_exact"),
        round(abs(round(col("est"), 4) - col("jaccard")), 4).as("abs_err"))
  }

  /** MinHash signature-WIDTH sweep — the third tuning table of the dedup
    * chain, after the Jaccard [[thresholdSweep]] and the banding
    * [[lshBandCurve]]: how much estimator error does each signature width
    * k buy down? Signatures are computed ONCE at `maxK` seeds; each sweep
    * point reads the first k seeds off that one signature table
    * (estimator prefixes of a common hash family), the candidate set is
    * fixed at the DEPLOYED banding config (first 4 seeds, `rowsPerBand`),
    * and exact Jaccard is scored once — so the whole table costs one
    * signature pass plus candidate-bounded work, the same
    * run-once-read-many shape as the other sweeps. Per k:
    * (k, n_pairs, mean_abs_err, max_abs_err). Errors are differences of
    * two 4dp-rounded values, converted to exact 1e-4 integral units
    * before the order-independent sum — engine-portable by construction.
    * Reading the table: the k where mean error stops falling is where
    * wider signatures stop paying for their storage. */
  def minhashKSweep(docs: DataFrame, maxK: Int = 8,
                    rowsPerBand: Int = 2,
                    ks: Seq[Int] = Seq(2, 4, 8)): DataFrame = {
    require(ks.nonEmpty && ks.forall(k => k >= 1 && k <= maxK),
      "minhashKSweep: each k must be in [1, maxK]")
    require(maxK >= 4,
      "minhashKSweep: maxK must be >= 4 — the candidate set is fixed at the " +
        "DEPLOYED banding (first 4 seeds), which a narrower signature table " +
        "would silently shrink")
    val sigs = minhash(docs, maxK)
    val pairs = lshCandidatePairs(sigs.filter(col("seed") < 4), rowsPerBand)
    val est = pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("seed"),
        col("minhash").as("mh_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("seed"),
        col("minhash").as("mh_b")), Seq("doc_b", "seed"))
      .withColumn("k", explode(array(ks.map(k => lit(k.toLong)): _*)))
      .filter(col("seed") < col("k"))
      .groupBy("doc_a", "doc_b", "k")
      .agg(sum(when(col("mh_a") === col("mh_b"), 1L).otherwise(0L)).as("m"))
      .withColumn("est", round(col("m").cast("double") / col("k"), 4))
    est.join(ngramJaccardOn(docs, pairs), Seq("doc_a", "doc_b"))
      .withColumn("err_x10k",
        round(abs(col("est") - col("jaccard")) * 10000).cast("long"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("err_x10k")).cast("double") /
          (count(lit(1)) * 10000), 4).as("mean_abs_err"),
        (max(col("err_x10k")).cast("double") / 10000).as("max_abs_err"))
  }

  /** LSH banding S-CURVE sweep — the tuning table the (bands, rowsPerBand)
    * config is set from, the way [[thresholdSweep]] tunes the Jaccard
    * threshold: the deployed chain (signatures → candidates → exact
    * Jaccard) runs ONCE, and each alternative band config is evaluated
    * analytically on those scored pairs via the standard S-curve — the
    * probability a pair with Jaccard j collides in at least one of b bands
    * of r rows is 1 − (1 − jʳ)ᵇ (Leskovec/Rajaraman/Ullman, Mining of
    * Massive Datasets §3.4). Per config: n_pairs scored, the expected
    * number of those pairs a (b, r) signature would catch (sum of
    * per-pair collision probabilities), and how many collide with
    * p ≥ 0.5. Reading the table: configs whose expected catch ≈ n_pairs
    * keep today's recall cheaper (fewer total hashes) or flag headroom.
    *
    * Oracle-parity construction: the curve is computed on the 4dp-ROUNDED
    * exact Jaccard (the value [[ngramJaccardOn]] reports — identical in
    * both engines by contract), b and r are powers of two so every power
    * is a fixed chain of squarings (identical floating-point operation
    * order everywhere; no libm pow), and each pair's probability is
    * rounded to integral 1e-4 units before the sum, which is then exact
    * integer addition — order-independent and portable.
    *
    * Scale shape: candidate-bounded — |pairs| × |configs| rows feed one
    * ≤|configs|-row aggregate; the corpus is touched only by the chain
    * that runs once. */
  def lshBandCurve(docs: DataFrame, minhashK: Int = 4,
                   rowsPerBand: Int = 2,
                   configs: Seq[(Int, Int)] =
                     Seq((16, 1), (8, 2), (4, 4), (2, 8))): DataFrame = {
    val pow2 = Set(1, 2, 4, 8, 16)
    require(configs.forall { case (b, r) => pow2(b) && pow2(r) },
      "lshBandCurve: bands and rowsPerBand must be powers of two ≤ 16 " +
        "(powers are squaring chains for cross-engine determinism)")
    val sigs = minhash(docs, minhashK)
    val pairs = lshCandidatePairs(sigs, rowsPerBand)
    val scored = ngramJaccardOn(docs, pairs)
      .withColumn("cfg", explode(array(configs.map { case (b, r) =>
        struct(lit(b.toLong).as("b"), lit(r.toLong).as("r"))
      }: _*)))
      .select(col("jaccard"), col("cfg.b").as("b"), col("cfg.r").as("r"))
    // jʳ and (1−jʳ)ᵇ by repeated squaring — fixed operation order
    def sq(c: Column): Column = c * c
    val j = col("jaccard")
    val j2 = sq(j); val j4 = sq(j2); val j8 = sq(j4); val j16 = sq(j8)
    val jr = when(col("r") === 1, j).when(col("r") === 2, j2)
      .when(col("r") === 4, j4).when(col("r") === 8, j8)
      .otherwise(j16)
    val p = scored.withColumn("t", lit(1.0) - jr)
    val t = col("t")
    val t2 = sq(t); val t4 = sq(t2); val t8 = sq(t4); val t16 = sq(t8)
    val tb = when(col("b") === 1, t).when(col("b") === 2, t2)
      .when(col("b") === 4, t4).when(col("b") === 8, t8)
      .otherwise(t16)
    p.withColumn("px10k",
        round((lit(1.0) - tb) * 10000).cast("long"))
      .groupBy(col("b").as("bands"), col("r").as("rows_per_band"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("px10k")).as("expected_x10k"),
        sum(when(col("px10k") >= 5000, 1L).otherwise(0L)).as("n_likely"))
  }

  /** Index MAINTENANCE for the persisted near-dup index: append a new
    * batch's LSH bands and shingle sets to the [[nearDupWriteIndex]] tables
    * IN PLACE, preserving their bucketed layout (probe joins stay
    * co-located after the append — [[Bucketing.append]] takes the layout
    * from the catalogue). The batch is banded with the geometry persisted
    * on the band table ([[bandParams]]), so appended docs band exactly as
    * the probes, which read the same geometry, expect. This is the
    * corpus-version upgrade path at 100 TB: one signature pass over the
    * INCREMENT instead of re-signing the whole corpus, after which future
    * increments probe a corpus+batch index. Typical cycle: probe batch →
    * deliver survivors → append survivors here. EAGER: runs the two
    * append jobs at call time, like the build. */
  def nearDupIndexAppend(docs: DataFrame, bandsTable: String,
                         setsTable: String): Unit = {
    val (minhashK, rowsPerBand) = bandParams(docs.sparkSession, bandsTable)
    Bucketing.append(bandTable(minhash(docs, minhashK), rowsPerBand),
      bandsTable)
    Bucketing.append(shingleSets(docs), setsTable)
  }

  /** EXACT-SUBSTRING span dedup (the suffix-array dedup of "Deduplicating
    * Training Data Makes Language Models Better", Lee et al. 2022, at token
    * granularity): any `spanTokens`-token window whose exact text occurs
    * MORE than once in the corpus — in another document or repeated inside
    * the same one — is a duplicated span; every occurrence except the
    * globally first (smallest (doc_id, start)) has its tokens removed, and
    * each document's text is reassembled from its surviving tokens in
    * original order. This is the granularity [[exact]] (whole doc),
    * [[chunkDedup]] (fixed chunks), and [[lineDedup]] (delimiter lines) all
    * miss: a copied paragraph at an arbitrary offset inside two otherwise
    * unique documents matches NO doc/chunk/line fingerprint, but every one
    * of its L-token windows collides here. Overlapping duplicate windows
    * merge into maximal removed spans for free: a token dies iff ANY
    * duplicated window covers it. Docs shorter than `spanTokens` pass
    * through untouched. Output: (doc_id, clean_text, n_tokens, n_removed).
    *
    * Plan shape at 100 TB (same asymptotics as the paper's suffix array —
    * O(corpus tokens), with an L-bounded constant): one windowed-fingerprint
    * explode (each token hashed into ≤L window digests), one fp hash
    * aggregate (map-side combined, the shuffle carries ≤1 row per
    * (partition, fp)), one equi-join of windows against the
    * (HAVING-filtered, duplicates-only) census — AQE broadcasts it when
    * small — then ONE per-doc pass: the coverage test "does a duplicate
    * window start within the last L−1 positions?" is a bounded ROWS-frame
    * running max over dense token positions, never a range join, and the
    * reassembly collect_list buffers one document's own tokens (the
    * [[lineDedup]] memory contract — O(doc), no amplification). The
    * (doc_id, start) canonical occurrence is encoded as one integral
    * doc_id·10⁹+start key so min() stays a single partial-agg accumulator. */
  def spanDedup(docs: DataFrame, spanTokens: Int = 8): DataFrame =
    spanFlagged(docs, spanTokens)._3
      .groupBy("doc_id")
      .agg(
        concat_ws(" ", transform(
          filter(
            array_sort(collect_list(struct(col("pos"), col("removed"),
              col("token")))),
            s => s.getField("removed") === 0),
          s => s.getField("token"))).as("clean_text"),
        count(lit(1)).as("n_tokens"),
        sum(col("removed")).cast("long").as("n_removed"))

  /** `spanTokens`-token window fingerprints of every doc with at least
    * that many tokens: (doc_id, start, fp). */
  private[operators] def spanWindows(docs: DataFrame,
                                     spanTokens: Int): DataFrame =
    spanWindowsOf(docs
      .withColumn("toks", split(col("text"), " ", -1))
      .withColumn("n", size(col("toks"))), spanTokens)

  /** [[spanWindows]] over a pre-tokenized (doc_id, toks, n) frame — the
    * sweep materializes the token arrays once and derives every span
    * length from them (r18). */
  private def spanWindowsOf(toks: DataFrame, spanTokens: Int): DataFrame =
    toks
      .filter(col("n") >= spanTokens)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("n") - spanTokens),
          i => md5(concat_ws(" ",
            slice(col("toks"), i + 1, lit(spanTokens))))))
          .as(Seq("start", "fp")))

  /** Per-token removal flags from a (doc_id, pos) set of doomed window
    * starts: one row per token of `docs` with `removed` ∈ {0,1} — a token
    * dies iff a doomed window starts in [pos−L+1, pos]; positions are
    * dense per doc, so the bounded ROWS frame IS the position range. */
  private def spanCoverage(docs: DataFrame, dupStarts: DataFrame,
                           spanTokens: Int): DataFrame = {
    val tok = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ", -1)).as(Seq("pos", "token")))
    val cover = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-(spanTokens - 1), 0)
    tok.join(dupStarts, Seq("doc_id", "pos"), "left")
      .withColumn("removed", max(coalesce(col("ds"), lit(0))).over(cover))
  }

  /** The [[spanDedup]] chain up to per-token removal flags, shared with the
    * sweep: (window stream, duplicate occurrences, flagged token stream —
    * one row per corpus token with `removed` ∈ {0,1}). */
  private def spanFlagged(docs: DataFrame, spanTokens: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    require(spanTokens >= 2, s"spanTokens must be >= 2, got $spanTokens")
    def occ(d: Column, s: Column): Column = d * lit(1000000000L) + s
    // the window stream feeds the census AND the doomed-occurrence join
    // (and the sweep's n_windows stat): materialize the explode+md5 once
    // — the winnowPairs lesson; without this Catalyst inlines the
    // corpus-sized window generation into every consumer
    val wins = spanWindows(docs, spanTokens).localCheckpoint(eager = false)
    // duplicate census: only fps with >1 occurrence survive the HAVING, so
    // the join's build side is the offender list, not every window
    val dups = wins.groupBy("fp")
      .agg(count(lit(1)).as("cnt"),
        min(occ(col("doc_id"), col("start"))).as("first_occ"))
      .filter(col("cnt") > 1)
      .select(col("fp"), col("first_occ"))
    val dupStarts = wins.join(dups, "fp")
      .filter(occ(col("doc_id"), col("start")) =!= col("first_occ"))
      .select(col("doc_id"), col("start").as("pos"))
      .withColumn("ds", lit(1))
    (wins, dupStarts, spanCoverage(docs, dupStarts, spanTokens))
  }

  /** Cross-frame SPAN SCRUB — span-granularity decontamination/dedup of a
    * NEW batch against a known corpus: any `spanTokens`-token window of a
    * batch doc whose exact text occurs ANYWHERE in the corpus is scrubbed
    * (no canonical-occurrence logic — the corpus copy always wins), and
    * batch docs are reassembled from their surviving tokens. This is the
    * rewrite-flavored sibling of [[incrementalDedup]] (which drops whole
    * batch docs) and of doc-level decontamination (which flags them): a
    * crawl refresh keeps its novel prose but loses the paragraphs it
    * re-crawled, and an eval-set scrub removes leaked spans without
    * discarding the surrounding document. Output per batch doc:
    * (doc_id, clean_text, n_tokens, n_removed).
    *
    * Plan shape at 100 TB: the corpus side reduces to DISTINCT window
    * fingerprints (one hash aggregate, map-side combined — reusable
    * across batches the way the near-dup band index is); the batch's
    * windows semi-join it on fp (batch-sized probe, corpus never
    * re-shuffled per batch), then the [[spanDedup]] coverage pass runs
    * over the BATCH only. */
  def spanScrub(batch: DataFrame, corpus: DataFrame,
                spanTokens: Int = 8): DataFrame =
    spanScrubKnown(batch,
      spanWindows(corpus, spanTokens).select(col("fp")).distinct(),
      spanTokens)

  /** [[spanScrub]] against a PRE-BUILT distinct window-fingerprint
    * relation (`knownFps`: one `fp` column) — the form a continuous
    * pipeline runs: the corpus side's fingerprint census is built once
    * per corpus version (and persisted like the near-dup band index),
    * each increment pays only its own windows + the semi-join probe. */
  def spanScrubKnown(batch: DataFrame, knownFps: DataFrame,
                     spanTokens: Int = 8): DataFrame = {
    require(spanTokens >= 2, s"spanTokens must be >= 2, got $spanTokens")
    val known = knownFps.select(col("fp"))
    val doomed = spanWindows(batch, spanTokens)
      .join(known, Seq("fp"), "left_semi")
      .select(col("doc_id"), col("start").as("pos"))
      .withColumn("ds", lit(1))
    spanCoverage(batch, doomed, spanTokens)
      .groupBy("doc_id")
      .agg(
        concat_ws(" ", transform(
          filter(
            array_sort(collect_list(struct(col("pos"), col("removed"),
              col("token")))),
            s => s.getField("removed") === 0),
          s => s.getField("token"))).as("clean_text"),
        count(lit(1)).as("n_tokens"),
        sum(col("removed")).cast("long").as("n_removed"))
  }

  /** Span-length SENSITIVITY SWEEP — the tuning table behind
    * [[spanDedup]]'s one dial, in the threshold-sweep / band-curve /
    * width-sweep family: for each candidate window length L, one row of
    * (n_windows, n_dup_occurrences, n_tokens_removed, removed_share).
    * Short spans over-fire on formulaic text (a 4-token collision is
    * often chance); long spans miss real copies shorter than L; this
    * table is how the dial is set from measurements instead of folklore
    * (the paper uses 50 BPE tokens for web corpora). Unlike the
    * run-once-read-many sweeps, each L genuinely needs its own window
    * fingerprints — different-length windows hash different text — so
    * the sweep is |Ls| independent passes by construction; Ls is a
    * handful of constants, and each pass is the [[spanDedup]] plan
    * minus the reassembly aggregate (global one-row sums instead). */
  def spanDedupSweep(docs: DataFrame,
                     spans: Seq[Int] = Seq(4, 8, 16)): DataFrame = {
    require(spans.nonEmpty, "spans must be non-empty")
    // r18 rewrite (guide §2.3/§2.4). The sweep needs COUNTS, not the
    // reassembled token stream, so the per-arm [[spanCoverage]] pass —
    // which exploded and shuffled EVERY corpus token through a per-doc
    // window, three times — is replaced by plain arithmetic on the
    // doomed-starts set:
    //   - n_tokens is L-independent (every doc's token count, windows or
    //     not): computed ONCE as sum(size(toks)).
    //   - n_tokens_removed is the length of the union of the fixed-length
    //     intervals [s, s+L-1] over the doomed starts s — every window
    //     fits inside its doc ([[spanWindows]] only emits starts
    //     0..n-L), so per doc the union length is Σ min(L, s - prev_s)
    //     over pos-ordered doomed starts (first start contributes L) —
    //     a window over the DOOMED starts only (dup-occurrence-sized),
    //     never the corpus token stream.
    // The token arrays are tokenized once into a shared checkpoint (4
    // consumers: three window arms + the token total — measured 2.99 s
    // with the checkpoint vs 3.3-3.6 s re-tokenizing per arm); each L
    // still hashes its own windows (different-length windows hash
    // different text — that part is |spans| passes by construction).
    val base = docs
      .withColumn("toks", split(col("text"), " ", -1))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
      .localCheckpoint(eager = false)
    val nTok = base.agg(sum(col("n")).as("n_tokens"))
    def occ(d: Column, s: Column): Column = d * lit(1000000000L) + s
    spans.map { l =>
      val wins = spanWindowsOf(base, l).localCheckpoint(eager = false)
      val dups = wins.groupBy("fp")
        .agg(count(lit(1)).as("cnt"),
          min(occ(col("doc_id"), col("start"))).as("first_occ"))
        .filter(col("cnt") > 1)
        .select(col("fp"), col("first_occ"))
      val dupStarts = wins.join(dups, "fp")
        .filter(occ(col("doc_id"), col("start")) =!= col("first_occ"))
        .select(col("doc_id"), col("start").as("pos"))
        .localCheckpoint(eager = false) // occurrence count AND the union
      val byDoc = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pos")
      val removed = dupStarts
        .withColumn("gap", col("pos") - lag("pos", 1).over(byDoc))
        .select(least(coalesce(col("gap"), lit(l.toLong)), lit(l.toLong))
          .cast("long").as("contrib"))
        .agg(coalesce(sum(col("contrib")), lit(0L)).as("n_tokens_removed"))
      val winStats = wins.agg(count(lit(1)).as("n_windows"))
      val dupStats = dupStarts.agg(count(lit(1)).as("n_dup_occurrences"))
      removed
        .crossJoin(broadcast(winStats))
        .crossJoin(broadcast(dupStats))
        .crossJoin(broadcast(nTok))
        .select(lit(l.toLong).as("span_tokens"), col("n_windows"),
          col("n_dup_occurrences"), col("n_tokens"),
          col("n_tokens_removed"),
          round(col("n_tokens_removed").cast("double") / col("n_tokens"), 4)
            .as("removed_share"))
    }.reduce(_.unionAll(_))
  }

  /** Takedown / right-to-be-forgotten propagation: classify every corpus
    * document against a tombstone list (doc_ids whose content must leave
    * the corpus). Removing the listed rows is the trivial half; the
    * compliance half is that COPIES of the taken-down content — exact
    * re-posts and near-duplicate mirrors that arrived under different ids
    * — must leave too, or the content ships in the next training run
    * anyway. Per document: status ∈ {'removed_direct' (on the list),
    * 'removed_copy' (exact fp match or shingle Jaccard ≥ threshold
    * against ANY tombstoned doc), 'kept'}.
    *
    * Scale shape: the tombstone side is takedown-request-sized (tiny);
    * its band table probes the corpus band table cross-frame — the
    * [[incrementalNearDedup]] shape with the roles flipped (the corpus is
    * the probed side, and in production the PERSISTED
    * [[nearDupWriteIndex]] band/sets tables serve that side with no
    * corpus rescan). Exact-copy matches ride the same candidate set:
    * identical text collides in every band, so fp equality is confirmed
    * inside the Jaccard scoring join (a 1.0 candidate), plus a direct
    * fp equi-join for sub-shingle docs too short to carry a signature.
    * The corpus is scanned once; everything else is candidate-bounded. */
  def takedownStatus(docs: DataFrame, tombstoneIds: DataFrame,
                     jaccardThreshold: Double = 0.8, minhashK: Int = 4,
                     rowsPerBand: Int = 2): DataFrame =
    takedownCore(docs, tombstoneIds,
      bandTable(minhash(docs, minhashK), rowsPerBand), shingleSets(docs),
      jaccardThreshold)

  /** [[takedownStatus]] served off the PERSISTED [[nearDupWriteIndex]]
    * tables — the form a pipeline that processes takedown requests
    * CONTINUOUSLY runs (see [[graft.streaming.StreamingTakedown]]): the
    * request side's bands and shingle sets are LOOKED UP in the index
    * (the request is just doc_ids — no text re-shingled, no minhash
    * recomputed for anything), and the corpus side probes the same
    * stored relations, so per-request work is index-probe-bounded. The
    * one remaining `docs` read is the exact-copy fp leg plus the status
    * projection — a column-pruned (doc_id, source, md5(text)) scan with
    * no signature recompute (at 100 TB, persist that fp column next to
    * the index and this variant touches no text at all). Bands and sets
    * are per-doc deterministic, so splitting the STORED relations by
    * tombstone membership yields exactly what the batch op computes
    * inline — results are row-identical by construction (spec-proven). */
  def takedownStatusIndexed(spark: org.apache.spark.sql.SparkSession,
                            docs: DataFrame, tombstoneIds: DataFrame,
                            bandsTable: String, setsTable: String,
                            jaccardThreshold: Double = 0.8): DataFrame =
    takedownCore(docs, tombstoneIds, spark.table(bandsTable),
      spark.table(setsTable), jaccardThreshold)

  /** CONTENT-ADDRESSED takedown — the request arrives as TEXT, not as a
    * library doc_id: a real DMCA/RTBF ticket quotes the content to remove,
    * which may not be in the corpus under any id at all. Each request text
    * is re-shingled and re-minhashed ONCE (requests are ticket-sized; this
    * is the only signature work in the query), its bands probe the
    * PERSISTED corpus band index cross-frame and exact Jaccard confirms
    * against the stored shingle sets — the [[incrementalNearDedup]] probe
    * shape with the request as the batch side — plus a direct
    * full-text-fingerprint equi-join for exact copies (covers sub-shingle
    * short requests). Per corpus document: status ∈ {'removed_copy'
    * (exact fp match or Jaccard ≥ threshold against ANY request text),
    * 'kept'} — there is no 'removed_direct' because a content request
    * names no ids; a corpus doc whose text IS the request content matches
    * itself exactly and reads removed_copy, the honest answer.
    *
    * `requests`: (req_id, text). Scale shape: request-side signatures are
    * request-sized and ride broadcasts; the corpus side is two probes of
    * the stored [[nearDupWriteIndex]] relations plus one column-pruned
    * (doc_id, source, md5(text)) scan for the exact leg and the status
    * projection — no corpus re-shingling, ever. Request content is
    * re-banded with the geometry the index was built with
    * ([[bandParams]]). */
  def takedownStatusContent(spark: org.apache.spark.sql.SparkSession,
                            docs: DataFrame, requests: DataFrame,
                            bandsTable: String, setsTable: String,
                            jaccardThreshold: Double = 0.8): DataFrame = {
    // an online maintainer may have appended since this session last read
    // the tables (the mediaTakedownStatus discipline)
    Seq(bandsTable, setsTable).foreach(spark.catalog.refreshTable)
    val (minhashK, rowsPerBand) = bandParams(spark, bandsTable)
    val req = requests.select(col("req_id").as("doc_id"), col("text"))
      .localCheckpoint(eager = false) // request signatures computed once
    val bReq = bandTable(minhash(req, minhashK), rowsPerBand)
      .select(col("doc_id").as("doc_b"), col("band"), col("bucket"))
    val bLib = spark.table(bandsTable)
      .select(col("doc_id").as("doc_a"), col("band"), col("bucket"))
    val cands = bLib.join(broadcast(bReq), Seq("band", "bucket"))
      .select("doc_a", "doc_b").distinct()
    val nearCopies =
      jaccardOnSets(spark.table(setsTable), shingleSets(req), cands)
        .filter(col("jaccard") >= jaccardThreshold)
        .select(col("doc_a").as("copy_id"))
    // r18: the exact-fp leg and the status projection share ONE narrow
    // (doc_id, source, fp) checkpoint — the corpus text is scanned once.
    val base = docs
      .select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
      .localCheckpoint(eager = false)
    val exactCopies = base
      .select(col("doc_id").as("copy_id"), col("fp"))
      .join(broadcast(req.select(md5(col("text")).as("fp")).distinct()),
        "fp")
      .select("copy_id")
    val copies = nearCopies.unionByName(exactCopies).distinct()
    base
      .join(copies, col("doc_id") === col("copy_id"), "left")
      .select(col("doc_id"), col("source"),
        when(col("copy_id").isNotNull, lit("removed_copy"))
          .otherwise(lit("kept")).as("status"))
  }

  /** Shared takedown core over ANY (bands, sets) pair — built inline by
    * the batch op, read from the persisted index by the indexed/streaming
    * form. Banding is deterministic per doc, so whole-corpus relations
    * split by tombstone membership equal the batch op's per-side
    * construction. */
  private def takedownCore(docs: DataFrame, tombstoneIds: DataFrame,
                           allBands: DataFrame, allSets: DataFrame,
                           jaccardThreshold: Double): DataFrame = {
    val tombIds = tombstoneIds.select(col("doc_id").as("tomb_id"))
    // r18 (guide §2.3 project early / §2.4): the core reads `docs` four
    // ways (tombstone slice, rest slice, exact-fp leg, status
    // projection) and needs only (doc_id, source, fp) — checkpoint that
    // narrow projection once instead of re-running the full text scan
    // (with its md5) per consumer.
    val base = docs
      .select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
      .localCheckpoint(eager = false)
    val tombDocs = base.join(tombIds,
      col("doc_id") === col("tomb_id")).drop("tomb_id")
    val rest = base.join(tombIds,
      col("doc_id") === col("tomb_id"), "left_anti")
    // near-dup copies: tombstone bands probe the corpus-rest bands
    val bRest = allBands.join(tombIds,
        col("doc_id") === col("tomb_id"), "left_anti")
      .select(col("doc_id").as("doc_a"), col("band"), col("bucket"))
    val bTomb = allBands.join(tombIds,
        col("doc_id") === col("tomb_id"), "left_semi")
      .select(col("doc_id").as("doc_b"), col("band"), col("bucket"))
    val cands = bRest.join(bTomb, Seq("band", "bucket"))
      .select("doc_a", "doc_b").distinct()
    val restSets = allSets.join(tombIds,
      col("doc_id") === col("tomb_id"), "left_anti")
    val tombSets = allSets.join(tombIds,
      col("doc_id") === col("tomb_id"), "left_semi")
    val nearCopies = jaccardOnSets(restSets, tombSets, cands)
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("doc_a").as("copy_id"))
    // exact copies of tombstoned text (covers signature-less short docs)
    val exactCopies = rest.select(col("doc_id").as("copy_id"), col("fp"))
      .join(tombDocs.select(col("fp")).distinct(), "fp")
      .select("copy_id")
    val copies = nearCopies.unionByName(exactCopies).distinct()
    base
      .join(tombIds, col("doc_id") === col("tomb_id"), "left")
      .join(copies, col("doc_id") === col("copy_id"), "left")
      .select(col("doc_id"), col("source"),
        when(col("tomb_id").isNotNull, lit("removed_direct"))
          .when(col("copy_id").isNotNull, lit("removed_copy"))
          .otherwise(lit("kept")).as("status"))
  }

  /** Match EVIDENCE for confirmed near-dup pairs — the explainability
    * table a human reviewer reads before acting on a dedup decision: for
    * each pair with Jaccard ≥ threshold, the `k` RAREST shared shingles
    * (rarest by corpus document frequency, ties lexicographic). Rare
    * shared shingles are the convincing ones — "both docs contain this
    * phrase that appears nowhere else" reads as evidence, "both contain
    * 'of the and'" does not; it is the same rarity logic
    * `doc_winnow_pairs`' hot-fingerprint guard applies in reverse.
    *
    * Scale shape: pairs are LSH-candidate-bounded; the shared-shingle
    * join explodes only CONFIRMED pairs' shingle sets; the df table is
    * one corpus-wide (shingle → doc count) aggregate — the same relation
    * the n-gram histogram already builds — and the per-pair rank window
    * is shared-shingle-sized. */
  def dupEvidence(docs: DataFrame, jaccardThreshold: Double = 0.8,
                  minhashK: Int = 4, rowsPerBand: Int = 2,
                  k: Int = 3): DataFrame = {
    val conf = jaccardOnPairsRaw(docs,
      lshCandidatePairs(minhash(docs, minhashK), rowsPerBand))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("doc_a"), col("doc_b"))
    // r18 (guide §2.4): the exploded shingle relation feeds the df census
    // AND both attach joins — checkpoint it once or the corpus re-shingles
    // per consumer.
    val ds = shingleSets(docs)
      .select(col("doc_id"), explode(col("sset")).as("shingle"))
      .distinct()
      .localCheckpoint(eager = false)
    val df = ds.groupBy("shingle").agg(count(lit(1)).as("df"))
    val shared = conf
      .join(ds.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(ds.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"))
      .orderBy(col("df"), col("shingle"))
    shared.join(df, "shingle")
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_a"), col("doc_b"), col("shingle"), col("df"),
        col("rnk"))
  }

  /** Contamination blast radius: breadth-first expansion from a seed set
    * (e.g. docs found leaking into an eval set) over the near-duplicate
    * graph — the TRANSITIVE closure question decontamination actually
    * needs: a doc near-dup to a leaked doc is itself suspect, and so is
    * ITS near-dup, out to `hops`. [[splitLeakage]] finds the hop-1 pairs;
    * this walks the chain, emitting (doc_id, hop) = the first hop each
    * reached doc is discovered at (seeds at hop 0) — the triage list a
    * contamination review works through in hop order.
    *
    * Edges are the [[dupClusters]] edge set (LSH candidates confirmed by
    * exact Jaccard ≥ threshold — candidate-bounded, never all-pairs).
    * Each hop is one frontier-keyed equi-join against the checkpointed
    * edge list + one anti-join against the visited set — O(edges
    * touched) per hop, the Pregel superstep shape, `localCheckpoint`
    * between hops like [[dupClusters]]/[[pageRank]]. `hops` is a small
    * constant, so the oracle unrolls the same rounds as chained CTEs.
    * On this synthetic corpus the near-dup graph is mostly isolated
    * pairs (one triangle), so hop 2+ is empty at sf0.01 — the multi-hop
    * contract is fixture-proven in the spec instead. */
  def contaminationRadius(docs: DataFrame, seedIds: DataFrame,
                          hops: Int = 3, jaccardThreshold: Double = 0.8,
                          minhashK: Int = 4, rowsPerBand: Int = 2)
  : DataFrame = {
    val edges = jaccardOnPairsRaw(docs,
      lshCandidatePairs(minhash(docs, minhashK), rowsPerBand))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("doc_a"), col("doc_b"))
    val nbr = edges.unionByName(
      edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .localCheckpoint()
    var visited = seedIds.select(col("doc_id"), lit(0L).as("hop"))
      .localCheckpoint()
    var frontier = visited
    var h = 1
    while (h <= hops) {
      val next = nbr
        .join(frontier.select(col("doc_id").as("src")), "src")
        .select(col("dst").as("doc_id")).distinct()
        .join(visited.select("doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(h.toLong).as("hop"))
        .localCheckpoint()
      visited = visited.unionByName(next).localCheckpoint()
      frontier = next
      h += 1
    }
    visited
  }

  /** Per-source rollup of [[takedownStatus]]: the completeness report a
    * compliance review reads — how many documents each source lost
    * directly vs through copy propagation, and the surviving share in
    * exact 1e-4 integral units. */
  def takedownAudit(docs: DataFrame, tombstoneIds: DataFrame,
                    jaccardThreshold: Double = 0.8, minhashK: Int = 4,
                    rowsPerBand: Int = 2): DataFrame =
    takedownStatus(docs, tombstoneIds, jaccardThreshold, minhashK,
      rowsPerBand)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("status") === "removed_direct", 1L).otherwise(0L))
          .as("n_direct"),
        sum(when(col("status") === "removed_copy", 1L).otherwise(0L))
          .as("n_copy"),
        sum(when(col("status") === "kept", 1L).otherwise(0L)).as("n_kept"))
      .withColumn("kept_share_e4", expr("(10000 * n_kept) div n_docs"))

  // ---------------------------------------------------------------------
  // Exact set-similarity self-join via prefix filtering (AllPairs/PPJoin
  // family — Bayardo, Ma & Srikant, "Scaling Up All Pairs Similarity
  // Search", WWW 2007; Xiao et al., "Efficient Similarity Joins for Near
  // Duplicate Detection", WWW 2008). This is the EXACT counterpart to the
  // LSH candidate path: same "never all-pairs" scale shape, but complete —
  // no false negatives at the chosen threshold, so it is the variant a
  // compliance-grade dedup (takedowns, licensing) has to run.
  // ---------------------------------------------------------------------

  // The item universe is [[shingleSets]] — the same universe as the
  // MinHash/LSH family, so the exact join and the approximate path answer
  // the same question. Shingles, not words, on purpose: prefix filtering
  // prunes by RARE items, and a shingle vocabulary is large and sparse
  // where a word vocabulary can be tiny — on the synthetic corpus's
  // 31-word vocabulary every word has df in the thousands and a
  // word-universe prefix join degenerates to ~all-pairs (measured: 3.8M
  // set-level candidates at sf0.1 vs 43.5k with shingles — the
  // 99.65%-pruned form this operator exists for). Documents with < 3
  // words have no shingles and drop out, like the rest of the family.

  /** Canonicalized set universe: documents with IDENTICAL shingle sets
    * collapse to one representative before any quadratic work — the
    * dedupe-then-fan-back discipline. In a dup-heavy corpus this is the
    * difference between the join running and not: a 248-document exact
    * cluster (sf0.1 testdata, largest fp group) is 30,628 doc-level pairs
    * but ONE representative set; two near-dup clusters of that size are
    * one set-level comparison instead of ~60k array intersections.
    * `reps` (fp, sset, grp_n) and `members` (fp, doc_id) are
    * localCheckpointed — each is read several times downstream (prefix
    * build, both verify sides, both expansion sides), and materializing
    * the canonicalization is the winnowPairs lesson applied up front. */
  private def setSimCanonical(docs: DataFrame)
      : (DataFrame, DataFrame) = {
    // shingles contain spaces, so join on \u0001 (impossible in
    // space-split words) for an unambiguous group key
    val sets = shingleSets(docs)
      .withColumn("fp", md5(array_join(col("sset"), "\u0001")))
      // r18: members and reps both derive from this frame - one lazy
      // checkpoint means the corpus is tokenized+shingled ONCE instead
      // of once per branch (guide 2.4).
      .localCheckpoint(eager = false)
    val members = sets.select("fp", "doc_id").localCheckpoint()
    // every sset under one fp is identical by construction → first() is
    // deterministic here
    val reps = sets.groupBy("fp")
      .agg(first(col("sset")).as("sset"), count(lit(1)).as("grp_n"))
      .localCheckpoint()
    (reps, members)
  }

  /** Set-level candidate pairs for [[setSimJoin]]: distinct (fp_a, fp_b)
    * sharing ≥1 PREFIX token under the global rare-first order, after the
    * integer size filter. Prefix-filter theorem: order the token universe
    * by ascending set frequency (rarest first, token string tie-break); a
    * pair with J ≥ τ shares ≥ ⌈τ·|x|⌉ tokens with either side x, so each
    * side's first |x| − ⌈τ·|x|⌉ + 1 tokens under that order must
    * intersect the other's — joining only on prefix tokens is lossless,
    * and prefixes are by construction the RAREST tokens, so the join's
    * per-token buckets stay small exactly where the data is big. */
  private def setSimSetCandidates(reps: DataFrame, tauNum: Int,
                                  tauDen: Int): DataFrame = {
    val tok = reps.select(col("fp"), size(col("sset")).as("s"),
      explode(col("sset")).as("token"))
    val dfreq = tok.groupBy("token").agg(count(lit(1)).as("df"))
    // prefix length p = s − ⌈n·s/d⌉ + 1, all-integer ceiling
    val prefix = tok.join(dfreq, "token")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")
          .orderBy(col("df"), col("token"))))
      .filter(col("rn") <=
        col("s") - expr(s"($tauNum * s + ${tauDen - 1}) DIV $tauDen") + 1)
      .select("token", "fp", "s")
    prefix.select(col("token"), col("fp").as("fp_a"), col("s").as("s_a"))
      .join(prefix.select(col("token"), col("fp").as("fp_b"),
        col("s").as("s_b")), Seq("token"))
      .filter(col("fp_a") < col("fp_b") &&
        lit(tauNum) * col("s_b") <= lit(tauDen) * col("s_a") &&
        lit(tauNum) * col("s_a") <= lit(tauDen) * col("s_b"))
      .select("fp_a", "fp_b").distinct()
  }

  /** Verified set-level pairs over a pre-built candidate frame: exact
    * integral test (n+d)·|a∩b| ≥ n·(|a|+|b|)  ⇔  J ≥ n/d — no float
    * boundary — plus the 4dp jaccard for reporting. Split from candidate
    * generation so [[setSimEvidence]] can materialize the candidates ONCE
    * and feed both its count and the verification (never re-running the
    * prefix pipeline per consumer — the winnowPairs lesson). */
  private def setSimVerifiedOn(reps: DataFrame, cand: DataFrame,
                               tauNum: Int, tauDen: Int): DataFrame = {
    val i = size(array_intersect(col("set_a"), col("set_b")))
    cand
      .join(reps.select(col("fp").as("fp_a"), col("sset").as("set_a")),
        "fp_a")
      .join(reps.select(col("fp").as("fp_b"), col("sset").as("set_b")),
        "fp_b")
      .filter(lit(tauNum + tauDen) * i >=
        lit(tauNum) * (size(col("set_a")) + size(col("set_b"))))
      .select(col("fp_a"), col("fp_b"),
        round(i.cast("double") /
          (size(col("set_a")) + size(col("set_b")) - i).cast("double"), 4)
          .as("jaccard"))
  }

  private def setSimVerified(reps: DataFrame, tauNum: Int,
                             tauDen: Int): DataFrame =
    setSimVerifiedOn(reps, setSimSetCandidates(reps, tauNum, tauDen),
      tauNum, tauDen)

  /** ALL pairs with shingle-set Jaccard ≥ tauNum/tauDen — exact and complete
    * (AllPairs/PPJoin prefix filter), never forming the all-pairs space,
    * with identical-set canonicalization in front so dup clusters cost
    * one representative each: cross-group pairs come from the verified
    * set-level pairs fanned back onto members (scalars only — the arrays
    * never ride the expansion), within-group pairs are emitted directly
    * at J = 1.0 (identical sets need no verification).
    *
    * Scale shape: one shuffle to canonicalize, one to count token set
    * frequency, one fp-partitioned window for prefix ranks, one equi-join
    * on (rare) prefix tokens, candidate-bounded verification on
    * representative sets, then two id-equi-join expansions. The quadratic
    * term lives only inside per-prefix-token buckets of rare tokens and
    * in the OUTPUT itself — which is the result's own size, not a plan
    * artifact.
    *
    * Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard rounded
    * 4dp (thresholding already happened on the exact integer form). */
  def setSimJoin(docs: DataFrame, tauNum: Int = 4, tauDen: Int = 5)
      : DataFrame = {
    val (reps, members) = setSimCanonical(docs)
    setSimExpanded(reps, members, tauNum, tauDen)
  }

  private def setSimExpanded(reps: DataFrame, members: DataFrame,
                             tauNum: Int, tauDen: Int): DataFrame = {
    val cross = setSimVerified(reps, tauNum, tauDen)
      .join(members.select(col("fp").as("fp_a"), col("doc_id").as("da")),
        "fp_a")
      .join(members.select(col("fp").as("fp_b"), col("doc_id").as("db")),
        "fp_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jaccard"))
    val within = members.select(col("fp"), col("doc_id").as("doc_a"))
      .join(members.select(col("fp"), col("doc_id").as("doc_b")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }

  /** One-row pruning audit of the canonicalize + prefix-filter pipeline:
    * documents and their C(n,2) all-pairs space (never formed), distinct
    * sets after canonicalization and THEIR all-pairs space, the set-level
    * candidates the prefix join actually formed, the final doc-level pair
    * count, and the pruned share of the set-pair space in exact 1e-4
    * units. At 100 TB this row is the difference between a plan that runs
    * and one that doesn't — it belongs next to the result, not in a
    * log. */
  def setSimEvidence(docs: DataFrame, tauNum: Int = 4, tauDen: Int = 5)
      : DataFrame = {
    val (reps, members) = setSimCanonical(docs)
    val nd = members.agg(count(lit(1)).as("n_docs"))
    val ns = reps.agg(count(lit(1)).as("n_sets"))
    // candidates materialized once: counted AND verified off the same
    // frame — the prefix pipeline runs exactly one time per evidence row
    val candFrame = setSimSetCandidates(reps, tauNum, tauDen)
      .localCheckpoint()
    val cand = candFrame.agg(count(lit(1)).as("n_set_candidates"))
    val verified = setSimVerifiedOn(reps, candFrame, tauNum, tauDen)
    val cross = verified
      .join(members.groupBy("fp").agg(count(lit(1)).as("ga"))
        .select(col("fp").as("fp_a"), col("ga")), "fp_a")
      .join(members.groupBy("fp").agg(count(lit(1)).as("gb"))
        .select(col("fp").as("fp_b"), col("gb")), "fp_b")
      .agg(coalesce(sum(col("ga") * col("gb")), lit(0L)).as("n_cross"))
    val within = members.groupBy("fp").agg(count(lit(1)).as("g"))
      .agg(coalesce(sum(expr("g * (g - 1) DIV 2")), lit(0L))
        .as("n_within"))
    val pairs = cross.crossJoin(within)
      .select((col("n_cross") + col("n_within")).as("n_pairs"))
    nd.crossJoin(ns).crossJoin(cand).crossJoin(pairs)
      .withColumn("n_allpairs", expr("n_docs * (n_docs - 1) DIV 2"))
      .withColumn("n_set_allpairs", expr("n_sets * (n_sets - 1) DIV 2"))
      .withColumn("pruned_share_e4",
        expr("10000 * (n_set_allpairs - n_set_candidates)" +
          " DIV n_set_allpairs"))
      .select("n_docs", "n_allpairs", "n_sets", "n_set_allpairs",
        "n_set_candidates", "n_pairs", "pruned_share_e4")
  }
}
