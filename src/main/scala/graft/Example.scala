package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal

/** Runnable tour of the library over the smallest testdata: the flagship
  * enrichment, the multimodal pipeline, the corpus-curation chain (dedup →
  * clusters → representative keep → PII scrub → pack), ANN with measured
  * recall, and streaming sessionization. Usage:
  * `sbt "runMain graft.Example [sfDir]"`. */
object Example {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.builder(4, 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val flag = SparkEntry.queries("flagship_s61")(spark, sfDir)
    println(s"[example] flagship_s61 rows=${flag.count()}")
    flag.show(3, truncate = false)

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val withP = Multimodal.withBinaryPayload(docs)
    // real container-header decode over synthetic PNG/JPEG/WAV payloads
    val meta = Multimodal.decodeMeta(Multimodal.synthMediaPayload(docs))
    println(s"[example] decodeMeta rows=${meta.count()}")
    meta.show(3)
    println("[example] MP4 box-walk decode (duration + track dims):")
    Multimodal.decodeMeta(Multimodal.synthMp4Payload(docs)).show(3)
    val frames = Multimodal.frameSample(withP, every = 2, frameBytes = 64)
    println(s"[example] frameSample frames=${frames.count()} " +
      s"from docs=${docs.count()}")
    val resized = Multimodal.resize(withP, 16, 16)
    println("[example] resize max payload bytes = " +
      resized.select(max(length(col("payload")))).head.get(0))
    val feats = Multimodal.extractFeatures(withP, dim = 8)
    println("[example] features sample = " +
      feats.head().features.map(f => f"$f%.3f").mkString("[", ",", "]"))

    // corpus curation: quality gate → dedup effectiveness → near-dup
    // clusters → keep the longest representative → scrub PII → pack what
    // survives → choose the next mix
    {
      import graft.operators.{CorpusOps, Dedup, TextAnalysis}
      println("[example] gopher gate verdicts:")
      TextAnalysis.gopherFilter(docs).groupBy("keep").count().show()
      println("[example] corpus duplication headline:")
      Dedup.dupTokenShare(docs).show()
      println("[example] dedup by source:")
      Dedup.dedupBySource(docs, 0.8).orderBy("source").show(5)
      val best = Dedup.clusterBest(docs, 0.8)
      println(s"[example] near-dup clusters=${best.count()} " +
        "(keep-longest representatives)")
      println("[example] boilerplate line removal (word granularity):")
      Dedup.lineDedup(docs, sep = " ", maxDocs = 40)
        .agg(sum(col("n_lines")).as("lines_in"),
          sum(col("n_removed")).as("lines_removed")).show()
      println("[example] exact-substring span dedup (8-token windows):")
      Dedup.spanDedup(docs)
        .agg(sum(col("n_tokens")).as("tokens_in"),
          sum(col("n_removed")).as("tokens_removed")).show()
      val newBatch = docs.filter(col("doc_id") % 10 === 0)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val survived = Dedup.incrementalDedup(newBatch, corpus,
        fp = md5(concat_ws(" ",
          slice(split(col("text"), " ", -1), 1, 10))))
      println(s"[example] bloom incremental dedup: batch=" +
        s"${newBatch.count()} survived=${survived.count()}")
      val nearSurvived = Dedup.incrementalNearDedup(newBatch, corpus)
      println(s"[example] LSH incremental near-dedup: batch=" +
        s"${newBatch.count()} survived=${nearSurvived.count()}")
      println("[example] train/val/test split sizes:")
      TextAnalysis.splitAssign(docs).groupBy("split").count()
        .orderBy("split").show()
      val scrubbed = TextAnalysis.piiScrub(docs)
      println("[example] pii removed: " + scrubbed
        .agg(sum(col("n_emails") + col("n_phones"))).head.get(0))
      println("[example] packing fill:")
      CorpusOps.packStats(docs, maxTokens = 512).orderBy("source").show(3)
      println("[example] next-epoch mixture weights (sqrt temperature):")
      CorpusOps.mixtureWeights(docs).orderBy("source").show(3)
      val splits = Seq("train" -> 0.5, "test" -> 0.5)
      val leaks = Dedup.splitLeakage(docs, splits)
      println(s"[example] cross-split near-dup leaks: ${leaks.count()}; " +
        "after train-wins quarantine:")
      Dedup.resolveSplitLeakage(docs, splits).groupBy("split").count()
        .orderBy("split").show()
      println("[example] MinHash estimator error on LSH candidates:")
      Dedup.minhashJaccardEst(docs)
        .agg(round(avg(col("abs_err")), 4).as("mean_abs_err"),
          round(max(col("abs_err")), 4).as("max_abs_err")).show()
      println("[example] near-dup threshold sensitivity:")
      Dedup.thresholdSweep(docs).orderBy("threshold").show()
      println("[example] LSH banding S-curve (expected catch per config):")
      Dedup.lshBandCurve(docs).orderBy("rows_per_band").show()
      println("[example] MinHash width sweep (error vs signature size):")
      Dedup.minhashKSweep(docs).orderBy("k").show()
      println("[example] vocabulary health (top-10 share, hapax rate):")
      TextAnalysis.vocabCoverage(docs).show()
      println("[example] winnowing fingerprint density (MOSS selection):")
      TextAnalysis.winnowing(docs)
        .agg(sum(col("n_selected")).as("selected"),
          sum(col("n_grams")).as("grams"),
          round(avg(col("density")), 4).as("mean_density")).show()
      println("[example] DSIR importance weights (en-target resampling gate):")
      TextAnalysis.dsirWeights(docs).groupBy("keep").count().show()
      println("[example] CCNet composite (per-language tertile gate):")
      TextAnalysis.ccnetPipeline(docs)
        .groupBy("lang_guess", "bucket").count()
        .orderBy("lang_guess", "bucket").show(12)
      println("[example] decontamination release gate (doc/chunk/union):")
      TextAnalysis.decontaminationReport(
        docs.filter(col("doc_id") % 100 =!= 0),
        docs.filter(col("doc_id") % 100 === 0), n = 3).show()
      println("[example] per-source quality dashboard:")
      TextAnalysis.qualityBySource(docs).orderBy("source").show(3)
      println("[example] BM25 top-5 for 'hash join window':")
      TextAnalysis.bm25Search(docs,
        Seq("hash", "join", "window"), k = 5).show()
      println("[example] top PMI collocations:")
      TextAnalysis.pmiCollocations(docs, minCount = 5, k = 5).show()
      println("[example] fuzzy (edit-distance) confirm of LSH candidates:")
      Dedup.editSimilarityOn(docs,
        Dedup.lshCandidatePairs(Dedup.minhash(docs))).orderBy(
        col("sim").desc, col("doc_a")).show(5)
      println("[example] canonical normalization (chars removed per doc):")
      TextAnalysis.normalize(docs)
        .agg(sum(col("n_chars_removed")).as("chars_removed"),
          count(lit(1)).as("docs")).show()
      println("[example] language-ID confusion matrix (label vs guess):")
      TextAnalysis.langidConfusion(docs)
        .orderBy(col("n").desc).show(5)
    }

    // ANN: IVF-SQ8 (codes in the cells, exact rescore) + measured recall
    {
      import graft.operators.Similarity
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val ann = Similarity.knnIvfSq8(emb, col("vec_id") < 4, k = 3)
      val truth = Similarity.knnBrute(emb, col("vec_id") < 4, k = 3)
      println("[example] IVF-SQ8 recall@3 per query:")
      Similarity.recallAtK(ann, truth, 3).orderBy("q_id").show()
      println("[example] IVF-PQ (ADC over codes) top-3 per query:")
      Similarity.knnIvfPq(emb, col("vec_id") < 4, k = 3, nlist = 8,
        nprobe = 4, m = 8, ksub = 8).orderBy("q_id", "score").show()
      println("[example] kNN label vote (pred vs own label):")
      Similarity.knnClassify(emb, col("vec_id") < 4, k = 5)
        .orderBy("q_id").show()
      val kept = Similarity.semanticDedup(emb,
        Similarity.ivfSeedCentroids(emb, 8), threshold = 0.4)
      println(s"[example] SemDeDup: kept ${kept.count()} of " +
        s"${emb.count()} embeddings (cosine >= 0.4 within cell)")
      println("[example] nprobe recall/cost sweep (pick the cheapest " +
        "setting clearing your recall target):")
      Similarity.ivfNprobeSweep(emb, Similarity.ivfSeedCentroids(emb, 8),
        col("vec_id") < 4, k = 3, nprobes = Seq(1, 2, 4, 8))
        .orderBy("nprobe").show()
      println("[example] one Lloyd refit step (drift says when):")
      Similarity.ivfRefitCentroids(emb,
        Similarity.ivfSeedCentroids(emb, 8)).orderBy("cell").show(3)
      println("[example] MMR re-rank (diversity beats redundancy):")
      Similarity.mmrRerank(emb, col("vec_id") < 2, poolK = 10, k = 3)
        .orderBy("q_id", "rank").show()
      println("[example] dimension-truncation recall (the Matryoshka dial):")
      Similarity.dimTruncationSweep(emb, col("vec_id") < 4,
        dims = Seq(8, 16, 32, 64), k = 3).orderBy("dims_kept").show()
    }

    // events analytics: where users go next, session health, bot accounts
    {
      println("[example] event-type transition matrix (top handoffs):")
      SparkEntry.queries("events_transition_matrix")(spark, sfDir)
        .orderBy(col("n").desc).show(5)
      println("[example] session health headline:")
      SparkEntry.queries("events_session_stats")(spark, sfDir).show()
      println("[example] heaviest accounts vs corpus mean:")
      SparkEntry.queries("events_heavy_users")(spark, sfDir)
        .orderBy(col("ratio_to_mean").desc).show(3)
      println("[example] A/B funnel significance (chi-squared, 1 dof):")
      SparkEntry.queries("events_ab_significance")(spark, sfDir).show()
      println("[example] think-time histogram (the sessionization dial):")
      SparkEntry.queries("events_interarrival_hist")(spark, sfDir)
        .orderBy("bucket").show()
      println("[example] JSON props profile per event type (null share " +
        "is the schema-drift alarm):")
      SparkEntry.queries("events_props_stats")(spark, sfDir)
        .orderBy("event_type").show()
    }

    // layout, sketches, mining, tokenizer training (round 11)
    {
      println("[example] Z-order vs linear layout — files touched per " +
        "point probe (the lakehouse clustering dial):")
      SparkEntry.queries("corpus_zorder_skipping")(spark, sfDir)
        .orderBy("layout", "probe_col").show()
      println("[example] CMS heavy hitters vs exact (over >= 0 always):")
      SparkEntry.queries("corpus_token_cms")(spark, sfDir)
        .orderBy(col("n_exact").desc).show(5)
      println("[example] BPE merges learned from this corpus:")
      SparkEntry.queries("corpus_bpe_train")(spark, sfDir)
        .orderBy("rank").show()
      println("[example] contrastive triplets (anchor, positive, " +
        "hard negatives):")
      SparkEntry.queries("emb_hard_negatives")(spark, sfDir)
        .orderBy("q_id", "neg_rank").show(6)
      println("[example] code-switched docs (segment-voted language mix):")
      SparkEntry.queries("doc_lang_mix")(spark, sfDir)
        .filter(col("code_switched")).show(3)
    }

    // corpus health, segmentation, and vector QA (round 11, session 4)
    {
      println("[example] Zipf slope (natural text reads ~ -1):")
      SparkEntry.queries("corpus_zipf_fit")(spark, sfDir).show()
      println("[example] doc-length inequality (Gini off the histogram):")
      SparkEntry.queries("corpus_length_gini")(spark, sfDir).show()
      println("[example] do the quality and Gopher gates agree? " +
        "(kappa ~ 1 = redundant, ~ 0 = they compose):")
      SparkEntry.queries("corpus_filter_agreement")(spark, sfDir).show()
      println("[example] train/test distribution shift (~0 = honest split):")
      SparkEntry.queries("corpus_split_shift")(spark, sfDir).show()
      println("[example] lowest-entropy docs (templated text):")
      SparkEntry.queries("doc_entropy")(spark, sfDir)
        .orderBy("entropy").show(3)
      println("[example] Kneser-Ney vs raw bigram scoring:")
      SparkEntry.queries("doc_kn_logprob")(spark, sfDir)
        .orderBy("doc_id").show(3)
      println("[example] embedding outliers (far from every centroid):")
      SparkEntry.queries("emb_outliers")(spark, sfDir).show(5)
      println("[example] top principal component (anisotropy check):")
      SparkEntry.queries("emb_pca_power")(spark, sfDir)
        .orderBy(col("loading").desc).show(3)
      println("[example] RFM segments (555 = best customers):")
      SparkEntry.queries("orders_rfm")(spark, sfDir)
        .orderBy(col("rfm").desc).show(5)
      println("[example] last-touch attribution (which channel converts):")
      SparkEntry.queries("events_attribution")(spark, sfDir).show()
    }

    // release gates, selection, and the live RPC edge (round 12)
    {
      import graft.operators.TextAnalysis
      println("[example] per-source PII audit (who needs the scrub):")
      SparkEntry.queries("corpus_pii_report")(spark, sfDir)
        .orderBy(col("pii_doc_share").desc).show(3)
      println("[example] domain report (grow the blocklist from here):")
      SparkEntry.queries("corpus_url_report")(spark, sfDir)
        .orderBy(col("n_urls").desc).show()
      println("[example] A-ES weighted sample (char-count-proportional, " +
        "reproducible across engines/retries):")
      SparkEntry.queries("doc_weighted_sample")(spark, sfDir)
        .orderBy("source", "doc_id").show(5)
      println("[example] SemDeDup threshold dial (drop share per cosine):")
      SparkEntry.queries("emb_semdedup_sweep")(spark, sfDir)
        .orderBy("threshold").show()
      println("[example] media near-dups by perceptual hash (Hamming<=3):")
      SparkEntry.queries("multimodal_dup_pairs")(spark, sfDir)
        .orderBy("doc_a", "doc_b").show(3)
      println("[example] takedown propagation (direct + copy removals " +
        "per source):")
      SparkEntry.queries("corpus_takedown_audit")(spark, sfDir)
        .orderBy(col("n_copy").desc, col("source")).show(5)
      println("[example] contamination blast radius (first-discovery " +
        "hop per doc; hop 0 = the leaked seeds):")
      SparkEntry.queries("doc_contamination_radius")(spark, sfDir)
        .groupBy("hop").count().orderBy("hop").show()
      println("[example] gap-filled hourly grid -> integer z-score " +
        "anomalies (flagged rows only):")
      SparkEntry.queries("events_rate_anomaly")(spark, sfDir)
        .filter(col("is_anomaly") === 1)
        .orderBy("event_type", "hour_ms").show(5)
      println("[example] FK orphan audit (the damaged-parent row proves " +
        "detection):")
      SparkEntry.queries("rel_fk_audit")(spark, sfDir)
        .orderBy("rel").show(truncate = false)
      println("[example] temperature-sampled quotas (alpha=0.5, seats " +
        "sum to exactly 100):")
      SparkEntry.queries("corpus_temperature_quotas")(spark, sfDir)
        .orderBy("lang").show()
      println("[example] SCD2 history of one customer's order priority:")
      SparkEntry.queries("orders_scd2")(spark, sfDir)
        .filter(col("o_custkey") === 1).orderBy("valid_from_ms").show(5)
      println("[example] EXACT similarity join pruning audit (all-pairs " +
        "never formed vs set-level candidates vs verified pairs):")
      SparkEntry.queries("doc_setsim_evidence")(spark, sfDir).show()
      println("[example] entity-resolution method dial (compare-pair " +
        "cost vs accuracy: blocking vs 1-pass vs 2-pass SNM):")
      SparkEntry.queries("rel_entity_method_compare")(spark, sfDir)
        .orderBy("method").show(truncate = false)
      println("[example] trained NB language confusion (reads ~prior on " +
        "this corpus — the labels carry no lexical signal, which is the " +
        "audit working):")
      SparkEntry.queries("doc_nb_langid")(spark, sfDir)
        .orderBy("actual", "predicted").show()
      println("[example] CUSUM drift alarms per type (sequential " +
        "statistic; the point z-test stays silent on small drifts):")
      SparkEntry.queries("events_cusum")(spark, sfDir)
        .groupBy("event_type")
        .agg(sum("alarm_up").as("alarms_up"),
          sum("alarm_dn").as("alarms_dn"))
        .orderBy("event_type").show()
      println("[example] resharding cost, measured vs theory (HRW moves " +
        "~1/new, mod-N moves almost everything):")
      SparkEntry.queries("corpus_reshard_plan")(spark, sfDir).show()
      println("[example] BM25 served off the persisted inverted index " +
        "(bit-identical to the inline scan):")
      SparkEntry.queries("doc_search_bm25_indexed")(spark, sfDir).show(5)
      println("[example] deflate compression-ratio quality signal " +
        "(lowest ratios = most templated docs):")
      SparkEntry.queries("doc_compression_ratio")(spark, sfDir)
        .orderBy("ratio_e4").show(5)
      // live Flume AvroSourceProtocol round trip: RPC -> spool -> read
      import graft.sources.{FlumeAvroReceiver, FlumeLikeSource}
      val spool = java.nio.file.Files
        .createTempDirectory("example_avro").toString
      val server = FlumeAvroReceiver.serve(spool)
      try {
        val c = new FlumeAvroReceiver.Client(server.getPort)
        try c.appendBatch(Seq(
          FlumeAvroReceiver.Event(
            Map(FlumeLikeSource.HeaderFileName -> "tour.log"),
            "61|hello|from|rpc".getBytes("UTF-8")),
          FlumeAvroReceiver.Event(
            Map(FlumeLikeSource.HeaderFileName -> "tour.log"),
            "62|second|event".getBytes("UTF-8"))))
        finally c.close()
        println("[example] events received over live Avro-RPC, read " +
          "back through the spool source:")
        FlumeLikeSource.toFileValue(FlumeLikeSource.read(spark, spool))
          .orderBy("value").show(truncate = false)
      } finally server.close()
    }

    // r13 additions: the consolidation/compliance endpoints
    {
      println("[example] winnowing match detection (native deque " +
        "expression — map-only selection, no window pass):")
      SparkEntry.queries("doc_winnow_pairs")(spark, sfDir)
        .orderBy(org.apache.spark.sql.functions.col("n_shared").desc)
        .show(5)
      println("[example] entity GOLDEN records (CC consolidation + " +
        "pinned survivorship):")
      SparkEntry.queries("rel_entity_golden")(spark, sfDir)
        .orderBy(org.apache.spark.sql.functions.col("n_members").desc)
        .show(5, truncate = false)
      println("[example] epsilon-composition ledger (release 5 refused " +
        "over budget, spend frozen):")
      SparkEntry.queries("corpus_dp_ledger")(spark, sfDir)
        .orderBy("source", "release_idx").show(10)
      println("[example] media dup clusters + medoid representative:")
      SparkEntry.queries("multimodal_dup_clusters")(spark, sfDir)
        .orderBy("cluster_id", "doc_id").show(5)
      println("[example] audio energy-delta fingerprints and their " +
        "near-dup pairs:")
      SparkEntry.queries("multimodal_audio_fp")(spark, sfDir).show(3)
      SparkEntry.queries("multimodal_audio_dup_pairs")(spark, sfDir)
        .show(3)
    }

    // r13 additions: provenance, ingest boundary, seasonal baseline,
    // heavy hitters, the portable bloom export, cross-modal rollup
    {
      import graft.operators.{CorpusOps, DataQuality, Dedup, TextAnalysis}
      println("[example] per-source manifest (order-independent checksums):")
      CorpusOps.manifest(docs).orderBy("source").show(3)
      println("[example] JSONL quarantine report:")
      DataQuality.jsonlQuarantine(docs).orderBy("bucket").show(3)
      println("[example] hour-of-week seasonal residuals (top 5):")
      SparkEntry.queries("events_seasonal_residuals")(spark, sfDir).show(5)
      println("[example] Misra-Gries heavy hitters (k=30) vs exact twin:")
      TextAnalysis.mgSummary(docs, k = 30)
        .orderBy(col("est_count").desc).show(5)
      TextAnalysis.tokenHeavyExact(docs, k = 30)
        .orderBy(col("n_exact").desc).show(5)
      println("[example] bloom export audit (geometry, load, fp rate):")
      Dedup.bloomAudit(docs).show()
      println("[example] cross-modal dup profile:")
      Multimodal.modalityDupProfile(docs).show()
      println("[example] stratified split quotas:")
      TextAnalysis.splitStratified(docs)
        .groupBy("source", "split").count()
        .orderBy("source", "split").show(6)
    }

    // round-14 additions: the ingest-side extraction stage, the learned
    // gate's calibration audit, margin-based bitext mining with its
    // label eval, keyframe video dedup, and the persisted perceptual
    // index serving a media takedown
    {
      import graft.operators.{Classify, Similarity, WebExtract}
      println("[example] HTML extraction publish gate (round-trip " +
        "recovery + boilerplate saved by main-selection):")
      WebExtract.htmlExtractReport(docs).show(3)
      println("[example] learned-gate margin calibration (keep rate " +
        "should rise through bucket 0):")
      Classify.nbQualityCalibration(docs).orderBy("bucket").show()
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      println("[example] bitext mining eval (precision ~chance on " +
        "geometry-free labels = the unlearnability audit):")
      Similarity.bitextMarginEval(emb).show()
      println("[example] video dup pairs (per-slot votes over sampled " +
        "keyframes):")
      Multimodal.videoDupPairs(Multimodal.synthVideoPayload(docs)).show(3)
      Multimodal.phashWriteIndex(Multimodal.synthBmpPayload(docs),
        "graft_example_phidx", buckets = 4)
      val req = Multimodal.synthBmpPayload(
        docs.filter(col("doc_id") % 13 === 0))
      println("[example] media takedown off the persisted sketch index " +
        "(self-match at hamming 0 = 'remove every near-copy of THIS'):")
      Multimodal.mediaTakedownStatus(spark, "graft_example_phidx", req)
        .orderBy("req_id", "hamming", "doc_id").show(5)
    }

    // round-15 additions: the incremental curation funnel (the
    // per-increment attrition a continuous crawl pipeline emits), its
    // per-source triage split, the learned gate's threshold sweep, and
    // ONE takedown request fanned across every modality
    {
      import graft.operators.{Classify, CorpusOps, Dedup}
      val batch = docs.filter(col("doc_id") % 10 === 0)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      println("[example] incremental curation funnel (new batch vs " +
        "corpus: gate -> exact -> near -> span scrub):")
      CorpusOps.curationFunnelIncremental(batch, corpus).show()
      println("[example] per-source funnel attrition (which source " +
        "bleeds at which stage):")
      CorpusOps.curationFunnelBySource(
          docs.filter(col("doc_id") % 100 =!= 0),
          docs.filter(col("doc_id") % 100 === 0))
        .orderBy("stage_idx", "source").show(8)
      println("[example] learned-gate threshold sweep (the " +
        "precision/recall frontier; t=0 is the argmax point):")
      Classify.nbQualityRoc(docs).orderBy("threshold").show(21)
      Dedup.nearDupWriteIndex(docs, "graft_example_tb",
        "graft_example_ts", buckets = 4)
      Multimodal.audioWriteIndex(Multimodal.synthWavPayload(docs),
        "graft_example_aidx", buckets = 4)
      Multimodal.videoWriteIndex(Multimodal.synthVideoPayload(docs),
        "graft_example_vidx", buckets = 4)
      println("[example] unified takedown (one id list vs text + " +
        "image + audio + video; per-modality statuses):")
      Multimodal.takedownUnified(spark, docs,
          docs.filter(col("doc_id") % 10 === 8).select("doc_id"),
          "graft_example_tb", "graft_example_ts", "graft_example_phidx",
          "graft_example_aidx", "graft_example_vidx")
        .groupBy("modality", "status").count()
        .orderBy("modality", "status").show()
      println("[example] video index serving audit (per-slot census + " +
        "cascade refusal counters):")
      Multimodal.videoIndexAudit(spark, "graft_example_vidx",
        Multimodal.synthVideoPayload(
          docs.filter(col("doc_id") % 13 === 0))).show()
      println("[example] mixture epoch plan under a token budget " +
        "(4-epoch repeat cap), then the forfeit re-spent:")
      CorpusOps.mixPlan(docs, budgetTokens = 1L << 19)
        .orderBy("source").show(5)
      CorpusOps.mixPlanRebalanced(docs, budgetTokens = 1L << 19)
        .orderBy("source").show(5)
    }

    // round-16 additions: the plan MATERIALIZED as a training roster,
    // a CONTENT-addressed compliance request (no ids), and the funnel
    // state's replay-reclaim compaction
    {
      import graft.operators.{CorpusOps, Multimodal}
      println("[example] mix plan applied — the (doc, epoch) roster " +
        "(whole passes + a hash-ordered partial last epoch):")
      CorpusOps.mixPlanApply(docs, budgetTokens = 1L << 19)
        .groupBy("source", "epoch").count()
        .orderBy("source", "epoch").show(10)
      val reqDocs = docs.filter(col("doc_id") % 13 === 0)
      println("[example] content-addressed unified takedown (quoted " +
        "text + media bytes, no ids — removed_copy|kept only):")
      Multimodal.takedownUnifiedContent(spark, docs,
          reqDocs.select(col("doc_id").as("req_id"), col("text")),
          Multimodal.synthBmpPayload(reqDocs),
          Multimodal.synthWavPayload(reqDocs),
          Multimodal.synthVideoPayload(reqDocs),
          "graft_example_tb", "graft_example_ts", "graft_example_phidx",
          "graft_example_aidx", "graft_example_vidx")
        .groupBy("modality", "status").count()
        .orderBy("modality", "status").show()
      CorpusOps.funnelWriteState(docs.filter(col("doc_id") % 10 =!= 0),
        "graft_example_ffp", "graft_example_fb", "graft_example_fs",
        "graft_example_fsp", buckets = 4)
      val inc = docs.filter(col("doc_id") % 10 === 0)
      // an at-least-once replay: the same increment admitted twice
      (1 to 2).foreach { _ =>
        CorpusOps.funnelStateAppend(inc, "graft_example_ffp",
          "graft_example_fb", "graft_example_fs", "graft_example_fsp")
      }
      val bloated = spark.table("graft_example_ffp").count()
      CorpusOps.funnelStateCompact(spark, "graft_example_ffp",
        "graft_example_fb", "graft_example_fs", "graft_example_fsp")
      println(s"[example] funnel-state compaction: fp universe $bloated" +
        s" rows bloated by the replay -> " +
        s"${spark.table("graft_example_ffp").count()} after compact")
      // RTBF lifecycle on the funnel state itself: forget is one
      // O(tombstones) ledger append (ghosts stop matching immediately);
      // the next compact physically purges the retired rows
      CorpusOps.funnelStateForget(spark, inc.select("doc_id"),
        "graft_example_ffp", "graft_example_fb", "graft_example_fs",
        "graft_example_fsp")
      CorpusOps.funnelStateCompact(spark, "graft_example_ffp",
        "graft_example_fb", "graft_example_fs", "graft_example_fsp")
      println(s"[example] funnel-state RTBF: the replayed increment's " +
        s"ids tombstoned -> fp universe " +
        s"${spark.table("graft_example_ffp").count()} rows after the " +
        "purge compact (back to the pre-admit corpus)")
      val beforeForget = spark.table("graft_example_phidx").count()
      Multimodal.mediaIndexForget(spark, "graft_example_phidx",
        docs.filter(col("doc_id") % 10 === 8).select("doc_id"))
      println(s"[example] index forget (RTBF lifecycle): phash index " +
        s"$beforeForget assets -> " +
        s"${spark.table("graft_example_phidx").count()} after the " +
        "%10==8 tombstones leave the serving index")
    }

    // streaming sessionization with custom keyed state
    {
      import graft.streaming.Sessionize
      import graft.streaming.Sessionize._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.Trigger
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[Evt]
      def ts(sec: Long) = new java.sql.Timestamp((100000 + sec) * 1000)
      val q = Sessionize.sessions(
        input.toDS().withWatermark("ts", "0 seconds"), gapSeconds = 600)
        .writeStream.outputMode("append").format("memory")
        .queryName("example_sessions").trigger(Trigger.ProcessingTime(0))
        .start()
      input.addData(Seq(Evt(1, ts(0), 1.0), Evt(1, ts(10), 2.0),
        Evt(1, ts(2000), 4.0), Evt(2, ts(1990), 8.0)))
      q.processAllAvailable()
      input.addData(Seq(Evt(3, ts(10000), 0.0)))
      q.processAllAvailable()
      q.stop()
      println("[example] streaming sessions:")
      spark.sql("SELECT * FROM example_sessions ORDER BY user_id").show()
    }
    spark.stop()
  }
}
