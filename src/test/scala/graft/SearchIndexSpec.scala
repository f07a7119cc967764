package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.TextAnalysis

class SearchIndexSpec extends SparkTestBase {

  private val terms = Seq("hash", "join", "window")

  /** The catalogue's bucket spec (columns, count, sort columns). */
  private def bucketSpec(t: String) =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t)).bucketSpec

  test("bm25Indexed equals the inline bm25Search bit-for-bit; the probe " +
    "prunes to the query terms' buckets; append equals rebuild") {
    val s = spark
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    try {
      // full build → probe ≡ inline scan (scores AND order)
      TextAnalysis.searchWriteIndex(docs, "srch_p", "srch_s", buckets = 8)
      val inline = TextAnalysis.bm25Search(docs, terms, k = 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val probe = TextAnalysis.bm25Indexed(s, terms, "srch_p", "srch_s",
        k = 10)
      val indexed = probe.collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(indexed == inline)
      // bucket pruning: the isin filter selects at most |terms| of the 8
      // buckets — the physical scan says so explicitly
      val plan = probe.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of 8".r
        .findFirstMatchIn(plan)
      assert(sel.nonEmpty, s"no bucket pruning in plan:\n$plan")
      assert(sel.get.group(1).toInt <= terms.size)

      // maintenance: 9/10 build + 1/10 append ≡ the full build's probe
      TextAnalysis.searchWriteIndex(docs.filter(col("doc_id") % 10 =!= 0),
        "srch_ap", "srch_as", buckets = 8)
      val built = bucketSpec("srch_ap")
      TextAnalysis.searchIndexAppend(s,
        docs.filter(col("doc_id") % 10 === 0), "srch_ap", "srch_as")
      assert(bucketSpec("srch_ap") == built && built.nonEmpty)
      val appended = TextAnalysis.bm25Indexed(s, terms, "srch_ap",
        "srch_as", k = 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(appended == inline)
    } finally {
      Seq("srch_p", "srch_s", "srch_ap", "srch_as")
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("StreamingSearch: base + atomically-committed delta serves probes " +
    "row-identical to the inline scan; a replayed batch no-ops; the " +
    "streaming wiring holds end-to-end") {
    import graft.streaming.StreamingSearch
    val s = spark
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val b0 = docs.filter(col("doc_id") % 10 === 0 &&
      col("doc_id") % 20 === 0)
    val b1 = docs.filter(col("doc_id") % 10 === 0 &&
      col("doc_id") % 20 =!= 0)
    val deltaDir = tmpDir("search_delta")
    try {
      TextAnalysis.searchWriteIndex(base, "srch_sp", "srch_ss",
        buckets = 8)
      // base-only probe ≡ inline over the base corpus
      val baseInline = TextAnalysis.bm25Search(base, terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val baseProbe = StreamingSearch.probe(s, "srch_sp", "srch_ss",
        deltaDir, terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(baseProbe == baseInline)
      // two delta batches land; probe ≡ inline over the FULL corpus
      assert(StreamingSearch.applyBatch(s, deltaDir, b0, 0L))
      assert(StreamingSearch.applyBatch(s, deltaDir, b1, 1L))
      val fullInline = TextAnalysis.bm25Search(docs, terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      def probeNow() = StreamingSearch.probe(s, "srch_sp", "srch_ss",
        deltaDir, terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(probeNow() == fullInline)
      // replayed batch refuses and changes nothing
      assert(!StreamingSearch.applyBatch(s, deltaDir, b1, 1L))
      assert(probeNow() == fullInline)
      // streaming wiring over a MemoryStream: same batches, same result
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val ctx = s.sqlContext
      import s.implicits._
      val in = MemoryStream[(Long, String, String, String, Long)]
      val deltaDir2 = tmpDir("search_delta2")
      val q = StreamingSearch.maintain(
        in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
        deltaDir2, tmpDir("search_ckpt"), Trigger.ProcessingTime(0))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2), r.getString(3), r.getLong(4))).toSeq
      in.addData(rows(b0.select("doc_id", "text", "lang", "source",
        "n_chars")))
      q.processAllAvailable()
      in.addData(rows(b1.select("doc_id", "text", "lang", "source",
        "n_chars")))
      q.processAllAvailable()
      q.stop()
      val streamed = StreamingSearch.probe(s, "srch_sp", "srch_ss",
        deltaDir2, terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(streamed == fullInline)
    } finally {
      Seq("srch_sp", "srch_ss")
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("LSM compaction: re-running searchWriteIndex over the full corpus " +
    "and dropping the delta serves probes BIT-IDENTICAL to the " +
    "pre-compaction base+delta probe — the documented compaction " +
    "contract, proven instead of claimed") {
    import graft.streaming.StreamingSearch
    val s = spark
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val base = docs.filter(col("doc_id") % 10 =!= 0)
    val delta = docs.filter(col("doc_id") % 10 === 0)
    val deltaDir = tmpDir("search_compact_delta")
    try {
      TextAnalysis.searchWriteIndex(base, "srch_cp", "srch_cs",
        buckets = 8)
      assert(StreamingSearch.applyBatch(s, deltaDir, delta, 0L))
      def probe() = StreamingSearch.probe(s, "srch_cp", "srch_cs",
        deltaDir, terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val before = probe()
      // COMPACT: fold the delta into the bucketed base (the batch job
      // the StreamingSearch scaladoc names), then drop the delta dir
      TextAnalysis.searchWriteIndex(docs, "srch_cp", "srch_cs",
        buckets = 8)
      val f = new org.apache.hadoop.fs.Path(deltaDir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      f.delete(new org.apache.hadoop.fs.Path(deltaDir), true)
      val after = probe()
      assert(after == before, "compaction changed probe results")
      // and the compacted probe is fully bucket-pruned again (no delta
      // side paying the unbucketed shuffle)
      val plan = StreamingSearch.probe(s, "srch_cp", "srch_cs", deltaDir,
        terms, k = 10).queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"),
        s"compacted probe lost bucket pruning:\n$plan")
    } finally {
      Seq("srch_cp", "srch_cs")
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("winnow index lifecycle: the fp-bucketed persisted selection " +
    "serves winnowPairsIndexed row-identical to the inline op; a " +
    "9/10-build + 1/10-append equals the full build; the probe joins " +
    "ride the bucket layout with no fp exchange") {
    val s = spark
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    try {
      TextAnalysis.winnowWriteIndex(docs, "srch_wn", buckets = 8)
      TextAnalysis.winnowWriteIndex(docs.filter(col("doc_id") % 10 =!= 0),
        "srch_wna", buckets = 8)
      TextAnalysis.winnowIndexAppend(docs.filter(col("doc_id") % 10 === 0),
        "srch_wna")
      // a non-default build: the append selects with the index's own
      // gram/window, not the defaults
      TextAnalysis.winnowWriteIndex(docs, "srch_wn5", gram = 5, window = 3,
        buckets = 8)
      TextAnalysis.winnowWriteIndex(docs.filter(col("doc_id") % 10 =!= 0),
        "srch_wna5", gram = 5, window = 3, buckets = 8)
      TextAnalysis.winnowIndexAppend(docs.filter(col("doc_id") % 10 === 0),
        "srch_wna5")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sorted.toSeq
      val inline = rows(TextAnalysis.winnowPairs(docs))
      assert(inline.nonEmpty, "the corpus must contain winnow matches")
      val probe = TextAnalysis.winnowPairsIndexed(s, "srch_wn")
      assert(rows(probe) == inline)
      assert(rows(TextAnalysis.winnowPairsIndexed(s, "srch_wna"))
        == inline, "append must equal rebuild")
      assert(rows(TextAnalysis.winnowPairsIndexed(s, "srch_wna5"))
        == rows(TextAnalysis.winnowPairsIndexed(s, "srch_wn5")),
        "an append onto a gram=5/window=3 build must equal that build")
      assert(TextAnalysis.winnowIndexAudit(s, "srch_wn")
        .select("n_buckets").head().getInt(0) === 8,
        "the audit reports the catalogue's bucket count")
      // the fp-keyed census and self-join reuse the bucket layout: the
      // executed plan carries NO hash exchange on fp (only the final
      // (doc_a, doc_b) aggregate may shuffle)
      probe.collect()
      val plan = graft.operators.Bucketing.fullPlanString(probe)
      val fpExchanges = plan.linesIterator
        .filter(l => l.contains("Exchange") && l.contains("fp#"))
        .toSeq
      assert(fpExchanges.isEmpty,
        s"indexed winnow probe shuffles on fp:\n$plan")
    } finally {
      Seq("srch_wn", "srch_wna", "srch_wn5", "srch_wna5")
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("index FORGET: search and winnow indexes forget a doc slice and " +
    "serve bit-identically to never-held builds — postings row-for-row, " +
    "stats re-derived, BM25 scores shifted exactly as a rebuild would") {
    val s = spark
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    try {
      // search: full build, forget the %10==0 slice ≡ build without it
      TextAnalysis.searchWriteIndex(docs, "srch_fp", "srch_fs",
        buckets = 8)
      val built = bucketSpec("srch_fp")
      TextAnalysis.searchIndexForget(s, "srch_fp", "srch_fs",
        docs.filter(col("doc_id") % 10 === 0).select("doc_id"))
      assert(bucketSpec("srch_fp") == built && built.nonEmpty)
      TextAnalysis.searchWriteIndex(docs.filter(col("doc_id") % 10 =!= 0),
        "srch_rp", "srch_rs", buckets = 8)
      val got = TextAnalysis.bm25Indexed(s, terms, "srch_fp", "srch_fs",
        k = 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val ref = TextAnalysis.bm25Indexed(s, terms, "srch_rp", "srch_rs",
        k = 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == ref, "forgotten index must serve the never-held BM25")
      assert(got.nonEmpty && got.forall(_._1 % 10 != 0))
      assert(s.table("srch_fs").collect().head.toString ===
        s.table("srch_rs").collect().head.toString,
        "stats must re-derive to the never-held totals")
      // winnow: same round trip, row-for-row through the pair probe
      TextAnalysis.winnowWriteIndex(docs, "srch_fw", buckets = 8)
      TextAnalysis.winnowIndexForget(s, "srch_fw",
        docs.filter(col("doc_id") % 10 === 0).select("doc_id"))
      TextAnalysis.winnowWriteIndex(docs.filter(col("doc_id") % 10 =!= 0),
        "srch_rw", buckets = 8)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sorted.toSeq
      assert(rows(TextAnalysis.winnowPairsIndexed(s, "srch_fw")) ==
        rows(TextAnalysis.winnowPairsIndexed(s, "srch_rw")))
      assert(s.table("srch_fw").collect().map(_.toString).sorted.toSeq ===
        s.table("srch_rw").collect().map(_.toString).sorted.toSeq,
        "forgotten winnow index must equal the never-held build")
    } finally {
      Seq("srch_fp", "srch_fs", "srch_rp", "srch_rs", "srch_fw",
        "srch_rw").foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("searchIndexForget with a FULL tombstone set (r17, advisor fix): " +
    "stats re-derive to exact (0, 0) — not (0, NULL), which " +
    "null-poisoned the avgdl/idf arithmetic — and the BM25 probe " +
    "serves the honest empty result") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "hash join window"), (2L, "hash other words"))
      .map { case (i, t) => (i, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    try {
      TextAnalysis.searchWriteIndex(docs, "srch_ep", "srch_es",
        buckets = 2)
      TextAnalysis.searchIndexForget(s, "srch_ep", "srch_es",
        docs.select("doc_id"))
      val st = s.table("srch_es").collect().head
      assert(st.getLong(0) === 0L && !st.isNullAt(1) &&
        st.getLong(1) === 0L, "stats must read (0, 0), never (0, NULL)")
      assert(s.table("srch_ep").count() === 0L)
      assert(TextAnalysis.bm25Indexed(s, terms, "srch_ep", "srch_es",
        k = 10).count() === 0L,
        "a fully-forgotten index serves empty, not null-poisoned rows")
    } finally {
      Seq("srch_ep", "srch_es")
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("searchIndexAppend keeps the stats additive: one-row table holds " +
    "exact corpus totals after the append") {
    val s = spark
    import s.implicits._
    val mk = (ids: Seq[Long]) => ids.map(i =>
      (i, s"w$i x y", "en", "srcA", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    try {
      TextAnalysis.searchWriteIndex(mk(Seq(1L, 2L)), "srch_p2", "srch_s2",
        buckets = 2)
      TextAnalysis.searchIndexAppend(s, mk(Seq(3L)), "srch_p2", "srch_s2")
      val st = s.table("srch_s2").collect().head
      assert(st.getLong(0) == 3L && st.getLong(1) == 9L) // 3 docs × 3 toks
    } finally {
      Seq("srch_p2", "srch_s2")
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
