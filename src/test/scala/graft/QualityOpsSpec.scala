package graft

import org.apache.spark.sql.functions._
import graft.operators.{CorpusOps, DataQuality, Dedup, Timeseries}

/** Round-12 warehouse-health additions: gap-filled resampling + the
  * integer z-score anomaly scan (Timeseries.scala), FK orphan audit and
  * column profiler (DataQuality.scala), and takedown propagation
  * (Dedup.takedownStatus/Audit). */
class QualityOpsSpec extends SparkTestBase {

  private def ts(ms: Long) = new java.sql.Timestamp(ms)

  test("Timeseries.hourlyGapfill: empty hours materialize as exact " +
    "zeros on the shared min..max grid; counts land in their hour") {
    val s = spark
    import s.implicits._
    val h = 3600L * 1000
    // type a: events in hours 0 and 2 (hour 1 is the gap); type b: only
    // hour 1 — the shared grid still gives b hours 0 and 2 as zeros
    val events = Seq(
      (ts(10L), "a"), (ts(20L), "a"), (ts(2 * h + 1), "a"),
      (ts(h + 5), "b")
    ).toDF("ts", "event_type")
    val out = Timeseries.hourlyGapfill(events)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    assert(out === Seq(
      ("a", 0L, 2L), ("a", h, 0L), ("a", 2 * h, 1L),
      ("b", 0L, 0L), ("b", h, 1L), ("b", 2 * h, 0L)))
  }

  test("Timeseries.rateAnomaly: a spike over a steady baseline flags; " +
    "the baseline itself and warm-up rows (w < minWindow) do not; " +
    "zero-variance baselines flag ANY deviation") {
    val s = spark
    import s.implicits._
    val h = 3600L * 1000
    // 13 hours: 12 at exactly 2 events, hour 13 at 9 events. With
    // window=12, minWindow=12 only the last row has a full baseline;
    // σ=0 there, so the spike must flag via dev2 > 0 = bound.
    val rows = (0 until 12).flatMap(i =>
      Seq.fill(2)((ts(i * h + 1), "a"))) ++
      Seq.fill(9)((ts(12 * h + 1), "a"))
    val out = Timeseries.rateAnomaly(rows.toDF("ts", "event_type"))
      .collect()
      .map(r => (r.getLong(1) / h, r.getLong(2), r.getLong(3),
        r.getLong(6)))
      .sortBy(_._1)
    assert(out.map(_._4).sum === 1L, "exactly one flagged row")
    val spike = out.last
    assert(spike === ((12L, 9L, 12L, 1L)))
    // warm-up rows carry their true w and never flag
    assert(out.init.forall(r => r._3 < 12L && r._4 === 0L))
  }

  test("Timeseries.cusumOnGrid: the windowed closed form equals Page's " +
    "literal max(0,·) recursion; a constant series stays at exactly 0") {
    val s = spark
    import s.implicits._
    val h = 3600L * 1000
    val counts = Seq(5L, 5L, 5L, 9L, 9L, 1L, 5L, 14L, 0L, 5L)
    val grid = counts.zipWithIndex
      .map { case (n, i) => ("a", i * h, n) }
      .toDF("event_type", "hour_ms", "n")
    val out = Timeseries.cusumOnGrid(grid).collect()
      .map(r => (r.getLong(1) / h, r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    // literal recursion, same integer units
    val mu = 1000000L * counts.sum / counts.length
    val k = mu / 20
    val expUp = counts.scanLeft(0L) { (sp, x) =>
      math.max(0L, sp + (1000000L * x - mu - k))
    }.tail
    val expDn = counts.scanLeft(0L) { (sn, x) =>
      math.max(0L, sn + (mu - k - 1000000L * x))
    }.tail
    assert(out.map(_._2).toSeq == expUp)
    assert(out.map(_._3).toSeq == expDn)
    // exactly-at-mean series: both sums pinned to zero, no alarms
    val flat = (0 until 6).map(i => ("b", i * h, 7L))
      .toDF("event_type", "hour_ms", "n")
    val fl = Timeseries.cusumOnGrid(flat).collect()
    assert(fl.forall(r => r.getLong(3) == 0L && r.getLong(4) == 0L &&
      r.getLong(5) == 0L && r.getLong(6) == 0L))
  }

  test("Timeseries.cusum: a persistent small level shift alarms even " +
    "though no single hour is a point outlier") {
    val s = spark
    import s.implicits._
    val h = 3600L * 1000
    // 20/h for 24 hours, then 29/h for 24 hours: no shifted hour clears
    // the mixed-series mean by even 1σ of the mixed series (|29−24.5| ≈
    // 4.5 (sd), so a 3σ point test on the global baseline stays silent),
    // but the drift accumulates ~3.3e6/h and crosses h = 2μ mid-way
    // through the second half; never inside the first
    val rows = (0 until 24).flatMap(i =>
      Seq.fill(20)((ts(i * h + 1), "a"))) ++
      (24 until 48).flatMap(i => Seq.fill(29)((ts(i * h + 1), "a")))
    val out = Timeseries.cusum(rows.toDF("ts", "event_type")).collect()
      .map(r => (r.getLong(1) / h, r.getLong(5)))
      .sortBy(_._1)
    assert(out.take(24).forall(_._2 == 0L), "no alarm before the shift")
    assert(out.drop(24).exists(_._2 == 1L), "the shift alarms")
  }

  test("TextAnalysis.dpNoisyCounts: seeded draw is deterministic, moves " +
    "with the salt, and scales as 1/epsilon") {
    import graft.operators.TextAnalysis
    val s = spark
    import s.implicits._
    val docs = (1 to 40).map(i =>
      (i.toLong, "t", "en", s"src${i % 4}", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def draw(epsNum: Int, salt: String) =
      TextAnalysis.dpNoisyCounts(docs, epsNum = epsNum, salt = salt)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val a = draw(1, "dp1"); val b = draw(1, "dp1"); val c = draw(1, "dp2")
    assert(a == b, "same seed, same release")
    assert(a != c, "a fresh salt is a fresh draw")
    assert(a.values.exists(_ != 0L), "noise actually lands")
    // epsilon doubling halves the Laplace scale: each micro-noise pair
    // differs from exact halving only by the two roundings (<= 1 unit)
    val half = draw(2, "dp1")
    assert(a.keySet == half.keySet)
    a.foreach { case (src, n1) =>
      assert(math.abs(2 * half(src) - n1) <= 1L, s"$src: $n1 vs ${half(src)}")
    }
    // released value is exact integer bookkeeping on top of the noise
    val rows = TextAnalysis.dpNoisyCounts(docs).collect()
    rows.foreach { r =>
      assert(r.getLong(3) == r.getLong(1) * 1000000L + r.getLong(2))
    }
  }

  test("TextAnalysis.dpLedger: the refuse path — the first over-budget " +
    "release and everything after it is refused with zeroed draws, " +
    "spend freezes at the last granted total, granted rows release " +
    "under per-release salts, and a non-1e-6-exact epsilon throws") {
    import graft.operators.TextAnalysis
    val s = spark
    import s.implicits._
    val docs = (1 to 40).map(i =>
      (i.toLong, "t", "en", s"src${i % 4}", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // cums: 1.0, 1.5, 2.0, 3.0 against budget 2.0 -> T T T F
    val out = TextAnalysis.dpLedger(docs,
        releases = Seq((1, 1), (1, 2), (1, 2), (1, 1)),
        budgetNum = 2, budgetDen = 1)
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9)))
      .toMap
    assert(out.size == 16, "4 releases x 4 sources")
    val bySrc = out.groupBy(_._1._2)
    bySrc.foreach { case (_, rows) =>
      val seq = rows.toSeq.sortBy(_._1._1).map(_._2)
      // (n, eps, cum, granted, spent, remaining, noise, released)
      assert(seq.map(_._2) == Seq(1000000L, 500000L, 500000L, 1000000L))
      assert(seq.map(_._3) == Seq(1000000L, 1500000L, 2000000L, 3000000L))
      assert(seq.map(_._4) == Seq(1L, 1L, 1L, 0L), "release 4 refused")
      assert(seq.map(_._5) ==
        Seq(1000000L, 1500000L, 2000000L, 2000000L), "spend freezes")
      assert(seq.map(_._6) == Seq(1000000L, 500000L, 0L, 0L))
      // refused rows carry zeros under the gate
      assert(seq(3)._7 == 0L && seq(3)._8 == 0L)
      // granted rows: exact release bookkeeping + per-release fresh draws
      seq.take(3).foreach(r =>
        assert(r._8 == r._1 * 1000000L + r._7))
      assert(seq.take(3).map(_._7).distinct.size == 3,
        "per-release salts give distinct draws")
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.dpLedger(docs, releases = Seq((1, 3)))
    }
  }

  test("Dedup.takedownStatusIndexed: served off the persisted band/sets " +
    "index, row-identical to the batch operator on the same request " +
    "set — direct, exact re-post, near-dup mirror, kept") {
    val s = spark
    import s.implicits._
    val shared = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, shared, "en", "src1", 0L),
      (2L, shared, "en", "src1", 0L),
      (3L, shared + " tail", "en", "src2", 0L),
      (4L, "completely different words here entirely", "en", "src2", 0L),
      (11L, shared, "en", "src1", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val (bands, sets) = ("graft_takedown_bands", "graft_takedown_sets")
    s.sql(s"DROP TABLE IF EXISTS $bands")
    s.sql(s"DROP TABLE IF EXISTS $sets")
    try {
      Dedup.nearDupWriteIndex(docs, bands, sets, buckets = 4)
      val tombs = Seq(1L, 11L).toDF("doc_id")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2))).sorted.toSeq
      assert(rows(Dedup.takedownStatusIndexed(s, docs, tombs, bands, sets))
        == rows(Dedup.takedownStatus(docs, tombs)))
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $bands")
      s.sql(s"DROP TABLE IF EXISTS $sets")
    }
  }

  test("TextAnalysis.compressionRatio: repetition compresses far below " +
    "prose; deterministic across runs; empty text pinned; bytes exact") {
    import graft.operators.TextAnalysis
    val s = spark
    import s.implicits._
    val repetitive = Seq.fill(200)("spam").mkString(" ")
    val prose = (1 to 200).map(i => f"unique$i%03d").mkString(" ")
    val docs = Seq(
      (1L, repetitive), (2L, prose), (3L, ""))
      .map { case (id, t) => (id, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def run() = TextAnalysis.compressionRatio(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    val a = run()
    assert(a == run(), "bit-deterministic")
    assert(a(1L)._1 == repetitive.getBytes("UTF-8").length.toLong)
    assert(a(3L)._1 == 0L && a(3L)._3 == 10000L) // empty: stream header
    // bytes only; ratio pinned — empty is not "infinitely incompressible"
    val rRep = a(1L)._3; val rProse = a(2L)._3
    assert(rRep < rProse / 3,
      s"repetition ($rRep) must compress far below prose ($rProse)")
    assert(rProse < 10000L, "even prose-ish text compresses some")
  }

  test("CorpusOps.reshardPlan: counts match a brute-force rendezvous " +
    "computation and every HRW move lands on the NEW shard") {
    import graft.operators.CorpusOps
    val s = spark
    import s.implicits._
    val ids = (1L to 300L)
    val docs = ids.map(i => (i, "t", "en", "srcA", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    def hrw(id: Long, n: Int): Int =
      (0 until n).maxBy(sh => md5hex(s"$id#$sh"))
    val bruteMovedIds = ids.filter(i => hrw(i, 7) != hrw(i, 8))
    // the defining HRW property: a key only moves to claim the NEW shard
    assert(bruteMovedIds.forall(i => hrw(i, 8) == 7))
    val modMoved = ids.count(i => i % 7 != i % 8)
    val out = CorpusOps.reshardPlan(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    assert(out("hrw") == ((300L, bruteMovedIds.size.toLong,
      10000L * bruteMovedIds.size / 300, 1250L)))
    assert(out("mod") == ((300L, modMoved.toLong,
      10000L * modMoved / 300, 8750L)))
  }

  test("CorpusOps.ksBySource: identical distributions read exactly 0; " +
    "a shifted source matches the brute-force max EDF gap") {
    import graft.operators.CorpusOps
    val s = spark
    import s.implicits._
    // srcA and srcB share one histogram {10×4, 20×4}; srcC sits shifted
    val lens = Seq.fill(4)(10L) ++ Seq.fill(4)(20L)
    val rows =
      lens.zipWithIndex.map { case (l, i) => (i.toLong, "srcA", l) } ++
      lens.zipWithIndex.map { case (l, i) => (100L + i, "srcB", l) } ++
      Seq.tabulate(8)(i => (200L + i, "srcC", 30L))
    val docs = rows.map { case (id, src, n) => (id, "t", "en", src, n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = CorpusOps.ksBySource(docs).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    // brute force per source: max over values of the integer EDF gap
    val all = rows.map { case (_, src, n) => (src, n) }
    val values = all.map(_._2).distinct.sorted
    def brute(src: String): Long = {
      val ns = all.count(_._1 == src); val nr = all.size - ns
      val d = values.map { v =>
        val cs = all.count(t => t._1 == src && t._2 <= v)
        val cr = all.count(t => t._1 != src && t._2 <= v)
        math.abs(cs.toLong * nr - cr.toLong * ns)
      }.max
      10000L * d / (ns.toLong * nr)
    }
    assert(out("srcA") == brute("srcA") && out("srcC") == brute("srcC"))
    // A vs (B ∪ C): B is identical to A, C is disjoint — gap is C's mass;
    // the exactly-0 case needs rest ≡ source, i.e. two sources only
    val two = docs.filter(col("source") =!= "srcC")
    val outTwo = CorpusOps.ksBySource(two).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(outTwo == Map("srcA" -> 0L, "srcB" -> 0L))
  }

  test("Dedup.normDedupDelta: case/markup/whitespace variants hash apart " +
    "raw and together normalized — the delta is the silently-kept mass") {
    import graft.operators.Dedup
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "Hello  World"),
      (2L, "hello world"),
      (3L, "<b>hello</b> world"),
      (4L, "something else"),
      (5L, "something else")) // one RAW duplicate pair too
      .map { case (id, t) => (id, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.normDedupDelta(docs).collect().head
    // raw: 4 groups, 1 dup group of 2; normalized: 2 groups — the hello
    // trio collapses (3 docs) and the raw pair stays (2 docs)
    assert(r.getLong(0) == 4 && r.getLong(1) == 1 && r.getLong(2) == 2)
    assert(r.getLong(3) == 2 && r.getLong(4) == 2 && r.getLong(5) == 5)
    assert(r.getLong(6) == 3) // extra_dup_docs
  }

  test("DataQuality.fkAudit: consistent FK reads zero orphans; a " +
    "damaged parent counts exactly the orphaned children; null FKs " +
    "are counted but never orphans") {
    val s = spark
    import s.implicits._
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(Some(1L), Some(1L), Some(2L), Some(9L), None)
      .toDF("fk")
    val out = DataQuality.fkAudit(Seq(
      DataQuality.FkRel("ok", child.filter(col("fk") =!= 9L ||
        col("fk").isNull), col("fk"), parent, col("pk")),
      DataQuality.FkRel("damaged", child, col("fk"), parent, col("pk"))))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1)
    // damaged: 5 children, 1 null fk, 1 orphan (fk=9), share 2000e-4
    assert(out === Seq(
      ("damaged", 5L, 1L, 2000L, 1L),
      ("ok", 4L, 1L, 0L, 0L)))
  }

  test("DataQuality.columnProfile: nulls, exact distincts, and min/max " +
    "per column off one scan; null-only columns profile sanely") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Some(3L), Some("b")), (Some(1L), Some("a")), (Some(3L), None),
      (None, Some("a"))
    ).toDF("num", "txt")
    val out = DataQuality.columnProfile(df,
        Seq("num" -> col("num"), "txt" -> col("txt")))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5))).sortBy(_._1)
    assert(out === Seq(
      ("num", 4L, 1L, 2L, "1", "3"),
      ("txt", 4L, 1L, 2L, "a", "b")))
  }

  test("Dedup.takedownStatus: direct tombstones, exact re-posts, and " +
    "near-dup mirrors all leave; direct wins over copy when both " +
    "apply; unrelated docs are kept — and the audit rolls it up") {
    val s = spark
    import s.implicits._
    val shared = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, shared, "en", "src1", 0L),              // tombstoned
      (2L, shared, "en", "src1", 0L),              // exact re-post of 1
      (3L, shared + " tail", "en", "src2", 0L),    // near-dup mirror of 1
      (4L, "completely different words here entirely", "en", "src2", 0L),
      (11L, shared, "en", "src1", 0L)              // tombstoned AND a copy
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val tombs = Seq(1L, 11L).toDF("doc_id")
    val st = Dedup.takedownStatus(docs, tombs)
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(st === Map(
      1L -> "removed_direct", 11L -> "removed_direct",
      2L -> "removed_copy", 3L -> "removed_copy", 4L -> "kept"))
    val audit = Dedup.takedownAudit(docs, tombs)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1)
    assert(audit === Seq(
      ("src1", 3L, 2L, 1L, 0L, 0L),
      ("src2", 2L, 0L, 1L, 1L, 5000L)))
  }

  test("Dedup.contaminationRadius: BFS discovers each doc at its FIRST " +
    "hop, seeds stay hop 0, docs beyond `hops` stay unreached") {
    val s = spark
    import s.implicits._
    // an ACCUMULATING-diff chain: doc k carries k-1 single-token edits,
    // so consecutive docs differ in exactly 1 token (Jaccard ~0.85,
    // above threshold) while docs 2+ apart differ in >=2 well-separated
    // tokens (~0.73, below) — a genuine path graph 1-2-3-4. d9 isolated.
    val base = (1 to 40).map(i => s"w$i").toArray
    def doc(id: Long, edits: Int) = {
      val t = base.clone()
      (1 to edits).foreach(e => t(10 * e - 1) = s"x$e")
      (id, t.mkString(" "), "en", "s", 0L)
    }
    val docs = Seq(doc(1, 0), doc(2, 1), doc(3, 2), doc(4, 3),
      (9L, "nothing in common with anything else at all", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.contaminationRadius(docs, Seq(1L).toDF("doc_id"),
        hops = 3, jaccardThreshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L),
      "each doc discovered at its FIRST hop; the isolated doc unreached")
    // a truncated walk is a prefix of the full walk
    val h1 = Dedup.contaminationRadius(docs, Seq(1L).toDF("doc_id"),
        hops = 1, jaccardThreshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(h1 === Map(1L -> 0L, 2L -> 1L))
  }

  test("CorpusOps.temperatureQuotas: quotas sum to exactly the budget, " +
    "weights are exact integer sqrts, small strata are up-weighted") {
    val s = spark
    import s.implicits._
    // strata 144/25/4 docs: isqrt weights 12/5/2
    val docs = ((1 to 144).map(i => (i.toLong, "a", "big")) ++
      (1 to 25).map(i => (1000L + i, "a", "mid")) ++
      (1 to 4).map(i => (2000L + i, "a", "tiny")))
      .map { case (id, t, l) => (id, t, l, "s", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = CorpusOps.temperatureQuotas(docs, budget = 19L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1)
    assert(out.map(_._4).sum === 19L, "quotas sum to the budget exactly")
    val byLang = out.map(t => t._1 -> t).toMap
    assert(byLang("big")._3 === 12L)
    assert(byLang("mid")._3 === 5L)
    assert(byLang("tiny")._3 === 2L)
    // 19 * 12/19 = 12 exactly, 19 * 5/19 = 5, 19 * 2/19 = 2: exact seats
    assert(byLang("big")._4 === 12L)
    assert(byLang("mid")._4 === 5L)
    assert(byLang("tiny")._4 === 2L)
    // up-weighting: tiny's sampled share exceeds its raw share
    assert(byLang("tiny")._6 > byLang("tiny")._5)
    assert(byLang("big")._6 < byLang("big")._5)
  }

  test("TextAnalysis.lDiversity: a homogeneous group is caught even at " +
    "healthy k; diverse groups pass; the rollup counts docs at risk") {
    val s = spark
    import s.implicits._
    import graft.operators.TextAnalysis
    // group (s1, 0): 3 docs, langs {en, fr, de} — l=3. group (s2, 0):
    // 4 docs all 'en' — k-healthy but l=1, the homogeneity leak.
    val docs = Seq(
      (1L, "a", "en", "s1", 10L), (2L, "a", "fr", "s1", 20L),
      (3L, "a", "de", "s1", 30L),
      (4L, "a", "en", "s2", 10L), (5L, "a", "en", "s2", 20L),
      (6L, "a", "en", "s2", 30L), (7L, "a", "en", "s2", 40L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.lDiversity(docs, l = 2,
        quasiCols = Seq(col("source")))
      .collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2),
      out.getLong(3), out.getLong(4), out.getDouble(5)) ===
      ((2L, 2L, 1L, 1L, 4L, 0.5714)))
  }

  test("CorpusOps.lengthOutliersMad: exact lower-median selection; an " +
    "extreme value flags without dragging the median the way a mean " +
    "would; MAD of a constant-spread corpus is exact") {
    val s = spark
    import s.implicits._
    // lengths 10,10,10,12,12,1000: n=6, rank (6+1) div 2 = 3 → med=10;
    // devs 0,0,0,2,2,990 → MAD (rank 3) = 0... constant MAD 0 flags any
    // deviation — use a spread: 10,12,14,16,18,1000: med(rank 3)=14,
    // devs 4,2,0,2,4,986 sorted 0,2,2,4,4,986 → MAD=2; 3*MAD=6: only
    // 986 flags
    val docs = Seq(10L, 12L, 14L, 16L, 18L, 1000L).zipWithIndex
      .map { case (n, i) => (i.toLong, "t", "en", "s", n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = CorpusOps.lengthOutliersMad(docs)
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).sortBy(_._1)
    assert(out.forall(r => r._3 === 14L && r._4 === 2L))
    assert(out.map(_._5).toSeq === Seq(0L, 0L, 0L, 0L, 0L, 1L))
    assert(out.last === ((1000L, 986L, 14L, 2L, 1L)))
  }

  test("Skew.keySkewReport: a hot key is identified with its exact " +
    "share and skew factor; a uniform key space reads skew_e4 = 10000") {
    val s = spark
    import s.implicits._
    import graft.operators.Skew
    // keys: 7 appears 6x, 1..4 once each → n=10, keys=5, max=6,
    // mean=2, skew=3.0, p99 rank ceil(99*5/100)=5 → 5th count value = 6
    val hot = (Seq.fill(6)(7L) ++ Seq(1L, 2L, 3L, 4L)).toDF("k")
    val r = Skew.keySkewReport(hot, col("k")).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6)) ===
      ((10L, 5L, 6L, 7L, 6L, 6000L, 30000L)))
    val uniform = (1L to 8L).toDF("k")
    val u = Skew.keySkewReport(uniform, col("k")).collect().head
    assert(u.getLong(6) === 10000L, "uniform keys read exactly 10000")
  }

  test("DataQuality.decileTable: exact rank selection at ceil(q*n/10); " +
    "a 10-value staircase reads its own values as deciles") {
    val s = spark
    import s.implicits._
    // values 10..100 step 10, n=10: decile d has rank ceil(d) = d → the
    // d-th smallest value = 10*d
    val vals = (1 to 10).map(i => i * 10L).toDF("v")
    val out = DataQuality.decileTable(vals, "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(out === (1 to 9).map(d => (d.toLong, d.toLong, d * 10L)))
  }

  test("DataQuality.spearman: ±1 on perfect monotone/inverse data; the " +
    "tie-averaged rank case matches the hand-computed Pearson-on-ranks") {
    val s = spark
    import s.implicits._
    def rho(pairs: Seq[(Long, Long)]): Double =
      DataQuality.spearman(pairs.toDF("a", "b"), col("a"), col("b"))
        .collect().head.getDouble(1)
    assert(rho(Seq((1L, 5L), (2L, 7L), (3L, 9L), (4L, 11L))) === 1.0)
    assert(rho(Seq((1L, 11L), (2L, 9L), (3L, 7L), (4L, 5L))) === -1.0)
    // a=[1,2,2,3] (tie → average rank), b strictly increasing:
    // r2a=(2,5,5,8), r2b=(2,4,6,8) → rho = 72/(sqrt(72)*sqrt(80))
    assert(rho(Seq((1L, 10L), (2L, 20L), (2L, 30L), (3L, 40L)))
      === 0.9487)
  }

  test("Timeseries.gapReport: maximal zero-runs collapse into gaps " +
    "with exact length/start; a gap at the shared-grid edge counts; " +
    "a gapless type reports no row") {
    val s = spark
    import s.implicits._
    val h = 3600L * 1000
    // type a: events at hours 0,1, gap 2-4 (3h), event 5, gap 6, event 7
    // type b: every hour 0..7 — gapless, must NOT appear
    val rows = Seq(0L, 1L, 5L, 7L).map(i => (ts(i * h + 1), "a")) ++
      (0L to 7L).map(i => (ts(i * h + 2), "b"))
    val out = Timeseries.gapReport(rows.toDF("ts", "event_type"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq === Seq(("a", 2L, 3L, 4L, 2 * h)))
  }

  test("Dedup.dupEvidence: the k rarest SHARED shingles surface per " +
    "pair; a shingle unique to one side never appears; rank order is " +
    "(df asc, shingle asc)") {
    val s = spark
    import s.implicits._
    // two near-dup docs sharing 29 of 30 tokens; a third doc repeats a
    // few of their shingles to push those dfs to 2+ so rarity ranks bite
    val shared = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, shared, "en", "s", 0L),
      (2L, shared + " tail", "en", "s", 0L),
      (9L, "tok1 tok2 tok3 unrelated words here", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.dupEvidence(docs, k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4))).sortBy(_._5)
    assert(out.forall(r => r._1 == 1L && r._2 == 2L))
    assert(out.map(_._5).toSeq === Seq(1L, 2L, 3L))
    // all evidence shingles are genuinely shared (df counts both docs)
    assert(out.forall(_._4 >= 2L))
    // "tok1 tok2 tok3" lives in doc 9 too (df=3) — rarer df=2 shingles
    // must outrank it
    assert(!out.map(_._3).contains("tok1 tok2 tok3"))
    // rank 1 is the lexicographically-first df=2 shingle
    assert(out.head._3 === "tok10 tok11 tok12")
  }

  test("DataQuality.benfordAudit: digit shares and deltas against the " +
    "pinned expectations; non-positive values are excluded; a Benford-" +
    "perfect staircase reads near-zero deltas") {
    val s = spark
    import s.implicits._
    // 10000 values with first-digit counts EXACTLY at the e4 Benford
    // constants: delta must be 0 for every digit
    val counts = Seq(1 -> 3010, 2 -> 1760, 3 -> 1249, 4 -> 969, 5 -> 791,
      6 -> 669, 7 -> 579, 8 -> 511, 9 -> 457)
    val vals = counts.flatMap { case (d, c) =>
      Seq.fill(c)(d.toLong * 100) } ++ Seq(-5L, 0L) // excluded
    val out = DataQuality.benfordAudit(vals.toDF("v"), col("v"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1)
    assert(out.map(_._2).sum === 9995L)
    assert(out.forall(r => r._5 === r._3 - r._4))
    // n = 9995 (not 10000), so each share is floor(cnt·10000/9995):
    // digit 1 picks up +1 (3010·5/9995 > 1), every other digit floors
    // back to its pinned constant — deltas (1,0,0,...,0) exactly
    assert(out.map(_._5).toSeq === (1L +: Seq.fill(8)(0L)),
      "a Benford-perfect distribution reads ~zero deltas")
  }

  test("StreamingRate: the online report off the maintained count state " +
    "is row-identical to batch rateAnomaly over the full feed — " +
    "including a split mid-hour; a replayed batch id refuses") {
    import graft.streaming.StreamingRate
    import graft.operators.Timeseries
    val s = spark
    import s.implicits._
    val h = 3600L * 1000
    // the spike fixture: 12 steady hours at 2/hour, then 9 in hour 13.
    // Split so hour 5 STRADDLES the batch boundary (1 event in b0, 1 in
    // b1) — additive counts must make the split invisible.
    val all = (0 until 12).flatMap(i =>
      Seq.fill(2)((ts(i * h + 1), "a"))) ++
      Seq.fill(9)((ts(12 * h + 1), "a"))
    val (b0rows, b1rows) = (all.take(11), all.drop(11))
    val stateDir = tmpDir("rate_state")
    def df(rows: Seq[(java.sql.Timestamp, String)]) =
      rows.toDF("ts", "event_type")
    assert(StreamingRate.applyBatch(spark, stateDir, df(b0rows), 0L))
    assert(StreamingRate.applyBatch(spark, stateDir, df(b1rows), 1L))
    val live = StreamingRate.report(spark, stateDir)
      .orderBy("event_type", "hour_ms").collect().toSeq
    val full = Timeseries.rateAnomaly(df(all))
      .orderBy("event_type", "hour_ms").collect().toSeq
    assert(live === full, "online report ≡ batch rateAnomaly")
    assert(live.map(_.getLong(6)).sum === 1L, "the spike still flags")
    // the CUSUM view off the SAME state is row-identical to batch cusum
    val liveCusum = StreamingRate.cusumReport(spark, stateDir)
      .orderBy("event_type", "hour_ms").collect().toSeq
    val fullCusum = Timeseries.cusum(df(all))
      .orderBy("event_type", "hour_ms").collect().toSeq
    assert(liveCusum === fullCusum, "online cusum ≡ batch cusum")
    // replay refuses and leaves the report untouched
    assert(!StreamingRate.applyBatch(spark, stateDir, df(b1rows), 1L))
    assert(StreamingRate.report(spark, stateDir)
      .orderBy("event_type", "hour_ms").collect().toSeq === full)
    // and the streaming wiring end-to-end over a MemoryStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String)]
    val stateDir2 = tmpDir("rate_state2")
    val q = StreamingRate.maintain(
      in.toDF().toDF("ts", "event_type"),
      stateDir2, tmpDir("rate_ckpt"), Trigger.ProcessingTime(0))
    in.addData(b0rows)
    q.processAllAvailable()
    in.addData(b1rows)
    q.processAllAvailable()
    q.stop()
    assert(StreamingRate.report(spark, stateDir2)
      .orderBy("event_type", "hour_ms").collect().toSeq === full)
  }

  test("Similarity.rpProjected: the md5-derived sign matrix is fixed " +
    "±1; projection is exact signed sums; linearity holds") {
    val s = spark
    import s.implicits._
    import graft.operators.Similarity
    val signs = (0 until 16).map(j =>
      (1 to 4).map(i => Similarity.rpSign(j, i)))
    assert(signs.flatten.forall(v => v == 1.0 || v == -1.0))
    assert(signs.distinct.size > 1, "rows differ — a real matrix")
    // a 4-dim one-hot basis recovers the matrix columns exactly
    val basis = (0 until 4).map(d =>
      (d.toLong, Array.tabulate(4)(i => if (i == d) 1.0f else 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.rpProjected(basis, outDims = 16, inDims = 4)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    (0 until 4).foreach(d =>
      (0 until 16).foreach(j =>
        assert(out(d.toLong)(j) === Similarity.rpSign(j, d + 1),
          s"one-hot $d recovers column ${d + 1} of row $j")))
  }

  test("StreamingManifest: the online manifest off the maintained state " +
    "is row-identical to the batch manifest over everything ingested — " +
    "a source split across batches mod-adds its checksum; replay refuses") {
    import graft.streaming.StreamingManifest
    val s = spark
    import s.implicits._
    val all = Seq(
      (1L, "alpha beta", "en", "web"), (2L, "gamma delta", "en", "web"),
      (3L, "epsilon", "en", "wiki"), (4L, "zeta eta", "en", "web"))
    def df(rows: Seq[(Long, String, String, String)]) =
      rows.toDF("doc_id", "text", "lang", "source")
    // web straddles the batch boundary: 2 docs in b0, 1 in b1
    val (b0, b1) = (all.take(3), all.drop(3))
    val stateDir = tmpDir("manifest_state")
    assert(StreamingManifest.applyBatch(spark, stateDir, df(b0), 0L))
    assert(StreamingManifest.applyBatch(spark, stateDir, df(b1), 1L))
    val live = StreamingManifest.report(spark, stateDir)
      .orderBy("source").collect().toSeq
    val full = CorpusOps.manifest(df(all)).orderBy("source")
      .collect().toSeq
    assert(live === full, "online manifest ≡ batch manifest")
    // replay refuses and leaves the state untouched
    assert(!StreamingManifest.applyBatch(spark, stateDir, df(b1), 1L))
    assert(StreamingManifest.report(spark, stateDir)
      .orderBy("source").collect().toSeq === full)
    // streaming wiring end-to-end over a MemoryStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, String, String, String)]
    val stateDir2 = tmpDir("manifest_state2")
    val q = StreamingManifest.maintain(
      in.toDF().toDF("doc_id", "text", "lang", "source"),
      stateDir2, tmpDir("manifest_ckpt"), Trigger.ProcessingTime(0))
    in.addData(b0)
    q.processAllAvailable()
    in.addData(b1)
    q.processAllAvailable()
    q.stop()
    assert(StreamingManifest.report(spark, stateDir2)
      .orderBy("source").collect().toSeq === full)
  }

  test("StreamingRate.seasonalReport: the seasonal profile off the " +
    "maintained count state is row-identical to batch seasonalProfile " +
    "over the full feed") {
    import graft.streaming.StreamingRate
    val s = spark
    import s.implicits._
    val h = 3600L * 1000
    val week = 168 * h
    val all = (Seq.fill(3)(ts(10L)) :+ ts(week + 10L)).map((_, "a"))
    val (b0, b1) = (all.take(2), all.drop(2))
    def df(rows: Seq[(java.sql.Timestamp, String)]) =
      rows.toDF("ts", "event_type")
    val stateDir = tmpDir("seasonal_state")
    assert(StreamingRate.applyBatch(spark, stateDir, df(b0), 0L))
    assert(StreamingRate.applyBatch(spark, stateDir, df(b1), 1L))
    assert(StreamingRate.seasonalReport(spark, stateDir)
      .orderBy("event_type", "week_slot").collect().toSeq ===
      Timeseries.seasonalProfile(df(all))
        .orderBy("event_type", "week_slot").collect().toSeq)
  }

  test("TextAnalysis.splitStratified: every source contributes EXACTLY " +
    "floor(n*permille/1000) test docs; assignment is deterministic " +
    "under reordering/repartitioning; permille=0 sends everything to " +
    "train") {
    import graft.operators.TextAnalysis
    val s = spark
    import s.implicits._
    val docs = ((1 to 10).map(i => (i.toLong, "big")) ++
      (11 to 15).map(i => (i.toLong, "mid")) ++
      (16 to 18).map(i => (i.toLong, "tiny")))
      .map { case (id, src) => (id, s"text $id", "en", src) }
      .toDF("doc_id", "text", "lang", "source")
    val out = TextAnalysis.splitStratified(docs, testPermille = 200)
    val quota = out.filter(col("split") === "test")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(quota === Map("big" -> 2L, "mid" -> 1L),
      "exact floor quotas; tiny (floor(3*0.2)=0) contributes none")
    val a = out.orderBy("doc_id").collect().toSeq
    val b = TextAnalysis.splitStratified(
      docs.orderBy(col("doc_id").desc).repartition(5), testPermille = 200)
      .orderBy("doc_id").collect().toSeq
    assert(a === b, "deterministic under reorder/repartition")
    assert(TextAnalysis.splitStratified(docs, testPermille = 0)
      .filter(col("split") === "test").count() === 0L)
  }

  test("StreamingBloom: the online word table is bit-for-bit the batch " +
    "export over everything ingested — a duplicate fp across batches is " +
    "invisible (idempotent OR); replay refuses") {
    import graft.streaming.StreamingBloom
    val s = spark
    import s.implicits._
    val all = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"),
      (4L, "alpha"), (5L, "delta")) // doc 4 repeats doc 1's text
    def df(rows: Seq[(Long, String)]) =
      rows.map { case (i, t) => (i, t, "en", "web") }
        .toDF("doc_id", "text", "lang", "source")
    val stateDir = tmpDir("bloom_state")
    val (b0, b1) = (all.take(3), all.drop(3)) // 'alpha' in both batches
    assert(StreamingBloom.applyBatch(spark, stateDir, df(b0), 0L))
    assert(StreamingBloom.applyBatch(spark, stateDir, df(b1), 1L))
    val live = StreamingBloom.report(spark, stateDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.bloomExport(
        df(all).select(md5(col("text")).as("fp")).distinct())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(live === full, "online filter ≡ batch export")
    assert(!StreamingBloom.applyBatch(spark, stateDir, df(b1), 1L))
    assert(StreamingBloom.report(spark, stateDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === full)
    // geometry is persisted and ENFORCED: a caller who changes mBits or k
    // between batches would OR bit-position-incompatible filters — the
    // merge must refuse loudly, not corrupt silently
    val e1 = intercept[IllegalArgumentException] {
      StreamingBloom.applyBatch(spark, stateDir, df(b1), 2L,
        mBits = 1L << 14)
    }
    assert(e1.getMessage.contains("geometry mismatch"))
    val e2 = intercept[IllegalArgumentException] {
      StreamingBloom.applyBatch(spark, stateDir, df(b1), 2L, k = 7)
    }
    assert(e2.getMessage.contains("geometry mismatch"))
    // matching geometry still applies fine after the refusals
    assert(StreamingBloom.applyBatch(spark, stateDir,
      df(Seq((6L, "epsilon"))), 2L))
  }

  test("CorpusOps.curationFunnel: attribution is order-exact — a doc " +
    "dropped by the gate never counts against dedup (its near-dup " +
    "partner survives), a doc dropped by dedup never counts against " +
    "decontamination, and the split holdout is the last stage's quota") {
    val s = spark
    import s.implicits._
    def text(stop: Seq[String], words: Seq[String]) =
      (stop ++ words).mkString(" ")
    val aTxt = text(Seq("the", "of"), (1 to 18).map(i => f"alpha$i%02d"))
    val cTxt = text(Seq("the", "of"), (1 to 17).map(i => f"charl$i%02d"))
    val dTxt = cTxt + " charlie18x" // C + 1 token: 20 tokens, J=17/18
    val eTxt = text(Seq("the", "of"), (1 to 18).map(i => f"echoo$i%02d"))
    val uTxt = text(Seq("the", "of"), (1 to 18).map(i => f"unique$i%02d"))
    val docs = Seq(
      (1L, aTxt), // passes gate; exact dup of 2; eval-contaminated
      (2L, aTxt), // exact dup → dropped at dedup (NOT at decontaminate)
      (3L, cTxt), // 19 tokens → gate-dropped; near-dup partner of 4
      (4L, dTxt), // passes gate; its ONLY near-dup partner (3) was
                  // gate-dropped → survives dedup under order-exactness
      (5L, uTxt), // clean survivor
      (6L, eTxt)  // passes gate, unique, eval-contaminated
    ).map { case (i, t) => (i, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val eval = Seq(
      (100L, "alpha03 alpha04 alpha05"), // contaminates doc 1 (and 2)
      (200L, "echoo05 echoo06 echoo07")  // contaminates doc 6
    ).map { case (i, t) => (i, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // preflight: the C/D pair IS a qualifying near-dup when both are
    // present — otherwise the order-exactness claim below is vacuous
    val bothSides = docs.filter(col("doc_id").isin(3L, 4L))
    assert(Dedup.dedupPipeline(bothSides, 0.8).count() === 1L,
      "fixture: 3/4 must near-dup when both survive the gate")
    val out = CorpusOps.curationFunnel(docs, eval, testPermille = 500)
      .collect().map(r => r.getString(1) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out("quality_gate") === ((6L, 1L, 5L)), "only doc 3 gated")
    assert(out("dedup") === ((5L, 1L, 4L)),
      "only the exact dup 2 drops: doc 4's partner was already gone")
    assert(out("decontaminate") === ((4L, 2L, 2L)),
      "docs 1 and 6 drop; the already-dropped dup 2 is not re-counted")
    assert(out("split") === ((2L, 1L, 1L)), "500 permille of 2 docs = 1")
  }

  test("CorpusOps.curationFunnelBySource: the per-source split carries " +
    "each stage's attrition to the right stratum — a source that dies " +
    "out mid-funnel keeps its zero rows; rows reconcile with the global " +
    "funnel") {
    val s = spark
    import s.implicits._
    def tx(prefix: String, n: Int) =
      (Seq("the", "of") ++ (1 to n).map(i => f"$prefix$i%02d"))
        .mkString(" ")
    val docs = Seq(
      (1L, tx("alpha", 18), "srcA"), // clean survivor
      (2L, tx("gated", 15), "srcA"), // 17 tokens → gate-dropped
      (3L, tx("bravo", 18), "srcB"),
      (4L, tx("bravo", 18), "srcB"), // exact dup of 3 → dedup drop
      (5L, tx("leaky", 18), "srcB"), // eval-contaminated
      (6L, tx("clean", 18), "srcB")  // clean survivor
    ).map { case (i, t, src) => (i, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val eval = Seq((100L, "leaky03 leaky04 leaky05"))
      .map { case (i, t) => (i, t, "en", "srcE", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = CorpusOps.curationFunnelBySource(docs, eval,
        testPermille = 500)
      .collect().map(r => (r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out.size === 8, "4 stages × 2 sources")
    assert(out(("quality_gate", "srcA")) === ((2L, 1L, 1L)))
    assert(out(("quality_gate", "srcB")) === ((4L, 0L, 4L)))
    assert(out(("dedup", "srcA")) === ((1L, 0L, 1L)))
    assert(out(("dedup", "srcB")) === ((4L, 1L, 3L)))
    assert(out(("decontaminate", "srcA")) === ((1L, 0L, 1L)))
    assert(out(("decontaminate", "srcB")) === ((3L, 1L, 2L)))
    // split quota is per source: floor(1*500/1000)=0 for A, 1 for B
    assert(out(("split", "srcA")) === ((1L, 0L, 1L)))
    assert(out(("split", "srcB")) === ((2L, 1L, 1L)))
    // the by-source rows SUM to the global funnel's rows
    val glob = CorpusOps.curationFunnel(docs, eval, testPermille = 500)
      .collect().map(r => r.getString(1) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    Seq("quality_gate", "dedup", "decontaminate", "split").foreach { st =>
      val (i1, d1, o1) = out((st, "srcA")); val (i2, d2, o2) = out((st, "srcB"))
      assert(glob(st) === ((i1 + i2, d1 + d2, o1 + o2)),
        s"stage $st: by-source rows must reconcile with the global row")
    }
  }

  test("CorpusOps.mixPlan: the temperature weight buys each source its " +
    "budget share, the repeat cap bites exactly where epochs exceed it, " +
    "and a capped source's forfeited tokens are visible") {
    val s = spark
    import s.implicits._
    // source A: one 900-token doc; source B: one 9-token doc.
    // sqrt weights: 30/33 -> 0.9091, 3/33 -> 0.0909 (4dp-exact).
    val docs = Seq(
      (1L, (1 to 900).map(i => s"a$i").mkString(" "), "en", "srcA"),
      (2L, (1 to 9).map(i => s"b$i").mkString(" "), "en", "srcB"))
      .map { case (i, t, l, src) => (i, t, l, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = CorpusOps.mixPlan(docs, budgetTokens = 3000L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5), r.getLong(6)))).toMap
    // A: alloc = 3000*9091 DIV 1e4 = 2727; epochs_e4 = 2727e4 DIV 900 =
    // 30300 (3.03 epochs) — under the 4-epoch cap, final = alloc
    assert(out("srcA") === ((900L, 9091L, 2727L, 30300L, false, 2727L)))
    // B: alloc = 3000*909 DIV 1e4 = 272; epochs_e4 = 272e4 DIV 9 =
    // 302222 (30 epochs!) — capped at 4 epochs, final = 9*4 = 36;
    // the plan forfeits 272-36 tokens the owner must re-spend
    assert(out("srcB") === ((9L, 909L, 272L, 302222L, true, 36L)))

    // rebalance: leftover = 3000-2727-36 = 237 goes entirely to the one
    // uncapped source (w_uncapped = its own weight), no re-clamp
    val reb = CorpusOps.mixPlanRebalanced(docs, budgetTokens = 3000L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getBoolean(7)))).toMap
    assert(reb("srcA") === ((2727L, 237L, 2964L, 32933L, false)))
    assert(reb("srcB") === ((36L, 0L, 36L, 40000L, false)))

    // re-clamp case: one big source near the ceiling + two tiny capped
    // forfeiters — the redistribution would push A past 4 epochs, so it
    // re-clamps (flagged) and the residue stays visible to the owner
    val docs3 = Seq(
      (1L, (1 to 900).map(i => s"a$i").mkString(" "), "en", "srcA"),
      (2L, (1 to 9).map(i => s"b$i").mkString(" "), "en", "srcB"),
      (3L, (1 to 9).map(i => s"c$i").mkString(" "), "en", "srcC"))
      .map { case (i, t, l, src) => (i, t, l, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val reb3 = CorpusOps.mixPlanRebalanced(docs3, budgetTokens = 4200L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getBoolean(7)))).toMap
    // A: pass1 3499 (38877 e4, uncapped); +629 leftover → 4128 would be
    // 45866 e4 → re-clamped to exactly 4 epochs = 3600 tokens
    assert(reb3("srcA") === ((3499L, 629L, 3600L, 40000L, true)))
    assert(reb3("srcB") === ((36L, 0L, 36L, 40000L, false)))
    assert(reb3("srcC") === ((36L, 0L, 36L, 40000L, false)))
  }

  test("CorpusOps.mixPlanApply: a capped source repeats in exactly " +
    "ceil(epochs2_e4/1e4) whole passes; the partial last epoch is the " +
    "md5-ordered prefix that fits the remainder; per-source emitted " +
    "tokens reconcile with the rebalanced plan") {
    val s = spark
    import s.implicits._
    // srcA: 9 docs x 100 tokens (900 total); srcB: 1 doc x 9 tokens —
    // the proven mixPlan fixture totals, so under budget 3000 the
    // rebalanced plan reads srcA final2 = 2964, srcB final2 = 36
    val docs = ((1 to 9).map(d =>
      (d.toLong, (1 to 100).map(i => s"a${d}x$i").mkString(" "), "srcA"))
      :+ ((20L, (1 to 9).map(i => s"b$i").mkString(" "), "srcB")))
      .map { case (i, t, src) => (i, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = CorpusOps.mixPlanApply(docs, budgetTokens = 3000L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    // srcB is capped at the 4-epoch ceiling: final2 = 4 * 9 exactly —
    // whole passes only, the one doc appears exactly 4 times
    val bEpochs = out.filter(_._2 == "srcB").map(_._4).sorted
    assert(bEpochs === Seq(1L, 2L, 3L, 4L))
    // srcA: full = 2964 DIV 900 = 3 passes of all 9 docs, partial
    // remainder 264 → the first TWO docs in md5(doc_id) order (cum 100,
    // 200 <= 264; the third would hit 300)
    val aByDoc = out.filter(_._2 == "srcA")
      .groupBy(_._1).view.mapValues(_.map(_._4).sorted).toMap
    assert(aByDoc.size === 9, "every srcA doc rides the 3 full passes")
    def md5hex(v: Long): String = java.security.MessageDigest
      .getInstance("MD5").digest(v.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val hashOrder = (1 to 9).map(_.toLong).sortBy(md5hex)
    val partial = hashOrder.take(2).toSet
    aByDoc.foreach { case (id, eps) =>
      val want = if (partial(id)) Seq(1L, 2L, 3L, 4L) else Seq(1L, 2L, 3L)
      assert(eps === want, s"epochs for srcA doc $id")
    }
    // token reconciliation: emitted <= final2, and the NEXT hash-ordered
    // doc would overflow the remainder
    val aTokens = out.filter(_._2 == "srcA").map(_._3).sum
    assert(aTokens === 3L * 900L + 200L)
    assert(aTokens <= 2964L && aTokens + 100L > 2964L)
    assert(out.filter(_._2 == "srcB").map(_._3).sum === 36L)
  }

  test("CorpusOps.curationFunnelIncremental: order-exact against the " +
    "corpus — a gate-dropped doc never counts against exact dedup, an " +
    "exact dup never counts against near dedup, and the span-scrub " +
    "novel-token floor drops mostly-recycled docs only; the indexed " +
    "variant returns identical rows off the persisted state") {
    val s = spark
    import s.implicits._
    def tx(toks: Seq[String]) = (Seq("the", "of") ++ toks).mkString(" ")
    val kTxt = tx((1 to 18).map(i => f"kappa$i%02d"))  // 20 tokens
    val t19 = tx((1 to 17).map(i => f"quer$i%02d"))    // 19 tokens
    val cTxt = tx((1 to 17).map(i => f"charl$i%02d"))  // 19 tokens
    val dTxt = cTxt + " charl18x"                      // near-dup of C
    val sToks = (1 to 30).map(i => f"scopy$i%02d")
    val sTxt = tx(sToks)                               // 32 tokens
    val copied = sToks.slice(2, 22)                    // s03..s22 run
    val b5Txt = tx(copied ++ (1 to 10).map(i => f"novel$i%02d")) // 12 novel
    val b6Txt = tx(copied ++ (1 to 18).map(i => f"fresh$i%02d")) // 20 novel
    val uTxt = tx((1 to 18).map(i => f"uniq$i%02d"))
    def df(rows: Seq[(Long, String)]) = rows
      .map { case (i, t) => (i, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val corpus = df(Seq(
      (101L, kTxt),  // exact twin of batch 1
      (102L, t19),   // exact twin of gate-dropped batch 2
      (103L, cTxt),  // near partner of batch 3
      (104L, sTxt))) // span source for batch 5/6
    val batch = df(Seq(
      (1L, kTxt),  // passes gate; exact corpus dup → exact_dedup drop
      (2L, t19),   // 19 tokens → gate drop (exact twin NOT re-counted)
      (3L, dTxt),  // near-dup of corpus C → near_dedup drop
      (5L, b5Txt), // scrubbed to 12 novel tokens < 20 → span drop
      (6L, b6Txt)  // scrubbed to exactly 20 novel tokens → survives
    )).unionByName(Seq((7L, uTxt, "en", "srcB", uTxt.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
      // doc 7: clean survivor, under its OWN source for the by-source split
    // preflight: d/C IS a qualifying cross-frame near-dup
    assert(Dedup.incrementalNearDedup(df(Seq((3L, dTxt))), corpus)
      .count() === 0L, "fixture: batch 3 must near-dup corpus C")
    def rows(dfm: org.apache.spark.sql.DataFrame) = dfm.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).sortBy(_._1).toSeq
    val out = CorpusOps.curationFunnelIncremental(batch, corpus)
    val got = rows(out)
    assert(got.map(t => (t._2, (t._3, t._4, t._5))) === Seq(
      "quality_gate" -> ((6L, 1L, 5L)),
      "exact_dedup" -> ((5L, 1L, 4L)),
      "near_dedup" -> ((4L, 1L, 3L)),
      "span_scrub" -> ((3L, 1L, 2L))))
    assert(got.map(_._6) === Seq("gopher_rule_fail", "exact_duplicate",
      "near_duplicate", "recycled_content"))
    // the by-source split carries each drop to the right stratum and
    // srcB's clean bystander rides through untouched
    val bySrc = CorpusOps.curationFunnelIncrementalBySource(batch, corpus)
      .collect().map(r => (r.getString(1), r.getString(2)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(bySrc.size === 8, "4 stages × 2 sources")
    assert(bySrc(("quality_gate", "srcA")) === ((5L, 1L, 4L)))
    assert(bySrc(("exact_dedup", "srcA")) === ((4L, 1L, 3L)))
    assert(bySrc(("near_dedup", "srcA")) === ((3L, 1L, 2L)))
    assert(bySrc(("span_scrub", "srcA")) === ((2L, 1L, 1L)))
    Seq("quality_gate", "exact_dedup", "near_dedup", "span_scrub")
      .foreach(st => assert(bySrc((st, "srcB")) === ((1L, 0L, 1L)),
        s"srcB bystander must ride through $st"))
    // the persisted-state path is row-identical (the
    // incrementalNearDedupIndexed determinism contract)
    val tbls = Seq("graft_test_fun_fps", "graft_test_fun_bands",
      "graft_test_fun_sets", "graft_test_fun_spans")
    val tbls6 = tbls.map(_ + "6")
    val tblsAll = Seq(tbls, tbls6).flatMap(t => t :+ (t(0) + "_dead"))
    tblsAll.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      CorpusOps.funnelWriteState(corpus, tbls(0), tbls(1), tbls(2),
        tbls(3), buckets = 4)
      val idx = CorpusOps.curationFunnelIncrementalIndexed(s, batch,
        tbls(0), tbls(1), tbls(2), tbls(3))
      assert(rows(idx) === got, "indexed state ≡ inline corpus")
      // a 6-token census keeps its width: the span source 104 enters by
      // a default-form append, and doc 8 copies a 7-token run of it
      // (21 tokens, 14 novel once scrubbed) — dropped at width 6, never
      // seen at the default 8
      val batch8 = batch.unionByName(
        df(Seq((8L, tx(sToks.slice(22, 29) ++
          (1 to 12).map(i => f"newer$i%02d"))))))
      val inline6 = rows(CorpusOps.curationFunnelIncremental(batch8,
        corpus, spanTokens = 6))
      assert(inline6.last._4 === 2L,
        "width 6 scrubs both doc 5 and doc 8")
      CorpusOps.funnelWriteState(corpus.filter(col("doc_id") =!= 104L),
        tbls6(0), tbls6(1), tbls6(2), tbls6(3), spanTokens = 6,
        buckets = 4)
      CorpusOps.funnelStateAppend(corpus.filter(col("doc_id") === 104L),
        tbls6(0), tbls6(1), tbls6(2), tbls6(3))
      assert(rows(CorpusOps.curationFunnelIncrementalIndexed(s, batch8,
        tbls6(0), tbls6(1), tbls6(2), tbls6(3))) === inline6,
        "the census's width serves append and probe")
    } finally tblsAll.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("CorpusOps.funnelStateCompact: a replayed append bloats the state " +
    "relations but never verdicts; compaction restores fresh-build row " +
    "counts, keeps the bucket layout, and probes identically") {
    val s = spark
    import s.implicits._
    def tx(toks: Seq[String]) = (Seq("the", "of") ++ toks).mkString(" ")
    val kTxt = tx((1 to 18).map(i => f"kappa$i%02d"))
    val cTxt = tx((1 to 17).map(i => f"charl$i%02d"))
    val dTxt = cTxt + " charl18x" // near-dup of C
    val mTxt = tx((1 to 18).map(i => f"mike$i%02d"))
    val uTxt = tx((1 to 18).map(i => f"uniq$i%02d"))
    def df(rows: Seq[(Long, String)]) = rows
      .map { case (i, t) => (i, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val corpus = df(Seq((101L, kTxt), (103L, cTxt)))
    val inc = df(Seq((201L, mTxt))) // the admitted increment
    val probe = df(Seq((1L, kTxt), (3L, dTxt), (7L, uTxt)))
    val tA = Seq("graft_cmp_fps", "graft_cmp_bands", "graft_cmp_sets",
      "graft_cmp_spans")
    val tB = tA.map(_ + "_ref")
    val tABAll = tA ++ tB ++ Seq(tA(0) + "_dead", tB(0) + "_dead")
    tABAll.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    def rows(dfm: org.apache.spark.sql.DataFrame) = dfm.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).sortBy(_._1).toSeq
    def counts(ts: Seq[String]) = ts.map(t => s.table(t).count())
    try {
      CorpusOps.funnelWriteState(corpus, tA(0), tA(1), tA(2), tA(3),
        buckets = 4)
      // an at-least-once replay: the same increment admitted TWICE
      (1 to 2).foreach { _ =>
        CorpusOps.funnelStateAppend(inc, tA(0), tA(1), tA(2), tA(3))
      }
      // the reference: a fresh build over the same logical corpus
      CorpusOps.funnelWriteState(corpus.unionByName(inc), tB(0), tB(1),
        tB(2), tB(3), buckets = 4)
      val ref = rows(CorpusOps.curationFunnelIncrementalIndexed(s, probe,
        tB(0), tB(1), tB(2), tB(3)))
      // duplicate-tolerant: the bloated state already answers correctly
      assert(rows(CorpusOps.curationFunnelIncrementalIndexed(s, probe,
        tA(0), tA(1), tA(2), tA(3))) === ref)
      // ...but the replay cost is real: every relation carries extra rows
      val bloated = counts(tA)
      val fresh = counts(tB)
      assert(bloated.zip(fresh).forall { case (a, b) => a > b },
        s"replayed append must bloat every relation: $bloated vs $fresh")
      CorpusOps.funnelStateCompact(s, tA(0), tA(1), tA(2), tA(3))
      assert(counts(tA) === fresh,
        "compaction must restore fresh-build row counts")
      assert(rows(CorpusOps.curationFunnelIncrementalIndexed(s, probe,
        tA(0), tA(1), tA(2), tA(3))) === ref,
        "probe-equivalence after compaction")
      // sanity on the verdicts themselves: exact dup, near dup, survivor
      assert(ref.map(t => (t._2, (t._3, t._4, t._5))) === Seq(
        "quality_gate" -> ((3L, 0L, 3L)),
        "exact_dedup" -> ((3L, 1L, 2L)),
        "near_dedup" -> ((2L, 1L, 1L)),
        "span_scrub" -> ((1L, 0L, 1L))))
      // bucket layout preserved through the rewrite
      val desc = s.sql(s"DESCRIBE FORMATTED ${tA(0)}").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(desc.get("Num Buckets").map(_.trim) === Some("4"))
    } finally tABAll.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("CorpusOps.funnelStateForget: O(tombstones) RTBF — forget(B) " +
    "probes identically to a never-held build(A) across all four " +
    "stages, a tombstoned doc's fp SHARED with a survivor keeps " +
    "matching, forget is replay-tolerant, relations are untouched " +
    "until compact physically purges them, and the same CONTENT " +
    "re-enters under a fresh id") {
    val s = spark
    import s.implicits._
    def tx(toks: Seq[String]) = (Seq("the", "of") ++ toks).mkString(" ")
    val kTxt = tx((1 to 18).map(i => f"kappa$i%02d"))
    val cTxt = tx((1 to 18).map(i => f"charl$i%02d"))
    val sTxt = tx((1 to 18).map(i => f"share$i%02d")) // held by a3 AND b2
    val mTxt = tx((1 to 18).map(i => f"mike$i%02d"))  // held ONLY by b1
    val zTxt = tx((1 to 18).map(i => f"zeta$i%02d"))  // clean probe
    def df(rows: Seq[(Long, String)]) = rows
      .map { case (i, t) => (i, t, "en", "srcA", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val a = df(Seq((101L, kTxt), (102L, cTxt), (103L, sTxt)))
    val b = df(Seq((201L, mTxt), (202L, sTxt)))
    // probe: exact copy of forgotten-only mTxt; near-dup of mTxt; a doc
    // recycling all of mTxt's spans + 12 novel tokens; exact copy of the
    // SHARED sTxt; one clean doc
    val probe = df(Seq(
      (1L, mTxt),
      (2L, mTxt + " mike19x"),
      (3L, mTxt + " " + (1 to 12).map(i => f"nvl$i%02d").mkString(" ")),
      (4L, sTxt),
      (5L, zTxt)))
    val tF = Seq("graft_fgt_fps", "graft_fgt_bands", "graft_fgt_sets",
      "graft_fgt_spans")
    val tN = tF.map(_ + "_nh") // the never-held reference build(A)
    val all = tF ++ tN ++ Seq(tF(0) + "_dead", tN(0) + "_dead")
    all.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    def rows(dfm: org.apache.spark.sql.DataFrame) = dfm.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5))).sortBy(_._1).toSeq
    def counts(ts: Seq[String]) = ts.map(t => s.table(t).count())
    def probeF() = rows(CorpusOps.curationFunnelIncrementalIndexed(s,
      probe, tF(0), tF(1), tF(2), tF(3)))
    try {
      CorpusOps.funnelWriteState(a.unionByName(b), tF(0), tF(1), tF(2),
        tF(3), buckets = 4)
      CorpusOps.funnelWriteState(a, tN(0), tN(1), tN(2), tN(3),
        buckets = 4)
      val neverHeld = rows(CorpusOps.curationFunnelIncrementalIndexed(s,
        probe, tN(0), tN(1), tN(2), tN(3)))
      // pre-forget: the full state drops every B-colliding probe doc
      val full = probeF()
      assert(full.map(t => (t._2, t._4)) === Seq(
        "quality_gate" -> 0L, "exact_dedup" -> 2L, "near_dedup" -> 1L,
        "span_scrub" -> 1L),
        "fixture: probes 1+4 die exact, 2 near, 3 span against A∪B")
      val preForget = counts(tF)
      CorpusOps.funnelStateForget(s, b.select("doc_id"), tF(0), tF(1),
        tF(2), tF(3))
      // forget is a ledger append: the four relations are UNTOUCHED
      assert(counts(tF) === preForget,
        "forget must not rewrite any state relation")
      assert(s.table(tF(0) + "_dead").count() === 2L)
      // ...but ghosts stop matching immediately: probe ≡ never-held,
      // including the shared-fp fixture (probe 4 must STILL drop — a3
      // survives as sTxt's holder; probes 1-3 must now survive)
      val forgotten = probeF()
      assert(forgotten === neverHeld, "forget(B) ≡ never-held build(A)")
      assert(forgotten.map(t => (t._2, t._4)) === Seq(
        "quality_gate" -> 0L, "exact_dedup" -> 1L, "near_dedup" -> 0L,
        "span_scrub" -> 0L),
        "only the SHARED-text probe still drops after forget")
      // replay-tolerant: forgetting the same batch twice changes nothing
      CorpusOps.funnelStateForget(s, b.select("doc_id"), tF(0), tF(1),
        tF(2), tF(3))
      assert(probeF() === neverHeld, "forget is idempotent under replay")
      // compact physically purges the retired rows: every relation's row
      // count equals the never-held build's, probes unchanged, and the
      // ledger survives (distinct) as the late-replay fence
      CorpusOps.funnelStateCompact(s, tF(0), tF(1), tF(2), tF(3))
      assert(counts(tF) === counts(tN),
        "post-compact state must be row-count-equal to never-held")
      assert(probeF() === neverHeld, "probe-equivalence after the purge")
      assert(s.table(tF(0) + "_dead").count() === 2L,
        "the ledger survives compaction, distinct")
      // content re-entry: mTxt under a FRESH id is admitted (survives all
      // four stages), and once admitted a second copy drops again
      val reentry = df(Seq((501L, mTxt)))
      val admitted = CorpusOps.curationFunnelIncrementalIndexed(s,
        reentry, tF(0), tF(1), tF(2), tF(3))
      assert(rows(admitted).map(_._4).sum === 0L,
        "forgotten content must be admittable under a fresh id")
      CorpusOps.funnelStateAppend(reentry, tF(0), tF(1), tF(2), tF(3))
      val second = rows(CorpusOps.curationFunnelIncrementalIndexed(s,
        df(Seq((502L, mTxt))), tF(0), tF(1), tF(2), tF(3)))
      assert(second.map(t => (t._2, t._4)) === Seq(
        "quality_gate" -> 0L, "exact_dedup" -> 1L, "near_dedup" -> 0L,
        "span_scrub" -> 0L),
        "re-admitted content must dedup future copies again")
    } finally all.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("MergeableState: the just-superseded version survives one commit " +
    "(a reader that resolved CURRENT pre-commit can finish its read) and " +
    "is reaped on the NEXT commit — the dir never holds more than two") {
    import graft.streaming.MergeableState
    val s = spark
    import s.implicits._
    val stateDir = tmpDir("mstate_retain")
    def inc(v: Long) = Seq((v, 1L)).toDF("k", "n")
    def merge(a: org.apache.spark.sql.DataFrame,
              b: org.apache.spark.sql.DataFrame) =
      a.unionByName(b).groupBy("k")
        .agg(org.apache.spark.sql.functions.sum("n").as("n"))
    assert(MergeableState.applyBatch(spark, stateDir, 0L, inc(0), merge))
    val v0Path = MergeableState.current(spark, stateDir).get._2
    assert(MergeableState.applyBatch(spark, stateDir, 1L, inc(1), merge))
    // the reader-visible contract: state-0's parquet is STILL readable
    // after the commit that superseded it
    assert(spark.read.parquet(v0Path).count() === 1L)
    assert(MergeableState.applyBatch(spark, stateDir, 2L, inc(2), merge))
    // …and reaped exactly one commit later
    val fs = new org.apache.hadoop.fs.Path(stateDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val versions = fs.listStatus(new org.apache.hadoop.fs.Path(stateDir))
      .map(_.getPath.getName).filter(_.startsWith("state-")).sorted.toSeq
    assert(versions === Seq("state-1", "state-2"))
    assert(spark.read
      .parquet(MergeableState.current(spark, stateDir).get._2)
      .count() === 3L)
  }

  test("Dedup.bloomExport: no false negatives ever (every inserted key " +
    "probes positive — theorem), shard-merge == rebuild bit-for-bit, " +
    "and absent keys mostly miss at a sane load factor") {
    val s = spark
    import s.implicits._
    val keys = (0 until 1000).map(i => s"key$i").toDF("fp")
    val m = 4096L
    val words = Dedup.bloomExport(keys, mBits = m, k = 3)
    // every inserted key probes positive
    val selfProbe = Dedup.bloomProbeWords(words, keys, mBits = m, k = 3)
      .collect()
    assert(selfProbe.length === 1000)
    assert(selfProbe.forall(_.getLong(1) === 1L), "no false negatives")
    // merge of two disjoint shard exports equals the full rebuild
    val (h1, h2) = ((0 until 500).map(i => s"key$i").toDF("fp"),
      (500 until 1000).map(i => s"key$i").toDF("fp"))
    val merged = Dedup.bloomMergeWords(Seq(
        Dedup.bloomExport(h1, mBits = m, k = 3),
        Dedup.bloomExport(h2, mBits = m, k = 3)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = words.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(merged === full, "merge ≡ rebuild")
    // absent keys: at n=1000, m=4096, k=3 the theoretical fp rate is
    // ~13% — most of 500 absent probes must miss, and some may hit
    val absent = (0 until 500).map(i => s"other$i").toDF("fp")
    val fpr = Dedup.bloomProbeWords(words, absent, mBits = m, k = 3)
      .agg(sum(col("positive"))).collect().head.getLong(0)
    assert(fpr < 150, s"false-positive count $fpr stays near theory")
  }

  test("CorpusOps.manifest: the checksum is order/partition-independent " +
    "and single-byte-sensitive; n_bytes counts UTF-8 bytes, not chars") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta", "en", "web"),
      (2L, "gamma δ", "en", "web"), // δ = 2 UTF-8 bytes
      (3L, "alpha beta", "en", "wiki")
    ).toDF("doc_id", "text", "lang", "source")
    val m = CorpusOps.manifest(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(m("web")._1 === 2L)
    assert(m("web")._2 === 10L + 8L, "gamma δ is 8 UTF-8 bytes")
    assert(m("wiki")._1 === 1L)
    // identical content in a different row order and partitioning
    val m2 = CorpusOps.manifest(docs.orderBy(col("doc_id").desc)
      .repartition(7)).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(m2 === m.map { case (k, v) => k -> v._3 })
    // one flipped byte in one doc moves exactly that source's checksum
    val flipped = docs.withColumn("text",
      when(col("doc_id") === 1L, lit("alpha betb"))
        .otherwise(col("text")))
    val m3 = CorpusOps.manifest(flipped).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(m3("web") !== m("web")._3)
    assert(m3("wiki") === m("wiki")._3)
  }

  test("CorpusOps.manifestDiff: all four statuses land — unchanged needs " +
    "checksum AND counts to agree; added/removed from one-sided sources") {
    val s = spark
    import s.implicits._
    def d(rows: (Long, String, String)*) = rows.toSeq
      .map { case (i, t, src) => (i, t, "en", src) }
      .toDF("doc_id", "text", "lang", "source")
    val v1 = d((1L, "same", "keep"), (2L, "old", "edit"), (3L, "x", "gone"))
    val v2 = d((1L, "same", "keep"), (2L, "new", "edit"), (4L, "y", "born"))
    val out = CorpusOps.manifestDiff(
      CorpusOps.manifest(v1), CorpusOps.manifest(v2)).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(out === Map("keep" -> "unchanged", "edit" -> "changed",
      "gone" -> "removed", "born" -> "added"))
  }

  test("DataQuality.jsonlQuarantine: truncated lines quarantine with " +
    "zero roundtrips; survivors with quotes/newlines/unicode round-trip " +
    "byte-exact through the real JSON parse") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (13L, "about to be truncated", "en", "srcA"), // 13 % 13 == 0
      (1L, "he said \"hi\"\nsecond line", "en", "srcA"),
      (2L, "café — résumé", "en", "srcB"),
      (26L, "also truncated", "en", "srcB")
    ).toDF("doc_id", "text", "lang", "source")
    val out = DataQuality.jsonlQuarantine(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out("__QUARANTINE__") === ((2L, 0L)))
    assert(out("srcA") === ((1L, 1L)), "escaped quotes/newline round-trip")
    assert(out("srcB") === ((1L, 1L)), "non-ASCII round-trips")
    // NULL text: to_json drops null fields, the line parses back with a
    // NULL text — a faithful round-trip that the null-safe comparator
    // must count, not veto (n_roundtrip_ok == n_rows holds on any corpus)
    val withNull = Seq[(Long, String, String, String)](
      (3L, null, "en", "srcC"), (4L, "fine", "en", "srcC")
    ).toDF("doc_id", "text", "lang", "source")
    val outN = DataQuality.jsonlQuarantine(withNull).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(outN("srcC") === ((2L, 2L)), "null text round-trips as null")
  }

  test("Timeseries.seasonalProfile: the same epoch-hour-mod-168 slot " +
    "aggregates across weeks with empty hours included; the residual " +
    "ranking is the exact integer top-k with deterministic ties") {
    val s = spark
    import s.implicits._
    val h = 3600L * 1000
    val week = 168 * h
    // type a: 3 events in hour 0 (week 0), 1 event in hour 168 (week 1)
    // — slot 0 spans both weeks; every other slot in the grid is empty
    val events = (Seq.fill(3)(ts(10L)) :+ ts(week + 10L))
      .map((_, "a")).toDF("ts", "event_type")
    val prof = Timeseries.seasonalProfile(events).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    assert(prof(0L) === ((2L, 4L, 20000L)),
      "slot 0: two week-instances, 4 events, mean 2.0000")
    assert(prof(1L) === ((1L, 0L, 0L)), "interior slots are present, empty")
    assert(prof.size === 168, "grid spans exactly one week + 1 hour")
    val res = Timeseries.seasonalResiduals(events, k = 3).collect()
      .map(r => (r.getLong(1), r.getLong(4), r.getLong(5)))
    // |resid| = 10000 on both slot-0 hours; the tie breaks on hour_ms
    assert(res.take(2).toSeq === Seq((0L, 20000L, 10000L),
      (week, 20000L, -10000L)))
    assert(res(2)._3 === 0L, "everything else sits on its baseline")
  }
}
