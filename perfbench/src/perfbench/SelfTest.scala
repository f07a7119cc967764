package perfbench

import graft.operators.TableSpec

/** The benchmark's own tests: `python3 perfbench/test.py`. Exits 1 on the
  * first failed check. */
object SelfTest {
  private var checks = 0

  private def check(what: String)(cond: => Boolean): Unit = {
    checks += 1
    val ok = try cond catch { case e: Exception =>
      System.err.println(s"  $what threw $e"); false
    }
    if (!ok) {
      System.err.println(s"FAIL: $what")
      sys.exit(1)
    }
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    // ── generator: the same seed gives the same bytes ──────────────────
    val map1 = Gen.codeMap(7)
    check("code map is deterministic")(map1 == Gen.codeMap(7))
    check("code map keys are distinct")(
      map1.map(e => (e.lac, e.ci)).distinct.size == Gen.CodeMapSize)
    check("code map differs by seed")(map1 != Gen.codeMap(8))
    val a1 = Gen.socketFile(7, 3, 500, map1)
    check("socket file is deterministic")(a1 == Gen.socketFile(7, 3, 500, map1))
    check("socket file differs by seed")(a1 != Gen.socketFile(8, 3, 500, map1))
    check("socket file differs by index")(a1 != Gen.socketFile(7, 4, 500, map1))
    check("gn file is deterministic")(Gen.gnFile(7, 3, 50) == Gen.gnFile(7, 3, 50))
    val inA = new Streams.Inputs(7, map1)
    val inB = new Streams.Inputs(7, map1)
    val (filesA, filesB) = (Seq.fill(3)(inA.next(40)), Seq.fill(3)(inB.next(40)))
    check("spool bytes are deterministic")(
      filesA.zip(filesB).forall { case ((a1, b1), (a2, b2)) =>
        a1.sameElements(a2) && b1.sameElements(b2) })
    check("expected outputs are deterministic")(
      Seq(inA.archive.value, inA.s61.value, inA.gn.value) ==
        Seq(inB.archive.value, inB.s61.value, inB.gn.value) &&
        inA.archive.count == 120 && inA.gn.count == 120)

    // ── generator: the mix the workloads rely on ───────────────────────
    val big = (0 until 20).flatMap(i => Gen.socketFile(11, i, 500, map1))
    val s61 = big.filter(_.startsWith("61"))
    val wrong = big.count { l =>
      TableSpec.byPrefix.get(l.take(2))
        .exists(s => l.split(",", -1).length != s.fieldCount)
    }
    val enrichable = big.count(l => TableSpec.byPrefix.contains(l.take(2)))
    check("about 1 in 13 enrichable lines has the wrong arity")(
      math.abs(wrong.toDouble / enrichable - 1.0 / 13) < 0.01)
    check("all 11 prefixes occur")(
      big.map(_.take(2)).toSet == TableSpec.allPrefixes.toSet)
    val areas = map1.map(e => (e.lac, e.ci) -> e.area).toMap
    val matched = s61.count(l => Gen.expectedS61(l, areas).nonEmpty)
    check("s61 matched share is MatchedShare of clean lines")(
      math.abs(matched.toDouble / s61.size -
        Gen.MatchedShare * 12 / 13) < 0.03)
    check("gn lines have 44 fields")(
      Gen.gnFile(7, 0, 20).forall(_.split("\\|", -1).length == 44))

    // ── expected outputs use the JVM's MD5 ────────────────────────────
    check("md5 of the empty string")(
      Stats.md5Hex("") == "d41d8cd98f00b204e9800998ecf8427e")
    val line = {
      val f = Array.tabulate(97)(j => s"v$j")
      f(0) = "6100000001"; f(1) = "20160114093012"
      f(12) = "13800000000"; f(15) = ""
      f(23) = map1.head.lac; f(24) = map1.head.ci
      f.mkString(",")
    }
    check("s61 expected line")(Gen.expectedS61(line, areas).contains(
      Seq(Stats.md5Hex("13800000000"), Stats.md5Hex(""), "20160114093012",
        map1.head.area, "2g_call").mkString(",")))
    check("s61 wrong arity is dropped")(
      Gen.expectedS61(line + ",x", areas).isEmpty)
    check("gn expected masks 0,1,2,7 only")({
      val g = Gen.gnFile(7, 0, 1).head
      val (f, m) = (g.split("\\|", -1), Gen.expectedGn(g).split("\\|", -1))
      m.length == 44 && Seq(0, 1, 2, 7).forall(i => m(i) == Stats.md5Hex(f(i))) &&
        (f.indices.toSet -- Set(0, 1, 2, 7)).forall(i => m(i) == f(i))
    })

    // ── percentiles ───────────────────────────────────────────────────
    check("p50 of an even sample interpolates")(
      close(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50), 2.5))
    check("p0 and p100 are min and max")(
      close(Stats.percentile(Seq(5.0, 9.0, 7.0), 0), 5.0) &&
        close(Stats.percentile(Seq(5.0, 9.0, 7.0), 100), 9.0))
    check("p90 of 1..10 is 9.1")(
      close(Stats.percentile((1 to 10).map(_.toDouble), 90), 9.1))
    check("p99 of 1..101 is 100")(
      close(Stats.percentile((1 to 101).map(_.toDouble), 99), 100.0))
    check("single sample")(close(Stats.percentile(Seq(3.5), 90), 3.5))
    check("empty sample is NaN")(Stats.percentile(Nil, 50).isNaN)
    check("median of odd sample")(close(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0))

    // ── multiset hash ─────────────────────────────────────────────────
    def mh(xs: Seq[String]) = { val h = new Stats.MultisetHash; xs.foreach(h.addLine); h.value }
    check("multiset hash ignores order")(mh(Seq("a", "b", "c")) == mh(Seq("c", "a", "b")))
    check("multiset hash counts duplicates")(mh(Seq("a", "a")) != mh(Seq("a")))

    // ── offsets → files → latency ──────────────────────────────────────
    check("offset parse")(Offsets.fileCount("""{"n":42}""") == 42 &&
      Offsets.fileCount("""{ "n" : 7 }""") == 7 && Offsets.fileCount(null) == 0)
    check("bad offset is rejected")(
      scala.util.Try(Offsets.fileCount("""{"m":1}""")).isFailure)
    val batches = Seq(
      Offsets.Batch(null, """{"n":3}""", 1000L),
      Offsets.Batch("""{"n":3}""", """{"n":5}""", 2500L),
      Offsets.Batch("""{"n":5}""", """{"n":5}""", 3000L))
    check("files map to the batch that carried them")(
      Offsets.commitTimes(batches) ==
        Map(0 -> 1000L, 1 -> 1000L, 2 -> 1000L, 3 -> 2500L, 4 -> 2500L))
    check("a re-run batch keeps the first commit")(
      Offsets.commitTimes(batches :+
        Offsets.Batch("""{"n":3}""", """{"n":5}""", 4000L))(4) == 2500L)
    val lat = Offsets.latencies(
      Map(0 -> 900L, 1 -> 950L, 2 -> 1000L, 3 -> 1900L, 4 -> 2000L,
        5 -> 2900L), batches)
    check("per-file latency is commit minus due")(
      lat == Map(0 -> 0.1, 1 -> 0.05, 2 -> 0.0, 3 -> 0.6, 4 -> 0.5))
    check("an uncommitted file has no latency")(!lat.contains(5))

    check("file names sort in drop order")(
      Gen.fileName(9) < Gen.fileName(10) && Gen.fileName(99) < Gen.fileName(100))

    println(s"selftest: $checks checks passed")
  }
}
