package graft

import org.apache.spark.sql.functions._
import graft.operators.{CorpusOps, Dedup, Similarity, TextAnalysis}

class NorthStarSpec extends SparkTestBase {

  private def docsDf(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.map { case (id, text) =>
      (id, text, "en", "srcA", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  private val dupText = "the quick brown fox jumps over the lazy dog again"
  private val docs = docsDf(Seq(
    1L -> dupText,
    2L -> dupText, // exact duplicate of 1
    3L -> (dupText + " slightly"), // near-duplicate of 1
    4L -> "completely different words about spark catalyst physical plans"))

  test("Dedup.exact groups duplicates, keeps min doc_id") {
    val out = Dedup.exact(docs).filter(col("n_dupes") > 1).collect()
    assert(out.length == 1)
    assert(out.head.getLong(1) == 1L && out.head.getLong(2) == 2L)
  }

  test("Dedup.minhash: identical docs have identical signatures; LSH pairs " +
    "them; near-dup shares most bands") {
    val sigs = Dedup.minhash(docs, k = 4)
    val byDoc = sigs.collect().groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(1)).map(_.getString(2)).toSeq).toMap
    assert(byDoc(1L) == byDoc(2L))
    assert(byDoc(1L) != byDoc(4L))
    val pairs = Dedup.lshCandidatePairs(sigs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((3L, 4L)))
  }

  test("Dedup.ngramJaccard: 1.0 for identical, high for near-dup, low " +
    "across different docs") {
    val j = Dedup.ngramJaccard(docs, charBucket = 1000).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 3L)) > 0.7)
    assert(j.getOrElse((1L, 4L), 0.0) < 0.1)
  }

  test("Dedup.ngramJaccard maxBlockDocs guard excludes oversized blocks; " +
    "ngramJaccardOn scores LSH candidates only") {
    // all 4 fixture docs share one (en, srcA, bucket 0) block of size 4
    val guarded = Dedup.ngramJaccard(docs, charBucket = 1000,
      maxBlockDocs = 3)
    assert(guarded.count() == 0) // block of 4 > cap 3 → no quadratic pairs
    val unguarded = Dedup.ngramJaccard(docs, charBucket = 1000,
      maxBlockDocs = 4)
    assert(unguarded.count() == 6) // 4 choose 2
    // LSH-sourced scoring: only candidate pairs get a score, values match
    // the blocked variant on the shared pairs
    val cand = Dedup.lshCandidatePairs(Dedup.minhash(docs, k = 4),
      rowsPerBand = 1)
    val scored = Dedup.ngramJaccardOn(docs, cand).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val blocked = unguarded.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(scored.nonEmpty && scored.keySet.subsetOf(blocked.keySet))
    assert(scored.forall { case (k, v) => blocked(k) == v })
  }

  test("Dedup.setSimJoin (canonicalize + prefix filter) equals the " +
    "brute-force shingle-set truth and prunes the all-pairs space") {
    // near-dup clique: drop one word from a 60-word base — each deletion
    // destroys 3 shingles and bridges 2, so a clique pair shares 52 of 62
    // union shingles, J = 0.8387 ≥ 0.8 (at 30 words it would be 0.6875 —
    // below τ; shingle perturbation is ~3× a word perturbation, which is
    // why this operator runs on the shingle universe for real near-dups);
    // plus an EXACT duplicate (identical shingle set → the within-group
    // J=1.0 path through canonicalization) and disjoint chaff
    val base = (1 to 60).map(i => f"w$i%02d")
    val clique = (0 until 4).map { i =>
      (i.toLong, (base.take(5 + 3 * i) ++ base.drop(6 + 3 * i))
        .mkString(" "))
    }
    val dup = Seq(50L -> clique.head._2) // identical text to doc 0
    val chaff = (0 until 20).map { i =>
      (100L + i, (0 until 10).map(j => s"x${i}_$j").mkString(" "))
    }
    val all = clique ++ dup ++ chaff
    val d = docsDf(all)
    // brute-force truth over distinct 3-shingle sets at tau = 4/5, exact
    // integer threshold — the same definition the DuckDB oracle uses
    def shingleSet(t: String): Set[String] = {
      val ws = t.split(" ", -1)
      if (ws.length < 3) Set.empty
      else ws.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = all.map { case (id, t) => id -> shingleSet(t) }
      .filter(_._2.nonEmpty)
    val truth = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      i = (sa & sb).size if 9 * i >= 4 * (sa.size + sb.size)
    } yield (ia, ib)).toSet
    // the clique pairs + the exact dup against every clique member
    assert(truth.size >= 6 + 1 && truth.contains((0L, 50L)))
    val got = Dedup.setSimJoin(d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth) // complete AND precise
    // jaccard values are the exact set ratio, rounded 4dp; the exact-dup
    // pair reads 1.0 through the within-group path
    val j = Dedup.setSimJoin(d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((0L, 50L)) == 1.0)
    val s0 = sets.toMap.apply(0L); val s1 = sets.toMap.apply(1L)
    val i01 = (s0 & s1).size
    assert(j((0L, 1L)) == BigDecimal(
      i01.toDouble / (s0.size + s1.size - i01))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // pruning audit: 25 docs in play (the dup collapses: 24 distinct
    // sets), chaff shares no shingle with anything → never a candidate
    val ev = Dedup.setSimEvidence(d).collect().head
    assert(ev.getLong(0) == 25 && ev.getLong(1) == 300) // docs, C(25,2)
    assert(ev.getLong(2) == 24 && ev.getLong(3) == 276) // sets, C(24,2)
    val nCand = ev.getLong(4)
    assert(nCand >= 6 && nCand < 276, "pruned but complete")
    assert(ev.getLong(5) == truth.size)
    assert(ev.getLong(6) == (10000L * (276 - nCand)) / 276)
  }

  test("Dedup.setSimClusters: exact components equal brute-force " +
    "transitive closure of the exact edge set") {
    // chain A–B–C where A–C alone is below τ (only the complete edge set
    // keeps the chain in ONE component), plus an isolated pair and chaff
    val base = (1 to 60).map(i => f"w$i%02d")
    def drop(i: Int) = (base.take(i) ++ base.drop(i + 1)).mkString(" ")
    val docs = docsDf(Seq(
      1L -> drop(5), 2L -> drop(8), 3L -> drop(11), // the chain clique
      10L -> (1 to 40).map(i => s"y$i").mkString(" "),
      11L -> (1 to 40).map(i => s"y$i").mkString(" "), // exact pair
      99L -> (1 to 30).map(i => s"z$i").mkString(" ")))
    val out = Dedup.setSimClusters(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 10L, 11L)) // 99 isolated: absent
    assert(Set(out(1L), out(2L), out(3L)).size == 1, "one component")
    assert(out(10L) == out(11L) && out(10L) != out(1L))
  }

  test("Dedup.ngramJaccard block guard is observable: excluded-block " +
    "counters fire on an oversized block") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    @volatile var observed: Option[org.apache.spark.sql.Row] = None
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.get(Dedup.NgramBlockGuardMetric)
          .foreach(r => observed = Some(r))
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    // 4-doc (en, srcA) block + a 2-doc (de, srcA) block: with cap 3 the en
    // block is excluded while the de block survives. (A surviving block is
    // required for the observation to fire at all: if EVERY block is
    // excluded, AQE empty-propagation prunes the census subtree — the
    // documented edge; ngramJaccardExcludedBlocks is the pruning-proof
    // audit.)
    val s = spark
    import s.implicits._
    val mixed = docs.unionByName(Seq(
      (90L, "der hund läuft durch den großen park heute morgen", "de",
        "srcA", 49L),
      (91L, "die katze schläft auf dem warmen sofa den ganzen tag", "de",
        "srcA", 53L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    spark.listenerManager.register(listener)
    try {
      Dedup.ngramJaccard(mixed, charBucket = 1000, maxBlockDocs = 3).collect()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (observed.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      val m = observed.getOrElse(fail("block-guard observation never fired"))
      assert(m.getAs[Long]("docs_in_excluded_blocks") == 4L)
      assert(m.getAs[Long]("n_excluded_blocks") == 1L)

      // and a corpus with no oversized blocks reports zero
      observed = None
      Dedup.ngramJaccard(mixed, charBucket = 1000, maxBlockDocs = 4).collect()
      val deadline2 = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (observed.isEmpty && System.nanoTime() < deadline2)
        Thread.sleep(50)
      val m2 = observed.getOrElse(fail("observation missing on clean run"))
      assert(m2.getAs[Long]("docs_in_excluded_blocks") == 0L)
      assert(m2.getAs[Long]("n_excluded_blocks") == 0L)

      // the pruning-proof audit output names the excluded block exactly
      val excl = Dedup.ngramJaccardExcludedBlocks(mixed, charBucket = 1000,
        maxBlockDocs = 3).collect()
      assert(excl.length == 1)
      assert(excl.head.getString(0) == "en" && excl.head.getLong(3) == 4L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("Dedup.dedupPipeline: drops exact and near duplicates, keeps min id") {
    // doc 2 = exact dup of 1; doc 3 = near-dup (jaccard 8/9 ≈ 0.89 ≥ 0.8).
    // rowsPerBand=1 → candidate on ANY matching minhash (max LSH recall so
    // the 4-doc fixture deterministically surfaces the (1,3) pair).
    val kept = Dedup.dedupPipeline(docs, jaccardThreshold = 0.8,
      rowsPerBand = 1).select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 4L))
    // with an impossible threshold only the exact dup goes
    val kept2 = Dedup.dedupPipeline(docs, jaccardThreshold = 1.1,
      rowsPerBand = 1).select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept2.toSeq == Seq(1L, 3L, 4L))
  }

  test("Dedup.simhash: equal texts → equal fingerprints; near-dups closer " +
    "in Hamming distance than unrelated docs") {
    val fp = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(fp(1L) == fp(2L))
    assert(ham(fp(1L), fp(3L)) < ham(fp(1L), fp(4L)))
  }

  test("TextAnalysis: token counts, quality signals, language id, " +
    "fingerprint") {
    val d = docsDf(Seq(5L -> "the cat sat on the mat"))
    assert(TextAnalysis.tokenCount(d).head.getLong(1) == 6L)
    val q = TextAnalysis.quality(d).head
    assert(q.getLong(1) == 6L) // n_tokens
    assert(q.getLong(2) == 2L) // "the" x2
    assert(q.getDouble(3) == math.rint(2.0 / 6.0 * 10000) / 10000)
    val es = docsDf(Seq(6L -> "el gato en la casa es un misterio"))
    assert(TextAnalysis.languageId(es).head.getString(2) == "es")
    assert(TextAnalysis.languageId(d).head.getString(2) == "en")
    val f1 = TextAnalysis.fingerprint(docsDf(Seq(7L -> "a  b\tc")))
      .head.getString(1)
    val f2 = TextAnalysis.fingerprint(docsDf(Seq(8L -> "a b c")))
      .head.getString(1)
    assert(f1 == f2) // whitespace-normalized
  }

  test("TextAnalysis.qualityFilter keeps long low-stopword docs only") {
    val good = ("spark catalyst tungsten " * 10).trim // 30 tokens, no stops
    val short = "tiny doc here"
    val stoppy = ("the a of and to in is " * 5).trim // all stopwords
    val d = docsDf(Seq(10L -> good, 11L -> short, 12L -> stoppy))
    val kept = TextAnalysis.qualityFilter(d, minTokens = 15)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(10L))
  }

  test("approx_count_distinct (HLL) within 5% of exact on real data") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
    val r = docs.agg(
      countDistinct(col("text")).as("exact"),
      approx_count_distinct(col("text")).as("approx")).head
    val (exact, approx) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
  }

  private def embDf(rows: Seq[(Long, Seq[Float])]) = {
    val s = spark
    import s.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("Similarity: cosine=1 for identical, 0 for orthogonal; knn ranks " +
    "the duplicate first") {
    val emb = embDf(Seq(
      0L -> Seq(1f, 0f, 0f, 0f),
      1L -> Seq(1f, 0f, 0f, 0f), // identical to 0
      2L -> Seq(0f, 1f, 0f, 0f), // orthogonal
      3L -> Seq(0.9f, 0.1f, 0f, 0f))) // close
    val knn = Similarity.knnBrute(emb, col("vec_id") === 0, k = 3).collect()
    assert(knn.length == 3)
    assert(knn.head.getLong(1) == 1L && knn.head.getDouble(2) == 1.0)
    val last = knn.last
    assert(last.getLong(1) == 2L && last.getDouble(2) == 0.0)
    val norms = Similarity.norms(emb).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(norms(0L) == 1.0)
  }

  test("Similarity.knnIvf: probes nearest cells only and finds in-cluster " +
    "neighbors") {
    val rnd = new scala.util.Random(3)
    def around(base: Float) =
      Seq.tabulate(16)(i => base + (if (i == 0) 0f else rnd.nextFloat() * 0.05f))
    // three tight clusters at distinct corners
    val rows = (0 until 10).map(i => (i.toLong, around(1f))) ++
      (10 until 20).map(i => (i.toLong, around(-1f))) ++
      (20 until 30).map(i => (i.toLong, Seq.tabulate(16)(j =>
        if (j % 2 == 0) 1f else -1f)))
    val emb = embDf(rows)
    val knn = Similarity.knnIvf(emb, col("vec_id") === 0, k = 3,
      nlist = 3, nprobe = 1).collect()
    assert(knn.length == 3)
    // all neighbors come from vec 0's own cluster (ids 1..9)
    assert(knn.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= 9))
    assert(knn.forall(_.getDouble(2) > 0.99))
  }

  test("Similarity.knnLsh: only same-bucket candidates; near-dup pairs " +
    "found above threshold") {
    val emb = embDf(Seq(
      0L -> Seq.fill(64)(0.5f),
      1L -> Seq.fill(64)(0.5f),
      2L -> Seq.fill(64)(-0.5f))) // opposite bucket
    val knn = Similarity.knnLsh(emb, col("vec_id") === 0, k = 5).collect()
    assert(knn.map(_.getLong(1)).toSet == Set(1L)) // 2 is in another bucket
    val dups = Similarity.cosineNearDup(emb, threshold = 0.95).collect()
    assert(dups.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((0L, 1L)))
  }

  test("Similarity.knnLsh banded multi-probe: ANY matching band makes a " +
    "candidate; no band match → excluded") {
    // query: all positive. vec 1 matches only band 0 (dims 1..16 positive),
    // vec 2 matches only band 3 (dims 49..64 positive), vec 3 matches none.
    val emb = embDf(Seq(
      0L -> Seq.fill(64)(0.5f),
      1L -> (Seq.fill(16)(0.5f) ++ Seq.fill(48)(-0.5f)),
      2L -> (Seq.fill(48)(-0.5f) ++ Seq.fill(16)(0.5f)),
      3L -> Seq.fill(64)(-0.5f)))
    val knn = Similarity.knnLsh(emb, col("vec_id") === 0, k = 5).collect()
    assert(knn.map(_.getLong(1)).toSet == Set(1L, 2L))
  }

  test("Similarity.ivfAssign is map-only: zero shuffles, no join — one " +
    "corpus scan per index build") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.ivfSeedCentroids(emb, 8)
    val assigned = Similarity.ivfAssign(emb, cents)
    assert(graft.operators.Bucketing.countExchanges(assigned) == 0)
    val plan = graft.operators.Bucketing.fullPlanString(assigned)
    assert(!plan.contains("Join"), s"assign must not join:\n$plan")
    // still correct: every vector lands in a cell, queries = their own cell
    val cells = assigned.filter(col("vec_id") < 8)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert((0L until 8L).forall(i => cells(i) == i.toInt))
  }

  /** Occurrences of the IVF assign's signature expression (the argmin
    * `array_min` over centroid-distance structs) in the OPTIMIZED logical
    * plan — counted structurally, not via plan strings (node renderings
    * truncate expression lists, so a `plan.contains("array_min")` check is
    * vacuous). */
  private def countAssignArgmin(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.catalyst.expressions.ArrayMin
    df.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.map(_.collect { case _: ArrayMin => 1 }.sum).sum
    }.sum
  }

  test("Similarity.knnIvf inline path evaluates the assign argmin exactly " +
    "once: the query branch is carved from the raw frame") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.ivfSeedCentroids(emb, 8)
    val knn = Similarity.knnIvf(emb, col("vec_id") < 4, k = 3,
      nlist = 8, nprobe = 2, centroids = Some(cents))
    // the assign argmin must appear in exactly ONE plan branch (the
    // corpus/candidate side) — the r4 shape duplicated it into the query
    // branch, doubling the per-query corpus work
    val occurrences = countAssignArgmin(knn)
    assert(occurrences == 1,
      s"assign subtree duplicated ($occurrences× in optimized plan)")
  }

  test("Similarity.ivfAssign sharded argmin: sharding never changes the " +
    "assignment, and nlist=4096 executes under CODEGEN_ONLY (no " +
    "interpreted fallback)") {
    val s = spark
    import s.implicits._
    // value-invariance: 40 cells assigned with tiny shards vs one shard
    val cents40 = (0 until 40).map(c => (c, Seq(c.toDouble, 0.0)))
      .toDF("cell", "centroid")
    val emb40 = embDf((0 until 25).map(i => (i.toLong, Seq(i * 1.6f, 0f))))
    val sharded = Similarity.ivfAssign(emb40, cents40, shardSize = 7)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val single = Similarity.ivfAssign(emb40, cents40, shardSize = 1 << 20)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(sharded == single, "sharding changed the assignment")
    // scale the cell count past the single-array codegen bound: 4096
    // centroids; CODEGEN_ONLY turns any silent interpreted fallback into
    // a hard failure (the pre-shard formulation dies here)
    val bigCents = (0 until 4096).map(c => (c, Seq(c.toDouble, 0.0, 0.0)))
      .toDF("cell", "centroid")
    val emb = embDf(Seq(0L -> Seq(7f, 0f, 0f), 1L -> Seq(4000.2f, 0f, 0f),
      2L -> Seq(123.4f, 0f, 0f)))
    val prev = s.conf.getOption("spark.sql.codegen.factoryMode")
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val out = Similarity.ivfAssign(emb, bigCents)
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
      assert(out == Map(0L -> 7, 1L -> 4000, 2L -> 123))
    } finally prev match {
      case Some(v) => s.conf.set("spark.sql.codegen.factoryMode", v)
      case None => s.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("Similarity.ivfFitCentroids: bounded reservoir sample (no count() " +
    "pre-scan) still fits nlist centroids of the right shape") {
    val rnd = new scala.util.Random(7)
    val emb = embDf((0 until 300).map { i =>
      val base = (i % 3) * 10f - 10f // three well-separated clusters
      (i.toLong, Seq.tabulate(4)(_ => base + rnd.nextFloat() * 0.1f))
    }).repartition(4)
    val cents = Similarity.ivfFitCentroids(emb, nlist = 3, maxSample = 60)
      .collect()
    assert(cents.length == 3)
    assert(cents.map(_.getInt(0)).sorted.toSeq == Seq(0, 1, 2))
    // every centroid sits near one of the three true cluster centers —
    // a 60-row reservoir out of 300 is plenty for KMeans to land
    val centers = cents.map(_.getSeq[Double](1).head)
    assert(centers.forall(c =>
      Seq(-10.0, 0.0, 10.0).exists(t => math.abs(c - t) < 1.0)),
      s"centroids off-cluster: ${centers.mkString(",")}")
  }

  test("Similarity.ivfAssign rejects all-null centroid tables instead of " +
    "NPE-ing at plan build") {
    val s = spark
    import s.implicits._
    val emb = embDf(Seq(0L -> Seq(1f, 0f)))
    val nullCents = Seq((Option.empty[Int], Option.empty[Seq[Double]]))
      .toDF("cell", "centroid")
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfAssign(emb, nullCents)
    }
    assert(e.getMessage.contains("non-null"))
    // null rows are dropped, non-null ones still drive the assignment
    val mixed = Seq((Option(0), Option(Seq(1.0, 0.0))),
      (Option.empty[Int], Option.empty[Seq[Double]]))
      .toDF("cell", "centroid")
    val out = Similarity.ivfAssign(emb, mixed).collect()
    assert(out.length == 1 && out.head.getInt(2) == 0)
  }

  test("Similarity.knnIvfIndexed: persisted-index query path matches inline " +
    "knnIvf, scans the bucketed index, and never recomputes assignment") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.ivfSeedCentroids(emb, 8)
    Similarity.ivfWriteIndex(emb, cents, "ivf_index_q", buckets = 8)
    try {
      val indexed = Similarity.knnIvfIndexed(spark, "ivf_index_q", cents,
        col("vec_id") < 4, k = 3, nprobe = 2)
      val inline = Similarity.knnIvf(emb, col("vec_id") < 4, k = 3,
        nlist = 8, nprobe = 2, centroids = Some(cents))
      assert(indexed.collect().toSet == inline.collect().toSet)
      val plan = graft.operators.Bucketing.fullPlanString(indexed)
      // the query plan reads the persisted index...
      assert(plan.contains("ivf_index_q"), s"must scan the index:\n$plan")
      // ...does not re-run the assignment argmin (structural check — plan
      // strings truncate expressions, so a string match proves nothing)...
      assert(countAssignArgmin(indexed) == 0, "no assign recompute")
      // ...and the cell probe join broadcasts the tiny probe side, so the
      // index side is never shuffled (the only exchanges are over the
      // |Q|-sized probe/topK windows)
      assert(plan.contains("BroadcastHashJoin"))
      assert(!plan.contains("SortMergeJoin"), s"index side shuffled:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS ivf_index_q")
  }

  test("Similarity.dimTruncationSweep: full-width recall is exactly 1.0 " +
    "(truth vs itself), every width reports the same query count") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rows = Similarity.dimTruncationSweep(emb, col("vec_id") < 4,
      dims = Seq(8, 32, 64), k = 3).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(rows.keySet == Set(8, 32, 64))
    assert(rows(64).getDouble(3) == 1.0, "full width must recover truth")
    assert(rows(64).getLong(1) == rows(64).getLong(2) * 3) // n_hits = q*k
    assert(rows.values.map(_.getLong(2)).toSet.size == 1, "same |Q| per row")
  }

  test("Similarity.knnIvf with seeded centroids: full probe == brute force; " +
    "ivfWriteIndex persists a cell-bucketed index") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.ivfSeedCentroids(emb, 8)
    // probing every cell must degrade to exhaustive search
    val full = Similarity.knnIvf(emb, col("vec_id") < 4, k = 3,
      nlist = 8, nprobe = 8, centroids = Some(cents))
    val brute = Similarity.knnBrute(emb, col("vec_id") < 4, k = 3)
    assert(full.collect().toSet == brute.collect().toSet)
    // persisted index: bucketed by cell, assignments match ivfAssign
    Similarity.ivfWriteIndex(emb, cents, "ivf_index_test", buckets = 8)
    val idx = spark.table("ivf_index_test")
    val live = Similarity.ivfAssign(emb, cents)
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1))
    val persisted = idx.select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    assert(persisted.toMap == live.toMap)
    // a join keyed on cell against the bucketed side needs no extra shuffle
    // of the index (its scan carries HashPartitioning(cell, 8))
    spark.sql("DROP TABLE IF EXISTS ivf_index_test")
  }

  test("Dedup.dedupReport: one-row summary matches the pipeline's drops " +
    "(doc both exact- and near-dropped counted once in the union)") {
    // fixture: 2 = exact dup of 1; 3 = near-dup of 1 AND 2 (jaccard ≥0.8);
    // 2 is ALSO a near-drop (pair (1,2) has jaccard 1.0) — union dedups
    val r = Dedup.dedupReport(docs, jaccardThreshold = 0.8, rowsPerBand = 1)
      .collect()
    assert(r.length == 1)
    val row = r.head
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
      row.getLong(4)) == ((4L, 1L, 2L, 2L, 2L)))
  }

  test("Dedup.dupClusters: near-dup CHAIN collapses to one component — " +
    "where pairwise dropping keeps two survivors") {
    // 50-word docs; B(id 3) differs from A(id 1) at word 10, C(id 2)
    // differs from B at word 40. Adjacent pairs share 45/51 shingles
    // (jaccard ~0.88 ≥ 0.8); the far pair (A,C) only 42/54 (~0.78 < 0.8).
    // Graph: 1–3–2, the path-graph counter-example from the scaladoc.
    val words = (0 until 50).map(i => f"tok$i%02d")
    val a = words.mkString(" ")
    val b = words.updated(10, "chainmidx").mkString(" ")
    val c = words.updated(10, "chainmidx").updated(40, "chainendx")
      .mkString(" ")
    val chain = docsDf(Seq(1L -> a, 3L -> b, 2L -> c,
      4L -> "completely different words about spark catalyst plans"))
    val clusters = Dedup.dupClusters(chain, 0.8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
      s"expected one component {1,2,3} labeled 1, got $clusters")
    // the pairwise endpoint on the same corpus keeps BOTH chain ends (1 and
    // 2): each edge only drops its larger id (3, twice) — the semantic gap
    // dupClusters closes
    val kept = Dedup.dedupPipeline(chain, 0.8).collect()
      .map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 4L))
  }

  test("Dedup.dupClusters: no near-dup edges → empty result " +
    "(singletons are implicit)") {
    val distinct = docsDf(Seq(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "one two three four five six seven"))
    assert(Dedup.dupClusters(distinct, 0.8).count() === 0L)
  }

  test("TextAnalysis.repetition: duplicated n-grams counted exactly; " +
    "sub-n docs score 0.0") {
    // doc 1 bigrams: "a b","b a","a b","b c" → 4 total, 3 distinct, 0.25
    val docs = docsDf(Seq(1L -> "a b a b c", 2L -> "x"))
    val out = TextAnalysis.repetition(docs, n = 2).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((4L, 3L, 0.25)))
    assert(out(2L) == ((0L, 0L, 0.0)))
  }

  test("TextAnalysis.decontaminate: flags exactly the docs sharing an " +
    "n-gram with the eval set, with the shared-gram count") {
    val corpus = docsDf(Seq(
      1L -> "the quick brown fox jumps",
      2L -> "totally unrelated words here today"))
    val eval_ = docsDf(Seq(100L -> "a quick brown fox runs"))
    val out = TextAnalysis.decontaminate(corpus, eval_, n = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L)) // the one shared 3-gram: "quick brown fox"
  }

  test("TextAnalysis.tfidfTopK: hand-computed scores and deterministic " +
    "ranking") {
    // N=3; df: apple 1, banana 2, cherry 2, dog 1
    // doc1: apple 2*ln(3)=2.1972 rank 1, banana ln(1.5)=0.4055 rank 2
    val docs = docsDf(Seq(1L -> "apple apple banana",
      2L -> "banana cherry", 3L -> "cherry dog"))
    val doc1 = TextAnalysis.tfidfTopK(docs, k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .filter(_._1 == 1L).sortBy(_._3).toSeq
    assert(doc1 == Seq((1L, "apple", 1L, 2.1972), (1L, "banana", 2L, 0.4055)))
  }

  test("TextAnalysis.mixSample: per-source hash sampling matches the " +
    "driver-side predicate exactly; rate 1.0 keeps all, default 0 drops") {
    val docs = docsDf((1L to 20L).map(i => i -> s"word$i more text"))
    val kept = TextAnalysis.mixSample(docs, Map("srcA" -> 0.5))
      .collect().map(_.getLong(0)).toSet
    val expected = (1L to 20L)
      .filter(i => md5hex(s"mix:$i").substring(0, 4) < "8000").toSet
    assert(kept == expected)
    assert(expected.nonEmpty && expected.size < 20) // both branches exercised
    assert(TextAnalysis.mixSample(docs, Map("srcA" -> 1.0)).count() === 20L)
    assert(TextAnalysis.mixSample(docs, Map.empty).count() === 0L)
  }

  test("Similarity.sq8Dequantized: round-trip error within half a " +
    "quantization step; constant and endpoint values exact") {
    val s = spark
    import s.implicits._
    val vals = Seq(
      0L -> Array(0.0f, 1.0f, 5.0f),
      1L -> Array(1.0f, 1.0f, -5.0f),
      2L -> Array(0.5f, 1.0f, 0.0f))
    val emb = vals.map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
    val dq = Similarity.sq8Dequantized(emb).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // per-dim ranges: 1.0, 0 (constant), 10 → max error range/255/2
    val halfStep = Seq(0.5 / 255, 0.0, 5.0 / 255)
    for ((id, v) <- vals; j <- v.indices)
      assert(math.abs(dq(id)(j) - v(j)) <= halfStep(j) + 1e-12,
        s"vec $id dim $j: ${dq(id)(j)} vs ${v(j)}")
    // range endpoints land on exact quantization levels
    assert(dq(0L)(0) == 0.0 && dq(1L)(0) == 1.0)
    assert(dq(0L)(2) == 5.0 && dq(1L)(2) == -5.0)
  }

  test("Similarity.recallAtK: per-query hit fraction; zero-overlap query " +
    "scores 0.0") {
    val s = spark
    import s.implicits._
    val truth = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 21L), (2L, 22L)).toDF("q_id", "c_id")
    val ann = Seq((1L, 10L), (1L, 12L), (1L, 99L),
      (2L, 97L), (2L, 98L), (2L, 99L)).toDF("q_id", "c_id")
    val out = Similarity.recallAtK(ann, truth, k = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out == Map(1L -> ((2L, 0.6667)), 2L -> ((0L, 0.0))))
  }

  test("TextAnalysis.chunk: stride windows with overlap, short tail, " +
    "sub-chunk doc yields one chunk") {
    val docs = docsDf(Seq(1L -> "a b c d e f g", 2L -> "x y"))
    val out = TextAnalysis.chunk(docs, chunkTokens = 4, overlap = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(out == Seq(
      (1L, 0L, 4L, md5hex("a b c d")),
      (1L, 1L, 4L, md5hex("d e f g")),
      (1L, 2L, 1L, md5hex("g")),
      (2L, 0L, 2L, md5hex("x y"))))
  }

  test("CorpusOps.corpusStats: per-stratum counts and token shares") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a b c", "en", "s1", 5L), (2L, "d e", "en", "s1", 3L),
      (3L, "f g h i j", "de", "s2", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = CorpusOps.corpusStats(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(("s1", "en")) == ((2L, 5L, 0.5)))
    assert(out(("s2", "de")) == ((1L, 5L, 0.5)))
  }

  test("CorpusOps.packSequences: offset-bin assignment by running token " +
    "total per source") {
    val s = spark
    import s.implicits._
    // 3 tokens per doc, bin 5: start offsets 0,3,6,9 → packs 0,0,1,1
    val docs = (1L to 4L).map(i => (i, "a b c", "en", "s1", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = CorpusOps.packSequences(docs, maxTokens = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L))
  }

  test("CorpusOps.packStats: bins, tokens, and mean fill (can exceed 1.0 " +
    "on bin-spanning docs — offset binning charges the bin of the first " +
    "token)") {
    val s = spark
    import s.implicits._
    // 4 docs x 3 tokens, bin 5 → packs 0,0,1,1; both bins hold 6 tokens
    val docs = (1L to 4L).map(i => (i, "a b c", "en", "s1", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = CorpusOps.packStats(docs, maxTokens = 5).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getString(0) == "s1" && r.getLong(1) == 2L &&
      r.getLong(2) == 12L && r.getDouble(3) == 1.2)
  }

  test("CorpusOps.packSequences: salted prefix sum is bit-identical to the " +
    "naive single-window formulation on a 90%-hot-source corpus, and the " +
    "heavy window parallelizes over (source, salt)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    // 900 of 1000 docs in one hot source; variable token counts
    val docs = (1L to 1000L).map { i =>
      val src = if (i <= 900) "hot" else s"cold${i % 5}"
      val text = Seq.fill(1 + rnd.nextInt(9))("tok").mkString(" ")
      (i, text, "en", src, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    // tiny saltWidth → the hot source spans many salt blocks
    val salted = CorpusOps.packSequences(docs, maxTokens = 7, saltWidth = 64)
    // oracle: the pre-salt global-window formulation, computed in the driver
    val toks = docs.collect().map(r =>
      (r.getLong(0), r.getString(3), r.getString(1).split(" ").length.toLong))
    val expect = toks.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._1).toSeq.map { case (id, _, n) =>
        val pack = cum / 7; cum += n; id -> pack
      }
    }.toMap
    val got = salted.collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == expect)
    // the hot source's window work is split across >1 salt block (i.e. >1
    // task can sort in parallel), and the physical Window node actually
    // partitions on (source, salt) — not source alone
    val hotSalts = salted.where(col("source") === "hot")
      .select(floor(col("doc_id") / 64).cast("long")).distinct().count()
    assert(hotSalts >= 15, s"expected >=15 salt blocks in hot, got $hotSalts")
    // descend through AQE wrappers (post-execution executedPlan is an
    // AdaptiveSparkPlanExec whose children hide inside query stages)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(p: SparkPlan): Seq[WindowExec] = {
      val self = p match { case w: WindowExec => Seq(w); case _ => Nil }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      self ++ kids.flatMap(windows)
    }
    val windowNodes = windows(salted.queryExecution.executedPlan)
    assert(windowNodes.exists(w =>
      w.partitionSpec.map(_.toString).exists(_.contains("salt")) &&
        w.partitionSpec.map(_.toString).exists(_.contains("source"))),
      s"expected a Window partitioned on (source, salt):\n${windowNodes.map(_.partitionSpec).mkString("; ")}")
  }

  test("Dedup.chunkDedup: shared chunk across docs groups by fingerprint, " +
    "keeps lexicographically least (doc_id, chunk_idx)") {
    // chunkTokens=2, overlap=0: doc1 "a b|c d", doc2 "a b|x" — the "a b"
    // window repeats across docs
    val d = docsDf(Seq(1L -> "a b c d", 2L -> "a b x"))
    val out = Dedup.chunkDedup(d, chunkTokens = 2, overlap = 0).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out.size == 3) // "a b", "c d", "x"
    val abFp = out.keys.find(k => out(k)._3 == 2L).get
    assert(out(abFp) == ((1L, 0L, 2L))) // kept doc 1 chunk 0, 2 dupes
    assert(out.values.count(_._3 == 1L) == 2)
  }

  test("TextAnalysis.decontaminateChunks: only the window containing eval " +
    "grams is flagged; gram counts are per-chunk distinct") {
    // train "a b c d e", chunkTokens=3 overlap=1 → chunks [a b c][c d e][e];
    // eval "c d e" 2-grams {c d, d e} hit ONLY chunk 1 (both grams)
    val train = docsDf(Seq(1L -> "a b c d e"))
    val eval_ = docsDf(Seq(100L -> "c d e"))
    val out = TextAnalysis.decontaminateChunks(train, eval_,
      chunkTokens = 3, overlap = 1, n = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((1L, 1L) -> 2L))
  }

  test("CorpusOps.lengthHistogram: integer bucket edges, doc and token " +
    "totals per bucket") {
    val d = docsDf(Seq(
      1L -> Seq.fill(15)("w").mkString(" "),  // 15 → 0000-0015
      2L -> Seq.fill(16)("w").mkString(" "),  // 16 → 0016-0063 (edge)
      3L -> Seq.fill(63)("w").mkString(" "),  // 63 → 0016-0063
      4L -> Seq.fill(300)("w").mkString(" "))) // 300 → 0256-1023
    val out = CorpusOps.lengthHistogram(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(
      "0000-0015" -> ((1L, 15L)),
      "0016-0063" -> ((2L, 79L)),
      "0256-1023" -> ((1L, 300L))))
  }

  test("Similarity.ivfStats: per-cell occupancy sums to the corpus and " +
    "shares sum to 1") {
    val s = spark
    import s.implicits._
    val emb = (0L until 40L).map(i =>
      (i, Array.fill(8)((i % 5).toFloat + 0.1f), "l"))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.ivfStats(emb,
      Similarity.ivfSeedCentroids(emb, 4)).collect()
    assert(out.map(_.getLong(1)).sum == 40L)
    assert(math.abs(out.map(_.getDouble(2)).sum - 1.0) < 0.01)
    // 5 distinct vector values, 4 centroids (ids 0..3 = values 0..3 + .1):
    // every vector lands in SOME cell, no cell lost
    assert(out.map(_.getLong(0)).toSet.subsetOf(Set(0L, 1L, 2L, 3L)))
  }

  test("Dedup.dupClusters: pointer-jumping shortcut is bit-identical to " +
    "plain label propagation on a 24-deep near-dup chain") {
    // sliding 40-word windows, step 2 → adjacent docs jaccard ≈ 0.9 (edge),
    // 2-apart ≈ 0.77 (no edge): a deep path graph, the worst case for
    // plain propagation and exactly what the shortcut is for
    val vocab = (0 until 90).map(i => f"w$i%03d")
    val chain = (0 until 24).map { i =>
      (i + 1).toLong -> vocab.slice(i * 2, i * 2 + 40).mkString(" ")
    }
    val d = docsDf(chain)
    val jumped = Dedup.dupClusters(d, 0.8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plain = Dedup.dupClusters(d, 0.8, shortcut = false).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(jumped == plain)
    assert(jumped.nonEmpty)
    // whatever edges LSH produced, every label must be a fixpoint: the min
    // id of the member's component — and the chain head must label itself
    assert(jumped.getOrElse(1L, 1L) == 1L)
  }

  test("Dedup.dedupBySource: per-source drop accounting matches the " +
    "pipeline's union of exact and near drops") {
    // fixture: docs 1..4 all srcA; 2 is an exact dup of 1, 3 a near dup
    val out = Dedup.dedupBySource(docs, 0.8).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))).toMap
    assert(out == Map("srcA" -> ((4L, 2L, 2L, 0.5))))
    // cross-check: kept count equals the pipeline's survivor count
    assert(Dedup.dedupPipeline(docs, 0.8).count() == 2L)
  }

  test("TextAnalysis.piiScrub: emails and phone-shaped numbers redacted " +
    "with counts; clean text untouched") {
    val d = docsDf(Seq(
      1L -> "contact a.smith+x@mail.example.com or 555-123-4567 today",
      2L -> "no pii here at all",
      3L -> "two mails x@y.io and z@w.co plus 01.2345.6789 not a phone"))
    val out = TextAnalysis.piiScrub(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getString(3)))).toMap
    assert(out(1L) == ((1L, 1L, "contact <EMAIL> or <PHONE> today")))
    assert(out(2L) == ((0L, 0L, "no pii here at all")))
    // 01.2345.6789 does not match \d{3}[-.]\d{3,4}[-.]\d{4}
    assert(out(3L) == ((2L, 0L,
      "two mails <EMAIL> and <EMAIL> plus 01.2345.6789 not a phone")))
  }

  test("Dedup.clusterBest: keeps the longest member per near-dup cluster, " +
    "ties to lower doc_id, reports cluster size") {
    // docs 1,2,3 cluster (exact + near dup); best = 3 (9 tokens vs 9... )
    val out = Dedup.clusterBest(docs, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 1)
    val (cid, bestId, bestTok, n) = out.head
    assert(cid == 1L && n == 3L)
    // doc 3 is dupText + " slightly" = 11 tokens, longest member
    assert(bestId == 3L && bestTok == 11L)
  }

  test("CorpusOps.tokenBudgetSample: hash-ordered per-source budget cut is " +
    "bit-identical to the naive single-window formulation, incl. across " +
    "salt blocks") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(13)
    val data = (1L to 400L).map { i =>
      val src = if (i <= 300) "hot" else s"cold${i % 3}"
      val text = Seq.fill(1 + rnd.nextInt(9))("tok").mkString(" ")
      (i, text, "en", src, text.length.toLong)
    }
    val df = data.toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = CorpusOps.tokenBudgetSample(df, budgetTokens = 150,
      saltChars = 1).collect().map(_.getLong(0)).toSet
    // oracle: plain per-source cumsum in (md5(doc_id), doc_id) order
    val expect = data.groupBy(_._4).toSeq.flatMap { case (_, rows) =>
      var cum = 0L
      rows.map(r => (md5hex(r._1.toString), r._1, r._2.split(" ").length))
        .sortBy(x => (x._1, x._2))
        .flatMap { case (_, id, n) =>
          cum += n; if (cum <= 150) Some(id) else None
        }
    }.toSet
    assert(got == expect && got.nonEmpty && got.size < 400)
  }

  test("TextAnalysis.rollingFingerprint: running-min fold equals the " +
    "driver-computed gram min, incl. on a multi-hundred-KB document") {
    // hand case: every 8-gram's md5, min taken in the driver
    val text = "abcdefghijkl"
    val expect = (0 to text.length - 8)
      .map(i => md5hex(text.substring(i, i + 8))).min
    assert(TextAnalysis.rollingFingerprint(docsDf(Seq(1L -> text)))
      .head.getString(1) == expect)
    // sub-gram-length text: one window, substr shortens past the end
    assert(TextAnalysis.rollingFingerprint(docsDf(Seq(2L -> "abc")))
      .head.getString(1) == md5hex("abc"))
    // multi-hundred-KB doc — the fold keeps one 32-char accumulator per row
    // where the pre-r7 materialized form held ~64 bytes per character
    // (~20 MB of transient row memory for this fixture); values must still
    // match the driver-side exhaustive min exactly
    val rnd = new scala.util.Random(11)
    val big = Seq.fill(50000)(f"w${rnd.nextInt(100000)}%05d").mkString(" ")
    assert(big.length > 290000)
    val bigExpect = (0 to big.length - 8)
      .map(i => md5hex(big.substring(i, i + 8))).min
    assert(TextAnalysis.rollingFingerprint(docsDf(Seq(3L -> big)))
      .head.getString(1) == bigExpect)
  }

  test("TextAnalysis.unigramLogProb: exact micro-sum parity values on a " +
    "hand-computed corpus") {
    // corpus: a:2 b:2 c:1, N=5. round(ln(0.4)*1e8) = -91629073,
    // round(ln(0.2)*1e8) = -160943791.
    val docs = docsDf(Seq(1L -> "a a b", 2L -> "b c"))
    val out = TextAnalysis.unigramLogProb(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((3L, -274887219L, -0.9163)))
    assert(out(2L) == ((2L, -252572864L, -1.2629)))
  }

  private def srcDocsDf(rows: Seq[(Long, String, String)]) = {
    val s = spark
    import s.implicits._
    rows.map { case (id, text, src) =>
      (id, text, "en", src, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("Dedup.ngramFrequencyHist counts every shingle appearance, " +
    "including within-doc repeats") {
    // "a b c a b c a b" → shingles: abc, bca, cab, abc, bca, cab →
    // {abc:2, bca:2, cab:2}; "x y z" → {xyz:1}
    val docs = docsDf(Seq(1L -> "a b c a b c a b", 2L -> "x y z"))
    val hist = Dedup.ngramFrequencyHist(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist == Map(1L -> 1L, 2L -> 3L))
  }

  test("Dedup.sourceOverlap: distinct shared shingles per source pair, " +
    "join-free expansion matches the naive pair definition") {
    val shared = "alpha beta gamma delta" // shingles abg, bgd
    val docs = srcDocsDf(Seq(
      (1L, shared, "s1"), (2L, shared, "s2"),
      (3L, shared + " epsilon", "s3"), // adds gde; shares abg,bgd with s1/s2
      (4L, "unrelated words entirely here", "s4"),
      // duplicate doc within s1 must NOT double-count distinct shingles
      (5L, shared, "s1")))
    val out = Dedup.sourceOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("s1", "s2") -> 2L, ("s1", "s3") -> 2L, ("s2", "s3") -> 2L))
    // the expansion is agg-only: no join operator anywhere in the plan
    val plan = Dedup.sourceOverlap(docs).queryExecution.executedPlan
    assert(!plan.toString.toLowerCase.contains("join"))
  }

  test("CorpusOps.mixtureWeights: sqrt-temperature weights normalize to 1 " +
    "and up-weight small sources") {
    // s1: 8 tokens, s2: 2 tokens → weights sqrt(8):sqrt(2) = 2:1
    val docs = srcDocsDf(Seq(
      (1L, "a b c d e f g h", "s1"), (2L, "x y", "s2")))
    val w = CorpusOps.mixtureWeights(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(w("s1") == ((8L, 0.6667)) && w("s2") == ((2L, 0.3333)))
    // proportional share would be 0.8/0.2 — temperature pulled 13pts toward
    // uniform, the whole point of the op
  }

  test("Similarity.knnClassify: majority vote wins; ties break to the " +
    "smallest label; output pairs prediction with the query's own label") {
    val s = spark
    import s.implicits._
    // query 0 (label 9): top-3 neighbors 1,2 (label 5) + 3 (label 7) →
    // majority 5 with 2 votes. query 20 (label 9): top-4 neighbors carry
    // labels {6,6,8,8} → 2-2 tie → predict 6 (smallest label).
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 9),
      (1L, Seq(0.99f, 0.1f, 0f, 0f), 5),
      (2L, Seq(0.99f, -0.1f, 0f, 0f), 5),
      (3L, Seq(0.9f, 0.3f, 0f, 0f), 7),
      (20L, Seq(0f, 0f, 1f, 0f), 9),
      (21L, Seq(0f, 0.1f, 0.99f, 0f), 6),
      (22L, Seq(0f, -0.1f, 0.99f, 0f), 6),
      (23L, Seq(0f, 0.2f, 0.95f, 0f), 8),
      (24L, Seq(0f, -0.2f, 0.95f, 0f), 8)
    ).toDF("vec_id", "embedding", "label")
    val k3 = Similarity.knnClassify(emb,
        col("vec_id") === 0, k = 3).collect()
    assert(k3.length == 1)
    assert(k3.head.getLong(0) == 0L && k3.head.getInt(1) == 9 &&
      k3.head.getInt(2) == 5 && k3.head.getLong(3) == 2L)
    val tied = Similarity.knnClassify(emb,
        col("vec_id") === 20, k = 4).collect()
    assert(tied.head.getInt(2) == 6 && tied.head.getLong(3) == 2L)
  }

  test("Dedup.dupTokenShare: repeat-occurrence share over all shingle " +
    "appearances, hand-computed") {
    // doc1: 6 shingle occurrences over 3 distinct; doc2: 1 distinct →
    // total 7, distinct 4, dup_share = 3/7 = 0.4286
    val docs = docsDf(Seq(1L -> "a b c a b c a b", 2L -> "x y z"))
    val r = Dedup.dupTokenShare(docs).head
    assert(r.getLong(0) == 7L && r.getLong(1) == 4L &&
      r.getDouble(2) == 0.4286)
  }

  test("TextAnalysis.gopherFilter: each rule independently fails its " +
    "violating document; clean doc passes; signals are audit-readable") {
    val stopPad = "the a of and to in is" // 7 stopwords
    val clean = (stopPad + " spark catalyst tungsten shuffle " +
      "broadcast partition executor codegen parquet predicate pushdown " +
      "vector column") // 21 tokens, no repeated 2-grams
    val docs = srcDocsDf(Seq(
      (1L, clean, "s"),
      (2L, "too short entirely", "s"), // n_tokens 3 < 20
      (3L, clean.replace(stopPad,
        "spark sql plan exec node tree leaf"), "s"), // 0 stopwords
      (4L, stopPad + " " + Seq.fill(7)("dup gram").mkString(" "), "s")))
    // doc 4: "dup gram" repeated → rep_2gram far above 0.05
    val out = TextAnalysis.gopherFilter(docs).collect()
      .map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false))
    val audit = TextAnalysis.gopherFilter(docs).filter(col("doc_id") === 4)
      .head
    assert(audit.getLong(4) >= 2L) // stopwords fine…
    assert(audit.getDouble(5) > 0.05) // …repetition is what failed
  }

  test("Similarity.pqDecoded: codebook vectors round-trip exactly; others " +
    "reconstruct per-subspace from the nearest codeword (ties → lower code)") {
    val s = spark
    import s.implicits._
    // m=2 subspaces of 2 dims, ksub=2 → codebook = vectors 0 and 1.
    // vec 2: subspace [0.9,0.1] → code 0 ([1,0], L2² 0.02 vs 1.62);
    //        subspace [0.2,0.9] → code 0 ([0,1], L2² 0.05 vs 1.45)
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f, 1f), 0),
      (1L, Seq(0f, 1f, 1f, 0f), 1),
      (2L, Seq(0.9f, 0.1f, 0.2f, 0.9f), 2)
    ).toDF("vec_id", "embedding", "label")
    val rec = Similarity.pqDecoded(emb, m = 2, ksub = 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(rec(0L) == Seq(1.0, 0.0, 0.0, 1.0))
    assert(rec(1L) == Seq(0.0, 1.0, 1.0, 0.0))
    assert(rec(2L) == Seq(1.0, 0.0, 0.0, 1.0))
  }

  test("Similarity.knnIvfPq: ADC leaves the query side unquantized — on a " +
    "corpus whose vectors all round-trip the codebook exactly, IVF-PQ " +
    "returns plain IVF's results verbatim") {
    val s = spark
    import s.implicits._
    // 8 codebook vectors (d=16, m=8 → dsub=2, ksub=8); the rest of the
    // corpus repeats codebook vectors (exact PQ round-trip), plus one
    // off-codebook QUERY vector (id 20) — if ADC quantized the query, its
    // scores (and ranking) would shift vs plain IVF.
    def unit(i: Int): Seq[Float] =
      (0 until 16).map(j => if (j == i) 1f else 0f)
    val base = (0 until 8).map(i => (i.toLong, unit(i * 2), i))
    val dups = (8 until 16).map(i => (i.toLong, unit(((i - 8) * 2)), i))
    val query = Seq((20L,
      (0 until 16).map(j => if (j < 3) 0.7f else 0.1f), 20))
    val emb = (base ++ dups ++ query).toDF("vec_id", "embedding", "label")
    val pq = Similarity.knnIvfPq(emb, col("vec_id") === 20L, k = 3,
      nlist = 8, nprobe = 8, m = 8, ksub = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ivf = Similarity.knnIvf(emb, col("vec_id") === 20L, k = 3,
      nlist = 8, nprobe = 8,
      centroids = Some(Similarity.ivfSeedCentroids(emb, 8))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pq == ivf, s"ADC must not quantize the query: $pq vs $ivf")
    assert(pq.nonEmpty)
  }

  test("Similarity.semanticDecontaminate: a corpus vector cosine-close to " +
    "an eval vector drops; orthogonal corpus survives; output is corpus-" +
    "only") {
    val s = spark
    import s.implicits._
    def unit(i: Int): Seq[Float] =
      (0 until 8).map(j => if (j == i) 1f else 0f)
    // corpus: 0 (≈ eval 100's direction), 1..3 orthogonal axes;
    // eval: 100 pointing along axis 0
    val corpus = (0 to 3).map(i => (i.toLong, unit(i), i))
      .toDF("vec_id", "embedding", "label")
    val evalSet = Seq((100L, unit(0), 0))
      .toDF("vec_id", "embedding", "label")
    val cents = Similarity.ivfSeedCentroids(corpus, 4)
    val kept = Similarity.semanticDecontaminate(
      corpus, evalSet, cents, threshold = 0.9).collect()
      .map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L),
      s"vector 0 duplicates the eval set and must drop: $kept")
  }

  test("Similarity.knnIvfPq: trained-codebook path end-to-end — on a " +
    "perfectly reconstructible corpus, ADC over trained codes equals " +
    "plain IVF exactly") {
    val s = spark
    import s.implicits._
    // the pqFitCodebook fixture: each subspace takes exactly 2 values, so
    // the trained 2-code-per-subspace book reconstructs every vector
    // perfectly — ADC scores become exact cosines and the trained IVF-PQ
    // must reproduce plain IVF verbatim
    val a = Seq(1f, 0f); val b = Seq(0f, 1f)
    val rows = (0L until 40L).map { i =>
      val sub0 = if (i % 2 == 0) a else b
      val sub1 = if (i < 2) a else if (i % 3 == 0) a else b
      (i, sub0 ++ sub1, i.toInt)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val cb = Similarity.pqFitCodebook(emb, m = 2, ksub = 2, maxSample = 100)
    val pq = Similarity.knnIvfPq(emb, col("vec_id") < 2, k = 3,
      nlist = 4, nprobe = 4, m = 2, ksub = 2, codebook = Some(cb))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val ivf = Similarity.knnIvf(emb, col("vec_id") < 2, k = 3,
      nlist = 4, nprobe = 4,
      centroids = Some(Similarity.ivfSeedCentroids(emb, 4))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pq == ivf, s"trained-codebook ADC must be exact here: $pq vs $ivf")
    assert(pq.nonEmpty)
  }

  test("Similarity.pqFitCodebook: per-subspace k-means recovers an exactly " +
    "ksub-clustered corpus, so trained-codebook decode reconstructs it " +
    "perfectly where the seeded codebook cannot") {
    val s = spark
    import s.implicits._
    // Each subspace takes exactly 2 distinct values across the corpus, but
    // vectors 0..1 (the SEEDED codebook) only ever see one of them in
    // subspace 1 — the trained fit must discover both.
    val a = Seq(1f, 0f); val b = Seq(0f, 1f)
    val rows = (0L until 40L).map { i =>
      val sub0 = if (i % 2 == 0) a else b
      val sub1 = if (i < 2) a else if (i % 3 == 0) a else b // 0,1 both see a
      (i, sub0 ++ sub1, i.toInt)
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val cb = Similarity.pqFitCodebook(emb, m = 2, ksub = 2, maxSample = 100)
    assert(cb.count() == 4) // 2 subspaces × 2 codes
    val trained = Similarity.pqDecoded(emb, m = 2, ksub = 2,
      codebook = Some(cb)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    for ((id, v, _) <- rows)
      assert(trained(id) == v.map(_.toDouble),
        s"vec $id not perfectly reconstructed: ${trained(id)}")
    // the seeded codebook's subspace-1 entries are both `a` → every vector
    // with sub1 == b is mis-reconstructed there; trained fixes exactly that
    val seeded = Similarity.pqDecoded(emb, m = 2, ksub = 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(seeded(5L).slice(2, 4) == Seq(1.0, 0.0)) // forced to `a`
  }

  test("Dedup.lineDedup: boilerplate lines removed everywhere except the " +
    "first doc; short lines exempt; text reassembled in original order") {
    val docs = docsDf(Seq(
      1L -> "COOKIE BANNER\nunique alpha body\nx",
      2L -> "COOKIE BANNER\nunique beta body\nx",
      3L -> "COOKIE BANNER\nunique gamma body",
      4L -> "all original content here",
      5L -> "COOKIE BANNER")) // every line boilerplate → empty, not absent
    val out = Dedup.lineDedup(docs, sep = "\n", maxDocs = 2, minChars = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2),
        r.getLong(3)))).toMap
    // banner is in 4 docs > maxDocs=2 → removed except in doc 1; "x" is in
    // 2 docs but trimmed length 1 < minChars=2 → exempt everywhere
    assert(out(1L) == (("COOKIE BANNER\nunique alpha body\nx", 3L, 0L)))
    assert(out(2L) == (("unique beta body\nx", 3L, 1L)))
    assert(out(3L) == (("unique gamma body", 2L, 1L)))
    assert(out(4L) == (("all original content here", 1L, 0L)))
    assert(out(5L) == (("", 1L, 1L)))
  }

  test("Dedup.incrementalDedup equals the plain anti-join — even with a " +
    "tiny bloom forcing false positives through the confirm join") {
    val known = docsDf(Seq(1L -> "aa bb", 2L -> "cc dd", 3L -> "ee ff"))
    val fresh = docsDf(Seq(10L -> "aa bb", 11L -> "zz yy",
      12L -> "qq ww", 13L -> "cc dd"))
    // 8-bit sketch → near-certain false positives; result must not change
    val tiny = Dedup.incrementalDedup(fresh, known,
      estimatedItems = 4, numBits = 8)
      .collect().map(_.getLong(0)).toSet
    assert(tiny == Set(11L, 12L))
    val sized = Dedup.incrementalDedup(fresh, known)
      .collect().map(_.getLong(0)).toSet
    assert(sized == Set(11L, 12L))
  }

  test("TextAnalysis.splitAssign: exhaustive, roughly proportional, and " +
    "STABLE — a doc keeps its split when the corpus around it changes") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val docs = docsDf((1L to 200L).map(i => i -> s"doc number $i words"))
    val a1 = TextAnalysis.splitAssign(docs, splits).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(a1.size == 200)
    assert(a1.values.toSet.subsetOf(Set("train", "val", "test")))
    val counts = a1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > 120) // ~160 expected at 0.8
    // the held-out property: membership is a pure function of doc_id, so
    // shrinking the corpus to a quarter reassigns nothing
    val sub = docsDf((1L to 50L).map(i => i -> s"doc number $i words"))
    val a2 = TextAnalysis.splitAssign(sub, splits).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(a2.forall { case (id, sp) => a1(id) == sp })
    intercept[IllegalArgumentException] {
      TextAnalysis.splitAssign(docs, Seq("train" -> 0.5))
    }
  }

  test("TextAnalysis.splitAssign: a zero-weight trailing split gets ZERO " +
    "docs — a full-weight prefix covers the whole hash space, 0xffff " +
    "bucket included") {
    // Enough ids that some md5("split:"+id) prefix plausibly nears the top
    // of the space; the property must hold for every id regardless.
    val docs = docsDf((1L to 2000L).map(i => i -> s"doc $i"))
    val a = TextAnalysis
      .splitAssign(docs, Seq("train" -> 1.0, "test" -> 0.0)).collect()
      .map(_.getString(3))
    assert(a.length == 2000 && a.forall(_ == "train"))
  }

  test("Dedup.incrementalNearDedup: batch docs near-duplicating the " +
    "corpus are dropped (exact dups fall out as 1.0-Jaccard candidates); " +
    "novel docs survive") {
    val known = docsDf(Seq(1L -> dupText,
      4L -> ("completely different words about spark catalyst physical " +
        "plans")))
    val fresh = docsDf(Seq(
      10L -> dupText, // exact duplicate of corpus doc 1
      11L -> (dupText + " slightly"), // near-dup of 1 (J = 8/9 ≈ 0.89)
      12L -> "totally novel content words nothing shared here at all"))
    val out = Dedup.incrementalNearDedup(fresh, known)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(12L))
  }

  test("Dedup.incrementalNearDedupIndexed: the persisted band+sets index " +
    "returns exactly the inline variant's rows") {
    val s = spark
    val known = docsDf(Seq(1L -> dupText,
      4L -> ("completely different words about spark catalyst physical " +
        "plans")))
    val fresh = docsDf(Seq(
      10L -> dupText,
      11L -> (dupText + " slightly"),
      12L -> "totally novel content words nothing shared here at all"))
    Dedup.nearDupWriteIndex(known, "test_nd_bands", "test_nd_sets",
      buckets = 2)
    val indexed = Dedup.incrementalNearDedupIndexed(s, fresh,
      "test_nd_bands", "test_nd_sets").collect().map(_.getLong(0)).toSet
    val inline = Dedup.incrementalNearDedup(fresh, known)
      .collect().map(_.getLong(0)).toSet
    assert(indexed == inline)
    assert(indexed == Set(12L))
  }

  test("Dedup.nearDupIndexAppend: growing the persisted index by a batch " +
    "equals a full rebuild over corpus+batch — later probes catch dups of " +
    "the appended docs") {
    val s = spark
    val v1 = docsDf(Seq(1L -> dupText,
      2L -> "completely different words about spark catalyst physical plans"))
    val batch = docsDf(Seq(
      20L -> "brand new second corpus version text arriving later"))
    Dedup.nearDupWriteIndex(v1, "test_nda_bands", "test_nda_sets",
      buckets = 2)
    Dedup.nearDupIndexAppend(batch, "test_nda_bands", "test_nda_sets")
    // an increment duplicating v1 (30), the appended batch (31), and
    // nothing (32)
    val probe = docsDf(Seq(30L -> dupText,
      31L -> "brand new second corpus version text arriving later",
      32L -> "totally unrelated fresh content words nothing shared at all"))
    val viaAppend = Dedup.incrementalNearDedupIndexed(s, probe,
      "test_nda_bands", "test_nda_sets").collect().map(_.getLong(0)).toSet
    Dedup.nearDupWriteIndex(v1.unionByName(batch), "test_ndr_bands",
      "test_ndr_sets", buckets = 2)
    val viaRebuild = Dedup.incrementalNearDedupIndexed(s, probe,
      "test_ndr_bands", "test_ndr_sets").collect().map(_.getLong(0)).toSet
    assert(viaAppend == viaRebuild)
    assert(viaAppend == Set(32L))
  }

  test("Dedup.nearDupIndexAppend re-bands with the index's persisted " +
    "geometry: a default-form append onto a k=8 index is caught by k=8 " +
    "probes") {
    val s = spark
    val v1 = docsDf(Seq(
      2L -> "completely different words about spark catalyst physical plans"))
    val batch = docsDf(Seq(
      20L -> "brand new second corpus version text arriving later"))
    try {
      Dedup.nearDupWriteIndex(v1, "test_ndg_bands", "test_ndg_sets",
        minhashK = 8, rowsPerBand = 4)
      Dedup.nearDupIndexAppend(batch, "test_ndg_bands", "test_ndg_sets")
      val probe = docsDf(Seq(
        21L -> "brand new second corpus version text arriving later"))
      assert(Dedup.incrementalNearDedupIndexed(s, probe, "test_ndg_bands",
        "test_ndg_sets").count() === 0L,
        "the identical-text request must drop against the appended doc")
    } finally Seq("test_ndg_bands", "test_ndg_sets")
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("Dedup.nearDupIndexForget: forgetting a doc equals an index that " +
    "never held it — row-for-row and through the probe; content " +
    "near-duplicating ONLY the forgotten doc re-enters afterwards") {
    val s = spark
    val keepDoc = docsDf(Seq(
      2L -> "completely different words about spark catalyst physical plans"))
    val removed = docsDf(Seq(1L -> dupText))
    Dedup.nearDupWriteIndex(keepDoc.unionByName(removed),
      "test_ndf_bands", "test_ndf_sets", buckets = 2)
    // probe near-dups the soon-forgotten doc ONLY: dropped pre-forget
    val probe = docsDf(Seq(40L -> (dupText + " slightly")))
    assert(Dedup.incrementalNearDedupIndexed(s, probe,
      "test_ndf_bands", "test_ndf_sets").count() === 0L,
      "pre-forget: the near-dup of doc 1 must drop")
    Dedup.nearDupIndexForget(s, "test_ndf_bands", "test_ndf_sets",
      removed.select("doc_id"))
    assert(Dedup.incrementalNearDedupIndexed(s, probe,
      "test_ndf_bands", "test_ndf_sets")
      .collect().map(_.getLong(0)).toSet === Set(40L),
      "post-forget: the content can re-enter — no ghost matches")
    // row-for-row: the forgotten index IS the never-held index
    Dedup.nearDupWriteIndex(keepDoc, "test_ndf_bands_ref",
      "test_ndf_sets_ref", buckets = 2)
    def rows(t: String) = s.table(t).collect()
      .map(_.toString).sorted.toSeq
    assert(rows("test_ndf_bands") === rows("test_ndf_bands_ref"))
    assert(rows("test_ndf_sets") === rows("test_ndf_sets_ref"))
  }

  test("Dedup band-index build params: persisted as TBLPROPERTIES at " +
    "build, a geometry-mismatched probe fails LOUDLY (pre-r17 it " +
    "matched nothing and read every near-copy as 'kept'), the sidecar " +
    "survives the in-place forget rewrite, and the rewrite keeps the " +
    "CATALOG bucket count even under a wrong caller parameter") {
    val s = spark
    import graft.operators.Bucketing
    val docs = docsDf(Seq(1L -> dupText,
      2L -> "completely different words about spark catalyst plans"))
    Dedup.nearDupWriteIndex(docs, "test_bp_bands", "test_bp_sets",
      minhashK = 4, rowsPerBand = 2, buckets = 2)
    try {
      assert(Bucketing.tableParam(s, "test_bp_bands", "minhash_k",
        "nearDupWriteIndex") === "4")
      assert(Bucketing.tableParam(s, "test_bp_bands", "rows_per_band",
        "nearDupWriteIndex") === "2")
      // the same band rows without the recorded geometry: the probe has
      // nothing to re-band with and fails loudly, not silently
      Bucketing.writeBucketed(s.table("test_bp_bands"), "test_bp_bare",
        "bucket", buckets = 2)
      val e = intercept[IllegalArgumentException] {
        Dedup.incrementalNearDedupIndexed(s, docsDf(Seq(50L -> dupText)),
          "test_bp_bare", "test_bp_sets").collect()
      }
      assert(e.getMessage.contains("minhash_k"))
      // in-place forget rewrite: sidecar carried, catalog bucket count
      // wins over a WRONG caller parameter
      Dedup.nearDupIndexForget(s, "test_bp_bands", "test_bp_sets",
        docsDf(Seq(1L -> "x")).select("doc_id"))
      assert(Bucketing.tableParam(s, "test_bp_bands", "minhash_k",
        "nearDupWriteIndex") === "4",
        "the params sidecar must survive the rewrite")
      assert(Bucketing.tableBuckets(s, "test_bp_bands") === Some(2),
        "the rewrite must keep the catalog layout, not the caller's 16")
      // and the matched-params probe still works end-to-end post-rewrite
      assert(Dedup.incrementalNearDedupIndexed(s,
        docsDf(Seq(51L -> dupText)), "test_bp_bands", "test_bp_sets")
        .count() === 1L, "doc 1 forgotten: its dup re-enters")
    } finally Seq("test_bp_bands", "test_bp_sets", "test_bp_bare")
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("TextAnalysis.bm25Search: multi-term matches outrank single-term, " +
    "term-free docs are excluded, k caps the result") {
    val docs = docsDf(Seq(
      1L -> "hash join window hash extra words padding here",
      2L -> "hash alone among entirely unrelated other words",
      3L -> "nothing relevant appears in this document at all",
      4L -> "join join join join repeated but single term only"))
    val out = TextAnalysis.bm25Search(docs,
      terms = Seq("hash", "join", "window"), k = 10).collect()
    val ids = out.map(_.getLong(0))
    assert(!ids.contains(3L), "term-free doc must be excluded")
    assert(ids.length == 3)
    assert(ids.head == 1L, "the all-three-terms doc must rank first")
    assert(out.forall(_.getDouble(1) > 0))
    val capped = TextAnalysis.bm25Search(docs,
      terms = Seq("hash", "join", "window"), k = 2).collect()
    assert(capped.length == 2 && capped.head.getLong(0) == 1L)
  }

  test("Similarity.ivfDrift: a vanished cluster shows as a negative share " +
    "delta; untouched cells gain share; zero-occupancy side coalesces") {
    val rnd = new scala.util.Random(7)
    def around(base: Float) =
      Seq.tabulate(8)(i => base + (if (i == 0) 0f else rnd.nextFloat() * 0.05f))
    // two tight clusters; v2 loses cluster B entirely
    val rows = (0 until 6).map(i => (i.toLong, around(1f))) ++
      (6 until 12).map(i => (i.toLong, around(-1f)))
    val emb = embDf(rows)
    // centroids seeded from one representative of each cluster
    val out = Similarity.ivfDrift(emb,
      emb.filter(col("vec_id") < 6), // cluster B gone in v2
      Similarity.ivfSeedCentroids(
        embDf(Seq(0L -> around(1f), 1L -> around(-1f))), 2))
      .collect().map(r => r.getLong(0) -> r).toMap
    val cellA = out.values.find(_.getLong(2) > 0).get // survives in v2
    val cellB = out.values.find(_.getLong(2) == 0).get // vanished
    assert(cellB.getLong(1) > 0 && cellB.getLong(2) == 0)
    assert(cellB.getDouble(5) < 0, "vanished cluster must lose share")
    assert(cellA.getDouble(4) == 1.0, "survivor holds the whole v2 corpus")
    assert(cellA.getDouble(5) > 0)
  }

  test("Funnels.funnel: strict temporal order per user — out-of-order " +
    "steps don't count; counts are non-increasing") {
    val s = spark
    import s.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val ev = Seq(
      // user 1: view -> click -> purchase, in order: reaches all 3
      (1L, ts(0), "view"), (1L, ts(10), "click"), (1L, ts(20), "purchase"),
      // user 2: click BEFORE first view: reaches only step 1
      (2L, ts(0), "click"), (2L, ts(10), "view"),
      // user 3: purchase BEFORE click: reaches 2 steps
      (3L, ts(0), "view"), (3L, ts(5), "purchase"), (3L, ts(10), "click"),
      // user 4: never views
      (4L, ts(0), "click"), (4L, ts(5), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val out = operators.Funnels
      .funnel(ev, Seq("view", "click", "purchase")).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 3L, 2L -> 2L, 3L -> 1L))
  }

  test("Funnels.topPaths: consecutive n-grams over each user's ordered " +
    "timeline; same-timestamp ties break on event_id") {
    val s = spark
    import s.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val ev = Seq(
      (10L, 1L, ts(0), "view"), (11L, 1L, ts(5), "click"),
      (12L, 1L, ts(9), "purchase"),
      (20L, 2L, ts(0), "view"), (21L, 2L, ts(5), "click"),
      (22L, 2L, ts(9), "purchase"),
      // user 3: two events share ts(0); event_id orders view before click
      (30L, 3L, ts(0), "view"), (31L, 3L, ts(0), "click"),
      (32L, 3L, ts(5), "error"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = operators.Funnels.topPaths(ev, n = 3, k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("view>click>purchase" -> 2L, "view>click>error" -> 1L))
  }

  test("Funnels.funnelBySegment: per-arm reach chains stay separate; " +
    "counts within each segment are non-increasing") {
    val s = spark
    import s.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val ev = Seq(
      // arm A (even users): 2 full conversions
      (2L, ts(0), "view"), (2L, ts(10), "click"), (2L, ts(20), "purchase"),
      (4L, ts(0), "view"), (4L, ts(10), "click"), (4L, ts(20), "purchase"),
      // arm B (odd users): views only, one click out of order
      (1L, ts(5), "click"), (1L, ts(10), "view"),
      (3L, ts(0), "view"))
      .toDF("user_id", "ts", "event_type")
    val seg = org.apache.spark.sql.functions.when(
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions.lit(2)) === 0,
      org.apache.spark.sql.functions.lit("A"))
      .otherwise(org.apache.spark.sql.functions.lit("B"))
    val out = operators.Funnels
      .funnelBySegment(ev, Seq("view", "click", "purchase"), seg)
      .collect().map(r => (r.getLong(0), r.getString(2)) -> r.getLong(3))
      .toMap
    assert(out == Map(
      (1L, "A") -> 2L, (2L, "A") -> 2L, (3L, "A") -> 2L,
      (1L, "B") -> 2L)) // B: both odd users viewed; no qualifying click
  }

  test("Funnels.topPaths: firehose user is truncated to its first " +
    "maxEvents events — per-user state is bounded, tail never counted") {
    val s = spark
    import s.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    // user 1 = firehose: 50 views then a final click — with maxEvents=10
    // only the first 10 views survive, so NO view>click path may appear.
    val firehose = (0 until 50).map(i => (100L + i, 1L, ts(i), "view")) :+
      ((999L, 1L, ts(60), "click"))
    // user 2 = normal, under the cap, must be unaffected
    val normal = Seq((200L, 2L, ts(0), "view"), (201L, 2L, ts(1), "click"))
    val ev = (firehose ++ normal)
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = operators.Funnels.topPaths(ev, n = 2, k = 10, maxEvents = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // firehose: 9 view>view pairs from its first 10 events; its click is
    // beyond the cap. normal: one view>click.
    assert(out == Map("view>view" -> 9L, "view>click" -> 1L))
    // with the cap above the user's volume, results are the uncapped ones
    val uncapped = operators.Funnels.topPaths(ev, n = 2, k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(uncapped == Map("view>view" -> 49L, "view>click" -> 2L))
  }

  test("Funnels.funnel: conversion window bounds each step relative to " +
    "the previous step's first qualifying time") {
    val s = spark
    import s.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val ev = Seq(
      // user 1 converts fast: view@0, click@10, purchase@20
      (1L, ts(0), "view"), (1L, ts(10), "click"), (1L, ts(20), "purchase"),
      // user 2 clicks too late for a 60s window (click@120)
      (2L, ts(0), "view"), (2L, ts(120), "click"),
      // user 3: click inside the window, purchase outside ITS window
      // (measured from the click at 30, not from the view)
      (3L, ts(0), "view"), (3L, ts(30), "click"), (3L, ts(150), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val within = Some(org.apache.spark.sql.functions.expr("INTERVAL 60 SECONDS"))
    val out = operators.Funnels
      .funnel(ev, Seq("view", "click", "purchase"), within = within)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 3L, 2L -> 2L, 3L -> 1L))
    // unwindowed: user 2's late click and user 3's late purchase count
    val loose = operators.Funnels
      .funnel(ev, Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(loose == Map(1L -> 3L, 2L -> 3L, 3L -> 2L))
  }

  test("Funnels.funnelLatency: per-transition deltas measured between " +
    "reach times; empty transition reports 0 users with null stats") {
    val s = spark
    import s.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val ev = Seq(
      // user 1: view@0 -> click@10 -> purchase@30 (deltas 10s, 20s)
      (1L, ts(0), "view"), (1L, ts(10), "click"), (1L, ts(30), "purchase"),
      // user 2: view@0 -> click@50; the SECOND click@70 must not matter
      // (delta measured to the FIRST qualifying occurrence)
      (2L, ts(0), "view"), (2L, ts(50), "click"), (2L, ts(70), "click"),
      // user 3: click before view — never reaches step 2
      (3L, ts(5), "click"), (3L, ts(10), "view"))
      .toDF("user_id", "ts", "event_type")
    val out = operators.Funnels
      .funnelLatency(ev, Seq("view", "click", "purchase")).collect()
      .map(r => r.getLong(0) -> r).toMap
    val t1 = out(1L) // view -> click: users 1 (10s) and 2 (50s)
    assert(t1.getString(1) == "view" && t1.getString(2) == "click")
    assert(t1.getLong(3) == 2L)
    assert(t1.getDouble(4) == 30000.0) // avg(10000, 50000)
    assert(t1.getLong(5) == 10000L && t1.getLong(6) == 50000L)
    val t2 = out(2L) // click -> purchase: user 1 only (20s)
    assert(t2.getLong(3) == 1L && t2.getDouble(4) == 20000.0)
    assert(t2.getLong(5) == 20000L && t2.getLong(6) == 20000L)
    // nobody purchases twice -> a 4th step has zero converters
    val out4 = operators.Funnels
      .funnelLatency(ev, Seq("view", "click", "purchase", "refund"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val t3 = out4(3L)
    assert(t3.getLong(3) == 0L && t3.isNullAt(4) && t3.isNullAt(5) &&
      t3.isNullAt(6))
  }

  test("Funnels.retention: day offsets measured from each user's own " +
    "first-seen day; share is n_active/n_cohort") {
    val s = spark
    import s.implicits._
    def ts(day: Int) = new java.sql.Timestamp(
      java.time.LocalDate.of(2024, 1, 1 + day)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli)
    val ev = Seq(
      (1L, ts(0)), (1L, ts(1)), (1L, ts(3)),  // cohort day 0, back on 1, 3
      (2L, ts(2)), (2L, ts(3)),               // cohort day 2, back on +1
      (3L, ts(5)))                            // cohort day 5, never back
      .toDF("user_id", "ts")
    val out = operators.Funnels.retention(ev, offsets = Seq(0, 1, 3))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(0L) == ((3L, 3L, 1.0)))
    assert(out(1L) == ((2L, 3L, math.rint(2.0 / 3 * 1e4) / 1e4)))
    assert(out(3L) == ((1L, 3L, math.rint(1.0 / 3 * 1e4) / 1e4)))
  }

  test("Funnels.engagement: trailing-7-day WAU covers each activity day's " +
    "window; stickiness = dau/wau") {
    val s = spark
    import s.implicits._
    def ts(day: Int) = new java.sql.Timestamp(
      java.time.LocalDate.of(2024, 1, 1 + day)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli)
    val ev = Seq(
      (1L, ts(0)), (1L, ts(1)),   // u1 on days 0 and 1
      (2L, ts(0)), (2L, ts(0)),   // u2 twice on day 0 (distinct collapses)
      (3L, ts(8)))                // u3 alone on day 8 (outside u1/u2 window)
      .toDF("user_id", "ts")
    val out = operators.Funnels.engagement(ev).collect()
      .map(r => r.getDate(0).toLocalDate.getDayOfMonth - 1 ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // day 0: dau {u1,u2}; wau(trailing) also {u1,u2}
    assert(out(0) == ((2L, 2L, 1.0)))
    // day 1: dau {u1}; window d-5..d1 still covers day-0 activity -> wau 2
    assert(out(1) == ((1L, 2L, 0.5)))
    // day 8: only u3 — days 0/1 are 7+ days back, outside the window
    assert(out(8) == ((1L, 1L, 1.0)))
    assert(out.size == 3, "only days with activity are reported")
  }

  test("TextAnalysis.docEntropy: all-same-token reads exactly 0, all-" +
    "distinct reads ln(n), an even two-token mix reads ln(2)") {
    val corpus = docsDf(Seq(
      1L -> "a a a a",
      2L -> "a b c d",
      3L -> "a a b b"))
    val out = TextAnalysis.docEntropy(corpus).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((4L, 1L, 0.0)))
    assert(out(2L) == ((4L, 4L,
      math.rint(math.log(4.0) * 1e4) / 1e4)))
    assert(out(3L) == ((4L, 2L,
      BigDecimal(math.log(4.0) - 2 * math.rint(2 * math.log(2.0) * 1e8)
        / 4e8).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }

  test("TemporalJoins.intervalOverlapJoin: same-key overlapping windows " +
    "pair; touching-at-the-boundary and cross-key windows do not") {
    val s = spark
    import s.implicits._
    val iv = Seq(
      (1L, 10L, 0L, 100L), (1L, 11L, 50L, 150L),  // overlap
      (1L, 12L, 100L, 200L),  // touches 10's half-open end: NO pair w/ 10
      (2L, 20L, 0L, 100L))    // other key: never pairs with key 1
      .toDF("k", "id", "sms", "ems")
    val a = iv.select(col("k").as("k_a"), col("id").as("id_a"),
      col("sms").as("s_a"), col("ems").as("e_a"))
    val b = iv.select(col("k").as("k_b"), col("id").as("id_b"),
      col("sms").as("s_b"), col("ems").as("e_b"))
    val pairs = operators.TemporalJoins.intervalOverlapJoin(a, b,
        col("k_a"), col("k_b"),
        col("s_a"), col("e_a"), col("s_b"), col("e_b"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 11L), (11L, 12L)))
  }

  test("CorpusOps.ngramNovelty: a v2-only doc's grams are novel; shared " +
    "docs contribute nothing new") {
    val v1 = docsDf(Seq(1L -> "a b c d e f"))
    val v2 = docsDf(Seq(1L -> "a b c d e f", 2L -> "x y z w v"))
    val out = CorpusOps.ngramNovelty(v1, v2).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2)) ==
      ((2L, 3L, 1L)))
    assert(out.getDouble(3) == 0.3333)
    // empty-input edge: a sum over zero groups is NULL in SQL; the
    // count contract is ZERO grams on both sides, never unknown
    val empty = docsDf(Seq.empty[(Long, String)])
    val outE = CorpusOps.ngramNovelty(empty, empty).collect().head
    assert((outE.getLong(0), outE.getLong(1), outE.getLong(2)) ==
      ((0L, 0L, 0L)))
    assert(outE.isNullAt(3), "0/0 share is undefined, reported as NULL")
    // one-sided: v1 empty, v2 has grams → everything is novel
    val outO = CorpusOps.ngramNovelty(
      empty, docsDf(Seq(1L -> "a b c d e f"))).collect().head
    assert((outO.getLong(0), outO.getLong(1), outO.getLong(2)) ==
      ((0L, 2L, 2L)))
    assert(outO.getDouble(3) == 1.0)
  }

  test("Funnels.attribution: last prior non-conversion touch within the " +
    "window wins; no touch or an aged-out touch lands in 'none'") {
    val s = spark
    import s.implicits._
    def ts(h: Int) = new java.sql.Timestamp(
      java.time.LocalDate.of(2024, 1, 1).atStartOfDay(
        java.time.ZoneOffset.UTC).toInstant.toEpochMilli + h * 3600_000L)
    val ev = Seq(
      (1L, 10L, ts(0), "click"), (1L, 11L, ts(1), "purchase"),
      (2L, 20L, ts(0), "purchase"),                   // first-ever event
      (3L, 30L, ts(0), "view"), (3L, 31L, ts(25), "purchase"), // aged out
      (4L, 40L, ts(0), "error"), (4L, 41L, ts(1), "click"),
      (4L, 42L, ts(2), "purchase"))                   // click is LAST touch
      .toDF("user_id", "event_id", "ts", "event_type")
    val out = operators.Funnels.attribution(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out == Map("click" -> ((2L, 0.5)), "none" -> ((2L, 0.5))))
  }

  test("TextAnalysis.filterAgreement: one doc per contingency cell " +
    "reads a 0.5 agreement share and kappa exactly 0") {
    val uniq = (1 to 10).map(i => f"w$i%04d") // 5-char unique words
    val corpus = docsDf(Seq(
      // both keep: 25 tokens, 2 stopwords, distinct bigrams, len ~5
      1L -> ((1 to 23).map(i => f"v$i%04d") ++ Seq("the", "a")).mkString(" "),
      // only quality: 16 tokens (>=15 but <20 fails gopher's min)
      2L -> ((1 to 14).map(i => f"u$i%04d") ++ Seq("the", "a")).mkString(" "),
      // both drop: 5 tokens
      3L -> "tiny doc the a of",
      // only gopher: 21 tokens, 11/21 stopwords > 0.5 quality bound,
      // alternating so every bigram is distinct and mean length >= 3
      4L -> (uniq.map(w => s"the $w").mkString(" ") + " the")))
    val out = TextAnalysis.filterAgreement(corpus).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2),
      out.getLong(3), out.getLong(4)) == ((4L, 1L, 1L, 1L, 1L)))
    assert(out.getDouble(5) == 0.5 && out.getDouble(6) == 0.0)
  }

  test("TextAnalysis.readability: hand-checked Flesch-Kincaid on a " +
    "two-sentence fixture; a fragment counts as one sentence") {
    val out = TextAnalysis.readability(docsDf(Seq(
      1L -> "The cat sat. It ran!",
      2L -> "no punctuation here")))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // doc 1: 5 words, 2 sentences, 5 vowel groups →
    // 0.39·2.5 + 11.8·1 − 15.59 = −2.815
    assert(out(1L) == ((5L, 2L, 5L, -2.815)))
    // doc 2: 3 words, min-1 sentence, 7 vowel groups (o,u,ua,io,e,e)
    assert(out(2L)._2 == 1L)
  }

  test("TextAnalysis.kAnonymity: achieved k is the smallest " +
    "quasi-identifier group; at-risk share counts docs under the " +
    "threshold") {
    val s = spark
    import s.implicits._
    val rows = Seq.fill(6)(("en", "a")) ++ Seq.fill(3)(("en", "b")) ++
      Seq(("fr", "a"))
    val docs = rows.zipWithIndex.map { case ((l, src), i) =>
      (i.toLong, "text here", l, src, 9L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.kAnonymity(docs).collect().head
    assert((out.getLong(0), out.getLong(1), out.getLong(2),
      out.getLong(3), out.getLong(4), out.getDouble(5)) ==
      ((5L, 3L, 1L, 2L, 4L, 0.4)))
  }

  test("Funnels.rollingActivity: RANGE frame counts same-user events " +
    "within the trailing window, includes equal-timestamp peers, and " +
    "evicts events past the window edge") {
    val s = spark
    import s.implicits._
    def ts(h: Int) = new java.sql.Timestamp(1700000000000L + h * 3600_000L)
    val ev = Seq(
      (1L, 10L, ts(0)), (1L, 11L, ts(0)),   // simultaneous pair
      (1L, 12L, ts(23)),                    // inside 24h of both
      (1L, 13L, ts(25)),                    // 10/11 aged out; 12 inside
      (2L, 20L, ts(0)))                     // other user isolated
      .toDF("user_id", "event_id", "ts")
    val out = operators.Funnels.rollingActivity(ev).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(10L -> 2L, 11L -> 2L, 12L -> 3L, 13L -> 2L,
      20L -> 1L))
  }

  test("Funnels.markovStationary: a symmetric two-type chain is a " +
    "fixed point at exactly 500000 micro each; mass never exceeds the " +
    "initial million") {
    val s = spark
    import s.implicits._
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    // one user alternating a,b → transitions (a,b) and (b,a) only
    val ev = (0 until 8).map(i =>
      (1L, (10 + i).toLong, ts(i), if (i % 2 == 0) "a" else "b"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val out = operators.Funnels.markovStationary(ev).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 500000L, "b" -> 500000L))
    // an asymmetric chain still conserves (up to DIV truncation) and
    // shifts mass toward the type with more inbound probability
    val ev2 = Seq("a", "b", "b", "a", "b", "b", "a", "b", "b")
      .zipWithIndex.map { case (t, i) => (1L, (20 + i).toLong, ts(i), t) }
      .toDF("user_id", "event_id", "ts", "event_type")
    val out2 = operators.Funnels.markovStationary(ev2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out2.values.sum <= 1000000L && out2("b") > out2("a"))
  }

  test("Funnels.survivalCurve: hand-checked KM steps with censoring — " +
    "censored users stay in the risk set until their lifetime, and " +
    "censored-only lifetimes emit no step") {
    val s = spark
    import s.implicits._
    def ts(day: Int) = new java.sql.Timestamp(
      java.time.LocalDate.of(2024, 3, 1).plusDays(day)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli)
    val ev = Seq(
      (1L, ts(0)), (1L, ts(1)),    // churned, lifetime 1
      (2L, ts(10)), (2L, ts(13)),  // churned, lifetime 3
      (3L, ts(22)), (3L, ts(24)),  // censored (seen 6 days from max), L=2
      (4L, ts(20)), (4L, ts(25)),  // censored, L=5
      (5L, ts(30)))                // censored, L=0 — sets the max date
      .toDF("user_id", "ts")
    val out = operators.Funnels.survivalCurve(ev).orderBy("lifetime_days")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    // t=1: risk {1,2,3,4}, churn 1 → S=0.75; t=3: risk {2,4} → S=0.375
    assert(out == Seq((1L, 4L, 1L, 0L, 0.75), (3L, 2L, 1L, 0L, 0.375)))
  }

  test("Funnels.dauApprox: at the default rsd and fixture cardinalities " +
    "the HLL++ estimate is exact and rel_err reads 0") {
    val s = spark
    import s.implicits._
    def ts(day: Int) = new java.sql.Timestamp(
      java.time.LocalDate.of(2024, 1, 1 + day)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli)
    val ev = (1L to 40L).flatMap(u => Seq((u, ts(0)), (u, ts(0)))) ++
      (1L to 7L).map(u => (u, ts(1)))
    val out = operators.Funnels.dauApprox(ev.toDF("user_id", "ts"))
      .collect().map(r => r.getDate(0).toLocalDate.getDayOfMonth - 1 ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(0) == ((40L, 40L, 0.0)))
    assert(out(1) == ((7L, 7L, 0.0)))
  }

  test("Dedup.containmentOn: a doc quoted whole inside a longer one reads " +
    "containment 1.0 where Jaccard dilutes") {
    val s = spark
    import s.implicits._
    val short = "alpha bravo charlie delta echo foxtrot"
    val long = short + " golf hotel india juliet kilo lima mike november" +
      " oscar papa quebec romeo sierra tango"
    val d = docsDf(Seq(1L -> short, 2L -> long))
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val r = Dedup.containmentOn(d, pairs).collect().head
    assert(r.getDouble(2) == 1.0, "short doc fully contained")
    assert(r.getDouble(3) < 0.5, "long doc mostly NOT the short one")
    val jac = Dedup.ngramJaccardOn(d, pairs).collect().head.getDouble(2)
    assert(jac < 0.5, s"Jaccard dilutes the containment signal: $jac")
  }

  test("Dedup.containmentDedup: the contained copy drops, the superstring " +
    "stays; mutual-containment tie keeps the min doc_id") {
    val s = spark
    import s.implicits._
    val short = "alpha bravo charlie delta echo foxtrot"
    val long = short + " golf hotel india juliet kilo lima mike november" +
      " oscar papa quebec romeo sierra tango uniform victor whiskey xray"
    val d = docsDf(Seq(1L -> long, 2L -> short,   // 2 contained in 1
      3L -> "zulu yankee xray whiskey victor",    // near-identical pair:
      4L -> "zulu yankee xray whiskey victor",    // tie -> drop 4, keep 3
      5L -> "completely unrelated words here now"))
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val kept = Dedup.containmentDedup(d, pairs, threshold = 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L),
      s"contained copy and tie-loser must drop: $kept")
  }

  test("Dedup.editSimilarityOn: character-level typos score high where " +
    "shingle Jaccard collapses; empty pair reads 1.0") {
    val s = spark
    import s.implicits._
    // every word typo'd by one char: all 3-shingles differ (Jaccard 0)
    // but the strings are a few edits apart (high edit similarity)
    val clean = "alpha bravo charlie delta echo"
    val typos = "alpah bravo charlei delta ecoh"
    val d = docsDf(Seq(1L -> clean, 2L -> typos, 3L -> ""))
      .union(docsDf(Seq(4L -> "")))
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val out = Dedup.editSimilarityOn(d, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val (lev, sim) = out((1L, 2L))
    assert(lev > 0 && lev <= 6, s"a few char edits, got $lev")
    assert(sim > 0.75, s"edit similarity should stay high, got $sim")
    val jac = Dedup.ngramJaccardOn(d, pairs.filter(col("doc_a") === 1L))
      .collect().head.getDouble(2)
    assert(jac == 0.0, "all shingles broken by the typos")
    assert(out((3L, 4L)) == ((0L, 1.0)), "empty-vs-empty is identity")
  }

  test("TextAnalysis.pmiCollocations: an always-together pair outranks a " +
    "frequent independent pair; hapax pairs die at minCount") {
    // "neural nets" always adjacent (5x); "the" pairs with everything
    // (frequent but independent); "rare gem" appears once (under minCount)
    val docs = docsDf((1L to 5L).map(i =>
      i -> s"the neural nets beat the baseline run $i") :+
      (9L -> "rare gem"))
    val out = TextAnalysis.pmiCollocations(docs, minCount = 5, k = 20)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(out.contains("neural nets") && out("neural nets")._1 == 5L)
    assert(!out.keys.exists(_.contains("rare")), "hapax must be filtered")
    assert(out("neural nets")._2 > out("the neural")._2,
      s"PMI must rank the exclusive pair above the 'the'-pair: $out")
  }

  test("Sessionize.sessionStatsBatch: one-row summary matches hand-" +
    "computed sessions; single-event session has duration 0") {
    val s = spark
    import s.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    // u1: two sessions (gap > 30): [0s,10s] (2 events) and [2000s] (1);
    // u2: one session [5s,65s] (3 events)
    val ev = Seq(
      (1L, ts(0)), (1L, ts(10)), (1L, ts(2000)),
      (2L, ts(5)), (2L, ts(35)), (2L, ts(65)))
      .toDF("user_id", "ts")
    val r = graft.streaming.Sessionize.sessionStatsBatch(ev, 30).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(0) == 3L && row.getLong(1) == 2L) // sessions, users
    assert(row.getDouble(2) == 2.0)                      // (2+1+3)/3 events
    assert(row.getLong(3) == 3L)                         // max events
    // durations: 10000, 0, 60000 ms -> avg 23333.3333
    assert(row.getDouble(4) == math.rint(70000.0 / 3 * 1e4) / 1e4)
    assert(row.getLong(5) == 60000L)
  }

  test("Funnels.heavyUsers: exact-integer flag against the corpus mean; " +
    "a firehose user is flagged, uniform users are not") {
    val s = spark
    import s.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    // three 10-event users and one 100-event bot: mean 32.5; at 5/4 x mean
    // (40.625) only the bot flags
    val ev = (1L to 3L).flatMap(u => (0 until 10).map(i => (u, ts(i)))) ++
      (0 until 100).map(i => (9L, ts(i)))
    val out = operators.Funnels.heavyUsers(ev.toDF("user_id", "ts"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    assert(out(9L) == ((100L, math.rint(100.0 * 4 / 130 * 1e4) / 1e4, 1L)))
    for (u <- 1L to 3L) assert(out(u)._3 == 0L, s"user $u wrongly flagged")
    assert(out.size == 4)
  }

  test("Funnels.transitionMatrix: consecutive handoffs per user; p sums " +
    "to 1 within each from_type; last events contribute no pair") {
    val s = spark
    import s.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val ev = Seq(
      // user 1: view -> click -> view   (view->click, click->view)
      (10L, 1L, ts(0), "view"), (11L, 1L, ts(5), "click"),
      (12L, 1L, ts(9), "view"),
      // user 2: view -> purchase        (view->purchase)
      (20L, 2L, ts(0), "view"), (21L, 2L, ts(5), "purchase"),
      // user 3: same-ts tie ordered by event_id: view(30) -> click(31)
      (30L, 3L, ts(0), "view"), (31L, 3L, ts(0), "click"),
      // user 4: single event — no successor, no pair
      (40L, 4L, ts(0), "error"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = operators.Funnels.transitionMatrix(ev).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // view's outgoing: click x2 (u1, u3), purchase x1
    assert(out(("view", "click")) == ((2L, 0.6667)))
    assert(out(("view", "purchase")) == ((1L, 0.3333)))
    assert(out(("click", "view")) == ((1L, 1.0)))
    assert(out.size == 3, "no pair from a user's last event")
  }

  test("Funnels.cohortRetention: cohort = ISO week of first day; offsets " +
    "measured from each user's own first day") {
    val s = spark
    import s.implicits._
    def ts(day: Int) = new java.sql.Timestamp(
      // 2024-01-01 is a Monday: days 0..6 are week 1, day 7 starts week 2
      java.time.LocalDate.of(2024, 1, 1 + day)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli)
    val ev = Seq(
      (1L, ts(0)), (1L, ts(3)), (1L, ts(8)),  // w1 cohort; off 0, 0, 1
      (2L, ts(2)), (2L, ts(9)),               // w1 cohort (Wed); off 0, 1
      (3L, ts(7)))                            // w2 cohort; off 0 only
      .toDF("user_id", "ts")
    val out = operators.Funnels.cohortRetention(ev).collect()
      .map(r => (r.getDate(0).toLocalDate.getDayOfMonth,
        r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    // week-1 cohort (Monday Jan 1): u1, u2 — both active at offsets 0 and 1
    assert(out((1, 0L)) == ((2L, 2L, 1.0)))
    assert(out((1, 1L)) == ((2L, 2L, 1.0)))
    // week-2 cohort (Monday Jan 8): u3 — offset 0 only
    assert(out((8, 0L)) == ((1L, 1L, 1.0)))
    assert(out.size == 3)
  }

  test("TextAnalysis.qualityBuckets: value-cutoff tertiles by unigram " +
    "score — head gets the most probable docs") {
    // 6 docs, 3 clearly separated score levels (2 docs each):
    // all-common tokens (head) / mixed (middle) / all-singletons (tail)
    val docs6 = docsDf(Seq(
      1L -> "a a a a", 2L -> "a a a a",
      3L -> "a a z1 a", 4L -> "a a z2 a",
      5L -> "u1 u2 u3 u4", 6L -> "v1 v2 v3 v4"))
    val out = TextAnalysis.qualityBuckets(docs6).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val third = 0.3333 // round(2/6, 4)
    assert(out("head") == ((2L, 8L, third)))
    assert(out("middle") == ((2L, 8L, third)))
    assert(out("tail") == ((2L, 8L, third)))
  }

  test("Funnels.spikeDays: integer spike predicate vs the trailing-week " +
    "baseline; no-baseline days never spike") {
    val s = spark
    import s.implicits._
    def ts(day: Int, i: Int) = new java.sql.Timestamp(
      java.time.LocalDate.of(2024, 1, 1 + day)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli +
        i * 1000L)
    // day 0: 2 events, day 1: 2, day 2: 10 (spike), day 3: 3,
    // day 12: 100 but NO activity in its trailing 7 days -> never a spike
    val ev = ((0 until 2).map(i => (1L, ts(0, i))) ++
      (0 until 2).map(i => (1L, ts(1, i))) ++
      (0 until 10).map(i => (1L, ts(2, i))) ++
      (0 until 3).map(i => (1L, ts(3, i))) ++
      (0 until 100).map(i => (1L, ts(12, i)))).toDF("user_id", "ts")
    val out = operators.Funnels.spikeDays(ev).collect()
      .map(r => r.getDate(0).toLocalDate.getDayOfMonth - 1 ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(0) == ((2L, 0L, 0L, 0L)))   // first day: no baseline
    assert(out(1) == ((2L, 2L, 1L, 0L)))   // 2*1 > 2*2 false
    assert(out(2) == ((10L, 4L, 2L, 1L)))  // 10*2 > 2*4 -> spike
    assert(out(3) == ((3L, 14L, 3L, 0L)))  // 3*3 > 2*14 false
    assert(out(12) == ((100L, 0L, 0L, 0L))) // big but baseline-less
  }

  test("TextAnalysis.qualityBucketsApprox: sketch cutoffs reproduce the " +
    "exact tertiles on a cleanly separated corpus") {
    val docs6 = docsDf(Seq(
      1L -> "a a a a", 2L -> "a a a a",
      3L -> "a a z1 a", 4L -> "a a z2 a",
      5L -> "u1 u2 u3 u4", 6L -> "v1 v2 v3 v4"))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val exact = asMap(TextAnalysis.qualityBuckets(docs6))
    val approx = asMap(TextAnalysis.qualityBucketsApprox(docs6))
    assert(approx == exact)
    assert(approx.values.map(_._1).sum == 6L, "every doc lands in a bucket")
  }

  test("CorpusOps.corpusDiff: added/removed/changed/unchanged counts " +
    "across two corpus versions") {
    val v1 = docsDf(Seq(1L -> "alpha", 2L -> "beta", 3L -> "gamma"))
    val v2 = docsDf(Seq(2L -> "beta", 3L -> "gamma EDITED",
      4L -> "delta", 5L -> "epsilon"))
    val r = operators.CorpusOps.corpusDiff(v1, v2).head()
    assert(r.getLong(0) == 2L) // 4, 5 added
    assert(r.getLong(1) == 1L) // 1 removed
    assert(r.getLong(2) == 1L) // 3 changed
    assert(r.getLong(3) == 1L) // 2 unchanged
    // degenerate empty-vs-empty diff still reads 0/0/0/0, not nulls (sum
    // over zero rows is null without the coalesce)
    val empty = docsDf(Seq.empty)
    val z = operators.CorpusOps.corpusDiff(empty, empty).head()
    assert((0 to 3).forall(i => !z.isNullAt(i) && z.getLong(i) == 0L))
  }

  test("Dedup.thresholdSweep: counts are monotonically non-increasing in " +
    "the threshold and agree with the single-threshold pipeline") {
    val sweep = Dedup.thresholdSweep(docs,
      thresholds = Seq(0.5, 0.8, 0.99)).collect()
      .map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sweep.keySet == Set(0.5, 0.8, 0.99))
    assert(sweep(0.5)._1 >= sweep(0.8)._1 && sweep(0.8)._1 >= sweep(0.99)._1)
    assert(sweep(0.5)._2 >= sweep(0.8)._2)
    // docs fixture: 1 and 2 exact dups, 3 a near-dup of both — at 0.8 the
    // pairwise larger-id rule drops 2 and 3 (two distinct doc_b losers)
    assert(sweep(0.8)._2 == 2L)
  }

  test("TextAnalysis.qualityBySource: integral-sum ratios per feed") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the a of and is", "en", "srcA", 15L),
      (2L, "word word word word", "en", "srcA", 19L),
      (3L, "no stops here, really.", "en", "srcB", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.qualityBySource(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("srcA").getLong(1) == 2L) // n_docs
    assert(out("srcA").getLong(2) == 9L) // 5 + 4 tokens
    // srcA: 5 of 9 tokens are stopwords
    assert(out("srcA").getDouble(4) == math.rint(5.0 / 9 * 1e4) / 1e4)
    // srcB: one comma + one period in 22 chars
    assert(out("srcB").getDouble(5) == math.rint(2.0 / 22 * 1e4) / 1e4)
  }

  test("TextAnalysis.hybridRrf: a doc found by both arms outranks " +
    "single-arm docs; arm-miss ranks are null; k caps the fusion") {
    val s = spark
    import s.implicits._
    val lex = Seq((1L, 5.0), (2L, 4.0), (3L, 3.0))
      .toDF("doc_id", "score")
    val sem = Seq((1L, 0.9), (7L, 0.8), (8L, 0.7))
      .toDF("doc_id", "score")
    val out = TextAnalysis.hybridRrf(lex, sem, k = 10).collect()
    assert(out.head.getLong(0) == 1L, "both-arms doc must rank first")
    // doc 1: 1/(60+1) + 1/(60+1); single-arm best (2 or 7): 1/62 + 0
    assert(out.head.getDouble(3) > out(1).getDouble(3))
    val byId = out.map(r => r.getLong(0) ->
      (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(byId(2L)._2.isEmpty, "lexical-only doc has null sem_rank")
    assert(byId(7L)._1.isEmpty, "semantic-only doc has null lex_rank")
    assert(out.length == 5)
    assert(TextAnalysis.hybridRrf(lex, sem, k = 2).collect().length == 2)
  }

  test("Similarity.ivfIndexAppend: an index grown by append (build evens, " +
    "append odds) serves exactly the one-shot index's probe results") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.ivfSeedCentroids(emb, 8)
    Similarity.ivfWriteIndex(emb, cents, "ivf_idx_full", buckets = 8)
    Similarity.ivfWriteIndex(emb.filter(col("vec_id") % 2 === 0), cents,
      "ivf_idx_grown", buckets = 8)
    Similarity.ivfIndexAppend(emb.filter(col("vec_id") % 2 =!= 0), cents,
      "ivf_idx_grown")
    try {
      val full = Similarity.knnIvfIndexed(spark, "ivf_idx_full", cents,
        col("vec_id") < 4, k = 3, nprobe = 2).collect().toSet
      val grown = Similarity.knnIvfIndexed(spark, "ivf_idx_grown", cents,
        col("vec_id") < 4, k = 3, nprobe = 2)
      assert(grown.collect().toSet == full)
      // the appended files keep the bucketed layout: the probe join is
      // still broadcast-over-bucketed-scan, index side never shuffled
      val plan = graft.operators.Bucketing.fullPlanString(grown)
      assert(plan.contains("BroadcastHashJoin"))
      assert(!plan.contains("SortMergeJoin"), s"index side shuffled:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_idx_full")
      spark.sql("DROP TABLE IF EXISTS ivf_idx_grown")
    }
  }

  test("Similarity.ivfIndexForget: forgetting a vector slice equals an " +
    "index that never held it — row-for-row under the fixed centroids, " +
    "and probes can never return a removed vector") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.ivfSeedCentroids(emb, 8)
    Similarity.ivfWriteIndex(emb, cents, "ivf_idx_fgt", buckets = 8)
    Similarity.ivfIndexForget(spark, "ivf_idx_fgt",
      emb.filter(col("vec_id") % 2 =!= 0).select("vec_id"))
    Similarity.ivfWriteIndex(emb.filter(col("vec_id") % 2 === 0), cents,
      "ivf_idx_fref", buckets = 8)
    try {
      def rows(t: String) = spark.table(t).collect()
        .map(_.toString).sorted.toSeq
      assert(rows("ivf_idx_fgt") === rows("ivf_idx_fref"),
        "forgotten IVF index must equal the never-held build")
      val got = Similarity.knnIvfIndexed(spark, "ivf_idx_fgt", cents,
        col("vec_id") < 4, k = 3, nprobe = 2).collect()
      val ref = Similarity.knnIvfIndexed(spark, "ivf_idx_fref", cents,
        col("vec_id") < 4, k = 3, nprobe = 2).collect()
      assert(got.toSet == ref.toSet)
      assert(got.nonEmpty && got.forall(_.getLong(1) % 2 == 0),
        "no forgotten vector may surface as a neighbor")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_idx_fgt")
      spark.sql("DROP TABLE IF EXISTS ivf_idx_fref")
    }
  }

  test("Dedup.resolveSplitLeakage: train-wins — the non-train member of a " +
    "cross-split near-dup pair is quarantined, everything else keeps its " +
    "assigned split") {
    val splits = Seq("train" -> 0.5, "test" -> 0.5)
    // pick a train id and a test id from the assignment itself (the split
    // is a doc_id hash — which ids land where is opaque by design)
    val ids = docsDf((1L to 40L).map(_ -> dupText))
    val bySplit = TextAnalysis.splitAssign(ids, splits).collect()
      .map(r => r.getAs[String]("split") -> r.getAs[Long]("doc_id"))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    val trainId = bySplit("train").head
    val testId = bySplit("test").head
    val fillerA = bySplit("train")(1)
    val fillerB = bySplit("test")(1)
    val docs = docsDf(Seq(
      trainId -> dupText,
      testId -> (dupText + " slightly"), // near-dup straddling the boundary
      fillerA -> "completely different words about spark catalyst plans",
      fillerB -> "unrelated second filler content nothing shared here"))
    val out = Dedup.resolveSplitLeakage(docs, splits).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // the test-side twin is gone; the train twin and both fillers survive
    // with their original assignment
    assert(!out.contains(testId))
    assert(out(trainId) == "train")
    assert(out(fillerA) == "train" && out(fillerB) == "test")
    assert(out.size == 3)
  }

  test("Similarity.semanticDedup: within-cell near-duplicates drop the " +
    "larger vec_id; low-cosine cellmates survive; hot-cell guard keeps " +
    "oversized cells whole") {
    val emb = embDf(Seq(
      0L -> Seq(1f, 0f, 0f, 0f), // centroid of cell 0
      1L -> Seq(0f, 1f, 0f, 0f), // centroid of cell 1
      2L -> Seq(0.99f, 0.01f, 0f, 0f), // cell 0, cos≈1 vs 0 → dropped
      3L -> Seq(0f, 0.9f, 0.1f, 0f), // cell 1, cos≈0.99 vs 1 → dropped
      4L -> Seq(-1f, 0.2f, 0f, 0f))) // cell 1, cos≈0.2 vs all → kept
    val cents = Similarity.ivfSeedCentroids(emb, 2)
    val kept = Similarity.semanticDedup(emb, cents, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept.keySet == Set(0L, 1L, 4L))
    assert(kept(0L) == 0L && kept(1L) == 1L && kept(4L) == 1L)
    // maxCellVecs=1 → every cell oversized → excluded from pairing → all kept
    val all = Similarity.semanticDedup(emb, cents, threshold = 0.9,
      maxCellVecs = 1)
    assert(all.count() == 5)
  }

  test("Similarity.ivfRefit: one Lloyd step — per-cell means under the " +
    "current assignment; SSE never increases; assembled table chains") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val seed = Similarity.ivfSeedCentroids(emb, 8)
    val refit = Similarity.ivfRefit(emb, seed).collect()
    val nCorpus = emb.count()
    val dims = refit.map(_.getLong(1)).max + 1
    // every cell×dim row carries that cell's member count; counts over any
    // one dimension partition the corpus
    assert(refit.filter(_.getLong(1) == 0L).map(_.getLong(2)).sum == nCorpus)
    // Lloyd monotonicity: total within-cell SSE under the refit centroids
    // is ≤ the seed centroids' (micro-unit quantization + 4dp rounding gets
    // a 1e-3 slack)
    val newCents = Similarity.ivfRefitCentroids(emb, seed)
    assert(newCents.collect().forall(_.getSeq[Double](1).size == dims))
    def sse(cents: org.apache.spark.sql.DataFrame): Double = {
      import org.apache.spark.sql.functions.{col => c}
      val assigned = Similarity.ivfAssign(emb, cents)
      val withC = assigned.join(
        cents.select(c("cell"), c("centroid")), Seq("cell"))
      withC.select(org.apache.spark.sql.functions.sum(
        Similarity.dot(c("embedding").cast("array<double>"), c("embedding")
          .cast("array<double>")) -
          Similarity.dot(c("embedding").cast("array<double>"), c("centroid"))
            * 2 +
          Similarity.dot(c("centroid"), c("centroid"))).as("sse"))
        .collect().head.getDouble(0)
    }
    assert(sse(newCents) <= sse(seed) + 1e-3,
      s"refit SSE ${sse(newCents)} above seed SSE ${sse(seed)}")
  }

  test("Similarity.ivfNprobeSweep: recall and candidate volume are " +
    "non-decreasing in nprobe, and probing every cell recovers brute " +
    "recall exactly") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.ivfSeedCentroids(emb, 8)
    val sweep = Similarity.ivfNprobeSweep(emb, cents, col("vec_id") < 4,
      k = 3, nprobes = Seq(1, 2, 4, 8)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(sweep.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L))
    val cand = sweep.map(_._2._1); val rec = sweep.map(_._2._3)
    assert(cand.zip(cand.tail).forall { case (a, b) => a <= b },
      s"candidate volume not monotone: ${cand.toSeq}")
    assert(rec.zip(rec.tail).forall { case (a, b) => a <= b },
      s"recall not monotone: ${rec.toSeq}")
    // nprobe = nlist probes every cell → the exact brute top-k → recall 1
    assert(rec.last == 1.0, s"full probe recall ${rec.last} != 1.0")
  }

  test("Dedup.lshBandCurve: collision probability rises with bands and " +
    "falls with rows-per-band; an exact duplicate is certain under every " +
    "config") {
    val curve = Dedup.lshBandCurve(docs,
      configs = Seq((1, 2), (2, 2), (4, 2), (4, 1), (4, 4))).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // same r: more bands → higher expected catch (monotone S-curve)
    assert(curve((1L, 2L))._2 <= curve((2L, 2L))._2)
    assert(curve((2L, 2L))._2 <= curve((4L, 2L))._2)
    // same b: more rows per band → lower expected catch
    assert(curve((4L, 4L))._2 <= curve((4L, 2L))._2)
    assert(curve((4L, 2L))._2 <= curve((4L, 1L))._2)
    // docs 1,2 are identical (j=1): that pair contributes exactly 10000
    // micro-units under every config, so every expected_x10k ≥ 10000
    assert(curve.values.forall(_._2 >= 10000L))
    // all configs scored the same candidate set
    assert(curve.values.map(_._1).toSet.size == 1)
  }

  test("Similarity.mmrRerank: the redundant twin is demoted below a " +
    "diverse hit; plain relevance order would keep it second") {
    val emb = embDf(Seq(
      0L -> Seq(1f, 0f, 0f, 0f), // the query
      1L -> Seq(0.99f, 0.141f, 0f, 0f), // top hit A
      2L -> Seq(0.495f, 0.0705f, 0f, 0f), // A/2 — collinear twin of A
      3L -> Seq(0.9f, 0f, 0.4359f, 0f), // diverse hit B
      4L -> Seq(0f, 1f, 0f, 0f))) // far filler
    // relevance order: A (0.99), twin (0.99, loses the c_id tie), B (0.9)
    val brute = Similarity.knnBrute(emb, col("vec_id") === 0, k = 3)
      .collect().sortBy(r => -r.getDouble(2)).map(_.getLong(1)).toSeq
    assert(brute.take(2) == Seq(1L, 2L))
    // MMR at λ=0.5: sim(A, twin) = 1.0 kills the twin's margin; B's
    // 0.5·0.9 − 0.5·sim(A,B)≈0.891 edges it out; twin only third
    val mmr = Similarity.mmrRerank(emb, col("vec_id") === 0,
      poolK = 4, k = 3, lambda = 0.5)
      .collect().sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
    assert(mmr == Seq(1L, 3L, 2L), s"MMR order was $mmr")
  }

  test("Similarity.ivfCentroidShift: a centroid sitting at its cell mean " +
    "reads ~zero shift; a displaced one reads the displacement; an empty " +
    "cell reads null") {
    // cell 0: members average exactly to the seed (0-vector ± same offset);
    // cell 1: seed at origin+e2 but members clustered far along e2
    val emb = embDf(Seq(
      0L -> Seq(0.5f, 0f, 0f, 0f), // seed of cell 0
      1L -> Seq(0f, 1f, 0f, 0f), // seed of cell 1
      2L -> Seq(0.4f, 0f, 0f, 0f), // cell 0
      3L -> Seq(0.6f, 0f, 0f, 0f), // cell 0 (mean of 2,3,0 = 0.5)
      4L -> Seq(0f, 3f, 0f, 0f))) // cell 1 pulls the mean up
    val shifts = Similarity
      .ivfCentroidShift(emb, Similarity.ivfSeedCentroids(emb, 2))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(shifts(0L) == Some(0.0)) // mean(0.5, 0.4, 0.6) = 0.5 = seed
    assert(shifts(1L) == Some(1.0)) // mean(1, 3) = 2 → |2 - 1| = 1
    // empty cell: a centroid (not drawn from the corpus) that attracts no
    // vectors has nothing to refit toward → null shift, not a fabricated 0
    val s = spark
    import s.implicits._
    val cents = Seq(
      (0, Seq(1.0, 0.0, 0.0, 0.0)),
      (1, Seq(0.0, 50.0, 0.0, 0.0))).toDF("cell", "centroid")
    val s2 = Similarity
      .ivfCentroidShift(embDf(Seq(
        0L -> Seq(1f, 0f, 0f, 0f),
        2L -> Seq(0.9f, 0f, 0f, 0f))), cents)
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!s2(0L)) // cell 0 has members → real shift
    assert(s2(1L)) // nobody assigns near (0,50,…) → empty → null
  }

  test("TextAnalysis.vocabCoverage: counts, top-k concentration, and " +
    "hapax rate hand-checked") {
    val corpus = docsDf(Seq(
      1L -> "a a a b",
      2L -> "a b c d"))
    // tokens: a×4, b×2, c×1, d×1 → n_tokens=8, n_vocab=4, hapax {c,d}
    val out = TextAnalysis.vocabCoverage(corpus, k = 2).collect().head
    assert(out.getLong(0) == 8L && out.getLong(1) == 4L)
    assert(out.getLong(2) == 2L) // k
    assert(out.getDouble(3) == 0.75) // (4+2)/8
    assert(out.getLong(4) == 2L && out.getDouble(5) == 0.5)
  }

  test("TextAnalysis.bigramLogProb: hand-checked conditionals under the " +
    "corpus's own model; conditionals per prefix sum to 1; short docs " +
    "absent") {
    val corpus = docsDf(Seq(
      1L -> "a b",
      2L -> "a b",
      3L -> "a c",
      4L -> "x")) // single token → no bigrams → absent
    val out = TextAnalysis.bigramLogProb(corpus).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    // model: c(a b)=2, c(a c)=1, c(a·)=3
    // doc 1/2: ln(2/3) = -0.4055 (4dp); doc 3: ln(1/3) = -1.0986
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ((1L, -0.4055)) && out(2L) == ((1L, -0.4055)))
    assert(out(3L) == ((1L, -1.0986)))
  }

  test("TextAnalysis.knBigramLogProb: hand-checked interpolated " +
    "Kneser-Ney rationals; scores never exceed 0; the sole-bigram corpus " +
    "hits the P=1 fixed point exactly") {
    val corpus = docsDf(Seq(
      1L -> "a b a b",
      2L -> "a c",
      3L -> "x")) // single token → no bigrams → absent
    // model: pairs ab:2 ba:1 ac:1, B=3; prefix a: pcnt=3 n1p=2,
    // prefix b: pcnt=1 n1p=1; contexts: n1s(a)=n1s(b)=n1s(c)=1.
    // P(b|a) = ((4·2−3)·3 + 3·2·1)/(4·3·3) = 21/36
    // P(a|b) = ((4−3)·3 + 3·1·1)/(4·1·3) = 6/12
    // P(c|a) = ((4−3)·3 + 3·2·1)/(4·3·3) = 9/36
    def micro(p: Double) = math.round(math.log(p) * 1e8)
    val exp1 = 2 * micro(21.0 / 36) + micro(6.0 / 12)
    val exp2 = micro(9.0 / 36)
    val out = TextAnalysis.knBigramLogProb(corpus).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L) == ((3L, exp1,
      BigDecimal(exp1 / 3.0 / 1e8)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(out(2L) == ((1L, exp2, -1.3863))) // ln 1/4
    out.values.foreach { case (_, _, avg) => assert(avg <= 0.0) }
    // a corpus holding exactly one bigram type with one context: the
    // discounted mass flows entirely back to that continuation → P = 1
    val sole = TextAnalysis.knBigramLogProb(docsDf(Seq(9L -> "x y")))
      .collect().head
    assert(sole.getLong(2) == 0L && sole.getDouble(3) == 0.0)
  }

  test("TextAnalysis.decontaminationReport: one-row rollup counts doc-, " +
    "chunk-, and union-flagged docs with integral-quotient shares") {
    val corpus = docsDf(Seq(
      1L -> "alpha beta gamma something else entirely here",
      2L -> "totally clean words without any overlap at all",
      3L -> "prefix words then alpha beta gamma embedded deep inside"))
    val eval = docsDf(Seq(100L -> "alpha beta gamma delta"))
    val out = TextAnalysis.decontaminationReport(corpus, eval,
      chunkTokens = 64, overlap = 8, n = 3).collect().head
    assert(out.getLong(0) == 3L) // n_docs
    assert(out.getLong(1) == 2L) // docs 1 and 3 carry the eval gram
    assert(out.getDouble(2) == 0.6667)
    assert(out.getLong(3) == 3L) // one 64-token chunk per doc
    assert(out.getLong(4) == 2L) // their single chunks are flagged
    assert(out.getDouble(5) == 0.6667)
    assert(out.getLong(6) == 2L) // n_docs_chunk_flagged
    assert(out.getLong(7) == 2L) // union = doc-level set (overlap ≥ n−1)
  }

  test("Dedup.minhashKSweep: the k=maxK estimator is exact on identical " +
    "docs; per-k rows share the fixed candidate set; error bounded by 1") {
    val sweep = Dedup.minhashKSweep(docs, maxK = 8, ks = Seq(2, 4, 8))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(sweep.keySet == Set(2L, 4L, 8L))
    // same candidate set at every width (candidates come from the fixed
    // deployed banding, not from k)
    assert(sweep.values.map(_._1).toSet.size == 1)
    // identical docs 1,2: every seed agrees at every k → that pair's
    // error is 0, and all errors sit in [0, 1]
    sweep.values.foreach { case (_, mean, mx) =>
      assert(mean >= 0.0 && mean <= 1.0 && mx >= 0.0 && mx <= 1.0)
      assert(mean <= mx)
    }
  }

  test("Funnels.interarrivalHist: hand-checked gaps, per-user boundaries " +
    "contribute nothing, shares sum to 1") {
    val s = spark
    import s.implicits._
    def ts(ms: Long) = new java.sql.Timestamp(1700000000000L + ms)
    val ev = Seq(
      // user 1: gaps 500ms, 5s, 120s
      (1L, 1L, ts(0)), (2L, 1L, ts(500)), (3L, 1L, ts(5500)),
      (4L, 1L, ts(125500)),
      // user 2: single event → no gap
      (5L, 2L, ts(0)),
      // user 3: one 2h gap
      (6L, 3L, ts(0)), (7L, 3L, ts(7200000)))
      .toDF("event_id", "user_id", "ts")
    val out = operators.Funnels.interarrivalHist(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out == Map(
      "0000-0s" -> ((1L, 0.25)), "0001-10s" -> ((1L, 0.25)),
      "0060-10m" -> ((1L, 0.25)), "3600-inf" -> ((1L, 0.25))))
  }

  test("Funnels.abSignificance: hand-checked 2×2 chi-square; zero for " +
    "equal arms; invariant under arm relabeling") {
    val s = spark
    import s.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    def conv(u: Long) = Seq((u, ts(0), "view"), (u, ts(1), "click"),
      (u, ts(2), "purchase"))
    def drop(u: Long) = Seq((u, ts(0), "view"))
    // arm A (even): 3 of 4 convert; arm B (odd): 1 of 4
    val ev = (Seq(2L, 4L, 6L).flatMap(conv) ++ drop(8L) ++
      conv(1L) ++ Seq(3L, 5L, 7L).flatMap(drop))
      .toDF("user_id", "ts", "event_type")
    val seg = when(pmod(col("user_id"), lit(2)) === 0, lit("A"))
      .otherwise(lit("B"))
    val out = operators.Funnels.abSignificance(ev, Seq("view", "click", "purchase"),
      seg).collect().head
    assert(out.getString(0) == "A" && out.getString(1) == "B")
    assert(out.getLong(2) == 4L && out.getLong(3) == 3L) // n_a, conv_a
    assert(out.getLong(4) == 4L && out.getLong(5) == 1L) // n_b, conv_b
    // chi2 = 8*(3*3-1*1)^2 / (4*4*4*4) = 8*64/256 = 2.0 — not significant
    assert(out.getDouble(8) == 2.0)
    assert(!out.getBoolean(9))
    assert(out.getLong(10) == 2L)
    // relabel the arms (swap which parity is "A"): statistic unchanged
    val swapped = operators.Funnels.abSignificance(ev,
      Seq("view", "click", "purchase"),
      when(pmod(col("user_id"), lit(2)) === 1, lit("A")).otherwise(lit("B")))
      .collect().head
    assert(swapped.getDouble(8) == 2.0)
    // equal arms: 1-of-2 converts on each side → chi2 exactly 0
    val eq = (conv(2L) ++ drop(4L) ++ conv(1L) ++ drop(3L))
      .toDF("user_id", "ts", "event_type")
    val eqOut = operators.Funnels.abSignificance(eq, Seq("view", "click", "purchase"),
      seg).collect().head
    assert(eqOut.getDouble(8) == 0.0 && !eqOut.getBoolean(9))
  }

  test("Dedup.spanDedup: a copied 8-token span at different offsets loses " +
    "all but its globally-first occurrence; self-repeats collapse; short " +
    "docs pass through") {
    val span = (1 to 8).map(i => s"s$i").mkString(" ")
    val rep = (1 to 8).map(i => s"t$i").mkString(" ")
    val docs = docsDf(Seq(
      1L -> s"a1 a2 $span a3 a4", // canonical occurrence (first by doc_id)
      2L -> s"b1 $span b2 b3", // copy at a different offset → removed
      3L -> s"$rep $rep", // self-repetition → second run removed
      4L -> "tiny doc")) // < 8 tokens → untouched
    val out = Dedup.spanDedup(docs, spanTokens = 8).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((s"a1 a2 $span a3 a4", 12L, 0L)))
    assert(out(2L) == (("b1 b2 b3", 11L, 8L)))
    assert(out(3L) == ((rep, 16L, 8L)))
    assert(out(4L) == (("tiny doc", 2L, 0L)))
  }

  test("Dedup.spanDedup: overlapping duplicate windows merge into one " +
    "maximal removed span (a 10-token copy removes exactly 10 tokens)") {
    val long = (1 to 10).map(i => s"c$i").mkString(" ") // 3 dup windows
    val docs = docsDf(Seq(
      1L -> s"head $long tail",
      2L -> s"x1 x2 x3 $long y1")) // all 3 windows dup → 10 tokens die
    val out = Dedup.spanDedup(docs, spanTokens = 8).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(3)))).toMap
    assert(out(1L) == ((s"head $long tail", 0L)))
    assert(out(2L) == (("x1 x2 x3 y1", 10L)))
  }

  test("TextAnalysis.winnowing: winnow_fp equals rollingFingerprint; " +
    "density ≈ 2/(w+1) bound holds loosely; short docs degenerate to one " +
    "whole-doc selection") {
    val docs = docsDf(Seq(
      1L -> "the quick brown fox jumps over the lazy dog repeatedly today",
      2L -> "abc")) // shorter than one gram
    val win = TextAnalysis.winnowing(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4))))
      .toMap
    val roll = TextAnalysis.rollingFingerprint(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(win(1L)._3 == roll(1L)) // global min is always selected
    assert(win(2L) == ((1L, 1L, roll(2L), 1.0)))
    val (m, sel, _, dens) = win(1L)
    assert(m == 60L - 7L && sel >= 1L && sel <= m) // 60 chars → 53 grams
    assert(dens > 0.0 && dens <= 1.0)
  }

  test("TextAnalysis.winnowingSelected: the r13 native deque expression " +
    "selects EXACTLY the window-min set of the textbook sliding-window " +
    "formulation — every (gram, window) dial, short docs, m<=w " +
    "degenerates, repeated text (deque tie-pops), w=1") {
    import org.apache.spark.sql.functions._
    // textbook reference: explode all grams, per-doc sliding ROWS window
    // min, complete windows only (the r1-r12 implementation, kept here
    // as the spec oracle for the set-equality proof)
    def reference(docs: org.apache.spark.sql.DataFrame, gram: Int,
                  window: Int): Set[(Long, String)] = {
      val grams = docs.select(col("doc_id"),
        greatest(length(col("text")) - (gram - 1), lit(1)).as("m"),
        posexplode(transform(
          sequence(lit(1), greatest(length(col("text")) - (gram - 1),
            lit(1))),
          i => md5(col("text").substr(i, lit(gram)))))
          .as(Seq("gidx", "h")))
      val frame = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("gidx")
        .rowsBetween(0, window - 1)
      grams.withColumn("wmin", min(col("h")).over(frame))
        .filter(col("gidx") <= greatest(col("m") - window, lit(0)))
        .select(col("doc_id"), col("wmin").as("fp")).distinct()
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    }
    // adversarial corpus: repeated text (hot grams), a doc shorter than
    // one gram, docs landing exactly on block boundaries, a 1-char doc
    val docs = docsDf(Seq(
      1L -> "the quick brown fox jumps over the lazy dog and the quick fox",
      2L -> "abc",
      3L -> "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa", // 32 = aligned blocks
      4L -> "x",
      5L -> "abcdefghijk", // m=4 with gram=8: m <= w
      6L -> "zq zq zq zq zq zq zq zq zq"))
    for ((g, w) <- Seq((8, 4), (8, 1), (3, 5), (1, 3), (4, 4), (2, 7))) {
      val fast = TextAnalysis.winnowingSelected(docs, g, w).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(fast == reference(docs, g, w),
        s"block-pair selection diverged at gram=$g window=$w: " +
          s"only-fast=${fast -- reference(docs, g, w)} " +
          s"only-ref=${reference(docs, g, w) -- fast}")
    }
  }

  test("TextAnalysis.winnowingSelected: two docs sharing a substring of " +
    "length >= gram+window-1 share at least one selected fingerprint — " +
    "the paper's detection guarantee") {
    val common = "ZQXJKVWPYGHMBZQXJKVW" // 20 chars >= 8+4-1
    val docs = docsDf(Seq(
      1L -> s"left context one $common right side alpha",
      2L -> s"totally different beginning $common other ending"))
    val sel = TextAnalysis.winnowingSelected(docs).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val s1 = sel.collect { case (1L, fp) => fp }.toSet
    val s2 = sel.collect { case (2L, fp) => fp }.toSet
    assert(s1.intersect(s2).nonEmpty)
    // and unrelated docs (no shared 8-gram at all) share nothing
    val other = docsDf(Seq(
      3L -> "aaaaaaaaaaaaaaaaaaaaaa", 4L -> "bbbbbbbbbbbbbbbbbbbbbb"))
    val sel2 = TextAnalysis.winnowingSelected(other).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(sel2.collect { case (3L, fp) => fp }.toSet
      .intersect(sel2.collect { case (4L, fp) => fp }.toSet).isEmpty)
  }

  test("Dedup.spanScrub: batch docs lose exactly the spans the corpus " +
    "already has — corpus side untouched by construction, batch-internal " +
    "repeats survive (no canonical logic within the batch)") {
    val span = (1 to 8).map(i => s"s$i").mkString(" ")
    val corpus = docsDf(Seq(1L -> s"c1 c2 $span c3 c4"))
    val batch = docsDf(Seq(
      10L -> s"n1 $span n2 n3", // span known to the corpus → scrubbed
      11L -> "all novel material here beyond any overlap at all", // kept
      12L -> s"$span"))         // the whole doc is a known span → emptied
    val out = Dedup.spanScrub(batch, corpus, spanTokens = 8).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet == Set(10L, 11L, 12L)) // batch rows only
    assert(out(10L) == (("n1 n2 n3", 11L, 8L)))
    assert(out(11L)._3 == 0L)
    assert(out(12L) == (("", 8L, 8L)))
  }

  test("Dedup.spanDedupSweep: one row per swept length; shorter spans " +
    "fire on the same copy, longer-than-copy spans see nothing") {
    val span = (1 to 8).map(i => s"s$i").mkString(" ")
    val docs = docsDf(Seq(
      1L -> s"a1 a2 $span a3 a4",
      2L -> s"b1 $span b2 b3"))
    val out = Dedup.spanDedupSweep(docs, spans = Seq(4, 8, 16)).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out.keySet == Set(4L, 8L, 16L))
    // n_tokens is corpus-wide and L-independent
    assert(out.values.map(_._3).toSet == Set(23L)) // 12 + 11 tokens
    // the 8-token copy: L=8 has exactly one dup window (8 tokens die);
    // L=4 has five dup windows inside the copy, covering the same 8
    assert(out(8L)._2 == 1L && out(8L)._4 == 8L)
    assert(out(4L)._2 == 5L && out(4L)._4 == 8L)
    // L=16 windows are longer than the copy — nothing repeats
    assert(out(16L)._2 == 0L && out(16L)._4 == 0L)
    // window volume grows as spans shrink
    assert(out(4L)._1 > out(8L)._1 && out(8L)._1 > out(16L)._1)
  }

  test("TextAnalysis.winnowPairs: a shared long substring yields a pair; " +
    "the hot-fingerprint guard suppresses boilerplate-only matches") {
    val common = "ZQXJKVWPYGHMBZQXJKVWXY" // 22 chars of shared text
    val docs = docsDf(Seq(
      1L -> s"left context one $common right side alpha",
      2L -> s"totally different beginning $common other ending"))
    val pairs = TextAnalysis.winnowPairs(docs, minShared = 1,
      maxFpDocs = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 >= 1L))
    // 12 identical docs: every fingerprint is selected by all 12 > cap 10
    // → nothing is eligible, no quadratic pair blowup
    val boiler = docsDf((1L to 12L).map(i =>
      i -> "identical boilerplate text repeated across every document"))
    assert(TextAnalysis.winnowPairs(boiler, minShared = 1,
      maxFpDocs = 10).count() == 0L)
  }

  test("TextAnalysis.ccnetPipeline: per-language LM tertiles — fluent " +
    "docs head, rare-token docs tail, keep gates on not-tail; a " +
    "single-doc language cannot rank and lands tail") {
    val docs = docsDf(Seq(
      1L -> "the the the the", // common en tokens → head
      2L -> "the the rare1", // mixed → middle
      3L -> "thing nothing rare2", // rare-heavy → tail
      4L -> "der schein der schein")) // lone de doc
    val out = TextAnalysis.ccnetPipeline(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(4), r.getBoolean(5)))).toMap
    assert(out(1L) == (("en", "head", true)))
    assert(out(2L) == (("en", "middle", true)))
    assert(out(3L) == (("en", "tail", false)))
    // n=1 → both cutoffs equal its own score → tail by construction
    assert(out(4L) == (("de", "tail", false)))
  }

  test("CorpusOps.vocabGrowth: first appearances land in the right " +
    "doc_id-range bucket; cumulatives reach the corpus totals") {
    val docs = docsDf(Seq(
      1L -> "a b", 2L -> "a", 3L -> "a c", 4L -> "c d"))
    val out = CorpusOps.vocabGrowth(docs, buckets = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    // ids 1..4 → bucket 0 = {1,2}, bucket 1 = {3,4}
    assert(out(0L) == ((3L, 3L, 2L, 2L))) // tokens a,b,a; new types a,b
    assert(out(1L) == ((4L, 7L, 2L, 4L))) // tokens a,c,c,d; new c,d
  }

  test("TextAnalysis.dsirWeights: target-exclusive tokens score positive, " +
    "non-target-exclusive negative; keep gates on the sign") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha alpha alpha", "en", "srcA", 17L),
      (2L, "omega omega omega", "fr", "srcA", 17L),
      (3L, "alpha omega", "en", "srcA", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.dsirWeights(docs, targetLang = "en")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    // census: alpha cnt_r=4 cnt_t=4, omega cnt_r=4 cnt_t=1; tot_r=8 tot_t=5
    // lr_alpha = ln(5*72/(5*69)) > 0; lr_omega = ln(2*72/(5*69)) < 0
    assert(out(1L)._1 == 3L && out(1L)._2 > 0L && out(1L)._3)
    assert(out(2L)._1 == 3L && out(2L)._2 < 0L && !out(2L)._3)
    // mixed doc: one strong negative outweighs one weak positive
    assert(out(3L)._2 < 0L && !out(3L)._3)
    assert(out(1L)._2 > out(3L)._2 && out(3L)._2 > out(2L)._2)
  }

  test("TextAnalysis.piiDetect: typed counts and masks; email redacts " +
    "BEFORE the ip pattern can eat its digit runs; word boundaries keep " +
    "longer digit groups out; nothing detectable survives redaction") {
    val s = spark
    import s.implicits._
    val d = docsDf(Seq(
      1L -> "mail a.b-c_9@sub.example.org and x@y.io today",
      2L -> "call 555-123-4567 or 555-123-45678 extension",  // 2nd: 5-digit tail, \b rejects
      3L -> "host 192.168.0.1 port 1234.5678 is not an ip",
      4L -> "clean text with no entities at all",
      5L -> "mixed u@v.de 555-000-1111 10.0.0.7"))
    val out = operators.TextAnalysis.piiDetect(d).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4),
          r.getLong(5)))).toMap
    assert(out(1L)._1 == 2 && out(1L)._5 == 2)
    assert(out(1L)._4 == "mail [EMAIL] and [EMAIL] today")
    assert(out(2L)._2 == 1, "the 5-digit tail must NOT count")
    assert(out(2L)._4 == "call [PHONE] or 555-123-45678 extension")
    assert(out(3L)._3 == 1 && out(3L)._4.contains("[IP] port 1234.5678"))
    assert(out(4L) == ((0L, 0L, 0L, "clean text with no entities at all",
      0L)))
    assert(out(5L)._4 == "mixed [EMAIL] [PHONE] [IP]")
    // the redaction chain must leave no residual matches of any pattern
    val resid = operators.TextAnalysis.piiDetect(
      operators.TextAnalysis.piiDetect(d)
        .select(col("doc_id"), col("clean_text").as("text")))
    assert(resid.agg(sum(col("n_pii"))).head.getLong(0) == 0L)
  }

  test("TextAnalysis.piiReport: per-source docs-affected and per-type " +
    "entity totals; a doc with two entity types counts once in " +
    "n_docs_pii; clean sources report zero share") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "mail a@b.io and c@d.org", "en", "web", 23L),
      (2L, "call 555-123-4567 from 10.0.0.1", "en", "web", 31L),
      (3L, "nothing sensitive here", "en", "web", 22L),
      (4L, "all clean", "en", "code", 9L),
      (5L, "also clean", "en", "code", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = operators.TextAnalysis.piiReport(d).collect()
      .map(r => r.getString(0) -> r).toMap
    val web = out("web")
    assert((web.getLong(1), web.getLong(2), web.getLong(3), web.getLong(4),
      web.getLong(5), web.getLong(6)) == ((3L, 2L, 2L, 1L, 1L, 4L)))
    assert(web.getDouble(7) == 0.6667)
    val code = out("code")
    assert(code.getLong(2) == 0L && code.getLong(6) == 0L &&
      code.getDouble(7) == 0.0)
  }

  test("TextAnalysis.urlFilter/urlDomainReport: extraction finds every " +
    "URL with its domain; ONE blocked URL drops a doc whatever else it " +
    "cites; URL-free docs pass; the report counts docs and urls per " +
    "domain with the blocklist flag") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "see http://good.org/a and http://spam.bad/x too", "web"),
      (2L, "only https://good.org/b here", "web"),
      (3L, "no links at all", "web"),
      (4L, "twice http://good.org/c http://good.org/d", "code"),
      (5L, "https://ads.tracker.net/t", "code"))
      .map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val block = Seq("spam.bad", "ads.tracker.net").toDF("domain")
    val kept = operators.TextAnalysis.urlFilter(d, block).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(kept == Map(2L -> 1L, 3L -> 0L, 4L -> 2L),
      s"doc 1 (mixed good+blocked) and doc 5 must drop; got $kept")
    val rep = operators.TextAnalysis.urlDomainReport(d, block).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(rep("good.org") == ((3L, 4L, false)))
    assert(rep("spam.bad") == ((1L, 1L, true)))
    assert(rep("ads.tracker.net") == ((1L, 1L, true)))
    assert(rep.size == 3)
  }

  test("CorpusOps.weightedSample: the selected top-k per source matches " +
    "an independent Scala recomputation of the A-ES ln(u)/w key (md5 " +
    "uniform, 9dp round, doc_id tiebreak); kPerSource >= n keeps all") {
    val s = spark
    import s.implicits._
    // weights spread over 3 orders of magnitude across two sources
    val rows = (1L to 10L).map(i =>
      (i, "x", "en", if (i <= 5) "web" else "code",
        Seq(1L, 10L, 100L, 1000L, 7L)((i % 5).toInt)))
    val docs = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    def md5hex(str: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(str.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def key(id: Long, w: Long): Double = {
      val v = java.lang.Long.parseLong(
        md5hex(s"wsample:$id").substring(0, 12), 16)
      val u = (v.toDouble + 1.0) / math.pow(2.0, 48)
      BigDecimal(math.log(u) / w.toDouble)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expect = rows.groupBy(_._4).flatMap { case (_, rs) =>
      rs.map(r => (r._1, r._4, r._5, key(r._1, r._5)))
        .sortBy { case (id, _, _, k) => (-k, id) }.take(3)
    }.toSet
    val got = CorpusOps.weightedSample(docs, kPerSource = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(got == expect, s"got $got\nexpect $expect")
    assert(CorpusOps.weightedSample(docs, kPerSource = 10).count() == 10)
  }

  test("Similarity.semanticDedupSweep: one pairing pass yields the same " +
    "kept counts as a semanticDedup run per threshold; drops are " +
    "monotone non-increasing in threshold; counts always total n") {
    val emb = embDf(Seq(
      0L -> Seq(1f, 0f, 0f, 0f),
      1L -> Seq(1f, 0f, 0f, 0f),       // exact dup of 0
      2L -> Seq(0.9f, 0.1f, 0f, 0f),   // near 0
      3L -> Seq(0f, 1f, 0f, 0f),
      4L -> Seq(0f, 0f, 1f, 0f),
      5L -> Seq(0f, 0f, 0.9f, 0.4f)))
    val cents = Similarity.ivfSeedCentroids(emb, 2)
    val ths = Seq(0.3, 0.6, 0.95)
    val sweep = Similarity.semanticDedupSweep(emb, cents, ths).collect()
      .map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(sweep.keySet == ths.toSet)
    ths.foreach { t =>
      val (dropped, kept) = sweep(t)
      assert(dropped + kept == 6)
      assert(kept == Similarity.semanticDedup(emb, cents, t).count(),
        s"sweep kept at $t disagrees with semanticDedup")
    }
    assert(ths.map(sweep(_)._1) == ths.map(sweep(_)._1).sorted.reverse,
      "drops must be monotone non-increasing in threshold")
    assert(sweep(0.3)._1 > 0, "fixture must exercise a non-empty drop set")
  }
}
