package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`), for a
  * training-data pipeline. No reference counterpart (SURVEY §2.8 north-star).
  *
  * All vector math uses higher-order functions (`zip_with` + `aggregate`) —
  * no UDFs, deterministic left-to-right double summation (which keeps results
  * bit-identical across engines that fold the same way).
  *
  * Per-pair work is ONE dot product: each side's L2 norm is computed once
  * per vector (a linear pre-pass) and carried as a column, so a candidate
  * pair costs a single fold instead of three. The division
  * `dot / (nrm_a * nrm_b)` is arithmetically identical to computing the
  * norms inline (same inputs, same fold order), so oracle parity holds
  * bit-for-bit.
  *
  * Scale posture: the brute-force variant is O(|Q|·|C|) and is only sane for
  * small query sets (it broadcasts Q); the sign-LSH variant hashes every
  * vector into `nBands` tables keyed by a `bits`-bit sign bucket and takes
  * the UNION of same-bucket candidates across tables (banded multi-probe).
  * Each table's join key has 2^bits values, so the per-bucket candidate set
  * is ~N/2^bits — at 100 TB run bits=16..32 to bound it; more bands buy
  * recall back at linear (not quadratic) cost. The IVF variant coarse-
  * quantizes the corpus into cells once (a persistable batch job) and
  * searches only the `nprobe` cells nearest each query.
  */
object Similarity {

  /** Left-to-right double dot product of two array columns — a native
    * codegen'd Catalyst expression ([[graft.functions.DotProduct]]); the
    * interpreted `aggregate(zip_with(...))` fold it replaces is kept in
    * [[dotHof]] as the portability reference (identical bit-for-bit). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotNative(a, b)

  /** Higher-order-function formulation of [[dot]] (interpreted; reference
    * semantics for tests). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** L2 norm. */
  def l2(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2(a) * l2(b))

  /** vec_id, l2 — norm table (rounded 4dp for portability). */
  def norms(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), round(l2(col("embedding")), 4).as("l2"))

  /** Brute-force cosine top-k: for each query vector (`queryPred`), the k
    * nearest other vectors. The query side is broadcast, so the plan is one
    * scan of the corpus per batch of queries — no shuffle of the corpus.
    * Ties break on candidate id for determinism. */
  def knnBrute(emb: DataFrame, queryPred: Column, k: Int = 5): DataFrame =
    topK(bruteScored(emb, queryPred), k)

  private def bruteScored(emb: DataFrame, queryPred: Column): DataFrame = {
    val q = emb.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        l2(col("embedding")).as("q_nrm"))
    val c = emb.select(col("vec_id").as("c_id"), col("embedding").as("cv"),
      l2(col("embedding")).as("c_nrm"))
    c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("cos",
        dot(col("qv"), col("cv")) / (col("q_nrm") * col("c_nrm")))
  }

  /** [[knnBrute]] with the top-k computed by the native
    * [[graft.functions.TopKByScore]] heap aggregate instead of a
    * `row_number` window: identical results (same `cos DESC, c_id ASC`
    * ranking contract — `emb_knn_brute_heap` shares the window form's
    * oracle verbatim), different physical plan. The window must shuffle
    * and sort EVERY scored pair on q_id; the aggregate keeps a k-entry
    * min-heap per query with map-side partial aggregation, so only
    * |Q|·k-row heaps cross the exchange — the shape that survives a
    * 100 TB candidate volume. Plan-gated in PlanShapeSpec:
    * ObjectHashAggregate present, no WindowExec. */
  def knnBruteHeap(emb: DataFrame, queryPred: Column,
                   k: Int = 5): DataFrame =
    bruteScored(emb, queryPred)
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKFunctions
        .topKByScore(col("cos"), col("c_id"), k).as("topk"))
      .select(col("q_id"), explode(col("topk")).as("t"))
      .select(col("q_id"), col("t.c_id").as("c_id"),
        round(col("t.score"), 4).as("score"))

  /** 1-based dims feeding each sign-LSH band: `nBands` bands of `bits` dims,
    * strided so bands read disjoint regions of the vector. Dims beyond the
    * vector's length contribute a 0 bit (via `try_element_at` null → 0), so
    * a config sized for 64-dim vectors degrades gracefully on shorter ones. */
  def lshBandDims(nBands: Int, bits: Int, stride: Int): Seq[Seq[Int]] =
    (0 until nBands).map(b => (1 to bits).map(_ + b * stride))

  /** Integer sign-bucket of `v` over 1-based `dims`: bit j is set iff
    * v(dims(j)) ≥ 0. A degenerate random-hyperplane LSH with axis-aligned
    * hyperplanes — deterministic and engine-portable (the oracle derives the
    * identical key), and a LONG join key instead of a string. */
  def signBucketInt(v: Column, dims: Seq[Int]): Column =
    dims.zipWithIndex.map { case (d, j) =>
      when(try_element_at(v, lit(d)) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** One row per (vector, band) with that band's bucket key — the multi-probe
    * hash tables, produced in a single pass (one explode, no shuffle). */
  private def bandedBuckets(emb: DataFrame,
                            bands: Seq[Seq[Int]]): DataFrame =
    emb.withColumn("nrm", l2(col("embedding")))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        posexplode(array(bands.map(d =>
          signBucketInt(col("embedding"), d)): _*)).as(Seq("band", "bucket")))

  /** Banded sign-LSH ANN: a candidate must share ANY band's bucket with the
    * query (union across `nBands` tables), then exact cosine + top-k on the
    * deduped candidate set. The join is equi on (band, bucket) — nBands·2^bits
    * partitionable keys — so no per-bucket all-pairs blowup survives a
    * scale-up as long as `bits` is sized to the corpus (16–32 at 100 TB;
    * 8 here so small-SF test data still yields candidates). A pair matching
    * several bands costs one extra dot per extra band, removed by the
    * pre-topK `distinct`. */
  def knnLsh(emb: DataFrame, queryPred: Column, k: Int = 3,
             bits: Int = 8, nBands: Int = 4, stride: Int = 16): DataFrame = {
    val banded = bandedBuckets(emb, lshBandDims(nBands, bits, stride))
    val q = banded.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("nrm").as("q_nrm"), col("band"), col("bucket"))
    val c = banded.select(col("vec_id").as("c_id"),
      col("embedding").as("cv"), col("nrm").as("c_nrm"),
      col("band"), col("bucket"))
    val scored = c.join(broadcast(q), Seq("band", "bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos",
        dot(col("qv"), col("cv")) / (col("q_nrm") * col("c_nrm")))
      .select(col("q_id"), col("c_id"), col("cos"))
      .distinct()
    topK(scored, k)
  }

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("c_id"), round(col("cos"), 4).as("score"))
  }

  /** Per-dimension (min, max) quantization parameters for [[sq8Dequantized]]
    * — one posexplode + a d-group aggregate (d = embedding dims, bounded by
    * the model architecture, so the result is collectable like the ≤nlist
    * centroid table). */
  def sq8Params(emb: DataFrame): DataFrame =
    emb.select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg(min(col("v")).as("dmin"), max(col("v")).as("dmax"))

  /** The corpus round-tripped through an 8-bit scalar quantizer (SQ8): each
    * dimension is mapped to round((v−min)·255/range) and dequantized back —
    * the standard 4× memory compression of a 100 TB float32 vector corpus
    * (store the uint8 codes + 2·d floats of parameters; search on
    * dequantized values). This op returns the DEQUANTIZED vectors so the
    * quantization error is measurable: feed the result through [[knnBrute]]
    * and [[recallAtK]] against the exact top-k to get the recall cost of
    * the compression (the emb_knn_sq8_recall query does exactly that).
    *
    * Deterministic and oracle-portable: params are exact float min/max, the
    * quantize/dequantize arithmetic is double with half-away rounding, and
    * a zero-range dimension dequantizes to its constant.
    *
    * FULLY LAZY: the d-row param table is folded to a single (mins, rngs)
    * array row and broadcast-crossed onto the corpus — no job runs until the
    * result is acted on, so the plan sweep covers this unconditionally (the
    * former formulation collected params into literals at plan-construction
    * time). The 1-row cross is constant fan-out, same as corpus_stats. */
  def sq8Dequantized(emb: DataFrame): DataFrame =
    withSq8Dequantized(emb, "dq")
      .select(col("vec_id"), col("dq").as("embedding"), col("label"))

  /** [[sq8Dequantized]] as a column: the input frame plus a `dqName` column
    * holding the SQ8 round-trip of `embedding`, both available in ONE corpus
    * scan — what [[knnIvfSq8]] needs to assign cells on compressed vectors
    * while rescoring on exact ones without a corpus self-join. */
  def withSq8Dequantized(emb: DataFrame, dqName: String): DataFrame = {
    // d rows → one row of position-ordered (mins, rngs) arrays; struct sort
    // orders by pos (distinct), so the arrays index by dimension
    val darr = sq8Params(emb).agg(
      transform(
        array_sort(collect_list(struct(col("pos"),
          col("dmin").cast("double").as("mn")))),
        s => s.getField("mn")).as("sq8_mins"),
      transform(
        array_sort(collect_list(struct(col("pos"),
          (col("dmax").cast("double") - col("dmin").cast("double"))
            .as("rg")))),
        s => s.getField("rg")).as("sq8_rngs"))
    emb.crossJoin(broadcast(darr))
      .withColumn(dqName,
        transform(col("embedding"), (v, j) => {
          val mn = element_at(col("sq8_mins"), j + lit(1))
          val rg = element_at(col("sq8_rngs"), j + lit(1))
          when(rg > 0,
            mn + round((v.cast("double") - mn) / rg * 255, 0) * rg / 255)
            .otherwise(mn)
        }))
      .drop("sq8_mins", "sq8_rngs")
  }

  /** The corpus round-tripped through a product quantizer (PQ): the vector
    * is split into `m` contiguous subspaces and each subspace is replaced by
    * its nearest entry (L2², ties → lower code) in a `ksub`-entry codebook —
    * the standard high-compression ANN code (m·log2(ksub) bits per vector;
    * m=8, ksub=16 stores a 64-dim float32 vector in 4 bytes, 64×). Returns
    * the DECODED vectors so the quantization error is measurable the same
    * way as [[sq8Dequantized]]: brute kNN over the reconstruction vs exact
    * ground truth (the emb_knn_pq_recall query).
    *
    * By default the codebook is seeded from vectors 0..ksub−1 (their
    * subspace slices), like [[ivfSeedCentroids]] — deterministic and
    * oracle-expressible. Pass `codebook` = [[pqFitCodebook]]'s output for
    * the production per-subspace k-means fit (spec-covered; not oracle'd —
    * KMeans is engine-specific). Measured (ScaleBench `pq_recall_x10`,
    * 20k vectors, mean recall@3 / 8 probes): seeded k16 0.375, trained
    * k16 0.375, trained k64 0.2916, trained k256 0.5 — ksub is a WEAK,
    * non-monotone dial at this scale; 64× compression costs roughly half
    * the true neighbors at every tested ksub. Measure your own frontier;
    * the IVF family (recall 0.92-0.96 here) is the production path.
    *
    * FULLY LAZY, one corpus scan: the codebook folds to a single-row
    * array-of-vectors frame broadcast onto the corpus (constant fan-out),
    * and encode/decode run per-row as HOF folds — m·ksub·(d/m) = ksub·d
    * multiply-adds per row, no shuffle, no join, no plan-time job. */
  def pqDecoded(emb: DataFrame, m: Int = 8, ksub: Int = 16,
                codebook: Option[DataFrame] = None): DataFrame =
    withPqDecoded(emb, "pq_dec", m, ksub, codebook)
      .select(col("vec_id"), col("pq_dec").as("embedding"), col("label"))

  /** [[pqDecoded]]'s column-adding form: the PQ round-trip rides the SAME
    * corpus scan as whatever else the caller needs (the
    * [[withSq8Dequantized]] pattern) — `outCol` holds the decoded vector,
    * every input column survives. This is what lets [[knnIvfPq]] assign
    * cells on the exact vectors while storing only what a PQ index would
    * keep, without a corpus self-join. */
  def withPqDecoded(emb: DataFrame, outCol: String, m: Int = 8,
                    ksub: Int = 16,
                    codebook: Option[DataFrame] = None,
                    inCol: String = "embedding"): DataFrame = {
    require(m > 0 && ksub > 0, s"m and ksub must be positive: $m, $ksub")
    // one-row nested frame pq_cb[j][code] = dsub-dim centroid, either from
    // an explicit (j, code, centroid) codebook (the [[pqFitCodebook]]
    // production path) or seeded from the subspace slices of vectors
    // 0..ksub−1 (deterministic, oracle-expressible)
    val cb = codebook match {
      case Some(cbdf) =>
        cbdf.groupBy(col("j"))
          .agg(transform(
            array_sort(collect_list(struct(col("code"),
              col("centroid").cast("array<double>").as("cv")))),
            s => s.getField("cv")).as("percode"))
          .agg(transform(
            array_sort(collect_list(struct(col("j"),
              col("percode").as("p")))),
            s => s.getField("p")).as("pq_cb"))
      case None =>
        val full = emb.filter(col("vec_id") < ksub)
          .agg(transform(
            array_sort(collect_list(struct(col("vec_id").as("i"),
              col(inCol).cast("array<double>").as("v")))),
            s => s.getField("v")).as("cb_full"))
        val dsubS = (size(element_at(col("cb_full"), 1)) / m).cast("int")
        full.select(transform(sequence(lit(0), lit(m - 1)), j =>
          transform(col("cb_full"), cv =>
            slice(cv, (j * dsubS + 1).cast("int"), dsubS))).as("pq_cb"))
    }
    val v = col(inCol).cast("array<double>")
    val dsub = (size(v) / m).cast("int")
    val recon = flatten(transform(sequence(lit(0), lit(m - 1)), j => {
      val cands = element_at(col("pq_cb"), j + 1)
      val qsub = slice(v, (j * dsub + 1).cast("int"), dsub)
      val best = aggregate(
        sequence(lit(0), lit(ksub - 1)),
        struct(lit(Double.MaxValue).as("d"), lit(-1).as("c")),
        (acc, c) => {
          val csub = element_at(cands, c.cast("int") + 1)
          val dist = aggregate(
            zip_with(qsub, csub, (x, y) => (x - y) * (x - y)),
            lit(0.0), (a, t) => a + t)
          when(dist < acc.getField("d"),
            struct(dist.as("d"), c.cast("int").as("c"))).otherwise(acc)
        })
      element_at(cands, best.getField("c") + 1)
    }))
    emb.crossJoin(broadcast(cb))
      .withColumn(outCol, recon)
      .drop("pq_cb")
  }

  /** Production PQ codebook fit: per-subspace seeded KMeans over ONE
    * bounded reservoir sample of the corpus (shared across all `m` fits —
    * the sample is taken once and cached, so the corpus is scanned once
    * regardless of m). Returns (j, code, centroid) rows — dsub-dim
    * centroids, `ksub` per subspace — consumable by [[pqDecoded]]'s
    * `codebook` parameter. Same sampling rationale as [[ivfFitCentroids]]:
    * at 100 TB a full-corpus fit buys no recall a bounded sample doesn't.
    * EAGER like the IVF fit (KMeans runs jobs at call time); fit once per
    * dataset version, not per query. */
  def pqFitCodebook(emb: DataFrame, m: Int = 8, ksub: Int = 16,
                    maxSample: Int = 100000): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = emb.sparkSession
    val sampled = reservoirSample(emb.select(col("embedding")), maxSample)
      .withColumn("v", col("embedding").cast("array<double>")).cache()
    try {
      val d = sampled.select(size(col("v"))).head.getInt(0)
      require(d % m == 0, s"dims $d not divisible by m=$m")
      val dsub = d / m
      val rows = (0 until m).flatMap { j =>
        val sub = sampled.select(array_to_vector(
          slice(col("v"), j * dsub + 1, dsub)).as("vec"))
        val model = new KMeans().setK(ksub).setSeed(42L + j)
          .setFeaturesCol("vec").setPredictionCol("code").fit(sub)
        model.clusterCenters.zipWithIndex.map { case (c, code) =>
          (j, code, c.toArray.toSeq)
        }
      }
      spark.createDataFrame(rows.toIndexedSeq).toDF("j", "code", "centroid")
    } finally sampled.unpersist()
  }

  /** Recall@k evaluation of an ANN result against brute-force ground truth:
    * per query, the fraction of the true top-k the ANN search found — the
    * quality dial every approximate index (LSH bits/bands, IVF nprobe) is
    * tuned by. Both inputs are (q_id, c_id, …) top-k frames (e.g.
    * [[knnLsh]] vs [[knnBrute]] at the same k). Truth is ≤|Q|·k rows, so
    * the join and aggregate are probe-bounded regardless of corpus size. */
  def recallAtK(ann: DataFrame, truth: DataFrame, k: Int): DataFrame =
    truth.select(col("q_id"), col("c_id"))
      .join(ann.select(col("q_id"), col("c_id"), lit(1L).as("hit")),
        Seq("q_id", "c_id"), "left")
      .groupBy("q_id")
      .agg(coalesce(sum(col("hit")), lit(0L)).as("n_hit"))
      .select(col("q_id"), col("n_hit"),
        round(col("n_hit").cast("double") / k, 4).as("recall"))

  /** Deterministic ±1 sign for the [[rpProjected]] matrix: the parity of
    * the first hex digit of md5("rp:<outDim>:<inDim>") — a fixed,
    * engine-reproducible coin (the DuckDB oracle recomputes the identical
    * md5), the seeded-hash discipline every sketch in this repo uses. */
  def rpSign(j: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp:$j:$i".getBytes("UTF-8"))
    if (((d(0) >> 4) & 0x1) == 1) -1.0 else 1.0
  }

  /** Johnson–Lindenstrauss sign random projection: the corpus re-embedded
    * into `outDims` dimensions through a FIXED ±1 matrix (Achlioptas 2001
    * — sign entries preserve pairwise distances in expectation exactly
    * like Gaussian ones, and a ±1 literal row is one codegen'd [[dot]]
    * per output dim, no randomness at run time). The third member of the
    * compression family next to SQ8 (4×, per-dim quantization) and PQ
    * (64×, codebooks): RP is 4× here (64→16 dims at full float width)
    * with NO training step and no codebook to ship — the right tool when
    * the corpus distribution shifts faster than a quantizer can refit.
    * Feed the result through [[knnBrute]] + [[recallAtK]] for the
    * measured recall cost (emb_knn_rp_recall), the same contract every
    * approximate path in this file honors.
    *
    * Measured at sf0.01 (recall@3 vs brute truth, honest numbers): RP
    * 16/32/48 dims = 0.125/0.208/0.25 — these near-isotropic synthetic
    * embeddings have almost no low-rank structure to preserve, so
    * distance distortion at 4× is severe. Context: Matryoshka PREFIX
    * truncation to the same 16 dims scores 0.0 (emb_dim_truncation_sweep
    * — RP wins because every output mixes ALL input dims) while SQ8 at
    * full width scores 0.92 — on THIS corpus, quantize-don't-project is
    * the measured advice, which is exactly what the dial is for.
    *
    * One map-only corpus scan — outDims dot folds per row, no shuffle,
    * no parameter collection (the matrix is plan-time literals derived
    * from md5, not data). `inDims` must equal the true vector width:
    * sign rows are zip_with-length-sensitive. */
  def rpProjected(emb: DataFrame, outDims: Int = 16,
                  inDims: Int = 64): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val projected = array((0 until outDims).map { j =>
      val signs = array((1 to inDims).map(i => lit(rpSign(j, i))): _*)
      dot(v, signs)
    }: _*)
    emb.select(col("vec_id"), projected.as("embedding"), col("label"))
  }

  /** Matryoshka-style dimension-truncation sweep: recall@k of brute cosine
    * search over each PREFIX width of the embedding vs full-width ground
    * truth — the memory/recall dial of truncatable (MRL-trained) embedding
    * models, measured on this corpus instead of assumed from the model
    * card. Keeping 16 of 64 dims cuts index bytes 4× exactly like SQ8;
    * this table says what that costs HERE, next to the quantizer recalls.
    *
    * Run-once-read-many like the nprobe/band sweeps: ONE broadcast-query
    * corpus scan scores every (pair, width) — each extra width costs one
    * more fold over a shorter prefix, not another scan — then per-width
    * ranking and the truth join are probe-bounded (≤|Q|·|C| explode rows,
    * top-k frames ≤|Q|·k·|widths|). n_hits/n_queries are exact integers;
    * recall = n_hits/(n_queries·k), an integral-count quotient. */
  def dimTruncationSweep(emb: DataFrame, queryPred: Column,
                         dims: Seq[Int] = Seq(4, 8, 16, 32, 64),
                         k: Int = 3): DataFrame = {
    require(dims.nonEmpty, "dimTruncationSweep: at least one width")
    val truth = knnBrute(emb, queryPred, k).select(col("q_id"), col("c_id"))
    def pref(v: Column, d: Int): Column = slice(v, 1, d)
    val q = emb.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val c = emb.select(col("vec_id").as("c_id"), col("embedding").as("cv"))
    val widths = array(dims.map { d =>
      struct(lit(d).as("dims_kept"),
        (dot(pref(col("qv"), d), pref(col("cv"), d)) /
          (l2(pref(col("qv"), d)) * l2(pref(col("cv"), d)))).as("cos"))
    }: _*)
    val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"), explode(widths).as("w"))
      .select(col("q_id"), col("c_id"),
        col("w.dims_kept").as("dims_kept"), col("w.cos").as("cos"))
    val w = Window.partitionBy(col("dims_kept"), col("q_id"))
      .orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .join(truth.withColumn("hit", lit(1L)), Seq("q_id", "c_id"), "left")
      .groupBy("dims_kept")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"),
        countDistinct(col("q_id")).as("n_queries"))
      .select(col("dims_kept"), col("n_hits"), col("n_queries"),
        round(col("n_hits").cast("double") / (col("n_queries") * k), 4)
          .as("recall"))
  }

  /** kNN majority-vote classification: predict each query vector's label
    * from its `k` nearest neighbors (exact cosine), tie-breaking toward the
    * SMALLEST label so the prediction is deterministic. This is the
    * embedding-space quality/topic classifier a curation pipeline runs when
    * it has a small labeled seed set and a large unlabeled corpus — the
    * labeled side is the corpus here, queries are the rows to classify.
    * Output (q_id, label, pred_label, n_votes) pairs the prediction with the
    * query's own label, so the same relation doubles as a leave-one-out
    * accuracy evaluation.
    *
    * Plan shape: [[knnBrute]]'s broadcast-query scan (documented
    * ground-truth path — swap in [[knnLsh]]/[[knnIvfIndexed]] candidates
    * for production scale), then every post-scan relation is ≤|Q|·k rows:
    * the label join broadcasts, and the vote/argmax window partitions on
    * q_id over ≤k rows per group. */
  def knnClassify(emb: DataFrame, queryPred: Column, k: Int = 5): DataFrame = {
    val labels = emb.select(col("vec_id"), col("label"))
    val votes = knnBrute(emb, queryPred, k)
      .join(broadcast(labels.withColumnRenamed("vec_id", "c_id")), "c_id")
      .groupBy(col("q_id"), col("label").as("pred_label"))
      .agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("n_votes").desc, col("pred_label"))
    votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(broadcast(labels.withColumnRenamed("vec_id", "q_id")), "q_id")
      .select(col("q_id"), col("label"), col("pred_label"), col("n_votes"))
  }

  /** Contrastive-training triplet mining: for each anchor (`queryPred`),
    * a POSITIVE (its most-similar vector at or above `posThreshold` —
    * the near-duplicate/paraphrase pair a contrastive loss pulls
    * together) and the `nNeg` HARDEST NEGATIVES (the highest-cosine
    * vectors strictly below `negThreshold` — similar enough to be
    * informative, dissimilar enough to be true negatives; the band
    * between the thresholds is a no-man's-land excluded from BOTH roles
    * so label noise from borderline pairs never enters the training
    * set). Anchors with no qualifying positive yield no rows — an
    * anchor without a pull pair can't form a triplet.
    *
    * Output: one row per (anchor, negative) with the shared positive —
    * (q_id, pos_id, pos_cos, neg_rank, neg_id, neg_cos) — the exploded
    * layout a triplet-loss data loader reads directly.
    *
    * Portability contract: cosines are rounded to 4dp BEFORE the
    * thresholds and the ranking (ties break on candidate id), so the
    * mined set is identical across engines — the doc_gopher_filter
    * round-before-decide rule.
    *
    * Scale shape: one [[bruteScored]] pass (query side broadcast, corpus
    * scanned once, no corpus shuffle) feeds both roles; the rank windows
    * partition on q_id over candidate rows only. At 100 TB the scorer
    * swaps for [[knnLsh]]/[[knnIvfIndexed]] candidates behind the same
    * thresholds — mining quality degrades to candidate recall, the same
    * dial every ANN query here measures. */
  def hardNegatives(emb: DataFrame, queryPred: Column,
                    posThreshold: Double = 0.5,
                    negThreshold: Double = 0.3,
                    nNeg: Int = 3): DataFrame =
    mineTriplets(bruteScored(emb, queryPred)
      .select(col("q_id"), col("c_id"), col("cos")),
      posThreshold, negThreshold, nNeg)

  /** [[hardNegatives]] with the scorer swapped for the banded sign-LSH
    * candidate chain ([[knnLsh]]'s tables) — the production form of the
    * brute miner's own scale claim: at corpus scale the all-candidates
    * scan is the cost, so the miner reads only bucket-sharing candidates
    * and mining quality degrades exactly to candidate recall (the dial
    * `emb_knn_recall` measures for the search path). Same thresholds,
    * same dead band, same round-before-decide contract — an anchor whose
    * bucket mates are all below posThreshold mines nothing, which is the
    * honest behavior: no candidate, no triplet. */
  def hardNegativesLsh(emb: DataFrame, queryPred: Column,
                       posThreshold: Double = 0.5,
                       negThreshold: Double = 0.3,
                       nNeg: Int = 3, bits: Int = 8, nBands: Int = 4,
                       stride: Int = 16): DataFrame = {
    val banded = bandedBuckets(emb, lshBandDims(nBands, bits, stride))
    val q = banded.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("nrm").as("q_nrm"), col("band"), col("bucket"))
    val c = banded.select(col("vec_id").as("c_id"),
      col("embedding").as("cv"), col("nrm").as("c_nrm"),
      col("band"), col("bucket"))
    val scored = c.join(broadcast(q), Seq("band", "bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos",
        dot(col("qv"), col("cv")) / (col("q_nrm") * col("c_nrm")))
      .select(col("q_id"), col("c_id"), col("cos"))
      .distinct()
    mineTriplets(scored, posThreshold, negThreshold, nNeg)
  }

  /** The shared triplet selection on a scored (q_id, c_id, cos) frame:
    * 4dp-round, threshold, rank (ties on c_id), join positive to
    * negatives. */
  private def mineTriplets(scoredRaw: DataFrame, posThreshold: Double,
                           negThreshold: Double, nNeg: Int): DataFrame = {
    val scored = scoredRaw
      .select(col("q_id"), col("c_id"), round(col("cos"), 4).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id"))
    val pos = scored.filter(col("cos") >= posThreshold)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("q_id"), col("c_id").as("pos_id"),
        col("cos").as("pos_cos"))
    val neg = scored.filter(col("cos") < negThreshold)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= nNeg)
      .select(col("q_id"), col("rn").as("neg_rank"),
        col("c_id").as("neg_id"), col("cos").as("neg_cos"))
    pos.join(neg, "q_id")
  }

  /** Margin-based BITEXT MINING (Artetxe & Schwenk 2019, "Margin-based
    * Parallel Corpus Mining with Multilingual Sentence Embeddings",
    * arXiv:1811.01136 — the LASER/CCMatrix criterion): for every vector
    * on side A (even vec_id — the deterministic stand-in for "source
    * language"; the driver corpus carries no real language split), the
    * best side-B partner by the RATIO margin
    *
    *   margin(x,y) = cos(x,y) / (½·(avgᵏ_B(x) + avgᵏ_A(y)))
    *
    * — raw cosine divided by the mean of each side's k nearest cross-
    * side cosines, which kills the "hub" vectors that are everyone's
    * nearest neighbor (raw-cosine mining's dominant failure).
    *
    * Numeric discipline: cosines become integer micro-cos (round×1e6 →
    * BIGINT, the NB micro-log precedent) BEFORE ranking and summing, so
    * top-k selection (ties on partner id) and the k-sums are exact
    * integer work in both engines; the margin is ONE double division of
    * exact integers, rounded 4dp, and the final argmax ranks on the
    * ROUNDED margin (ties on b_id) — deterministic end-to-end.
    * Output: (a_id, b_id, cos_micro, margin), one row per A vector that
    * has ≥1 positive-denominator candidate (a side with no positive
    * neighborhood mines nothing — the honest behavior).
    *
    * Scale shape: the A×B scoring here is the brute candidate generator
    * (query side at test SF); at 100 TB the candidates come from
    * [[knnLsh]]/[[knnIvfIndexed]] buckets exactly like
    * [[hardNegativesLsh]] swaps [[hardNegatives]]'s scorer — the margin
    * statistics are per-key aggregates over the candidate frame and the
    * final argmax is a per-a_id window over candidates only; nothing in
    * the margin math itself is corpus-quadratic. */
  def bitextMarginMine(emb: DataFrame, k: Int = 4): DataFrame = {
    def side(par: Int, id: String, v: String, n: String): DataFrame =
      emb.filter(col("vec_id") % 2 === par)
        .select(col("vec_id").as(id), col("embedding").as(v),
          l2(col("embedding")).as(n))
    val scored = side(0, "a_id", "av", "an")
      .crossJoin(side(1, "b_id", "bv", "bn"))
      .select(col("a_id"), col("b_id"),
        round(dot(col("av"), col("bv")) / (col("an") * col("bn")) * 1e6)
          .cast("long").as("s"))
    bitextMarginOn(scored, k)
  }

  /** [[bitextMarginMine]] with the scorer swapped for the banded
    * sign-LSH candidate chain — the production form of the brute
    * miner's own scale claim, exactly as [[hardNegativesLsh]] swaps
    * [[hardNegatives]]'s scorer: only bucket-sharing cross-side pairs
    * are scored, and BOTH the mined pair and the margin's k-NN-mean
    * denominators are computed over that candidate set (degraded
    * statistics are the honest LSH tradeoff — a hub absent from the
    * candidate frame can't be demoted by it, and a side with no
    * candidates mines nothing). */
  def bitextMarginMineLsh(emb: DataFrame, k: Int = 4, bits: Int = 8,
                          nBands: Int = 4, stride: Int = 16): DataFrame = {
    val banded = bandedBuckets(emb, lshBandDims(nBands, bits, stride))
    def side(par: Int, id: String, v: String, n: String): DataFrame =
      banded.filter(col("vec_id") % 2 === par)
        .select(col("vec_id").as(id), col("embedding").as(v),
          col("nrm").as(n), col("band"), col("bucket"))
    val scored = side(0, "a_id", "av", "an")
      .join(side(1, "b_id", "bv", "bn"), Seq("band", "bucket"))
      .select(col("a_id"), col("b_id"),
        round(dot(col("av"), col("bv")) / (col("an") * col("bn")) * 1e6)
          .cast("long").as("s"))
      .distinct() // several shared bands = one candidate
    bitextMarginOn(scored, k)
  }

  /** The shared margin selection over a scored (a_id, b_id, s) cross
    * frame — integer micro-cos in, (a_id, b_id, cos_micro, margin)
    * argmax out; see [[bitextMarginMine]] for the numeric contract. */
  private def bitextMarginOn(scoredRaw: DataFrame, k: Int): DataFrame = {
    // scored feeds BOTH direction-wise top-k stats and the margin join
    val scored = scoredRaw.localCheckpoint(eager = false)
    def kStats(key: String, other: String): DataFrame =
      scored.withColumn("r", row_number().over(
          Window.partitionBy(key).orderBy(col("s").desc, col(other))))
        .filter(col("r") <= k)
        .groupBy(key).agg(sum("s").as(s"sum_$key"),
          count(lit(1)).as(s"cnt_$key"))
    val m = scored
      .join(kStats("a_id", "b_id"), "a_id")
      .join(kStats("b_id", "a_id"), "b_id")
      .withColumn("denom",
        col("sum_a_id") * col("cnt_b_id") +
          col("sum_b_id") * col("cnt_a_id"))
      .filter(col("denom") > 0)
      .withColumn("margin", round(
        col("s") * 2.0 * col("cnt_a_id") * col("cnt_b_id") /
          col("denom"), 4))
    m.withColumn("rn", row_number().over(
        Window.partitionBy("a_id")
          .orderBy(col("margin").desc, col("b_id"))))
      .filter(col("rn") === 1)
      .select(col("a_id"), col("b_id"), col("s").as("cos_micro"),
        col("margin"))
  }

  /** Mining-quality evaluation against the corpus's own class labels —
    * the accuracy readout the ANN recall queries give search and the
    * confusion matrices give the classifiers, applied to the miner: a
    * mined (a, b) pair COUNTS as correct when both vectors carry the
    * same `label` (the embeddings table's ground-truth class). One row:
    * pairs mined, label matches, precision, and mean mined margin split
    * by correctness — a healthy miner shows matched pairs carrying the
    * higher mean margin, i.e. the margin ORDERS truth (margins summed
    * as exact 1e4-micro integers, one division each, 4dp).
    *
    * Honest readout on the driver's synthetic corpus: the 10 labels
    * are near-uniform and carry NO geometric signal, so mining
    * precision reads 0.084 ≈ the 0.1 chance floor and the margin split
    * is flat — exactly the audit a mining run needs BEFORE its pairs
    * feed training (the nbLangidConfusion unlearnability precedent);
    * the spec proves the separable direction with label-aligned
    * partners mining at precision 1. */
  def bitextMarginEval(emb: DataFrame, k: Int = 4): DataFrame = {
    val lab = emb.select(col("vec_id"), col("label"))
    val mined = bitextMarginMine(emb, k)
      .join(lab.select(col("vec_id").as("a_id"),
        col("label").as("label_a")), "a_id")
      .join(lab.select(col("vec_id").as("b_id"),
        col("label").as("label_b")), "b_id")
      .withColumn("ok",
        (col("label_a") === col("label_b")).cast("long"))
      .withColumn("margin_e4",
        round(col("margin") * 1e4).cast("long"))
    mined.agg(
      count(lit(1)).as("n_mined"),
      sum("ok").as("n_label_match"),
      round(sum("ok").cast("double") / count(lit(1)), 4)
        .as("label_precision"),
      round(sum(when(col("ok") === 1, col("margin_e4")))
        .cast("double") / (sum("ok") * 1e4), 4)
        .as("mean_margin_match"),
      round(sum(when(col("ok") === 0, col("margin_e4")))
        .cast("double") /
        ((count(lit(1)) - sum("ok")) * 1e4), 4)
        .as("mean_margin_mismatch"))
  }

  /** Embedding-cosine near-duplicate pairs: distinct (a < b) pairs sharing
    * ANY band's sign-bucket (banded multi-probe, same tables as [[knnLsh]])
    * with cosine above `threshold`. */
  def cosineNearDup(emb: DataFrame, threshold: Double = 0.95,
                    bits: Int = 8, nBands: Int = 4,
                    stride: Int = 16): DataFrame = {
    val banded = bandedBuckets(emb, lshBandDims(nBands, bits, stride))
    val a = banded.select(col("vec_id").as("vec_a"),
      col("embedding").as("va"), col("nrm").as("nrm_a"),
      col("band"), col("bucket"))
    val b = banded.select(col("vec_id").as("vec_b"),
      col("embedding").as("vb"), col("nrm").as("nrm_b"),
      col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos",
        dot(col("va"), col("vb")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") > threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
      .distinct()
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("score"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus embeddings into cells, compare
    * vectors PAIRWISE only within their cell, and drop the larger vec_id of
    * every within-cell pair with cosine ≥ `threshold`. Returns the KEPT
    * rows as (vec_id, cell). This is the embedding-space sibling of
    * [[Dedup.dedupPipeline]]: MinHash catches lexical near-dups, SemDeDup
    * catches paraphrases and template rewrites that share no shingles.
    *
    * Deviation from the paper, documented: the paper keeps the member
    * FARTHEST from its cluster centroid per duplicate group; this keeps the
    * smallest vec_id — deterministic, engine-portable, and the same
    * keep-min rule every other dedup op here uses.
    *
    * Scale shape: cell assignment is [[ivfAssign]]'s map-only argmin (one
    * corpus scan, zero shuffles); the pairing is an equi-join on `cell`, so
    * work is Σ|cell|² — bounded by choosing nlist ∝ √N, the paper's own
    * recipe. `maxCellVecs` ENFORCES the bound the way [[Dedup.ngramJaccard]]
    * guards blocks: cells holding more vectors are excluded from pairing
    * entirely (their members are all kept) — a collapsed-centroid hot cell
    * degrades recall, not the cluster. Excluded cells are queryable via
    * [[ivfStats]] (occupancy > maxCellVecs). The final anti-join's right
    * side is the (small) drop list; the corpus is never shuffled for it. */
  def semanticDedup(emb: DataFrame, centroids: DataFrame,
                    threshold: Double = 0.95,
                    maxCellVecs: Int = 10000): DataFrame = {
    // repartition(cell)-materialized because THREE consumers read the
    // assignment (census, both self-join sides) and a map-only argmin has
    // no exchange for ReuseExchange to latch onto — without it every branch
    // re-runs the nlist·d argmin over the corpus. With it the argmin runs
    // once, census and join sides inherit the hash(cell) partitioning, and
    // the self-join is co-located — the same reason ivfWriteIndex buckets
    // the persisted index by cell.
    val assigned = ivfAssign(emb, centroids)
      .withColumn("nrm", l2(col("embedding")))
      .repartition(col("cell"))
    val cellOk = assigned.groupBy("cell").agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxCellVecs).select("cell")
    val bounded = assigned.join(broadcast(cellOk), Seq("cell"))
    val a = bounded.select(col("cell"), col("vec_id").as("vec_a"),
      col("embedding").as("va"), col("nrm").as("nrm_a"))
    val b = bounded.select(col("cell"), col("vec_id").as("vec_b"),
      col("embedding").as("vb"), col("nrm").as("nrm_b"))
    val drops = a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(dot(col("va"), col("vb")) / (col("nrm_a") * col("nrm_b"))
        >= threshold)
      .select(col("vec_b").as("drop_id")).distinct()
    assigned.join(drops, col("vec_id") === col("drop_id"), "left_anti")
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
  }

  /** [[semanticDedup]]'s THRESHOLD SWEEP — the measured tradeoff table
    * behind the one dial SemDeDup exposes (how aggressive is "duplicate"?),
    * the embedding-space twin of `doc_dedup_threshold_sweep`. One row per
    * candidate threshold: how many vectors a dedup pass at that threshold
    * would drop/keep, and the drop share.
    *
    * The whole sweep costs ONE pairing pass, not |thresholds|: within-cell
    * pairs are computed once, reduced to each vector's MAX cosine against
    * any smaller-id cellmate (a vector is dropped at threshold t iff that
    * max ≥ t — the drop rule restated), and the per-threshold counts read
    * off that one small frame (≤ one row per vector with any neighbor
    * above `thresholds.min`) against a broadcast |thresholds|-row frame.
    * Same cell bounding and hot-cell guard as [[semanticDedup]]. */
  def semanticDedupSweep(emb: DataFrame, centroids: DataFrame,
                         thresholds: Seq[Double] = Seq(0.3, 0.4, 0.5, 0.6),
                         maxCellVecs: Int = 10000): DataFrame = {
    require(thresholds.nonEmpty, "semanticDedupSweep: need thresholds")
    val minThr = thresholds.min
    val assigned = ivfAssign(emb, centroids)
      .withColumn("nrm", l2(col("embedding")))
      .repartition(col("cell"))
    val cellOk = assigned.groupBy("cell").agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxCellVecs).select("cell")
    val bounded = assigned.join(broadcast(cellOk), Seq("cell"))
    val a = bounded.select(col("cell"), col("vec_id").as("vec_a"),
      col("embedding").as("va"), col("nrm").as("nrm_a"))
    val b = bounded.select(col("cell"), col("vec_id").as("vec_b"),
      col("embedding").as("vb"), col("nrm").as("nrm_b"))
    val maxCos = a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos",
        dot(col("va"), col("vb")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos") >= minThr)
      .groupBy(col("vec_b")).agg(max(col("cos")).as("maxcos"))
    val th = emb.sparkSession.range(1)
      .select(explode(array(thresholds.map(lit): _*)).as("threshold"))
    val total = emb.agg(count(lit(1)).as("n_total"))
    val counts = maxCos
      .join(broadcast(th), col("maxcos") >= col("threshold"))
      .groupBy("threshold").agg(count(lit(1)).as("dropped"))
    th.join(counts, Seq("threshold"), "left")
      .na.fill(0L, Seq("dropped"))
      .crossJoin(broadcast(total))
      .select(col("threshold"), col("dropped").as("n_dropped"),
        (col("n_total") - col("dropped")).as("n_kept"),
        round(col("dropped").cast("double") / col("n_total"), 4)
          .as("drop_share"))
  }

  /** Semantic DECONTAMINATION — the embedding-space sibling of
    * [[graft.operators.TextAnalysis]]'s n-gram `decontaminate` and the
    * cross-frame form of [[semanticDedup]]: drop corpus vectors whose
    * cosine against ANY eval-set vector reaches `threshold`. N-gram
    * decontamination catches verbatim leakage; this catches the
    * paraphrased eval rewrite that shares no shingles — both belong in a
    * training-data pipeline, and a held-out set leaks through either.
    * Returns the KEPT corpus rows as (vec_id, cell).
    *
    * Scale shape: both frames take [[ivfAssign]]'s map-only argmin (one
    * scan each); the contamination check is an equi-join on `cell` — the
    * corpus side co-located by the repartition, the (small) eval side
    * hashed onto it (AQE broadcasts a small eval set outright) — so work
    * is Σ|cell_corpus|·|cell_eval|, never corpus×eval. `maxCellVecs`
    * excludes hot corpus cells from pairing wholesale (members KEPT — the
    * permissive degradation, same guard rule as [[semanticDedup]], but
    * here the degradation means LEAKAGE SURVIVES, so it must never be
    * silent: [[semanticDecontaminateExcludedCells]] returns the excluded
    * cells first-class — run it alongside every decontaminate pass and
    * treat a non-empty result as "not yet clean"). The final anti-join's
    * right side is the small drop list. */
  def semanticDecontaminate(corpus: DataFrame, evalSet: DataFrame,
                            centroids: DataFrame,
                            threshold: Double = 0.95,
                            maxCellVecs: Int = 10000): DataFrame = {
    val corpusA = ivfAssign(corpus, centroids)
      .withColumn("nrm", l2(col("embedding")))
      .repartition(col("cell"))
    val evalA = ivfAssign(evalSet, centroids)
      .withColumn("nrm", l2(col("embedding")))
    val cellOk = corpusA.groupBy("cell").agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxCellVecs).select("cell")
    val c = corpusA.join(broadcast(cellOk), Seq("cell"))
      .select(col("cell"), col("vec_id").as("c_id"),
        col("embedding").as("cv"), col("nrm").as("c_nrm"))
    val e = evalA.select(col("cell"), col("vec_id").as("e_id"),
      col("embedding").as("ev"), col("nrm").as("e_nrm"))
    val drops = c.join(e, Seq("cell"))
      .filter(dot(col("cv"), col("ev")) / (col("c_nrm") * col("e_nrm"))
        >= threshold)
      .select(col("c_id").as("drop_id")).distinct()
    corpusA.join(drops, col("vec_id") === col("drop_id"), "left_anti")
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
  }

  /** The cells [[semanticDecontaminate]] EXCLUDES from pairing under the
    * same parameters, as a first-class output: (cell, n_vecs) for every
    * corpus cell over `maxCellVecs`. For DEDUP the permissive guard only
    * degrades recall, but for DECONTAMINATION it means eval-set leakage in
    * a hot cell survives INVISIBLY — the exact trap
    * [[Dedup.ngramJaccardExcludedBlocks]] exists for — so the exclusion
    * must be a query, not a log grep: run this alongside the decontaminate
    * pass; a non-empty result says "these cells were never checked —
    * refit centroids (watch [[ivfStats]]) or raise the cap before trusting
    * the output as clean".
    *
    * Scale shape: one map-only [[ivfAssign]] argmin scan into a
    * ≤nlist-row aggregate — strictly cheaper than the decontaminate pass
    * it audits. */
  def semanticDecontaminateExcludedCells(corpus: DataFrame,
                                         centroids: DataFrame,
                                         maxCellVecs: Int = 10000): DataFrame =
    ivfAssign(corpus, centroids)
      .groupBy("cell").agg(count(lit(1)).cast("long").as("n_vecs"))
      .filter(col("n_vecs") > maxCellVecs)
      .select(col("cell").cast("long").as("cell"), col("n_vecs"))

  // ── IVF (inverted-file) ANN ────────────────────────────────────────────
  // Coarse-quantize the corpus into `nlist` cells, then search only the
  // `nprobe` cells whose centroids are nearest each query: corpus-side work
  // per query drops from O(N) to O(N · nprobe / nlist). The cell assignment
  // is a one-off batch job ([[ivfAssign]]) whose output is persisted
  // bucketed by cell ([[ivfWriteIndex]]) in production — NOT refit per query.

  /** Production centroid fit: seeded KMeans over a BOUNDED sample (at most
    * `maxSample` rows) — at 100 TB a full-corpus fit is a second full scan
    * per invocation for no recall benefit. Returns (cell: int,
    * centroid: array<double>).
    *
    * The sample is a per-partition seeded reservoir of
    * ceil(maxSample / numPartitions) rows: ONE pass over the corpus, no
    * `count()` pre-scan (the former `sample(maxSample/count)` formulation
    * paid a full extra corpus scan per fit just to learn the fraction).
    * Partitions smaller than their quota contribute everything they have;
    * uneven partition sizes skew the sample toward small partitions — for
    * centroid SEEDING that bias is irrelevant (KMeans refines), and the
    * trade buys back a full scan at 100 TB. */
  def ivfFitCentroids(emb: DataFrame, nlist: Int,
                      maxSample: Int = 100000): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val sampled = reservoirSample(emb.select(col("embedding")), maxSample)
    val withVec = sampled
      .withColumn("vec", array_to_vector(col("embedding").cast("array<double>")))
    val model = new KMeans().setK(nlist).setSeed(42)
      .setFeaturesCol("vec").setPredictionCol("cell")
      .fit(withVec)
    val spark = emb.sparkSession
    spark.createDataFrame(
      model.clusterCenters.zipWithIndex.map { case (c, i) =>
        (i, c.toArray.toSeq)
      }.toIndexedSeq).toDF("cell", "centroid")
  }

  /** Seeded per-partition reservoir of ceil(maxSample / numPartitions) rows
    * — ONE pass, no `count()` pre-scan. Partitions smaller than their quota
    * contribute everything; uneven partition sizes skew toward small
    * partitions, which is irrelevant for centroid seeding (KMeans refines)
    * and buys back a full corpus scan at 100 TB. Shared by the IVF and PQ
    * fits. */
  private def reservoirSample(narrowed: DataFrame,
                              maxSample: Int): DataFrame = {
    val nParts = math.max(1, narrowed.rdd.getNumPartitions)
    val perPart = math.max(1, (maxSample + nParts - 1) / nParts)
    val sampledRdd = narrowed.rdd.mapPartitionsWithIndex { (pid, it) =>
      val rnd = new java.util.Random(42L * 1000003 + pid)
      val buf = new Array[org.apache.spark.sql.Row](perPart)
      var seen = 0
      while (it.hasNext) {
        val r = it.next()
        if (seen < perPart) buf(seen) = r
        else {
          val j = rnd.nextInt(seen + 1)
          if (j < perPart) buf(j) = r
        }
        seen += 1
      }
      buf.iterator.take(math.min(seen, perPart))
    }
    narrowed.sparkSession.createDataFrame(sampledRdd, narrowed.schema)
  }

  /** Deterministic, SQL-expressible centroid seed: the vectors with
    * `vec_id < nlist` (assumes dense ids — fine for a seeded index; the
    * oracle reproduces it verbatim). Production quality comes from
    * [[ivfFitCentroids]]; this variant exists so the whole IVF chain is
    * value-checkable against a SQL oracle. */
  def ivfSeedCentroids(emb: DataFrame, nlist: Int): DataFrame =
    emb.filter(col("vec_id") < nlist)
      .select(col("vec_id").cast("int").as("cell"),
        col("embedding").cast("array<double>").as("centroid"))

  /** Assign every vector to its nearest centroid (min L2², ties → lower
    * cell) as a MAP-ONLY projection: the (tiny, ≤ nlist-row) centroid table
    * is materialized once at plan-build time and inlined as literal arrays,
    * so the argmin is `array_min` over per-cell (distance, cell) structs —
    * zero shuffles, zero joins; the corpus is scanned exactly once. (The
    * former formulation — `crossJoin(broadcast(centroids))` then
    * `groupBy(vec_id)` — fanned every vector out ×nlist and shuffled the
    * full corpus per index build.) This is the index-build job — persist its
    * output with [[ivfWriteIndex]], don't recompute per query.
    *
    * Arithmetic is kept identical to the SQL oracle and the probe path:
    * ‖v−c‖² expanded as v·v − 2·(v·c) + c·c with left-to-right double
    * folds, so assignments agree bit-for-bit across engines.
    *
    * The argmin is SHARDED: centroids are grouped into `shardSize`-cell
    * shards, each shard contributes its own `array_min` struct, and the
    * global min is `array_min` over the ≤ nlist/shardSize shard-mins. Min
    * is associative and the struct ordering (cdist, cell) is total, so
    * sharding never changes the result; what it buys is codegen
    * survivability — each shard's CreateArray is a subexpression janino can
    * split into its own method, so nlist in the thousands (spec-proven at
    * 4096) no longer blows the 64 KB method limit into interpreted
    * fallback. */
  def ivfAssign(emb: DataFrame, centroids: DataFrame,
                shardSize: Int = 256,
                assignOn: String = "embedding"): DataFrame = {
    // NOTE: eagerly runs a (tiny) Spark job here — the centroid table is
    // collected at plan-CONSTRUCTION time, not at execution time. Callers
    // treating this as a pure lazy plan constructor pay one small job up
    // front. Null cells/centroids are rejected rather than NPE-ing deep in
    // the map below.
    val cents = centroids
      .filter(col("cell").isNotNull && col("centroid").isNotNull)
      .select(col("cell").cast("int"), col("centroid").cast("array<double>"))
      .collect() // bounded: ≤ nlist centroid rows, never corpus data
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    require(cents.nonEmpty,
      "ivfAssign: centroid table has no non-null (cell, centroid) rows")
    // `assignOn` lets the argmin run on a different column than the one the
    // index stores — e.g. assign on SQ8-dequantized codes, store exact
    // vectors ([[knnIvfSq8]])
    val dv = col(assignOn).cast("array<double>")
    val vv = dot(dv, dv)
    def candStruct(cellId: Int, cvec: Seq[Double]): Column = {
      val cArr = array(cvec.map(lit): _*)
      // c·c folded on the driver, left-to-right — same order as DotProduct
      val cc = cvec.foldLeft(0.0)((a, x) => a + x * x)
      struct(
        (vv - lit(2) * dot(dv, cArr) + lit(cc)).as("cdist"),
        lit(cellId).as("cell"))
    }
    val shardMins: Seq[Column] = cents.grouped(math.max(1, shardSize))
      .map(shard => array_min(array(shard.map {
        case (cellId, cvec) => candStruct(cellId, cvec)
      }.toIndexedSeq: _*)))
      .toSeq
    val best =
      if (shardMins.size == 1) shardMins.head
      else array_min(array(shardMins: _*))
    // coalesce makes `cell` statically NON-nullable (the argmin array is
    // never empty, so the -1 arm is dead): without it, a downstream join on
    // `cell` makes InferFiltersFromConstraints add `isnotnull(cell)`, and
    // predicate pushdown inlines the ENTIRE argmin expression into a Filter
    // under this Project — the corpus then pays the argmin twice per row.
    emb.withColumn("cell", coalesce(best.getField("cell"), lit(-1)))
      .select(col("vec_id"), col("embedding"), col("cell"))
  }

  /** IVF index-health report: per-cell occupancy of an assignment — the
    * dashboard an index operator reads before trusting probe latency (a
    * skewed cell is a hot probe; many near-empty cells mean the centroid
    * fit collapsed and recall is about to surprise someone). One map-only
    * assignment scan + one ≤nlist-key aggregate; `share` is each cell's
    * fraction of the corpus (1-row broadcast total, like corpus_stats). */
  def ivfStats(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val g = ivfAssign(emb, centroids).groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"))
    g.crossJoin(broadcast(g.agg(sum(col("n_vecs")).as("total"))))
      .select(col("cell").cast("long").as("cell"), col("n_vecs"),
        round(col("n_vecs").cast("double") / col("total"), 4).as("share"))
  }

  /** TOP PRINCIPAL COMPONENT by POWER ITERATION — pure DataFrame linear
    * algebra, no MLlib: the dominant direction of (mean-centered)
    * embedding variance, the one-vector summary behind anisotropy checks
    * (embedding collapse shows up as one direction eating the variance)
    * and cheap 1-D corpus ordering. Each iteration is v ← Σᵢ (xᵢ·v)·xᵢ
    * normalized: ONE corpus scan (codegen'd dot + posexplode) feeding a
    * dim-sized aggregate; the ≤dim-row result and the mean vector are
    * the only collects (the centroid-table pattern — bounded by the
    * embedding dimension, never corpus data). Output: one row per
    * dimension (pos, loading) plus the Rayleigh-quotient eigenvalue and
    * its share of total variance repeated per row for context.
    *
    * Sign convention: the loading with the largest |value| is made
    * positive, so the direction is stable across runs. Double
    * aggregation order makes last-ulp jitter possible across engines —
    * a rows-only entry with the spec asserting the recovered direction
    * on a known-anisotropy fixture (the approx-twin precedent). */
  def pcaPower(emb: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, "need at least one power iteration")
    val ad = "array<double>"
    val dim = emb.select(size(col("embedding")).as("d")).head().getInt(0)
    // per-dimension mean, collected once (≤dim values)
    val meanRows = emb
      .select(posexplode(col("embedding").cast(ad)).as(Seq("pos", "x")))
      .groupBy("pos").agg(avg(col("x")).as("m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val mean = (0 until dim).map(meanRows.getOrElse(_, 0.0))
    val meanArr = array(mean.map(lit): _*)
    val centered = emb.select(zip_with(col("embedding").cast(ad), meanArr,
      (x, m) => x - m).as("c"))
    var v = (0 until dim).map(i => if (i == 0) 1.0 else 0.0)
    var eig = 0.0
    for (_ <- 1 to iters) {
      val vArr = array(v.map(lit): _*)
      val next = centered
        .select(dot(col("c"), vArr).as("s"), col("c"))
        .select(posexplode(col("c")).as(Seq("pos", "x")), col("s"))
        .groupBy("pos").agg(sum(col("x") * col("s")).as("nx"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val raw = (0 until dim).map(next.getOrElse(_, 0.0))
      eig = raw.zip(v).map { case (a, b) => a * b }.sum // Rayleigh (‖v‖=1)
      val n = math.sqrt(raw.map(x => x * x).sum)
      v = if (n == 0.0) v else raw.map(_ / n)
    }
    val flip = if (v(v.indexWhere(x => math.abs(x) ==
      v.map(math.abs).max)) < 0) -1.0 else 1.0
    val loadings = v.map(_ * flip)
    val totVar = centered
      .select(dot(col("c"), col("c")).as("n2"))
      .agg(sum(col("n2"))).head().getDouble(0)
    val spark = emb.sparkSession
    import spark.implicits._
    loadings.zipWithIndex.map { case (l, i) =>
      (i.toLong, math.rint(l * 1e4) / 1e4,
        math.rint(eig / math.max(totVar, 1e-300) * 1e4) / 1e4)
    }.toDF("pos", "loading", "explained_share")
  }

  /** EMBEDDING-SPACE OUTLIER SCAN — the vector-side data-QA report: each
    * vector's cosine to its OWN assigned centroid (the best any cell can
    * explain it), bottom-`k` reported. A vector far from every centroid
    * is out-of-distribution for this corpus — corrupt embeddings,
    * wrong-modality rows, junk the curation pipeline should quarantine
    * before they poison ANN recall or a training mix. Scores are rounded
    * 4dp BEFORE the ordering with vec_id ties (round-before-decide), so
    * the reported set is engine-portable.
    *
    * Scale shape: one map-only [[ivfAssign]] scan, a broadcast join onto
    * the ≤nlist centroid table, and a global bottom-k TakeOrdered — the
    * corpus is scanned once and never shuffled. */
  def ivfOutliers(emb: DataFrame, centroids: DataFrame,
                  k: Int = 20): DataFrame = {
    val v = col("embedding").cast("array<double>")
    ivfAssign(emb, centroids)
      .join(broadcast(centroids), "cell")
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        round(cosine(v, col("centroid")), 4).as("cos_to_centroid"))
      .orderBy(col("cos_to_centroid"), col("vec_id")).limit(k)
  }

  /** CLUSTER PURITY against the label column — the external validation
    * [[ivfStats]]'s occupancy can't give: per cell, the share of members
    * carrying the cell's majority label (ties → lower label, so the
    * readout is total and deterministic). High purity says the embedding
    * geometry respects the labels (cells ≈ classes — kNN-classify and
    * SemDeDup inside cells are trustworthy); purity ≈ label prior says
    * the cells are label-blind. One map-only assignment scan, one
    * (cell, label) aggregate, one ≤nlist-row window over cells. */
  def ivfClusterPurity(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val byLabel = ivfAssign(emb, centroids)
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .groupBy("cell", "label").agg(count(lit(1)).as("n"))
    val wTop = Window.partitionBy("cell")
      .orderBy(col("n").desc, col("label"))
    byLabel
      .withColumn("rn", row_number().over(wTop))
      .withColumn("n_vecs", sum(col("n")).over(Window.partitionBy("cell")))
      .filter(col("rn") === 1)
      .select(col("cell").cast("long").as("cell"), col("n_vecs"),
        col("label").as("majority_label"), col("n").as("n_majority"),
        round(col("n").cast("double") / col("n_vecs"), 4).as("purity"))
  }

  /** IVF occupancy DRIFT between two corpus versions under the SAME
    * centroids — the "when to refit" signal [[ivfIndexAppend]]'s contract
    * defers to: appends never refit, so cell occupancy shifts as the
    * corpus evolves, and once cells run hot (probe latency) or hollow
    * (wasted probes) the operator refits and rebuilds. Per cell:
    * occupancy and corpus share in each version plus the share delta.
    * The delta subtracts two already-4dp-rounded shares, so it is exact
    * and engine-portable. Scale shape: two [[ivfStats]] passes (each one
    * map-only assignment scan + ≤nlist-key aggregate) and a ≤nlist-row
    * full-outer join — version-sized scans, index-sized everything else. */
  def ivfDrift(v1: DataFrame, v2: DataFrame,
               centroids: DataFrame): DataFrame = {
    val a = ivfStats(v1, centroids).select(col("cell"),
      col("n_vecs").as("n_v1"), col("share").as("share_v1"))
    val b = ivfStats(v2, centroids).select(col("cell"),
      col("n_vecs").as("n_v2"), col("share").as("share_v2"))
    a.join(b, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_v1"), lit(0L)).as("n_v1"),
        coalesce(col("n_v2"), lit(0L)).as("n_v2"),
        coalesce(col("share_v1"), lit(0.0)).as("share_v1"),
        coalesce(col("share_v2"), lit(0.0)).as("share_v2"),
        round(coalesce(col("share_v2"), lit(0.0)) -
          coalesce(col("share_v1"), lit(0.0)), 4).as("share_delta"))
  }

  /** One Lloyd REFIT step — the operator [[ivfDrift]]'s contract points
    * at: when appends have drifted cell occupancy hot or hollow, recompute
    * each cell's centroid as the mean of its members under the CURRENT
    * assignment, then rebuild the index under the new centroids. Emits one
    * row per (cell, dimension): (cell, pos, n_vecs, c_new) — the exploded
    * view of the refit centroid table ([[ivfRefitCentroids]] assembles it
    * for chaining back into [[ivfAssign]]).
    *
    * Oracle-parity construction: components are quantized to exact 1e-6
    * integral micro-units BEFORE the per-cell sum, so the aggregate is
    * order-independent (integer addition commutes; a double sum's
    * partial-agg order does not) and engine-portable; the mean then
    * divides two exact integers in a fixed order and rounds 4dp. The 1e-6
    * grid is far below any embedding's meaningful precision (inputs are
    * float32 ≈ 1e-7 relative), so the quantization never moves a centroid
    * visibly — documented approximation, same contract as
    * doc_unigram_logprob's micro-sum.
    *
    * Scale shape: one map-only assignment scan, one d-fold posexplode
    * (d = embedding width; the only amplification), one (cell, pos)-keyed
    * aggregate whose partial aggregation collapses each partition to
    * ≤ nlist·d rows before the shuffle — the shuffle carries index-sized
    * data regardless of corpus size. A cells-in-the-thousands refit at
    * 100 TB is the same one pass the index build costs. */
  def ivfRefit(emb: DataFrame, centroids: DataFrame,
               scale: Long = 1000000L): DataFrame = {
    // The 4dp mean is rounded in EXACT INTEGER arithmetic
    // (half-away-from-zero on the micro sum): round(sx·10⁴/(scale·n)) =
    // ±((2|sx| + k·n) DIV (2k·n)), k = scale/10⁴. A double-path round
    // here once flipped on an exact .5 tie (−0.03235 → Spark −0.0324 via
    // shortest-decimal HALF_UP, DuckDB −0.0323 via binary scaling); with
    // the quotient decided on integers both engines agree by construction.
    require(scale % 10000L == 0L, "scale must be a multiple of 10^4")
    val k = scale / 10000L
    ivfAssign(emb, centroids)
      .select(col("cell").cast("long").as("cell"),
        posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      .withColumn("xi", round(col("x") * scale).cast("long"))
      .groupBy("cell", "pos")
      .agg(count(lit(1)).as("n_vecs"), sum(col("xi")).as("sx"))
      .select(col("cell"), col("pos").cast("long").as("pos"),
        col("n_vecs"),
        (expr(s"CAST((CASE WHEN sx < 0 THEN -1 ELSE 1 END) * " +
          s"((abs(sx) * 2 + $k * n_vecs) DIV (${2 * k} * n_vecs)) " +
          s"AS DOUBLE)") / 10000.0).as("c_new"))
  }

  /** [[ivfRefit]] assembled back into a (cell, centroid) table — drop-in
    * for [[ivfAssign]]/[[ivfWriteIndex]], closing the maintenance loop:
    * seed/fit → serve → append → drift → REFIT → rebuild. Components are
    * the same 4dp-rounded means the exploded view reports, so the refit
    * table an operator audits is exactly the one the rebuild uses. */
  def ivfRefitCentroids(emb: DataFrame, centroids: DataFrame,
                        scale: Long = 1000000L): DataFrame =
    ivfRefit(emb, centroids, scale)
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"),
        col("c_new")))), s => s.getField("c_new")).as("centroid"))
      .select(col("cell").cast("int").as("cell"), col("centroid"))

  /** Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein 1998) —
    * the diversity stage of the retrieval family: plain top-k returns
    * near-duplicate hits; MMR greedily picks, at each step, the candidate
    * maximizing λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) against the
    * already-selected set S, trading relevance against redundancy. Works
    * per query (many queries re-rank in one plan: every stage's argmax is
    * a row_number window partitioned by q_id).
    *
    * Built WITHOUT a driver-side loop over results: the greedy is
    * unrolled into `k` lazy stages (argmax via window rank-1, selected
    * set grown by union, remaining shrunk by anti-join), each operating
    * on the ≤ poolK·|Q|-row pool frame. The pool (brute top-poolK with
    * vectors and norms) is localCheckpoint-ed first — EAGER, same seam as
    * dupClusters — so the corpus scan runs ONCE, not once per stage; at
    * 100 TB the pool is the only corpus-sized work and everything after
    * is constant-size. Determinism contract: relevance and similarity are
    * the usual 4dp-rounded cosines, the MMR score is one fixed-order
    * double expression rounded 4dp before the argmax, ties break on
    * c_id — so the selection sequence is engine-portable, and the oracle
    * unrolls the same k stages in SQL. (1−λ) is computed as the runtime
    * subtraction `1.0 − λ`, not a pre-folded literal, so both engines
    * evaluate the identical IEEE value. */
  def mmrRerank(emb: DataFrame, queryPred: Column, poolK: Int = 20,
                k: Int = 5, lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && poolK >= k, "mmrRerank: need poolK >= k >= 1")
    val lam = lit(lambda)
    val oneMinusLam = lit(1.0) - lit(lambda)
    val pool = knnBrute(emb, queryPred, poolK)
      .join(emb.select(col("vec_id").as("c_id"),
        col("embedding").cast("array<double>").as("cv")), "c_id")
      .withColumn("nrm", l2(col("cv")))
      .select(col("q_id"), col("c_id"), col("score").as("rel"),
        col("cv"), col("nrm"))
      .localCheckpoint()
    var selected: DataFrame = null
    var remaining = pool
    for (i <- 1 to k) {
      val cand =
        if (i == 1) pool.withColumn("mmr", round(lam * col("rel"), 4))
        else {
          val selV = selected.select(col("q_id"), col("cv").as("sv"),
            col("nrm").as("snrm"))
          remaining.join(selV, Seq("q_id"))
            .withColumn("sim", round(dot(col("cv"), col("sv")) /
              (col("nrm") * col("snrm")), 4))
            .groupBy("q_id", "c_id")
            .agg(first(col("rel")).as("rel"), first(col("cv")).as("cv"),
              first(col("nrm")).as("nrm"), max(col("sim")).as("max_sim"))
            .withColumn("mmr",
              round(lam * col("rel") - oneMinusLam * col("max_sim"), 4))
        }
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("mmr").desc, col("c_id"))
      val pick = cand.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("q_id"), lit(i.toLong).as("rank"), col("c_id"),
          col("rel"), col("mmr"), col("cv"), col("nrm"))
      selected = if (i == 1) pick else selected.unionByName(pick)
      remaining = remaining.join(pick.select("q_id", "c_id"),
        Seq("q_id", "c_id"), "left_anti")
    }
    selected.select(col("q_id"), col("rank"), col("c_id"), col("rel"),
      col("mmr"))
  }

  /** Geometry companion to [[ivfDrift]]'s occupancy signal: how far ONE
    * Lloyd step ([[ivfRefitCentroids]]) would MOVE each centroid — the
    * "how stale is the fit" report read before paying for a refit+rebuild
    * (large shifts in heavy cells mean the partition no longer matches
    * the data; near-zero shifts mean drift was benign churn). One row per
    * current centroid: (cell, shift) — shift is the L2 distance between
    * the current centroid and its refit position, rounded 4dp (the
    * refit side is the already-4dp-rounded table the rebuild would use,
    * so the report describes exactly the move that would happen); null
    * when the cell has no members under the current assignment (nothing
    * to refit toward — an empty cell is a hollow-cell signal, reported
    * not fabricated).
    *
    * Scale shape: [[ivfRefit]]'s one assignment pass + index-sized
    * aggregate, then a ≤nlist × ≤nlist-row join. */
  def ivfCentroidShift(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val refit = ivfRefitCentroids(emb, centroids)
      .select(col("cell"), col("centroid").as("c_new"))
    val diff = zip_with(col("c_old"), col("c_new"), (a, b) => a - b)
    centroids
      .select(col("cell").cast("int").as("cell"),
        col("centroid").cast("array<double>").as("c_old"))
      .join(refit, Seq("cell"), "left")
      .select(col("cell").cast("long").as("cell"),
        round(sqrt(dot(diff, diff)), 4).as("shift"))
  }

  /** Recall-vs-cost SWEEP over nprobe — the tuning table the IVF dial is
    * set from, built the way doc_dedup_threshold_sweep builds its
    * Jaccard table: the expensive work (assignment, probe ranking, cosine
    * scoring) runs ONCE at the largest nprobe, and every sweep point is
    * read off that one scored frame by filtering on the candidate's cell
    * rank. Per nprobe: how many candidates were scored (the probe cost)
    * and recall@k against brute-force ground truth (the quality). Recall
    * is the integral quotient n_hit / |truth| — portable by construction.
    *
    * Monotonicity is a theorem, not a hope: raising nprobe only ADDS
    * candidates, and a new candidate displaces a top-k member only by
    * beating its exact cosine — and anything beating a true top-k member's
    * cosine is itself in the true top-k. So recall is non-decreasing in
    * nprobe (spec-gated), and the sweep reads as "the first nprobe whose
    * recall clears the target is the cheapest safe setting".
    *
    * Scale shape: identical to one [[knnIvf]] at nprobe = max(nprobes) —
    * the sweep fan-out (×|nprobes|) applies only to the already
    * cell-bounded candidate rows, and the per-point top-k windows
    * partition by (nprobe, q_id) over that bounded frame. */
  def ivfNprobeSweep(emb: DataFrame, centroids: DataFrame,
                     queryPred: Column, k: Int = 3,
                     nprobes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    require(nprobes.nonEmpty, "ivfNprobeSweep: at least one nprobe")
    val maxNp = nprobes.max
    val assigned = ivfAssign(emb, centroids)
      .withColumn("nrm", l2(col("embedding")))
    val q = emb.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("embedding").cast("array<double>").as("qdv"),
        l2(col("embedding")).as("q_nrm"))
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("cdist"), col("cell"))
    // probe ranking kept (prn carried) instead of filtered to one nprobe —
    // same tiny |Q| × nlist cross as ivfSearch
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("cdist",
        dot(col("qdv"), col("qdv")) -
          lit(2) * dot(col("qdv"), col("centroid")) +
          dot(col("centroid"), col("centroid")))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= maxNp)
      .select(col("q_id"), col("qv"), col("q_nrm"), col("cell"), col("prn"))
    val c = assigned.select(col("vec_id").as("c_id"),
      col("embedding").as("cv"), col("nrm").as("c_nrm"), col("cell"))
    val scored = c.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos",
        dot(col("qv"), col("cv")) / (col("q_nrm") * col("c_nrm")))
    // fan each scored candidate out to every sweep point that would have
    // probed its cell (prn ≤ nprobe) — bounded: |candidates| × |nprobes|
    val swept = scored.withColumn("nprobe",
      explode(array(nprobes.map(n => lit(n.toLong)): _*)))
      .filter(col("prn") <= col("nprobe"))
    val w = Window.partitionBy(col("nprobe"), col("q_id"))
      .orderBy(col("cos").desc, col("c_id"))
    val ann = swept.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
    val truth = knnBrute(emb, queryPred, k)
    val cand = swept.groupBy("nprobe")
      .agg(count(lit(1)).as("n_candidates"))
    val hits = ann.join(truth.select("q_id", "c_id"), Seq("q_id", "c_id"))
      .groupBy("nprobe").agg(count(lit(1)).as("n_hit"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    cand.join(hits, Seq("nprobe"), "left")
      .crossJoin(broadcast(nTruth))
      .select(col("nprobe"), col("n_candidates"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_truth"), 4).as("recall"))
  }

  /** Persist the IVF index as a cell-bucketed table: every later probe join
    * on `cell` is co-located (no corpus shuffle at query time). */
  def ivfWriteIndex(emb: DataFrame, centroids: DataFrame, table: String,
                    buckets: Int = 32): Unit =
    Bucketing.writeBucketed(ivfAssign(emb, centroids), table, "cell",
      buckets, sortBy = Some("vec_id"))

  /** Index MAINTENANCE for the persisted IVF index: assign a new batch of
    * vectors to cells with the SAME centroid table the index was built
    * with and append them to the [[ivfWriteIndex]] table in place,
    * preserving its cell-bucketed layout (probe joins stay co-located
    * after the append — [[Bucketing.append]] takes the layout from the
    * catalogue). The 100 TB corpus-growth path: one map-only assignment
    * pass over the INCREMENT instead of re-assigning the whole corpus,
    * after which [[knnIvfIndexed]] probes corpus+batch transparently.
    * Centroids are NOT refit — cell quality for the appended rows is
    * whatever the original fit gives them (the standard IVF add contract;
    * refit+rebuild once drift shows up in [[ivfStats]] occupancy). EAGER:
    * runs the append job at call time, like the build. */
  def ivfIndexAppend(emb: DataFrame, centroids: DataFrame,
                     table: String): Unit =
    Bucketing.append(ivfAssign(emb, centroids), table)

  /** FORGET — remove vectors from the persisted IVF index (the
    * [[graft.operators.Multimodal.mediaIndexForget]] step at embedding
    * width — for RTBF the embedding itself is derived data that must
    * go): one anti-join [[Bucketing.rewrite]] on vec_id, cell-bucketed
    * layout preserved. Assignment is per-vector deterministic under the fixed
    * centroids, so the forgotten index IS the never-held index
    * row-for-row (spec-pinned) and later [[knnIvfIndexed]] probes can
    * never return a removed vector. Centroids are NOT refit — same
    * contract as [[ivfIndexAppend]]; refit+rebuild once [[ivfStats]]
    * occupancy drifts. */
  def ivfIndexForget(spark: SparkSession, table: String,
                     tombstoneIds: DataFrame): Unit =
    Bucketing.rewrite(spark, table)(
      _.join(tombstoneIds.select("vec_id"), Seq("vec_id"), "left_anti"))

  /** IVF ANN query: `nprobe` nearest cells per query (tiny |Q| × nlist
    * broadcast cross), exact cosine + top-k inside the probed cells.
    * Centroids: pass `Some(...)` (e.g. [[ivfSeedCentroids]] or a persisted
    * fit) — the query path never refits; `None` falls back to a sample fit
    * ([[ivfFitCentroids]]) for self-contained use. */
  def knnIvf(emb: DataFrame, queryPred: Column, k: Int = 3,
             nlist: Int = 16, nprobe: Int = 4,
             centroids: Option[DataFrame] = None): DataFrame = {
    val cents = centroids.getOrElse(ivfFitCentroids(emb, nlist))
    // The query branch is carved from the RAW frame: queries never need a
    // cell assignment (they probe cells by centroid distance), so the
    // expensive argmin expression appears in exactly ONE plan branch (the
    // corpus side). The former shape fed both branches from the assigned
    // frame; even with column pruning the duplicated subtree doubled
    // optimizer/codegen work and, pre-pruning, the assign itself (the r4
    // `emb_knn_ivf` 3× regression).
    ivfSearch(ivfAssign(emb, cents), emb, cents, queryPred, k, nprobe)
  }

  /** IVF ANN query against a PERSISTED index — the production query path.
    * `indexTable` is [[ivfWriteIndex]] output (vec_id, embedding, cell;
    * bucketed by cell): probe-join-only at query time, no assignment
    * recompute, and the bucketed scan carries HashPartitioning(cell) so the
    * probe join shuffles nothing on the index side. `centroids` must be the
    * same table the index was built with. */
  def knnIvfIndexed(spark: SparkSession, indexTable: String,
                    centroids: DataFrame, queryPred: Column, k: Int = 3,
                    nprobe: Int = 4): DataFrame =
    ivfSearch(spark.table(indexTable), spark.table(indexTable), centroids,
      queryPred, k, nprobe)

  /** IVF-SQ8 ANN — the standard production layout for a compressed vector
    * index: cells are built over the SQ8-compressed corpus (centroids seeded
    * from and assignment computed on the dequantized codes, i.e. what a code-
    * only index can see), while SCORING inside the probed cells uses the
    * exact full-precision vectors — "store codes, rescore exact". Both the
    * compressed and exact columns ride ONE corpus scan
    * ([[withSq8Dequantized]]); there is no corpus self-join. Recall cost of
    * the composition is measured by `emb_knn_ivf_sq8_recall` against brute
    * ground truth. */
  def knnIvfSq8(emb: DataFrame, queryPred: Column, k: Int = 3,
                nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val both = withSq8Dequantized(emb, "dq")
    val cents = ivfSeedCentroids(
      both.select(col("vec_id"), col("dq").as("embedding")), nlist)
    // argmin on the codes; the projected index rows keep the EXACT vectors
    val indexed = ivfAssign(both, cents, assignOn = "dq")
    ivfSearch(indexed, emb, cents, queryPred, k, nprobe)
  }

  /** IVF-PQ ANN — the FAISS-flagship composition: IVF cells bound the
    * search to `nprobe` buckets, and inside them candidates are scored
    * against their PQ-DECODED reconstructions (all a real IVF-PQ index
    * stores is the m·log2(ksub)-bit codes), while the QUERY stays exact —
    * asymmetric distance computation (ADC), the standard accuracy-saving
    * trick: only the candidate side pays quantization error. Cell
    * assignment runs on the EXACT vectors (build-time information, like
    * FAISS's encode-at-add), so the cells are identical to [[knnIvf]]'s
    * and any recall gap vs plain IVF is purely the PQ scoring error.
    *
    * Scale shape: identical to [[knnIvf]] — the PQ decode and the argmin
    * ride ONE corpus scan (no self-join; [[withPqDecoded]]), the probe
    * join broadcasts the |Q|-bounded probe frame, nothing shuffles the
    * corpus. At 100 TB the decoded array never materializes at rest —
    * a persisted variant stores codes and decodes in the probe's
    * projection, same plan shape. */
  def knnIvfPq(emb: DataFrame, queryPred: Column, k: Int = 3,
               nlist: Int = 16, nprobe: Int = 4,
               m: Int = 8, ksub: Int = 16,
               codebook: Option[DataFrame] = None): DataFrame = {
    val cents = ivfSeedCentroids(emb, nlist)
    val both = withPqDecoded(emb, "pqv", m, ksub, codebook)
      .select(col("vec_id"), col("pqv").as("embedding"),
        col("embedding").as("exact"))
    val indexed = ivfAssign(both, cents, assignOn = "exact")
    // queries widened to double so ADC scores float-exact queries against
    // the double-typed reconstructions (exact widening, oracle-identical)
    val queries = emb.withColumn("embedding",
      col("embedding").cast("array<double>"))
    ivfSearch(indexed, queries, cents, queryPred, k, nprobe)
  }

  /** IVF-PQ + REFINE — the third stage of the FAISS production stack
    * (`IndexRefineFlat`): the ADC search returns a `refineK`-deep
    * shortlist ranked on lossy reconstructions, then the shortlist — and
    * ONLY the shortlist — is re-scored against the exact stored vectors
    * and cut to `k`. Memory stays PQ-sized for the scan (the codes bound
    * the working set), while the final ranking is exact over |Q|·refineK
    * rows — the standard recipe for buying back most of PQ's recall at
    * a per-query cost that never touches the corpus again
    * (`emb_knn_ivf_pq_refined_recall` measures exactly what it buys).
    * The exact-vector fetch is a |Q|·refineK-keyed join (in a deployment,
    * point lookups against the primary store); scores rounded 4dp after
    * the raw-cos ranking, the [[knnBrute]] contract. */
  def knnIvfPqRefined(emb: DataFrame, queryPred: Column, k: Int = 3,
                      refineK: Int = 10, nlist: Int = 16, nprobe: Int = 4,
                      m: Int = 8, ksub: Int = 16): DataFrame = {
    val shortlist = knnIvfPq(emb, queryPred, refineK, nlist, nprobe,
      m, ksub).select(col("q_id"), col("c_id"))
    val vecs = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val qv = emb.filter(queryPred).select(col("vec_id").as("q_id"),
      col("embedding").cast("array<double>").as("qv"))
    val scored = shortlist
      .join(broadcast(qv), "q_id")
      .join(vecs, col("c_id") === col("vec_id"))
      .select(col("q_id"), col("c_id"),
        cosine(col("qv"), col("v")).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("c_id"), round(col("cos"), 4).as("score"))
  }

  /** Deterministic, SQL-expressible RESIDUAL codebook seed: the residuals
    * of vectors `ksub..2·ksub−1`, sliced per subspace into (j, code,
    * centroid) rows. NOT vectors 0..ksub−1 (the [[withPqDecoded]] seed):
    * under [[ivfSeedCentroids]] those ARE the cell centroids, so their
    * residuals are ~zero and the codebook would collapse to "reconstruct
    * every vector as its centroid". `withRes` must carry `vec_id` and a
    * `res` array column (see [[knnIvfPqResidual]]). */
  def pqResidualSeedCodebook(withRes: DataFrame, m: Int,
                             ksub: Int): DataFrame = {
    val seeds = withRes
      .filter(col("vec_id") >= ksub && col("vec_id") < 2L * ksub)
      .select((col("vec_id") - ksub).cast("int").as("code"),
        col("res").cast("array<double>").as("v"))
    val dsub = (size(col("v")) / m).cast("int")
    seeds.withColumn("j", explode(sequence(lit(0), lit(m - 1))))
      .select(col("j"), col("code"),
        slice(col("v"), (col("j") * dsub + 1).cast("int"), dsub)
          .as("centroid"))
  }

  /** Production RESIDUAL codebook fit: [[pqFitCodebook]] run over
    * (vector − assigned-cell centroid) instead of the raw vectors — the
    * FAISS IVF-PQ-on-residuals build. Residuals concentrate around the
    * origin with the coarse (cell) structure removed, so the same code
    * budget spends its resolution on local detail instead of re-encoding
    * cell position. One assignment scan + one bounded residual sample. */
  def pqFitCodebookResidual(emb: DataFrame, centroids: DataFrame,
                            m: Int = 8, ksub: Int = 16,
                            maxSample: Int = 100000): DataFrame = {
    val assigned = ivfAssign(emb, centroids)
    val withRes = assigned
      .join(broadcast(centroids.select(col("cell").cast("int").as("cell"),
        col("centroid").cast("array<double>").as("_c"))), "cell")
      .select(zip_with(col("embedding").cast("array<double>"), col("_c"),
        (x, y) => x - y).as("embedding"))
    pqFitCodebook(withRes, m, ksub, maxSample)
  }

  /** [[knnIvfPq]] with RESIDUAL encoding — what IVF-PQ stores in FAISS
    * proper: each vector's PQ codes encode (v − centroid(cell(v))), and
    * reconstruction adds the centroid back (v̂ = c + decode(codes)).
    * The quantizer no longer wastes its m·log2(ksub) bits re-describing
    * which cell the vector sits in (the cell id already says that), so
    * at equal code budget the reconstruction error — and with it the ADC
    * ranking error — should drop. Whether it DOES at a given corpus scale
    * is measured, not assumed: `emb_knn_ivf_pq_residual_recall` vs
    * `emb_knn_ivf_pq_recall` at sf, and the ScaleBench residual-vs-raw
    * cell at ×10 (SURVEY §2.8 records the verdict).
    *
    * Scale shape: identical to [[knnIvfPq]] — assignment is the map-only
    * sharded argmin, the centroid add-back is a broadcast join on `cell`
    * (≤ nlist rows), encode/decode ride the same corpus scan, queries
    * stay exact (ADC). Default codebook is the deterministic
    * [[pqResidualSeedCodebook]] (oracle-expressible); pass
    * [[pqFitCodebookResidual]]'s output for the trained path. */
  def knnIvfPqResidual(emb: DataFrame, queryPred: Column, k: Int = 3,
                       nlist: Int = 16, nprobe: Int = 4,
                       m: Int = 8, ksub: Int = 16,
                       codebook: Option[DataFrame] = None): DataFrame = {
    val cents = ivfSeedCentroids(emb, nlist)
    val assigned = ivfAssign(emb, cents)
    val withRes = assigned
      .join(broadcast(cents.select(col("cell"),
        col("centroid").as("_c"))), "cell")
      .withColumn("res",
        zip_with(col("embedding").cast("array<double>"), col("_c"),
          (x, y) => x - y))
    val cb = codebook.getOrElse(pqResidualSeedCodebook(withRes, m, ksub))
    val recon = withPqDecoded(withRes, "res_dec", m, ksub, Some(cb),
      inCol = "res")
      .withColumn("pqv",
        zip_with(col("res_dec"), col("_c"), (x, y) => x + y))
    val indexed = recon.select(col("vec_id"),
      col("pqv").as("embedding"), col("cell"))
    val queries = emb.withColumn("embedding",
      col("embedding").cast("array<double>"))
    ivfSearch(indexed, queries, cents, queryPred, k, nprobe)
  }

  /** [[knnIvfPq]] against a PERSISTED [[ivfWriteIndex]] table — the
    * production IVF-PQ query path: the cell-bucketed index is scanned with
    * no corpus-side exchange (the probe join is co-located on `cell`), and
    * the PQ decode runs in the probe's per-row PROJECTION on top of that
    * scan — a 1-row broadcast codebook fold that preserves the bucketed
    * partitioning, so "decode at probe time" costs zero shuffles. Results
    * are identical to the inline [[knnIvfPq]] (same cells — the index was
    * assigned on exact vectors under the same centroids — same decode,
    * same ADC scoring), which the registered query proves by sharing its
    * oracle verbatim. */
  def knnIvfPqIndexed(spark: SparkSession, indexTable: String,
                      centroids: DataFrame, queryPred: Column, k: Int = 3,
                      nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
                      codebook: Option[DataFrame] = None): DataFrame = {
    val idx = spark.table(indexTable)
    val decoded = withPqDecoded(idx, "pqv", m, ksub, codebook)
      .select(col("vec_id"), col("pqv").as("embedding"), col("cell"))
    val queries = spark.table(indexTable).withColumn("embedding",
      col("embedding").cast("array<double>"))
    ivfSearch(decoded, queries, centroids, queryPred, k, nprobe)
  }

  /** [[knnIvfPqResidual]] against the PERSISTED [[ivfWriteIndex]] table —
    * the production residual-IVF-PQ query path. The centroid add-back is a
    * ≤nlist-row broadcast join riding the bucketed index scan (no
    * cell-side exchange, same contract as [[knnIvfPqIndexed]], plan-gated
    * in PlanShapeSpec), and encode/decode run in the probe's projection.
    * The index stores cells assigned on exact vectors under the same
    * centroids, so results are identical to the inline variant — the
    * registered query shares its oracle verbatim. */
  def knnIvfPqResidualIndexed(spark: SparkSession, indexTable: String,
                              centroids: DataFrame, queryPred: Column,
                              k: Int = 3, nprobe: Int = 4,
                              m: Int = 8, ksub: Int = 16,
                              codebook: Option[DataFrame] = None)
      : DataFrame = {
    val idx = spark.table(indexTable)
    val withRes = idx
      .join(broadcast(centroids.select(col("cell"),
        col("centroid").as("_c"))), "cell")
      .withColumn("res",
        zip_with(col("embedding").cast("array<double>"), col("_c"),
          (x, y) => x - y))
    val cb = codebook.getOrElse(pqResidualSeedCodebook(withRes, m, ksub))
    val recon = withPqDecoded(withRes, "res_dec", m, ksub, Some(cb),
      inCol = "res")
      .withColumn("pqv",
        zip_with(col("res_dec"), col("_c"), (x, y) => x + y))
    val indexed = recon.select(col("vec_id"),
      col("pqv").as("embedding"), col("cell"))
    val queries = spark.table(indexTable).withColumn("embedding",
      col("embedding").cast("array<double>"))
    ivfSearch(indexed, queries, centroids, queryPred, k, nprobe)
  }

  /** Probe the persisted [[ivfWriteIndex]] table with an EXTERNAL query
    * frame (`vec_id`, `embedding`) — the batch kernel of the streaming
    * serve path ([[graft.streaming.StreamingKnn]]). Identical chain to
    * [[knnIvfIndexed]] (same probe selection, same exact rescore, same
    * co-located bucketed scan), but the queries need not live in the
    * index — this is what an online "find neighbors for these new
    * vectors" endpoint runs per request batch. */
  def knnIvfProbe(spark: SparkSession, indexTable: String,
                  centroids: DataFrame, queries: DataFrame, k: Int = 3,
                  nprobe: Int = 4): DataFrame =
    ivfSearch(spark.table(indexTable), queries, centroids, lit(true), k,
      nprobe)

  /** [[knnIvfPqIndexed]]'s external-queries form: ADC rescore against the
    * PQ-decoded reconstructions riding the bucketed index scan, queries
    * exact (widened to double). Shares every stage with the registered
    * batch query; [[graft.streaming.StreamingKnn]] runs it per
    * micro-batch. */
  def knnIvfPqProbe(spark: SparkSession, indexTable: String,
                    centroids: DataFrame, queries: DataFrame, k: Int = 3,
                    nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
                    codebook: Option[DataFrame] = None): DataFrame = {
    val idx = spark.table(indexTable)
    val decoded = withPqDecoded(idx, "pqv", m, ksub, codebook)
      .select(col("vec_id"), col("pqv").as("embedding"), col("cell"))
    ivfSearch(decoded,
      queries.withColumn("embedding", col("embedding").cast("array<double>")),
      centroids, lit(true), k, nprobe)
  }

  /** Probe + exact-rescore stage shared by [[knnIvf]] (inline assign) and
    * [[knnIvfIndexed]] (persisted index): `nprobe` nearest cells per query,
    * exact cosine + top-k inside the probed cells only. `queries` is the
    * frame the query vectors are filtered from — it needs vec_id + embedding
    * only (NO cell column), so callers with an expensive assignment plan
    * pass the cheap pre-assignment frame here. */
  private def ivfSearch(index: DataFrame, queries: DataFrame,
                        cents: DataFrame,
                        queryPred: Column, k: Int, nprobe: Int): DataFrame = {
    val assigned = index.withColumn("nrm", l2(col("embedding")))
    // nprobe nearest cells per query vector (tiny: |Q| × nlist)
    val q = queries.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("embedding").cast("array<double>").as("qdv"),
        l2(col("embedding")).as("q_nrm"))
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("cdist"), col("cell"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("cdist",
        dot(col("qdv"), col("qdv")) -
          lit(2) * dot(col("qdv"), col("centroid")) +
          dot(col("centroid"), col("centroid")))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("q_id"), col("qv"), col("q_nrm"), col("cell"))
    // search only the probed cells
    val c = assigned.select(col("vec_id").as("c_id"),
      col("embedding").as("cv"), col("nrm").as("c_nrm"), col("cell"))
    val scored = c.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cos",
        dot(col("qv"), col("cv")) / (col("q_nrm") * col("c_nrm")))
    topK(scored, k)
  }
}
