package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling — the selection stages of a training-data
  * pipeline. Everything is keyed on a content/id hash, never on RNG state:
  * the same inputs produce the same sample on any cluster, any partition
  * count, any executor failure/retry history (Spark's `df.sample` is
  * per-partition-seeded and NOT stable under repartitioning — unusable as
  * a reproducibility contract).
  */
object Sampling {

  private val M = 1000000L // hash-bucket modulus: fraction resolution 1e-6

  /** The salted id position every sampler keys on:
    * portableHash(string(id) ++ salt) mod `modulus`.
    */
  private def saltedPos(idCol: String, salt: String, modulus: Long): Column =
    pmod(TextDedup.portableHash(concat(col(idCol).cast("string"), lit(salt))), lit(modulus))

  /** Bernoulli-style sample keeping ~`frac` of rows: keep iff
    * hash(id, salt) mod M < frac·M. Scan-side filter — NO shuffle, prunes
    * at the reader when the hash column is cheap; different `salt` values
    * give independent samples (train/validation splits that provably don't
    * overlap: disjoint hash ranges of the SAME salt, see [[hashSplit]]).
    */
  def hashSample(df: DataFrame, idCol: String, frac: Double, salt: String = ""): DataFrame = {
    require(frac >= 0.0 && frac <= 1.0, "frac must be in [0,1]")
    df.where(saltedPos(idCol, salt, M) < math.floor(frac * M).toLong)
  }

  /** Priority sampling (Duffield, Lund & Thorup, JACM 2007): a
    * weight-aware FIXED-k sample with unbiased subset-sum estimation —
    * the sampler a mixing/ablation pipeline wants when "keep 10k docs,
    * favor token-heavy ones, and let me estimate any subset's token mass
    * from the sample alone". Each row gets priority q = w/u with
    * u = (hash(id, salt) mod 2^30 + 1)/2^30; the k largest-q rows are
    * kept, each carrying est_w = max(w, τ) where τ is the (k+1)-th
    * priority (0 when the input has ≤ k rows, making the sample exact).
    * E[Σ_{kept ∩ S} est_w] = Σ_S w for every fixed subset S — the DLT
    * estimator.
    *
    * Determinism: u is hash-derived, never RNG, and q = (w·2^30)/(h+1)
    * is IEEE multiply-then-divide of exact integers — correctly rounded,
    * so every engine computes bit-identical priorities; ties break by id.
    * Plan shape: the selection is orderBy+limit → TakeOrderedAndProject
    * (per-partition top-(k+1) heaps meet in ONE tiny exchange — no global
    * sort); τ is a 1-row broadcast back onto the k kept rows.
    */
  def prioritySample(df: DataFrame, idCol: String, weightCol: String, k: Int,
                     salt: String = ""): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val u = saltedPos(idCol, salt, 1073741824L) + lit(1L)
    val pr = df.select(col(idCol).as("id"), col(weightCol).cast("double").as("w"),
        u.cast("double").as("__u"))
      .withColumn("q", col("w") * lit(1073741824.0) / col("__u"))
      .drop("__u")
    val top = pr.orderBy(col("q").desc, col("id")).limit(k + 1)
    val tau = top.agg(
      when(count(lit(1)) > k, min(col("q"))).otherwise(lit(0.0)).as("tau"))
    top.orderBy(col("q").desc, col("id")).limit(k)
      .crossJoin(broadcast(tau))
      .select(col("id"), col("w"), greatest(col("w"), col("tau")).as("est_w"))
  }

  /** Disjoint train/validation/test split by hash range over ONE salt:
    * row r lands in split i iff hash(r) mod M falls in i's range. Exact
    * complement guarantee (no row in two splits, no row dropped) — the
    * property per-split independent sampling cannot give.
    */
  def hashSplit(df: DataFrame, idCol: String, fracs: Seq[Double],
                salt: String = ""): Seq[DataFrame] = {
    require(fracs.nonEmpty && fracs.forall(_ >= 0) && math.abs(fracs.sum - 1.0) < 1e-9,
      "fracs must be non-negative and sum to 1")
    // the FINAL bound is pinned to M exactly: floating cumulative sums can
    // land at 0.999... (e.g. 0.7+0.3, 3×1/3), and floor would then leave
    // hash bucket M-1 outside every split — a silent ~1e-6 row loss that
    // breaks the documented disjoint-AND-complete contract
    val bounds = fracs.scanLeft(0.0)(_ + _).map(f => math.floor(f * M).toLong)
      .updated(fracs.length, M)
    val h = saltedPos(idCol, salt, M)
    bounds.sliding(2).map { case Seq(lo, hi) =>
      df.where(h >= lo && h < hi)
    }.toSeq
  }

  /** Sequence packing for training batches: assign docs to fixed
    * token-budget packs by contiguous greedy fill in deterministic (id)
    * order WITHIN a shard — pack boundary = running token count crossing a
    * multiple of `budget` (a doc larger than the budget occupies its own
    * pack(s) worth of budget; packs are contiguous id ranges, which is
    * what sequence-packing wants: stable, resumable, order-reproducible).
    *
    * Scale shape: the cumulative sum is a window over (shard, id) — one
    * shuffle on the shard key, parallel across shards. A GLOBAL running
    * sum would serialize onto one task at corpus scale, so the shard
    * column is required, not optional: shards (e.g. hash-bucket of id,
    * language, crawl segment) are the parallelism unit, exactly like the
    * pipeline's bucket column.
    */
  def packBudget(df: DataFrame, shardCol: String, idCol: String, tokCol: String,
                 budget: Long): DataFrame = {
    require(budget >= 1, "budget must be >= 1")
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // pack of a doc = tokens-before-it DIV budget: the doc starts the pack
    // its first token lands in. Integral `div`, not floating division —
    // shard token sums can exceed 2^53 where doubles drop low bits.
    df.withColumn("tok_before", sum(col(tokCol)).over(w) - col(tokCol))
      .withColumn("pack", expr(s"tok_before div ${budget}L"))
      .drop("tok_before")
  }

  /** GPT-style sequence windowing — the pretraining sharder that
    * [[packBudget]] is NOT: documents are concatenated per shard (in the
    * deterministic (hash, id) order) and the token stream is sliced into
    * fixed `seqLen` windows, documents SPLITTING across window boundaries.
    * Emits one row per (document × window it overlaps): (shard, window,
    * id, tok_from, tok_len) — tok_from is the 0-based offset INSIDE the
    * document, so a trainer reassembles window w of a shard by
    * concatenating its rows' token slices in (start-offset) order.
    *
    * The span arithmetic is the whole trick at 100 TB: a document
    * overlapping windows [w0, w1] yields w1-w0+1 rows via
    * explode(sequence(w0, w1)) — NO per-token explosion, so the operator
    * is linear in documents + emitted spans, and every value is exact
    * BIGINT arithmetic (cumsum via shard-partitioned window, integral
    * div). One exchange on the shard key, same as packBudget.
    */
  def sequenceWindows(df: DataFrame, idCol: String, tokCol: String,
                      seqLen: Long, shards: Int, salt: String = ""): DataFrame = {
    require(seqLen >= 1 && shards >= 1)
    val id = col(idCol)
    val h = saltedPos(idCol, salt, M)
    val shard = pmod(h, lit(shards.toLong))
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), id)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.where(col(tokCol) > 0)
      .select(id, col(tokCol).as("toks"), h.as("h"), shard.as("shard"))
      .withColumn("off", sum(col("toks")).over(w) - col("toks"))
      .withColumn("w0", expr(s"off div ${seqLen}L"))
      .withColumn("w1", expr(s"(off + toks - 1) div ${seqLen}L"))
      .select(col("shard"), id, col("toks"), col("off"),
        explode(sequence(col("w0"), col("w1"))).as("window"))
      .select(col("shard"), col("window"), id,
        greatest(lit(0L), col("window") * seqLen - col("off")).as("tok_from"),
        (least((col("window") + 1) * seqLen - col("off"), col("toks")) -
          greatest(lit(0L), col("window") * seqLen - col("off"))).as("tok_len"))
  }

  /** Deterministic corpus shuffle — the reproducible training ORDER a
    * pretraining run needs (epoch ordering must replay identically across
    * restarts, cluster sizes, and engine versions; an RNG shuffle is none
    * of those). Every row gets (shard, pos): shard = hash(id, salt) mod
    * `shards`, pos = dense 1-based rank of (hash, id) within the shard.
    * Reading shards round-robin (or concatenating shard streams) yields a
    * fixed pseudo-random global order; a new `salt` is a fresh epoch
    * permutation.
    *
    * Plan at 100 TB: ONE exchange on the shard key + per-shard sort —
    * embarrassingly parallel across shards, no global sort (a global
    * row_number would serialize the corpus through one task; the shard
    * decomposition is the same parallelism-unit trick as [[packBudget]]).
    */
  /** The ONE hash-order contract shared by [[deterministicShuffle]] and
    * [[negativePairs]]: adds `__h` (the salted hash bucket) and `shard`
    * (`__h mod shards`); order WITHIN a shard is (`__h`, id). Both callers
    * must ride this helper — their docstrings promise the same order, and
    * duplicated assignments could silently drift apart under edits.
    */
  private def shardAssign(df: DataFrame, idCol: String, shards: Int,
                          salt: String): DataFrame = {
    require(shards >= 1, "shards must be >= 1")
    df.withColumn("__h", saltedPos(idCol, salt, M))
      .withColumn("shard", pmod(col("__h"), lit(shards.toLong)))
  }

  def deterministicShuffle(df: DataFrame, idCol: String, shards: Int,
                           salt: String = ""): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("__h"), col(idCol))
    shardAssign(df, idCol, shards, salt)
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__h")
  }

  /** Deterministic NEGATIVE sampling — the contrastive-pair generator an
    * embedding/reranker training pipeline needs: each row is paired with
    * a pseudo-random other row (the successor in the [[deterministicShuffle]]
    * hash order within its shard, wrapping at the shard end), so negatives
    * are (a) uniform-ish w.r.t. content — hash order is uncorrelated with
    * any feature — and (b) a REPRODUCIBILITY CONTRACT like every sampler
    * here: same pairs on any cluster, any retry, any partitioning; a new
    * salt is a fresh negative assignment. Rows alone in their shard have
    * only themselves to pair with and are dropped (pick `shards` ≪ rows).
    *
    * Plan at 100 TB: ONE exchange on the shard key; successor + wrap are
    * lead/first over the shard window — no join, no second pass.
    */
  def negativePairs(df: DataFrame, idCol: String, shards: Int,
                    salt: String = ""): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("__h"), col(idCol))
    shardAssign(df, idCol, shards, salt)
      .withColumn("neg_id",
        coalesce(lead(col(idCol), 1).over(w), first(col(idCol)).over(w)))
      .where(col("neg_id") =!= col(idCol))
      .drop("__h")
  }

  /** Exact per-stratum quota: the `n` rows of each stratum with the
    * smallest (hash, id) priority — a deterministic uniform draw without
    * replacement. Plans as ONE shuffle on the stratum key; Spark 4's
    * WindowGroupLimit pushes the rank bound map-side, so each task ships
    * at most `n` rows per stratum into the exchange instead of the whole
    * stratum — the skewed-stratum case (one language owning 90% of the
    * corpus) never concentrates on a task.
    */
  def stratifiedQuota(df: DataFrame, strataCol: String, idCol: String, n: Int,
                      salt: String = ""): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val pri = saltedPos(idCol, salt, M)
    val w = Window.partitionBy(col(strataCol)).orderBy(pri, col(idCol))
    df.withColumn("rk", row_number().over(w))
      .where(col("rk") <= n)
      .drop("rk")
  }

  /** Group-RELATIVE quality cut: keep the top `frac` fraction of each
    * group's rows by (scoreCol DESC, idCol ASC). Absolute score thresholds
    * misfire across groups whose score distributions differ (a punctuation
    * ratio that is noise in English is normal in code; one crawl source
    * runs longer documents than another) — the CCNet/FineWeb-style
    * per-group percentile cut self-calibrates. Quota =
    * ceil(frac · group_size), so every non-empty group keeps at least one
    * row and boundary ties resolve deterministically by id.
    *
    * Scale shape: ONE exchange+sort on the group key — the group size is a
    * whole-partition count window riding the SAME exchange as the rank, so
    * the input subtree runs once (the aggregate-and-join-back alternative
    * re-executes the entire upstream plan for the size table: Spark does
    * not dedupe common subplans — measured on q_curate, it doubled the
    * scan AND the dedup shuffle). The data-dependent quota cannot be
    * WindowGroupLimit-pushed the way [[stratifiedQuota]]'s static `n` is —
    * the per-group sort is the honest price of an EXACT percentile
    * contract. When row-exact reproducibility of the boundary is not
    * required, [[topFracByGroupApprox]] (per-group quantile-sketch
    * thresholds, scan-side filter, no sort) is the 100 TB default.
    */
  def topFracByGroup(df: DataFrame, groupCol: String, idCol: String,
                     scoreCol: String, frac: Double): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"frac must be in (0,1], got $frac")
    val wRank = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol))
    val wAll = Window.partitionBy(col(groupCol))
    df.withColumn("__rk", row_number().over(wRank))
      .withColumn("__gn", count(lit(1)).over(wAll))
      .where(col("__rk") <= ceil(col("__gn").cast("double") * frac))
      .select(df.columns.map(col): _*)
  }

  /** The 100 TB variant of [[topFracByGroup]]: per-group score thresholds
    * from a mergeable quantile sketch (percentile_approx — Greenwald-Khanna,
    * constant size per group per task, combined map-side), broadcast back,
    * membership decided by a SCAN-SIDE comparison. No sort anywhere, no
    * big-side exchange beyond the sketch partials — the trade is the
    * boundary: rank error is bounded by group_size/accuracy rows, and rows
    * tied with the threshold value are all kept (a value threshold cannot
    * split a tie the way topFracByGroup's (score, id) rank does). Exact on
    * tie-free groups smaller than `accuracy` — pinned against the exact
    * operator in SamplingSpec.
    */
  def topFracByGroupApprox(df: DataFrame, groupCol: String, scoreCol: String,
                           frac: Double, accuracy: Int = 10000): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"frac must be in (0,1], got $frac")
    require(accuracy >= 1, s"accuracy must be >= 1, got $accuracy")
    val thr = df.groupBy(col(groupCol))
      .agg(percentile_approx(col(scoreCol), lit(1.0 - frac), lit(accuracy)).as("__thr"))
    df.join(broadcast(thr), Seq(groupCol))
      .where(col(scoreCol) >= col("__thr"))
      .select(df.columns.map(col): _*)
  }

  /** Source mixing to target token proportions — the corpus-assembly step
    * that downsamples over-represented sources so the mixture matches a
    * weight vector (the static-weights shape of DoReMi/RedPajama mixes).
    *
    * Exact integer contract: with per-source token totals tok_s, weighted
    * total T = Σ tok_s over weighted sources, weight sum W,
    *   target_s    = (w_s · T) div W
    *   threshold_s = min(M, (target_s · M) div tok_s)
    * and a doc survives iff hash(id, salt) mod M < threshold_s. Sources
    * under their target keep everything (threshold = M); sources with no
    * weight are dropped. Token targets are met in EXPECTATION (hash
    * sampling is doc-granular); for exact doc quotas use
    * [[stratifiedQuota]], for exact token budgets [[packBudget]].
    *
    * Plan at 100 TB: one per-source aggregate (|sources| rows), threshold
    * arithmetic as whole-table windows over that tiny table, broadcast
    * back, scan-side filter — the corpus pays one aggregate and one
    * filter, no sort, no repartition. Overflow discipline: the w·T and
    * target·M products run in DECIMAL(38,0) (they pass 2^63 near 10^13
    * total tokens — the target scale); `div` on decimals is exact
    * integral division returning BIGINT, and both final values fit Long
    * by construction (target ≤ T, thr ≤ M).
    */
  def mixByTokenBudget(df: DataFrame, idCol: String, tokCol: String,
                       srcCol: String, weights: Map[String, Long],
                       salt: String = ""): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ >= 0L) &&
      weights.values.sum > 0L, "weights must be non-negative, not all zero")
    val spark = df.sparkSession
    import spark.implicits._
    val wdf = weights.toSeq.toDF(srcCol, "__w")
    // NB: the analyzer is case-insensitive by default — accumulator names
    // must not differ from "__w"/"__tok" by case alone
    val perSrc = df.groupBy(col(srcCol)).agg(sum(col(tokCol)).as("__tok"))
      .join(broadcast(wdf), Seq(srcCol)) // inner: unweighted sources drop
      .where(col("__w") > 0)
    // corpus totals via a 1-row aggregate cross-joined back (NOT an
    // unpartitioned window: same |sources|-row arithmetic, none of the
    // single-partition WindowExec warnings)
    val totals = perSrc.agg(sum(col("__tok")).as("__tsum"), sum(col("__w")).as("__wsum"))
    val thr = perSrc.crossJoin(broadcast(totals))
      .withColumn("__target",
        expr("(CAST(__w AS DECIMAL(38,0)) * __tsum) div __wsum"))
      .withColumn("__thr", least(lit(M),
        expr(s"CASE WHEN __tok = 0 THEN 0L ELSE (CAST(__target AS DECIMAL(38,0)) * ${M}L) div __tok END")))
      .select(col(srcCol), col("__thr"))
    df.join(broadcast(thr), Seq(srcCol))
      .where(saltedPos(idCol, salt, M) < col("__thr"))
      .select(df.columns.map(col): _*)
  }

  /** Exact integer square root of a non-negative BIGINT column, valid on
    * the FULL Long range. Computed as floor(sqrt(double)) plus a ±1
    * correction: double sqrt is correctly rounded (≤ 0.5 ulp), so the true
    * isqrt is within one of the rounded value — the guards make the result
    * EXACT (the uncorrected floor misfires just below perfect squares).
    * Overflow discipline: isqrt(2^63−1) = 3037000499 and (3037000499+1)²
    * exceeds Long, so s0 is clamped to that ceiling and the +1 probe is
    * gated behind `s0 < ceiling` (Spark's And short-circuits in both
    * codegen and interpreted modes) — without the clamp, ANSI mode throws
    * on the probe for any x ≥ 3037000499², and non-ANSI wraps negative
    * and silently returns isqrt+1.
    */
  def isqrt(x: Column): Column = {
    val maxS = 3037000499L // floor(sqrt(2^63 - 1))
    val s0 = least(floor(sqrt(x.cast("double"))).cast("long"), lit(maxS))
    when(s0 * s0 > x, s0 - 1)
      .when(s0 < maxS && (s0 + 1) * (s0 + 1) <= x, s0 + 1)
      .otherwise(s0)
  }

  /** Temperature-scaled source mixing at α = 1/2: sample source s
    * proportionally to tok_s^α rather than tok_s — the standard
    * low-resource-upweighting mix of multilingual pretraining (XLM,
    * Conneau & Lample 2019 §3.1; mT5, Xue et al. 2021 use the same
    * p ∝ p^α family). Against [[mixByTokenBudget]]'s caller-supplied
    * static weights, the temperature mix DERIVES the weight vector from
    * the corpus itself: w_s = isqrt(tok_s), so a source 100× larger gets
    * only 10× the token share.
    *
    * All arithmetic is exact ([[isqrt]] + an integral threshold chain run
    * through DECIMAL(38,0) intermediates — `w·T` grows as T^1.5 and
    * `target·10^6` passes 2^63 near 10^13 total tokens, i.e. EXACTLY the
    * corpus scale this operator targets, so the products must not be
    * BIGINT; Spark's `div` on decimals is exact integral division
    * returning BIGINT, and both final values fit Long by construction).
    * Downsampling only — sources under their temperature target keep
    * everything (threshold caps at M). For fractional-epoch UPsampling of
    * small sources compose with [[mixEpochs]]. Plan: identical to
    * mixByTokenBudget — one |sources|-row aggregate, broadcast thresholds,
    * scan-side filter.
    */
  def mixTemperatureSqrt(df: DataFrame, idCol: String, tokCol: String,
                         srcCol: String, salt: String = ""): DataFrame = {
    val perSrc = df.groupBy(col(srcCol)).agg(sum(col(tokCol)).as("__tok"))
      .where(col("__tok") > 0)
      .withColumn("__w", isqrt(col("__tok")))
    val totals = perSrc.agg(sum(col("__tok")).as("__tsum"), sum(col("__w")).as("__wsum"))
    val thr = perSrc.crossJoin(broadcast(totals))
      .withColumn("__target",
        expr("(CAST(__w AS DECIMAL(38,0)) * __tsum) div __wsum"))
      .withColumn("__thr", least(lit(M),
        expr(s"(CAST(__target AS DECIMAL(38,0)) * ${M}L) div __tok")))
      .select(col(srcCol), col("__thr"))
    df.join(broadcast(thr), Seq(srcCol))
      .where(saltedPos(idCol, salt, M) < col("__thr"))
      .select(df.columns.map(col): _*)
  }

  /** Source mixing WITH upsampling — the full "epochs per source" contract
    * of corpus assembly (RedPajama/Llama-style mixes repeat small trusted
    * sources several times): each doc of source s appears
    *
    *   copies_s + [hash(id, salt) mod M < rem_s]   times, where
    *   copies_s = target_s div tok_s               (whole epochs)
    *   rem_s    = ((target_s mod tok_s) · M) div tok_s  (fractional epoch)
    *
    * and target_s = (w_s · T) div W exactly as [[mixByTokenBudget]] (which
    * is the copies ≤ 1 projection of this operator). Output rows carry an
    * `epoch` column (0-based copy index) so downstream shuffles/packing
    * can keep repeated copies distinguishable and spread.
    *
    * Plan: the same tiny broadcast threshold table; the repetition is a
    * scan-side `explode(sequence(...))` — each row expands to its own copy
    * count with no shuffle, no driver loop.
    */
  def mixEpochs(df: DataFrame, idCol: String, tokCol: String,
                srcCol: String, weights: Map[String, Long],
                salt: String = ""): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ >= 0L) &&
      weights.values.sum > 0L, "weights must be non-negative, not all zero")
    val spark = df.sparkSession
    import spark.implicits._
    val wdf = weights.toSeq.toDF(srcCol, "__w")
    val perSrc = df.groupBy(col(srcCol)).agg(sum(col(tokCol)).as("__tok"))
      .join(broadcast(wdf), Seq(srcCol))
      .where(col("__w") > 0 && col("__tok") > 0)
    // 1-row totals cross-joined back, as in mixByTokenBudget
    val totals = perSrc.agg(sum(col("__tok")).as("__tsum"), sum(col("__w")).as("__wsum"))
    val thr = perSrc.crossJoin(broadcast(totals))
      .withColumn("__target",
        expr("(CAST(__w AS DECIMAL(38,0)) * __tsum) div __wsum"))
      .withColumn("__copies", expr("__target div __tok"))
      .withColumn("__rem",
        expr(s"(CAST(__target % __tok AS DECIMAL(38,0)) * ${M}L) div __tok"))
      .select(col(srcCol), col("__copies"), col("__rem"))
    val h = saltedPos(idCol, salt, M)
    val n = (col("__copies") + when(h < col("__rem"), 1L).otherwise(0L)).cast("int")
    df.join(broadcast(thr), Seq(srcCol))
      .withColumn("__n", n)
      .where(col("__n") > 0)
      .select(df.columns.map(col) :+
        (explode(sequence(lit(0), col("__n") - 1))).as("epoch"): _*)
  }
}
