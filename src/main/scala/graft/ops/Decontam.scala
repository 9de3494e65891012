package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: find training documents that share word
  * n-grams with an evaluation/benchmark set — the n-gram-overlap
  * contamination check of Brown et al. 2020 (GPT-3, appendix C) and the
  * Llama line of work, conventionally run at n = 13.
  *
  * Shape at scale: the benchmark side is SMALL (eval suites are 10^4–10^6
  * documents — millions of grams, not trillions), so its distinct gram-hash
  * set is broadcast and the training corpus — the 100 TB side — is touched
  * by exactly one scan + one broadcast hash join + one aggregation on
  * train_id. No shuffle ever carries training grams; the only exchange is
  * the per-document hit aggregation, whose input is already filtered to
  * contaminated grams (a tiny fraction of the corpus).
  *
  * Grams come from [[TextDedup.gramHashes]]: the native
  * WordShinglesGenerator (zero-copy byte slices, per-document distinct),
  * keyed by [[TextDedup.portableHash]] as a top-level projection, so the
  * hash runs codegen'd in the fused Generate+Project stage.
  */
object Decontam {

  /** [[TextDedup.gramHashes]] of `df` as (`outId`, g). */
  private def grams(df: DataFrame, outId: String, idCol: String, textCol: String,
                    n: Int): DataFrame =
    TextDedup.gramHashes(df, idCol, textCol, n)
      .select(col("id").as(outId), col("s").as("g"))

  /** Per-train-document contamination report: every training doc sharing at
    * least one distinct word n-gram with any benchmark doc, with the number
    * of distinct grams hit, the number of benchmark docs involved, and the
    * smallest benchmark doc id (a stable exemplar for triage).
    *
    * Returns (train_id, n_grams_hit, n_bench_docs, first_bench_id).
    * Documents shorter than n tokens produce no grams and cannot be
    * flagged — by construction, matching the published procedure.
    */
  def contaminated(train: DataFrame, bench: DataFrame,
                   idCol: String, textCol: String, n: Int = 13): DataFrame = {
    require(n >= 1, "n must be >= 1")
    // (bench_id, g) is already distinct: the generator dedups per doc.
    val benchGrams = broadcast(grams(bench, "bench_id", idCol, textCol, n))
    grams(train, "train_id", idCol, textCol, n)
      .join(benchGrams, "g")
      .groupBy("train_id")
      .agg(
        countDistinct(col("g")).as("n_grams_hit"),
        countDistinct(col("bench_id")).as("n_bench_docs"),
        min(col("bench_id")).as("first_bench_id"))
  }

  /** Fractional-containment contamination (the Llama-2/3-era refinement of
    * the binary n-gram hit: an eval sample is contaminated when a large
    * FRACTION of its n-grams appear in a training doc, conventionally n≈8
    * at ≥80%): emit every (train_id, bench_id) pair where at least
    * `minPermille`/1000 of the BENCH doc's distinct n-grams occur in the
    * training doc. The threshold compares integers
    * (n_hit·1000 ≥ minPermille·n_bench_grams) — no float ratio, so the
    * verdict is bit-stable cross-engine.
    *
    * Same scale shape as [[contaminated]]: bench grams + per-bench-doc
    * gram counts broadcast; the training side is one scan + broadcast
    * join, and the pair aggregate's input is pre-filtered to SHARED grams
    * only (a tiny fraction of the corpus).
    */
  def containmentPairs(train: DataFrame, bench: DataFrame,
                       idCol: String, textCol: String, n: Int = 8,
                       minPermille: Long = 800): DataFrame = {
    require(n >= 1 && minPermille >= 1 && minPermille <= 1000)
    val bg = grams(bench, "bench_id", idCol, textCol, n)
    // grams are per-doc distinct by the generator, so count(*) = |gram set|
    val benchSide = bg.join(
      bg.groupBy("bench_id").agg(count(lit(1)).as("n_bench_grams")), "bench_id")
    grams(train, "train_id", idCol, textCol, n)
      .join(broadcast(benchSide), "g")
      .groupBy("train_id", "bench_id")
      .agg(count(lit(1)).as("n_hit"),
        first(col("n_bench_grams")).as("n_bench_grams"))
      .where(col("n_hit") * 1000 >= lit(minPermille) * col("n_bench_grams"))
  }

  /** Split-leakage audit, reported per BENCH/eval document: for every eval
    * doc sharing at least one distinct word n-gram with any training doc,
    * (bench_id, n_grams_hit, n_train_docs, first_train_id). This is
    * [[contaminated]] with the aggregation key flipped to the eval side —
    * the view a held-out-split audit wants ("which of MY eval docs leak
    * from train, and from where"), run after [[Sampling.hashSplit]] carves
    * the corpus.
    *
    * Scale shape is unchanged and critical: the EVAL side is the small one
    * and is what broadcasts (its grams twice over is still tiny); the
    * training corpus is one scan + broadcast join, and the bench_id
    * aggregate's input is pre-filtered to shared grams only.
    */
  def benchLeakage(train: DataFrame, bench: DataFrame,
                   idCol: String, textCol: String, n: Int = 13): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val benchGrams = broadcast(grams(bench, "bench_id", idCol, textCol, n))
    grams(train, "train_id", idCol, textCol, n)
      .join(benchGrams, "g")
      .groupBy("bench_id")
      .agg(
        countDistinct(col("g")).as("n_grams_hit"),
        countDistinct(col("train_id")).as("n_train_docs"),
        min(col("train_id")).as("first_train_id"))
  }
}
