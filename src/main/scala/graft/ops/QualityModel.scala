package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based quality scoring — the two standard corpus-filter model
  * shapes, with bit-reproducible integer contracts:
  *
  *   - a hashed linear classifier (fastText-style: Joulin et al. 2017,
  *     feature hashing per Weinberger et al. 2009): token → feature id by
  *     hashing-trick, score = Σ w[fid], weights supplied as a TABLE — at
  *     corpus scale a learned weight vector arrives as data, is broadcast,
  *     and the scorer is a join, not a UDF closure;
  *   - a bigram language-model scorer (CCNet-shape: Wenzek et al. 2020 —
  *     score every document under an LM trained on a trusted reference
  *     subset, filter on the score). Probabilities are kept as integer
  *     rationals: floor(SCALE·(c2+1)/(c1+V)) per bigram (add-one
  *     smoothing), summed — no log, no float, so Spark and a SQL oracle
  *     agree bit-for-bit and partitioning cannot reorder a float sum.
  */
object QualityModel {

  /** SCALE for the integer LM probabilities: per-bigram scores are
    * floor(SCALE * p) with p ≤ 1, so 1e6 keeps per-doc sums far from
    * BIGINT range at any document length.
    */
  val LmScale: Long = 1000000L

  /** Hashed linear scorer. `weights` is a (fid: long, w: long) table with
    * fid in [0, dim); tokens hash into the same space; missing fids score 0
    * (an L1-pruned model does not ship zero rows).
    *
    * Plan at 100 TB: explode → map-side partial count on (id, fid) — the
    * hashing trick bounds the key space to `dim`, so the partial aggregate
    * absorbs token repetition before the exchange — then a broadcast-sized
    * join on fid (the model, ≤ dim rows) and one final aggregate on id.
    */
  def scoreHashed(df: DataFrame, idCol: String, textCol: String,
                  weights: DataFrame, dim: Int): DataFrame = {
    val id = col(idCol)
    val tf = df
      .select(id, explode(split(col(textCol), " ")).as("tok"))
      .select(id, pmod(TextDedup.portableHash(col("tok")), lit(dim.toLong)).as("fid"))
      .groupBy(id, col("fid")).agg(count(lit(1)).as("tf"))
    tf.join(broadcast(weights), Seq("fid"), "left")
      .groupBy(id)
      .agg(sum(col("tf") * coalesce(col("w"), lit(0L))).as("score"),
        sum(col("tf")).as("n_tokens"))
      .withColumn("keep", col("score") > 0)
  }

  /** Bigram LM trained on `ref` (the trusted subset), scoring `df`.
    * Emits per doc: lm_sum = Σ_bigrams floor(SCALE·(c2(w1,w2)+1)/(c1(w1)+V)),
    * n_bigrams, and lm_avg = lm_sum div n_bigrams (floor). Unseen bigrams
    * and unseen history words score through the same smoothed formula
    * (c2=0 and/or c1=0), so out-of-domain text scores low rather than
    * erroring — the filtering semantics CCNet wants.
    *
    * Plan at 100 TB: the model tables are aggregates of the REFERENCE
    * subset (small by construction); scoring is two equi-joins on the
    * bigram/unigram keys against the exploded corpus — shuffle-partitioned,
    * no driver-side model, AQE free to broadcast the model sides.
    */
  def lmScore(df: DataFrame, ref: DataFrame, idCol: String,
              textCol: String): DataFrame = {
    def bigrams(d: DataFrame): DataFrame = {
      val ts = split(col(textCol), " ")
      val n1 = greatest(size(ts) - 1, lit(0))
      // pair adjacent tokens BEFORE exploding: the exploded rows carry two
      // words, not the whole token array (which would be O(len²) per doc)
      val bg = zip_with(slice(ts, lit(1), n1), slice(ts, lit(2), n1),
        (a, b) => struct(a.as("w1"), b.as("w2")))
      d.select(col(idCol), explode(bg).as("b"))
        .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
    }
    val c1 = ref.select(explode(split(col(textCol), " ")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val c2 = bigrams(ref).groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val v = c1.count() // vocabulary size of the reference model
    bigrams(df)
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .select(col(idCol),
        expr(s"($LmScale * (coalesce(c2, 0L) + 1)) div (coalesce(c1, 0L) + $v)")
          .as("s"))
      .groupBy(idCol)
      .agg(sum(col("s")).as("lm_sum"), count(lit(1)).as("n_bigrams"))
      .withColumn("lm_avg", expr("lm_sum div n_bigrams"))
  }

  /** DSIR importance score (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): score raw documents by how much
    * their hashed-bigram distribution resembles a trusted TARGET subset
    * relative to the raw corpus, then sample by the score. Per hashed
    * bucket b the classic weight is log p_target(b)/p_raw(b); the
    * transcendental-free contract here (same policy as BM25/lmScore) keeps
    * the RATIO as an integer rational — per-occurrence score
    * floor(SCALE·(n_t[b]+1)/(n_r[b]+1)), add-one smoothed, summed per
    * document — which preserves the ranking DSIR samples from while
    * staying bit-reproducible across engines and partitionings.
    *
    * Plan at 100 TB: bucket counts are two ≤`buckets`-row aggregates (the
    * hashing trick bounds the key space, map-side combine absorbs
    * repetition); the per-document pass joins the exploded corpus against
    * the broadcast ratio table — ZERO corpus-sized shuffle besides the
    * final aggregate on id, and that one is also map-side-combinable.
    */
  def dsirScore(df: DataFrame, idCol: String, textCol: String,
                isTarget: Column, buckets: Int,
                scale: Long = LmScale): DataFrame = {
    val ts = split(col(textCol), " ")
    val n1 = greatest(size(ts) - 1, lit(0))
    val bg = zip_with(slice(ts, lit(1), n1), slice(ts, lit(2), n1),
      (a, b) => concat(a, lit(" "), b))
    val occ = df.select(col(idCol), isTarget.as("__t"), explode(bg).as("bg"))
      .withColumn("b", pmod(TextDedup.portableHash(col("bg")), lit(buckets.toLong)))
      .drop("bg")
    val counts = occ
      .groupBy("b")
      .agg(count(lit(1)).as("n_r"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("n_t"))
      .withColumn("ratio",
        expr(s"($scale * (n_t + 1)) div (n_r + 1)"))
      .select("b", "ratio")
    occ.join(broadcast(counts), Seq("b"))
      .groupBy(idCol)
      .agg(sum(col("ratio")).as("dsir_sum"), count(lit(1)).as("n_bigrams"))
      .withColumn("dsir_avg", expr("dsir_sum div n_bigrams"))
  }
}
