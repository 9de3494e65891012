package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * All scoring runs on QUANTIZED integer vectors (floor(x*scale + 0.5) as
  * BIGINT): dot products and norms become exact integer arithmetic, so
  * results are bit-reproducible across engines, partitionings, and cluster
  * sizes — no float-summation-order drift. At 100 TB that reproducibility is
  * what makes near-dup thresholds and top-k cutoffs stable between runs
  * (and lets DuckDB serve as an oracle). Cosine = dot/(sqrt(na)*sqrt(nb))
  * is computed once per pair from those exact integers.
  *
  * Scale paths:
  *   - brute-force top-k: broadcast the (small) query set against the full
  *     corpus — one pass, no shuffle of the big side;
  *   - LSH buckets: sign-random-projection signatures give an equi-joinable
  *     bucket key, turning ANN into a shuffle-friendly candidate join.
  */
object VectorSim {

  /** Quantize array<float> → array<bigint>, exact in any engine. */
  def quantize(emb: Column, scale: Int = 1000): Column =
    transform(emb, x => floor(x.cast("double") * scale + 0.5).cast("long"))

  /** Exact integer dot product of two quantized vectors — a codegen-native
    * custom Expression (graft.functions.DotLong): the HOF formulation
    * (aggregate over zip_with) is interpreted and allocates per evaluation,
    * which measured 148 s on a 2M-pair join; the generated loop is >30x
    * faster and keeps the projection inside WholeStageCodegen.
    */
  def dot(a: Column, b: Column): Column =
    GraftBridge.column(graft.functions.DotLong(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Cosine from quantized vectors (double, deterministic given exact ints).
    * Pairwise callers should precompute per-vector norms scan-side
    * ([[norm]]) instead — recomputing dot(v,v) per PAIR doubles the
    * hot-loop work for no information.
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b).cast("double") / (sqrt(dot(a, a).cast("double")) * sqrt(dot(b, b).cast("double")))

  /** sqrt(dot(v, v)) — computed once per vector before any pairwise join. */
  def norm(v: Column): Column = sqrt(dot(v, v).cast("double"))

  /** Cosine from a precomputed-norm pair: same double arithmetic as
    * [[cosine]] (sqrt per vector, multiply, divide) so results are
    * bit-identical — the norms are just not recomputed per pair.
    */
  def cosineWithNorms(dotAB: Column, normA: Column, normB: Column): Column =
    dotAB.cast("double") / (normA * normB)

  /** Brute-force cosine top-k: every corpus vector scored against every
    * query vector. `queries` should be small — it is broadcast, so the
    * corpus side never shuffles; ranking shuffles only (query_id, k) rows.
    * Ties broken by neighbor id for determinism.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 embCol: String, k: Int = 5, scale: Int = 1000): DataFrame = {
    val c = corpus.select(col(idCol).as("nbr_id"), quantize(col(embCol), scale).as("v"))
      .withColumn("nv", norm(col("v")))
    val q = queries.select(col(idCol).as("query_id"), quantize(col(embCol), scale).as("qv"))
      .withColumn("nq", norm(col("qv")))
    val scored = c.join(broadcast(q), col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        cosineWithNorms(dot(col("qv"), col("v")), col("nq"), col("nv")).as("score"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("nbr_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Deterministic "random" hyperplane weight for (plane j, dim i ∈ 1..dim):
    * Knuth-hash the index pair into a small signed integer. Data, not
    * runtime randomness — reproducible everywhere (the DuckDB oracle
    * recomputes the same arithmetic). The index-pair fold uses
    * max(dim, 64) as the row stride so (j, i) stays injective for any
    * dimension while dims ≤ 64 keep the original (oracle-mirrored)
    * j*64+i arithmetic.
    */
  def planeWeightValue(j: Int, i: Int, dim: Int = 64): Long =
    ((j.toLong * math.max(dim, 64) + i) * 2654435761L % 1000003L % 19L) - 9L

  /** Sign-random-projection LSH signature (`planes` bits) of a quantized
    * vector: bit j = [dot(plane_j, v) > 0]. The hyperplanes are
    * deterministic constants, so they are baked in as LITERAL arrays and
    * each plane's projection is one codegen-native [[dot]] — the previous
    * nested-HOF formulation re-ran an interpreted zip_with per plane.
    * `dim` MUST equal the vector length: the dot kernel rejects mismatched
    * lengths at runtime (fail-loud — a truncated projection would silently
    * degrade bucket recall instead).
    */
  def lshSignature(v: Column, planes: Int = 16, dim: Int = 64): Column =
    (0 until planes).map { j =>
      val w = (1 to dim).map(i => planeWeightValue(j, i, dim))
      when(dot(v, typedLit(w)) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Bucket the corpus by LSH signature: (bucket, n_vecs, min id). The
    * 100 TB path: signature is computed scan-side (no shuffle), bucketing is
    * one hash aggregation; queries then only probe their own bucket.
    * `dim` is the embedding dimension (checked at runtime by the dot kernel).
    */
  def lshBuckets(corpus: DataFrame, idCol: String, embCol: String,
                 planes: Int = 16, scale: Int = 1000, dim: Int = 64): DataFrame =
    corpus.select(col(idCol).as("id"),
        lshSignature(quantize(col(embCol), scale), planes, dim).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vecs"), min(col("id")).as("min_id"))

  /** ANN top-k via LSH: candidates share the query's bucket; exact cosine
    * rerank within bucket. Returns fewer than k when a bucket is small —
    * the standard recall/cost trade documented with the operator.
    * `dim` is the embedding dimension (checked at runtime by the dot kernel).
    */
  def annTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              embCol: String, k: Int = 5, planes: Int = 8,
              scale: Int = 1000, dim: Int = 64): DataFrame = {
    val c = corpus.select(col(idCol).as("nbr_id"), quantize(col(embCol), scale).as("v"))
      .withColumn("bucket", lshSignature(col("v"), planes, dim))
      .withColumn("nv", norm(col("v")))
    val q = queries.select(col(idCol).as("query_id"), quantize(col(embCol), scale).as("qv"))
      .withColumn("bucket", lshSignature(col("qv"), planes, dim))
      .withColumn("nq", norm(col("qv")))
    val cA = c.alias("c"); val qA = q.alias("q")
    val cand = cA.join(broadcast(qA),
        col("c.bucket") === col("q.bucket") && col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        cosineWithNorms(dot(col("qv"), col("v")), col("nq"), col("nv")).as("score"))
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("nbr_id"))
    cand.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** IVF coarse quantizer (`iters` k-means Lloyd rounds, fully
    * deterministic): seeds are the `c` corpus vectors with the smallest
    * ids; each round assigns every vector to its nearest centroid by
    * exact-integer cosine (ties → lower centroid id) and recomputes
    * centroids as element-wise means re-quantized floor(sum/count + 0.5) —
    * one exact double division per dimension, so both engines round
    * identically round after round. Returns (cid, cv: array<bigint>,
    * cn: double). A cluster that empties drops out and stays out
    * (standard Lloyd's on a fixed seed set).
    *
    * Plan shape: the n×c scoring is a broadcast of the c-row seed table
    * against the corpus scan (the same BroadcastNestedLoop-BuildRight shape
    * as [[cosineTopK]] — correct when one side is a handful of rows), the
    * mean is one hash aggregate over (cid, dim) — n·dim rows, map-side
    * partial — and the array rebuild touches c·dim rows. Nothing here
    * shuffles the corpus payload more than once.
    */
  def ivfCentroids(corpus: DataFrame, idCol: String, embCol: String,
                   c: Int = 8, scale: Int = 1000, iters: Int = 1): DataFrame = {
    require(iters >= 1, "at least one Lloyd step")
    val base = corpus.select(col(idCol).as("id"), quantize(col(embCol), scale).as("v"))
      .withColumn("nv", norm(col("v")))
    var cents = base.orderBy("id").limit(c)
      .select(col("id").as("cid"), col("v").as("cv"))
      .withColumn("cn", norm(col("cv")))
    var r = 0
    while (r < iters) {
      val assigned = assignNearest(base, cents)
      val sums = assigned.select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg(sum(col("x")).as("sm"), count(lit(1)).as("cnt"))
      cents = sums.groupBy("cid")
        .agg(array_sort(collect_list(struct(col("pos"),
          floor(col("sm").cast("double") / col("cnt") + 0.5).cast("long").as("m")))).as("pm"))
        .select(col("cid"), transform(col("pm"), x => x.getField("m")).as("cv"))
        .withColumn("cn", norm(col("cv")))
      // truncate lineage between rounds (the dedupClusters lesson) —
      // but leave the iters=1 path exactly as it always planned
      if (iters > 1) cents = Checkpointer.truncate(cents)
      r += 1
    }
    cents
  }

  /** Nearest centroid per vector: broadcast the centroid table, score by
    * the shared cosine arithmetic, keep the argmax (ties → lower cid, via
    * the (score, -cid) struct ordering). Formulated as max-of-struct
    * aggregation rather than a window rank: all c scored rows of one
    * vector sit consecutively in the scan partition, so the partial
    * (map-side) aggregate collapses them BEFORE the exchange — the shuffle
    * carries n rows, not n×c.
    */
  private def assignNearest(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .select(col("id"), struct(
        cosineWithNorms(dot(col("v"), col("cv")), col("nv"), col("cn")).as("s"),
        (-col("cid")).as("negCid"), col("cid").as("cid"),
        col("v").as("v"), col("nv").as("nv")).as("cand"))
      .groupBy("id").agg(max(col("cand")).as("b"))
      .select(col("id"), col("b.v").as("v"), col("b.nv").as("nv"), col("b.cid").as("cid"))

  /** ANN top-k via IVF (inverted-file): corpus vectors are listed under
    * their nearest centroid; each query probes its `nprobe` nearest
    * centroids and reranks those lists with the exact quantized cosine.
    * The candidate join is an EQUI-join on centroid id — at corpus scale
    * the inverted lists are the partitions and a query touches nprobe/c of
    * the data. Complements [[annTopK]] (SRP-LSH): IVF adapts its cells to
    * the data distribution where LSH cuts obliviously; both share the
    * exact rerank and the recall/cost trade. Returns fewer than k when the
    * probed cells hold fewer candidates.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              embCol: String, k: Int = 5, c: Int = 8, nprobe: Int = 2,
              scale: Int = 1000): DataFrame = {
    val cents = ivfCentroids(corpus, idCol, embCol, c, scale)
    val base = corpus.select(col(idCol).as("id"), quantize(col(embCol), scale).as("v"))
      .withColumn("nv", norm(col("v")))
    val lists = assignNearest(base, cents)
      .select(col("id").as("nbr_id"), col("v"), col("nv"), col("cid"))
    val q = queries.select(col(idCol).as("query_id"), quantize(col(embCol), scale).as("qv"))
      .withColumn("nq", norm(col("qv")))
    val wProbe = Window.partitionBy("query_id").orderBy(col("pscore").desc, col("cid"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("pscore", cosineWithNorms(dot(col("qv"), col("cv")), col("nq"), col("cn")))
      .withColumn("prank", row_number().over(wProbe)).where(col("prank") <= nprobe)
      .select(col("query_id"), col("qv"), col("nq"), col("cid"))
    val cand = lists.join(broadcast(probes),
        lists("cid") === probes("cid") && col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        cosineWithNorms(dot(col("qv"), col("v")), col("nq"), col("nv")).as("score"))
    // no dedup needed: each neighbor lives in exactly one inverted list,
    // so a (query, nbr) pair can meet through at most one probed cell
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("nbr_id"))
    cand.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** SemDeDup candidate edges: near-duplicate pairs restricted to vectors
    * sharing an IVF cell — the stage that makes semantic dedup sub-quadratic.
    * Returns (id_a, id_b) with id_a < id_b and exact quantized cosine ≥
    * `minCosine`, where both ids sit in the same cell of the deterministic
    * coarse quantizer ([[ivfCentroids]] + nearest-cell assignment).
    *
    * Plan shape: the only nested loop is the broadcast cross against the
    * ≤c-row centroid table (the coarse quantizer itself); the pair join is
    * a plain shuffled EQUI-join on the cell id, so comparisons are
    * Θ(Σ |cell|²) instead of Θ(n²) — the cells ARE the blocks, adapted to
    * the data distribution. A mega-cell is an ordinary hot shuffle key
    * (AQE skew-split applies); at corpus scale you raise c so cells stay
    * bounded, exactly as SemDeDup prescribes (k ∝ corpus size).
    */
  def semDedupEdges(corpus: DataFrame, idCol: String, embCol: String,
                    minCosine: Double, c: Int = 8, scale: Int = 1000): DataFrame =
    edgesWithinCells(semDedupCells(corpus, idCol, embCol, c, scale), minCosine)

  /** Cell assignment for [[semDedup]]: (id, v, nv, cid) via the
    * deterministic coarse quantizer.
    */
  private def semDedupCells(corpus: DataFrame, idCol: String, embCol: String,
                            c: Int, scale: Int): DataFrame = {
    val cents = ivfCentroids(corpus, idCol, embCol, c, scale)
    val base = corpus.select(col(idCol).as("id"), quantize(col(embCol), scale).as("v"))
      .withColumn("nv", norm(col("v")))
    assignNearest(base, cents)
  }

  private def edgesWithinCells(cells: DataFrame, minCosine: Double): DataFrame = {
    val a = cells.alias("a"); val b = cells.alias("b")
    a.join(b, col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosineWithNorms(dot(col("a.v"), col("b.v")), col("a.nv"), col("b.nv")).as("score"))
      .where(col("score") >= minCosine)
      .select(col("id_a"), col("id_b"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic deduplication
    * by clustering embeddings with the deterministic IVF coarse quantizer,
    * finding cosine near-duplicates ONLY within each cell
    * ([[semDedupEdges]]), and resolving the near-dup graph to connected
    * components with canonical-keep retention (min id per component — the
    * deterministic stand-in for the paper's "keep one random point per
    * group"). Returns one row per input vector:
    * (id, cid, rep, keep) — its cell, its component representative (itself
    * when it has no near-dup in its cell), and whether it survives the cut.
    *
    * The within-cell restriction is the published method's approximation:
    * a cross-cell near-dup pair is missed by design (raise c slower than
    * corpus growth, or probe adjacent cells, to trade recall for cost).
    * Component resolution reuses [[TextDedup.dedupClusters]] — the
    * pointer-jumping CC operator — so retention is consistent with the
    * text-dedup path's semantics.
    */
  def semDedup(corpus: DataFrame, idCol: String, embCol: String,
               minCosine: Double, c: Int = 8, scale: Int = 1000): DataFrame = {
    val cells = semDedupCells(corpus, idCol, embCol, c, scale)
    val edges = edgesWithinCells(cells, minCosine)
    val clusters = TextDedup.dedupClusters(edges) // (id, cluster) — only ids with edges
    cells.select(col("id"), col("cid"))
      .join(clusters, Seq("id"), "left")
      .select(col("id"), col("cid"),
        coalesce(col("cluster"), col("id")).as("rep"),
        (coalesce(col("cluster"), col("id")) === col("id")).as("keep"))
  }

  /** Embedding-cosine near-duplicate pairs above a threshold. Brute-force
    * O(n^2) formulation: the join has no equi key, so Catalyst plans a
    * BroadcastNestedLoopJoin — kept ONLY as the small-scale reference
    * formulation (it is the DuckDB oracle's shape). Production path:
    * [[nearDupPairsBlocked]]. Self-pairs excluded, a < b.
    */
  def nearDupPairs(corpus: DataFrame, idCol: String, embCol: String,
                   minCosine: Double, scale: Int = 1000): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), quantize(col(embCol), scale).as("v"))
      .withColumn("nrm", norm(col("v")))
    val a = c.alias("a"); val b = c.alias("b")
    a.join(b, col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosineWithNorms(dot(col("a.v"), col("b.v")), col("a.nrm"), col("b.nrm")).as("score"))
      .where(col("score") >= minCosine)
  }

  /** Deterministic model-free text embedding: feature hashing (Weinberger
    * et al., ICML 2009) + signed random projection — emb[j] = Σ_tokens
    * w(j, h(token) mod 2^20), with w the same Knuth-hash signed weight
    * family as [[planeWeightValue]]. All integer arithmetic (products stay
    * < 2^63 because the token feature is folded to 20 bits first — other
    * engines CHECK multiply overflow), so the vectors are bit-identical
    * everywhere and feed the whole ANN/SemDeDup stack directly: cosine is
    * scale-invariant, so the downstream ×1000 quantization is exact and
    * harmless. One (id) shuffle with map-side partial sums; at 100 TB this
    * is how you get a similarity signal BEFORE any model exists to embed
    * with. Returns (id, emb: array<bigint>).
    */
  def textEmbedding(df: DataFrame, idCol: String, textCol: String,
                    dim: Int = 16): DataFrame = {
    require(dim >= 1, "textEmbedding: dim must be positive")
    val toks = df.select(col(idCol).as("id"),
        explode(TextStats.toks(col(textCol))).as("tok"))
      .select(col("id"),
        pmod(TextDedup.portableHash(col("tok")), lit(1048576L)).as("hf"))
    val sums = (0 until dim).map { j =>
      sum(pmod((lit(j.toLong * 1048576L) + col("hf")) * lit(2654435761L),
        lit(1000003L)) % 19L - 9L).as(s"__e$j")
    }
    toks.groupBy("id").agg(sums.head, sums.tail: _*)
      .select(col("id"),
        array((0 until dim).map(j => col(s"__e$j")): _*).as("emb"))
  }

  // ------------------------------------------------------------------- PQ
  // Product quantization (Jégou, Douze, Schmid, TPAMI 2011): split each
  // vector into m contiguous subvectors, train an independent ksub-centroid
  // codebook per subspace, and represent a vector by its m code ids. A
  // query then scores the WHOLE corpus from an m×ksub lookup table of
  // subspace distances (ADC) — at 100 TB the corpus side carries m codes
  // per vector instead of the raw floats, and scoring is a broadcast-LUT
  // equi-join, never a per-pair dot product. All distances are exact
  // integer L2 over the quantized vectors (‖a−b‖² = a·a − 2a·b + b·b via
  // the codegen-native DotLong), so codebooks, codes, and ADC ranks are
  // bit-reproducible across engines and partitionings.

  /** (id, sub, sv, svv): the m contiguous dsub-dim subvectors of each
    * quantized vector, with the per-subvector self-dot precomputed
    * scan-side (every later distance needs it; once, not per candidate).
    */
  private[ops] def pqSubvectors(corpus: DataFrame, idCol: String, embCol: String,
                                m: Int, scale: Int, dim: Int): DataFrame = {
    val dsub = dim / m
    corpus.select(col(idCol).as("id"), quantize(col(embCol), scale).as("v"))
      .select(col("id"), explode(sequence(lit(0), lit(m - 1))).as("sub"), col("v"))
      .select(col("id"), col("sub").cast("long").as("sub"),
        slice(col("v"), col("sub") * dsub + 1, lit(dsub)).as("sv"))
      .withColumn("svv", dot(col("sv"), col("sv")))
  }

  /** Nearest codebook entry per (vector, subspace): broadcast the m×ksub
    * codebook, join on the subspace id, keep the argmin by exact integer
    * L2 (ties → lower cid) via the same min-of-struct shape as
    * [[assignNearest]] — the partial aggregate collapses the ksub scored
    * rows before the exchange, so the shuffle carries n·m rows, not
    * n·m·ksub.
    */
  private[ops] def pqAssign(svecs: DataFrame, books: DataFrame): DataFrame =
    svecs.join(broadcast(books), Seq("sub"))
      .select(col("id"), col("sub"), struct(
        (col("svv") - lit(2L) * dot(col("sv"), col("cv")) + col("cvv")).as("d"),
        col("cid").as("cid"), col("sv").as("sv"), col("svv").as("svv")).as("cand"))
      .groupBy("id", "sub").agg(min(col("cand")).as("b"))
      .select(col("id"), col("sub"), col("b.sv").as("sv"),
        col("b.svv").as("svv"), col("b.cid").as("cid"), col("b.d").as("d"))

  /** Train the PQ codebooks: `iters` deterministic Lloyd rounds per
    * subspace, run for ALL m subspaces in the same jobs (the subspace id is
    * just another grouping key — m independent k-means for the price of
    * one). Seeds are the subvectors of the ksub smallest ids; means
    * re-quantize floor(sum/count + 0.5) exactly like [[ivfCentroids]], so
    * both engines round identically. Returns (sub, cid, cv, cvv); a
    * codebook entry that attracts no vectors drops out and stays out.
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, embCol: String,
                  m: Int = 4, ksub: Int = 4, scale: Int = 1000,
                  iters: Int = 1, dim: Int = 64): DataFrame = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    require(iters >= 1, "at least one Lloyd step")
    val base = pqSubvectors(corpus, idCol, embCol, m, scale, dim)
    val seedIds = corpus.select(col(idCol).as("id")).orderBy("id").limit(ksub)
    var books = base.join(broadcast(seedIds), Seq("id"))
      .select(col("sub"), col("id").as("cid"), col("sv").as("cv"),
        col("svv").as("cvv"))
    var r = 0
    while (r < iters) {
      val assigned = pqAssign(base, books)
      val sums = assigned.select(col("sub"), col("cid"),
          posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("sub", "cid", "pos")
        .agg(sum(col("x")).as("sm"), count(lit(1)).as("cnt"))
      books = sums.groupBy("sub", "cid")
        .agg(array_sort(collect_list(struct(col("pos"),
          floor(col("sm").cast("double") / col("cnt") + 0.5).cast("long").as("m")))).as("pm"))
        .select(col("sub"), col("cid"),
          transform(col("pm"), x => x.getField("m")).as("cv"))
        .withColumn("cvv", dot(col("cv"), col("cv")))
      if (iters > 1) books = Checkpointer.truncate(books)
      r += 1
    }
    books
  }

  /** ANN top-k via PQ/ADC: train codebooks on the corpus, encode every
    * corpus vector to m codes, build each query's m×ksub subspace-distance
    * lookup table, and score candidates by the table sum — the asymmetric
    * distance ‖q − reconstruction(codes)‖², an exact BIGINT. Ranking is
    * ascending distance, ties → lower neighbor id.
    *
    * Plan shape: the LUT (|Q|·m·ksub rows) broadcasts into the encoded
    * corpus scan as a (sub, code) equi-join — each encoded row meets
    * exactly |Q| LUT rows — and the per-pair sum is a hash aggregate whose
    * map-side partial collapses the m rows of a pair before the exchange:
    * the shuffle carries n·|Q| rows and NO vector payloads. Complements
    * [[annTopK]] (oblivious cuts) and [[ivfTopK]] (data-adapted cells):
    * PQ compresses the corpus representation itself, the standard
    * memory/recall trade at billion-vector scale.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             embCol: String, k: Int = 5, m: Int = 4, ksub: Int = 4,
             scale: Int = 1000, iters: Int = 1, dim: Int = 64): DataFrame = {
    val books = pqCodebooks(corpus, idCol, embCol, m, ksub, scale, iters, dim)
    val enc = pqAssign(pqSubvectors(corpus, idCol, embCol, m, scale, dim), books)
      .select(col("id").as("nbr_id"), col("sub"), col("cid"))
    val lut = pqSubvectors(queries, idCol, embCol, m, scale, dim)
      .join(broadcast(books), Seq("sub"))
      .select(col("id").as("query_id"), col("sub"), col("cid"),
        (col("svv") - lit(2L) * dot(col("sv"), col("cv")) + col("cvv")).as("d"))
    val e = enc.alias("e"); val l = lut.alias("l")
    val cand = e.join(broadcast(l),
        col("e.sub") === col("l.sub") && col("e.cid") === col("l.cid") &&
          col("query_id") =!= col("nbr_id"))
      .groupBy("query_id", "nbr_id").agg(sum(col("d")).as("adist"))
    val w = Window.partitionBy("query_id").orderBy(col("adist").asc, col("nbr_id"))
    cand.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Exact near-dup pairs via a block-replicated theta join (the 1-Bucket
    * theta-join of Okcan & Riedewald, SIGMOD 2011): every vector lands in
    * block g = hash(id) % B; the left role replicates each vector to keys
    * (g, j) ∀j and the right role to keys (i, g) ∀i, so each unordered pair
    * meets at exactly one (block_a, block_b) key in exactly one id order.
    * The join is a plain equi-join on the key — shuffle-partitioned, skew-
    * free by construction ((n/B)² comparisons per key over B² keys), no
    * BroadcastNestedLoopJoin, no driver-side anything.
    *
    * Same output as [[nearDupPairs]], bit for bit. The pairwise work is
    * still Θ(n²/p) — inherent to an all-pairs threshold at low cosine
    * (measured on the test embeddings: qualifying pairs sit at cosine
    * ≈0.30–0.60, where SRP-LSH bit-agreement is ~0.6/plane, so no LSH
    * banding can guarantee exact recall). When approximate recall is
    * acceptable, [[annTopK]]/[[lshBuckets]] are the sub-quadratic path.
    */
  def nearDupPairsBlocked(corpus: DataFrame, idCol: String, embCol: String,
                          minCosine: Double, blocks: Int = 16,
                          scale: Int = 1000): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), quantize(col(embCol), scale).as("v"),
      pmod(xxhash64(col(idCol)), lit(blocks)).cast("int").as("g"))
      .withColumn("nrm", norm(col("v"))) // once per vector, NOT per pair
    val all = sequence(lit(0), lit(blocks - 1))
    val left = c.select(col("id"), col("v"), col("nrm"),
      col("g").as("ba"), explode(all).as("bb"))
    val right = c.select(col("id"), col("v"), col("nrm"),
      explode(all).as("ba"), col("g").as("bb"))
    val a = left.alias("a"); val b = right.alias("b")
    a.join(b,
        col("a.ba") === col("b.ba") && col("a.bb") === col("b.bb") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosineWithNorms(dot(col("a.v"), col("b.v")), col("a.nrm"), col("b.nrm")).as("score"))
      .where(col("score") >= minCosine)
  }
}
