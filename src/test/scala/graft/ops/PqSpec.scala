package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Product-quantization contracts: codebooks/codes/ADC ranks equal a
  * brute-force reimplementation of the exact integer arithmetic; the ADC
  * distance IS the L2 distance to the reconstructed vector (the identity
  * that makes the LUT sum an asymmetric distance, not a heuristic);
  * planted exact duplicates rank first at distance = quantization error 0;
  * and the physical plan stays broadcast/equi-join only.
  */
class PqSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit =
    if (spark != null) { TextDedup.releaseCaches(); spark.stop() }

  // --- the operator's exact arithmetic, reimplemented directly -------------
  /** PQ-encode the corpus against a trained codebook: (id, codes) where
    * codes[sub] is the nearest entry's cid in that subspace.
    */
  private def pqEncode(corpus: DataFrame, idCol: String, embCol: String, books: DataFrame,
                       m: Int, dim: Int): DataFrame =
    VectorSim.pqAssign(VectorSim.pqSubvectors(corpus, idCol, embCol, m, 1000, dim), books)
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("sub"), col("cid")))).as("sc"))
      .select(col("id"), transform(col("sc"), x => x.getField("cid")).as("codes"))

  private def quant(v: Seq[Float]): Array[Long] =
    v.map(x => math.floor(x.toDouble * 1000 + 0.5).toLong).toArray

  private def l2(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Per-subspace Lloyd rounds with the operator's exact rules: lowest-id
    * seeds, argmin by (L2, cid), floor(sum/cnt + 0.5) means, empty entries
    * drop out. Returns codebooks keyed (sub, cid).
    */
  private def trainRef(vecs: Seq[(Long, Array[Long])], m: Int, ksub: Int,
                       iters: Int): Map[(Long, Long), Array[Long]] = {
    val dsub = vecs.head._2.length / m
    val sv = vecs.flatMap { case (id, v) =>
      (0 until m).map(s => (id, s.toLong) -> v.slice(s * dsub, (s + 1) * dsub))
    }.toMap
    val seedIds = vecs.map(_._1).sorted.take(ksub)
    var books: Map[(Long, Long), Array[Long]] =
      (for (s <- 0L until m.toLong; cid <- seedIds) yield (s, cid) -> sv((cid, s))).toMap
    for (_ <- 0 until iters) {
      val assigned = sv.keys.toSeq.map { case (id, s) =>
        val cid = books.keys.filter(_._1 == s).toSeq
          .map { case k @ (_, c) => (l2(sv((id, s)), books(k)), c) }.min._2
        (id, s, cid)
      }
      books = assigned.groupBy { case (_, s, cid) => (s, cid) }.map {
        case ((s, cid), members) =>
          val vs = members.map { case (id, sub, _) => sv((id, sub)) }
          (s, cid) -> Array.tabulate(dsub) { p =>
            math.floor(vs.map(_(p)).sum.toDouble / vs.size + 0.5).toLong
          }
      }
    }
    books
  }

  private def encodeRef(vecs: Seq[(Long, Array[Long])], m: Int,
                        books: Map[(Long, Long), Array[Long]]): Map[Long, Seq[Long]] = {
    val dsub = vecs.head._2.length / m
    vecs.map { case (id, v) =>
      id -> (0 until m).map { s =>
        books.keys.filter(_._1 == s).toSeq
          .map { case k @ (_, c) => (l2(v.slice(s * dsub, (s + 1) * dsub), books(k)), c) }
          .min._2
      }
    }.toMap
  }

  /** Corpus: 8-dim vectors around 3 prototypes plus exact duplicates. */
  private def vectors: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(31)
    val protos = Seq.fill(3)(Array.fill(8)(rnd.nextFloat() * 2 - 1))
    val base = (0L until 40L).map { i =>
      val p = protos((i % 3).toInt)
      i -> p.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f).toSeq
    }
    base ++ Seq(40L -> base(5)._2, 41L -> base(6)._2) // planted exact dups
  }

  test("pqCodebooks and pqEncode equal the brute-force reference") {
    val s = spark; import s.implicits._
    val df = vectors.toDF("vec_id", "embedding")
    val q = vectors.map { case (id, v) => id -> quant(v) }
    val expBooks = trainRef(q, m = 2, ksub = 3, iters = 2)
    val gotBooks = VectorSim.pqCodebooks(df, "vec_id", "embedding",
        m = 2, ksub = 3, iters = 2, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Long](2).toArray)
      .toMap
    assert(gotBooks.keySet == expBooks.keySet)
    gotBooks.foreach { case (k, cv) => assert(cv.sameElements(expBooks(k)), k) }

    val expCodes = encodeRef(q, m = 2, books = expBooks)
    val gotCodes = pqEncode(df, "vec_id", "embedding",
        VectorSim.pqCodebooks(df, "vec_id", "embedding", m = 2, ksub = 3, iters = 2, dim = 8),
        m = 2, dim = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(gotCodes == expCodes)
    assert(gotCodes.values.forall(_.length == 2), "m codes per vector")
  }

  test("ADC distance = L2 to the reconstruction; dup of a query ranks first") {
    val s = spark; import s.implicits._
    val df = vectors.toDF("vec_id", "embedding")
    val q = vectors.map { case (id, v) => id -> quant(v) }.toMap
    val books = trainRef(q.toSeq.sortBy(_._1), m = 2, ksub = 3, iters = 1)
    val codes = encodeRef(q.toSeq.sortBy(_._1), m = 2, books = books)
    def recon(id: Long): Array[Long] =
      codes(id).zipWithIndex.flatMap { case (c, s) => books((s.toLong, c)) }.toArray

    val got = VectorSim.pqTopK(df, df.where(col("vec_id") === 5L || col("vec_id") === 6L),
        "vec_id", "embedding", k = 3, m = 2, ksub = 3, iters = 1, dim = 8)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> ((r.getLong(1), r.getLong(2))))
      .toMap

    // reference ranking: ADC(q, n) = l2(quant(q), recon(n)), ties by nbr id
    for (qid <- Seq(5L, 6L)) {
      val exp = q.keys.filter(_ != qid).toSeq
        .map(n => (l2(q(qid), recon(n)), n)).sorted.take(3)
      exp.zipWithIndex.foreach { case ((d, n), i) =>
        assert(got((qid, i + 1)) == ((n, d)), s"query $qid rank ${i + 1}")
      }
    }
    // the planted exact duplicate shares every code with its source, so its
    // ADC distance is exactly the query's own quantization residue — which
    // is also the distance to the source itself; min-id tie-break puts the
    // ORIGINAL's twin first among equals
    val (n1, _) = got((5L, 1))
    assert(n1 == 40L || l2(q(5L), recon(n1)) <= l2(q(5L), recon(40L)))
  }

  test("pqTopK plan: broadcast/equi joins only, no BNLJ, no cartesian") {
    val s = spark; import s.implicits._
    val df = vectors.toDF("vec_id", "embedding")
    val plan = VectorSim.pqTopK(df, df.where(col("vec_id") < 2), "vec_id",
        "embedding", k = 3, m = 2, ksub = 3, iters = 1, dim = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop"), "ADC must not plan a BNLJ")
    assert(!plan.contains("CartesianProduct"), "ADC must not plan a cartesian")
    assert(plan.contains("BroadcastHashJoin"), "LUT/codebook joins broadcast")
  }
}
