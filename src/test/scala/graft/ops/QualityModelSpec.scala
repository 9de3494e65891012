package graft.ops

import graft.functions.HllSketchAgg
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Model-based quality scoring contracts: hashed-linear scoring arithmetic
  * (tf × table weight, missing feature = 0), bigram-LM smoothing semantics
  * on hand-computed counts, integer determinism across partitionings, and
  * the broadcast-model plan shape.
  */
class QualityModelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("scoreHashed: tf-weighted sum over the weight table, absent fid scores 0") {
    val s = spark
    import s.implicits._
    // each token is chosen by its portable hash mod 16, so the feature
    // ids are explicit: t3 -> 3, t5 -> 5, t7 -> 7
    def tokenAt(fid: Long): String = Iterator.from(0).map(k => s"t$k")
      .find(t => HllSketchAgg.hash60(UTF8String.fromString(t)) % 16 == fid).get
    val (t3, t5, t7) = (tokenAt(3), tokenAt(5), tokenAt(7))
    val df = Seq((1L, s"$t3 $t3 $t5"), (2L, t7)).toDF("doc_id", "text")
    val weights = Seq((3L, 10L), (5L, -100L)).toDF("fid", "w") // no 7
    val got = QualityModel.scoreHashed(df, "doc_id", "text", weights, dim = 16)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.toSeq == Seq(
      (1L, 2L * 10 - 100, 3L, false), // 2×w(3) + 1×w(5) = -80
      (2L, 0L, 1L, false)))           // unmodeled feature -> 0
  }

  test("scoreHashed plan: the model joins as a broadcast, tf pre-aggregates before it") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "a b a")).toDF("doc_id", "text")
    val weights = s.range(16).select(col("id").as("fid"), col("id").as("w"))
    val plan = QualityModel.scoreHashed(df, "doc_id", "text", weights, 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"model must broadcast:\n$plan")
  }

  test("lmScore: add-one-smoothed integer rationals on hand-computed counts") {
    val s = spark
    import s.implicits._
    val ref = Seq((10L, "a b a b")).toDF("doc_id", "text")
    // model: c1(a)=2, c1(b)=2, V=2; c2(a,b)=2, c2(b,a)=1
    val df = Seq((1L, "a b"), (2L, "b a"), (3L, "z a")).toDF("doc_id", "text")
    val sc = QualityModel.LmScale
    val got = QualityModel.lmScore(df, ref, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ab = (sc * 3) / 4 // (c2+1)/(c1(a)+V) = 3/4
    val ba = (sc * 2) / 4 // 2/4
    val za = (sc * 1) / 2 // unseen history: (0+1)/(0+V)
    assert(got.toSeq == Seq(
      (1L, ab, 1L, ab),
      (2L, ba, 1L, ba),
      (3L, za, 1L, za)))
  }

  test("lmScore: single-token docs have no bigrams and drop out; determinism across partitionings") {
    val s = spark
    import s.implicits._
    val ref = Seq((10L, "a b c a b")).toDF("doc_id", "text")
    val df = Seq((1L, "solo"), (2L, "a b c")).toDF("doc_id", "text")
    val out = QualityModel.lmScore(df, ref, "doc_id", "text").collect()
    assert(out.map(_.getLong(0)).toSet == Set(2L))
    val a = QualityModel.lmScore(df, ref, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = QualityModel.lmScore(df.repartition(7), ref.repartition(3),
      "doc_id", "text").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("dsirScore: hand-computed hashed-bigram importance ratios") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "x y x y", true),   // target doc: bigrams xy, yx, xy
      (2L, "x y z z", false)). // raw-only: xy, yz, zz
      toDF("doc_id", "text", "is_t")
    val got = QualityModel.dsirScore(df, "doc_id", "text",
        isTarget = col("is_t"), buckets = 1024, scale = 1000L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // counts: xy n_r=3 n_t=2 -> ratio 1000*3//4 = 750
    //         yx n_r=1 n_t=1 -> 1000*2//2 = 1000
    //         yz n_r=1 n_t=0 -> 1000*1//2 = 500
    //         zz n_r=1 n_t=0 -> 500
    // (md5 collisions into 1024 buckets for 4 distinct bigrams: none —
    // verified by the assertion itself, a collision would change a ratio)
    assert(got(1L) == (750L + 1000L + 750L, 3L)) // doc1: xy yx xy
    assert(got(2L) == (750L + 500L + 500L, 3L))  // doc2: xy yz zz
  }

  test("dsirScore: target docs outrank raw docs; broadcast ratio table in plan") {
    val s = spark
    import s.implicits._
    val target = (0L until 30L).map(i => (i, "alpha beta gamma delta", true))
    val raw = (100L until 130L).map(i => (i, s"noise$i junk$i other$i more$i", false))
    val df = (target ++ raw).toDF("doc_id", "text", "is_t")
    val scored = QualityModel.dsirScore(df, "doc_id", "text", col("is_t"), 4096)
    val plan = scored.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "ratio table must broadcast")
    val rows = scored.collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    val minT = target.map(t => rows(t._1)).min
    val maxR = raw.map(t => rows(t._1)).max
    assert(minT > maxR, s"target avg $minT must exceed raw avg $maxR")
  }
}
