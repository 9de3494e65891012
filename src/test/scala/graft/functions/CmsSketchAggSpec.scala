package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The CMS aggregate's contracts: per-group counter arrays are bit-identical
  * to the direct per-value definition (hash60 of v and of "~ " + v, row
  * buckets (h1 + i·h2) mod width, row-major sums); results are invariant
  * under repartitioning (merge = + commutes); nulls are ignored; SQL
  * registration works.
  */
class CmsSketchAggSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def corpus = {
    val s = spark; import s.implicits._
    ((0 until 600).map(i => ("a", s"tok-${i % 97}")) ++
      (0 until 250).map(i => ("b", s"hot")) ++ // one saturated counter
      (0 until 80).map(i => ("c", s"c-${i % 11}"))).toDF("k", "v")
  }

  /** Direct per-value definition: h1 = hash60(v), h2 = hash60("~ " + v),
    * counter[i·width + (h1 + i·h2) mod width] += 1 for each row i.
    */
  private def directCounters(values: Seq[String], depth: Int, width: Int): Seq[Long] = {
    val regs = new Array[Long](depth * width)
    values.foreach { v =>
      val h1 = HllSketchAgg.hash60(UTF8String.fromString(v))
      val h2 = HllSketchAgg.hash60(UTF8String.fromString("~ " + v))
      for (i <- 0 until depth) regs(i * width + ((h1 + i * h2) % width).toInt) += 1L
    }
    regs.toSeq
  }

  test("per-group counters are bit-identical to the direct per-value definition") {
    val df = corpus
    val got = df.groupBy("k")
      .agg(graft.ops.CorpusSignals.cmsSketchAgg(col("v"), depth = 4, width = 32).as("r"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    val values = df.collect().map(r => r.getString(0) -> r.getString(1)).toSeq
    for (k <- Seq("a", "b", "c")) {
      val exp = directCounters(values.collect { case (`k`, v) => v }, depth = 4, width = 32)
      assert(got(k) == exp, k)
    }
    // every row of every group's table carries the group's full mass
    assert(got("b").grouped(32).forall(_.sum == 250L))
  }

  test("bit-identical under repartitioning; nulls ignored; SQL registration") {
    val s = spark; import s.implicits._
    val base = corpus
    val a = base.groupBy("k")
      .agg(graft.ops.CorpusSignals.cmsSketchAgg(col("v"), 4, 16).as("r"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    val b = base.repartition(11).groupBy("k")
      .agg(graft.ops.CorpusSignals.cmsSketchAgg(col("v"), 4, 16).as("r"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(a == b)
    val withNulls = base.union(Seq(("a", null: String)).toDF("k", "v"))
      .groupBy("k")
      .agg(graft.ops.CorpusSignals.cmsSketchAgg(col("v"), 4, 16).as("r"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(withNulls == a, "nulls must not touch any counter")
    CmsSketchAgg.register(spark)
    base.createOrReplaceTempView("cs_in")
    val viaSql = spark.sql("SELECT k, cms_sketch(v, 4, 16) FROM cs_in GROUP BY k")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(viaSql == a)
  }
}
