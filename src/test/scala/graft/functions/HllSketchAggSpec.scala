package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The custom TypedImperativeAggregate's contracts: its per-group register
  * vectors are bit-identical to the direct per-value definition (hash60,
  * bucket and rho, max per bucket); results are invariant under
  * repartitioning (merge = max commutes); nulls are ignored; the SQL
  * registration works; and the JVM-side 60-bit hash equals the Column-side
  * portableHash.
  */
class HllSketchAggSpec extends AnyFunSuite with BeforeAndAfterAll {

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
    ((0 until 700).map(i => ("a", s"tok-${i % 311}")) ++
      (0 until 300).map(i => ("b", s"b-${i % 71}")) ++
      (0 until 50).map(i => ("c", s"c-${i % 7}"))).toDF("k", "v")
  }

  test("hash60 equals the Column-side portableHash") {
    val s = spark; import s.implicits._
    val vals = Seq("", "a", "tok-1", "héhé", "日本語", "x" * 200)
    val viaColumn = vals.toDF("v")
      .select(col("v"), graft.ops.TextDedup.portableHash(col("v")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    vals.foreach { v =>
      assert(HllSketchAgg.hash60(UTF8String.fromString(v)) == viaColumn(v), v)
    }
  }

  /** Direct per-value definition: bucket = h mod m, rho = W − bitlen(h >>
    * log2 m) + 1 (W + 1 for a zero remainder), register = max rho.
    */
  private def directRegisters(values: Seq[String], m: Int): Seq[Long] = {
    val logm = Integer.numberOfTrailingZeros(m)
    val W = 60 - logm
    val regs = new Array[Long](m)
    values.foreach { v =>
      val h = HllSketchAgg.hash60(UTF8String.fromString(v))
      val w = h >>> logm
      val rho = if (w == 0L) W + 1L else W - java.lang.Long.toBinaryString(w).length + 1L
      val b = (h % m).toInt
      regs(b) = math.max(regs(b), rho)
    }
    regs.toSeq
  }

  test("per-group registers are bit-identical to the direct per-value definition") {
    val df = corpus
    val got = df.groupBy("k")
      .agg(graft.ops.CorpusSignals.hllSketchAgg(col("v"), m = 64).as("r"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    val values = df.collect().map(r => r.getString(0) -> r.getString(1)).toSeq
    for (k <- Seq("a", "b", "c")) {
      val exp = directRegisters(values.collect { case (`k`, v) => v }, m = 64)
      assert(got(k) == exp, k)
    }
  }

  test("bit-identical under repartitioning; null values are ignored") {
    val s = spark; import s.implicits._
    val base = corpus
    val a = base.groupBy("k")
      .agg(graft.ops.CorpusSignals.hllSketchAgg(col("v"), m = 32).as("r"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    val b = base.repartition(13).groupBy("k")
      .agg(graft.ops.CorpusSignals.hllSketchAgg(col("v"), m = 32).as("r"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(a == b)
    val withNulls = base.union(
      Seq(("a", null: String), ("c", null: String)).toDF("k", "v"))
    val c = withNulls.groupBy("k")
      .agg(graft.ops.CorpusSignals.hllSketchAgg(col("v"), m = 32).as("r"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(c == a, "nulls must not touch any register")
  }

  test("SQL registration: hll_sketch(v, m) aggregates through the registry") {
    val s = spark; import s.implicits._
    HllSketchAgg.register(spark)
    corpus.createOrReplaceTempView("hs_in")
    val viaSql = spark.sql(
        "SELECT k, hll_sketch(v, 64) AS r FROM hs_in GROUP BY k")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    val direct = corpus.groupBy("k")
      .agg(graft.ops.CorpusSignals.hllSketchAgg(col("v"), m = 64).as("r"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(viaSql == direct)
  }
}
