package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Benchmark decontamination: known-overlap corpus, gram arithmetic, the
  * anti-join filter, and the broadcast plan shape the 100 TB story needs.
  */
class DecontamSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The filter most pipelines apply on top of the report: drop
    * contaminated training docs entirely (left-anti against it).
    */
  private def decontaminate(train: DataFrame, bench: DataFrame, idCol: String, textCol: String,
                            n: Int): DataFrame =
    train.join(Decontam.contaminated(train, bench, idCol, textCol, n)
      .select(col("train_id").as(idCol)), Seq(idCol), "left_anti")

  private def toks(prefix: String, from: Int, until: Int): String =
    (from until until).map(i => s"$prefix$i").mkString(" ")

  test("contaminated: overlap detection at n=13 with exact gram counts") {
    val s = spark; import s.implicits._
    // bench doc 100 = tokens b0..b19 (8 distinct 13-grams)
    val bench = Seq((100L, toks("b", 0, 20))).toDF("id", "text")
    val train = Seq(
      // shares exactly the grams covered by b3..b16: window of 14 tokens
      // inside bench -> 2 distinct shared 13-grams
      (1L, toks("b", 3, 17)),
      // disjoint vocabulary: clean
      (2L, toks("x", 0, 30)),
      // only 12 tokens of bench vocabulary: no 13-gram, clean
      (3L, toks("b", 0, 12))).toDF("id", "text")
    val out = Decontam.contaminated(train, bench, "id", "text", n = 13)
      .orderBy("train_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L))
    val r = out.head
    assert(r.getAs[Long]("n_grams_hit") == 2L)
    assert(r.getAs[Long]("n_bench_docs") == 1L)
    assert(r.getAs[Long]("first_bench_id") == 100L)
  }

  test("a bench doc present in train flags itself with all its grams") {
    val s = spark; import s.implicits._
    val doc = Seq((7L, toks("w", 0, 15))).toDF("id", "text") // 3 grams
    val r = Decontam.contaminated(doc, doc.withColumn("id", lit(70L)),
      "id", "text", n = 13).head()
    assert(r.getAs[Long]("n_grams_hit") == 3L)
    assert(r.getAs[Long]("first_bench_id") == 70L)
  }

  test("benchLeakage: per-eval-doc view, counts mirror contaminated, eval side broadcasts") {
    val s = spark; import s.implicits._
    val bench = Seq(
      (100L, toks("b", 0, 20)),   // leaks from train docs 1 (2 grams)
      (101L, toks("z", 0, 20))    // clean vocabulary
    ).toDF("id", "text")
    val train = Seq(
      (1L, toks("b", 3, 17)),     // 2 shared 13-grams with bench 100
      (2L, toks("b", 3, 17)),     // identical doc: same 2 grams, 2nd source
      (3L, toks("x", 0, 30))      // clean
    ).toDF("id", "text")
    val out = Decontam.benchLeakage(train, bench, "id", "text", n = 13)
      .orderBy("bench_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(100L))
    val r = out.head
    assert(r.getAs[Long]("n_grams_hit") == 2L)
    assert(r.getAs[Long]("n_train_docs") == 2L)
    assert(r.getAs[Long]("first_train_id") == 1L)
    val p = Decontam.benchLeakage(train, bench, "id", "text", n = 13)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"eval grams must broadcast:\n$p")
  }

  test("decontaminate drops exactly the flagged docs") {
    val s = spark; import s.implicits._
    val bench = Seq((100L, toks("b", 0, 20))).toDF("id", "text")
    val train = Seq(
      (1L, toks("b", 0, 13)), (2L, toks("y", 0, 40)), (3L, "short doc"))
      .toDF("id", "text")
    val kept = decontaminate(train, bench, "id", "text", n = 13)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 3L))
  }

  test("plan: bench grams broadcast — no shuffle ever carries training grams") {
    val s = spark; import s.implicits._
    val bench = Seq((100L, toks("b", 0, 20))).toDF("id", "text")
    val train = Seq((1L, toks("b", 3, 17))).toDF("id", "text")
    val df = Decontam.contaminated(train, bench, "id", "text", n = 13)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"gram join must broadcast the bench side:\n$p")
    assert(!p.contains("SortMergeJoin"), s"training grams must not sort-merge:\n$p")
  }

  test("containmentPairs: the 80% threshold is exact at the boundary") {
    val s = spark
    import s.implicits._
    // bench doc: tokens 1..11 -> ten distinct 2-grams ("1 2" .. "10 11").
    val bench = Seq((100L, (1 to 11).mkString(" "))).toDF("doc_id", "text")
    // train A contains tokens 1..9 = eight of the ten grams  -> 800/1000, flagged
    // train B contains tokens 1..8 = seven grams             -> 700/1000, not
    // train C shares nothing
    val train = Seq(
      (1L, (1 to 9).mkString(" ")),
      (2L, (1 to 8).mkString(" ")),
      (3L, "x y z w")).toDF("doc_id", "text")
    val got = Decontam.containmentPairs(train, bench, "doc_id", "text",
        n = 2, minPermille = 800)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 100L, 8L, 10L)),
      s"exactly the >=80% pair must surface, got ${got.toSeq}")
    // repeated grams in the TRAIN doc must not inflate the hit count
    // (generator emits per-doc distinct grams)
    val rep = Seq((7L, "1 2 1 2 1 2 1 2 1 2")).toDF("doc_id", "text")
    val g2 = Decontam.containmentPairs(rep, bench, "doc_id", "text",
      n = 2, minPermille = 100).collect()
    assert(g2.map(r => (r.getLong(0), r.getLong(2))).toSeq == Seq((7L, 1L)),
      "distinct grams of '1 2 1 2...' are {1 2, 2 1}; only '1 2' is shared, and " +
        "its nine occurrences must count once")
  }
}
