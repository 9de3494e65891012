package graft.pipeline

import graft.fixtures.{CorpusIO, PagesGen, PayloadGen}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The extraction operator `Extract.extract`: row-equal to `parseRow`
  * with every config seam carried through, and column-pruning /
  * filter-pushing the scan beneath the parse.
  */
class ExtractSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var work: String = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    work = java.nio.file.Files.createTempDirectory("extract_spec").toString
    PagesGen.write(spark, s"$work/pages", replicate = 1, buckets = 2)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("extract equals parseRow row for row, OCR and LLM seams on") {
    val pages = spark.read.parquet(s"$work/pages")
    val cfg = Extract.Config(ocrEngine = "fake", secondSource = "fake")
    val got = Extract.extract(pages, cfg).collect().map(r => r.url -> r).toMap
    val docs = CorpusIO.load()
    assert(got.size == docs.length)
    docs.foreach { d =>
      val (_, _, html, text, _) = PayloadGen.row(d)
      val want = Extract.parseRow(d.url, html, text, 0, "construction",
        llm = Some(graft.core.FakeLlmParser), ocr = Some(FakeOcrEngine))
      assert(got(d.url) == want, d.url)
    }
    assert(got.values.exists(_.ocr_pages > 0), "the OCR seam never fired")
  }

  test("extract column-prunes the parquet scan to url/html/text") {
    val pages = spark.read.parquet(s"$work/pages") // carries warc_ts, lang, bucket too
    val df = Extract.extract(pages, Extract.Config(mode = "standard")).select("url", "chars_out")
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val readSchema = formatted.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("url") && readSchema.contains("html") && readSchema.contains("text"),
      readSchema)
    assert(!readSchema.contains("warc_ts") && !readSchema.contains("lang"), readSchema)
  }

  test("filters on input columns stay below the parse (pushdown unaffected)") {
    val pages = spark.read.parquet(s"$work/pages").where(col("url").startsWith("https://host-1"))
    val df = Extract.extract(pages, Extract.Config(mode = "standard"))
    val n = df.count()
    val expected = CorpusIO.load().count(_.url.startsWith("https://host-1"))
    assert(n == expected)
    val formatted = df.queryExecution.executedPlan.toString
    assert(formatted.contains("PushedFilters: [IsNotNull(url), StringStartsWith(url,https://host-1"),
      formatted.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }
}
