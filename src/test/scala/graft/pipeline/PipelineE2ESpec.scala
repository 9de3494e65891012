package graft.pipeline

import graft.fixtures.{CorpusIO, PagesGen}
import graft.pdf.Pdf
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** End-to-end on local[4]: synthesize the pages table → run the snapshot
  * pipeline → per-url extracted_json must equal the reference golden bytes.
  * Plus kill-midway + resume: the second run skips committed buckets and
  * completes to identical results.
  */
class PipelineE2ESpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val work = Files.createTempDirectory("graft_e2e").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-e2e")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val goldenDir = Seq("src/test/resources/golden", "/root/repo/src/test/resources/golden")
    .find(p => Files.exists(Paths.get(p))).get

  private def golden(url: String): String = new String(
    Files.readAllBytes(Paths.get(goldenDir, CorpusIO.docId(url) + ".json")),
    StandardCharsets.UTF_8)

  test("pipeline output matches goldens byte-identically for both modes") {
    val pagesPath = s"$work/pages"
    val docs = CorpusIO.load()
    val n = PagesGen.write(spark, pagesPath, replicate = 1, buckets = 4)
    assert(n == docs.length)
    Seq("construction", "standard").foreach { mode =>
      val outRoot = s"$work/out_$mode"
      Extract.run(spark, pagesPath, outRoot,
        Extract.Config(mode = mode, buckets = 4, parallelism = 4, ocrEngine = "fake"))
      val rows = Extract.readSnapshot(spark, outRoot)
        .select("url", "extracted_json", "error")
        .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
      assert(rows.size == docs.length, s"expected ${docs.length} outputs, got ${rows.size}")
      val subset = docs.filter(_.mode == mode)
      assert(subset.nonEmpty)
      subset.foreach { d =>
        val (json, err) = rows(d.url)
        assert(err == null, s"${d.url}: $err")
        assert(json == golden(d.url), s"${d.url} [$mode/${d.payload}] pipeline output != golden")
      }
    }
  }

  test("extracted_text is identical across parallelism levels") {
    val pagesPath = s"$work/pages"
    val out1 = s"$work/par1"
    val out8 = s"$work/par8"
    Extract.run(spark, pagesPath, out1, Extract.Config(buckets = 2, parallelism = 1))
    Extract.run(spark, pagesPath, out8, Extract.Config(buckets = 2, parallelism = 8, salt = 3))
    val a = Extract.readSnapshot(spark, out1).select("url", "extracted_text")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val b = Extract.readSnapshot(spark, out8).select("url", "extracted_text")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(a == b)
  }

  test("salted key decorrelates from the bucket hash: one bucket fans out to all partitions") {
    // round-1 regression: partitioning bucket b's rows by pmod(xxhash64(url), p)
    // leaves only p/B distinct key values inside the bucket (bucket =
    // xxhash64(url) % B), collapsing the parse stage onto a fraction of its
    // tasks. The salted key must spread ONE bucket's rows over ~all of p
    // partitions even with the corpus's embedded host skew.
    import org.apache.spark.sql.functions._
    val pagesPath = s"$work/pages_salt"
    PagesGen.write(spark, pagesPath, replicate = 8, buckets = 4)
    val oneBucket = spark.read.parquet(pagesPath).where(col("bucket") === 1)
    val p = 16
    val counts = oneBucket.repartition(p, Extract.saltedKey(0))
      .groupBy(spark_partition_id()).count()
      .collect().map(_.getLong(1))
    val rows = counts.sum
    assert(rows > 0)
    assert(counts.length >= p - 2, s"only ${counts.length} of $p partitions populated")
    assert(counts.max <= 3 * rows / p,
      s"skewed partitioning: max=${counts.max} rows of $rows over $p partitions")
    // the anti-pattern key really would collapse (sanity that the test can fail)
    val collapsed = oneBucket.repartition(p, pmod(xxhash64(col("url")), lit(4)))
      .groupBy(spark_partition_id()).count().count()
    assert(collapsed <= 4)
  }

  test("kill-midway then resume: committed buckets are skipped, results complete") {
    val pagesPath = s"$work/pages"
    val outRoot = s"$work/resume"
    // first run dies after 2 of 4 buckets
    val boom = intercept[RuntimeException] {
      Extract.run(spark, pagesPath, outRoot,
        Extract.Config(buckets = 4, parallelism = 4, poisonAfterBuckets = 2,
          ocrEngine = "fake"))
    }
    assert(boom.getMessage.contains("poison"))
    val table = new graft.table.SnapshotTable(outRoot)
    val mid = table.currentManifest.get
    assert(mid.completedBuckets.length == 2)

    // resume: completes remaining buckets without reprocessing the first two
    val res = Extract.run(spark, pagesPath, outRoot, Extract.Config(buckets = 4, parallelism = 4, ocrEngine = "fake"))
    val fin = table.currentManifest.get
    assert(fin.completedBuckets.sorted == Vector(0, 1, 2, 3))
    assert(fin.version == mid.version + 2, "resume must add exactly 2 snapshot versions")
    // outputs complete and correct
    val docs = CorpusIO.load()
    assert(res.metrics.map(_.docs).sum == docs.length)
    val rows = Extract.readSnapshot(spark, outRoot).select("url", "extracted_json")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows.size == docs.length)
    docs.filter(_.mode == "construction").take(10).foreach { d =>
      assert(rows(d.url) == golden(d.url))
    }
  }

  test("manifest metrics equal a recount of the committed files") {
    import org.apache.spark.sql.functions._
    val pagesPath = s"$work/pages_planted"
    val buckets = 2
    PagesGen.write(spark, pagesPath, replicate = 1, buckets = buckets)
    // plant one document for each counter the corpus may not exercise
    val line = Seq((72.0, 700.0, "Quarterly revenue grew in every region during the third quarter."))
    val flate = Pdf.writePages(Seq(Pdf.PageSpec(line)), flate = true)
    val planted = Seq(
      "encrypted" -> Pdf.writePages(Seq(Pdf.PageSpec(line)), flate = true,
        encrypt = Some(Pdf.EncryptSpec(userPwd = "secret"))),
      "truncated" -> flate.take(flate.length / 3),
      "one-word" -> Pdf.writePages(Seq(Pdf.PageSpec(Seq((72.0, 700.0, "Hello")))), flate = false)
    ).map { case (name, pdf) =>
      PagesGen.PageRowOut(s"https://planted.example/$name.pdf",
        new java.sql.Timestamp(0L), pdf, null, "en")
    }
    spark.createDataFrame(planted)
      .withColumn("bucket", pmod(xxhash64(col("url")), lit(buckets)).cast("int"))
      .write.mode("append").partitionBy("bucket").parquet(pagesPath)

    val outRoot = s"$work/recount"
    Extract.run(spark, pagesPath, outRoot, Extract.Config(buckets = buckets, parallelism = 4))
    val snap = Extract.readSnapshot(spark, outRoot)
    val fate = snap.where(col("url").startsWith("https://planted.example/"))
      .select("url", "error", "needs_ocr").collect()
      .map(r => r.getString(0).stripPrefix("https://planted.example/") ->
        (Option(r.getString(1)).getOrElse(""), r.getBoolean(2))).toMap
    assert(fate("encrypted.pdf")._1.startsWith("pdf-encrypted"), fate)
    assert(fate("truncated.pdf")._1.startsWith("pdf-parse"), fate)
    assert(fate("one-word.pdf") == ("" -> true), fate)
    val isPdfErr = col("payload_kind") === "pdf" && col("error").isNotNull
    val encrypted = coalesce(col("error").startsWith("pdf-encrypted"), lit(false))
    val recount = snap.groupBy("bucket").agg(
      count(lit(1)), sum(col("bytes_in")), sum(col("chars_out")),
      sum(col("error").isNotNull.cast("long")), sum(col("needs_ocr").cast("long")),
      sum((isPdfErr && !encrypted).cast("long")), sum((isPdfErr && encrypted).cast("long")))
      .collect().map(r => r.getInt(0) -> (1 to 7).map(r.getLong).toVector).toMap
    val recorded = new graft.table.SnapshotTable(outRoot).currentManifest.get.metrics
    assert(recorded.map(_.bucket).sorted == (0 until buckets))
    recorded.foreach { m =>
      val fields = Vector(m.docs, m.bytesIn, m.charsOut, m.errors, m.needsOcr,
        m.pdfFallback, m.pdfEncrypted)
      assert(fields == recount(m.bucket), s"bucket ${m.bucket}")
    }
    assert(recorded.map(_.pdfEncrypted).sum >= 1)
    assert(recorded.map(_.pdfFallback).sum >= 1)
    assert(recorded.map(_.needsOcr).sum >= 1)
  }
}
