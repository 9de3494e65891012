package graft.pipeline

import graft.core.Assemble
import graft.json.Canonical
import graft.table.{BucketMetrics, Manifest, SnapshotTable}

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One output row per url — extracted text + spans + canonical JSON +
  * lineage/metrics columns.
  */
final case class SpanRow(start: Long, end: Long, kind: String)
final case class DocRow(
    url: String,
    bucket: Int,
    payload_kind: String,
    n_pages: Int,
    extracted_text: String,
    extracted_json: String,
    spans: Seq[SpanRow],
    bytes_in: Long,
    chars_out: Long,
    needs_ocr: Boolean,
    ocr_pages: Int, // pages whose text came through the OCR seam (0 = none)
    error: String   // null when clean
)

/** The Dataset pipeline (SURVEY.md §3 Spark lifecycle):
  * pruned scan of one bucket partition → payload-valid filter → salted
  * repartition by url-hash (host-skew defusal) → typed mapPartitions parse
  * core (HTML/PDF/text routed by magic bytes) → snapshot data files →
  * manifest commit. Bucket granularity gives resumability: each bucket is
  * one chained snapshot commit; a killed job resumes at the first
  * uncommitted bucket.
  */
object Extract {

  final case class Config(
      mode: String = "construction", // construction | standard
      buckets: Int = 8,
      parallelism: Int = 0,          // 0 → spark.sql.shuffle.partitions
      salt: Int = 0,
      /** second item source for the J1-J3 merge: "none" (reference default
        * when no API key), "fake" (the deterministic offline stand-in), or
        * "http" (the real OpenAI-style client, configured by
        * GRAFT_LLM_ENDPOINT / GRAFT_LLM_MODEL / GRAFT_LLM_API_KEY — a
        * missing endpoint or key falls back to None exactly like the
        * reference's no-credential path).
        */
      secondSource: String = "none",
      /** Selects nothing: manifest metrics always come from one aggregate
        * over the committed bucket files (see [[run]]). Kept only so
        * existing callers that still pass it compile.
        */
      exactMetrics: Boolean = true,
      /** OCR seam (S4/S5): "none" (offline default — no tesseract in the
        * sandbox, same as the reference with `_ocr_available=False`) or
        * "fake" (deterministic sidecar engine, makes the OCR path testable
        * end-to-end). A real tesseract binding would register here.
        */
      ocrEngine: String = "none",
      /** explicit full-document OCR mode (the reference's use_ocr flag) */
      useOcr: Boolean = false,
      /** test hook: throw after committing this many buckets (-1 = never) */
      poisonAfterBuckets: Int = -1
  ) {
    def llmParser: Option[graft.core.LlmParser] = secondSource match {
      case "fake" => Some(graft.core.FakeLlmParser)
      case "http" => graft.core.HttpLlmParser.fromEnv()
      case _      => None
    }
    def ocr: Option[OcrEngine] = Ocr.engine(ocrEngine)
  }

  /** Pure per-row parse — the single opaque (non-Catalyst) region. */
  def parseRow(url: String, html: Array[Byte], text: String, bucket: Int, mode: String,
               llm: Option[graft.core.LlmParser] = None,
               ocr: Option[OcrEngine] = None, useOcr: Boolean = false): DocRow = {
    val dec = Decode.decode(html, text, ocr, useOcr)
    val json =
      if (dec.pages.isEmpty && dec.error.isDefined) null
      else Canonical.render(
        if (mode == "standard") Assemble.standardResult(dec.pages)
        else Assemble.constructionResult(dec.pages, llm))
    DocRow(
      url = url,
      bucket = bucket,
      payload_kind = dec.kind,
      n_pages = dec.pages.length,
      extracted_text = Assemble.combinePagesText(dec.pages),
      extracted_json = json,
      spans = dec.spans.map(s => SpanRow(s.start, s.end, s.kind)),
      bytes_in = dec.bytesIn,
      chars_out = dec.charsOut,
      needs_ocr = dec.needsOcr,
      ocr_pages = dec.ocrPages,
      error = dec.error.orNull
    )
  }

  /** The repartition key for the parse stage. The key must be
    * entropy-independent of the table's bucket hash (bucket =
    * xxhash64(url) % B): partitioning by pmod(xxhash64(url), p) would
    * leave only p/B distinct key values inside one bucket and collapse
    * the stage onto a fraction of its tasks — a measured 2× parallelism
    * loss in round 1. Salting the hash INPUT itself decorrelates.
    * Exposed so the decorrelation regression test pins this exact
    * expression (PipelineE2ESpec).
    */
  def saltedKey(salt: Int): Column =
    xxhash64(concat(col("url"), lit("#" + salt)))

  /** The extraction operator, shared by the batch and streaming paths:
    * O1 guard → url/html/text projection → salted repartition by url-hash
    * (host skew cannot gang up on a task) → typed mapPartitions parse core.
    * The projection lets Catalyst prune the scan to the three payload
    * columns and push child filters below the parse. Works on any batch
    * or streaming DataFrame carrying those columns.
    */
  def extract(pages: DataFrame, cfg: Config, bucket: Int = 0): Dataset[DocRow] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val p = if (cfg.parallelism > 0) cfg.parallelism
            else spark.sessionState.conf.numShufflePartitions
    val (mode, llm, ocr, useOcr) = (cfg.mode, cfg.llmParser, cfg.ocr, cfg.useOcr)
    pages
      .where(col("html").isNotNull || col("text").isNotNull) // O1 guard
      .select(col("url"), col("html"), col("text"))
      .repartition(p, saltedKey(cfg.salt))
      .as[(String, Array[Byte], String)]
      .mapPartitions(_.map { case (url, html, text) =>
        parseRow(url, html, text, bucket, mode, llm, ocr, useOcr)
      })
  }

  final case class RunResult(manifestVersion: Int, snapshotId: String,
                             metrics: Vector[BucketMetrics], resumedBuckets: Vector[Int])

  /** Run the job over a bucket-partitioned pages table, committing one
    * chained snapshot per bucket. Resumes from the current manifest if one
    * exists for the same mode.
    */
  def run(spark: SparkSession, pagesRoot: String, outRoot: String, cfg: Config): RunResult = {
    val table = new SnapshotTable(outRoot)
    val prev = table.currentManifest.filter(m => m.mode == cfg.mode && m.bucketCount == cfg.buckets)
    val done = prev.map(_.completedBuckets.toSet).getOrElse(Set.empty)
    val snapshotId = prev.map(_.snapshotId).getOrElse(
      java.util.UUID.nameUUIDFromBytes(s"${cfg.mode}-${cfg.buckets}-$outRoot".getBytes).toString.take(8))

    var version = table.currentVersion.getOrElse(0)
    var parent = prev.map(_.snapshotId)
    var metrics = prev.map(_.metrics).getOrElse(Vector.empty)
    var dataDirs = prev.map(_.dataDirs).getOrElse(Vector.empty)
    var committed = prev.map(_.completedBuckets).getOrElse(Vector.empty)
    var processed = 0

    (0 until cfg.buckets).foreach { b =>
      if (!done.contains(b)) {
        if (cfg.poisonAfterBuckets >= 0 && processed >= cfg.poisonAfterBuckets)
          throw new RuntimeException(s"poison: killed before bucket $b")
        val t0 = System.nanoTime()
        // partition-pruned scan: only this bucket's files are read
        val pages = spark.read.parquet(pagesRoot).where(col("bucket") === b)
        val dir = table.dataDir(snapshotId, b)
        extract(pages, cfg, b).write.mode("overwrite").parquet(dir.toString)
        val secs = (System.nanoTime() - t0) / 1e9
        // Metrics are one aggregate over the committed files themselves, so
        // task retries and speculative attempts cannot double-count a row.
        // The read-back is a column-pruned scan of this one bucket.
        val isPdfErr = col("error").isNotNull && col("payload_kind") === "pdf"
        val encrypted = col("error").startsWith("pdf-encrypted")
        def countIf(c: Column) = count(when(c, 1))
        val m = spark.read.parquet(dir.toString).agg(
          count(lit(1)), coalesce(sum(col("bytes_in")), lit(0L)),
          coalesce(sum(col("chars_out")), lit(0L)), countIf(col("error").isNotNull),
          countIf(col("needs_ocr")), countIf(isPdfErr && !encrypted),
          countIf(isPdfErr && encrypted)).head()
        val bm = BucketMetrics(b, m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3),
          secs, m.getLong(4), m.getLong(5), m.getLong(6))
        version += 1
        metrics = metrics :+ bm
        dataDirs = dataDirs :+ s"data/snap-$snapshotId/bucket=$b"
        committed = committed :+ b
        table.commit(Manifest(version, snapshotId, parent, cfg.mode, cfg.buckets,
          committed, dataDirs, metrics))
        parent = Some(snapshotId)
        processed += 1
      }
    }
    RunResult(version, snapshotId, metrics, committed.filter(done.contains))
  }

  /** Read the current snapshot back as a DataFrame. */
  def readSnapshot(spark: SparkSession, outRoot: String): DataFrame = {
    val table = new SnapshotTable(outRoot)
    val m = table.currentManifest.getOrElse(sys.error(s"no snapshot at $outRoot"))
    val dirs = m.dataDirs.map(d => s"$outRoot/$d")
    spark.read.parquet(dirs: _*)
  }
}
