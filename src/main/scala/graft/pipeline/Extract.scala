package graft.pipeline

import graft.core.Assemble
import graft.json.Canonical
import graft.table.{BucketMetrics, Manifest, SnapshotTable}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
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
      /** Committed manifest metrics: true (default) re-aggregates the
        * just-written bucket files — exact under task retries/speculation
        * (accumulator updates inside transformations are at-least-once);
        * the read-back scans only 3 numeric columns of one bucket. false
        * trusts the accumulators (approximate, zero extra jobs).
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

  /** Page-boundary spans into the '\n\n'-joined extracted text — the span
    * contract for payloads whose decoder has no finer block structure
    * (pdf/text); HTML payloads carry block-level spans from the
    * boilerplate scorer instead.
    */
  private def pageSpans(pages: Seq[graft.core.PageData]): Vector[SpanRow] = {
    var off = 0L
    val out = Vector.newBuilder[SpanRow]
    pages.foreach { p =>
      val len = p.text.length.toLong
      out += SpanRow(off, off + len, "page")
      off += len + 2 // the "\n\n" joiner
    }
    out.result()
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
      spans =
        if (dec.spans.nonEmpty) dec.spans.map(s => SpanRow(s.start, s.end, s.kind))
        else pageSpans(dec.pages),
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
  def saltedKey(salt: Int): org.apache.spark.sql.Column =
    xxhash64(concat(col("url"), lit("#" + salt)))

  /** Per-bucket extraction metrics, filled by accumulators during the write
    * action itself — no second read-back job per bucket (at 1000 executors
    * that extra scan per commit is pure scheduling overhead).
    */
  final case class Acc(docs: org.apache.spark.util.LongAccumulator,
                       bytesIn: org.apache.spark.util.LongAccumulator,
                       charsOut: org.apache.spark.util.LongAccumulator,
                       errors: org.apache.spark.util.LongAccumulator,
                       pdfFallback: org.apache.spark.util.LongAccumulator,
                       pdfEncrypted: org.apache.spark.util.LongAccumulator) {
    /** Tally one parsed row; returns it unchanged. */
    def add(row: DocRow): DocRow = {
      docs.add(1L); bytesIn.add(row.bytes_in); charsOut.add(row.chars_out)
      if (row.error != null) {
        errors.add(1L)
        if (row.payload_kind == "pdf") {
          if (row.error.startsWith("pdf-encrypted")) pdfEncrypted.add(1L)
          else pdfFallback.add(1L)
        }
      }
      row
    }
  }
  def newAcc(spark: SparkSession): Acc = Acc(
    spark.sparkContext.longAccumulator("docs"),
    spark.sparkContext.longAccumulator("bytes_in"),
    spark.sparkContext.longAccumulator("chars_out"),
    spark.sparkContext.longAccumulator("errors"),
    spark.sparkContext.longAccumulator("pdf_fallback"),
    spark.sparkContext.longAccumulator("pdf_encrypted"))

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
    import spark.implicits._
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
        val parsed = extract(pages, cfg, b)
        val acc = newAcc(spark)
        val out = if (cfg.exactMetrics) parsed else parsed.map(acc.add)
        val dir = table.dataDir(snapshotId, b)
        out.write.mode("overwrite").parquet(dir.toString)
        val secs = (System.nanoTime() - t0) / 1e9
        // Exact metrics (default): aggregate the committed files themselves —
        // task retries / speculative execution make in-transformation
        // accumulator updates at-least-once, so persisted manifests would
        // overcount. The read-back prunes to 3 numeric columns of this one
        // bucket (column-pruned vectorized scan, one tiny job per commit).
        val bm =
          if (cfg.exactMetrics) {
            val isPdfErr = col("error").isNotNull && col("payload_kind") === "pdf"
            val m = spark.read.parquet(dir.toString).agg(
              count(lit(1)), coalesce(sum(col("bytes_in")), lit(0L)),
              coalesce(sum(col("chars_out")), lit(0L)),
              coalesce(sum(when(col("error").isNotNull, 1L).otherwise(0L)), lit(0L)),
              coalesce(sum(when(col("needs_ocr"), 1L).otherwise(0L)), lit(0L)),
              coalesce(sum(when(isPdfErr && !col("error").startsWith("pdf-encrypted"),
                1L).otherwise(0L)), lit(0L)),
              coalesce(sum(when(isPdfErr && col("error").startsWith("pdf-encrypted"),
                1L).otherwise(0L)), lit(0L))).head()
            BucketMetrics(b, m.getLong(0), m.getLong(1), m.getLong(2), m.getLong(3),
              secs, m.getLong(4), m.getLong(5), m.getLong(6))
          } else
            BucketMetrics(b, acc.docs.value, acc.bytesIn.value,
              acc.charsOut.value, acc.errors.value, secs, 0L,
              acc.pdfFallback.value, acc.pdfEncrypted.value)
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
