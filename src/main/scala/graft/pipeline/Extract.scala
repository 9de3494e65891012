package graft.pipeline

import graft.core.Assemble
import graft.json.Canonical
import graft.table.{BucketMetrics, Manifest, SnapshotTable}

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, GraftBridge, Observation,
  SparkSession}
import org.apache.spark.sql.functions._

import java.util.concurrent.{ExecutionException, Executors, Future, TimeUnit}
import scala.collection.mutable

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
  * core (HTML/PDF/text routed by magic bytes) → observed bucket metrics →
  * snapshot data files → manifest commit. Bucket granularity gives
  * resumability: each bucket is one chained snapshot commit; a killed job
  * resumes at the first uncommitted bucket.
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
        * observed on each bucket's write (see [[observeMetrics]]). Kept
        * only so existing callers that still pass it compile.
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
    *
    * Two Spark jobs per bucket (the scan's salted-shuffle map stage, then
    * the parse and write), plus one schema inference per run for the pages
    * table. The next bucket's write runs while the current one commits; see
    * [[writeAhead]].
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

    val pending = (0 until cfg.buckets).filterNot(done.contains)
    // the poison hook's budget: a bucket past it is never started
    val started =
      if (cfg.poisonAfterBuckets >= 0) pending.take(cfg.poisonAfterBuckets) else pending
    if (started.nonEmpty) {
      // one schema inference per run; each bucket's filter prunes the scan
      // to that bucket's partition
      val pages = spark.read.parquet(pagesRoot)
      def write(b: Int): BucketMetrics = {
        val t0 = System.nanoTime()
        val (rows, observation) = observeMetrics(extract(pages.where(col("bucket") === b), cfg, b))
        rows.write.mode("overwrite").parquet(table.dataDir(snapshotId, b).toString)
        bucketMetrics(b, observation.get, (System.nanoTime() - t0) / 1e9)
      }
      writeAhead(spark.sparkContext, started, write) { bm =>
        version += 1
        metrics = metrics :+ bm
        dataDirs = dataDirs :+ s"data/snap-$snapshotId/bucket=${bm.bucket}"
        committed = committed :+ bm.bucket
        table.commit(Manifest(version, snapshotId, parent, cfg.mode, cfg.buckets,
          committed, dataDirs, metrics))
        parent = Some(snapshotId)
      }
    }
    pending.drop(started.size).headOption.foreach { b =>
      throw new RuntimeException(s"poison: killed before bucket $b")
    }
    RunResult(version, snapshotId, metrics, committed.filter(done.contains))
  }

  /** The manifest counters of [[BucketMetrics]] as one aggregate observed on
    * the rows a write consumes. The `CollectMetrics` node sits above the
    * parse, in the write's result stage, and the scheduler merges a result
    * task's accumulator updates only for the first successful attempt of
    * each partition: a failed, retried or commit-denied attempt adds
    * nothing, so each written row is counted exactly once.
    */
  private[pipeline] def observeMetrics(rows: Dataset[DocRow]): (Dataset[DocRow], Observation) = {
    val isPdfErr = col("error").isNotNull && col("payload_kind") === "pdf"
    val encrypted = col("error").startsWith("pdf-encrypted")
    def countIf(c: Column) = count(when(c, 1))
    val observation = Observation()
    (rows.observe(observation,
      count(lit(1)).as("docs"), coalesce(sum(col("bytes_in")), lit(0L)).as("bytes_in"),
      coalesce(sum(col("chars_out")), lit(0L)).as("chars_out"),
      countIf(col("error").isNotNull).as("errors"), countIf(col("needs_ocr")).as("needs_ocr"),
      countIf(isPdfErr && !encrypted).as("pdf_fallback"),
      countIf(isPdfErr && encrypted).as("pdf_encrypted")), observation)
  }

  /** One bucket's metrics from the values [[observeMetrics]] observed. */
  private[pipeline] def bucketMetrics(bucket: Int, m: Map[String, Any], seconds: Double): BucketMetrics = {
    def n(name: String) = m(name).asInstanceOf[Long]
    BucketMetrics(bucket, n("docs"), n("bytes_in"), n("chars_out"), n("errors"), seconds,
      n("needs_ocr"), n("pdf_fallback"), n("pdf_encrypted"))
  }

  /** Runs `write` for each bucket on a two-thread pool owned by this call,
    * so at most two writes are in flight, and hands each result to `commit`
    * on the calling thread, strictly in bucket order. A bucket's successor
    * is submitted before it commits, so the cores keep parsing through the
    * commit and the next job's driver-side set-up. The caller's Spark local
    * properties (job group, scheduler pool, job tags, its own keys) are
    * installed on the pool threads explicitly. On any failure the other
    * in-flight write is waited for before the failure is rethrown, so no
    * job outlives the call; a kill leaves at most two uncommitted data
    * directories, which a resumed run overwrites.
    */
  private def writeAhead(sc: SparkContext, buckets: Seq[Int], write: Int => BucketMetrics)
                        (commit: BucketMetrics => Unit): Unit = {
    val props = GraftBridge.localProperties(sc)
    val pool = Executors.newFixedThreadPool(2)
    val inFlight = mutable.Queue.empty[Future[BucketMetrics]]
    val next = buckets.iterator
    def submit(): Unit = if (next.hasNext) {
      val b = next.next()
      inFlight += pool.submit { () =>
        GraftBridge.setLocalProperties(sc, props)
        write(b)
      }
    }
    try {
      submit(); submit()
      while (inFlight.nonEmpty) {
        val bm = try inFlight.dequeue().get() catch { case e: ExecutionException => throw e.getCause }
        submit()
        commit(bm)
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  /** Read the current snapshot back as a DataFrame, with the writer's
    * schema ([[DocRow]]) instead of one inferred from the files, so the read
    * starts no schema-inference job. A column the files lack reads as null:
    * a pre-round-2 snapshot, written before `ocr_pages`, gives null there.
    */
  def readSnapshot(spark: SparkSession, outRoot: String): DataFrame = {
    val table = new SnapshotTable(outRoot)
    val m = table.currentManifest.getOrElse(sys.error(s"no snapshot at $outRoot"))
    val dirs = m.dataDirs.map(d => s"$outRoot/$d")
    spark.read.schema(Encoders.product[DocRow].schema).parquet(dirs: _*)
  }
}
