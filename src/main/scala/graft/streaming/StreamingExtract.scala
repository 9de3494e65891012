package graft.streaming

import graft.pipeline.Extract

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Incremental ingest: the batch pipeline's parse core behind Structured
  * Streaming, for the deployment where new Common-Crawl-style page files
  * land continuously. The reference is a one-shot CLI (SURVEY §2.8 — no
  * streaming exists to port); this module is the Spark-native extension
  * point: `readStream` file source → the SAME single-opaque-region parse →
  * append sink, with exactly-once per-file semantics from the streaming
  * checkpoint (complementing the batch snapshot/resume layer, which covers
  * reprocessing).
  *
  * Scale shape: the file source hands whole files to tasks (no shuffle
  * before the parse); `maxFilesPerTrigger` bounds a micro-batch, and the
  * same salted repartition as the batch path defuses host skew inside a
  * batch when one host's crawl dominates a drop.
  */
object StreamingExtract {

  /** The pages-table schema (BASELINE.json input_hint) — file-stream
    * sources must declare it up front.
    */
  val pagesSchema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("warc_ts", TimestampType, nullable = false),
    StructField("html", BinaryType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true)))

  /** Stream new page files into an append-only extraction directory.
    * Exactly-once per input file via the streaming checkpoint; restart
    * with the same checkpointLocation resumes where it stopped.
    */
  def run(spark: SparkSession, pagesRoot: String, outRoot: String,
          cfg: Extract.Config = Extract.Config(),
          maxFilesPerTrigger: Int = 64,
          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val pages = spark.readStream
      .schema(pagesSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(pagesRoot)
    Extract.extract(pages, cfg).writeStream
      .format("parquet")
      .option("path", s"$outRoot/data")
      .option("checkpointLocation", s"$outRoot/_checkpoint")
      .trigger(trigger)
      .start()
  }

  /** First occurrence of a url in the stream, re-crawls suppressed. */
  final case class FirstSeen(url: String, warc_ts: java.sql.Timestamp)

  /** Streaming first-seen dedup with CUSTOM state
    * (`flatMapGroupsWithState`): a crawl stream re-delivers urls (periodic
    * re-crawls, mirror hosts); downstream extraction should parse each url
    * once per TTL. State per url is a single boolean + an event-time
    * timeout: the first record (earliest `warc_ts` within its micro-batch)
    * is emitted, later deliveries are suppressed, and the timeout reaps
    * the state `ttlMs` past the emission's event time once the watermark
    * passes it — state stays bounded forever, the streaming analog of the
    * batch `TextDedup.exactGroups`. Cross-batch, the first ARRIVING batch
    * wins (inherent to streaming order); within a batch the earliest
    * event-time record wins deterministically.
    */
  def firstSeenDedup(spark: SparkSession, pages: DataFrame,
                     watermark: String = "2 hours",
                     ttlMs: Long = 24L * 3600 * 1000): Dataset[FirstSeen] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    pages
      .withWatermark("warc_ts", watermark)
      .select(col("url"), col("warc_ts")).as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, FirstSeen](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (url, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) Iterator.empty // re-crawl within TTL
          else {
            val first = rows.minBy(_._2.getTime)
            state.update(true)
            // timeout must sit above the current watermark or Spark rejects it
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs + 1, first._2.getTime) + ttlMs)
            Iterator.single(FirstSeen(url, first._2))
          }
      }
  }

  /** Streaming corpus metrics: event-time windowed counts/volumes per
    * payload language with a watermark on `warc_ts` — late crawl records
    * beyond the watermark are dropped deterministically, and state is
    * bounded (the watermark is what makes this runnable forever).
    */
  def windowedMetrics(pages: DataFrame,
                      window_ : String = "1 hour",
                      watermark: String = "2 hours"): DataFrame =
    pages
      .withWatermark("warc_ts", watermark)
      .groupBy(window(col("warc_ts"), window_), col("lang"))
      .agg(
        count(lit(1)).as("n_pages"),
        sum(when(col("html").isNotNull, length(col("html")))
          .otherwise(length(col("text")))).as("bytes_in"))
}
