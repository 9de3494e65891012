package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long, val seconds: Int,
                val traced: Boolean, val nproc: Int) {
  val sc: SparkContext = spark.sparkContext
  val recorder = new Recorder
  val tracer = new Tracer
  private var peakHeap = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail: ObjectNode = Main.json.createObjectNode()
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def addMetrics(ms: Seq[(String, Double, String)]): Unit = ms.foreach { case (n, v, u) => metric(n, v, u) }

  /** Puts `ms` into the run record under `key`, beside the metrics. */
  def putMetrics(key: String, ms: Seq[(String, Double, String)]): Unit = {
    val o = detail.putObject(key)
    ms.foreach { case (n, v, u) => o.putObject(n).put("value", v).put("unit", u) }
  }

  /** Puts every repetition's seconds into the run record. */
  def putSeconds(key: String, xs: Seq[Double]): Unit = {
    val a = detail.putArray(key)
    xs.foreach(a.add)
  }

  /** Counts `n` failed operations; `why` goes to the log. */
  def check(ok: Boolean, n: Long, why: => String): Unit =
    if (!ok) {
      failed += n
      System.err.println(s"[perfbench] check failed: $why")
    }

  /** Runs `body(i)` for i = 0, 1, ... until `seconds` have passed and at
    * least `min` iterations ran. Between iterations it collects garbage, so
    * that each starts from the same heap, and notes the heap still in use.
    * Returns the iteration count.
    */
  def measure(min: Int)(body: Int => Unit): Int = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    var i = 0
    while (i < min || System.nanoTime() < deadline) {
      body(i)
      peakHeap = math.max(peakHeap, heapAfterGc())
      i += 1
    }
    i
  }

  /** Heap in use after a full GC. Spark frees the blocks of finished jobs
    * (broadcasts, shuffle state) only once a GC has shown them unreachable,
    * and its cleaner polls for them every 100 ms, so a second GC follows a
    * wait for that cleanup.
    */
  private def heapAfterGc(): Long = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def peakHeapMb: Double = peakHeap / (1024.0 * 1024.0)

  /** Recorder attached for `f` alone: traced iterations pay for it, the
    * others do not.
    */
  def recorded[A](on: Boolean)(f: => A): A =
    if (!on) f
    else {
      sc.addSparkListener(recorder)
      try f finally { org.apache.spark.perfbench.BusDrain(sc); sc.removeSparkListener(recorder) }
    }
}

object Main {
  val json = new ObjectMapper()

  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Order-free digest of every column of `df`, as an aggregate. `bit_xor`
    * rather than `sum`: an ANSI-mode sum of 64-bit hashes overflows and throws.
    */
  def digestOf(df: DataFrame): Column =
    coalesce(bit_xor(xxhash64(df.columns.sorted.map(col): _*)), lit(0L))

  /** Row count and [[digestOf]]. */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), digestOf(df)).head()
    (r.getLong(0), r.getLong(1))
  }

  def session(work: Path, nproc: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // keep little of finished jobs in the status store, so the heap left
      // after an iteration does not grow with the number of iterations
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.ui.retainedExecutions", "5")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `--workload W --seed N --seconds S --trace 0|1 --work DIR --result FILE`
    * runs one benchmark run; `--pin DIR` writes the catalog's outputs for
    * pinning instead.
    */
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val nproc = Runtime.getRuntime.availableProcessors()
    if (a.contains("pin")) {
      val dir = Paths.get(a("pin"))
      val spark = session(dir, nproc)
      try Catalog.pin(spark, dir.toString) finally spark.stop()
      return
    }
    val work = Paths.get(a("work"))
    val workload = a("workload")
    val (spark, sessionS) = seconds(session(work, nproc))
    val c = new Ctx(spark, work, a("seed").toLong, a("seconds").toInt, a("trace") == "1", nproc)
    try {
      val setupS = workload match {
        case "catalog" => Catalog.run(c)
        case "extract" => Extraction.run(c)
        case w => sys.error(s"unknown workload $w")
      }
      if (!c.traced) {
        c.metric("setup_s", sessionS + setupS, "s")
        c.detail.put("session_s", sessionS)
        c.metric("peak_heap_mb", c.peakHeapMb, "MB")
      } else c.tracer.write(work.resolve("spans.jsonl"))
      val record = json.createObjectNode()
      record.put("workload", workload).put("seed", c.seed).put("seconds", c.seconds)
        .put("trace", c.traced).put("nproc", nproc)
        .put("spark_master", spark.sparkContext.master)
        .put("spark_version", spark.version)
        .put("java_version", System.getProperty("java.version"))
        .put("scala_version", scala.util.Properties.versionNumberString)
      val out = json.createObjectNode()
      out.put("correct", c.failed == 0).put("attempted", c.attempted).put("failed", c.failed)
      val ms = out.putObject("metrics")
      c.metrics.foreach { case (n, (v, u)) => ms.putObject(n).put("value", v).put("unit", u) }
      out.set[ObjectNode]("record", record.setAll[ObjectNode](c.detail))
      Files.write(Paths.get(a("result")), json.writerWithDefaultPrettyPrinter().writeValueAsBytes(out))
    } finally spark.stop()
  }
}
