package graft.pipeline

import graft.fixtures.{CorpusIO, PagesGen}
import graft.table.{Manifest, SnapshotTable}

import org.apache.spark.{Success, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The job shape of `Extract.run`: metrics observed on the write itself,
  * exactly once under task retries (`local[4,2]` retries a failed task
  * once), two jobs per bucket plus one per run, the observed aggregate in
  * the write's result stage, no job left running after a failed run, and
  * the snapshot read with the writer's schema.
  */
class ExtractRunSpec extends AnyFunSuite with BeforeAndAfterAll with Eventually {

  private var spark: SparkSession = _
  private val work = Files.createTempDirectory("extract_run").toString
  private def pagesPath = s"$work/pages"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4,2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    PagesGen.write(spark, pagesPath, replicate = 1, buckets = 3)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Job starts and ends and failed task ends seen by the listener bus. */
  private final class Seen extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val jobEnds = new ConcurrentLinkedQueue[SparkListenerJobEnd]()
    val failedTasks = new ConcurrentLinkedQueue[SparkListenerTaskEnd]()
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add(e)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != Success) failedTasks.add(e)
  }

  /** Runs `f` with a listener and a query-execution listener attached, and
    * returns once the bus has delivered every event `f` caused: a marker
    * job started afterwards must be seen, and the bus is FIFO.
    */
  private def observing[A](f: => A): (A, Seen, Vector[QueryExecution]) = {
    val sc = spark.sparkContext
    val seen = new Seen
    val qes = new ConcurrentLinkedQueue[QueryExecution]()
    val qel = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = qes.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(seen)
    spark.listenerManager.register(qel)
    try {
      val a = f
      val marker = s"drain-${System.nanoTime()}"
      sc.setLocalProperty("graft.spec.marker", marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.spec.marker", null)
      eventually(timeout(30.seconds)) {
        assert(seen.jobs.asScala.exists(j => j.properties.getProperty("graft.spec.marker") == marker))
      }
      val markerJobs = seen.jobs.asScala.filter(_.properties.getProperty("graft.spec.marker") == marker)
        .map(_.jobId).toSet
      seen.jobs.removeIf(j => markerJobs(j.jobId))
      seen.jobEnds.removeIf(j => markerJobs(j.jobId))
      (a, seen, qes.asScala.toVector)
    } finally {
      sc.removeSparkListener(seen)
      spark.listenerManager.unregister(qel)
    }
  }

  /** Every node of a physical plan, into adaptive plans and query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _ => p.children.flatMap(nodes)
  })

  /** The nodes from `p` down to the first `CollectMetricsExec`, if any. */
  private def pathToMetrics(p: SparkPlan): Option[List[SparkPlan]] = p match {
    case c: CollectMetricsExec => Some(List(c))
    case a: AdaptiveSparkPlanExec => pathToMetrics(a.executedPlan).map(a :: _)
    case s: QueryStageExec => pathToMetrics(s.plan).map(s :: _)
    case _ => p.children.iterator.map(pathToMetrics).collectFirst { case Some(path) => p :: path }
  }

  /** Runs a failing `run` and returns what it threw, after checking that
    * it started `jobs` jobs and that each of them had ended by the time the
    * throw reached the caller. The job-end times come from the scheduler
    * itself; `statusTracker` reads a store that the listener bus updates
    * later, so it can miss a job that is still running.
    */
  private def noJobOutlives(jobs: Int)(run: => Any): Throwable = {
    val ((thrown, thrownAt), seen, _) = observing {
      val e = intercept[Exception](run)
      (e, System.currentTimeMillis())
    }
    val started = seen.jobs.asScala.map(_.jobId).toSet
    val ended = seen.jobEnds.asScala.map(e => e.jobId -> e.time).toMap
    assert(started.size == jobs, s"started jobs $started")
    started.foreach { id =>
      assert(ended.get(id).exists(_ <= thrownAt), s"job $id ended ${ended.get(id)}, thrown at $thrownAt")
    }
    thrown
  }

  /** The seven manifest counters recounted from written rows. */
  private def recount(df: DataFrame): Vector[Long] = {
    val isPdfErr = col("payload_kind") === "pdf" && col("error").isNotNull
    val encrypted = coalesce(col("error").startsWith("pdf-encrypted"), lit(false))
    def n(c: Column) = sum(c.cast("long"))
    val r = df.agg(count(lit(1)), coalesce(sum(col("bytes_in")), lit(0L)),
      coalesce(sum(col("chars_out")), lit(0L)), coalesce(n(col("error").isNotNull), lit(0L)),
      coalesce(n(col("needs_ocr")), lit(0L)), coalesce(n(isPdfErr && !encrypted), lit(0L)),
      coalesce(n(isPdfErr && encrypted), lit(0L))).head()
    (0 until 7).map(r.getLong).toVector
  }

  private def fields(m: graft.table.BucketMetrics): Vector[Long] =
    Vector(m.docs, m.bytesIn, m.charsOut, m.errors, m.needsOcr, m.pdfFallback, m.pdfEncrypted)

  test("observed metrics count each written row once when a task attempt fails midway") {
    val spark = this.spark
    import spark.implicits._
    val parsed = Extract.extract(spark.read.parquet(pagesPath), Extract.Config(parallelism = 4))
    val firstPartition = parsed.rdd.mapPartitionsWithIndex((i, it) => Iterator(i -> it.size))
      .collect().toMap.getOrElse(0, 0)
    assert(firstPartition >= 2, "partition 0 needs rows on both sides of the planted failure")
    // attempt 0 of partition 0 emits half its rows into the observed
    // aggregate, then dies; attempt 1 emits them all
    val flaky = parsed.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc.partitionId() == 0 && tc.attemptNumber() == 0) {
        val rows = it.toVector
        rows.iterator.take(rows.size / 2) ++ new Iterator[DocRow] {
          def hasNext = true
          def next() = throw new IllegalStateException("planted failure after half the rows")
        }
      } else it
    }
    val dir = s"$work/flaky"
    val (observation, seen, _) = observing {
      val (rows, observation) = Extract.observeMetrics(flaky)
      rows.write.mode("overwrite").parquet(dir)
      observation
    }
    val got = Extract.bucketMetrics(0, observation.get, 0.0)
    assert(fields(got) == recount(spark.read.parquet(dir)))
    assert(got.docs == CorpusIO.load().length)
    assert(got.needsOcr >= 1 && got.bytesIn > 0 && got.charsOut > 0)
    assert(seen.failedTasks.asScala.exists(t => t.taskInfo.index == 0 && t.taskInfo.attemptNumber == 0),
      "the planted failure never fired")
  }

  test("a run over B pending buckets starts at most 2B + 1 jobs, all carrying the caller's properties") {
    val sc = spark.sparkContext
    val out = s"$work/shape"
    val buckets = 3
    sc.setLocalProperty("graft.spec.caller", "shape")
    sc.setLocalProperty("spark.scheduler.pool", "graft-spec-pool")
    val (res, seen, qes) = try observing {
      Extract.run(spark, pagesPath, out, Extract.Config(buckets = buckets, parallelism = 4))
    } finally {
      sc.setLocalProperty("graft.spec.caller", null)
      sc.setLocalProperty("spark.scheduler.pool", null)
    }
    assert(res.metrics.map(_.bucket) == (0 until buckets))
    val jobs = seen.jobs.asScala.toVector
    assert(jobs.nonEmpty && jobs.size <= 2 * buckets + 1, s"${jobs.size} jobs for $buckets buckets")
    jobs.foreach { j =>
      assert(j.properties.getProperty("graft.spec.caller") == "shape", s"job ${j.jobId}")
      assert(j.properties.getProperty("spark.scheduler.pool") == "graft-spec-pool", s"job ${j.jobId}")
    }
    // the observed aggregate runs in each write's result stage: no exchange
    // above it, and the shuffle it sits on is below
    val writes = qes.flatMap(qe => pathToMetrics(qe.executedPlan).map(qe -> _))
    assert(writes.size == buckets, s"${writes.size} writes observed metrics")
    writes.foreach { case (qe, path) =>
      val above = path.init
      assert(!above.exists(n => n.isInstanceOf[Exchange] || n.isInstanceOf[ShuffleQueryStageExec]),
        above.map(_.nodeName).mkString(" → "))
      assert(nodes(path.last).exists(_.isInstanceOf[ShuffleQueryStageExec]), qe.executedPlan.toString)
    }
  }

  test("a killed run leaves no job running and no bucket past its budget committed") {
    val out = s"$work/poisoned"
    // one schema inference, two jobs for each of the two buckets in budget
    val boom = noJobOutlives(jobs = 5) {
      Extract.run(spark, pagesPath, out, Extract.Config(buckets = 3, parallelism = 4,
        poisonAfterBuckets = 2))
    }
    assert(boom.getMessage == "poison: killed before bucket 2")
    val m = new SnapshotTable(out).currentManifest.get
    assert(m.completedBuckets == Vector(0, 1))
    assert(!Files.exists(new SnapshotTable(out).dataDir(m.snapshotId, 2)), "bucket 2 was started")
  }

  test("a failed commit waits for the other in-flight writes before it rethrows") {
    val out = s"$work/commit_fails"
    Files.createDirectories(Paths.get(out))
    // a file where the metadata directory goes: the first commit throws
    // just after the third bucket's write was submitted, with the second
    // one's in flight too; both must finish before the throw
    Files.write(Paths.get(out, "metadata"), Array[Byte](1))
    val thrown = noJobOutlives(jobs = 7) {
      Extract.run(spark, pagesPath, out, Extract.Config(buckets = 3, parallelism = 4))
    }
    assert(thrown.isInstanceOf[java.nio.file.FileAlreadyExistsException], thrown)
  }

  test("a bucket with no pages commits zero counts") {
    val out = s"$work/empty_bucket"
    // the pages table has 3 buckets, so bucket 3 of 4 is empty
    val res = Extract.run(spark, pagesPath, out, Extract.Config(buckets = 4, parallelism = 4))
    val empty = res.metrics.find(_.bucket == 3).get
    assert(fields(empty) == Vector.fill(7)(0L))
    assert(res.metrics.map(_.docs).sum == CorpusIO.load().length)
  }

  test("readSnapshot reads with the writer's schema; a column the files lack reads as null") {
    val spark = this.spark
    import spark.implicits._
    val out = s"$work/schema"
    Extract.run(spark, pagesPath, out, Extract.Config(buckets = 3, parallelism = 4))
    val snap = Extract.readSnapshot(spark, out)
    val m = new SnapshotTable(out).currentManifest.get
    val inferred = spark.read.parquet(m.dataDirs.map(d => s"$out/$d"): _*)
    assert(snap.schema.map(f => f.name -> f.dataType) == inferred.schema.map(f => f.name -> f.dataType))
    assert(snap.schema.fieldNames.toSeq == Encoders.product[DocRow].schema.fieldNames.toSeq)
    val rows = snap.as[DocRow].collect().sortBy(_.url).toSeq
    assert(rows == inferred.as[DocRow].collect().sortBy(_.url).toSeq)
    assert(rows.size == CorpusIO.load().length)

    // a snapshot written before `ocr_pages` existed
    val old = s"$work/schema_old"
    val oldDir = s"$old/data/snap-old/bucket=0"
    inferred.drop("ocr_pages").write.parquet(oldDir)
    new SnapshotTable(old).commit(Manifest(1, "old", None, "construction", 1, Vector(0),
      Vector("data/snap-old/bucket=0"), Vector.empty))
    val back = Extract.readSnapshot(spark, old)
    assert(back.schema.fieldNames.toSeq == snap.schema.fieldNames.toSeq)
    assert(back.where(col("ocr_pages").isNotNull).count() == 0)
    assert(back.drop("ocr_pages").except(snap.drop("ocr_pages")).count() == 0)
    assert(back.count() == rows.size)
  }
}
