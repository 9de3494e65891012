package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import scala.collection.mutable

/** Stage and task shape of each benchmark phase, taken from Spark's
  * listener events. The benchmark names a phase by setting the
  * [[Recorder.PhaseKey]] local property around the phase's actions; Spark
  * copies it into every job those actions start.
  */
final class Recorder extends SparkListener {
  import Recorder._

  private val stagePhase = mutable.Map.empty[Int, String]
  private val jobs = mutable.ArrayBuffer.empty[String]
  private val tasks = mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties).map(_.getProperty(PhaseKey)).orNull
    if (p != null) {
      jobs += p
      e.stageIds.foreach(stagePhase(_) = p)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stagePhase.get(e.stageId).foreach { p =>
      val m = e.taskMetrics
      tasks += (if (m == null) Task(p, e.stageId, e.taskInfo.duration, 0, 0, 0, 0, 0)
        else Task(p, e.stageId, e.taskInfo.duration, m.executorRunTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled))
    }
  }

  /** Shape of every phase whose name satisfies `pick`. Call after
    * [[org.apache.spark.perfbench.BusDrain]] so that no event is pending.
    */
  def stats(pick: String => Boolean): Stats = synchronized {
    val ts = tasks.filter(t => pick(t.phase)).toVector
    val durs = ts.map(_.durMs.toDouble)
    // the stage holding the most task time sets the skew: its slowest task
    // decides when the stage, and everything after it, can finish
    val top = ts.groupBy(_.stage).values.maxByOption(_.map(_.durMs).sum).getOrElse(Vector.empty)
    val topDurs = top.map(_.durMs.toDouble)
    val skew = if (Stats.median(topDurs) > 0) topDurs.max / Stats.median(topDurs) else 1.0
    Stats(jobs = jobs.count(pick), stages = ts.map(_.stage).distinct.size, tasks = ts.size,
      taskMsP50 = Stats.median(durs), taskMsMax = if (durs.isEmpty) 0.0 else durs.max,
      taskSkew = skew, topStageTasks = top.size, runMs = ts.map(_.runMs).sum, gcMs = ts.map(_.gcMs).sum,
      shuffleReadBytes = ts.map(_.shuffleRead).sum, shuffleWriteBytes = ts.map(_.shuffleWrite).sum,
      spillBytes = ts.map(_.spill).sum)
  }
}

object Recorder {
  val PhaseKey = "perfbench.phase"

  final case class Task(phase: String, stage: Int, durMs: Long, runMs: Long, gcMs: Long,
                        shuffleRead: Long, shuffleWrite: Long, spill: Long)

  /** Run `f` with its Spark jobs tagged as phase `name`. */
  def phase[A](sc: SparkContext, name: String)(f: => A): A = {
    sc.setLocalProperty(PhaseKey, name)
    try f finally sc.setLocalProperty(PhaseKey, null)
  }
}

final case class Stats(jobs: Int, stages: Int, tasks: Int, taskMsP50: Double, taskMsMax: Double,
                       taskSkew: Double, topStageTasks: Int, runMs: Long, gcMs: Long, shuffleReadBytes: Long,
                       shuffleWriteBytes: Long, spillBytes: Long) {

  /** The `spark.*` per-layer metrics, as totals per operation. `wallS` is the
    * summed wall time of the phase; `ops` the number of operations in it.
    */
  def metrics(ops: Int, wallS: Double, cores: Int): Vector[(String, Double, String)] = {
    val n = math.max(ops, 1).toDouble
    val mb = 1024.0 * 1024.0
    Vector(
      ("spark.jobs", jobs / n, "count"),
      ("spark.stages", stages / n, "count"),
      ("spark.tasks", tasks / n, "count"),
      ("spark.task_ms_p50", taskMsP50, "ms"),
      ("spark.task_ms_max", taskMsMax, "ms"),
      ("spark.task_skew", taskSkew, "ratio"),
      ("spark.core_util", if (wallS > 0) runMs / 1000.0 / (cores * wallS) else 0.0, "ratio"),
      ("spark.shuffle_read_mb", shuffleReadBytes / mb / n, "MB"),
      ("spark.shuffle_write_mb", shuffleWriteBytes / mb / n, "MB"),
      ("spark.spill_mb", spillBytes / mb / n, "MB"),
      ("spark.gc_ms", gcMs / n, "ms"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}
