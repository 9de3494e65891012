package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev utility: time one catalog query. Not part of the driver contract.
  * Usage: runMain graft.tools.QueryTime <query> <sfDir> [reps] [--explain] [--noop]
  * Runs at local[N] with N = SPARK_GRAFT_CPUS, default every available core.
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2 && !args(2).startsWith("--")) args(2).toInt else 2
    val explain = args.contains("--explain")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val noop = args.contains("--noop") // full materialization (the bench
    // shape) — count() lets Catalyst prune the computed columns away
    val fn = graft.SparkEntry.queries(name)
    if (explain) fn(spark, sfDir).explain("formatted")
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val nRows =
        if (noop) { df.write.format("noop").mode("overwrite").save(); -1L }
        else df.count()
      graft.ops.TextDedup.releaseCaches()
      println(f"[querytime] local[$cpus] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s, $nRows rows")
    }
    spark.stop()
  }
}
