package graft.tools

import graft.fixtures.PagesGen
import graft.pipeline.Extract

import org.apache.spark.sql.SparkSession

/** Multi-executor scaling evidence for the north rule's two-cluster-size
  * criterion, one step closer to the real thing than `local[k]` threads:
  * the same extraction job, submitted via `spark-submit` to a standalone
  * master on localhost, at N and 4N EXECUTOR PROCESSES (separate JVMs with
  * their own heaps/GC, real RPC, real shuffle service paths) — see
  * `scripts/bench_cluster.sh`, which starts the master/worker daemons,
  * interleaves N/4N submissions, and records BENCH_CLUSTER.md.
  *
  * Subcommands:
  *  - `gen <pagesDir> <warmDir> [replicate] [fat]` — synthesize the corpus
  *    locally (untimed; runs under local[*]).
  *  - `run <pagesDir> <warmDir> <outBase> <parallelism>` — the submitted
  *    app: two untimed warm-up extractions (fresh JVMs per submit would
  *    otherwise measure cold JIT — the round-2/3 bench lesson), then ONE
  *    timed extraction; prints a single `CLUSTERBENCH {...}` JSON line the
  *    harness script parses. Master/executor topology comes entirely from
  *    spark-submit conf, so the SAME binary serves both cluster sizes.
  */
object ClusterBench {

  private def timeSec[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def extraction(spark: SparkSession, pages: String, out: String, par: Int): Long = {
    val res = Extract.run(spark, pages, out,
      Extract.Config(mode = "construction", buckets = 1, parallelism = par,
        ocrEngine = "fake"))
    res.metrics.map(_.docs).sum
  }

  def main(args: Array[String]): Unit = args(0) match {
    case "gen" =>
      val pagesDir = args(1)
      val warmDir = args(2)
      val replicate = if (args.length > 3) args(3).toInt else 120
      val fat = if (args.length > 4) args(4).toInt else 16
      val spark = SparkSession.builder()
        .master("local[8]").appName("graft-cluster-gen")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val n = PagesGen.write(spark, pagesDir, replicate, buckets = 1, fat)
      PagesGen.write(spark, warmDir, 10, buckets = 1, fat)
      println(s"CLUSTERGEN {\"docs\":$n}")
      spark.stop()

    case "run" =>
      val pagesDir = args(1)
      val warmDir = args(2)
      val outBase = args(3)
      val par = args(4).toInt
      // master/executor topology from spark-submit; only job-level conf here
      val spark = SparkSession.builder()
        .appName("graft-cluster-bench")
        .config("spark.sql.shuffle.partitions", par.toString)
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      extraction(spark, warmDir, s"$outBase/warm1", par) // JIT warmup, untimed
      extraction(spark, warmDir, s"$outBase/warm2", par)
      val (docs, t) = timeSec(extraction(spark, pagesDir, s"$outBase/timed", par))
      val execs = spark.sparkContext.statusTracker.getExecutorInfos.length - 1 // minus driver
      // Locale.ROOT: the f-interpolator's %.3f uses the default locale — a
      // comma-decimal locale would emit invalid JSON and crash the harness
      println(String.format(java.util.Locale.ROOT,
        """CLUSTERBENCH {"docs":%d,"wall_s":%.3f,"docs_per_sec":%.1f,"executors":%d,"parallelism":%d}""",
        Long.box(docs), Double.box(t), Double.box(docs / t), Int.box(execs), Int.box(par)))
      spark.stop()

    case other => sys.error(s"unknown subcommand: $other")
  }
}
