package graft.tools

import graft.fixtures.PagesGen
import graft.pipeline.Extract

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev utility: one large extraction run to demonstrate scale headroom —
  * no memory cliff, error-free decode, linear-ish throughput vs the bench
  * corpus. Usage: runMain graft.tools.ScaleCheck [replicate] [buckets]
  * (env SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_FAT).
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val replicate = if (args.nonEmpty) args(0).toInt else 600
    val buckets = if (args.length > 1) args(1).toInt else 4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt
    val fat = sys.env.getOrElse("SPARK_GRAFT_BENCH_FAT", "16").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val work = java.nio.file.Files.createTempDirectory("graft_scale").toString
    val t0 = System.nanoTime()
    val nDocs = PagesGen.write(spark, s"$work/pages", replicate, buckets, fat)
    val tGen = (System.nanoTime() - t0) / 1e9
    val bytes = spark.read.parquet(s"$work/pages")
      .agg(sum(coalesce(length(col("html")), length(col("text"))))).head.getLong(0)
    val t1 = System.nanoTime()
    val res = Extract.run(spark, s"$work/pages", s"$work/out",
      Extract.Config(mode = "construction", buckets = buckets, parallelism = 2 * cpus))
    val tRun = (System.nanoTime() - t1) / 1e9
    val errors = res.metrics.map(_.errors).sum
    val docs = res.metrics.map(_.docs).sum
    println(f"[scale] docs=$nDocs payload_mb=${bytes / 1e6}%.0f gen_s=$tGen%.1f " +
      f"extract_s=$tRun%.1f docs_per_sec=${docs / tRun}%.1f errors=$errors " +
      f"buckets=$buckets cores=$cpus fat=$fat")
    spark.stop()
  }
}
