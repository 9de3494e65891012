package perfbench

import graft.fixtures.CorpusIO
import graft.pipeline.{DocRow, Extract}
import graft.table.SnapshotTable

import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.util.{Failure, Try}

/** The `Extract.run` workload: [[Layers.Mode]] on parse-heavy documents
  * in several buckets, so the parse layers and the per-bucket table layer
  * both show, with exact manifest metrics. Each iteration extracts the whole
  * pages table into a fresh snapshot root, killed after half the buckets and
  * resumed, then reads the snapshot back and checks it.
  */
object Extraction {
  // eight fat=16 replicas ride along the pristine corpus
  private val Fat = 16
  private val Replicas = 8
  private val Buckets = 4
  private val WarmIters = 3
  private val ReplayPerKind = 3

  /** Returns the set-up seconds; records metrics and checks in `c`. */
  def run(c: Ctx): Double = {
    val spark = c.spark
    import spark.implicits._
    val pages = c.work.resolve("pages").toString
    val ids = Corpus.replicaIds(c.seed, Replicas)
    val genS = (1 to 3).map(_ => Main.seconds(Corpus.writePages(spark, pages, ids, Fat, Buckets))._2)
    val kinds = Corpus.kindStats(spark, pages)
    val nDocs = kinds.values.map(_._1).sum
    val urlSet = urlDigest(spark.read.parquet(pages))
    // one parse task per core, as the engine's own CLI runs it
    val cfg = Extract.Config(mode = Layers.Mode, buckets = Buckets, parallelism = c.nproc,
      exactMetrics = true, ocrEngine = "fake")
    val goldenUrls = CorpusIO.load().filter(_.mode == Layers.Mode).map(_.url)
    val replay = Layers.stratified(Corpus.docs(ids(1), Fat), ReplayPerKind, c.seed)._1

    /** Extracts into `out`: the first attempt dies after half the buckets
      * and a second one resumes it.
      */
    def extract(out: String): Unit = {
      val half = Buckets / 2
      val killed = Try(Extract.run(spark, pages, out, cfg.copy(poisonAfterBuckets = half)))
      c.check(killed match {
        case Failure(e) => e.getMessage.startsWith("poison")
        case _ => false
      }, nDocs, s"run was not killed after $half buckets: $killed")
      val res = Extract.run(spark, pages, out, cfg)
      checkResume(out, half, res)
    }

    def checkResume(out: String, half: Int, res: Extract.RunResult): Unit = {
      val table = new SnapshotTable(out)
      val chain = (1 to res.manifestVersion).map(table.readManifest)
      val added = chain.zip(Vector.empty[Int] +: chain.map(_.completedBuckets)).map {
        case (m, prev) => m.completedBuckets.diff(prev)
      }
      val firstHalf = chain(half - 1).completedBuckets.toSet
      c.check(res.resumedBuckets.toSet == firstHalf && res.manifestVersion == Buckets &&
        added.forall(_.size == 1) && added.flatten.sorted == (0 until Buckets) &&
        chain.drop(half).forall(m => m.completedBuckets.take(half).toSet == firstHalf) &&
        chain.last.metrics.map(_.docs).sum == nDocs,
        nDocs, s"resume chain broken: versions ${chain.map(_.completedBuckets)}")
    }

    /** Full check of one committed snapshot: every url once, no errors,
      * pristine docs byte-equal to their goldens, sampled rows equal to a
      * single-thread `parseRow` replay.
      */
    def checkSnapshot(out: String, d: (Long, Long, Long, Long)): Unit = {
      val (rows, distinct, errors, _) = d
      val snap = Extract.readSnapshot(spark, out)
      val sameUrls = urlDigest(snap) == urlSet
      c.check(rows == nDocs && distinct == nDocs && sameUrls && errors == 0,
        math.max(math.abs(nDocs - distinct), 1L) + errors,
        s"snapshot has $rows rows, $distinct urls, $errors errors, url set equal: $sameUrls; want $nDocs")
      val got = snap.where(col("url").isin(goldenUrls: _*))
        .select("url", "extracted_json").as[(String, String)].collect().toMap
      val goldenBad = goldenUrls.count { u =>
        val want = new String(Files.readAllBytes(Paths.get("src/test/resources/golden",
          CorpusIO.docId(u) + ".json")), StandardCharsets.UTF_8)
        !got.get(u).contains(want)
      }
      c.check(goldenBad == 0, goldenBad, s"$goldenBad of ${goldenUrls.size} golden docs differ")
      val committed = snap.where(col("url").isin(replay.map(_.url): _*)).as[DocRow]
        .collect().map(r => r.url -> r).toMap
      val replayBad = replay.count(doc => !committed.get(doc.url).exists(r =>
        Layers.parseRow(doc, r.bucket) == r))
      c.check(replayBad == 0, replayBad, s"$replayBad of ${replay.size} replayed rows differ")
      c.attempted += goldenUrls.size + replay.size
    }

    def readBack(out: String): (Long, Long, Long, Long) = {
      val snap = Extract.readSnapshot(spark, out)
      val r = snap.agg(count(lit(1)), countDistinct(col("url")), count(col("error")),
        Main.digestOf(snap)).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }

    // set-up: input generation (median of three) and warm-up iterations, the
    // first of them fully checked and the others checked against its digest;
    // the JIT keeps speeding up Spark's planner and the parse core for
    // several iterations
    val (first, warmS) = Main.seconds {
      val ds = (0 until WarmIters).map { i =>
        val out = c.work.resolve(s"snap-warm$i").toString
        extract(out)
        val d = readBack(out)
        if (i == 0) checkSnapshot(out, d)
        c.attempted += nDocs
        deleteTree(Paths.get(out))
        d
      }
      ds.zipWithIndex.tail.foreach { case (d, i) =>
        c.check(d == ds.head, nDocs, s"warm-up iteration $i digest $d differs from ${ds.head}")
      }
      ds.head
    }

    // (traced, seconds) per iteration
    val runS = Vector.newBuilder[(Boolean, Double)]
    val readS = Vector.newBuilder[(Boolean, Double)]
    val iters = c.measure(if (c.traced) 2 else 1) { i =>
      val out = c.work.resolve(s"snap-$i").toString
      val traced = c.traced && i % 2 == 1
      val (_, tRun) = Main.seconds(c.recorded(traced)(Recorder.phase(c.sc, "extract") {
        if (traced) c.tracer("extract.run")(extract(out)) else extract(out)
      }))
      // three read-backs: one is too short to time steadily on its own
      val reads = (1 to 3).map(_ => Main.seconds(c.recorded(traced)(Recorder.phase(c.sc, "read") {
        if (traced) c.tracer("extract.read_snapshot")(readBack(out)) else readBack(out)
      })))
      val d = reads.head._1
      val tRead = Stats.median(reads.map(_._2))
      c.attempted += nDocs
      c.check(d == first, nDocs, s"iteration $i digest $d differs from $first")
      runS += traced -> tRun
      readS += traced -> tRead
      if (i == 0) tableDetail(c, out)
      deleteTree(c.work.resolve(s"snap-$i"))
    }
    def plainOf(xs: Vector[(Boolean, Double)]) = xs.filterNot(_._1).map(_._2)
    def tracedOf(xs: Vector[(Boolean, Double)]) = xs.filter(_._1).map(_._2)
    val dps = nDocs / Stats.median(plainOf(runS.result()))
    val k = c.detail.putObject("kinds")
    kinds.foreach { case (kind, (n, b)) =>
      k.putObject(kind).put("docs", n).put("payload_mb", b / 1048576.0)
    }
    c.detail.put("docs", nDocs).put("iterations", iters).put("digest", first._4)
      .put("warm_s", warmS)
    c.putSeconds("gen_s", genS)
    c.putSeconds("run_s", runS.result().map(_._2))
    c.putSeconds("read_s", readS.result().map(_._2))
    if (!c.traced) {
      c.metric("docs_per_s", dps, "docs/s")
      c.metric("read_s", Stats.median(plainOf(readS.result())), "s")
    } else {
      val runs = tracedOf(runS.result())
      val reads = tracedOf(readS.result())
      c.metric("trace.overhead_frac", 1.0 - (nDocs / Stats.median(runs)) / dps, "ratio")
      val st = c.recorder.stats(_ == "extract")
      c.addMetrics(st.metrics(runs.size, runs.sum, c.nproc))
      c.putMetrics("spark_read", c.recorder.stats(_ == "read").metrics(reads.size, reads.sum, c.nproc))
      c.detail.put("table.jobs_per_bucket", st.jobs.toDouble / runs.size / Buckets)
      val oneThread =
        Layers.sample(c, ids.drop(1).take(2).flatMap(Corpus.docs(_, Fat)))
      c.detail.put("pipeline.parallel_eff", dps / (c.nproc * oneThread))
    }
    Stats.median(genS) + warmS
  }

  /** Order-free digest of a table's distinct urls. */
  private def urlDigest(df: org.apache.spark.sql.DataFrame): Long =
    df.select("url").distinct().agg(coalesce(bit_xor(xxhash64(col("url"))), lit(0L))).head().getLong(0)

  /** The `table.*` layer: bucket timings from the manifest, files per bucket. */
  private def tableDetail(c: Ctx, out: String): Unit = {
    val m = new SnapshotTable(out).currentManifest.get
    val secs = m.metrics.map(_.seconds)
    val files = m.dataDirs.map(d => scala.util.Using.resource(Files.list(Paths.get(out, d)))(
      _.toArray.count(_.toString.endsWith(".parquet"))))
    c.detail.put("table.bucket_s_p50", Stats.median(secs))
      .put("table.bucket_s_max", secs.max)
      .put("table.files_per_bucket", files.sum.toDouble / files.size)
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }
}
