package perfbench

import graft.SparkEntry
import graft.ops.TextDedup

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Catalog queries over the benchmark's fixed `documents` table, in two
  * groups: map-only codec round trips, and shuffle/join-heavy text
  * similarity. Each query's output is written as parquet, then read back and
  * digested; the digest must equal its pin in `perfbench/pins.json`.
  */
object Catalog {
  // Trimmed to fit the run length: q_pdf_encrypted and q_pdf_annots take
  // the same PDF write/parse path as q_pdf_xrefstream; q_simhash_pairs,
  // q_ngram_jaccard, q_dedup_eval and q_bloom_probe repeat the shingle,
  // band and join shapes of the two text rows kept.
  val Codec: Vector[String] = Vector("q_png_phash", "q_jpeg_phash", "q_pdf_xrefstream")
  val Text: Vector[String] = Vector("q_minhash_pairs", "q_containment")
  // sf0.1's 5,000 rows take 25-30 s a pass on a 4-core host, too long for
  // the run. At sf0.1's shape ([[Corpus.documentRows]]), 1,500 rows keep
  // most of its split between the groups: codec 70% of the summed query
  // time against sf0.1's 75%, and q_jpeg_phash 52% against 59% (same host
  // and queries, two warm-up and four timed passes each). Spark's fixed
  // cost per query is what lowers the codec share at fewer rows; 2,000 rows
  // reach 73% and 54% but make the runs too long for the time budget.
  val Docs = 1500
  // each output is read back several times: one read is too short to time
  // steadily on its own
  private val Reads = 3
  val PinsPath = "perfbench/pins.json"

  private final case class Pin(rows: Long, xor: Long)

  private def loadPins(): Map[String, Pin] = {
    val root = Main.json.readTree(Files.readAllBytes(Paths.get(PinsPath)))
    val it = root.fields()
    var out = Map.empty[String, Pin]
    while (it.hasNext) {
      val e = it.next()
      out += e.getKey -> Pin(e.getValue.get("rows").asLong(), e.getValue.get("xor").asText().toLong)
    }
    out
  }

  /** Runs one query into `out` and returns (query s, median read-back s,
    * digest of every read-back).
    */
  private def runQuery(spark: SparkSession, dir: String, q: String,
                       out: String): (Double, Double, Seq[(Long, Long)]) = {
    val (_, tq) = Main.seconds(Recorder.phase(spark.sparkContext, q) {
      SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(out)
    })
    val reads = (1 to Reads).map(_ => Main.seconds(Recorder.phase(spark.sparkContext, s"read.$q") {
      Main.digest(spark.read.parquet(out))
    }))
    TextDedup.releaseCaches() // its signature caches live for one query
    Extraction.deleteTree(Paths.get(out))
    (tq, Stats.median(reads.map(_._2)), reads.map(_._1))
  }

  /** Returns the set-up seconds; records metrics and checks in `c`. */
  def run(c: Ctx): Double = {
    val spark = c.spark
    val dir = c.work.resolve("catalog").toString
    val genS = (1 to 3).map(_ => Main.seconds(Corpus.writeDocuments(spark, dir, Docs))._2)
    val pins = loadPins()
    val input = Main.digest(spark.read.parquet(s"$dir/documents.parquet"))
    c.attempted += 1
    c.check(pins.get("documents").contains(Pin(input._1, input._2)), 1,
      s"documents table digest $input differs from its pin")
    val order = new scala.util.Random(c.seed).shuffle(Codec ++ Text)

    /** One pass over every query; returns per-query (query s, read s). */
    def pass(traced: Boolean): Vector[(String, Double, Double)] = order.map { q =>
      val (tq, tr, ds) =
        if (traced) c.tracer(s"query.$q")(runQuery(spark, dir, q, s"$dir/out"))
        else runQuery(spark, dir, q, s"$dir/out")
      c.attempted += 1
      c.check(ds.forall(d => pins.get(q).contains(Pin(d._1, d._2))), 1,
        s"$q digests ${ds.distinct} differ from its pin")
      (q, tq, tr)
    }

    // one warm-up pass: by its end the JIT has compiled Spark's planner and
    // the codecs over thousands of rows
    val (_, warmS) = Main.seconds(pass(traced = false))
    val passes = Vector.newBuilder[(Boolean, Vector[(String, Double, Double)])]
    val n = c.measure(2) { i =>
      val traced = c.traced && i % 2 == 1
      passes += traced -> c.recorded(traced)(pass(traced))
    }
    val all = passes.result()
    val plain = all.filterNot(_._1).map(_._2)
    /** Per query, the median over `ps` of its query and read-back seconds. */
    def medians(ps: Vector[Vector[(String, Double, Double)]]): Map[String, (Double, Double)] =
      order.map { q =>
        val xs = ps.map(_.find(_._1 == q).get)
        q -> (Stats.median(xs.map(_._2)), Stats.median(xs.map(_._3)))
      }.toMap
    def docsPerS(m: Map[String, (Double, Double)]) = Docs.toDouble * m.size / m.values.map(_._1).sum
    val med = medians(plain)
    val dps = docsPerS(med)
    val perQuery = c.detail.putObject("queries")
    order.foreach(q => perQuery.putObject(q).put("s", med(q)._1).put("read_s", med(q)._2))
    def groupS(g: Vector[String]) = g.map(med(_)._1).sum
    c.detail.put("catalog_codec_s", groupS(Codec)).put("catalog_text_s", groupS(Text))
      .put("docs", Docs).put("passes", n).put("order", order.mkString(",")).put("warm_s", warmS)
    c.putSeconds("gen_s", genS)
    c.putSeconds("pass_s", all.map(_._2.map(_._2).sum))
    order.foreach(q => c.putSeconds(s"pass_s.$q", all.map(_._2.find(_._1 == q).get._2)))
    if (!c.traced) {
      c.metric("docs_per_s", dps, "docs/s")
      c.metric("read_s", med.values.map(_._2).sum, "s")
    } else {
      val traced = all.filter(_._1).map(_._2)
      c.metric("trace.overhead_frac", 1.0 - docsPerS(medians(traced)) / dps, "ratio")
      c.addMetrics(c.recorder.stats(p => order.contains(p))
        .metrics(traced.size, traced.map(_.map(_._2).sum).sum, c.nproc))
      order.foreach { q =>
        val st = c.recorder.stats(_ == q)
        perQuery.get(q).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          .put("tasks", st.tasks.toDouble / traced.size).put("stages", st.stages.toDouble / traced.size)
          .put("top_stage_tasks", st.topStageTasks).put("task_skew", st.taskSkew)
      }
      // the parse layers on the extraction corpus's first replica of this seed
      Layers.sample(c, Corpus.docs(Corpus.replicaIds(c.seed, 1)(1), 16))
    }
    Stats.median(genS) + warmS
  }

  /** Writes the documents table and every catalog query's output under
    * `dir`, with the digests and the queries' DuckDB oracle SQL, so that
    * `perfbench/pin.py` can check each output against its oracle before
    * pinning its digest.
    */
  def pin(spark: SparkSession, dir: String): Unit = {
    Corpus.writeDocuments(spark, dir, Docs)
    val docs = Main.digest(spark.read.parquet(s"$dir/documents.parquet"))
    val node = Main.json.createObjectNode()
    def put(name: String, d: (Long, Long)): Unit =
      node.putObject(name).put("rows", d._1).put("xor", d._2.toString)
    put("documents", docs)
    (Codec ++ Text).foreach { q =>
      SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(s"$dir/out/$q")
      put(q, Main.digest(spark.read.parquet(s"$dir/out/$q")))
      TextDedup.releaseCaches()
    }
    Files.write(Paths.get(dir, "digests.json"), Main.json.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(node))
    val oracle = Main.json.createObjectNode()
    (Codec ++ Text).foreach(q => oracle.put(q, SparkEntry.oracleSql(q)))
    Files.write(Paths.get(dir, "oracle_sql.json"), Main.json.writeValueAsString(oracle)
      .getBytes(StandardCharsets.UTF_8))
  }
}
