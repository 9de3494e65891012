package perfbench

import graft.fixtures.PagesGen
import graft.fixtures.PagesGen.PageRowOut

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's inputs. The extraction corpus comes from the engine's
  * own fixture generator; the catalog's `documents` table is fixed, so its
  * query outputs can be pinned.
  */
object Corpus {

  /** Replica 0 is the pristine 92-doc golden corpus. The seed picks where a
    * range of `replicas` further replica ids starts; a replica id goes into
    * each url, and the url drives the payload variants (PDF framing, HTML
    * defects) and the bucket a document lands in.
    */
  def replicaIds(seed: Long, replicas: Int): Vector[Int] = {
    val base = 1 + Math.floorMod(seed, 100000L).toInt * replicas
    0 +: (base until base + replicas).toVector
  }

  def rows(replica: Int, fat: Int): Seq[PageRowOut] =
    if (replica == 0) PagesGen.docsFor(0, 1) else PagesGen.docsFor(replica, fat)

  def docs(replica: Int, fat: Int): Seq[Layers.Doc] =
    rows(replica, fat).map(r => Layers.Doc(r.url, r.html, r.text))

  /** Writes the `pages` table, bucketed the way `Extract.run` reads it.
    * Payload synthesis runs one task per replica.
    */
  def writePages(spark: SparkSession, path: String, ids: Vector[Int], fat: Int,
                 buckets: Int): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(ids, ids.size).toDS()
      .flatMap(r => rows(r, fat)).toDF()
      .withColumn("bucket", pmod(xxhash64(col("url")), lit(buckets)).cast("int"))
      .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(path)
  }

  /** Documents and payload bytes per payload kind of a written pages table. */
  def kindStats(spark: SparkSession, path: String): Map[String, (Long, Long)] = {
    val kind = udf((html: Array[Byte], text: String) => Layers.Doc("", html, text).kind)
    spark.read.parquet(path)
      .select(kind(col("html"), col("text")).as("kind"),
        coalesce(length(col("html")), octet_length(col("text"))).cast("long").as("bytes"))
      .groupBy("kind").agg(count(lit(1)), sum("bytes")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  private val Vocab = Vector("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val Langs = Vector("zh", "es", "fr", "de")

  /** The catalog's `documents` table (doc_id, text, lang, source, n_chars),
    * shaped like the sf0.1 `documents` table of the engine's test data,
    * whose 5,000 rows measure as: 10 to 99 words per text, uniform, drawn
    * uniformly from these 30 words; 5% of the rows (250) a copy of another
    * row's text with " dup" appended (a copy of a copy where the source was
    * itself one, an exact duplicate where two copies share a source: 8 such
    * pairs); `lang` 41% en and about 15% each of zh, es, fr, de; `source`
    * src(doc_id mod 20); `n_chars` the text's length. Fixed seed: the pinned
    * query digests depend on it.
    */
  def documentRows(n: Int): Vector[(Long, String, String, String, Long)] = {
    val rnd = new java.util.SplittableRandom(20260917L)
    val texts = Array.fill(n)(Vector.fill(10 + rnd.nextInt(90))(Vocab(rnd.nextInt(Vocab.size)))
      .mkString(" "))
    val copies = rnd.ints(0, n).distinct().limit(n / 20).toArray
    copies.foreach { id =>
      val src = (id + 1 + rnd.nextInt(n - 1)) % n
      texts(id) = texts(src) + " dup"
    }
    (0 until n).map { id =>
      val lang = if (rnd.nextInt(100) < 41) "en" else Langs(rnd.nextInt(Langs.size))
      (id.toLong, texts(id), lang, s"src${id % 20}", texts(id).length.toLong)
    }.toVector
  }

  /** Writes `documents.parquet` under `dir` as one file with one row group,
    * the layout of the repository's test tables: it reads as one partition.
    */
  def writeDocuments(spark: SparkSession, dir: String, n: Int): Unit =
    spark.createDataFrame(documentRows(n)).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
}
