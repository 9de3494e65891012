package graft.ops

import graft.functions.HllSketchAgg
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the training-data-pipeline operators (dedup, similarity,
  * text analysis, multimodal plumbing) on tiny hand-checkable inputs.
  * Cross-engine exactness of the same operators is covered separately by
  * the DuckDB oracle sweep (scripts/check_oracle.py / graft.Verify).
  */
class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ops")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Quality-aware retention: keep the highest-scoring document per
    * near-dup cluster (ties by lowest id); docs without a cluster row are
    * kept. Unclustered docs bypass the window: inside it they would all
    * fall into one NULL-key partition.
    */
  private def dedupResolveBy(docs: DataFrame, clusters: DataFrame, idCol: String,
                             scoreCol: String): DataFrame = {
    val joined = docs.join(clusters.withColumnRenamed("id", idCol), Seq(idCol), "left")
    val w = Window.partitionBy(col("cluster")).orderBy(col(scoreCol).desc, col(idCol))
    joined.where(col("cluster").isNotNull)
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .drop("__rk", "cluster")
      .unionByName(joined.where(col("cluster").isNull).drop("cluster"))
  }

  private def docsDf(rows: (Long, String)*): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("doc_id", "text")
  }

  // ------------------------------------------------------------------ dedup

  test("exactGroups groups identical texts and keeps min id as canonical") {
    val df = docsDf(1L -> "a b c", 2L -> "a b c", 3L -> "x y z")
    val g = TextDedup.exactGroups(df, "doc_id", "text").collect()
    assert(g.length == 2)
    val dup = g.find(_.getLong(1) == 2L).get
    assert(dup.getLong(2) == 1L) // canonical = min(doc_id)
    // the group key is the portable 60-bit hash of the text
    val texts = Map(1L -> "a b c", 3L -> "x y z")
    g.foreach { r =>
      assert(r.getLong(0) == HllSketchAgg.hash60(UTF8String.fromString(texts(r.getLong(2)))))
    }
  }

  test("shingles: distinct 3-grams in order, short docs empty") {
    val df = docsDf(1L -> "a b c d", 2L -> "a b")
    val out = df.select(col("doc_id"),
        TextDedup.shingles(TextDedup.tokens(col("text")), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L) == Seq("a b c", "b c d"))
    assert(out(2L).isEmpty)
  }

  test("shingleRows generator matches the HOF formulation on edge cases") {
    val df = docsDf(
      1L -> "a b c d",                       // plain
      2L -> "a b",                           // shorter than n
      3L -> "",                              // empty text → one empty token
      4L -> "a  b c",                        // consecutive spaces → empty token
      5L -> "a b c a b c a b c",             // duplicates → distinct
      6L -> "héllo wörld émoji 😀 end", // multi-byte UTF-8
      7L -> " a b ",                         // leading/trailing separators
      8L -> "x y z")
    for (n <- 1 to 4) {
      val hof = df.select(col("doc_id"),
          explode(TextDedup.shingles(TextDedup.tokens(col("text")), n)).as("s"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
      val gen = df.select(col("doc_id"), TextDedup.shingleRows(col("text"), n).as("s"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
      assert(gen == hof, s"n=$n")
    }
  }

  test("shingleRows generator matches the HOF formulation on seeded random text") {
    val rnd = new scala.util.Random(20260817L)
    val alphabet = "ab c  déø😀_|.\n" // spaces (incl. doubles), multi-byte, surrogate
    val texts = (0 until 300).map { i =>
      i.toLong -> (0 until rnd.nextInt(40)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    // exclude \n-containing control chars? newline is fine — split(" ") keeps it
    val df = docsDf(texts: _*)
    for (n <- Seq(2, 3)) {
      val hof = df.select(col("doc_id"),
          explode(TextDedup.shingles(TextDedup.tokens(col("text")), n)).as("s"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
      val gen = df.select(col("doc_id"), TextDedup.shingleRows(col("text"), n).as("s"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
      assert(gen == hof, s"n=$n")
    }
  }

  test("word_shingles is SQL-callable and matches the column API") {
    graft.functions.WordShinglesGenerator.register(spark)
    docsDf(1L -> "a b c d e", 2L -> "x y").createOrReplaceTempView("ws_docs")
    val sql = spark.sql(
      "SELECT doc_id, s.shingle FROM ws_docs LATERAL VIEW word_shingles(text, 3) s")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sql == Set((1L, "a b c"), (1L, "b c d"), (1L, "c d e")))
  }

  test("minhash: identical docs get identical signatures; est_jaccard 1.0") {
    val df = docsDf(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "an utterly different stream of words with no overlap at all")
    val sigs = TextDedup.minhashSignatures(df, "doc_id", "text")
    val m = sigs.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(m(1L) == m(2L))
    assert(m(1L) != m(3L))
    val pairs = TextDedup.minhashPairs(sigs, rowsPerBand = 2, minEstJaccard = 0.5).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getLong(0) == 1L && pairs.head.getLong(1) == 2L)
    assert(pairs.head.getDouble(2) == 1.0)
  }

  test("simhash: equal for identical docs, near for near-dups, pairs found") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val df = docsDf(1L -> base, 2L -> base, 3L -> (base + " one extra token"),
      4L -> "completely other content everywhere nothing shared here at all ok")
    val sh = TextDedup.simhash(df, "doc_id", "text")
    val m = sh.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    val hammingNear = java.lang.Long.bitCount(m(1L) ^ m(3L))
    val hammingFar = java.lang.Long.bitCount(m(1L) ^ m(4L))
    assert(hammingNear < hammingFar)
    val pairs = TextDedup.simhashPairs(sh, chunks = 8,
        maxHamming = math.min(math.max(hammingNear, 1), 7))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("ngramJaccardPairs computes the exact ratio") {
    // doc1: shingles {a b c, b c d}; doc2: {a b c, b c e} → jaccard = 1/3
    val df = docsDf(1L -> "a b c d", 2L -> "a b c e")
    val p = TextDedup.ngramJaccardPairs(df, "doc_id", "text", n = 3, minJaccard = 0.0)
      .collect()
    assert(p.length == 1)
    assert(math.abs(p.head.getDouble(2) - 1.0 / 3.0) < 1e-15)
  }

  // ------------------------------------------------------------- similarity

  private def embDf(rows: (Long, Seq[Float])*): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("quantize + cosine: identical vectors score 1.0, orthogonal 0.0") {
    val df = embDf(
      0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(1f, 0f, 0f, 0f),
      2L -> Seq(0f, 1f, 0f, 0f), 3L -> Seq(0.9f, 0.1f, 0f, 0f))
    val top = VectorSim.cosineTopK(df, df.where(col("vec_id") === 0), "vec_id", "embedding", k = 3)
      .orderBy("rank").collect()
    assert(top.map(_.getLong(1)).toSeq == Seq(1L, 3L, 2L)) // dup, near, orthogonal
    assert(top(0).getDouble(2) == 1.0)
    assert(top(2).getDouble(2) == 0.0)
  }

  test("nearDupPairs finds the planted duplicate only, at 0.99") {
    val df = embDf(
      0L -> Seq(0.5f, 0.5f, 0f, 0f), 1L -> Seq(0.5f, 0.5f, 0f, 0f),
      2L -> Seq(0f, 0f, 0.7f, -0.7f))
    val p = VectorSim.nearDupPairs(df, "vec_id", "embedding", minCosine = 0.99).collect()
    assert(p.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 1L)))
  }

  test("lshBuckets: identical vectors share a bucket; annTopK finds the dup") {
    val df = embDf(
      0L -> Seq(0.3f, -0.2f, 0.9f, 0.1f), 1L -> Seq(0.3f, -0.2f, 0.9f, 0.1f),
      2L -> Seq(-0.8f, 0.1f, -0.3f, 0.5f), 3L -> Seq(-0.8f, 0.2f, -0.3f, 0.5f))
    val buckets = VectorSim.lshBuckets(df, "vec_id", "embedding", planes = 8, dim = 4)
    assert(buckets.agg(sum("n_vecs")).head().getLong(0) == 4L)
    assert(buckets.where(col("n_vecs") >= 2).count() >= 1) // 0,1 collide by construction
    val ann = VectorSim.annTopK(df, df.where(col("vec_id") === 0), "vec_id", "embedding",
      k = 2, planes = 8, dim = 4).collect()
    assert(ann.nonEmpty && ann.head.getLong(1) == 1L && ann.head.getDouble(2) == 1.0)
  }

  test("ivfTopK: clustered corpus — queries rerank within their own cell") {
    // two well-separated clusters around orthogonal directions
    def around(base: Seq[Float], eps: Float): Seq[Float] =
      base.zipWithIndex.map { case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val clusterA = Seq(1f, 0f, 0f, 0f); val clusterB = Seq(0f, 0f, 1f, 0f)
    val rows = (0L until 6L).map(i => i -> around(clusterA, 0.01f * (i + 1))) ++
      (6L until 12L).map(i => i -> around(clusterB, 0.01f * (i + 1)))
    val df = embDf(rows: _*)
    val res = VectorSim.ivfTopK(df, df.where(col("vec_id") === 0 || col("vec_id") === 6),
      "vec_id", "embedding", k = 3, c = 2, nprobe = 1)
    val byQ = res.collect().groupBy(_.getLong(0))
    // with c=2 the two seeds (ids 0,1) both sit in cluster A; after the
    // Lloyd step the means separate, so each query's neighbors come from
    // its own cluster
    assert(byQ(0L).map(_.getLong(1)).forall(_ < 6L))
    assert(byQ(6L).map(_.getLong(1)).forall(_ >= 6L))
    // deterministic across runs
    val again = VectorSim.ivfTopK(df, df.where(col("vec_id") === 0 || col("vec_id") === 6),
      "vec_id", "embedding", k = 3, c = 2, nprobe = 1)
      .collect().groupBy(_.getLong(0))
    assert(again(0L).map(r => (r.getLong(1), r.getDouble(2))).toSeq ==
      byQ(0L).map(r => (r.getLong(1), r.getDouble(2))).toSeq)
  }

  // ---------------------------------------------------------- text analysis

  test("token counts: whitespace vs BPE-ish") {
    val df = docsDf(1L -> "Hello, world! x2 done")
    val r = df.select(
      TextStats.tokenCount(col("text")).as("ws"),
      TextStats.bpeishCount(col("text")).as("bpe")).head()
    assert(r.getInt(0) == 4)
    // Hello , world ! x 2 done → 7
    assert(r.getInt(1) == 7)
  }

  test("langId flags stopword-rich text as en") {
    val df = docsDf(
      1L -> "the cat sat on the mat and it is a fine day for all of us",
      2L -> "zork blug quux fizz wibble")
    val m = df.select(col("doc_id"), TextStats.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == "en" && m(2L) == "unk")
  }

  test("langIdProfile: argmax across profiles, asc tie-break, unk on zero") {
    val df = docsDf(
      1L -> "Der Hund und die Katze, und das ist nicht alles",
      2L -> "the cat and the dog and all of it",
      3L -> "le chat et la table et les autres",
      4L -> "el perro que ladra para los vecinos",
      5L -> "der die und le la et", // de=8 fr=8 tie -> de (asc)
      6L -> "zork blug quux")
    val m = df.select(col("doc_id"),
        TextStats.langIdProfile(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m === Map(1L -> "de", 2L -> "en", 3L -> "fr", 4L -> "es",
      5L -> "de", 6L -> "unk"))
  }

  test("langScore: case-folded token-exact counting") {
    val sc = docsDf(1L -> "The THE the theater")
      .select(TextStats.langScore(col("text"),
        TextStats.LangProfiles.toMap.apply("en")).as("s"))
      .head().getLong(0)
    // three exact 'the' tokens x3, 'theater' is not a hit
    assert(sc === 9L)
  }

  test("scriptCounts/dominantScript: per-script tallies, tie asc, none on zero") {
    val df = docsDf(
      1L -> "hello мир",           // latin 5, cyr 3 -> latin
      2L -> "你好 world 世界",      // cjk 4, latin 5 -> latin
      3L -> "αβγ мир!",            // greek 3, cyr 3 tie -> cyrillic (asc)
      4L -> "12345 !!!",           // no script -> none
      5L -> "مرحبا")               // arabic 5
    val m = df.select(col("doc_id"),
        TextStats.dominantScript(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m === Map(1L -> "latin", 2L -> "latin", 3L -> "cyrillic",
      4L -> "none", 5L -> "arabic"))
    val counts = docsDf(1L -> "Ééàñ abc Жж 你")
      .select(TextStats.scriptCounts(col("text")).map {
        case (n, c) => c.as(n)
      }: _*).head()
    // accented latin (00C0-024F) counts as latin
    assert(counts.getAs[Int]("latin") === 7)
    assert(counts.getAs[Int]("cyrillic") === 2)
    assert(counts.getAs[Int]("cjk") === 1)
    assert(counts.getAs[Int]("arabic") === 0)
  }

  test("qualityScore is in [0,1] and ranks clean text above noise") {
    val clean = "the quick brown fox jumps over the lazy dog and it is a good day " * 4
    val noise = "@#$% ^&*! ~~~ ||| 12 )( ** !!"
    val df = docsDf(1L -> clean, 2L -> noise)
    val m = df.select(col("doc_id"), TextStats.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m.values.forall(q => q >= 0.0 && q <= 1.0))
    assert(m(1L) > m(2L))
  }

  test("textEmbedding: brute-force parity, order-invariance, similarity ordering") {
    val df = docsDf(
      1L -> "spark shuffles data across the cluster",
      2L -> "across the cluster spark shuffles data", // permutation of 1
      3L -> "spark shuffles data across the grid",    // one token differs
      4L -> "entirely different words appear here now")
    val got = VectorSim.textEmbedding(df, "doc_id", "text", dim = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    // brute force: the documented arithmetic, token by token
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(
        s.getBytes("UTF-8"))
      (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
        ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
    }
    def emb(text: String): Seq[Long] = (0 until 8).map { j =>
      text.split(" ", -1).map { t =>
        val hf = h60(t) % 1048576L
        ((j * 1048576L + hf) * 2654435761L) % 1000003L % 19L - 9L
      }.sum
    }
    got.foreach { case (id, v) =>
      val text = Seq("spark shuffles data across the cluster",
        "across the cluster spark shuffles data",
        "spark shuffles data across the grid",
        "entirely different words appear here now")(id.toInt - 1)
      assert(v == emb(text), s"doc $id")
    }
    // bag-of-words: a permutation embeds identically
    assert(got(1L) == got(2L))
    // cosine ordering: near-identical docs beat unrelated docs
    def cos(a: Seq[Long], b: Seq[Long]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum.toDouble
      d / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    assert(cos(got(1L), got(3L)) > cos(got(1L), got(4L)))
  }

  test("fingerprintScan matches the brute rolling-hash model on edge cases") {
    val P = 1000000007L; val B = 257L
    def model(s: String, n: Int = 8): (Long, Long, Long) = {
      val cps = s.codePoints().toArray
      val m = math.min(n, cps.length)
      val count = math.max(cps.length - n + 1, 1)
      val hs = (0 until count).map { i =>
        (0 until m).foldLeft(0L)((h, j) => (h * B + cps(i + j)) % P)
      }
      (hs.min, hs.max, hs.distinct.size.toLong)
    }
    val texts = Seq(
      1L -> "hello world this is a longer test string",
      2L -> "hi",                 // shorter than n → one gram
      3L -> "",                   // empty → hash 0
      4L -> "exactly8!",          // n and n+1 boundary
      5L -> "héllo wörld 😀 ok", // multi-byte + surrogate pair
      6L -> ("ab" * 50))          // duplicate grams → distinct count < total
    val out = TextStats.fingerprintScan(docsDf(texts: _*), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    texts.foreach { case (id, t) => assert(out(id) == model(t), s"doc $id") }
  }

  test("pair-join plans stay equi-join shaped; fingerprint plan stays scan-side") {
    val df = docsDf((1L to 30L).map(i => i -> s"w$i a b c d e f g h i j k"): _*)
    // candidate generation must never degrade to a nested loop / cartesian
    val simPlan = TextDedup.simhashPairs(TextDedup.simhash(df, "doc_id", "text"))
      .queryExecution.executedPlan.toString
    val jacPlan = TextDedup.ngramJaccardPairs(df, "doc_id", "text", n = 3, minJaccard = 0.3)
      .queryExecution.executedPlan.toString
    Seq(simPlan, jacPlan).foreach { p =>
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        p.linesIterator.take(5).mkString("\n"))
    }
    TextDedup.releaseCaches()
    // the rolling fingerprint is a per-row scalar: no exchange anywhere
    val fpPlan = TextStats.fingerprintScan(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!fpPlan.contains("Exchange"), fpPlan.linesIterator.take(5).mkString("\n"))
  }

  test("fingerprintScan drops null-text rows") {
    val s = spark; import s.implicits._
    val df = Seq((1L, "some real text here"), (2L, null: String)).toDF("doc_id", "text")
    val scan = TextStats.fingerprintScan(df, "doc_id", "text").collect().map(_.getLong(0)).toSet
    assert(scan == Set(1L))
  }

  test("rolling_fingerprint is SQL-callable and matches the column API") {
    graft.functions.RollingFingerprint.register(spark)
    docsDf(1L -> "some document text for hashing").createOrReplaceTempView("rf_docs")
    val sql = spark.sql(
      "SELECT doc_id, rolling_fingerprint(text).fp_min AS fp_min FROM rf_docs")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val api = TextStats.fingerprintScan(
      docsDf(1L -> "some document text for hashing"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sql == api)
  }

  test("fingerprint: identical text → identical fp; differing text differs") {
    val df = docsDf(1L -> ("abcdefgh" * 4), 2L -> ("abcdefgh" * 4), 3L -> ("zyxwvuts" * 4))
    val fp = TextStats.fingerprintScan(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
    // "abcdefgh"*4 sliding 8-grams have exactly 8 distinct values
    assert(fp(1L)._3 == 8L)
  }

  test("ngramJaccardPairs prefix filter is exact vs brute force, incl. fp-hostile thresholds") {
    // pseudo-random docs over a small vocabulary → plenty of overlapping
    // shingle sets near the threshold
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val docs = (0L until 30L).map { i =>
      val words = (0 until (10 + (i % 7).toInt))
        .map(k => vocab(((i * 13 + k * 7 + k * k) % vocab.length).toInt))
      i -> words.mkString(" ")
    }
    val df = docsDf(docs: _*)
    def brute(t: Double): Set[(Long, Long, Double)] = {
      def sh(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
      (for {
        (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
        a = sh(ta); b = sh(tb)
        c = (a intersect b).size
        j = c.toDouble / (a.size + b.size - c) if j >= t
      } yield (ia, ib, j)).toSet
    }
    // 0.35's double repr is ABOVE 35/100 — the fp-ceil trap threshold
    Seq(0.3, 0.35, 0.5).foreach { t =>
      val got = TextDedup.ngramJaccardPairs(df, "doc_id", "text", n = 3, minJaccard = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      TextDedup.releaseCaches()
      assert(got == brute(t), s"threshold $t diverged from brute force")
      assert(got.nonEmpty || brute(t).isEmpty)
    }
  }

  test("containmentPairs: exact vs brute force, detects a quote Jaccard misses") {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val base = (0L until 25L).map { i =>
      val words = (0 until (8 + (i % 6).toInt))
        .map(k => vocab(((i * 11 + k * 5 + k * k) % vocab.length).toInt))
      i -> words.mkString(" ")
    }
    // doc 100 = a short passage; doc 101 = a long page QUOTING it verbatim
    val passage = "alpha beta gamma delta eps zeta"
    val page = ("theta eta " * 20) + passage + (" zeta eta theta" * 10)
    val docs = base ++ Seq(100L -> passage, 101L -> page.trim)
    val df = docsDf(docs: _*)
    def brute(t: Double): Set[(Long, Long, Double)] = {
      def sh(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
      (for {
        (ia, ta) <- docs; (ib, tb) <- docs if ia != ib
        a = sh(ta); b = sh(tb)
        c = (a intersect b).size.toDouble / a.size if c >= t
      } yield (ia, ib, c)).toSet
    }
    Seq(0.35, 0.5, 0.8, 1.0).foreach { t =>
      val got = TextDedup.containmentPairs(df, "doc_id", "text", n = 3, minContainment = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      TextDedup.releaseCaches()
      assert(got == brute(t), s"threshold $t diverged from brute force")
    }
    // the asymmetry that motivates the operator: quote ⊂ page at C = 1.0
    // in ONE direction only, while Jaccard can't see the pair at 0.5
    val c1 = TextDedup.containmentPairs(df, "doc_id", "text", n = 3, minContainment = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    TextDedup.releaseCaches()
    assert(c1.contains((100L, 101L)))
    assert(!c1.contains((101L, 100L)))
    val j = TextDedup.ngramJaccardPairs(df, "doc_id", "text", n = 3, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    TextDedup.releaseCaches()
    assert(!j.contains((100L, 101L)))
  }

  test("dHash56: hand-worked gradient bits; exact dups at hamming 0; small edits stay near") {
    val s = spark; import s.implicits._
    def dhashRef(p: Array[Byte]): Long = {
      val cells = new Array[Long](63)
      p.indices.foreach(i => cells(i % 63) += p(i) & 0xff)
      (for (r <- 0 until 7; c <- 0 until 8
            if cells(r * 9 + c) > cells(r * 9 + c + 1))
        yield 1L << (r * 8 + c)).foldLeft(0L)(_ | _)
    }
    val base = Array.tabulate[Byte](300)(i => ((i * 37 + 11) % 251).toByte)
    val tweaked = base.clone(); tweaked(5) = (tweaked(5) ^ 0x7f).toByte
    val media = Seq(
      (1L, base), (2L, base),                       // exact dup pair
      (3L, tweaked),                                // near dup of 1/2
      (4L, Array.tabulate[Byte](300)(i => ((i * 251 + 97) % 241).toByte)))
      .toDF("id", "payload")
    val got = graft.ops.Multimodal.dHash56(s, media)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Seq(1L -> base, 3L -> tweaked).foreach { case (id, p) =>
      assert(got(id) == dhashRef(p), s"dHash56($id) vs direct definition")
    }
    assert(got(1L) == got(2L), "identical payloads must collide")
    assert((got(1L) >>> 56) == 0L, "56-bit width: top 8 bits clear")
    // a single-byte edit disturbs at most the 2 gradient bits adjacent to
    // its cell — well inside the maxHamming=3 near-dup band
    assert(java.lang.Long.bitCount(got(1L) ^ got(3L)) <= 2)
    val pairs = graft.ops.Multimodal.imageNearDupPairs(s, media, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
    TextDedup.releaseCaches()
    assert(pairs.contains((1L, 2L, 0L)), s"exact dup pair missing: $pairs")
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L), "near-dup pair missing")
  }

  test("imageNearDupPairs: undecodable images get a null hash and never pair; good ones still do") {
    val s = spark; import s.implicits._
    import graft.media.{Gif, Jpeg, Png}
    // block-constant 72×56 lattice: every format decodes to the same dHash
    val img = Png.Gray(72, 56, Array.tabulate(72 * 56) { i =>
      40 + ((37 * ((i % 72) / 8) + 53 * ((i / 72) / 8)) % 22) * 8
    })
    val png = Png.encodeGrayAs(img, 2)
    val jpeg = Jpeg.encodeGray(img, quality = 90)
    val gif = Gif.encodeGray(img)
    val cutPng = png.take(png.length / 2)
    val progressive = jpeg.clone
    val sof = jpeg.indices.find(i => (jpeg(i) & 0xff) == 0xFF && (jpeg(i + 1) & 0xff) == 0xC0).get
    progressive(sof + 1) = 0xC2.toByte
    val cutGif = gif.take(gif.length / 2)
    Seq(() => Png.decode(cutPng), () => Jpeg.decodeGray(progressive), () => Gif.decodeGray(cutGif))
      .foreach(d => intercept[java.io.IOException](d()))
    // no image signature: hashed as the opaque byte grid
    val text = "plain text payload: no PNG, JPEG or GIF signature up front"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val media = Seq(1L -> png, 2L -> jpeg, 3L -> gif,
      11L -> cutPng, 12L -> progressive, 13L -> cutGif, 21L -> text).toDF("id", "payload")
    val hashes = Multimodal.dHash56(s, media)
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(Seq(11L, 12L, 13L).forall(hashes(_).isEmpty), s"bad payloads must hash to null: $hashes")
    assert(hashes(1L) == Some(Multimodal.dHashImage(img)), "PNG arm hashes decoded pixels")
    val cells = Multimodal.slotSums(text, 63)
    val gridHash = (for (r <- 0 until 7; c <- 0 until 8 if cells(r * 9 + c) > cells(r * 9 + c + 1))
      yield 1L << (r * 8 + c)).foldLeft(0L)(_ | _)
    assert(hashes(21L) == Some(gridHash), "opaque payload hashes its byte grid")
    val pairs = Multimodal.imageNearDupPairs(s, media, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    TextDedup.releaseCaches()
    assert(pairs == Set((1L, 2L, 0), (1L, 3L, 0), (2L, 3L, 0)),
      s"good cross-format pairs only: $pairs")
  }

  test("noveltyScores: df=1 grams counted, duplicates score 0, unique prose 10^6") {
    val df = docsDf(
      1L -> "a b c d e",        // shares "a b c" with doc 2; "b c d"/"c d e" also in 2
      2L -> "a b c d e",        // exact dup of 1 → novelty 0 for both
      3L -> "x y z w",          // fully unique → 10^6
      4L -> "a b c q r s")      // 1 shared gram ("a b c"), 3 novel of 4
    val got = TextDedup.noveltyScores(df, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == (3L, 0L, 0L))
    assert(got(2L) == (3L, 0L, 0L))
    assert(got(3L) == (2L, 2L, 1000000L))
    assert(got(4L) == (4L, 3L, 750000L))
  }

  test("softDedupWeights: 1/cluster-size ppm weights, unclustered docs weight 10^6") {
    val s = spark; import s.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("id", "cluster")
    val w = TextDedup.softDedupWeights(docs, clusters, "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(w(1L) == (3L, 333333L) && w(2L) == (3L, 333333L) && w(3L) == (3L, 333333L))
    assert(w(4L) == (2L, 500000L) && w(5L) == (2L, 500000L))
    assert(w(6L) == (1L, 1000000L)) // no near-dup pair → full weight
  }

  test("nearDupPairsBlocked: identical output to brute force, equi-join plan") {
    // pseudo-random but deterministic embeddings — enough pairs to exercise
    // every block-pair role (diagonal + off-diagonal, both id orders)
    val rows = (0L until 40L).map { i =>
      i -> Seq.tabulate(8)(d => (((i * 31 + d * 17 + 7) % 23).toFloat - 11f) / 11f)
    }
    val df = embDf(rows: _*)
    val brute = VectorSim.nearDupPairs(df, "vec_id", "embedding", minCosine = 0.2)
      .orderBy("id_a", "id_b").collect().toSeq
    val blocked = VectorSim.nearDupPairsBlocked(df, "vec_id", "embedding",
        minCosine = 0.2, blocks = 5)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(brute.nonEmpty, "test data must produce qualifying pairs")
    assert(blocked == brute)
    // the scale guarantee: candidate generation is an equi-join, never a
    // nested-loop/cartesian plan
    val plan = VectorSim.nearDupPairsBlocked(df, "vec_id", "embedding",
      minCosine = 0.2, blocks = 5).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.linesIterator.take(5).mkString("\n"))
    assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(5).mkString("\n"))
  }

  test("simhashPairs finds near-identical docs via chunk banding") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val df = docsDf(
      1L -> base,
      2L -> (base + " extra"),   // near-identical → small hamming
      3L -> "completely unrelated gibberish tokens zork blug quux fizz wibble nine ten")
    val sh = TextDedup.simhash(df, "doc_id", "text")
    val m = sh.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def dist(a: Long, b: Long): Int = java.lang.Long.bitCount(m(a) ^ m(b))
    // the threshold is the measured near distance (5; the far ones are 14
    // and 13), so the banding must find the pair at exactly its distance
    val near = dist(1L, 2L)
    assert(near < math.min(dist(1L, 3L), dist(2L, 3L)))
    val pairs = TextDedup.simhashPairs(sh, bits = 32, chunks = 8,
        maxHamming = math.min(math.max(near, 1), 7))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  // -------------------------------------------------------------- multimodal

  test("multimodal: slot sums are deterministic, total, schema-stable") {
    val s = spark; import s.implicits._
    val media = Seq(
      (1L, "image", Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)),
      (2L, "image", Array[Byte](1, 2, 3, 4, 5, 6, 7, 8)),
      (3L, "audio", Array.empty[Byte]),
      (4L, "video", null.asInstanceOf[Array[Byte]])
    ).toDF("id", "kind", "payload").repartition(3)
    val out = Multimodal.extractSlotFeatures(spark, media, dim = 4)
    assert(out.columns.toSeq == Seq("id", "kind", "n_bytes", "slots_csv"))
    val rows = out.collect().map(r => r.id -> r).toMap
    assert(rows.keySet == Set(1L, 2L, 3L, 4L)) // total: no payload is dropped
    assert(rows(1L).slots_csv == "6,8,10,12") // slot j sums bytes at i ≡ j (mod 4)
    assert(rows(1L).slots_csv == rows(2L).slots_csv) // deterministic
    assert(rows(3L).n_bytes == 0L && rows(3L).slots_csv == "0,0,0,0")
    assert(rows(4L).n_bytes == 0L && rows(4L).slots_csv == "0,0,0,0")
  }

  test("multimodal: sampleFrames slices, strides, keeps the partial tail, skips empties") {
    val s = spark; import s.implicits._
    val payload = (0 until 25).map(_.toByte).toArray // frames of 10: [0..9][10..19][20..24]
    val media = Seq(
      (1L, payload),
      (2L, Array.empty[Byte]),                 // empty payloads emit nothing
      (3L, Array[Byte](7, 8, 9))               // single partial frame
    ).toDF("doc_id", "payload")
    val got = Multimodal.sampleFrames(media, "doc_id", "payload",
        frameBytes = 10, stride = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq == Seq(
      (1L, 0L, payload.slice(0, 10).toSeq),   // frame 0
      (1L, 2L, payload.slice(20, 25).toSeq),  // frame 2 (stride skips 1), partial tail
      (3L, 0L, Seq[Byte](7, 8, 9))))
    // stride 1 emits every frame
    val all = Multimodal.sampleFrames(media, "doc_id", "payload", 10, 1)
      .where(col("doc_id") === 1L).count()
    assert(all == 3L)
  }

  test("dedupClusters: chains, cycles, stars resolve to min-id components; resolve keeps canonicals") {
    val s = spark; import s.implicits._
    // components: {1,2,3} chain, {10,11,12} cycle, {20,21} pair
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L))
      .toDF("id_a", "id_b")
    val got = TextDedup.dedupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // retention: paired docs keep only the canonical; unpaired docs stay
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L, 20L, 21L).toDF("doc_id")
    val kept = TextDedup.dedupResolve(docs, TextDedup.dedupClusters(pairs), "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 5L, 10L, 20L))
    TextDedup.releaseCaches()
  }

  test("ivfCentroids: Lloyd iterations converge the two-cluster fixture and stay deterministic") {
    def around(base: Seq[Float], eps: Float): Seq[Float] =
      base.zipWithIndex.map { case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val clusterA = Seq(1f, 0f, 0f, 0f); val clusterB = Seq(0f, 0f, 1f, 0f)
    val rows = (0L until 6L).map(i => i -> around(clusterA, 0.01f * (i + 1))) ++
      (6L until 12L).map(i => i -> around(clusterB, 0.01f * (i + 1)))
    val df = embDf(rows: _*)
    def cents(it: Int, d: org.apache.spark.sql.DataFrame) =
      VectorSim.ivfCentroids(d, "vec_id", "embedding", c = 2, iters = it)
        .orderBy("cid").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toList))
    // both seeds (ids 0, 1) start inside cluster A, so ONE Lloyd step
    // leaves centroid 1 a mixed mean — iteration is what separates them
    val c1 = cents(1, df)
    val c3 = cents(3, df)
    assert(c1.toSeq != c3.toSeq, "iteration must improve the mixed round-1 quantizer")
    // converged: centroid 0 is the pure cluster-A mean, centroid 1 pure B
    assert(c3.toSeq == Seq(
      0L -> List(1035L, -35L, 35L, -35L),
      1L -> List(95L, -95L, 1095L, -95L)))
    // fixpoint after convergence, and partitioning-invariant (integer
    // dots, deterministic ties, exact means)
    assert(cents(4, df).toSeq == c3.toSeq)
    assert(cents(3, df.repartition(7)).toSeq == c3.toSeq)
  }

  test("dedupResolveBy: keeps the highest-scoring doc per cluster, unclustered pass through") {
    val s = spark; import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (20L, 21L)).toDF("id_a", "id_b")
    // scores: cluster {1,2,3} -> 2 wins; {20,21} tie on score -> lower id 20
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 7L), (4L, 1L), (20L, 3L), (21L, 3L))
      .toDF("doc_id", "score")
    val byQ = dedupResolveBy(docs, TextDedup.dedupClusters(pairs),
      "doc_id", "score")
    assert(byQ.collect().map(_.getLong(0)).toSet == Set(2L, 4L, 20L))
    val plan = byQ.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"retention rank must push map-side:\n$plan")
    TextDedup.releaseCaches()
  }

  test("dedupClusters: a 12-node path converges within diameter rounds; bound fails loudly") {
    val s = spark; import s.implicits._
    val pairs = (0 until 11).map(i => (i.toLong, i.toLong + 1)).toDF("id_a", "id_b")
    val got = TextDedup.dedupClusters(pairs, maxRounds = 15).collect()
    assert(got.length == 12 && got.forall(_.getLong(1) == 0L))
    TextDedup.releaseCaches()
    val boom = intercept[IllegalArgumentException](
      TextDedup.dedupClusters(pairs, maxRounds = 3).collect())
    assert(boom.getMessage.contains("convergence"))
    TextDedup.releaseCaches()
  }
}
