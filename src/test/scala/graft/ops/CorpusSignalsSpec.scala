package graft.ops

import org.apache.spark.sql.{Column, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Functional contracts of the corpus-signal operators: the gram_stats
  * kernel against a direct Scala re-computation, the Gopher repetition
  * profile on hand-worked examples, PII redaction order, NFC
  * canonicalization, and host capping.
  */
class CorpusSignalsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def gs(text: Column, n: Int): Column = CorpusSignals.gramStats(text, n)

  /** Direct-definition oracle: split(" ") keeping empties, sliding grams,
    * exact string counts, coverage in code points.
    */
  private def ref(text: String, n: Int): (Long, Long, Long) = {
    val toks = text.split(" ", -1)
    if (toks.length < n) (0L, 0L, 0L)
    else {
      val grams = toks.sliding(n).map(_.mkString(" ")).toSeq
      val counts = grams.groupBy(identity).map { case (g, occ) => (g, occ.size) }
      val top = counts.map { case (g, c) => c.toLong * g.codePointCount(0, g.length) }.max
      (grams.size.toLong, counts.size.toLong, top)
    }
  }

  private def kernel(text: String, n: Int): (Long, Long, Long) = {
    val s = spark; import s.implicits._
    val r = Seq(text).toDF("t").select(gs(col("t"), n)).head().getStruct(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("gram_stats matches the direct definition on edge cases") {
    val cases = Seq(
      "", "a", "a b", "a b a b a", "a a a a a a",
      "x", "  ", "a  b",                       // empty tokens kept
      "é é caño", "日本 語 日本 語 abc",          // multi-byte, coverage in code points
      "one two three four five six seven")
    for (t <- cases; n <- Seq(1, 2, 3)) {
      assert(kernel(t, n) == ref(t, n), s"text='$t' n=$n")
    }
  }

  test("gram_stats on pseudo-random small-alphabet texts (forced duplicates)") {
    val rnd = new scala.util.Random(7)
    val alpha = Vector("a", "bb", "c", "dé", "ee", "f")
    (1 to 40).foreach { _ =>
      val t = Seq.fill(rnd.nextInt(30))(alpha(rnd.nextInt(alpha.size))).mkString(" ")
      val n = 1 + rnd.nextInt(3)
      assert(kernel(t, n) == ref(t, n), s"text='$t' n=$n")
    }
  }

  test("gram_stats: null text stays null") {
    val df = spark.range(1).select(lit(null).cast("string").as("t"))
    assert(df.select(gs(col("t"), 2)).head().isNullAt(0))
  }

  test("repetitionSignals: hand-worked example") {
    val s = spark; import s.implicits._
    // "a b a b a": g2 = [a b, b a, a b, b a] -> dup2 = 2/4; g3 has 3 grams,
    // 2 distinct -> dup3 = 1/3; top2_cov = 2 occurrences x 3 chars = 6 of 9.
    val out = CorpusSignals.repetitionSignals(
      Seq((1L, "a b a b a"), (2L, "x y")).toDF("doc_id", "text"),
      "doc_id", "text", ns = Seq(2, 3)).collect()
    assert(out.length == 1, "docs under max(ns) tokens are excluded")
    val r = out.head
    assert(r.getAs[Long]("n_grams2") == 4L)
    assert(r.getAs[Double]("dup2_frac") == 0.5)
    assert(r.getAs[Long]("n_grams3") == 3L)
    assert(math.abs(r.getAs[Double]("dup3_frac") - 1.0 / 3) < 1e-15)
    assert(math.abs(r.getAs[Double]("top2_frac") - 6.0 / 9) < 1e-15)
  }

  test("redactPii: order — emails (with digits/dots) survive neither later pattern") {
    val s = spark; import s.implicits._
    val in = "mail u123@ex4.org ip 10.1.0.1 tel 555-123-4567 end"
    val out = Seq(in).toDF("t")
      .select(CorpusSignals.redactPii(col("t"))).head().getString(0)
    assert(out == "mail <EMAIL> ip <IP> tel <PHONE> end")
  }

  test("piiCounts counts each kind on the raw text") {
    val s = spark; import s.implicits._
    val in = "a@b.co c@d.org 1.2.3.4 555-000-1111 555-222-3333 x"
    val r = Seq(in).toDF("t").select(CorpusSignals.piiCounts(col("t"))).head().getStruct(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 1L, 2L)))
  }

  test("truncateMiddle: head+tail slice over budget, byte-identity under budget") {
    val s = spark; import s.implicits._
    val long = (1 to 20).map(i => s"w$i").mkString(" ")
    val weird = "a  b c"                      // double space: must NOT be rewritten
    val short = (1 to 8).map(i => s"w$i").mkString(" ")
    val got = Seq(long, weird, short).toDF("t")
      .select(CorpusSignals.truncateMiddle(col("t"), maxToks = 8, headPpm = 750000L))
      .collect().map(_.getString(0))
    // head 6 (75% of 8) + tail 2
    assert(got(0) == "w1 w2 w3 w4 w5 w6 w19 w20")
    assert(got(1) == weird, "under-budget text must pass byte-identical")
    assert(got(2) == short)
  }

  test("hostReputation + gate: evidence floor protects small hosts; blocked hosts drop") {
    val s = spark; import s.implicits._
    val docs = Seq(
      // bad host with evidence (5 docs, mean 100) -> blocked
      (1L, "https://bad.ex/a", 100L), (2L, "https://bad.ex/b", 100L),
      (3L, "https://bad.ex/c", 100L), (4L, "https://bad.ex/d", 100L),
      (5L, "https://BAD.ex/e", 100L), // case-folded host
      // bad-looking host WITHOUT evidence (2 docs) -> kept
      (6L, "https://small.ex/a", 100L), (7L, "https://small.ex/b", 100L),
      // good host
      (8L, "https://good.ex/a", 900L), (9L, "https://good.ex/b", 900L),
      (10L, "https://good.ex/c", 900L), (11L, "https://good.ex/d", 900L),
      (12L, "https://good.ex/e", 900L))
      .toDF("doc_id", "url", "q_micro")
    val rep = CorpusSignals.hostReputation(docs, "url", "q_micro",
      minDocs = 5L, minMeanMicro = 500L)
    val m = rep.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(m("bad.ex") == (5L, 100L, true))
    assert(m("small.ex") == (2L, 100L, false), "low evidence must not block")
    assert(m("good.ex") == (5L, 900L, false))
    val kept = CorpusSignals.gateByHostReputation(docs, "url", rep)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(6L, 7L, 8L, 9L, 10L, 11L, 12L))
    // a corpus that ALREADY carries a `host` column (any host-keyed
    // upstream stage) must not make the join key ambiguous
    val withHost = docs.withColumn("host", CorpusSignals.host(col("url")))
    val kept2 = CorpusSignals.gateByHostReputation(withHost, "url", rep)
      .collect().map(_.getLong(0)).toSet
    assert(kept2 == kept)
  }

  test("mojibake: count and repair of cp1252 double-encoding, identity on clean text") {
    val s = spark; import s.implicits._
    val rows = Seq(
      ("Itâ€™s â€œfineâ€¦ caffÃ©", "It’s “fine… caffé", 4L),
      ("plain ascii text", "plain ascii text", 0L),
      ("already repaired: it’s “fine… caffé", "already repaired: it’s “fine… caffé", 0L),
      ("Â«xÂ» 5Â° Ã¼Ã¶Ã¤", "«x» 5° üöä", 6L))
    val got = rows.map(_._1).toDF("t")
      .select(CorpusSignals.repairMojibake(col("t")).as("r"),
        CorpusSignals.mojibakeCount(col("t")).as("n"))
      .collect()
    rows.zip(got).foreach { case ((in, expR, expN), r) =>
      assert(r.getString(0) == expR, s"repair($in)")
      assert(r.getLong(1) == expN, s"count($in)")
    }
    // repair is idempotent: a second pass changes nothing (no artifact's
    // replacement re-creates another artifact)
    val twice = rows.map(_._1).toDF("t")
      .select(CorpusSignals.repairMojibake(
        CorpusSignals.repairMojibake(col("t"))).as("r2"))
      .collect().map(_.getString(0)).toSeq
    assert(twice == rows.map(_._2))
  }

  test("urlDate/textDate/pubDate: permalink wins, range check rejects counters") {
    val s = spark; import s.implicits._
    val rows = Seq(
      // (url, body, expect url_date, expect pub_date)
      ("https://a.ex/2023/05/12/post", "plain text", "2023-05-12", "2023-05-12"),
      ("https://a.ex/2023/14/12/x", "no dates", null, null),          // month 14: counter
      ("https://a.ex/2023/05/00/x", "no dates", null, null),          // day 00
      ("https://a.ex/post/9", "Published: 2021-11-03 body", null, "2021-11-03"),
      ("https://a.ex/1999/01/31/p", "Published: 2021-11-03 b", "1999-01-31", "1999-01-31"),
      ("https://a.ex/p", "ref 12345-67-89 not a year", null, null),   // year band
      // FIRST match only — a leading invalid dateline is not skipped
      ("https://a.ex/p", "v2 2020-13-01 then 2020-12-01", null, null))
    val got = rows.map(r => (r._1, r._2)).toDF("url", "body")
      .select(CorpusSignals.urlDate(col("url")).as("u"),
        CorpusSignals.pubDate(col("url"), col("body")).as("p"))
      .collect()
    rows.zip(got).foreach { case ((url, body, eu, ep), r) =>
      assert(r.getString(0) == eu, s"urlDate($url)")
      assert(r.getString(1) == ep, s"pubDate($url, $body)")
    }
  }

  test("luhnOk: known-valid PANs pass, one-digit corruptions fail, vs direct Luhn") {
    val s = spark; import s.implicits._
    def luhnRef(n: String): Boolean = {
      val ds = n.reverse.map(_ - '0')
      ds.zipWithIndex.map { case (d, i) =>
        if (i % 2 == 1) { val x = d * 2; if (x > 9) x - 9 else x } else d
      }.sum % 10 == 0
    }
    // canonical test numbers (Visa/MC/Amex doc examples) + 13- and 15-digit
    val cases = Seq("4111111111111111", "5500005555555559", "378282246310005",
      "4222222222222", "79927398713",  // classic Wikipedia example (11 digits)
      "4111111111111112", "1234567812345678", "0000000000000001")
    val got = cases.toDF("n")
      .select(col("n"), CorpusSignals.luhnOk(col("n")).as("ok"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    cases.foreach(c => assert(got(c) == luhnRef(c), s"luhnOk($c)"))
    assert(got("4111111111111111") && !got("4111111111111112"))
  }

  test("cardCounts: PAN-band runs counted, Luhn gates validity, long runs slice greedily") {
    val s = spark; import s.implicits._
    val in = "pay 4111111111111111 or 4111111111111112 ref 12345 code 12345678901234567890"
    // 20-digit run → one greedy 16-digit candidate (leftmost), remainder < 13
    val r = Seq(in).toDF("t").select(CorpusSignals.cardCounts(col("t"))).head().getStruct(0)
    assert(r.getLong(0) == 3L, "candidates: two 16-digit + one sliced from the 20-run")
    assert(r.getLong(1) == 1L, "only the real PAN passes Luhn")
  }

  test("nfc: decomposed sequences compose; ASCII is the identity fast path") {
    val s = spark; import s.implicits._
    val rows = Seq("Café", "Å", "plain ascii").toDF("t")
      .select(CorpusSignals.nfc(col("t"))).as[String].collect()
    assert(rows(0) == "Café")
    assert(rows(1) == "Å")
    assert(rows(2) == "plain ascii")
  }

  test("canonText: NFC + whitespace collapse + trim makes dedup keys collide") {
    val s = spark; import s.implicits._
    val variants = Seq("the  same\tdoc", " the same doc\n", "the same doc")
    val keys = variants.toDF("t")
      .select(md5(CorpusSignals.canonText(col("t")))).as[String].collect()
    assert(keys.distinct.length == 1)
  }

  test("canonUrl: case, default ports, fragments, tracking params, param sort") {
    val s = spark; import s.implicits._
    val cases = Seq(
      // scheme/host lowered, default https port stripped, fragment dropped,
      // tracking params removed, survivors byte-sorted
      "HTTPS://Ex.Example.COM:443/Doc/1?utm_source=tw&b=2&a=1&gclid=g1#frag" ->
        "https://ex.example.com/Doc/1?a=1&b=2",
      // http default port stripped; tracking-only query loses its '?'
      "http://A.com:80/p?fbclid=x&utm_campaign=c" -> "http://a.com/p",
      // NON-default port survives; path case is significant
      "http://A.com:8080/CaseSensitive/Path" -> "http://a.com:8080/CaseSensitive/Path",
      // :8080 must not be mistaken for :80 by the suffix strip
      "http://a.com:8080/p" -> "http://a.com:8080/p",
      // no query, no port, already canonical — identity
      "https://a.com/p" -> "https://a.com/p",
      // https default-port strip is scheme-aware (http keeps :443)
      "http://a.com:443/p" -> "http://a.com:443/p")
    val got = cases.map(_._1).toDF("url")
      .select(CorpusSignals.canonUrl(col("url"))).as[String].collect().toSeq
    assert(got == cases.map(_._2))
    // the point of the exercise: click variants collide on one dedup key
    val variants = Seq(
      "https://Site.com/page?utm_source=a",
      "HTTPS://site.COM:443/page?utm_source=b&fbclid=z",
      "https://site.com/page#top")
    val keys = variants.toDF("url")
      .select(CorpusSignals.canonUrl(col("url"))).as[String].collect()
    assert(keys.distinct.length == 1 && keys.head == "https://site.com/page")
  }

  test("hostCap: lowercased host, at most k docs per host, deterministic") {
    val s = spark; import s.implicits._
    val docs = (0L until 40L).map(i =>
      (i, s"https://Host${i % 3}.Example.COM/p/$i")).toDF("id", "url")
    def run() = CorpusSignals.hostCap(docs, "url", "id", k = 4, salt = "t")
      .select("host", "id").collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val a = run()
    assert(a == run(), "hash-priority draw must be deterministic")
    val byHost = a.groupBy(_._1)
    assert(byHost.keySet == Set("host0.example.com", "host1.example.com", "host2.example.com"))
    assert(byHost.values.forall(_.size == 4))
  }

  test("registeredDomain: public-suffix algorithm, all branches and edges") {
    val s = spark; import s.implicits._
    val cases = Seq(
      "deep.sub.example.com" -> "example.com",   // 1-label suffix
      "b.example.co.uk" -> "example.co.uk",      // 2-label suffix
      "sub.a.example.co.uk" -> "example.co.uk",  // depth-invariant
      "example.org" -> "example.org",            // bare registrable
      "co.uk" -> "co.uk",                        // host IS a suffix: pass-through
      "localhost" -> "localhost",                // single label
      "x.y0.com.au" -> "y0.com.au")
    val got = cases.map(_._1).toDF("host")
      .select(col("host"), CorpusSignals.registeredDomain(col("host")).as("rd"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (h, want) => assert(got(h) == want, s"host $h") }
  }

  test("stripInvisible: zero-width/bidi deleted, exotic spaces folded, controls stripped, \\t\\n kept") {
    val s = spark
    import s.implicits._
    val cases = Seq(
      "a\u200bb\u200c\u200dc\u2060d\ufeffe" -> "abcde", // zero-width family + BOM
      "l\u00adre" -> "lre",                             // soft hyphen
      "\u202aX\u202e\u2066Y\u2069" -> "XY",             // bidi controls
      "a\u00a0b\u2003c\u202fd\u3000e" -> "a b c d e",   // exotic spaces -> ' '
      "x\u0007y\u009fz" -> "xyz",                       // C0/C1 controls
      "keep\tthese\nlines\r" -> "keep\tthese\nlines\r", // whitelisted controls
      "plain ascii stays" -> "plain ascii stays")
    val got = cases.map(_._1).toDF("t")
      .select(col("t"), CorpusSignals.stripInvisible(col("t")).as("c"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"input ${in.map(c => f"\\u${c.toInt}%04x").mkString}")
    }
  }

  test("blocklistGate: token-exact (no Scunthorpe), case-folded, counts all hits") {
    val s = spark
    import s.implicits._
    val words = Seq("bad", "worse")
    val cases = Seq(
      ("clean text here", 0L, true),
      ("one bad token", 1L, false),
      ("BAD Worse bad", 3L, false),          // case fold + multiplicity
      ("badger embedded notbad", 0L, true))  // substring must NOT match
    val got = cases.map(_._1).toDF("t")
      .select(col("t"), CorpusSignals.blocklistGate(col("t"), words).as("g"))
      .select(col("t"), col("g.n_bad"), col("g.keep"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    cases.foreach { case (in, n, k) => assert(got(in) == ((n, k)), in) }
  }

  /** Register array of `df`'s column v (one aggregate row). */
  private def hllRegs(df: org.apache.spark.sql.DataFrame, m: Int): Seq[Long] =
    df.agg(CorpusSignals.hllSketchAgg(col("v"), m).as("r"))
      .collect().head.getSeq[Long](0).toSeq

  test("hllSketchAgg: m registers always, duplicate-invariant, merge = max") {
    val s = spark
    import s.implicits._
    val a = (0 until 300).map(i => s"val$i").toDF("v")
    val b = (200 until 500).map(i => s"val$i").toDF("v")
    val ra = hllRegs(a, 64); val rb = hllRegs(b, 64)
    assert(ra.size == 64 && hllRegs(a.limit(0), 64) == Seq.fill(64)(0L))
    // the sketch is a set summary: duplicates change nothing
    assert(hllRegs(a.union(a).union(a), 64) == ra)
    // mergeability (the property that makes it a 100 TB sketch: per-task
    // registers combine by max, exactly what the map-side partial does)
    assert(hllRegs(a.union(b), 64) == ra.zip(rb).map { case (x, y) => math.max(x, y) })
  }

  test("hllEstimate lands within the m=256 error envelope on 5000 distinct") {
    val s = spark
    import s.implicits._
    val df = (0 until 5000).map(i => s"tok-$i-x").toDF("v")
    val est = df.agg(CorpusSignals.hllSketchAgg(col("v"), m = 256).as("r"))
      .select(CorpusSignals.hllEstimate(col("r"), m = 256))
      .collect().head.getDouble(0)
    // std error 1.04/sqrt(256) = 6.5%; allow 4 sigma on the fixed data
    assert(math.abs(est - 5000.0) / 5000.0 < 0.26, s"estimate $est")
  }

  /** Per-key (v, zint) of `df`'s (k, v) through hllSummary. */
  private def hllSummaries(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("k").agg(CorpusSignals.hllSketchAgg(col("v"), m = 64).as("r"))
      .select(col("k"), CorpusSignals.hllSummary(col("r"), m = 64).as("s"))
      .select(col("k"), col("s.v"), col("s.zint"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("hllSummary: per-key (v, zint) equals the registers of that key's slice") {
    val s = spark
    import s.implicits._
    val rows = (0 until 800).map(i => ("a", s"tok-${i % 300}")) ++
      (0 until 200).map(i => ("b", s"other-${i % 50}"))
    val df = rows.toDF("k", "v")
    val got = hllSummaries(df)
    // reference: the registers of each key's slice alone, summarized —
    // v = empty registers, zint = Σ 2^(55 - rho)
    for (k <- Seq("a", "b")) {
      val regs = hllRegs(df.where(col("k") === k), 64)
      val v = regs.count(_ == 0L).toLong
      val zint = regs.map(r => 1L << (55 - r).toInt).sum
      assert(got(k) == ((v, zint)), k)
    }
    // duplicate-invariance carries over: the sketch summarizes a SET
    assert(hllSummaries(df.union(df).union(df)) == got)
  }

  test("hllEstimate: both branches land in the error envelope") {
    val s = spark
    import s.implicits._
    // 5000 distinct (harmonic branch) and 40 distinct (linear counting)
    val rows = (0 until 5000).map(i => ("big", s"tok-$i-x")) ++
      (0 until 400).map(i => ("small", s"s-${i % 40}"))
    val est = rows.toDF("k", "v").groupBy("k")
      .agg(CorpusSignals.hllSketchAgg(col("v"), m = 64).as("r"))
      .select(col("k"), CorpusSignals.hllEstimate(col("r"), m = 64).as("est"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // std error 1.04/sqrt(64) = 13%; allow 4 sigma on the fixed data
    assert(math.abs(est("big") - 5000.0) / 5000.0 < 0.52, s"big ${est("big")}")
    assert(math.abs(est("small") - 40.0) / 40.0 < 0.52, s"small ${est("small")}")
  }

  test("vocabDrift: per-token df per snapshot, |drift| ranking, empty-token drop") {
    val s = spark; import s.implicits._
    // snapshot A = ids 0,2 ; snapshot B = ids 1,3
    val df = Seq(
      (0L, "old old shared"),
      (2L, "old shared"),
      (1L, "new shared"),
      (3L, "new new shared  ") // trailing double space → empty tokens dropped
    ).toDF("doc_id", "text")
    val out = CorpusSignals.vocabDrift(df, "doc_id", "text",
        pmod(col("doc_id"), lit(2)) === 1, topK = 10)
      .as[(String, Long, Long, Long)].collect().toSeq
    // df is per-DOCUMENT (dup "old" in doc 0 counts once); drift = df_b - df_a
    assert(out == Seq(
      ("new", 0L, 2L, 2L),     // |2| ties with "old", token breaks the tie
      ("old", 2L, 0L, -2L),
      ("shared", 2L, 2L, 0L)))
  }

  test("tokenDivergence: hand-worked chi-square in milli-units, observed support only") {
    val s = spark; import s.implicits._
    // A: x:2 y:1 (n=3); B: x:1 z:3 (n=4); corpus: x:3 y:1 z:3 (N=7)
    val df = Seq(("A", "x x y"), ("B", "x z z z")).toDF("source", "text")
    val out = CorpusSignals.tokenDivergence(df, "source", "text")
      .as[(String, Long, Long, Long)].collect().toSeq
    // A/x: e=9/7,  o=2 -> floor((2-9/7)^2/(9/7)*1000+0.5)   = 397
    // A/y: e=3/7,  o=1 -> floor((1-3/7)^2/(3/7)*1000+0.5)   = 762
    // B/x: e=12/7, o=1 -> floor((1-12/7)^2/(12/7)*1000+0.5) = 298
    // B/z: e=12/7, o=3 -> floor((3-12/7)^2/(12/7)*1000+0.5) = 964
    // y is absent from B (and z from A): observed-support contract — no term
    assert(out === Seq(("A", 3L, 2L, 1159L), ("B", 4L, 2L, 1262L)))
  }

  /** Row-major depth×width counter array of `df`'s column v. */
  private def cmsRegs(df: org.apache.spark.sql.DataFrame, depth: Int, width: Int): Seq[Long] =
    df.agg(CorpusSignals.cmsSketchAgg(col("v"), depth, width).as("r"))
      .collect().head.getSeq[Long](0).toSeq

  test("cmsSketchAgg: exact d×w shape, row mass = row count, merge = sum") {
    val s = spark
    import s.implicits._
    val a = (0 until 300).map(i => s"tok${i % 40}").toDF("v")
    val b = (0 until 200).map(i => s"tok${i % 70}").toDF("v")
    val ra = cmsRegs(a, 4, 32); val rb = cmsRegs(b, 4, 32)
    assert(ra.size == 4 * 32)
    // every hash row sees every item once: each row's mass is the row count
    assert(ra.grouped(32).map(_.sum).toSeq == Seq.fill(4)(300L))
    // counter-additivity (the 100 TB property: per-task sketches combine by
    // plain +, exactly what the map-side partial does)
    assert(cmsRegs(a.union(b), 4, 32) == ra.zip(rb).map { case (x, y) => x + y })
  }

  test("bloomRegisters/bloomProbe: no false negatives, bit-63 clear, merge = OR") {
    val s = spark
    import s.implicits._
    val a = (0 until 300).map(i => s"key-a-$i").toDF("v")
    val b = (0 until 200).map(i => s"key-b-$i").toDF("v")
    def regs(df: org.apache.spark.sql.DataFrame) =
      CorpusSignals.bloomRegisters(df, col("v"), words = 32, k = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ra = regs(a); val rb = regs(b)
    assert(ra.keySet == (0L until 32L).toSet)
    // data bit 63 must never be set: the table stays portable to engines
    // where 1<<63 overflows
    assert((ra.values ++ rb.values).forall(_ >= 0L), "bit 63 leaked")
    // mergeability: union = per-word OR (what the map-side partial does)
    assert(regs(a.union(b)) == ra.map { case (w, x) => w -> (x | rb(w)) })
    // the membership contract: NO false negatives, ever
    val got = CorpusSignals.bloomProbe(
        CorpusSignals.bloomRegisters(a, col("v"), words = 32, k = 3),
        a, col("v"), words = 32, k = 3)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got.size == 300 && got.values.forall(identity), "false negative")
  }

  test("bloomProbe false-positive rate stays in the designed envelope") {
    val s = spark
    import s.implicits._
    val ins = (0 until 500).map(i => s"present-$i").toDF("v")
    val absent = (0 until 1000).map(i => s"absent-$i").toDF("v")
    val regs = CorpusSignals.bloomRegisters(ins, col("v"), words = 64, k = 3)
    val fp = CorpusSignals.bloomProbe(regs, absent, col("v"), words = 64, k = 3)
      .where(col("maybe")).count()
    // theory: (1 - e^(-3*500/4032))^3 ≈ 3.0%; this fixed data must stay
    // well under 10% and must produce at least one definitive negative
    assert(fp < 100, s"false-positive rate blew the envelope: $fp/1000")
    assert(fp < 1000, "a saturated filter answers nothing")
  }

  test("cmsEstimate is one-sided (est >= truth) and exact sans collisions") {
    val s = spark
    import s.implicits._
    val freqs = (0 until 30).map(i => s"w$i" -> (i % 5 + 1).toLong)
    val stream = freqs.flatMap { case (w, n) => Seq.fill(n.toInt)(w) }.toDF("v")
    val sketch = stream.agg(CorpusSignals.cmsSketchAgg(col("v"), depth = 4, width = 64).as("r"))
    val est = freqs.map(_._1).toDF("v").crossJoin(sketch)
      .select(col("v"), CorpusSignals.cmsEstimate(col("r"), col("v"), depth = 4, width = 64))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = freqs.toMap
    assert(est.keySet == truth.keySet)
    truth.foreach { case (w, n) => assert(est(w) >= n, s"$w under-counted") }
    // 30 keys into 4 independent 64-wide rows: min over rows is exact unless
    // some key collides in ALL four rows — overwhelmingly unlikely on this
    // fixed data; pin exactness so a hash regression can't hide in the bound
    assert(est == truth)
  }
}
