package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** RFC 9309 contracts: group selection by most-specific user-agent,
  * empty-Disallow = allow-all, longest-match decision with ties to Allow,
  * no-rule default allow, wildcard matcher, and the broadcast plan shape.
  */
class RobotsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Keep only robots-allowed pages. */
  private def filterAllowed(pages: DataFrame, urlCol: String, rules: DataFrame): DataFrame =
    Robots.allowedDecision(pages, urlCol, rules).where(col("allowed")).drop("allowed")

  test("parseRules: group selection, comments, empty Disallow") {
    val txt =
      """# robots for example.com
        |User-agent: *
        |Disallow: /private/
        |Allow: /private/ok
        |
        |User-agent: graftbot
        |User-agent: otherbot
        |Disallow: /only-for-graft/   # trailing comment
        |
        |User-agent: unrelated
        |Disallow: /
        |""".stripMargin
    // most-specific group wins (groups at the SAME specificity merge, below)
    assert(Robots.parseRules(txt, "graftbot") ==
      Vector(Robots.Rule("/only-for-graft/", allow = false)))
    assert(Robots.parseRules(txt, "somebot") ==
      Vector(Robots.Rule("/private/", allow = false),
        Robots.Rule("/private/ok", allow = true)))
    // empty Disallow contributes nothing (allow-all)
    assert(Robots.parseRules("User-agent: *\nDisallow:\n", "x").isEmpty)
    // a second user-agent line AFTER rules starts a new group
    assert(Robots.parseRules(txt, "unrelated") ==
      Vector(Robots.Rule("/", allow = false)))
  }

  test("parseRules: same-specificity groups merge; token never outclaims agent") {
    // RFC 9309 §2.2.1: rules from ALL groups matched at the winning
    // specificity combine, in document order
    val split =
      """User-agent: graftbot
        |Disallow: /a/
        |
        |User-agent: *
        |Disallow: /everyone/
        |
        |User-agent: graftbot
        |Allow: /b/
        |""".stripMargin
    assert(Robots.parseRules(split, "graftbot") ==
      Vector(Robots.Rule("/a/", allow = false), Robots.Rule("/b/", allow = true)))
    // a LONGER product token must not claim a shorter agent: agent
    // "googlebot" falls through to * even though a googlebot-images
    // group exists
    val longer =
      """User-agent: googlebot-images
        |Disallow: /img/
        |
        |User-agent: *
        |Disallow: /generic/
        |""".stripMargin
    assert(Robots.parseRules(longer, "googlebot") ==
      Vector(Robots.Rule("/generic/", allow = false)))
    assert(Robots.parseRules(longer, "googlebot-images-v2") ==
      Vector(Robots.Rule("/img/", allow = false)))
  }

  test("matches: RFC wildcards * and $") {
    assert(Robots.matches("/a/b.pdf", "/a/"))
    assert(Robots.matches("/a/b.pdf", "/*.pdf"))
    assert(Robots.matches("/a/b.pdf", "/*.pdf$"))
    assert(!Robots.matches("/a/b.pdfx", "/*.pdf$"))
    assert(Robots.matches("/a/b.pdfx", "/*.pdf"))
    assert(!Robots.matches("/c/b.gif", "/*.pdf"))
  }

  test("allowedDecision: longest match wins, ties to Allow, no rule allows") {
    val s = spark
    import s.implicits._
    val rules = Seq(
      ("h.example.com", "/doc/", false),
      ("h.example.com", "/doc/pub", true),
      ("h.example.com", "/tie/", true), // same-length tie:
      ("h.example.com", "/tie-", false) // different prefixes, no tie here
    ).toDF("host", "prefix", "allow")
    val pages = Seq(
      (1L, "https://h.example.com/doc/secret"),   // /doc/ -> deny
      (2L, "https://h.example.com/doc/public-1"), // longest /doc/pub -> allow
      (3L, "https://h.example.com/other"),        // no rule -> allow
      (4L, "https://other.example.com/doc/x")     // other host -> allow
    ).toDF("id", "url")
    val got = Robots.allowedDecision(pages, "url", rules)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getBoolean(2)))
    assert(got.toSeq == Seq((1L, false), (2L, true), (3L, true), (4L, true)))
    val kept = filterAllowed(pages, "url", rules)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L, 4L))
    // exact same-length tie goes to Allow (RFC 9309 §2.2.2)
    val tie = Seq(("t.example.com", "/p/", true), ("t.example.com", "/p/", false))
      .toDF("host", "prefix", "allow")
    val one = Seq((9L, "https://t.example.com/p/x")).toDF("id", "url")
    assert(Robots.allowedDecision(one, "url", tie).head().getBoolean(2))
    // plan: rules broadcast, corpus never repartitioned
    val plan = Robots.allowedDecision(pages, "url", rules)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"rules must broadcast:\n$plan")
  }

  test("allowedDecision: duplicate rows survive and MapType columns are fine") {
    val s = spark
    import s.implicits._
    val rules = Seq(("d.example.com", "/no/", false)).toDF("host", "prefix", "allow")
    // two IDENTICAL page rows (raw crawl input, pre-dedup): the gate only
    // adds a column, so both must come out the other side
    val pages = Seq(
      (5L, "https://d.example.com/no/x"),
      (5L, "https://d.example.com/no/x"),
      (6L, "https://d.example.com/yes")
    ).toDF("id", "url")
      .withColumn("meta", map(lit("k"), col("id"))) // non-groupable MapType
    val got = Robots.allowedDecision(pages, "url", rules)
      .orderBy("id").collect()
    assert(got.length == 3, "full-row duplicates must not be collapsed")
    assert(got.map(r => (r.getLong(0), r.getBoolean(3))).toSeq ==
      Seq((5L, false), (5L, false), (6L, true)))
    assert(got.head.getMap[String, Long](2)("k") == 5L)
  }

  test("allowedDecision: RFC wildcard rules run through the same broadcast join") {
    val s = spark
    import s.implicits._
    val rules = Seq(
      ("w.example.com", "/*.pdf$", false), // anchored wildcard deny, len 7
      ("w.example.com", "/pub/", true),    // literal allow, len 5
      ("w.example.com", "/p+q/*.x", false) // regex metachars stay literal
    ).toDF("host", "prefix", "allow")
    val pages = Seq(
      (1L, "https://w.example.com/docs/a.pdf"),  // wildcard deny
      (2L, "https://w.example.com/docs/a.pdfx"), // $ anchor: no match -> allow
      (3L, "https://w.example.com/pub/b.pdf"),   // deny (len 7) beats allow (len 5)
      (4L, "https://w.example.com/p+q/m.x"),     // '+' is literal, '*' spans
      (5L, "https://w.example.com/ppq/m.x")      // '+' must NOT mean regex 'p+'
    ).toDF("id", "url")
    val got = Robots.allowedDecision(pages, "url", rules)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getBoolean(2)))
    assert(got.toSeq == Seq(
      (1L, false), (2L, true), (3L, false), (4L, false), (5L, true)))
  }

  test("sitemaps: group-independent, case-insensitive key, document order, dups kept") {
    val txt =
      """Sitemap: https://a.example.com/s1.xml
        |User-agent: graftbot
        |Disallow: /x/
        |sitemap: https://a.example.com/s2.xml
        |User-agent: *
        |SITEMAP: https://a.example.com/s1.xml
        |Sitemap:
        |""".stripMargin
    assert(Robots.sitemaps(txt) == Vector(
      "https://a.example.com/s1.xml",
      "https://a.example.com/s2.xml",
      "https://a.example.com/s1.xml")) // duplicate preserved; empty dropped
  }

  test("crawlDelay: winning group only — the * delay never leaks; unparseable ignored") {
    val txt =
      """User-agent: graftbot
        |Crawl-delay: 4
        |Disallow: /x/
        |User-agent: *
        |Crawl-delay: 99
        |Allow: /
        |""".stripMargin
    assert(Robots.crawlDelay(txt, "graftbot").contains(4L))
    assert(Robots.crawlDelay(txt, "otherbot").contains(99L))
    // winning group has no delay → None, NOT the * group's 99
    val noDelay = "User-agent: graftbot\nDisallow: /x/\nUser-agent: *\nCrawl-delay: 99\n"
    assert(Robots.crawlDelay(noDelay, "graftbot").isEmpty)
    assert(Robots.crawlDelay("User-agent: *\nCrawl-delay: fast\n", "b").isEmpty)
    // crawl-delay is rule-like: a user-agent line after it starts a NEW group
    val grouped = "User-agent: a\nCrawl-delay: 7\nUser-agent: b\nDisallow: /y/\n"
    assert(Robots.parseRules(grouped, "b") == Vector(Robots.Rule("/y/", allow = false)))
    assert(Robots.parseRules(grouped, "a").isEmpty)
    assert(Robots.crawlDelay(grouped, "a").contains(7L))
    assert(Robots.crawlDelay(grouped, "b").isEmpty)
  }

  test("directives: scan-side harvest with no exchange") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "Sitemap: https://a/s.xml\nUser-agent: graftbot\nCrawl-delay: 3\nDisallow: /x/\n"),
      (2L, "User-agent: *\nDisallow: /\n")).toDF("id", "body")
    val got = Robots.directives(df, "id", "body", "graftbot")
      .orderBy("id").collect()
    assert(got(0).getString(1) == "https://a/s.xml" && got(0).getLong(2) == 3L)
    assert(got(1).getString(1) == "" && got(1).getLong(2) == -1L)
    val p = Robots.directives(df, "id", "body", "graftbot")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }
}
