package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** robots.txt compliance (RFC 9309, the Robots Exclusion Protocol) — the
  * politeness gate between a crawl frontier and the extraction pipeline.
  *
  * Two pieces: a from-scratch robots.txt parser (group selection by
  * most-specific user-agent, Allow/Disallow rule harvest) and a
  * corpus-scale decision operator: pages join a (host, prefix, allow)
  * rules table and the LONGEST matching prefix wins, ties to Allow, no
  * match means allowed — RFC 9309 §2.2.2 semantics, expressed as a
  * broadcast join + map-side argmax (rules tables are host-cardinality;
  * the corpus is never shuffled).
  */
object Robots {

  final case class Rule(prefix: String, allow: Boolean)

  /** Parse one robots.txt body for `agent`: pick the group whose
    * user-agent token is the longest case-insensitive substring-prefix of
    * `agent` ("*" matches anything, specificity 0), then return its rules.
    * Empty Disallow ("Disallow:") means allow-all and contributes no rule,
    * per the RFC. Wildcard-bearing rules (*, $) are kept verbatim — the
    * SQL decision operator below handles literal prefixes, which is what
    * the overwhelming majority of real rules are; route wildcard rules to
    * [[matches]] for per-record evaluation.
    */
  def parseRules(content: String, agent: String): Vector[Rule] =
    winningGroups(content, agent).flatMap(_.rules)

  private final case class Group(agents: Vector[String], rules: Vector[Rule],
                                 delay: Option[Long])

  private def winningGroups(content: String, agent: String): Vector[Group] = {
    val lc = agent.toLowerCase
    var groups = Vector.empty[Group]
    var curAgents = Vector.empty[String]
    var curRules = Vector.empty[Rule]
    var curDelay: Option[Long] = None
    var inRules = false
    def flush(): Unit = {
      if (curAgents.nonEmpty) groups :+= Group(curAgents, curRules, curDelay)
      curAgents = Vector.empty; curRules = Vector.empty; curDelay = None
      inRules = false
    }
    content.linesIterator.foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val c = line.indexOf(':')
      if (c > 0) {
        val key = line.substring(0, c).trim.toLowerCase
        val value = line.substring(c + 1).trim
        key match {
          case "user-agent" =>
            if (inRules) flush()
            curAgents :+= value.toLowerCase
          case "allow" | "disallow" =>
            inRules = true
            if (value.nonEmpty) curRules :+= Rule(value, key == "allow")
          case "crawl-delay" =>
            // de-facto standard, not RFC 9309 — rule-like: it belongs to
            // the open group, and a later user-agent line starts a new one
            inRules = true
            if (curDelay.isEmpty) curDelay = value.toLongOption
          case _ => () // sitemap, unknown: group-independent, ignored here
        }
      }
    }
    flush()
    // RFC 9309 §2.2.1: a crawler matches a group when its product token is
    // identified by the group's user-agent line — the line's token must be
    // a prefix of the agent (never the reverse: a group for
    // "googlebot-images" must NOT claim agent "googlebot"). ALL groups at
    // the winning specificity merge, in document order.
    def specificity(g: Group): Int =
      g.agents.collect {
        case "*" => 0
        case a if lc.startsWith(a) => a.length
      }.maxOption.getOrElse(-1)
    val scored = groups.map(g => (specificity(g), g)).filter(_._1 >= 0)
    scored.map(_._1).maxOption match {
      case None => Vector.empty
      case Some(best) => scored.collect { case (s, g) if s == best => g }
    }
  }

  /** Crawl-delay (seconds) for `agent`: the first delay declared among the
    * winning groups in document order, None when the winning groups carry
    * none — the `*` group's delay does NOT leak into a more specific
    * group's decision (same winner-takes-all as the rules themselves).
    * Unparseable values are ignored.
    */
  def crawlDelay(content: String, agent: String): Option[Long] =
    winningGroups(content, agent).flatMap(_.delay).headOption

  /** `Sitemap:` directives (sitemaps.org robots.txt submission): case
    * -insensitive key, group-INDEPENDENT per RFC 9309 §2.2.4 "other
    * records" — harvested wherever they appear, in document order,
    * duplicates preserved (the caller's frontier dedups). Values are
    * absolute URLs by contract; '#' still starts a comment (sitemap URLs
    * don't carry fragments).
    */
  def sitemaps(content: String): Vector[String] =
    content.linesIterator.flatMap { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val c = line.indexOf(':')
      if (c > 0 && line.substring(0, c).trim.equalsIgnoreCase("sitemap")) {
        val v = line.substring(c + 1).trim
        if (v.nonEmpty) Some(v) else None
      } else None
    }.toVector

  /** Per-host directive harvest as a DataFrame op: for each robots.txt
    * body, the sitemap list ('|'-joined, document order) and the
    * crawl-delay for `agent` (-1 when absent). Scan-side map, one output
    * row per input row, no exchange — the discovery companion to
    * [[allowedDecision]]: its sitemap URLs feed [[Sitemap.parse]], its
    * delay feeds the frontier scheduler.
    */
  def directives(df: DataFrame, idCol: String, contentCol: String,
                 agent: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(contentCol).cast("string"))
      .as[(Long, String)]
      .map { case (id, body) =>
        (id, sitemaps(body).mkString("|"), crawlDelay(body, agent).getOrElse(-1L))
      }
      .toDF(idCol, "sitemaps", "crawl_delay")
  }

  /** Single-rule match with RFC wildcards: '*' spans anything, '$' anchors
    * the end. Used for the minority of wildcard rules; literal prefixes go
    * through the SQL operator.
    */
  def matches(path: String, rulePrefix: String): Boolean = {
    val anchored = rulePrefix.endsWith("$")
    val body = if (anchored) rulePrefix.dropRight(1) else rulePrefix
    val pat = body.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString(".*")
    path.matches("^" + pat + (if (anchored) "$" else ".*"))
  }

  /** Per-page allow decision against a (host, prefix, allow) rules table:
    * adds an `allowed` column. Longest matching rule wins (specificity =
    * rule length, the Googlebot interpretation of RFC 9309's "most
    * octets"), ties go to allow, hosts/paths with no matching rule are
    * allowed. Rules may carry the RFC wildcards: '*' spans anything, a
    * trailing '$' anchors the end — literal rules (the overwhelming
    * majority) match via startswith; wildcard rules compile to an
    * anchored regex column and match via RLIKE, all inside the same
    * broadcast join.
    *
    * Plan: broadcast the rules table, theta-join on host equality +
    * match predicate (each page meets only its host's few rules), then
    * the argmax collapses map-side as a max-of-struct aggregate — the
    * shuffle carries one row per page, and the corpus is never
    * repartitioned.
    */
  def allowedDecision(pages: DataFrame, urlCol: String,
                      rules: DataFrame): DataFrame = {
    val host = lower(parse_url(col(urlCol), lit("HOST")))
    val path = coalesce(parse_url(col(urlCol), lit("PATH")), lit("/"))
    val p = pages.withColumn("__host", host).withColumn("__path", path)
    // wildcard rules → anchored regex, built COLUMN-side so the rules
    // table stays data: strip a trailing '$' (anchor), quote every regex
    // metacharacter except '*', then widen '*' to '.*'
    val anchored = col("prefix").endsWith("$")
    val body = when(anchored, expr("substring(prefix, 1, length(prefix) - 1)"))
      .otherwise(col("prefix"))
    val quoted = regexp_replace(body,
      lit("([\\\\.\\[\\]\\{\\}\\(\\)\\+\\-\\^\\$\\?\\|])"), lit("\\\\$1"))
    val pattern = concat(lit("^"), regexp_replace(quoted, lit("\\*"), lit(".*")),
      when(anchored, lit("$")).otherwise(lit("")))
    val isWild = col("prefix").contains("*") || anchored
    val r = rules.select(col("host").as("__rhost"), col("prefix"), col("allow"),
      isWild.as("__wild"), pattern.as("__pat"))
    val matchPred =
      when(col("__wild"), regexp_like(col("__path"), col("__pat")))
        .otherwise(col("__path").startsWith(col("prefix")))
    // aggregate on a synthetic unique row key, not the page columns:
    // full-row duplicate pages (common pre-dedup crawl input) must survive
    // the gate, and page columns of non-groupable types (MapType) must not
    // break analysis — the contract is "adds an allowed column", nothing else.
    val keyed = p.withColumn("__rid", monotonically_increasing_id())
    val firsts = pages.columns.map(c => first(col(c)).as(c))
    // unmatched rows coalesce to (-1, allow): outranked by any real rule
    val best = max(struct(
      coalesce(length(col("prefix")), lit(-1)).as("l"),
      coalesce(col("allow"), lit(true)).as("a"))).as("best")
    val aggs = firsts :+ best
    keyed.join(broadcast(r),
        col("__host") === col("__rhost") && matchPred,
        "left")
      .groupBy(col("__rid"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("allowed", col("best.a"))
      .drop("best", "__rid")
  }
}
