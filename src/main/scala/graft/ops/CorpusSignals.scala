package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

/** Per-document web-corpus quality signals beyond TextStats: the Gopher
  * repetition filters, PII redaction, Unicode canonicalization, and URL
  * host handling — the remaining standard stages of a training-data
  * curation pipeline (Rae et al. 2021 §A1.1; Penedo et al. 2023 RefinedWeb
  * §3). Everything is scan-side Column arithmetic over native codegen
  * kernels: no shuffle, no UDF, no driver state.
  */
object CorpusSignals {

  /** gram_stats(text, n) as a Column — struct(n_grams, n_distinct, top_cov).
    * See graft.functions.GramStats for the one-pass kernel.
    */
  def gramStats(text: Column, n: Int): Column =
    GraftBridge.column(graft.functions.GramStats(GraftBridge.expression(text), n))

  /** Unicode NFC canonicalization (graft.functions.NormalizeNFC). */
  def nfc(text: Column): Column =
    GraftBridge.column(graft.functions.NormalizeNFC(GraftBridge.expression(text)))

  /** IDN host canonicalization to ACE/punycode (graft.functions.IdnHost):
    * apply to hosts BEFORE registeredDomain / host caps / politeness so
    * IRI-form and DNS-form spellings of the same zone collide.
    */
  def idnHost(host: Column): Column =
    GraftBridge.column(graft.functions.IdnHost(GraftBridge.expression(host)))

  /** Canonical text for hashing/dedup: NFC, whitespace runs collapsed to a
    * single space, ends trimmed. Apply BEFORE any hash-keyed operator so
    * byte-level crawl noise (NBSP-vs-space is NOT folded — that is a
    * content edit; composed-vs-decomposed IS) can't split duplicate groups.
    */
  def canonText(text: Column): Column =
    trim(regexp_replace(nfc(text), "\\s+", " "))

  /** Repetition profile table: per doc, for each n in `ns`, the total and
    * distinct n-gram counts plus duplicate-occurrence fraction; top-gram
    * character coverage for the FIRST n (the classic Gopher top-2-gram
    * signal). One Generate per n evaluates each kernel exactly once per
    * row — selecting struct fields through a collapsed projection would
    * re-run the kernel per field.
    *
    * Docs with fewer than max(ns) tokens are excluded (their largest-n
    * profile is undefined; a div-by-zero NaN row helps nobody downstream).
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
                        ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), "ns must be non-empty, all >= 1")
    val base = df
      .where(size(split(col(textCol), " ")) >= ns.max)
      .select(col(idCol).as("id"), col(textCol).as("t"),
        length(col(textCol)).cast("long").as("n_chars"))
    val staged = ns.foldLeft(base) { (acc, n) =>
      acc.select(col("*"), inline(array(gramStats(col("t"), n))))
        .withColumnRenamed("n_grams", s"n_grams$n")
        .withColumnRenamed("n_distinct", s"n_distinct$n")
        .withColumnRenamed("top_cov", s"top_cov$n")
    }
    val metricCols = ns.flatMap { n =>
      Seq(
        col(s"n_grams$n"),
        ((col(s"n_grams$n") - col(s"n_distinct$n")).cast("double") /
          col(s"n_grams$n")).as(s"dup${n}_frac"))
    }
    val topN = ns.head
    staged.select(
      (col("id") +: metricCols :+
        (col(s"top_cov$topN").cast("double") / col("n_chars"))
          .as(s"top${topN}_frac")): _*)
  }

  /** The composite Gopher-style KEEP decision (Rae et al. 2021 §A1.1, the
    * constants adapted to this pipeline's signals — the exact arithmetic is
    * the contract, oracle-verified): a document survives iff
    *   - ok_len:     50 ≤ whitespace tokens ≤ 100000
    *   - ok_tok_len: mean token length in [3, 10]
    *   - ok_stop:    ≥ 2 stopword hits (the "function word" rule)
    *   - ok_dup2:    duplicate word-2-gram fraction ≤ 0.3 (vacuously true
    *                 below 2 tokens, where no 2-gram exists)
    * Returns one row per doc with each rule's verdict AND the conjunction —
    * per-rule columns are what a curation run reports (which rule fires how
    * often per source decides threshold tuning).
    *
    * Scan-side only: the simple rules are Column arithmetic over TextStats;
    * the repetition rule rides the one-pass gram_stats kernel through an
    * inline(array(...)) Generate boundary so the kernel runs ONCE per row
    * (projecting two struct fields through a collapsed projection would run
    * it twice). No shuffle anywhere.
    */
  def gopherGate(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val staged = df.select(
      col(idCol).as("id"),
      TextStats.tokenCount(t).cast("long").as("n_tokens"),
      TextStats.tokenCount(t).between(50, 100000).as("ok_len"),
      (TextStats.meanTokenLen(t) >= 3.0 && TextStats.meanTokenLen(t) <= 10.0)
        .as("ok_tok_len"),
      (TextStats.stopwordHits(t) >= 2).as("ok_stop"),
      inline(array(gramStats(t, 2))))
    staged.select(
      col("id"), col("ok_len"), col("ok_tok_len"), col("ok_stop"),
      when(col("n_tokens") < 2, lit(true))
        .otherwise((col("n_grams") - col("n_distinct")).cast("double") /
          col("n_grams") <= 0.3).as("ok_dup2"))
      .withColumn("keep",
        col("ok_len") && col("ok_tok_len") && col("ok_stop") && col("ok_dup2"))
  }

  // ------------------------------------------------------------------ PII
  // Patterns restricted to the regex intersection of java.util.regex and
  // RE2 (no backrefs, no lookaround) so the DuckDB oracle runs the SAME
  // pattern text. Order matters: emails first (their local parts contain
  // dots and digits that the later patterns would otherwise bite into).
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Redact emails, then IPv4 literals, then NANP-style phone numbers.
    * Three chained regexp_replace calls — codegen'd, scan-side; the
    * per-kind counts (for the redaction metrics a curation run reports)
    * come from [[piiCounts]] on the ORIGINAL text.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** (n_emails, n_ips, n_phones) found in the text — counted on the
    * unredacted input with the same patterns redactPii removes.
    */
  def piiCounts(text: Column): Column = struct(
    size(regexp_extract_all(text, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
    size(regexp_extract_all(text, lit(Ipv4Re), lit(0))).cast("long").as("n_ips"),
    size(regexp_extract_all(text, lit(PhoneRe), lit(0))).cast("long").as("n_phones"))

  // 13–16 contiguous digits: the PAN length band of the major card
  // networks. Leftmost-greedy in both java.util.regex and RE2, so a longer
  // digit run yields the same candidate slices on either engine.
  val CardCandidateRe = "[0-9]{13,16}"

  /** ISO/IEC 7812 Luhn check over a digits-only string Column: from the
    * RIGHTMOST digit, double every second digit (subtracting 9 when the
    * double exceeds 9) and require the sum ≡ 0 (mod 10). With 1-based
    * left position j in a string of length L, the right-position is L−j,
    * and the digit is doubled iff L−j is odd. Pure integer HOF arithmetic
    * (substr is 1-based in both engines) — codegen'd, scan-side,
    * reproducible — which is what separates an actionable "card-number
    * PII" verdict from a bare digit-run regex: any random 13–16 digit run
    * (ids, timestamps, order numbers) matches the regex; only ~1 in 10
    * passes Luhn, and real PANs always do.
    */
  def luhnOk(digits: Column): Column = {
    val sum = aggregate(
      sequence(lit(1), length(digits)),
      lit(0),
      (acc, j) => {
        val d = digits.substr(j, lit(1)).cast("int")
        val dd = d * 2
        acc + when(pmod(length(digits) - j, lit(2)) === 1,
          when(dd > 9, dd - 9).otherwise(dd)).otherwise(d)
      })
    pmod(sum, lit(10)) === 0
  }

  /** (n_card_cand, n_luhn_valid) per text: digit runs in the PAN length
    * band, and the subset passing [[luhnOk]]. Scan-side; a count pair
    * (not a boolean) so policy can distinguish "numeric page" from "page
    * leaking card numbers".
    */
  def cardCounts(text: Column): Column = {
    val cands = regexp_extract_all(text, lit(CardCandidateRe), lit(0))
    struct(
      size(cands).cast("long").as("n_card_cand"),
      size(filter(cands, luhnOk _)).cast("long").as("n_luhn_valid"))
  }

  /** The corpus data card: one row per group (e.g. source × lang) with the
    * counts a curation run publishes — documents, tokens, chars, gate pass
    * count, mean quality, corpus-level 2-gram duplication, PII counts.
    *
    * Determinism discipline: every aggregated value is INTEGRAL (counts,
    * token sums, quality quantized to micro-units scan-side), so double
    * sums are exact and aggregation-order-independent — the report hashes
    * identically on any engine or partitioning. Derived ratios are single
    * fixed-order divisions on top. avg(quality) directly would NOT be
    * reproducible: non-integral double sums round differently per
    * partition order.
    *
    * Plan: one scan (all signals are scan-side Columns; the gram kernel
    * rides a Generate boundary, once per row) + ONE hash aggregate with
    * map-side partial combine. Nothing else.
    */
  def corpusReport(df: DataFrame, textCol: String,
                   groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "corpusReport: need at least one group column")
    val t = col(textCol)
    val staged = df.select(groupCols.map(col) ++ Seq(
      TextStats.tokenCount(t).cast("long").as("__tok"),
      length(t).cast("long").as("__chars"),
      floor(TextStats.qualityScore(t) * 1000000.0 + 0.5).cast("long").as("__q6"),
      (TextStats.meanTokenLen(t) >= 3.0 && TextStats.meanTokenLen(t) <= 10.0)
        .as("__okMtl"),
      (TextStats.stopwordHits(t) >= 2).as("__okStop"),
      size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long").as("__em"),
      size(regexp_extract_all(t, lit(Ipv4Re), lit(0))).cast("long").as("__ip"),
      size(regexp_extract_all(t, lit(PhoneRe), lit(0))).cast("long").as("__ph"),
      inline(array(gramStats(t, 2)))): _*)
    val keep = col("__tok").between(50L, 100000L) && col("__okMtl") &&
      col("__okStop") &&
      (col("__tok") < 2 ||
        (col("n_grams") - col("n_distinct")).cast("double") / col("n_grams") <= 0.3)
    staged.withColumn("__keep", keep)
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("n_tokens"),
        sum(col("__chars")).as("n_chars"),
        sum(col("__keep").cast("long")).as("n_keep"),
        sum(col("__q6")).as("__q6sum"),
        sum(col("n_grams")).as("__g2"),
        sum(col("n_distinct")).as("__g2d"),
        sum(col("__em")).as("n_emails"),
        sum(col("__ip")).as("n_ips"),
        sum(col("__ph")).as("n_phones"))
      .select(groupCols.map(col) ++ Seq(
        col("n_docs"), col("n_tokens"), col("n_chars"), col("n_keep"),
        ((col("__q6sum").cast("double") / col("n_docs")) / 1000000.0)
          .as("mean_quality"),
        (col("n_keep").cast("double") / col("n_docs")).as("keep_rate"),
        when(col("__g2") === 0, 0.0)
          .otherwise((col("__g2") - col("__g2d")).cast("double") / col("__g2"))
          .as("dup2_frac"),
        col("n_emails"), col("n_ips"), col("n_phones")): _*)
  }

  // ----------------------------------------------------------------- vocab
  /** Corpus vocabulary head: top-k tokens by document frequency (ties by
    * token), with term frequency — the df table TF-IDF and stopword-list
    * induction start from. One shuffle (hash aggregate on token, map-side
    * partial combine); the global top-k plans as TakeOrderedAndProject —
    * per-partition heads merged on the driver, never a full sort.
    */
  def vocab(df: DataFrame, idCol: String, textCol: String,
            topK: Int = 100): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    df.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("token"))
      .groupBy("token").agg(
        countDistinct(col("id")).as("doc_freq"),
        count(lit(1)).as("term_freq"))
      .orderBy(col("doc_freq").desc, col("token"))
      .limit(topK)
  }

  /** Vocabulary drift between two crawl snapshots: per-token document
    * frequency in snapshot A vs snapshot B (membership given by the caller's
    * boolean `snapshotB` column — a crawl-id predicate, a date cut, a split
    * flag), ranked by absolute df change. The monitoring query a continuously
    * re-crawled corpus runs per snapshot pair: a topic surge, a template
    * change, or a language-mix shift all surface here first.
    *
    * Scale: one hash aggregate on token (map-side partial combine); the two
    * conditional distinct counts plan as a single Expand(×2)+aggregate, so
    * the corpus is scanned and shuffled exactly once; the global ranking is
    * TakeOrderedAndProject (per-partition heads, no full sort). All outputs
    * integral, so cross-engine hashes are exact.
    */
  def vocabDrift(df: DataFrame, idCol: String, textCol: String,
                 snapshotB: Column, topK: Int = 50): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    df.select(col(idCol).as("id"), snapshotB.cast("boolean").as("b"),
        explode(split(col(textCol), " ")).as("token"))
      .where(length(col("token")) > 0)
      .groupBy("token").agg(
        countDistinct(when(!col("b"), col("id"))).as("df_a"),
        countDistinct(when(col("b"), col("id"))).as("df_b"))
      .withColumn("drift", col("df_b") - col("df_a"))
      .orderBy(abs(col("drift")).desc, col("token"))
      .limit(topK)
  }

  /** Source-vs-corpus token-distribution divergence: per source, the
    * Pearson chi-square statistic of its observed token counts against the
    * corpus-wide distribution, restricted to tokens the source actually
    * contains (the standard observed-support drift monitor — the full
    * cross of every source with every vocabulary token is the thing this
    * deliberately avoids). The statistic flags a source whose token mix has
    * diverged from the pool: a template flood, a language shift, spam.
    *
    * Bit-stability: each per-token contribution (o−e)²/e is computed in
    * IEEE doubles with a FIXED operation order shared with the oracle,
    * quantized to milli-units (`floor(x·1000+0.5)`) as BIGINT, and only
    * then summed — integer sums are order-independent, so the result is
    * identical across partitionings and engines.
    *
    * Scale: one (source, token) hash aggregate over the exploded corpus,
    * a vocabulary-sized re-aggregate for corpus counts, an equi-join on
    * token (both sides vocabulary-sized — NOT broadcast), the |sources|-row
    * totals broadcast back, and a final tiny aggregate on source.
    */
  def tokenDivergence(df: DataFrame, sourceCol: String,
                      textCol: String): DataFrame = {
    val tok = df.select(col(sourceCol).as("source"),
        explode(split(col(textCol), " ")).as("token"))
      .where(length(col("token")) > 0)
    val tf = tok.groupBy("source", "token").agg(count(lit(1)).as("o"))
    val corpus = tf.groupBy("token").agg(sum("o").as("tf_c"))
    val ns = tf.groupBy("source").agg(sum("o").as("n_s"))
    val nc = corpus.agg(sum("tf_c").as("n_c"))
    val e = col("tf_c").cast("double") * col("n_s").cast("double") /
      col("n_c").cast("double")
    val diff = col("o").cast("double") - e
    tf.join(corpus, Seq("token"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(nc))
      .select(col("source"), col("n_s"),
        floor(diff * diff / e * lit(1000.0) + lit(0.5)).cast("long").as("c"))
      .groupBy("source").agg(
        max(col("n_s")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("c")).as("chi2_milli"))
      .orderBy("source")
  }

  // ------------------------------------------------------------------ URLs
  /** Registered host of a URL — the partition-skew axis of every web
    * corpus (one host can own 1% of a crawl). parse_url is Spark-native
    * (codegen'd); the oracle mirrors it with a regexp on well-formed URLs.
    */
  def host(url: Column): Column = lower(parse_url(url, lit("HOST")))

  /** Multi-label public suffixes for [[registeredDomain]] — a working
    * subset of the Public Suffix List. The PSL proper is a data file a
    * deployment ships and feeds here; the ALGORITHM (longest matching
    * suffix + one label) is what this function pins, and what grouping
    * "by domain" actually needs: co.uk sites are NOT one domain.
    */
  val MultiLabelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "co.jp", "or.jp", "ne.jp",
    "com.au", "net.au", "org.au", "com.br", "com.cn", "com.mx", "co.in",
    "co.kr", "co.za", "com.ar", "com.tr")

  /** Registered (pay-level) domain of a host: the public-suffix algorithm
    * over [[MultiLabelSuffixes]] — suffix plus one label. Hosts with ≤2
    * labels (or that ARE a listed suffix) pass through unchanged. CCNet
    * groups, host caps, and crawl politeness all key on THIS, not the raw
    * host: sub.a.example.co.uk and b.example.co.uk are one publisher.
    * Scan-side Column arithmetic; no UDF.
    */
  def registeredDomain(hostCol: Column): Column = {
    val parts = split(hostCol, "\\.")
    val n = size(parts)
    val last2 = concat_ws(".", element_at(parts, -2), element_at(parts, -1))
    val last3 = concat_ws(".", element_at(parts, -3), element_at(parts, -2),
      element_at(parts, -1))
    when(n <= 2, hostCol)
      .when(last2.isin(MultiLabelSuffixes: _*), last3)
      .otherwise(last2)
  }

  /** Query params dropped by [[canonUrl]]: tracking keys that vary per
    * click without changing the resource — the reason one page shows up as
    * thousands of "distinct" URLs in a crawl.
    */
  val TrackingParamRe = "^(utm_[^=]*|fbclid|gclid)(=.*)?$"

  /** URL canonicalization — the identity key for URL-level dedup and
    * host-level statistics. Without it a crawl counts the same page once
    * per click-tracking variant and once per scheme/host case variant.
    *   - scheme and authority lowercased (path/query case is significant)
    *   - default ports stripped (http :80, https :443; others kept)
    *   - fragment dropped (client-side only, never reaches the server)
    *   - tracking params removed ([[TrackingParamRe]]), the rest sorted
    *     byte-wise and rejoined; a now-empty query drops its '?'
    * Scan-side Column chain over parse_url (codegen'd) + one small array
    * HOF for the param set; the oracle re-parses with generic regexps over
    * well-formed URLs (the parse_url-mirror precedent of q_host_cap).
    */
  def canonUrl(url: Column): Column = {
    val proto = lower(parse_url(url, lit("PROTOCOL")))
    val auth0 = lower(parse_url(url, lit("AUTHORITY")))
    val auth = when(proto === "http", regexp_replace(auth0, ":80$", ""))
      .when(proto === "https", regexp_replace(auth0, ":443$", ""))
      .otherwise(auth0)
    val path = coalesce(parse_url(url, lit("PATH")), lit(""))
    val kept = filter(split(coalesce(parse_url(url, lit("QUERY")), lit("")), "&"),
      x => !x.rlike(TrackingParamRe) && x =!= "")
    val canonQ = array_join(array_sort(kept), "&")
    concat(proto, lit("://"), auth, path,
      when(canonQ === "", lit("")).otherwise(concat(lit("?"), canonQ)))
  }

  // date-in-URL-path: /YYYY/MM/DD/ — the blog/CMS permalink convention;
  // restricted to the java.util.regex ∩ RE2 subset so the oracle runs the
  // same pattern text
  val UrlDateRe = "/((?:19|20)[0-9]{2})/([0-9]{2})/([0-9]{2})/"
  // ISO-8601 date in body text (dateline / "Published: 2023-05-12")
  val TextDateRe = "\\b((?:19|20)[0-9]{2})-([0-9]{2})-([0-9]{2})\\b"

  private def validDate(y: Column, m: Column, d: Column): Column = {
    // regexp_extract yields "" on no match; ANSI mode forbids ''::int
    def toInt(c: Column): Column = when(c =!= "", c).cast("int")
    val mi = toInt(m); val di = toInt(d)
    when(mi >= 1 && mi <= 12 && di >= 1 && di <= 31,
      concat(y, lit("-"), m, lit("-"), d))
  }

  /** Publish date from the URL path (`/YYYY/MM/DD/` permalink segment) as
    * an ISO `YYYY-MM-DD` string, null when absent or invalid (month/day
    * range-checked — `/2023/99/99/` is a counter, not a date). The
    * temporal-filtering signal a training-data pipeline wants when the
    * crawl timestamp is fetch time, not content time.
    */
  def urlDate(url: Column): Column =
    validDate(
      regexp_extract(url, UrlDateRe, 1),
      regexp_extract(url, UrlDateRe, 2),
      regexp_extract(url, UrlDateRe, 3))

  /** First ISO-8601 date in the text body (dateline), range-checked like
    * [[urlDate]]; null when the body carries none.
    */
  def textDate(text: Column): Column =
    validDate(
      regexp_extract(text, TextDateRe, 1),
      regexp_extract(text, TextDateRe, 2),
      regexp_extract(text, TextDateRe, 3))

  /** Best-effort publish date: URL permalink wins (it is the page's OWN
    * claim of publication period and is immune to body-text noise), body
    * dateline second. Both scan-side regex — zero exchange.
    */
  def pubDate(url: Column, text: Column): Column =
    coalesce(urlDate(url), textDate(text))

  /** Overlong-document truncation keeping HEAD + TAIL — the preprocessing
    * policy for a fixed context budget that beats head-only truncation
    * (documents carry conclusions/footers whose loss measurably hurts;
    * the head+tail split is the common production compromise). Keeps the
    * first `headToks` and last `maxToks − headToks` whitespace tokens of
    * docs over budget; under-budget docs pass through BYTE-identical (no
    * split/rejoin round trip — repeated separators would not survive one).
    * Scan-side Column arithmetic, zero exchange.
    */
  def truncateMiddle(text: Column, maxToks: Int, headPpm: Long = 750000L): Column = {
    require(maxToks >= 2, "maxToks must be >= 2")
    require(headPpm > 0 && headPpm < 1000000L, "headPpm must be in (0, 10^6)")
    val headToks = ((maxToks * headPpm) / 1000000L).toInt.max(1)
    val tailToks = maxToks - headToks
    require(tailToks >= 1, "headPpm leaves no tail budget")
    val t = split(text, " ")
    when(size(t) <= maxToks, text)
      .otherwise(concat(
        array_join(slice(t, 1, headToks), " "), lit(" "),
        array_join(slice(t, -tailToks, tailToks), " ")))
  }

  /** Host-level reputation (RefinedWeb-style site filtering): aggregate an
    * integral per-doc quality (micro-units, quantized scan-side like
    * [[corpusReport]]) to (host, n_docs, mean_micro), and block hosts
    * whose mean falls below `minMeanMicro` WITH at least `minDocs` docs of
    * evidence — low-evidence hosts are never blocked (the asymmetry that
    * protects small sites from one bad page). The reputation table is
    * |hosts|-sized; gate docs with [[gateByHostReputation]].
    */
  def hostReputation(df: DataFrame, urlCol: String, qualityMicroCol: String,
                     minDocs: Long, minMeanMicro: Long): DataFrame =
    df.groupBy(host(col(urlCol)).as("host"))
      .agg(count(lit(1)).as("n_docs"), sum(col(qualityMicroCol)).as("__qsum"))
      .withColumn("mean_micro", expr("__qsum div n_docs"))
      .withColumn("blocked",
        col("n_docs") >= minDocs && col("mean_micro") < minMeanMicro)
      .drop("__qsum")

  /** Apply a [[hostReputation]] table: drop docs of blocked hosts; hosts
    * absent from the table keep (the miss direction crawls need). The
    * table is |hosts|-sized — broadcast join, the corpus never shuffles.
    * The join key is renamed to a reserved name first: corpus tables that
    * already carry a `host` column (any host-keyed upstream stage — incl.
    * hostReputation's own output) would otherwise make the bare
    * `col("host")` reference ambiguous and fail analysis.
    */
  def gateByHostReputation(df: DataFrame, urlCol: String, rep: DataFrame): DataFrame = {
    val blocked = rep.where(col("blocked")).select(col("host").as("__rep_host"))
    df.join(broadcast(blocked), host(col(urlCol)) === col("__rep_host"), "left")
      .where(col("__rep_host").isNull)
      .select(df.columns.map(col): _*)
  }

  /** Cap each host at `k` documents, chosen by deterministic hash priority
    * (smallest (hash(id, salt), id) first) — RefinedWeb-style host-level
    * quota. One shuffle on the host key; Spark 4's WindowGroupLimit bounds
    * the per-task spill so a mega-host never concentrates on one task (see
    * Sampling.stratifiedQuota, which this delegates to after deriving the
    * host column).
    */
  def hostCap(df: DataFrame, urlCol: String, idCol: String, k: Int,
              salt: String = "",
              hash: Column => Column = TextDedup.portableHash): DataFrame =
    Sampling.stratifiedQuota(
      df.withColumn("host", host(col(urlCol))), "host", idCol, k, salt, hash)

  /** The classic web-encoding bug as a lookup table: UTF-8 bytes decoded
    * as Windows-1252/Latin-1 ("mojibake"). Each entry maps the 2–3 char
    * artifact (what the corrupted page shows) to the intended character —
    * smart punctuation first (cp1252's €/™ block makes them 3 chars),
    * then the Latin-1 accents (2 chars, all starting 'Ã' or 'Â'). The
    * table is the SAME transform ftfy's most common fixes apply; entries
    * whose artifact contains an unprintable C1 control (e.g. U+201D's
    * "â€") are deliberately absent — they don't survive the text
    * layers this operator runs behind (stripInvisible deletes C1).
    */
  val MojibakeTable: Seq[(String, String)] = Seq(
    "â€™" -> "’", "â€˜" -> "‘", "â€œ" -> "“",
    "â€“" -> "–", "â€”" -> "—", "â€¦" -> "…",
    "Ã©" -> "é", "Ã¨" -> "è", "Ã¡" -> "á", "Ã³" -> "ó", "Ãº" -> "ú",
    "Ã±" -> "ñ", "Ã¼" -> "ü", "Ã¶" -> "ö", "Ã¤" -> "ä", "Ã§" -> "ç",
    "Â«" -> "«", "Â»" -> "»", "Â°" -> "°")

  private def replaceAllLit(text: Column, from: String, to: String): Column =
    call_function("replace", text, lit(from), lit(to))

  /** Total artifact occurrences in the text — the mojibake detector. Each
    * artifact is counted by length difference against its deletion
    * (exact integer arithmetic, no regex), summed over the table. A page
    * scoring > 0 was double-encoded somewhere on its path; a THRESHOLD on
    * this count is the routing policy (re-decode vs drop).
    */
  def mojibakeCount(text: Column): Column =
    MojibakeTable.map { case (a, _) =>
      ((length(text) - length(replaceAllLit(text, a, ""))) / a.length).cast("long")
    }.reduce(_ + _)

  /** Repair pass: apply the table left-to-right (entries are prefix-free
    * at equal first chars, so order only matters for determinism, which
    * the fixed table order provides). Chained codegen'd `replace` calls —
    * scan-side, zero exchange, exact on any engine.
    */
  def repairMojibake(text: Column): Column =
    MojibakeTable.foldLeft(text) { case (t, (a, b)) => replaceAllLit(t, a, b) }

  /** Invisible-character hygiene — the sanitize pass a modern LLM training
    * pipeline runs to kill zero-width/bidi/control payloads (invisible
    * prompt-injection and watermark channels ride exactly these):
    * zero-width + BOM + soft hyphen and bidi controls are DELETED, the
    * exotic Unicode spaces fold to ' ', and C0/C1 controls except \t\n\r
    * are deleted. Pure codegen'd regexp_replace chain, scan-side, zero
    * exchange; pair with [[nfc]] for full canonicalization.
    */
  def stripInvisible(text: Column): Column = {
    // zero-width & format controls: ZWSP..ZWJ, word joiner, BOM/ZWNBSP,
    // soft hyphen, bidi embedding/override/isolate controls
    val deleted = "[\\u200B-\\u200D\\u2060\\uFEFF\\u00AD\\u200E\\u200F\\u202A-\\u202E\\u2066-\\u2069]"
    // exotic horizontal whitespace -> plain space (NBSP, ogham, en/em..,
    // narrow nbsp, math space, ideographic space)
    val spaces = "[\\u00A0\\u1680\\u2000-\\u200A\\u202F\\u205F\\u3000]"
    // C0/C1 controls minus \t \n \r
    val controls = "[\\u0000-\\u0008\\u000B\\u000C\\u000E-\\u001F\\u007F-\\u009F]"
    regexp_replace(
      regexp_replace(regexp_replace(text, deleted, ""), spaces, " "),
      controls, "")
  }

  /** C4-style blocklist gate (Raffel et al. 2020 §2.2 drop pages containing
    * a blocklisted word): token-exact matching against a broadcast-sized
    * word set, case-folded — NOT substring matching, which is the classic
    * false-positive bug ("Scunthorpe"). Emits hit count + keep verdict;
    * scan-side (the set travels as a literal array; a table-valued variant
    * would broadcast-join the same way the decontam grams do).
    *
    * Tokens are whitespace units: "bad." does NOT match "bad" — run the
    * text through [[canonText]]/[[stripInvisible]] (or a punctuation
    * normalizer) first if the corpus isn't pre-tokenized; that keeps the
    * matching rule itself exact and auditable.
    */
  def blocklistGate(text: Column, words: Seq[String]): Column = {
    val set = array(words.map(w => lit(w.toLowerCase)): _*)
    val hits = size(filter(split(lower(text), " "), t => array_contains(set, t)))
    struct(hits.cast("long").as("n_bad"), (hits === 0).as("keep"))
  }

  /** Per-pattern counts of ALL substring occurrences (overlaps included)
    * in one pass — see [[graft.functions.MultiMatch]]: the Aho–Corasick
    * phrase scanner for multi-word blocklists and contamination probes,
    * where k patterns must not cost k regexp passes over the corpus.
    * Returns array<long> aligned with `patterns`. Substring semantics —
    * compose with [[blocklistGate]] for token-exact matching.
    */
  def multiMatchCounts(text: Column, patterns: Seq[String]): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.MultiMatch(
        org.apache.spark.sql.GraftBridge.expression(text), patterns))

  /** Per-document deflate compression ratio (×10^6, integer) — see
    * [[graft.functions.DeflateRatio]]: high = high-entropy noise, very low
    * = templated junk; the cut-from-both-ends signal of FineWeb-class
    * ablations. Scan-side native expression, zero exchange.
    */
  def compressionRatio(text: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.DeflateRatio(
        org.apache.spark.sql.GraftBridge.expression(text)))

  /** HLL rho of the W-bit remainder `w` — see [[hllRegisters]]. */
  private def hllRho(w: Column, W: Int): Column =
    when(w === 0L, lit(W + 1).cast("long"))
      .otherwise(lit(W).cast("long") - length(bin(w)) + 1L)

  /** The HLL bias-correction constant alpha_m (Flajolet et al. 2007). */
  private def hllAlpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }

  /** HyperLogLog register table (Flajolet et al. 2007) over a value column
    * — the constant-size cardinality sketch a 100 TB dedup/mixing planner
    * runs INSTEAD of countDistinct (whose exact hash aggregate must hold
    * every distinct key). bucket = h mod m, and rho = leading-zero count
    * + 1 of the remaining W bits (via bit length: rho = W - bitlen + 1,
    * W + 1 for an all-zero remainder) — integer-only, so the m-row
    * register table is bit-identical in any engine sharing the hash.
    * The aggregate is max(), fully map-side-combinable: each task reduces
    * its partition to ≤ m rows before the one tiny exchange. Absent
    * buckets are joined back as rho 0, so the output is always exactly m
    * rows. [[hllEstimate]] turns registers into the standard bias-corrected
    * estimate (the one float step, outside any oracle contract).
    */
  def hllRegisters(df: DataFrame, value: Column, m: Int,
                   hash: Column => Column = TextDedup.portableHash): DataFrame = {
    require(m >= 2 && (m & (m - 1)) == 0, "m must be a power of two")
    val logm = java.lang.Integer.numberOfTrailingZeros(m)
    val W = 60 - logm // portableHash is 60-bit
    val h = hash(value)
    val regs = df
      .select(pmod(h, lit(m.toLong)).as("bucket"),
        // shiftright, NOT division: long / long is DOUBLE division in
        // Spark, and doubles lose bits past 2^53
        shiftright(h, logm).as("w"))
      .select(col("bucket"), hllRho(col("w"), W).as("rho"))
      .groupBy("bucket")
      .agg(max(col("rho")).as("rho_max"))
    df.sparkSession.range(m).select(col("id").as("bucket"))
      .join(regs, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("rho_max"), lit(0L)).as("rho_max"))
  }

  /** Registers → the standard HLL estimate: alpha_m · m² / Σ 2^(-rho),
    * with the small-range linear-counting correction. One aggregate over m
    * rows — driver-free.
    */
  def hllEstimate(registers: DataFrame, m: Int): DataFrame = {
    val alpha = hllAlpha(m)
    registers
      .agg(sum(pow(lit(2.0), -col("rho_max"))).as("z"),
        sum(when(col("rho_max") === 0L, 1).otherwise(0)).as("v"))
      .select(
        when(col("v") > 0 &&
            lit(alpha * m * m) / col("z") <= lit(2.5 * m),
          lit(m.toDouble) * log(lit(m.toDouble) / col("v"))) // linear counting
          .otherwise(lit(alpha * m * m) / col("z"))
          .as("estimate"))
  }

  /** Per-key HLL summary: approximate distinct counts BY GROUP (distinct
    * tokens per source, distinct URLs per host) as two EXACT integers per
    * key — `v` (empty registers) and `zint` = Σ_buckets 2^(W+1 − rho), the
    * harmonic denominator scaled by 2^(W+1) so it stays in BIGINT
    * arithmetic (≤ m·2^(W+1) = 2^61): order-independent, bit-stable on any
    * engine, unlike a floating Σ2^(−rho). The double estimate is
    * [[hllEstimateFromSummary]] — kept OUT of the summary so the
    * verifiable artifact is integral. Shuffle shape: the (key, bucket)
    * max-aggregate is map-side combinable, so the exchange carries
    * ≤ |keys|·m partially-combined rows regardless of corpus size; the
    * second aggregate collapses m rows per key. Summaries of disjoint
    * corpus slices do NOT merge by adding zint — merge at the register
    * level (per-bucket max), which is what the map-side partial already
    * does in one pass.
    */
  def hllByKey(df: DataFrame, key: Column, value: Column, m: Int,
               hash: Column => Column = TextDedup.portableHash): DataFrame = {
    require(m >= 2 && (m & (m - 1)) == 0, "m must be a power of two")
    val logm = java.lang.Integer.numberOfTrailingZeros(m)
    val W = 60 - logm
    val h = hash(value)
    df.select(key.as("key"), pmod(h, lit(m.toLong)).as("bucket"),
        shiftright(h, logm).as("w"))
      .select(col("key"), col("bucket"), hllRho(col("w"), W).as("rho"))
      .groupBy("key", "bucket")
      .agg(max(col("rho")).as("rho_max"))
      .groupBy("key")
      .agg((lit(m.toLong) - count(lit(1))).as("v"),
        sum(expr(s"shiftleft(cast(1 as bigint), cast(${W + 1} - rho_max as int))"))
          .as("zp"))
      .select(col("key"), col("v"),
        (col("zp") + col("v") * lit(1L << (W + 1))).as("zint"))
  }

  /** The standard HLL estimate from a [[hllByKey]] summary row: the
    * harmonic mean with the small-range linear-counting correction —
    * z = zint / 2^(W+1), est = α_m·m²/z, or m·ln(m/v) when the raw
    * estimate falls under 2.5m and empty registers remain.
    */
  def hllEstimateFromSummary(v: Column, zint: Column, m: Int): Column = {
    val alpha = hllAlpha(m)
    val logm = java.lang.Integer.numberOfTrailingZeros(m)
    val W = 60 - logm
    val raw = lit(alpha * m * m * math.pow(2.0, W + 1)) / zint.cast("double")
    when(v > 0 && raw <= lit(2.5 * m),
      lit(m.toDouble) * log(lit(m.toDouble) / v.cast("double")))
      .otherwise(raw)
  }

  /** The HLL register vector as a true AGGREGATE column — see
    * [[graft.functions.HllSketchAgg]]: `groupBy(host).agg(hllSketchAgg(
    * url, 64))` keeps one m-long buffer per group per task and merges
    * buffers on the reduce side, so the exchange carries one array row
    * per group instead of m register rows, and the sketch composes with
    * other aggregates in the same pass. Bit-identical to [[hllRegisters]]
    * run on each group's slice (cross-pinned in HllSketchAggSpec).
    */
  def hllSketchAgg(value: Column, m: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.HllSketchAgg(
        org.apache.spark.sql.GraftBridge.expression(value), m)
        .toAggregateExpression())

  /** The CMS register table as a true AGGREGATE column — see
    * [[graft.functions.CmsSketchAgg]]: `groupBy(host).agg(cmsSketchAgg(
    * token, 4, 64))` keeps one depth×width counter array per group per
    * task, merged by element-wise + on the reduce side. Bit-identical to
    * [[cmsRegisters]] run on each group's slice (row-major flattening;
    * cross-pinned in CmsSketchAggSpec).
    */
  def cmsSketchAgg(value: Column, depth: Int, width: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.CmsSketchAgg(
        org.apache.spark.sql.GraftBridge.expression(value), depth, width)
        .toAggregateExpression())

  /** Detected charset of a raw crawl payload (see
    * [[graft.core.CharsetDetect]]): BOM → strict whole-payload UTF-8
    * validation → WHATWG-normalized meta label → windows-1252 fallback.
    * Scan-side native expression, zero exchange.
    */
  def charsetOf(bin: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.CharsetOf(org.apache.spark.sql.GraftBridge.expression(bin)))

  /** Charset-detected decode of raw crawl bytes to text — the step
    * between a WARC payload and every downstream text operator; valid
    * UTF-8 never turns into mojibake regardless of its meta label.
    */
  def decodeWeb(bin: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.DecodeWeb(org.apache.spark.sql.GraftBridge.expression(bin)))

  /** Bounded top-k per group as a true AGGREGATE column — see
    * [[graft.functions.TopKAgg]]: `groupBy(host).agg(topKAgg(id, score,
    * k))` combines map-side into one ≤k-entry buffer per (group, task)
    * and exchanges buffers only — the scale replacement for the rank
    * window, which must shuffle candidate rows per group before ranking.
    * Result is the top-k set under (score DESC, id ASC): order-free and
    * bit-deterministic (parity with the rank window pinned in
    * TopKAggSpec).
    */
  def topKAgg(id: Column, score: Column, k: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.TopKAgg(
        org.apache.spark.sql.GraftBridge.expression(id),
        org.apache.spark.sql.GraftBridge.expression(score), k)
        .toAggregateExpression())

  /** Count-Min Sketch register table (Cormode & Muthukrishnan 2005) over a
    * value column — the fixed-size FREQUENCY sketch that pairs with the HLL
    * cardinality sketch above: a 100 TB heavy-hitter scan (hot n-grams, hot
    * URLs, hot hosts) keeps depth×width counters instead of one counter per
    * distinct key. Row hashes use Kirsch–Mitzenmacher double hashing
    * (ESA 2006): h_i = (h1 + i·h2) mod width over TWO 60-bit md5 hashes
    * computed ONCE per value BEFORE the ×depth explode — after the
    * explode, bucketing is pure integer arithmetic, so depth rows cost two
    * digests instead of depth digest-plus-concat passes (measured ~2-3× on
    * the bench corpus). Both engines rebuild the identical table. The
    * aggregate is a plain count over (row, bucket) — fully map-side
    * combinable: each task collapses its partition to ≤ depth·width rows
    * before the one constant-size exchange. Absent buckets are joined back
    * as 0 so the output is always exactly depth·width rows.
    */
  def cmsRegisters(df: DataFrame, value: Column, depth: Int, width: Int,
                   hash: Column => Column = TextDedup.portableHash): DataFrame = {
    require(depth >= 1 && width >= 2, "need at least one row, two buckets")
    require(depth <= 7, "h1 + i*h2 must stay under 2^63: depth <= 7")
    val regs = df
      .select(hash(value).as("h1"), hash(concat(lit("~ "), value)).as("h2"))
      .select(explode(sequence(lit(0), lit(depth - 1))).as("i"),
        col("h1"), col("h2"))
      .select(col("i").cast("long").as("i"),
        pmod(col("h1") + col("i") * col("h2"), lit(width.toLong)).as("bucket"))
      .groupBy("i", "bucket")
      .agg(count(lit(1)).as("cnt"))
    val spark = df.sparkSession
    spark.range(depth).select(col("id").as("i"))
      .crossJoin(spark.range(width).select(col("id").as("bucket")))
      .join(regs, Seq("i", "bucket"), "left")
      .select(col("i"), col("bucket"), coalesce(col("cnt"), lit(0L)).as("cnt"))
  }

  /** Portable Bloom filter registers (Bloom, CACM 1970): the MEMBERSHIP
    * sketch completing the family — HLL answers "how many distinct", CMS
    * "how often", Bloom "have I seen this". The bitmap is `words` BIGINTs
    * with 63 data bits each (bit 63 stays clear: a 1<<63 shift overflows
    * signed 64-bit in other engines, and portability of the register table
    * IS the point — ship it to any system sharing the hash). Hash i of a
    * value is Kirsch–Mitzenmacher double hashing (ESA 2006; the Guava
    * Bloom construction): p_i = (h1 + i·h2) mod mBits over two 60-bit md5
    * hashes computed once per value — k probe bits cost two digests, and
    * engines rebuild identical bitmaps. The aggregate is bit_or over
    * (word) — fully map-side combinable: each task collapses to ≤ `words`
    * rows before the one constant-size exchange, which is also exactly how
    * two filters merge. Absent words are joined back as 0 so the table is
    * always `words` rows.
    */
  def bloomRegisters(df: DataFrame, value: Column, words: Int, k: Int,
                     hash: Column => Column = TextDedup.portableHash): DataFrame = {
    require(words >= 1 && k >= 1, "need at least one word and one hash")
    require(k <= 7, "h1 + i*h2 must stay under 2^63: k <= 7")
    val mBits = words.toLong * 63L
    val regs = df
      .select(hash(value).as("h1"), hash(concat(lit("~ "), value)).as("h2"))
      .select(explode(sequence(lit(0), lit(k - 1))).as("i"), col("h1"), col("h2"))
      .select(pmod(col("h1") + col("i") * col("h2"), lit(mBits)).as("p"))
      .select(expr("p div 63").as("word"),
        expr("shiftleft(cast(1 as bigint), cast(p % 63 as int))").as("b"))
      .groupBy("word").agg(expr("bit_or(b)").as("bits"))
    df.sparkSession.range(words).select(col("id").as("word"))
      .join(regs, Seq("word"), "left")
      .select(col("word"), coalesce(col("bits"), lit(0L)).as("bits"))
  }

  /** Membership probes against a [[bloomRegisters]] table: (w, maybe).
    * `maybe = false` is DEFINITIVE (a Bloom filter has no false
    * negatives — the spec proves it on planted data); `maybe = true` is
    * subject to the standard false-positive rate. The probe set explodes
    * ×k and meets the constant-size register table in a broadcast
    * equi-join; the per-value verdict is an all-bits-set min — map-side
    * combinable, nothing corpus-sized moves.
    */
  def bloomProbe(registers: DataFrame, probes: DataFrame, value: Column,
                 words: Int, k: Int,
                 hash: Column => Column = TextDedup.portableHash): DataFrame = {
    val mBits = words.toLong * 63L
    probes
      .select(value.as("w"))
      .select(col("w"), hash(col("w")).as("h1"),
        hash(concat(lit("~ "), col("w"))).as("h2"))
      .select(col("w"), col("h1"), col("h2"),
        explode(sequence(lit(0), lit(k - 1))).as("i"))
      .select(col("w"),
        pmod(col("h1") + col("i") * col("h2"), lit(mBits)).as("p"))
      .select(col("w"), expr("p div 63").as("word"),
        expr("shiftleft(cast(1 as bigint), cast(p % 63 as int))").as("b"))
      .join(broadcast(registers), Seq("word"))
      .groupBy("w")
      .agg(min((col("bits").bitwiseAND(col("b")) === col("b")).cast("int")).as("m"))
      .select(col("w"), (col("m") === 1).as("maybe"))
  }

  /** Point estimates from a CMS register table: for each probe value,
    * est = min over rows i of register[i][h_i(value)] — the classic
    * one-sided bound (est ≥ true count, never under). The probe set is
    * expected to be small (a candidate list, a blocklist, the vocabulary
    * head): probes explode ×depth and meet the constant-size register
    * table in a broadcast equi-join, so nothing corpus-sized moves.
    */
  def cmsEstimate(registers: DataFrame, probes: DataFrame, value: Column,
                  depth: Int, width: Int,
                  hash: Column => Column = TextDedup.portableHash): DataFrame =
    probes
      .select(value.as("w"))
      .select(col("w"), hash(col("w")).as("h1"),
        hash(concat(lit("~ "), col("w"))).as("h2"))
      .select(col("w"), col("h1"), col("h2"),
        explode(sequence(lit(0), lit(depth - 1))).as("i"))
      .select(col("w"), col("i").cast("long").as("i"),
        pmod(col("h1") + col("i") * col("h2"), lit(width.toLong)).as("bucket"))
      .join(broadcast(registers), Seq("i", "bucket"))
      .groupBy("w")
      .agg(min(col("cnt")).as("est"))
}
