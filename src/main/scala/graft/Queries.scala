package graft

import graft.core.{Assemble, Construction, Entities, PageData, PyStr}
import graft.html.Boilerplate
import graft.ops.{Bpe, Cdx, CorpusSignals, Curation, Decontam, Feed, Http, Incremental, PageMeta, QualityModel, Ranking, Sampling, Sitemap, Sniff, Temporal, TextDedup, TextSegment, TextStats, UrlFilter, UrlTemplate, VectorSim, WebGraph}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The driver-contract query catalog: every SQL-expressible operator from
  * SURVEY.md §2 plus the training-data-pipeline operators (dedup, similarity
  * search, text analysis) over /root/testdata tables, each with a DuckDB
  * oracle that recomputes the identical arithmetic.
  *
  * Cross-engine determinism rules used throughout (so Spark parquet output
  * hash-matches DuckDB):
  *   - shared 60-bit portable hash: first 15 hex digits of md5 as BIGINT;
  *   - all similarity scores from QUANTIZED integer vectors (exact integer
  *     dot products; the only float ops are single divisions/sqrt on
  *     identical integers);
  *   - floor() rather than casts when leaving double (DuckDB casts round,
  *     Spark casts truncate);
  *   - every aggregate aliased identically in both dialects; every result
  *     deterministically ordered.
  */
object Queries {

  private val P = TextDedup.P // 1000000007
  private def pg(dir: String, t: String) = s"$dir/$t.parquet"
  private def docs(s: SparkSession, dir: String) = s.read.parquet(pg(dir, "documents"))

  /** Range-splits `df` on doc_id into spark.sql.shuffle.partitions parts,
    * each sorted by doc_id, so a heavy per-document map over the result
    * runs once per row in parallel tasks and leaves in doc_id order. A
    * trailing `orderBy` instead would evaluate the map twice (the range
    * sampler's job, then the shuffle-map stage) in one task, because the
    * documents table reads as one partition; an explicit count is not
    * coalesced by AQE.
    */
  private def spread(df: DataFrame): DataFrame =
    df.repartitionByRange(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      col("doc_id")).sortWithinPartitions("doc_id")

  private def embs(s: SparkSession, dir: String) = s.read.parquet(pg(dir, "embeddings"))

  private val ph: Column => Column = TextDedup.portableHash

  // ---------------------------------------------------------------- A1 stats
  // Reference: get_statistics helpers.py:67-86 (per-document totals/avgs),
  // lifted per-source. Words = whitespace-run split dropping empties
  // (Python str.split() semantics).
  private def qStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(length(col("text"))).as("total_chars"),
      sum(TextStats.wordCountWs(col("text")).cast("long")).as("total_words"),
      (sum(length(col("text"))).cast("double") / count(lit(1))).as("avg_chars")
    ).orderBy("source")

  private val oStats =
    """SELECT source,
       count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))) AS BIGINT) AS total_words,
       CAST(sum(length(text)) AS DOUBLE) / count(*) AS avg_chars
       FROM documents GROUP BY source ORDER BY source"""

  // ------------------------------------------------------------- A2 summary
  // Reference: _create_summary extraction_service.py:176-191 — conditional
  // counts sum(when(...)), per lang.
  private def qSummary(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("text").rlike("[0-9]"), 1L).otherwise(0L)).as("n_with_digit"),
      sum(when(length(col("text")) < 100, 1L).otherwise(0L)).as("n_short"),
      sum(when(col("text").contains("spark"), 1L).otherwise(0L)).as("n_with_kw")
    ).orderBy("lang")

  private val oSummary =
    """SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN regexp_matches(text, '[0-9]') THEN 1 ELSE 0 END) AS BIGINT) AS n_with_digit,
       CAST(sum(CASE WHEN length(text) < 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
       CAST(sum(CASE WHEN contains(text, 'spark') THEN 1 ELSE 0 END) AS BIGINT) AS n_with_kw
       FROM documents GROUP BY lang ORDER BY lang"""

  // ------------------------------------------------------------ O2 needs_ocr
  // Reference: image-based-PDF detector pdf_text_extractor.py:114-125
  // (first-page text < 50 chars).
  private def qNeedsOcr(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum(when(length(trim(col("text"))) < 50, 1L).otherwise(0L)).as("n_needs_ocr")
    ).orderBy("lang")

  private val oNeedsOcr =
    """SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN length(trim(text)) < 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_needs_ocr
       FROM documents GROUP BY lang ORDER BY lang"""

  // ------------------------------------------------------------ O3 table gate
  // Reference: table-indicator predicate pdf_text_extractor.py:167-182
  // ('\t' present, or >15 '|', or >8 '│') gating the expensive branch.
  private def qTableGate(s: SparkSession, dir: String): DataFrame = {
    val nPipes = length(col("text")) - length(regexp_replace(col("text"), "\\|", ""))
    val nBox = length(col("text")) - length(regexp_replace(col("text"), "│", ""))
    docs(s, dir).select(
      col("doc_id"),
      nPipes.cast("long").as("n_pipes"),
      (col("text").contains("\t") || nPipes > 15 || nBox > 8).as("gate")
    ).orderBy("doc_id")
  }

  private val oTableGate =
    """SELECT doc_id,
       CAST(length(text) - length(replace(text, '|', '')) AS BIGINT) AS n_pipes,
       (contains(text, chr(9)) OR (length(text) - length(replace(text, '|', ''))) > 15
        OR (length(text) - length(replace(text, chr(9474), ''))) > 8) AS gate
       FROM documents ORDER BY doc_id"""

  // ------------------------------------------------------------- F15 preview
  // Reference: text_preview truncation extraction_service.py:197-200
  // (first 200 chars + '...' only when longer than 200).
  private def qPreview(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      when(length(col("text")) > 200, concat(substring(col("text"), 1, 200), lit("...")))
        .otherwise(col("text")).as("preview")
    ).orderBy("doc_id")

  private val oPreview =
    """SELECT doc_id,
       CASE WHEN length(text) > 200 THEN substr(text, 1, 200) || '...' ELSE text END AS preview
       FROM documents ORDER BY doc_id"""

  // ------------------------------------------------------------- P6 combine
  // Reference: combine_pages_text helpers.py:53-64 ('\n\n'.join in order).
  private def qCombine(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy("source")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("doc_id"), col("text")))),
          x => x.getField("text")), "\n\n").as("combined"))
      .select(col("source"), md5(col("combined")).as("combined_md5"),
        length(col("combined")).cast("long").as("combined_chars"))
      .orderBy("source")

  private val oCombine =
    """SELECT source,
       md5(string_agg(text, chr(10) || chr(10) ORDER BY doc_id)) AS combined_md5,
       CAST(length(string_agg(text, chr(10) || chr(10) ORDER BY doc_id)) AS BIGINT) AS combined_chars
       FROM documents GROUP BY source ORDER BY source"""

  // ------------------------------------------------- F7-F12 entity extraction
  // Reference patterns standard.py:13-18, full-match (group 0) variant; the
  // Python findall-group quirk lives in the golden-tested core
  // (graft.core.Entities). Entity-bearing text is constructed
  // deterministically from the orders table — identical construction in both
  // engines, so the regex engines are what is under test.
  private def entityText: Column = concat(
    lit("Contact user"), col("o_orderkey").cast("string"),
    lit("@mail"), pmod(col("o_orderkey"), lit(5)).cast("string"), lit(".com on "),
    date_format(col("o_orderdate"), "MM/dd/yyyy"),
    lit(" pay $"), pmod(col("o_orderkey"), lit(100000)).cast("string"),
    lit(" site https://ex"), pmod(col("o_custkey"), lit(7)).cast("string"), lit(".org/a b"))

  private def qEntities(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(pg(dir, "orders"))
      .withColumn("s", entityText)
      .select(
        col("o_orderkey"),
        regexp_extract(col("s"), "\\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Z|a-z]{2,}\\b", 0).as("email"),
        regexp_extract(col("s"), "\\d{1,2}[/-]\\d{1,2}[/-]\\d{2,4}", 0).as("dt"),
        regexp_extract(col("s"), "\\$[\\d,]+\\.?\\d*", 0).as("cur"),
        regexp_extract(col("s"), "https?://[^\\s]+", 0).as("url"),
        size(regexp_extract_all(col("s"), lit("\\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Z|a-z]{2,}\\b"), lit(0)))
          .cast("long").as("n_emails"))
      .orderBy("o_orderkey").limit(2000)

  private val oEntities =
    """SELECT o_orderkey,
       regexp_extract(s, '\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b', 0) AS email,
       regexp_extract(s, '\d{1,2}[/-]\d{1,2}[/-]\d{2,4}', 0) AS dt,
       regexp_extract(s, '\$[\d,]+\.?\d*', 0) AS cur,
       regexp_extract(s, 'https?://[^\s]+', 0) AS url,
       CAST(len(regexp_extract_all(s, '\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b', 0)) AS BIGINT) AS n_emails
       FROM (SELECT o_orderkey,
         'Contact user' || o_orderkey || '@mail' || (o_orderkey % 5) || '.com on ' ||
         strftime(o_orderdate, '%m/%d/%Y') || ' pay $' || (o_orderkey % 100000) ||
         ' site https://ex' || (o_custkey % 7) || '.org/a b' AS s
         FROM orders)
       ORDER BY o_orderkey LIMIT 2000"""

  // ------------------------------------------------------- P2 context window
  // Reference: prev/current/next sliding context construction.py:196-208 —
  // the lag/lead-expressible part of the stateful fold.
  private def qWindowCtx(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy("doc_id")
    docs(s, dir).select(
      col("doc_id"), col("source"),
      lag("doc_id", 1).over(w).as("prev_id"),
      lead(length(col("text")).cast("long"), 1).over(w).as("next_len")
    ).orderBy("doc_id")
  }

  private val oWindowCtx =
    """SELECT doc_id, source,
       lag(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS prev_id,
       CAST(lead(length(text)) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS next_len
       FROM documents ORDER BY doc_id"""

  // ------------------------------------------------------ F13 key-value parse
  // Reference: find_key_value_pairs standard.py:61-84 analog over the
  // events.props JSON-ish strings.
  private def qKvEvents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(pg(dir, "events"))
      .withColumn("k_val", regexp_extract(col("props"), "\"k\": ([0-9]+)", 1).cast("long"))
      .groupBy("event_type").agg(
        count(lit(1)).as("n_events"),
        sum(col("k_val")).as("sum_k"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")

  private val oKvEvents =
    """SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
       count(DISTINCT user_id) AS n_users
       FROM events GROUP BY event_type ORDER BY event_type"""

  // --------------------------------------------------------- sessionization
  // Event-time gap sessionization (30 min) — lag over (user, ts) with
  // event_id tiebreak; epoch-millis arithmetic is exact in both engines.
  private def qSessions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    s.read.parquet(pg(dir, "events"))
      // ts is TIMESTAMP_NTZ in the parquet; session TZ is UTC so the cast
      // to instant is identity, and epoch-millis arithmetic is exact.
      .withColumn("ms", unix_millis(col("ts").cast("timestamp")))
      .withColumn("gap_ms", col("ms") - lag(col("ms"), 1).over(w))
      .groupBy("user_id").agg(
        count(lit(1)).as("n_events"),
        (sum(when(col("gap_ms") > 1800000L, 1L).otherwise(0L)) + 1L).as("n_sessions"))
      .orderBy("user_id")
  }

  private val oSessions =
    """SELECT user_id, count(*) AS n_events,
       CAST(sum(CASE WHEN gap_ms > 1800000 THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_sessions
       FROM (SELECT user_id,
         epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_ms
         FROM events)
       GROUP BY user_id ORDER BY user_id"""

  // --------------------------------------------------------- classic agg/join
  // Catalyst bread-and-butter on the TPC-H-ish tables. l_quantity carries
  // integral values, so sum(double) is order-independent-exact.
  private def qAggLineitem(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(pg(dir, "lineitem"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  private val oAggLineitem =
    """SELECT l_returnflag, l_linestatus, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty, count(*) AS n
       FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""

  private def qJoinOrders(s: SparkSession, dir: String): DataFrame = {
    val orders = s.read.parquet(pg(dir, "orders"))
    val cust = s.read.parquet(pg(dir, "customer"))
    orders.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), countDistinct(col("o_custkey")).as("n_custs"))
      .orderBy("c_mktsegment")
  }

  private val oJoinOrders =
    """SELECT c_mktsegment, count(*) AS n_orders, count(DISTINCT o_custkey) AS n_custs
       FROM orders JOIN customer ON o_custkey = c_custkey
       GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  // ------------------------------------------------------------- exact dedup
  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(col("text"))).as("n_unique_texts"),
      countDistinct(md5(array_join(slice(split(col("text"), " "), 1, 3), " ")))
        .as("n_unique_prefixes")
    ).orderBy("source")

  private val oDedupExact =
    """SELECT source, count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_unique_texts,
       count(DISTINCT md5(array_to_string(str_split(text, ' ')[1:3], ' '))) AS n_unique_prefixes
       FROM documents GROUP BY source ORDER BY source"""

  // --------------------------------------------------------- minhash signatures
  // sig is array<bigint>; projected through array_join because the driver's
  // pandas compare cannot sort ndarray cells (round-1 red row) — the math
  // under test is identical, the hash now covers the CSV rendering.
  private def qMinhashSig(s: SparkSession, dir: String): DataFrame =
    TextDedup.minhashSignatures(
      docs(s, dir).where(size(split(col("text"), " ")) >= 3),
      "doc_id", "text", k = 8, shingleN = 3, hash = ph)
      .select(col("id"), array_join(col("sig"), ",").as("sig_csv"))
      .orderBy("id")

  private val oMinhashSig =
    s"""SELECT id, array_to_string(list_transform(generate_series(0, 7),
       j -> list_aggregate(list_transform(hs, h -> (h * (j*101 + 37) + (j*61 + 11)) % $P), 'min')), ',') AS sig_csv
       FROM (SELECT doc_id AS id,
         list_transform(
           list_distinct(list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])),
           x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % $P) AS hs
         FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents) WHERE len(t) >= 3)
       ORDER BY id"""

  // --------------------------------------------------------- minhash LSH pairs
  private def qMinhashPairs(s: SparkSession, dir: String): DataFrame =
    TextDedup.minhashPairs(
      TextDedup.minhashSignatures(
        docs(s, dir).where(size(split(col("text"), " ")) >= 3),
        "doc_id", "text", k = 8, shingleN = 3, hash = ph),
      rowsPerBand = 2, minEstJaccard = 0.25)
      .orderBy("id_a", "id_b")

  private val oMinhashPairs =
    s"""WITH sigs AS (
         SELECT id, list_transform(generate_series(0, 7),
           j -> list_aggregate(list_transform(hs, h -> (h * (j*101 + 37) + (j*61 + 11)) % $P), 'min')) AS sig
         FROM (SELECT doc_id AS id,
           list_transform(
             list_distinct(list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])),
             x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % $P) AS hs
           FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents) WHERE len(t) >= 3)),
       banded AS (
         SELECT id, sig, b.band, sig[2*b.band + 1] * $P + sig[2*b.band + 2] AS band_key
         FROM sigs, generate_series(0, 3) b(band)),
       cand AS (
         SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id)
       SELECT id_a, id_b,
         list_sum(list_transform(generate_series(1, 8),
           i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))::DOUBLE / 8 AS est_jaccard
       FROM cand JOIN sigs sa ON sa.id = id_a JOIN sigs sb ON sb.id = id_b
       WHERE list_sum(list_transform(generate_series(1, 8),
         i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))::DOUBLE / 8 >= 0.25
       ORDER BY id_a, id_b"""

  // ----------------------------------------- minhash LSH pairs, hashed bands
  // rowsPerBand = 4: band keys are the portable md5 hash of the ','-joined
  // slot values (positional packing overflows BIGINT past 2 slots — both
  // engines hash, so candidate sets stay identical; a hash collision could
  // only add a candidate, and the exact slot-agreement rescoring keeps the
  // output contract unchanged).
  private def qMinhashPairsB4(s: SparkSession, dir: String): DataFrame =
    TextDedup.minhashPairs(
      TextDedup.minhashSignatures(
        docs(s, dir).where(size(split(col("text"), " ")) >= 3),
        "doc_id", "text", k = 8, shingleN = 3, hash = ph),
      rowsPerBand = 4, minEstJaccard = 0.25, bandHash = ph)
      .orderBy("id_a", "id_b")

  private val oMinhashPairsB4 =
    s"""WITH sigs AS (
         SELECT id, list_transform(generate_series(0, 7),
           j -> list_aggregate(list_transform(hs, h -> (h * (j*101 + 37) + (j*61 + 11)) % $P), 'min')) AS sig
         FROM (SELECT doc_id AS id,
           list_transform(
             list_distinct(list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])),
             x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % $P) AS hs
           FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents) WHERE len(t) >= 3)),
       banded AS (
         SELECT id, sig, b.band,
           ('0x' || substr(md5(sig[4*b.band + 1] || ',' || sig[4*b.band + 2] || ',' ||
                               sig[4*b.band + 3] || ',' || sig[4*b.band + 4]), 1, 15))::BIGINT AS band_key
         FROM sigs, generate_series(0, 1) b(band)),
       cand AS (
         SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id)
       SELECT id_a, id_b,
         list_sum(list_transform(generate_series(1, 8),
           i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))::DOUBLE / 8 AS est_jaccard
       FROM cand JOIN sigs sa ON sa.id = id_a JOIN sigs sb ON sb.id = id_b
       WHERE list_sum(list_transform(generate_series(1, 8),
         i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))::DOUBLE / 8 >= 0.25
       ORDER BY id_a, id_b"""

  // ------------------------------------------------------------------ simhash
  private def qSimhash(s: SparkSession, dir: String): DataFrame =
    TextDedup.simhash(docs(s, dir), "doc_id", "text", bits = 32, hash = ph)
      .orderBy("id")

  private val oSimhash =
    """SELECT id,
       list_sum(list_transform(generate_series(0, 31), i ->
         CASE WHEN list_sum(list_transform(hs, h ->
           CASE WHEN CAST(floor(h / pow(2, i)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END)) > 0
         THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END))::BIGINT AS simhash
       FROM (SELECT doc_id AS id,
         list_transform(str_split(text, ' '), t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 4294967296) AS hs
         FROM documents)
       ORDER BY id"""

  // --------------------------------------------------------- simhash pairs
  // The combination-banded Hamming join (pigeonhole-exact: hamming ≤ 3 over
  // 8 blocks leaves ≥5 equal blocks, so candidate gen via equi-join on each
  // 5-block key loses nothing — Manku WWW'07). Oracle: brute-force
  // all-pairs Hamming in DuckDB — identical output after exact verification.
  private def qSimhashPairs(s: SparkSession, dir: String): DataFrame =
    TextDedup.simhashPairs(
      TextDedup.simhash(docs(s, dir), "doc_id", "text", bits = 32, hash = ph),
      bits = 32, chunks = 8, maxHamming = 3)
      .orderBy("id_a", "id_b")

  private val oSimhashPairs =
    """WITH sh AS (
         SELECT id,
           list_sum(list_transform(generate_series(0, 31), i ->
             CASE WHEN list_sum(list_transform(hs, h ->
               CASE WHEN CAST(floor(h / pow(2, i)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END)) > 0
             THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END))::BIGINT AS simhash
         FROM (SELECT doc_id AS id,
           list_transform(str_split(text, ' '), t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 4294967296) AS hs
           FROM documents))
       SELECT a.id AS id_a, b.id AS id_b,
         bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
       FROM sh a JOIN sh b ON a.id < b.id
       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       ORDER BY id_a, id_b"""

  // ------------------------------------------- wide (56-bit) simhash variants
  // Production corpus dedup wants a wide fingerprint: 32-bit simhash starts
  // taking birthday collisions around 10^5 docs. 56 bits is the widest that
  // satisfies every integer constraint at once: divisible by chunks=8
  // (7-bit blocks, 5-block = 35-bit band keys < 2^62) and both engines stay
  // in exact BIGINT shift/mask arithmetic (the 32-bit oracle's
  // floor(h/pow(2,i)) double `pow` is replaced by (h >> i) & 1).
  private def qSimhash56(s: SparkSession, dir: String): DataFrame =
    TextDedup.simhash(docs(s, dir), "doc_id", "text", bits = 56, hash = ph)
      .orderBy("id")

  private val oSimhash56 =
    """SELECT id,
       list_sum(list_transform(generate_series(0, 55), i ->
         CASE WHEN list_sum(list_transform(hs, h ->
           CASE WHEN ((h >> i) & 1) = 1 THEN 1 ELSE -1 END)) > 0
         THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS simhash
       FROM (SELECT doc_id AS id,
         list_transform(str_split(text, ' '), t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 72057594037927936) AS hs
         FROM documents)
       ORDER BY id"""

  private def qSimhash56Pairs(s: SparkSession, dir: String): DataFrame =
    TextDedup.simhashPairs(
      TextDedup.simhash(docs(s, dir), "doc_id", "text", bits = 56, hash = ph),
      bits = 56, chunks = 8, maxHamming = 3)
      .orderBy("id_a", "id_b")

  private val oSimhash56Pairs =
    """WITH sh AS (
         SELECT id,
           list_sum(list_transform(generate_series(0, 55), i ->
             CASE WHEN list_sum(list_transform(hs, h ->
               CASE WHEN ((h >> i) & 1) = 1 THEN 1 ELSE -1 END)) > 0
             THEN (1::BIGINT << i) ELSE 0 END))::BIGINT AS simhash
         FROM (SELECT doc_id AS id,
           list_transform(str_split(text, ' '), t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 72057594037927936) AS hs
           FROM documents))
       SELECT a.id AS id_a, b.id AS id_b,
         bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
       FROM sh a JOIN sh b ON a.id < b.id
       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       ORDER BY id_a, id_b"""

  // --------------------------------------------- near-dup cluster resolution
  // Connected components over the simhash near-dup pair graph (the stage
  // that turns pairwise candidates into a retention decision). Spark side:
  // iterative min-label propagation (one join + one aggregate per round);
  // oracle: DuckDB recursive CTE computing min reachable id over the
  // brute-force pair derivation — identical map by definition of
  // connectivity, independent of either engine's iteration order.
  private def qDedupClusters(s: SparkSession, dir: String): DataFrame =
    TextDedup.dedupClusters(
      TextDedup.simhashPairs(
        TextDedup.simhash(docs(s, dir), "doc_id", "text", bits = 32, hash = ph),
        bits = 32, chunks = 8, maxHamming = 3))
      .orderBy("id")

  private val oDedupClusters =
    """WITH RECURSIVE sh AS (
         SELECT id,
           list_sum(list_transform(generate_series(0, 31), i ->
             CASE WHEN list_sum(list_transform(hs, h ->
               CASE WHEN CAST(floor(h / pow(2, i)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END)) > 0
             THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END))::BIGINT AS simhash
         FROM (SELECT doc_id AS id,
           list_transform(str_split(text, ' '), t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 4294967296) AS hs
           FROM documents)),
       e AS (
         SELECT a.id AS src, b.id AS dst FROM sh a JOIN sh b
         ON a.id <> b.id AND bit_count(xor(a.simhash, b.simhash)) <= 3),
       reach(id, r) AS (
         SELECT DISTINCT src, src FROM e
         UNION
         SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id)
       SELECT id, min(r) AS cluster FROM reach GROUP BY id ORDER BY id"""

  // ------------------------------------------------- deterministic sampling
  // Training-data selection stages (graft.ops.Sampling): hash-keyed so the
  // sample is a REPRODUCIBILITY CONTRACT — identical on any cluster, any
  // partitioning, any retry history (Spark's df.sample is per-partition
  // seeded and none of those). Oracle recomputes the identical bucket
  // arithmetic.
  private def qSampleHash(s: SparkSession, dir: String): DataFrame =
    Sampling.hashSample(docs(s, dir), "doc_id", frac = 0.2, salt = "s1", hash = ph)
      .select("doc_id", "source").orderBy("doc_id")

  private val oSampleHash =
    """SELECT doc_id, source FROM documents
       WHERE ('0x' || substr(md5(doc_id::VARCHAR || 's1'), 1, 15))::BIGINT % 1000000 < 200000
       ORDER BY doc_id"""

  // Priority sampling (DLT 2007): fixed-k weight-aware sample with the
  // unbiased estimation weight max(w, τ). Priorities are one IEEE
  // multiply-then-divide of exact integers, so both engines rank — and
  // tie-break — identically; the whole selection + τ + estimator column
  // is value-verified.
  private def qPrioritySample(s: SparkSession, dir: String): DataFrame =
    Sampling.prioritySample(
        docs(s, dir).withColumn("w", TextStats.tokenCount(col("text")).cast("long")),
        "doc_id", "w", k = 20, salt = "ps", hash = ph)
      .select(col("id").as("doc_id"), col("w"), col("est_w"))
      .orderBy("doc_id")

  private val oPrioritySample =
    """WITH pr AS (
         SELECT doc_id AS id, len(str_split(text, ' '))::DOUBLE AS w,
           len(str_split(text, ' '))::DOUBLE * 1073741824.0 /
             ((('0x' || substr(md5(doc_id::VARCHAR || 'ps'), 1, 15))::BIGINT % 1073741824 + 1)::DOUBLE) AS q
         FROM documents),
       top AS (SELECT * FROM pr ORDER BY q DESC, id LIMIT 21),
       tau AS (SELECT CASE WHEN count(*) > 20 THEN min(q) ELSE 0.0 END AS tau FROM top),
       kept AS (SELECT * FROM top ORDER BY q DESC, id LIMIT 20)
       SELECT id AS doc_id, w, greatest(w, tau) AS est_w
       FROM kept, tau ORDER BY doc_id"""

  private def qSampleSplit(s: SparkSession, dir: String): DataFrame = {
    val splits = Sampling.hashSplit(docs(s, dir), "doc_id", Seq(0.8, 0.1, 0.1),
      salt = "sp", hash = ph)
    splits.zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
        .select(lit(i.toLong).as("split"), col("n_docs"), col("id_sum"))
    }.reduce(_ union _).orderBy("split")
  }

  // the VALUES spine keeps an EMPTY split visible as (i, 0, NULL) — the
  // Spark side always emits one row per split, a bare GROUP BY would not
  private val oSampleSplit =
    """WITH h AS (
         SELECT doc_id,
           CASE WHEN h < 800000 THEN 0 WHEN h < 900000 THEN 1 ELSE 2 END AS split
         FROM (SELECT doc_id,
           ('0x' || substr(md5(doc_id::VARCHAR || 'sp'), 1, 15))::BIGINT % 1000000 AS h
           FROM documents))
       SELECT s.split, count(h.doc_id) AS n_docs, CAST(sum(h.doc_id) AS BIGINT) AS id_sum
       FROM (VALUES (0::BIGINT), (1::BIGINT), (2::BIGINT)) s(split)
       LEFT JOIN h ON h.split = s.split
       GROUP BY s.split ORDER BY s.split"""

  private def qSampleStrata(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedQuota(docs(s, dir), "source", "doc_id", n = 5, salt = "st", hash = ph)
      .select("doc_id", "source").orderBy("source", "doc_id")

  private val oSampleStrata =
    """SELECT doc_id, source FROM (
         SELECT doc_id, source, row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || 'st'), 1, 15))::BIGINT % 1000000, doc_id
         ) AS rk FROM documents)
       WHERE rk <= 5 ORDER BY source, doc_id"""

  // sequence packing: contiguous greedy fill into 2000-token packs within
  // each source shard (pack = tokens-before DIV budget, integral division)
  private def qPack(s: SparkSession, dir: String): DataFrame =
    Sampling.packBudget(
      docs(s, dir).select(col("doc_id"), col("source"),
        TextStats.wordCountWs(col("text")).cast("long").as("toks")),
      "source", "doc_id", "toks", budget = 2000L)
      .select("doc_id", "source", "pack").orderBy("doc_id")

  private val oPack =
    """SELECT doc_id, source, CAST(cb // 2000 AS BIGINT) AS pack FROM (
         SELECT doc_id, source,
           sum(toks) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks AS cb
         FROM (SELECT doc_id, source,
           CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS toks
           FROM documents))
       ORDER BY doc_id"""

  // --------------------------------------------------- group-relative quality
  // Per-source top-20% quality cut (Sampling.topFracByGroup): group sizes
  // aggregated tiny + broadcast back, rank within group by (quality DESC,
  // doc_id), keep rank <= ceil(0.2 * n). The quality arithmetic is the
  // q_quality contract (already hash-green), so this row pins the
  // SELECTION semantics: quota arithmetic, tie-break, at-least-one-row.
  private def qQualityCut(s: SparkSession, dir: String): DataFrame =
    Sampling.topFracByGroup(
      docs(s, dir).select(col("doc_id"), col("source"),
        TextStats.qualityScore(col("text")).as("quality")),
      "source", "doc_id", "quality", frac = 0.2)
      .select("doc_id", "source", "quality").orderBy("doc_id")

  private val oQualityCut =
    """SELECT doc_id, source, quality FROM (
         SELECT doc_id, source, quality,
           row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rk,
           count(*) OVER (PARTITION BY source) AS gn
         FROM (SELECT doc_id, source,
           least(length(text)::DOUBLE / 400.0, 1.0) * 0.4 + least(sr * 10.0, 1.0) * 0.4 +
             (1.0 - least(pr * 5.0, 1.0)) * 0.2 AS quality
           FROM (SELECT doc_id, source, text,
             len(list_filter(str_split(text, ' '),
               x -> list_contains(['the','a','an','of','and','to','in','is','it','for'], x)))::DOUBLE /
               len(str_split(text, ' ')) AS sr,
             length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE / length(text) AS pr
             FROM documents)))
       WHERE rk <= ceil(gn::DOUBLE * 0.2) ORDER BY doc_id"""

  // ------------------------------------------------------ word-ngram jaccard
  private def qNgramJaccard(s: SparkSession, dir: String): DataFrame =
    TextDedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", n = 3, minJaccard = 0.3,
        hash = ph)
      .orderBy("id_a", "id_b")

  private val oNgramJaccard =
    """WITH sh AS (
         SELECT doc_id AS id, unnest(list_transform(list_distinct(
           list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])),
           x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS s
         FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents) WHERE len(t) >= 3),
       sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
       common AS (
         SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
         FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2)
       SELECT id_a, id_b, c::DOUBLE / (sa.n + sb.n - c) AS jaccard
       FROM common JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
       WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.3
       ORDER BY id_a, id_b"""

  // ------------------------------------------------- set-containment join
  // Asymmetric containment C(A,B) = |A∩B|/|A| over the same 3-gram shingle
  // space — the quote/excerpt detector Jaccard can't be (a paragraph fully
  // quoted inside a long page has J≈0.01, C=1.0). Spark side prunes the
  // CONTAINED side with the one-sided prefix filter; the oracle keeps the
  // brute ordered-pair shape, so the filter's exactness is what's verified.
  // containment = int/int single IEEE division — bit-identical both sides.
  private def qContainment(s: SparkSession, dir: String): DataFrame =
    TextDedup.containmentPairs(docs(s, dir), "doc_id", "text",
        n = 3, minContainment = 0.5, hash = ph)
      .orderBy("id_a", "id_b")

  private val oContainment =
    """WITH sh AS (
         SELECT doc_id AS id, unnest(list_transform(list_distinct(
           list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])),
           x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS s
         FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents) WHERE len(t) >= 3),
       sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
       common AS (
         SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
         FROM sh a JOIN sh b ON a.s = b.s AND a.id <> b.id GROUP BY 1, 2)
       SELECT id_a, id_b, c::DOUBLE / sa.n AS containment
       FROM common JOIN sizes sa ON sa.id = id_a
       WHERE c::DOUBLE / sa.n >= 0.5
       ORDER BY id_a, id_b"""

  // ----------------------------------------------------------- gram novelty
  // Per-doc novelty: distinct 3-gram shingles with corpus document
  // frequency 1, as ppm of the doc's shingles — the scalar triage signal
  // that runs BEFORE pair-generating dedup. One gram-hash exchange + one
  // doc-id exchange; all-integral output.
  private def qNovelty(s: SparkSession, dir: String): DataFrame =
    TextDedup.noveltyScores(docs(s, dir), "doc_id", "text", n = 3, hash = ph)
      .select(col("id").as("doc_id"), col("n_grams"), col("n_novel"),
        col("novelty_ppm"))
      .orderBy("doc_id")

  private val oNovelty =
    """WITH sh AS (
         SELECT doc_id AS id, unnest(list_transform(list_distinct(
           list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])),
           x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS s
         FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents) WHERE len(t) >= 3),
       df AS (SELECT s, count(*) AS dfreq FROM sh GROUP BY s)
       SELECT sh.id AS doc_id,
         count(*) AS n_grams,
         CAST(sum(CASE WHEN df.dfreq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         (CAST(sum(CASE WHEN df.dfreq = 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
           // count(*) AS novelty_ppm
       FROM sh JOIN df USING (s)
       GROUP BY sh.id ORDER BY doc_id"""

  // ------------------------------------------------------------ soft dedup
  // Duplication-AWARE weights instead of hard drops: every document kept,
  // weight_ppm = 10^6 div near-dup-cluster-size (integral — no IEEE in the
  // contract). Composes the simhash pair generator and the connected-
  // components resolver; the oracle recomputes the cluster map with the
  // recursive reachability CTE and left-joins it onto the corpus.
  private def qSoftDedup(s: SparkSession, dir: String): DataFrame =
    TextDedup.softDedupWeights(
        docs(s, dir).select("doc_id"),
        TextDedup.dedupClusters(
          TextDedup.simhashPairs(
            TextDedup.simhash(docs(s, dir), "doc_id", "text", bits = 32, hash = ph),
            bits = 32, chunks = 8, maxHamming = 3)),
        "doc_id")
      .select("doc_id", "cluster_size", "weight_ppm")
      .orderBy("doc_id")

  private val oSoftDedup =
    """WITH RECURSIVE sh AS (
         SELECT id,
           list_sum(list_transform(generate_series(0, 31), i ->
             CASE WHEN list_sum(list_transform(hs, h ->
               CASE WHEN CAST(floor(h / pow(2, i)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END)) > 0
             THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END))::BIGINT AS simhash
         FROM (SELECT doc_id AS id,
           list_transform(str_split(text, ' '), t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 4294967296) AS hs
           FROM documents)),
       e AS (
         SELECT a.id AS src, b.id AS dst FROM sh a JOIN sh b
         ON a.id <> b.id AND bit_count(xor(a.simhash, b.simhash)) <= 3),
       reach(id, r) AS (
         SELECT DISTINCT src, src FROM e
         UNION
         SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
       cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
       cs AS (SELECT cluster, count(*) AS n FROM cl GROUP BY cluster),
       m AS (SELECT cl.id, cs.n FROM cl JOIN cs USING (cluster))
       SELECT d.doc_id,
         CAST(COALESCE(m.n, 1) AS BIGINT) AS cluster_size,
         CAST(1000000 // COALESCE(m.n, 1) AS BIGINT) AS weight_ppm
       FROM documents d LEFT JOIN m ON m.id = d.doc_id
       ORDER BY d.doc_id"""

  // ------------------------------------------------------------- Luhn PII
  // Card-number detection = PAN-band digit-run regex × ISO/IEC 7812 Luhn
  // checksum. The corpus text carries no card numbers, so each doc gets a
  // deterministic synthetic 16-digit run appended (lpad of doc_id·7919)
  // — the validity split (~1 in 10 passes Luhn) is then data-derived, and
  // the whole regex + HOF-checksum path is value-verified per doc.
  private def qLuhn(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
        CorpusSignals.cardCounts(
          concat(col("text"), lit(" "),
            lpad((col("doc_id") * 7919).cast("string"), 16, "4"))).as("cc"))
      .select(col("doc_id"),
        col("cc.n_card_cand").as("n_card_cand"),
        col("cc.n_luhn_valid").as("n_luhn_valid"))
      .orderBy("doc_id")

  private val oLuhn =
    """WITH t AS (SELECT doc_id,
           text || ' ' || lpad((doc_id * 7919)::VARCHAR, 16, '4') AS x
         FROM documents),
       c AS (SELECT doc_id, unnest(regexp_extract_all(x, '[0-9]{13,16}')) AS cand FROM t),
       v AS (SELECT doc_id,
           (list_sum(list_transform(generate_series(1, length(cand)), j ->
             CASE WHEN (length(cand) - j) % 2 = 1
               THEN CASE WHEN 2 * (substr(cand, j, 1)::INT) > 9
                    THEN 2 * (substr(cand, j, 1)::INT) - 9
                    ELSE 2 * (substr(cand, j, 1)::INT) END
               ELSE substr(cand, j, 1)::INT END)) % 10 = 0) AS ok
         FROM c),
       agg AS (SELECT doc_id, count(*) AS n,
                 sum(CASE WHEN ok THEN 1 ELSE 0 END) AS nv
               FROM v GROUP BY doc_id)
       SELECT t.doc_id,
         CAST(COALESCE(agg.n, 0) AS BIGINT) AS n_card_cand,
         CAST(COALESCE(agg.nv, 0) AS BIGINT) AS n_luhn_valid
       FROM t LEFT JOIN agg USING (doc_id)
       ORDER BY doc_id"""

  // -------------------------------------------------- temperature mixing
  // α = 1/2 temperature mix: source weights DERIVED from the corpus as
  // isqrt(token mass) — low-resource sources upweighted relative to their
  // size (XLM/mT5 sampling). The exact-integer-sqrt correction (±1 around
  // the double rounding) is the contract under test: both engines compute
  // floor(sqrt) the same corrected way, so thresholds — and therefore the
  // kept set — are bit-identical.
  private def qTempMix(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("toks"))
    Sampling.mixTemperatureSqrt(d, "doc_id", "toks", "source",
        salt = "temp", hash = ph)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      .orderBy("source")
  }

  private val oTempMix =
    """WITH d AS (SELECT doc_id, source, len(str_split(text, ' '))::BIGINT AS toks FROM documents),
       tot AS (SELECT source, CAST(SUM(toks) AS BIGINT) AS tok
               FROM d GROUP BY source HAVING SUM(toks) > 0),
       w AS (SELECT source, tok,
               (CASE WHEN (s0+1)*(s0+1) <= tok THEN s0+1
                     WHEN s0*s0 > tok THEN s0-1 ELSE s0 END) AS w
             FROM (SELECT source, tok, CAST(floor(sqrt(tok::DOUBLE)) AS BIGINT) AS s0 FROM tot)),
       thr AS (SELECT source,
                 least(1000000::BIGINT,
                   (((w * (SELECT CAST(SUM(tok) AS BIGINT) FROM w))
                     // (SELECT CAST(SUM(w) AS BIGINT) FROM w)) * 1000000) // tok) AS thr
               FROM w)
       SELECT d.source, count(*) AS n_docs, CAST(SUM(d.toks) AS BIGINT) AS n_tokens
       FROM d JOIN thr USING (source)
       WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || 'temp'), 1, 15))::BIGINT % 1000000 < thr.thr
       GROUP BY d.source ORDER BY d.source"""

  // ----------------------------------------------------- publish date
  // Content-time extraction: /YYYY/MM/DD/ permalink segment (range-checked
  // — /2023/14/xx/ is a counter, not a date) with body-dateline ISO dates
  // as fallback. URLs and datelines are synthesized deterministically from
  // doc_id (every 3rd doc a dated permalink, every 5th a dateline, months
  // deliberately overflowing into the invalid band), so the regex + range
  // check + coalesce precedence are all value-verified.
  private def qPubDate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"),
      concat(lit("https://blog.example/"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat((lit(2000) + pmod(col("doc_id"), lit(26))).cast("string"), lit("/"),
            lpad(pmod(col("doc_id"), lit(15)).cast("string"), 2, "0"), lit("/"),
            lpad((pmod(col("doc_id"), lit(28)) + 1).cast("string"), 2, "0"), lit("/")))
          .otherwise(lit("post/")),
        col("doc_id").cast("string")).as("url"),
      when(pmod(col("doc_id"), lit(5)) === 0,
        concat(lit("Published: "),
          (lit(2010) + pmod(col("doc_id"), lit(9))).cast("string"), lit("-"),
          lpad((pmod(col("doc_id"), lit(12)) + 1).cast("string"), 2, "0"), lit("-"),
          lpad((pmod(col("doc_id"), lit(28)) + 1).cast("string"), 2, "0"),
          lit(" "), col("text")))
        .otherwise(col("text")).as("body"))
    d.select(col("doc_id"), col("url"),
        CorpusSignals.urlDate(col("url")).as("url_date"),
        CorpusSignals.pubDate(col("url"), col("body")).as("pub_date"))
      .orderBy("doc_id")
  }

  private val oPubDate =
    """WITH u AS (SELECT doc_id,
           'https://blog.example/' ||
           CASE WHEN doc_id % 3 = 0
             THEN (2000 + doc_id % 26)::VARCHAR || '/' ||
                  lpad((doc_id % 15)::VARCHAR, 2, '0') || '/' ||
                  lpad((doc_id % 28 + 1)::VARCHAR, 2, '0') || '/'
             ELSE 'post/' END || doc_id::VARCHAR AS url,
           CASE WHEN doc_id % 5 = 0
             THEN 'Published: ' || (2010 + doc_id % 9)::VARCHAR || '-' ||
                  lpad((doc_id % 12 + 1)::VARCHAR, 2, '0') || '-' ||
                  lpad((doc_id % 28 + 1)::VARCHAR, 2, '0') || ' ' || text
             ELSE text END AS body
         FROM documents),
       e AS (SELECT doc_id, url,
           regexp_extract(url, '/((?:19|20)[0-9]{2})/([0-9]{2})/([0-9]{2})/', 1) AS uy,
           regexp_extract(url, '/((?:19|20)[0-9]{2})/([0-9]{2})/([0-9]{2})/', 2) AS um,
           regexp_extract(url, '/((?:19|20)[0-9]{2})/([0-9]{2})/([0-9]{2})/', 3) AS ud,
           regexp_extract(body, '\b((?:19|20)[0-9]{2})-([0-9]{2})-([0-9]{2})\b', 1) AS ty,
           regexp_extract(body, '\b((?:19|20)[0-9]{2})-([0-9]{2})-([0-9]{2})\b', 2) AS tm,
           regexp_extract(body, '\b((?:19|20)[0-9]{2})-([0-9]{2})-([0-9]{2})\b', 3) AS td
         FROM u),
       v AS (SELECT doc_id, url,
           CASE WHEN TRY_CAST(um AS INT) BETWEEN 1 AND 12
                 AND TRY_CAST(ud AS INT) BETWEEN 1 AND 31
                THEN uy || '-' || um || '-' || ud END AS url_date,
           CASE WHEN TRY_CAST(tm AS INT) BETWEEN 1 AND 12
                 AND TRY_CAST(td AS INT) BETWEEN 1 AND 31
                THEN ty || '-' || tm || '-' || td END AS text_date
         FROM e)
       SELECT doc_id, url, url_date,
         COALESCE(url_date, text_date) AS pub_date
       FROM v ORDER BY doc_id"""

  // -------------------------------------------------------------- mojibake
  // Double-encoding artifacts (UTF-8 read as cp1252) detected and repaired
  // from the shared CorpusSignals.MojibakeTable; every even doc gets a
  // deterministic artifact-laden suffix. The oracle SQL is GENERATED from
  // the same table (length-difference counts + nested replace chain), so
  // table edits cannot drift the two sides apart; repaired text is pinned
  // by char length + 60-bit md5 — one wrong replacement flips the hash.
  private val MojiSuffix = " Itâ€™s â€œcaffÃ©â€¦ 5Â° Â«dÃ¼vâ€“xÂ»"

  private def qMojibake(s: SparkSession, dir: String): DataFrame = {
    val x = concat(col("text"),
      when(pmod(col("doc_id"), lit(2)) === 0, lit(MojiSuffix)).otherwise(lit("")))
    docs(s, dir).select(col("doc_id"), x.as("x"))
      .select(col("doc_id"),
        CorpusSignals.mojibakeCount(col("x")).as("n_moji"),
        length(CorpusSignals.repairMojibake(col("x"))).cast("long").as("repaired_len"),
        conv(substring(md5(CorpusSignals.repairMojibake(col("x"))), 1, 15), 16, 10)
          .cast("long").as("repaired_h"))
      .orderBy("doc_id")
  }

  private val oMojibake: String = {
    val terms = CorpusSignals.MojibakeTable.map { case (a, _) =>
      s"(length(x) - length(replace(x, '$a', ''))) // ${a.length}"
    }.mkString(" + ")
    val repaired = CorpusSignals.MojibakeTable.foldLeft("x") {
      case (e, (a, b)) => s"replace($e, '$a', '$b')"
    }
    s"""WITH t AS (SELECT doc_id,
           text || CASE WHEN doc_id % 2 = 0 THEN '$MojiSuffix' ELSE '' END AS x
         FROM documents)
       SELECT doc_id,
         CAST($terms AS BIGINT) AS n_moji,
         CAST(length($repaired) AS BIGINT) AS repaired_len,
         ('0x' || substr(md5($repaired), 1, 15))::BIGINT AS repaired_h
       FROM t ORDER BY doc_id"""
  }

  // ------------------------------------------------ deterministic shuffle
  // Reproducible training order: (shard, pos) from the hash permutation —
  // replays identically across restarts, partitionings, and engines. Both
  // sides compute the identical rank, so the WHOLE permutation is
  // value-verified, not just row membership.
  private def qShuffle(s: SparkSession, dir: String): DataFrame =
    Sampling.deterministicShuffle(docs(s, dir).select("doc_id"), "doc_id",
        shards = 8, salt = "ep0", hash = ph)
      .select("doc_id", "shard", "pos")
      .orderBy("doc_id")

  private val oShuffle =
    """WITH h AS (SELECT doc_id,
           ('0x' || substr(md5(doc_id::VARCHAR || 'ep0'), 1, 15))::BIGINT % 1000000 AS h
         FROM documents)
       SELECT doc_id, h % 8 AS shard,
         CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS BIGINT) AS pos
       FROM h ORDER BY doc_id"""

  // ------------------------------------------------- negative sampling
  // Contrastive negatives: successor-in-hash-order within the shard,
  // wrapping at the shard end — the whole assignment is value-verified
  // (both engines compute the identical lead/first-over-window).
  private def qNegPairs(s: SparkSession, dir: String): DataFrame =
    Sampling.negativePairs(docs(s, dir).select("doc_id"), "doc_id",
        shards = 8, salt = "ns", hash = ph)
      .select("doc_id", "shard", "neg_id")
      .orderBy("doc_id")

  private val oNegPairs =
    """WITH h AS (SELECT doc_id,
           ('0x' || substr(md5(doc_id::VARCHAR || 'ns'), 1, 15))::BIGINT % 1000000 AS h
         FROM documents),
       s AS (SELECT doc_id, h, h % 8 AS shard FROM h),
       p AS (SELECT doc_id, shard,
           COALESCE(lead(doc_id) OVER (PARTITION BY shard ORDER BY h, doc_id),
                    first_value(doc_id) OVER (PARTITION BY shard ORDER BY h, doc_id)) AS neg_id
         FROM s)
       SELECT doc_id, shard, neg_id FROM p
       WHERE neg_id <> doc_id ORDER BY doc_id"""

  // ------------------------------------------------------------ indexability
  // The full three-gate indexability decision a crawl pipeline makes per
  // page — HTTP envelope (status must be 200), page-level meta robots
  // (noindex/none), and host-level robots.txt (longest-prefix verdict) —
  // composed from ops/Http, ops/PageMeta and ops/Robots over one
  // synthesized corpus. Each gate's inputs are arithmetic in doc_id, so
  // the oracle rebuilds all three verdicts and the conjunction exactly;
  // a regression in ANY of the three parsers flips rows.
  private def qIndexable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pages = docs(s, dir).select(col("doc_id")).as[Long]
      .map { id =>
        val url = s"https://h${id % 37}.example.com/doc/$id"
        val robotsMeta = (id % 5) match {
          case 0 => """<meta name="robots" content="noindex">"""
          case 2 => """<meta name="robots" content="NONE">"""
          case _ => """<meta name="robots" content="index, follow">"""
        }
        val html = s"<html><head>$robotsMeta<title>D$id</title></head><body>x</body></html>"
        val env =
          if (id % 7 == 0) s"HTTP/1.1 301 Moved\r\nLocation: https://x/\r\n\r\n$html"
          else if (id % 3 == 0) html // no envelope: not an HTTP response
          else s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$html"
        (id, url, env, html)
      }.toDF("doc_id", "url", "env", "html")
    val status = pages.select(col("doc_id"),
      Http.httpStatus(encode(col("env"), "UTF-8")).as("status"))
    val meta = PageMeta.extract(pages, "doc_id", "url", "html")
      .select(col("doc_id"), col("noindex"))
    val hostCol = concat(lit("h"), col("id").cast("string"), lit(".example.com"))
    val rules = s.range(0, 37)
      .select(hostCol.as("host"), lit("/doc/").as("prefix"),
        (pmod(col("id"), lit(3)) =!= 0).as("allow"))
    val allowed = graft.ops.Robots.allowedDecision(
        pages.select("doc_id", "url"), "url", rules)
      .select(col("doc_id"), col("allowed"))
    status.join(meta, "doc_id").join(allowed, "doc_id")
      .withColumn("indexable",
        coalesce(col("status") === 200, lit(false)) &&
          !col("noindex") && col("allowed"))
      .orderBy("doc_id")
  }

  private val oIndexable =
    """SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN 301
              WHEN doc_id % 3 = 0 THEN NULL
              ELSE 200 END::BIGINT AS status,
         (doc_id % 5 = 0 OR doc_id % 5 = 2) AS noindex,
         ((doc_id % 37) % 3 <> 0) AS allowed,
         (COALESCE(CASE WHEN doc_id % 7 = 0 THEN 301
                        WHEN doc_id % 3 = 0 THEN NULL
                        ELSE 200 END = 200, false)
          AND NOT (doc_id % 5 = 0 OR doc_id % 5 = 2)
          AND ((doc_id % 37) % 3 <> 0)) AS indexable
       FROM documents ORDER BY doc_id"""

  // -------------------------------------------------------- cosine top-k ANN
  private def qCosineTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    VectorSim.cosineTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("nbr_id"), col("score"), col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  private val oCosineTopK =
    """WITH qv AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor((x::DOUBLE)*1000 + 0.5) AS BIGINT)) AS v
         FROM embeddings),
       scored AS (
         SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
           (SELECT sum(q.v[g.i] * c.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE /
           (sqrt((SELECT sum(q.v[g.i] * q.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE) *
            sqrt((SELECT sum(c.v[g.i] * c.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE)) AS score
         FROM qv q, qv c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
       ranked AS (SELECT query_id, nbr_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, nbr_id) AS BIGINT) AS rank
         FROM scored)
       SELECT query_id, nbr_id, score, rank FROM ranked WHERE rank <= 5
       ORDER BY query_id, rank"""

  // ------------------------------------------------------------- LSH buckets
  private def qAnnLsh(s: SparkSession, dir: String): DataFrame =
    VectorSim.lshBuckets(embs(s, dir), "vec_id", "embedding", planes = 16)
      .orderBy("bucket")

  private val oAnnLsh =
    """WITH qv AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor((x::DOUBLE)*1000 + 0.5) AS BIGINT)) AS v
         FROM embeddings),
       dots AS (
         SELECT vec_id, t.j, sum(v[g.i] * (((t.j*64 + g.i) * 2654435761) % 1000003 % 19 - 9)) AS d
         FROM qv, generate_series(0, 15) t(j), generate_series(1, 64) g(i)
         GROUP BY vec_id, t.j),
       sigs AS (
         SELECT vec_id, CAST(sum(CASE WHEN d > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS bucket
         FROM dots GROUP BY vec_id)
       SELECT bucket, count(*) AS n_vecs, min(vec_id) AS min_id
       FROM sigs GROUP BY bucket ORDER BY bucket"""

  // ----------------------------------------------------------- ANN via LSH
  // The sub-quadratic ANN path: candidates share the query's SRP-LSH bucket
  // (equi-join), exact quantized-cosine rerank within bucket. The oracle
  // recomputes the identical signature arithmetic in DuckDB, so the
  // approximate CONTRACT (bucket-sharing candidates only) is itself what's
  // verified — both engines agree bit-for-bit on who shares a bucket.
  private def qAnnTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    VectorSim.annTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, planes = 8)
      .select(col("query_id"), col("nbr_id"), col("score"),
        col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  private val oAnnTopK =
    """WITH qv AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor((x::DOUBLE)*1000 + 0.5) AS BIGINT)) AS v
         FROM embeddings),
       dots AS (
         SELECT vec_id, t.j, sum(v[g.i] * (((t.j*64 + g.i) * 2654435761) % 1000003 % 19 - 9)) AS d
         FROM qv, generate_series(0, 7) t(j), generate_series(1, 64) g(i)
         GROUP BY vec_id, t.j),
       sigs AS (
         SELECT vec_id, CAST(sum(CASE WHEN d > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS bucket
         FROM dots GROUP BY vec_id),
       cand AS (
         SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
           (SELECT sum(a.v[g.i] * b.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE /
           (sqrt((SELECT sum(a.v[g.i] * a.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE) *
            sqrt((SELECT sum(b.v[g.i] * b.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE)) AS score
         FROM sigs q JOIN sigs c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
         JOIN qv a ON a.vec_id = q.vec_id JOIN qv b ON b.vec_id = c.vec_id
         WHERE q.vec_id < 10),
       ranked AS (SELECT query_id, nbr_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, nbr_id) AS BIGINT) AS rank
         FROM cand)
       SELECT query_id, nbr_id, score, rank FROM ranked WHERE rank <= 5
       ORDER BY query_id, rank"""

  // ------------------------------------------------------------ ANN via IVF
  // The inverted-file ANN path (one deterministic k-means step: lowest-id
  // seeds → exact-cosine assignment → floor(sum/count + 0.5) means), then
  // probe-2-cells + exact rerank. Like q_ann_topk, the approximate CONTRACT
  // is what's verified: both engines agree bit-for-bit on the centroids,
  // the inverted lists, the probed cells, and the reranked top-k.
  private def qIvfTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    VectorSim.ivfTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, c = 8, nprobe = 2)
      .select(col("query_id"), col("nbr_id"), col("score"),
        col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  private val oIvfTopK =
    """WITH qv AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor((x::DOUBLE)*1000 + 0.5) AS BIGINT)) AS v
         FROM embeddings),
       seeds AS (SELECT vec_id AS cid, v AS cv FROM qv ORDER BY vec_id LIMIT 8),
       a1 AS (
         SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rk
         FROM (
           SELECT x.vec_id, s.cid,
             (SELECT sum(x.v[g.i] * s.cv[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE /
             (sqrt((SELECT sum(x.v[g.i] * x.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE) *
              sqrt((SELECT sum(s.cv[g.i] * s.cv[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE)) AS score
           FROM qv x, seeds s)),
       sums AS (
         SELECT a.cid, g.i AS pos, sum(x.v[g.i]) AS sm, count(*) AS cnt
         FROM (SELECT vec_id, cid FROM a1 WHERE rk = 1) a
         JOIN qv x ON x.vec_id = a.vec_id, generate_series(1, 64) g(i)
         GROUP BY a.cid, g.i),
       cents AS (SELECT cid, list(CAST(floor(sm::DOUBLE / cnt + 0.5) AS BIGINT) ORDER BY pos) AS cv
         FROM sums GROUP BY cid),
       a2 AS (
         SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rk
         FROM (
           SELECT x.vec_id, s.cid,
             (SELECT sum(x.v[g.i] * s.cv[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE /
             (sqrt((SELECT sum(x.v[g.i] * x.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE) *
              sqrt((SELECT sum(s.cv[g.i] * s.cv[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE)) AS score
           FROM qv x, cents s)),
       lists AS (SELECT vec_id AS nbr_id, cid FROM a2 WHERE rk = 1),
       probes AS (SELECT vec_id AS query_id, cid FROM a2 WHERE rk <= 2 AND vec_id < 10),
       cand AS (
         SELECT p.query_id, l.nbr_id,
           (SELECT sum(a.v[g.i] * b.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE /
           (sqrt((SELECT sum(a.v[g.i] * a.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE) *
            sqrt((SELECT sum(b.v[g.i] * b.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE)) AS score
         FROM probes p JOIN lists l ON l.cid = p.cid AND l.nbr_id <> p.query_id
         JOIN qv a ON a.vec_id = p.query_id JOIN qv b ON b.vec_id = l.nbr_id),
       ranked AS (SELECT query_id, nbr_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, nbr_id) AS BIGINT) AS rank
         FROM cand)
       SELECT query_id, nbr_id, score, rank FROM ranked WHERE rank <= 5
       ORDER BY query_id, rank"""

  // ----------------------------------------------------------- IVF training
  // Full Lloyd's iteration for the IVF coarse quantizer (3 rounds, c=8):
  // the single-step quantizer q_ivf_topk uses is the r=1 special case; the
  // oracle replays every round's assignment (exact integer dot, ties to
  // lower cid) and floor(sum/count + .5) centroid re-quantization, so the
  // whole iterative trainer is value-level verified.
  private def qIvfTrain(s: SparkSession, dir: String): DataFrame =
    VectorSim.ivfCentroids(embs(s, dir), "vec_id", "embedding",
        c = 8, iters = 3)
      .select(col("cid"), array_join(col("cv"), ",").as("cv_str"))
      .orderBy("cid")

  private val oIvfTrain: String = {
    val dot64 = (a: String, b: String) =>
      s"(SELECT sum($a[g.i] * $b[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE"
    def assign(r: Int, cents: String) =
      s"""a$r AS (
           SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rk
           FROM (
             SELECT x.vec_id, s.cid,
               ${dot64("x.v", "s.cv")} /
               (sqrt(${dot64("x.v", "x.v")}) * sqrt(${dot64("s.cv", "s.cv")})) AS score
             FROM qv x, $cents s))"""
    def means(r: Int) =
      s"""c$r AS (
           SELECT cid, list(CAST(floor(sm::DOUBLE / cnt + 0.5) AS BIGINT) ORDER BY pos) AS cv
           FROM (
             SELECT a.cid, g.i AS pos, sum(x.v[g.i]) AS sm, count(*) AS cnt
             FROM (SELECT vec_id, cid FROM a$r WHERE rk = 1) a
             JOIN qv x ON x.vec_id = a.vec_id, generate_series(1, 64) g(i)
             GROUP BY a.cid, g.i)
           GROUP BY cid)"""
    val rounds = (1 to 3).map(r =>
      assign(r, if (r == 1) "seeds" else s"c${r - 1}") + ",\n" + means(r))
      .mkString(",\n")
    s"""WITH qv AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor((x::DOUBLE)*1000 + 0.5) AS BIGINT)) AS v
         FROM embeddings),
       seeds AS (SELECT vec_id AS cid, v AS cv FROM qv ORDER BY vec_id LIMIT 8),
       $rounds
       SELECT cid, array_to_string(cv, ',') AS cv_str FROM c3 ORDER BY cid"""
  }

  // ------------------------------------------------------------- ANN recall
  // The evaluation harness for the approximate paths: recall@k of SRP-LSH
  // (q_ann_topk's contract) and IVF probe-2 (q_ivf_topk's contract) against
  // the exact brute-force top-k (q_cosine_topk's contract), per query.
  // "Measure, don't guess": the three candidate-generation strategies are
  // each verified bit-level on their own rows; THIS row verifies the
  // quality relationship between them — integral hit counts, so the result
  // is hash-stable across engines. At 100 TB this is the query you run on
  // a sample to pick planes/nprobe before committing the full-corpus job.
  private def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val q = e.where(col("vec_id") < 10)
    val exact = VectorSim.cosineTopK(e, q, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("nbr_id"))
    val lsh = VectorSim.annTopK(e, q, "vec_id", "embedding", k = 5, planes = 8)
      .select(col("query_id"), col("nbr_id"))
    val ivf = VectorSim.ivfTopK(e, q, "vec_id", "embedding",
        k = 5, c = 8, nprobe = 2)
      .select(col("query_id"), col("nbr_id"))
    val ex = exact.groupBy("query_id").agg(count(lit(1)).as("exact_k"))
    val lh = exact.join(lsh, Seq("query_id", "nbr_id"))
      .groupBy("query_id").agg(count(lit(1)).as("lsh_hits"))
    val ih = exact.join(ivf, Seq("query_id", "nbr_id"))
      .groupBy("query_id").agg(count(lit(1)).as("ivf_hits"))
    ex.join(lh, Seq("query_id"), "left").join(ih, Seq("query_id"), "left")
      .select(col("query_id"), col("exact_k"),
        coalesce(col("lsh_hits"), lit(0L)).as("lsh_hits"),
        coalesce(col("ivf_hits"), lit(0L)).as("ivf_hits"))
      .orderBy("query_id")
  }

  // Shares qv; the exact / LSH / IVF blocks are the three green oracles
  // with renamed CTEs (MATERIALIZED where the chain re-inlines — the q_hits
  // lesson), reduced to their (query_id, nbr_id) sets, then joined.
  private val oAnnRecall =
    """WITH qv AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(floor((x::DOUBLE)*1000 + 0.5) AS BIGINT)) AS v
         FROM embeddings),
       ex_scored AS (
         SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
           (SELECT sum(q.v[g.i] * c.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE /
           (sqrt((SELECT sum(q.v[g.i] * q.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE) *
            sqrt((SELECT sum(c.v[g.i] * c.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE)) AS score
         FROM qv q, qv c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
       ex_top AS MATERIALIZED (
         SELECT query_id, nbr_id FROM (
           SELECT query_id, nbr_id,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, nbr_id) AS rank
           FROM ex_scored) WHERE rank <= 5),
       lsh_dots AS (
         SELECT vec_id, t.j, sum(v[g.i] * (((t.j*64 + g.i) * 2654435761) % 1000003 % 19 - 9)) AS d
         FROM qv, generate_series(0, 7) t(j), generate_series(1, 64) g(i)
         GROUP BY vec_id, t.j),
       lsh_sigs AS MATERIALIZED (
         SELECT vec_id, CAST(sum(CASE WHEN d > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS bucket
         FROM lsh_dots GROUP BY vec_id),
       lsh_cand AS (
         SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
           (SELECT sum(a.v[g.i] * b.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE /
           (sqrt((SELECT sum(a.v[g.i] * a.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE) *
            sqrt((SELECT sum(b.v[g.i] * b.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE)) AS score
         FROM lsh_sigs q JOIN lsh_sigs c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
         JOIN qv a ON a.vec_id = q.vec_id JOIN qv b ON b.vec_id = c.vec_id
         WHERE q.vec_id < 10),
       lsh_top AS MATERIALIZED (
         SELECT query_id, nbr_id FROM (
           SELECT query_id, nbr_id,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, nbr_id) AS rank
           FROM lsh_cand) WHERE rank <= 5),
       seeds AS (SELECT vec_id AS cid, v AS cv FROM qv ORDER BY vec_id LIMIT 8),
       ivf_a1 AS (
         SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rk
         FROM (
           SELECT x.vec_id, s.cid,
             (SELECT sum(x.v[g.i] * s.cv[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE /
             (sqrt((SELECT sum(x.v[g.i] * x.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE) *
              sqrt((SELECT sum(s.cv[g.i] * s.cv[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE)) AS score
           FROM qv x, seeds s)),
       ivf_sums AS (
         SELECT a.cid, g.i AS pos, sum(x.v[g.i]) AS sm, count(*) AS cnt
         FROM (SELECT vec_id, cid FROM ivf_a1 WHERE rk = 1) a
         JOIN qv x ON x.vec_id = a.vec_id, generate_series(1, 64) g(i)
         GROUP BY a.cid, g.i),
       ivf_cents AS MATERIALIZED (SELECT cid, list(CAST(floor(sm::DOUBLE / cnt + 0.5) AS BIGINT) ORDER BY pos) AS cv
         FROM ivf_sums GROUP BY cid),
       ivf_a2 AS MATERIALIZED (
         SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rk
         FROM (
           SELECT x.vec_id, s.cid,
             (SELECT sum(x.v[g.i] * s.cv[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE /
             (sqrt((SELECT sum(x.v[g.i] * x.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE) *
              sqrt((SELECT sum(s.cv[g.i] * s.cv[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE)) AS score
           FROM qv x, ivf_cents s)),
       ivf_lists AS (SELECT vec_id AS nbr_id, cid FROM ivf_a2 WHERE rk = 1),
       ivf_probes AS (SELECT vec_id AS query_id, cid FROM ivf_a2 WHERE rk <= 2 AND vec_id < 10),
       ivf_cand AS (
         SELECT p.query_id, l.nbr_id,
           (SELECT sum(a.v[g.i] * b.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE /
           (sqrt((SELECT sum(a.v[g.i] * a.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE) *
            sqrt((SELECT sum(b.v[g.i] * b.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE)) AS score
         FROM ivf_probes p JOIN ivf_lists l ON l.cid = p.cid AND l.nbr_id <> p.query_id
         JOIN qv a ON a.vec_id = p.query_id JOIN qv b ON b.vec_id = l.nbr_id),
       ivf_top AS MATERIALIZED (
         SELECT query_id, nbr_id FROM (
           SELECT query_id, nbr_id,
             row_number() OVER (PARTITION BY query_id ORDER BY score DESC, nbr_id) AS rank
           FROM ivf_cand) WHERE rank <= 5)
       SELECT e.query_id,
         count(*) AS exact_k,
         CAST(coalesce(sum(CASE WHEN l.nbr_id IS NOT NULL THEN 1 END), 0) AS BIGINT) AS lsh_hits,
         CAST(coalesce(sum(CASE WHEN i.nbr_id IS NOT NULL THEN 1 END), 0) AS BIGINT) AS ivf_hits
       FROM ex_top e
       LEFT JOIN lsh_top l ON l.query_id = e.query_id AND l.nbr_id = e.nbr_id
       LEFT JOIN ivf_top i ON i.query_id = e.query_id AND i.nbr_id = e.nbr_id
       GROUP BY e.query_id ORDER BY e.query_id"""

  // -------------------------------------------------------- PQ training/ADC
  // Product quantization (Jégou '11): the third ANN family next to SRP-LSH
  // (oblivious cuts) and IVF (data-adapted cells) — PQ compresses the
  // CORPUS REPRESENTATION to m code ids per vector and scores queries from
  // an m×ksub lookup table (asymmetric distance). Distances are exact
  // integer L2 over the quantized vectors, so codebooks, codes, and ADC
  // ranks are bit-identical in both engines. The oracle replays the full
  // chain: per-subspace Lloyd rounds (ties → lower cid, floor(sum/cnt+.5)
  // means), encoding, LUT build, and the table-sum ranking.
  private val oPqAssign: (Int, String) => String = (r, cents) =>
    s"""a$r AS MATERIALIZED (
       SELECT vec_id, sub, cid, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d ASC, cid ASC) AS rk
       FROM (
         SELECT x.vec_id, x.sub, s.cid,
           (SELECT sum((x.sv[g.i] - s.cv[g.i]) * (x.sv[g.i] - s.cv[g.i]))
            FROM generate_series(1, 16) g(i)) AS d
         FROM sv x JOIN $cents s ON s.sub = x.sub))"""

  private val oPqMeans: Int => String = r =>
    s"""c$r AS MATERIALIZED (
       SELECT sub, cid, list(CAST(floor(sm::DOUBLE / cnt + 0.5) AS BIGINT) ORDER BY pos) AS cv
       FROM (
         SELECT a.sub, a.cid, g.i AS pos, sum(x.sv[g.i]) AS sm, count(*) AS cnt
         FROM (SELECT vec_id, sub, cid FROM a$r WHERE rk = 1) a
         JOIN sv x ON x.vec_id = a.vec_id AND x.sub = a.sub, generate_series(1, 16) g(i)
         GROUP BY a.sub, a.cid, g.i)
       GROUP BY sub, cid)"""

  private val oPqPrefix =
    """WITH qv AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(floor((x::DOUBLE)*1000 + 0.5) AS BIGINT)) AS v
         FROM embeddings),
       sv AS MATERIALIZED (SELECT vec_id, t.sub, v[t.sub*16 + 1 : t.sub*16 + 16] AS sv
         FROM qv, generate_series(0, 3) t(sub)),
       seeds AS (SELECT sub, vec_id AS cid, sv AS cv FROM sv
         WHERE vec_id IN (SELECT vec_id FROM qv ORDER BY vec_id LIMIT 4)),
    """

  private def qPqTrain(s: SparkSession, dir: String): DataFrame =
    VectorSim.pqCodebooks(embs(s, dir), "vec_id", "embedding",
        m = 4, ksub = 4, iters = 2)
      .select(col("sub"), col("cid"), array_join(col("cv"), ",").as("cv_str"))
      .orderBy("sub", "cid")

  private val oPqTrain: String =
    oPqPrefix +
      Seq(oPqAssign(1, "seeds"), oPqMeans(1), oPqAssign(2, "c1"), oPqMeans(2))
        .mkString(",\n") +
      "\n SELECT sub, cid, array_to_string(cv, ',') AS cv_str FROM c2 ORDER BY sub, cid"

  private def qPqTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    VectorSim.pqTopK(e, e.where(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, m = 4, ksub = 4, iters = 1)
      .select(col("query_id"), col("nbr_id"), col("adist"),
        col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  private val oPqTopK: String =
    oPqPrefix +
      Seq(oPqAssign(1, "seeds"), oPqMeans(1), oPqAssign(2, "c1")).mkString(",\n") +
      """,
       enc AS (SELECT vec_id AS nbr_id, sub, cid FROM a2 WHERE rk = 1),
       lut AS MATERIALIZED (
         SELECT x.vec_id AS query_id, x.sub, s.cid,
           (SELECT sum((x.sv[g.i] - s.cv[g.i]) * (x.sv[g.i] - s.cv[g.i]))
            FROM generate_series(1, 16) g(i)) AS d
         FROM sv x JOIN c1 s ON s.sub = x.sub WHERE x.vec_id < 10),
       cand AS (
         SELECT l.query_id, e.nbr_id, CAST(sum(l.d) AS BIGINT) AS adist
         FROM enc e JOIN lut l ON l.sub = e.sub AND l.cid = e.cid AND l.query_id <> e.nbr_id
         GROUP BY 1, 2),
       ranked AS (SELECT query_id, nbr_id, adist,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, nbr_id) AS BIGINT) AS rank
         FROM cand)
       SELECT query_id, nbr_id, adist, rank FROM ranked WHERE rank <= 5
       ORDER BY query_id, rank"""

  // ------------------------------------------------------- text embeddings
  // Model-free document embeddings from the text table itself (feature
  // hashing + signed random projection, all-integer), then the SAME ANN
  // machinery over them — the end-to-end connector: a similarity signal
  // with no external model anywhere. q_text_embed verifies the vectors;
  // q_text_ann verifies the full composition text → embedding → SRP-LSH
  // bucket → exact rerank, bit for bit.
  private def qTextEmbed(s: SparkSession, dir: String): DataFrame =
    VectorSim.textEmbedding(docs(s, dir), "doc_id", "text", dim = 16)
      .select(col("id").as("doc_id"), array_join(col("emb"), ",").as("emb"))
      .orderBy("doc_id")

  private val oTextEmbed =
    """WITH toks AS (
         SELECT doc_id AS id, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1048576 AS hf
         FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents)),
       e AS (
         SELECT id, t.j, sum(((t.j*1048576 + hf) * 2654435761) % 1000003 % 19 - 9) AS e
         FROM toks, generate_series(0, 15) t(j) GROUP BY id, t.j)
       SELECT id AS doc_id, array_to_string(list(CAST(e AS BIGINT) ORDER BY j), ',') AS emb
       FROM e GROUP BY id ORDER BY doc_id"""

  private def qTextAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = VectorSim.textEmbedding(docs(s, dir), "doc_id", "text", dim = 16)
    VectorSim.annTopK(emb, emb.where(col("id") < 5), "id", "emb",
        k = 5, planes = 8, dim = 16)
      .select(col("query_id"), col("nbr_id"), col("score"),
        col("rank").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }

  private val oTextAnn =
    """WITH toks AS (
         SELECT doc_id AS id, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1048576 AS hf
         FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents)),
       e AS (
         SELECT id, t.j, sum(((t.j*1048576 + hf) * 2654435761) % 1000003 % 19 - 9) AS e
         FROM toks, generate_series(0, 15) t(j) GROUP BY id, t.j),
       qv AS (SELECT id, list(CAST(e AS BIGINT) * 1000 ORDER BY j) AS v
         FROM e GROUP BY id),
       dots AS (
         SELECT id, t.j, sum(v[g.i] * (((t.j*64 + g.i) * 2654435761) % 1000003 % 19 - 9)) AS d
         FROM qv, generate_series(0, 7) t(j), generate_series(1, 16) g(i)
         GROUP BY id, t.j),
       sigs AS (
         SELECT id, CAST(sum(CASE WHEN d > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS bucket
         FROM dots GROUP BY id),
       cand AS (
         SELECT q.id AS query_id, c.id AS nbr_id,
           (SELECT sum(a.v[g.i] * b.v[g.i]) FROM generate_series(1, 16) g(i))::DOUBLE /
           (sqrt((SELECT sum(a.v[g.i] * a.v[g.i]) FROM generate_series(1, 16) g(i))::DOUBLE) *
            sqrt((SELECT sum(b.v[g.i] * b.v[g.i]) FROM generate_series(1, 16) g(i))::DOUBLE)) AS score
         FROM sigs q JOIN sigs c ON q.bucket = c.bucket AND q.id <> c.id
         JOIN qv a ON a.id = q.id JOIN qv b ON b.id = c.id
         WHERE q.id < 5),
       ranked AS (SELECT query_id, nbr_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, nbr_id) AS BIGINT) AS rank
         FROM cand)
       SELECT query_id, nbr_id, score, rank FROM ranked WHERE rank <= 5
       ORDER BY query_id, rank"""

  // ------------------------------------------------------------- SemDeDup
  // Semantic dedup (Abbas et al. 2023): IVF-cell clustering (the q_ivf_topk
  // coarse quantizer, bit-identical both engines), within-cell cosine
  // near-dup edges, connected components (the q_dedup_clusters reachability
  // contract), canonical-keep. One row per vector: cell, component rep,
  // keep decision. The oracle recomputes the full chain — assignment,
  // edges, recursive reachability — so both the clustering and the
  // retention decision are verified end to end.
  private def qSemDedup(s: SparkSession, dir: String): DataFrame =
    VectorSim.semDedup(embs(s, dir), "vec_id", "embedding",
        minCosine = 0.3, c = 8)
      .withColumnRenamed("id", "vec_id")
      .orderBy("vec_id")

  private val oSemDedup =
    """WITH RECURSIVE qv AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor((x::DOUBLE)*1000 + 0.5) AS BIGINT)) AS v
         FROM embeddings),
       seeds AS (SELECT vec_id AS cid, v AS cv FROM qv ORDER BY vec_id LIMIT 8),
       a1 AS (
         SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rk
         FROM (
           SELECT x.vec_id, s.cid,
             (SELECT sum(x.v[g.i] * s.cv[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE /
             (sqrt((SELECT sum(x.v[g.i] * x.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE) *
              sqrt((SELECT sum(s.cv[g.i] * s.cv[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE)) AS score
           FROM qv x, seeds s)),
       sums AS (
         SELECT a.cid, g.i AS pos, sum(x.v[g.i]) AS sm, count(*) AS cnt
         FROM (SELECT vec_id, cid FROM a1 WHERE rk = 1) a
         JOIN qv x ON x.vec_id = a.vec_id, generate_series(1, 64) g(i)
         GROUP BY a.cid, g.i),
       cents AS (SELECT cid, list(CAST(floor(sm::DOUBLE / cnt + 0.5) AS BIGINT) ORDER BY pos) AS cv
         FROM sums GROUP BY cid),
       a2 AS (
         SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rk
         FROM (
           SELECT x.vec_id, s.cid,
             (SELECT sum(x.v[g.i] * s.cv[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE /
             (sqrt((SELECT sum(x.v[g.i] * x.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE) *
              sqrt((SELECT sum(s.cv[g.i] * s.cv[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE)) AS score
           FROM qv x, cents s)),
       cells AS (SELECT vec_id, cid FROM a2 WHERE rk = 1),
       e AS (
         SELECT ca.vec_id AS src, cb.vec_id AS dst
         FROM cells ca JOIN cells cb ON ca.cid = cb.cid AND ca.vec_id <> cb.vec_id
         JOIN qv a ON a.vec_id = ca.vec_id JOIN qv b ON b.vec_id = cb.vec_id
         WHERE (SELECT sum(a.v[g.i] * b.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE /
           (sqrt((SELECT sum(a.v[g.i] * a.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE) *
            sqrt((SELECT sum(b.v[g.i] * b.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE)) >= 0.3),
       reach(id, r) AS (
         SELECT DISTINCT src, src FROM e
         UNION
         SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
       comp AS (SELECT id, min(r) AS rep FROM reach GROUP BY id)
       SELECT c.vec_id, c.cid, coalesce(m.rep, c.vec_id) AS rep,
         (coalesce(m.rep, c.vec_id) = c.vec_id) AS keep
       FROM cells c LEFT JOIN comp m ON m.id = c.vec_id
       ORDER BY c.vec_id"""

  // ----------------------------------------------------- embedding near-dups
  // Spark side: the block-replicated theta join (equi-join on block-pair
  // keys — no BroadcastNestedLoopJoin; NearDupPlanSpec asserts the plan).
  // Oracle: the brute-force formulation — identical output by construction.
  private def qEmbedNearDup(s: SparkSession, dir: String): DataFrame =
    VectorSim.nearDupPairsBlocked(embs(s, dir), "vec_id", "embedding",
        minCosine = 0.3, blocks = 16)
      .orderBy("id_a", "id_b")

  private val oEmbedNearDup =
    """WITH qv AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor((x::DOUBLE)*1000 + 0.5) AS BIGINT)) AS v
         FROM embeddings),
       scored AS (
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           (SELECT sum(a.v[g.i] * b.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE /
           (sqrt((SELECT sum(a.v[g.i] * a.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE) *
            sqrt((SELECT sum(b.v[g.i] * b.v[g.i]) FROM generate_series(1, 64) g(i))::DOUBLE)) AS score
         FROM qv a, qv b WHERE a.vec_id < b.vec_id)
       SELECT id_a, id_b, score FROM scored WHERE score >= 0.3
       ORDER BY id_a, id_b"""

  // -------------------------------------------------------------- multimodal
  // Binary media columns through the batched per-partition decode plumbing
  // (graft.ops.Multimodal): a media table synthesized from the documents
  // text (payload = UTF-8 bytes, kind from the id), integer-exact slot-sum
  // features so DuckDB verifies the identical bytes.
  private def qMultimodal(s: SparkSession, dir: String): DataFrame = {
    val media = docs(s, dir).select(
      col("doc_id").as("id"),
      when(pmod(col("doc_id"), lit(3)) === 0, "image")
        .when(pmod(col("doc_id"), lit(3)) === 1, "audio")
        .otherwise("video").as("kind"),
      col("text").cast("binary").as("payload"))
    graft.ops.Multimodal.extractSlotFeatures(s, media, dim = 8).toDF()
      .select(col("id").as("doc_id"), col("kind"), col("n_bytes"), col("slots_csv"))
      .orderBy("doc_id")
  }

  // BYTE-based oracle (r3): both sides sum UTF-8 payload BYTES — the byte
  // is extracted in DuckDB by hex-decoding encode(text) two hex digits at
  // a time, so the parity holds for ANY text, not just ASCII (the earlier
  // ascii(substr(...)) formulation summed character ordinals and only
  // agreed on ASCII corpora — the byte-vs-char trap of Decode.utf8Len).
  private val oMultimodal =
    """SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       array_to_string(list_transform(generate_series(0, 7), j ->
         COALESCE(list_sum(list_transform(generate_series(1 + j, octet_length(encode(text)), 8),
           i -> ('0x' || substr(hex(encode(text)), 2*i - 1, 2))::BIGINT)), 0)), ',') AS slots_csv
       FROM documents ORDER BY doc_id"""

  // ------------------------------------------------------- perceptual hash
  // 56-bit dHash over the opaque byte grid + Hamming near-dup pairs through
  // the text simhash banding. The per-doc oracle hex-decodes payload BYTES
  // (the q_multimodal idiom) into the same 7×9 mod-63 cell sums and
  // replays the gradient bits; the pair oracle is brute-force all-pairs,
  // so the banding's exactness is what's verified. Exact-dup payloads in
  // the corpus guarantee hamming-0 rows exist.
  // These rows pin the OPAQUE-payload arm of dHash56 (payloads that carry
  // no PNG/JPEG/GIF signature; no documents text does). The pixel arm —
  // actual PNG/JPEG/GIF decodes — is pinned by q_png_phash,
  // q_png_phash_pairs, q_jpeg_phash, and q_cross_format_pairs, closing
  // the r4 "perceptual in name only" caveat.
  private def qPhash(s: SparkSession, dir: String): DataFrame = {
    val media = docs(s, dir).select(col("doc_id").as("id"),
      col("text").cast("binary").as("payload"))
    graft.ops.Multimodal.dHash56(s, media)
      .select(col("id").as("doc_id"), col("simhash").as("dhash"))
      .orderBy("doc_id")
  }

  // The dHash bit rule over a 63-element `cells` list (7×9, row-major) —
  // every image-hash oracle interpolates this one fragment. It compares
  // cell sums: the pixel fixtures' cells all have one area (so sums order
  // like means), and the byte grid compares sums in Scala too.
  private val dhashBitsSql =
    """list_sum(list_transform(generate_series(0, 55), b ->
         CASE WHEN cells[(b // 8) * 9 + (b % 8) + 1] > cells[(b // 8) * 9 + (b % 8) + 2]
              THEN (1::BIGINT << b) ELSE 0 END))::BIGINT"""

  /** Brute-force all-pairs oracle of `imageNearDupPairs(maxHamming = 3)`:
    * `cellsCtes` defines a CTE `c(doc_id, cells)`; every id pair whose
    * dHashes differ in at most 3 bits.
    */
  private def dhashPairsSql(cellsCtes: String): String =
    s"""WITH $cellsCtes,
       ph AS (SELECT doc_id AS id, $dhashBitsSql AS h FROM c)
       SELECT a.id AS id_a, b.id AS id_b,
         bit_count(xor(a.h, b.h))::BIGINT AS hamming
       FROM ph a JOIN ph b ON a.id < b.id
       WHERE bit_count(xor(a.h, b.h)) <= 3
       ORDER BY id_a, id_b"""

  private val phashCellsCte =
    """c AS (SELECT doc_id, list_transform(generate_series(0, 62), j ->
         COALESCE(list_sum(list_transform(generate_series(1 + j, octet_length(encode(text)), 63),
           i -> ('0x' || substr(hex(encode(text)), 2*i - 1, 2))::BIGINT)), 0)) AS cells
       FROM documents)"""

  private val oPhash =
    s"""WITH $phashCellsCte
       SELECT doc_id, $dhashBitsSql AS dhash FROM c ORDER BY doc_id"""

  private def qPhashPairs(s: SparkSession, dir: String): DataFrame = {
    val media = docs(s, dir).select(col("doc_id").as("id"),
      col("text").cast("binary").as("payload"))
    graft.ops.Multimodal.imageNearDupPairs(s, media, maxHamming = 3)
      .orderBy("id_a", "id_b")
  }

  private val oPhashPairs = dhashPairsSql(phashCellsCte)

  // ------------------------------------------------------------ frame sample
  // Every-2nd-frame sampling over the video subset of the media table
  // (256-byte stub frames): the oracle re-slices the payload through its
  // hex encoding and fingerprints the same uppercase-hex frame, so one
  // byte anywhere in slice arithmetic flips the hash. Final partial frame
  // included (frame_len < 256 rows must appear).
  private def qFrameSample(s: SparkSession, dir: String): DataFrame = {
    val media = docs(s, dir)
      .where(pmod(col("doc_id"), lit(3)) === 2) // the "video" rows of q_multimodal
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    graft.ops.Multimodal.sampleFrames(media, "doc_id", "payload",
        frameBytes = 256, stride = 2)
      .select(col("doc_id"), col("frame_no"),
        length(col("frame")).cast("long").as("frame_len"),
        ph(hex(col("frame"))).as("frame_h"))
      .orderBy("doc_id", "frame_no")
  }

  private val oFrameSample =
    """WITH v AS (SELECT doc_id, hex(encode(text)) AS hx,
           CAST(octet_length(encode(text)) AS BIGINT) AS n
         FROM documents WHERE doc_id % 3 = 2 AND length(text) > 0),
       f AS (SELECT doc_id, hx, n,
           unnest(generate_series(0, (n - 1) // 256, 2)) AS frame_no
         FROM v)
       SELECT doc_id, frame_no,
         CAST(least(256, n - frame_no * 256) AS BIGINT) AS frame_len,
         ('0x' || substr(md5(substr(hx, CAST(frame_no * 512 + 1 AS INTEGER), 512)),
          1, 15))::BIGINT AS frame_h
       FROM f ORDER BY doc_id, frame_no"""

  // -------------------------------------------------------------- language ID
  private def qLangId(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("pred", TextStats.langId(col("text")))
      .groupBy("lang", "pred").agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "pred")

  private val oLangId =
    """SELECT lang, pred, count(*) AS n_docs FROM (
         SELECT lang,
           CASE WHEN len(list_filter(str_split(text, ' '),
             t -> list_contains(['the','a','an','of','and','to','in','is','it','for'], t)))::DOUBLE /
             len(str_split(text, ' ')) >= 0.05
           THEN 'en' ELSE 'unk' END AS pred
         FROM documents)
       GROUP BY lang, pred ORDER BY lang, pred"""

  // ------------------------------------------------------------ quality score
  private def qQuality(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      TextStats.tokenCount(col("text")).cast("long").as("n_tokens"),
      TextStats.meanTokenLen(col("text")).as("mean_tok_len"),
      TextStats.stopwordRatio(col("text")).as("stop_ratio"),
      TextStats.punctRatio(col("text")).as("punct_ratio"),
      TextStats.qualityScore(col("text")).as("quality")
    ).orderBy("doc_id")

  private val oQuality =
    """SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t) AS mean_tok_len,
       sr AS stop_ratio, pr AS punct_ratio,
       least(length(text)::DOUBLE / 400.0, 1.0) * 0.4 + least(sr * 10.0, 1.0) * 0.4 +
         (1.0 - least(pr * 5.0, 1.0)) * 0.2 AS quality
       FROM (SELECT doc_id, text, str_split(text, ' ') AS t,
         len(list_filter(str_split(text, ' '),
           x -> list_contains(['the','a','an','of','and','to','in','is','it','for'], x)))::DOUBLE /
           len(str_split(text, ' ')) AS sr,
         length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE / length(text) AS pr
         FROM documents)
       ORDER BY doc_id"""

  // ------------------------------------------------------- truncation policy
  // Fixed-context budget: 64 tokens kept as head 48 + tail 16 (75% head);
  // under-budget docs pass BYTE-identical. The truncated text is pinned by
  // token counts + 60-bit md5, so a one-token slice error flips the hash.
  private def qTruncate(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_toks"),
        least(TextStats.tokenCount(col("text")).cast("long"), lit(64L)).as("kept_toks"),
        conv(substring(md5(
          CorpusSignals.truncateMiddle(col("text"), maxToks = 64)), 1, 15), 16, 10)
          .cast("long").as("trunc_h"))
      .orderBy("doc_id")

  private val oTruncate =
    """WITH d AS (SELECT doc_id, text, str_split(text, ' ') AS t FROM documents)
       SELECT doc_id, CAST(len(t) AS BIGINT) AS n_toks,
         CAST(least(len(t), 64) AS BIGINT) AS kept_toks,
         ('0x' || substr(md5(CASE WHEN len(t) <= 64 THEN text
             ELSE array_to_string(t[1:48], ' ') || ' ' ||
                  array_to_string(t[len(t)-15:len(t)], ' ') END), 1, 15))::BIGINT AS trunc_h
       FROM d ORDER BY doc_id"""

  // ------------------------------------------------------- host reputation
  // RefinedWeb-style site filtering: per-host mean of the micro-quantized
  // quality score, blocked below threshold ONLY with >= minDocs evidence.
  // Hosts synthesized as doc_id mod 37 (the corpus' standard host key), so
  // per-host doc sets — and means — are arithmetic in doc_id.
  private def qHostRep(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"),
      concat(lit("https://h"), pmod(col("doc_id"), lit(37)).cast("string"),
        lit(".example.com/doc/"), col("doc_id").cast("string")).as("url"),
      floor(TextStats.qualityScore(col("text")) * 1e6).cast("long").as("q_micro"))
    CorpusSignals.hostReputation(d, "url", "q_micro",
        minDocs = 5L, minMeanMicro = 700000L)
      .orderBy("host")
  }

  private val oHostRep =
    """WITH q AS (SELECT doc_id,
           'h' || (doc_id % 37)::VARCHAR || '.example.com' AS host,
           CAST(floor((least(length(text)::DOUBLE / 400.0, 1.0) * 0.4
             + least((len(list_filter(str_split(text, ' '),
                 x -> list_contains(['the','a','an','of','and','to','in','is','it','for'], x)))::DOUBLE /
                 len(str_split(text, ' '))) * 10.0, 1.0) * 0.4
             + (1.0 - least((length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE /
                 length(text)) * 5.0, 1.0)) * 0.2) * 1e6) AS BIGINT) AS q_micro
         FROM documents)
       SELECT host, count(*) AS n_docs,
         CAST(SUM(q_micro) AS BIGINT) // count(*) AS mean_micro,
         (count(*) >= 5 AND (CAST(SUM(q_micro) AS BIGINT) // count(*)) < 700000) AS blocked
       FROM q GROUP BY host ORDER BY host"""

  // ------------------------------------------------------------ token counts
  private def qTokenCount(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).groupBy("source").agg(
      sum(TextStats.tokenCount(col("text")).cast("long")).as("ws_tokens"),
      sum(TextStats.bpeishCount(col("text")).cast("long")).as("bpeish_tokens")
    ).orderBy("source")

  private val oTokenCount =
    """SELECT source,
       CAST(sum(len(str_split(text, ' '))) AS BIGINT) AS ws_tokens,
       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]', 0))) AS BIGINT) AS bpeish_tokens
       FROM documents GROUP BY source ORDER BY source"""

  // ------------------------------------------------------------- fingerprint
  // Scan-side rolling-polynomial fingerprint (graft.functions
  // .RollingFingerprint): h(i) = Σ cp(i+j)·B^(m-1-j) mod P over code
  // points, one pass per row, no explode/shuffle/md5. The oracle recomputes
  // it with exact BIGINT arithmetic and a precomputed B^k-mod-P constant
  // list (DuckDB's `pow` is floating-point — B^7 > 2^53 would round).
  private def qFingerprint(s: SparkSession, dir: String): DataFrame =
    TextStats.fingerprintScan(docs(s, dir), "doc_id", "text", n = 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  private val oFingerprint: String = {
    val pw = graft.functions.RollingFingerprint.powerConstants(8)
      .map(v => s"CAST($v AS BIGINT)").mkString("[", ",", "]")
    s"""WITH cps AS (SELECT doc_id,
         list_transform(generate_series(1, length(text)),
           i -> CAST(unicode(substr(text, i, 1)) AS BIGINT)) AS cp,
         length(text) AS L FROM documents),
       g AS (SELECT doc_id,
         list_transform(generate_series(1, greatest(L - 7, 1)), i ->
           coalesce(list_aggregate(list_transform(generate_series(0, least(8, L) - 1), j ->
             (cp[i + j] * ($pw[least(8, L) - j])) % 1000000007), 'sum'), 0)
           % 1000000007) AS h
         FROM cps)
       SELECT doc_id,
         CAST(list_aggregate(h, 'min') AS BIGINT) AS fp_min,
         CAST(list_aggregate(h, 'max') AS BIGINT) AS fp_max,
         CAST(len(list_distinct(h)) AS BIGINT) AS n_grams
       FROM g ORDER BY doc_id"""
  }

  // ------------------------------------------------- repetition (Gopher A1.1)
  // Per-doc word-n-gram repetition profile via the one-pass gram_stats
  // kernel (graft.functions.GramStats): duplicate-occurrence fraction for
  // n=2,3 and the top-2-gram character-coverage fraction. Scan-side — no
  // explode/shuffle; the oracle recomputes with exact list ops plus an
  // unnest+group for the top-gram coverage.
  private def qRepetition(s: SparkSession, dir: String): DataFrame =
    CorpusSignals.repetitionSignals(docs(s, dir), "doc_id", "text", ns = Seq(2, 3))
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  private val oRepetition =
    """WITH lists AS (
         SELECT doc_id, text,
           list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1]) AS g2,
           list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g3
         FROM (SELECT doc_id, text, str_split(text, ' ') AS t FROM documents)
         WHERE len(t) >= 3),
       cov AS (
         SELECT doc_id, max(cnt * length(gram)) AS top2_cov FROM (
           SELECT doc_id, gram, count(*) AS cnt
           FROM (SELECT doc_id, unnest(g2) AS gram FROM lists)
           GROUP BY doc_id, gram)
         GROUP BY doc_id)
       SELECT l.doc_id,
         CAST(len(g2) AS BIGINT) AS n_grams2,
         (len(g2) - len(list_distinct(g2)))::DOUBLE / len(g2) AS dup2_frac,
         CAST(len(g3) AS BIGINT) AS n_grams3,
         (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3) AS dup3_frac,
         c.top2_cov::DOUBLE / length(l.text) AS top2_frac
       FROM lists l JOIN cov c ON l.doc_id = c.doc_id
       ORDER BY l.doc_id"""

  // ------------------------------------------------------ Gopher gate (keep)
  // The composite curation DECISION: conjunction of the Gopher-style rules
  // (length band, mean token length, function words, 2-gram repetition),
  // per-rule verdict columns included — the row a filter report aggregates.
  // All scan-side; the oracle recomputes every rule with exact list ops.
  private def qGopherGate(s: SparkSession, dir: String): DataFrame =
    CorpusSignals.gopherGate(docs(s, dir), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  private val oGopherGate =
    """SELECT doc_id, ok_len, ok_tok_len, ok_stop, ok_dup2,
         (ok_len AND ok_tok_len AND ok_stop AND ok_dup2) AS keep
       FROM (
         SELECT doc_id,
           (nt BETWEEN 50 AND 100000) AS ok_len,
           (mtl >= 3.0 AND mtl <= 10.0) AS ok_tok_len,
           (sh >= 2) AS ok_stop,
           (CASE WHEN nt < 2 THEN true
             ELSE ((len(g2) - len(list_distinct(g2)))::DOUBLE / len(g2)) <= 0.3 END) AS ok_dup2
         FROM (SELECT doc_id, len(t) AS nt,
             list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t) AS mtl,
             len(list_filter(t, x -> list_contains(['the','a','an','of','and','to','in','is','it','for'], x))) AS sh,
             list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1]) AS g2
           FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents)))
       ORDER BY doc_id"""

  // ------------------------------------------------------------- data card
  // The per-(source, lang) corpus report: every aggregated value integral
  // (quality in micro-units), ratios as fixed-order divisions — the report
  // hashes identically cross-engine. One scan + one aggregate.
  private def qReport(s: SparkSession, dir: String): DataFrame =
    CorpusSignals.corpusReport(docs(s, dir), "text", Seq("source", "lang"))
      .orderBy("source", "lang")

  private val oReport =
    """SELECT source, lang,
         count(*)::BIGINT AS n_docs,
         CAST(sum(tok) AS BIGINT) AS n_tokens,
         CAST(sum(chars) AS BIGINT) AS n_chars,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         (sum(q6)::DOUBLE / count(*)) / 1000000.0 AS mean_quality,
         sum(CASE WHEN keep THEN 1 ELSE 0 END)::DOUBLE / count(*) AS keep_rate,
         CASE WHEN sum(g2) = 0 THEN 0.0
              ELSE (sum(g2) - sum(g2d))::DOUBLE / sum(g2) END AS dup2_frac,
         CAST(sum(em) AS BIGINT) AS n_emails,
         CAST(sum(ip) AS BIGINT) AS n_ips,
         CAST(sum(ph) AS BIGINT) AS n_phones
       FROM (
         SELECT source, lang, tok, chars, q6, g2, g2d, em, ip, ph,
           (tok BETWEEN 50 AND 100000) AND okmtl AND okstop AND
             (tok < 2 OR ((g2 - g2d)::DOUBLE / g2) <= 0.3) AS keep
         FROM (
           SELECT source, lang,
             CAST(len(t) AS BIGINT) AS tok,
             CAST(length(text) AS BIGINT) AS chars,
             CAST(floor((least(length(text)::DOUBLE / 400.0, 1.0) * 0.4 +
               least((len(list_filter(t, x -> list_contains(['the','a','an','of','and','to','in','is','it','for'], x)))::DOUBLE / len(t)) * 10.0, 1.0) * 0.4 +
               (1.0 - least((length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE / length(text)) * 5.0, 1.0)) * 0.2) * 1000000.0 + 0.5) AS BIGINT) AS q6,
             (list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t)) BETWEEN 3.0 AND 10.0 AS okmtl,
             len(list_filter(t, x -> list_contains(['the','a','an','of','and','to','in','is','it','for'], x))) >= 2 AS okstop,
             CAST(greatest(len(t) - 1, 0) AS BIGINT) AS g2,
             CAST(len(list_distinct(list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1]))) AS BIGINT) AS g2d,
             CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS em,
             CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS ip,
             CAST(len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS ph
           FROM (SELECT source, lang, text, str_split(text, ' ') AS t FROM documents)))
       GROUP BY source, lang ORDER BY source, lang"""

  // ------------------------------------------------------------ BM25 ranking
  // Retrieval scoring against a 3-term query (ops/Ranking.scala). The
  // contract is the transcendental-free BM25 (rational idf, exact binary
  // constants k1=1.5 b=0.75): every float op is an IEEE +,*,/ and every
  // aggregated double is integral, so the score is bit-reproducible and
  // the oracle recomputes it with the IDENTICAL parenthesization.
  private def qBm25(s: SparkSession, dir: String): DataFrame =
    Ranking.bm25(docs(s, dir), "doc_id", "text",
        terms = Seq("spark", "hash", "window"))
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  private val oBm25 = {
    def w(i: Int) =
      s"""((n - df$i + 0.5) / (df$i + 0.5)) *
          ((tf$i * 2.5) / (tf$i + 1.5 * (0.25 + 0.75 * (dl / (sdl / n)))))"""
    val terms = Seq("spark", "hash", "window")
    val tfs = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(t, x -> x = '$t'))::DOUBLE AS tf$i" }.mkString(",\n           ")
    val dfs = terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1.0 ELSE 0.0 END) AS df$i").mkString(", ")
    s"""WITH base AS (
         SELECT doc_id, len(t)::DOUBLE AS dl,
           $tfs
         FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents)),
       stats AS (
         SELECT count(*)::DOUBLE AS n, sum(dl) AS sdl, $dfs FROM base)
       SELECT doc_id,
         ((CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) + (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) +
          (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END))::BIGINT AS n_terms,
         ${w(0)} + ${w(1)} + ${w(2)} AS score
       FROM base, stats
       WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0
       ORDER BY doc_id"""
  }

  // ----------------------------------------------------------- inverted index
  // The retrieval-side artifact BM25 presupposes: flat (term, doc, tf, dl)
  // posting rows (NOT array-assembled lists — a hot term must be a hot
  // shuffle key, not one giant array row), probed here for a fixed term
  // set so the output is bounded.
  private def qPostings(s: SparkSession, dir: String): DataFrame =
    Ranking.postings(docs(s, dir), "doc_id", "text")
      .where(col("term").isin("spark", "hash", "window", "join", "data"))
      .orderBy("term", "id")

  private val oPostings =
    """WITH toks AS (
         SELECT doc_id AS id, len(t)::DOUBLE AS dl, unnest(t) AS term
         FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents))
       SELECT term, id, CAST(count(*) AS BIGINT) AS tf, min(dl) AS dl
       FROM toks WHERE term IN ('spark', 'hash', 'window', 'join', 'data')
       GROUP BY term, id ORDER BY term, id"""

  // Batch BM25 retrieval THROUGH the index: broadcast (qid, term) pairs
  // prune the postings scan, per-term df is aggregated over those matching
  // rows, and each (query, doc) score is an explicit ascending-term-order
  // left fold (bit-stable float sum; the oracle folds the identically
  // ordered list with the same 0.0 seed). Query 1 carries a term absent
  // from the corpus ('shuffle') — partial disjunctive matches verified.
  private def qSearch(s: SparkSession, dir: String): DataFrame =
    Ranking.searchTopK(docs(s, dir), "doc_id", "text",
        queries = Seq(
          0L -> Seq("spark", "hash"),
          1L -> Seq("window", "shuffle"),
          2L -> Seq("the", "data", "join")),
        k = 10)
      .select(col("qid"), col("id").as("doc_id"), col("n_terms"),
        col("score"), col("rank").cast("long").as("rank"))
      .orderBy("qid", "rank")

  private val oSearch =
    """WITH qt(qid, term) AS (
         VALUES (0::BIGINT, 'spark'), (0::BIGINT, 'hash'),
                (1::BIGINT, 'window'), (1::BIGINT, 'shuffle'),
                (2::BIGINT, 'the'), (2::BIGINT, 'data'), (2::BIGINT, 'join')),
       toks AS (
         SELECT doc_id AS id, len(t)::DOUBLE AS dl, unnest(t) AS term
         FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents)),
       idx AS (
         SELECT term, id, count(*) AS tf, min(dl) AS dl FROM toks
         WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY term, id),
       dfs AS (SELECT term, count(*)::DOUBLE AS df FROM idx GROUP BY term),
       stats AS (
         SELECT count(*)::DOUBLE AS n, sum(len(str_split(text, ' '))::DOUBLE) AS sdl
         FROM documents),
       hits AS (
         SELECT q.qid, i.id, i.term,
           ((s.n - d.df + 0.5) / (d.df + 0.5)) *
           ((i.tf::DOUBLE * 2.5) / (i.tf::DOUBLE + 1.5 * (0.25 + 0.75 * (i.dl / (s.sdl / s.n))))) AS w
         FROM idx i JOIN qt q ON q.term = i.term JOIN dfs d ON d.term = i.term, stats s),
       scored AS (
         SELECT qid, id, CAST(count(*) AS BIGINT) AS n_terms,
           list_reduce(list_prepend(0.0::DOUBLE, list(w ORDER BY term)), (a, b) -> a + b) AS score
         FROM hits GROUP BY qid, id),
       ranked AS (SELECT qid, id AS doc_id, n_terms, score,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS BIGINT) AS rank
         FROM scored)
       SELECT qid, doc_id, n_terms, score, rank FROM ranked WHERE rank <= 10
       ORDER BY qid, rank"""

  // ------------------------------------------------------ URL canonicalization
  // canonUrl over synthesized URLs exercising every rule: scheme/host case,
  // default vs real ports, tracking params mixed with real ones (must sort),
  // fragments. The oracle re-parses generically with regexps (no parse_url
  // in DuckDB — the q_host_cap mirror precedent) and rebuilds with the same
  // param filter + byte sort.
  private def qUrlCanon(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val url = concat(
      when(pmod(d, lit(2)) === 0, lit("HTTPS")).otherwise(lit("http")),
      lit("://Ex"), pmod(d, lit(13)).cast("string"), lit(".Example.COM"),
      when(pmod(d, lit(7)) === 0, lit(":8080"))
        .when(pmod(d, lit(2)) === 0, lit(":443")).otherwise(lit(":80")),
      lit("/Doc/"), d.cast("string"),
      when(pmod(d, lit(3)) === 0, lit("?utm_source=tw&b=2&a=1&gclid=g1"))
        .when(pmod(d, lit(3)) === 1, lit("?fbclid=f9&utm_campaign=c"))
        .otherwise(lit("")),
      when(pmod(d, lit(5)) === 0, lit("#frag")).otherwise(lit("")))
    docs(s, dir).select(col("doc_id"), url.as("url"))
      .select(col("doc_id"), col("url"),
        CorpusSignals.canonUrl(col("url")).as("curl"))
      .orderBy("doc_id")
  }

  private val oUrlCanon = {
    val track = "^(utm_[^=]*|fbclid|gclid)(=.*)?$"
    s"""WITH u AS (
         SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END) ||
           '://Ex' || (doc_id % 13)::VARCHAR || '.Example.COM' ||
           (CASE WHEN doc_id % 7 = 0 THEN ':8080'
                 WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END) ||
           '/Doc/' || doc_id::VARCHAR ||
           (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=tw&b=2&a=1&gclid=g1'
                 WHEN doc_id % 3 = 1 THEN '?fbclid=f9&utm_campaign=c' ELSE '' END) ||
           (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
         FROM documents),
       parts AS (
         SELECT doc_id, url,
           lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS proto,
           lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth0,
           regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
           coalesce(list_aggregate(list_sort(list_filter(
             str_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
             x -> x <> '' AND NOT regexp_matches(x, '$track'))), 'string_agg', '&'), '') AS cq
         FROM u)
       SELECT doc_id, url,
         proto || '://' ||
         (CASE WHEN proto = 'http' THEN regexp_replace(auth0, ':80$$', '')
               WHEN proto = 'https' THEN regexp_replace(auth0, ':443$$', '')
               ELSE auth0 END) || path ||
         (CASE WHEN cq = '' THEN '' ELSE '?' || cq END) AS curl
       FROM parts ORDER BY doc_id"""
  }

  // SURT sort keys (ops/Cdx.scala): the Common-Crawl-index canonical form —
  // host reversed/comma-joined (one registered domain's captures sort
  // contiguous), www-stripped, default ports stripped, path+query
  // case-folded, params byte-sorted. Fixture URLs exercise every rule; the
  // oracle replays the transform with DuckDB list ops.
  private def qSurt(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val url = concat(
      when(pmod(d, lit(2)) === 0, lit("HTTPS")).otherwise(lit("http")),
      lit("://"),
      when(pmod(d, lit(4)) === 0, lit("WWW.")).otherwise(lit("")),
      lit("Ex"), pmod(d, lit(13)).cast("string"), lit(".Example.COM"),
      when(pmod(d, lit(7)) === 0, lit(":8080"))
        .when(pmod(d, lit(2)) === 0, lit(":443")).otherwise(lit(":80")),
      lit("/Doc/"), d.cast("string"),
      when(pmod(d, lit(3)) === 0, lit("?B=2&a=1"))
        .when(pmod(d, lit(3)) === 1, lit("?z=9&Y=%2F"))
        .otherwise(lit("")))
    docs(s, dir)
      .select(col("doc_id"), url.as("url"), Cdx.surtKey(url).as("surt"))
      .orderBy("doc_id")
  }

  private val oSurt =
    """WITH u AS (
         SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END) || '://' ||
           (CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END) ||
           'Ex' || (doc_id % 13)::VARCHAR || '.Example.COM' ||
           (CASE WHEN doc_id % 7 = 0 THEN ':8080'
                 WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END) ||
           '/Doc/' || doc_id::VARCHAR ||
           (CASE WHEN doc_id % 3 = 0 THEN '?B=2&a=1'
                 WHEN doc_id % 3 = 1 THEN '?z=9&Y=%2F' ELSE '' END) AS url
         FROM documents),
       parts AS (
         SELECT doc_id, url,
           lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS proto,
           lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth0,
           lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)) AS path,
           coalesce(list_aggregate(list_sort(list_filter(
             str_split(lower(regexp_extract(url, '\?([^#]*)', 1)), '&'),
             x -> x <> '')), 'string_agg', '&'), '') AS cq
         FROM u),
       canon AS (
         SELECT doc_id, url, path, cq,
           CASE WHEN proto = 'http' THEN regexp_replace(auth0, ':80$', '')
                WHEN proto = 'https' THEN regexp_replace(auth0, ':443$', '')
                ELSE auth0 END AS auth
         FROM parts)
       SELECT doc_id, url,
         array_to_string(list_reverse(str_split(
           regexp_replace(regexp_replace(auth, ':[0-9]+$', ''), '^www\.', ''),
           '.')), ',') ||
         regexp_extract(auth, '(:[0-9]+)$', 1) || ')' || path ||
         (CASE WHEN cq = '' THEN '' ELSE '?' || cq END) AS surt
       FROM canon ORDER BY doc_id"""

  // CDXJ index round trip (ops/Cdx.scala): a synthesized capture table is
  // rendered to CDXJ lines (format), three garbage lines are injected, and
  // parse recovers the typed records — skipping the garbage. The oracle
  // reconstructs every expected field from doc_id arithmetic, so format and
  // parse cannot share a compensating bug.
  private def qCdx(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val url = concat(lit("https://h"), pmod(d, lit(37)).cast("string"),
      lit(".example.com/Page/"), d.cast("string"),
      when(pmod(d, lit(3)) === 0, lit("?B=1&a=2")).otherwise(lit("")))
    val crawl = docs(s, dir).select(
      url.as("url"),
      concat(lit("20250218"), lpad(pmod(d, lit(24)).cast("string"), 2, "0"),
        lpad(pmod(d, lit(60)).cast("string"), 2, "0"), lit("00")).as("ts"),
      when(pmod(d, lit(5)) === 0, lit("application/pdf"))
        .otherwise(lit("text/html")).as("mime"),
      when(pmod(d, lit(11)) === 0, lit(404)).otherwise(lit(200)).as("status"),
      md5(url).as("digest"),
      (pmod(d, lit(5000)) + 100).as("length"),
      pmod(d * 7, lit(100000)).as("offset"),
      concat(lit("crawl-00"), pmod(d, lit(4)).cast("string"),
        lit(".warc.gz")).as("filename"))
    import s.implicits._
    val garbage = Seq("truncated", "two parts", "key 20250101000000 {oops")
      .toDF("line")
    Cdx.parse(Cdx.format(crawl).union(garbage))
      // length/offset are DuckDB reserved words — rename for the compare
      .withColumnRenamed("length", "rec_len")
      .withColumnRenamed("offset", "rec_off")
      .orderBy("surt", "ts", "url")
  }

  private val oCdx =
    """WITH c AS (
         SELECT doc_id,
           'https://h' || (doc_id % 37)::VARCHAR || '.example.com/Page/' ||
             doc_id::VARCHAR ||
             (CASE WHEN doc_id % 3 = 0 THEN '?B=1&a=2' ELSE '' END) AS url,
           'com,example,h' || (doc_id % 37)::VARCHAR || ')/page/' ||
             doc_id::VARCHAR ||
             (CASE WHEN doc_id % 3 = 0 THEN '?a=2&b=1' ELSE '' END) AS surt,
           '20250218' || lpad((doc_id % 24)::VARCHAR, 2, '0') ||
             lpad((doc_id % 60)::VARCHAR, 2, '0') || '00' AS ts
         FROM documents)
       SELECT surt, ts, url,
         (CASE WHEN doc_id % 5 = 0 THEN 'application/pdf'
               ELSE 'text/html' END) AS mime,
         (CASE WHEN doc_id % 11 = 0 THEN 404 ELSE 200 END)::BIGINT AS status,
         md5(url) AS digest,
         (doc_id % 5000 + 100)::BIGINT AS rec_len,
         ((doc_id * 7) % 100000)::BIGINT AS rec_off,
         'crawl-00' || (doc_id % 4)::VARCHAR || '.warc.gz' AS filename
       FROM c ORDER BY surt, ts, url"""

  // URL-level quality gate (ops/UrlFilter.scala): the pre-fetch curation
  // rule set — length, host digit share, label count, path depth, param
  // count, media extension, token-exact blockwords. The fixture plants a
  // violator for every rule; BOTH engines recompute the rules from the
  // final URL string, so the gate arithmetic itself is what's compared.
  private def qUrlFilter(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val host = when(pmod(d, lit(11)) === 0, lit("h12345678901.example.com"))
      .when(pmod(d, lit(31)) === 0, lit("a.b.c.d.e.f.g.example.com"))
      .otherwise(concat(lit("h"), pmod(d, lit(37)).cast("string"),
        lit(".example.com")))
    val path = when(pmod(d, lit(13)) === 0,
        concat(lit("/s/s/s/s/s/s/s/s/s/doc"), d.cast("string")))
      .when(pmod(d, lit(17)) === 0,
        concat(lit("/img/pic"), d.cast("string"), lit(".JPG")))
      .when(pmod(d, lit(19)) === 0,
        concat(lit("/casino/page"), d.cast("string")))
      .when(pmod(d, lit(29)) === 0, concat(lit("/long/"), lit("x" * 600)))
      .otherwise(concat(lit("/a/b/doc"), d.cast("string")))
    val q = when(pmod(d, lit(23)) === 0,
        lit("?p1=1&p2=2&p3=3&p4=4&p5=5&p6=6&p7=7&p8=8&p9=9"))
      .when(pmod(d, lit(3)) === 0, lit("?a=1")).otherwise(lit(""))
    val url = concat(lit("https://"), host, path, q)
    UrlFilter.gate(docs(s, dir).select(col("doc_id"), url.as("url")), "url")
      .orderBy("doc_id")
  }

  private val oUrlFilter =
    """WITH u AS (
         SELECT doc_id,
           'https://' ||
           (CASE WHEN doc_id % 11 = 0 THEN 'h12345678901.example.com'
                 WHEN doc_id % 31 = 0 THEN 'a.b.c.d.e.f.g.example.com'
                 ELSE 'h' || (doc_id % 37)::VARCHAR || '.example.com' END) ||
           (CASE WHEN doc_id % 13 = 0 THEN '/s/s/s/s/s/s/s/s/s/doc' || doc_id::VARCHAR
                 WHEN doc_id % 17 = 0 THEN '/img/pic' || doc_id::VARCHAR || '.JPG'
                 WHEN doc_id % 19 = 0 THEN '/casino/page' || doc_id::VARCHAR
                 WHEN doc_id % 29 = 0 THEN '/long/' || repeat('x', 600)
                 ELSE '/a/b/doc' || doc_id::VARCHAR END) ||
           (CASE WHEN doc_id % 23 = 0 THEN '?p1=1&p2=2&p3=3&p4=4&p5=5&p6=6&p7=7&p8=8&p9=9'
                 WHEN doc_id % 3 = 0 THEN '?a=1' ELSE '' END) AS url
         FROM documents),
       p AS (
         SELECT doc_id, url,
           lower(regexp_extract(url, '^[a-z]+://([^/:?#]*)', 1)) AS host,
           regexp_extract(url, '^[a-z]+://[^/?#]*([^?#]*)', 1) AS path,
           regexp_extract(url, '\?([^#]*)', 1) AS query
         FROM u),
       r AS (
         SELECT doc_id, url,
           length(url) <= 512 AS u_len_ok,
           length(regexp_replace(host, '[^0-9]', '', 'g')) * 1000
             <= length(host) * 400 AS u_host_digit_ok,
           len(str_split(host, '.')) <= 6 AS u_labels_ok,
           len(list_filter(str_split(path, '/'), x -> x <> '')) <= 8 AS u_depth_ok,
           len(list_filter(str_split(query, '&'), x -> x <> '')) <= 8 AS u_params_ok,
           NOT regexp_matches(lower(path),
             '\.(jpe?g|png|gif|webp|bmp|ico|svg|css|js|woff2?|ttf|eot|mp3|mp4|avi|mov|wmv|flv|zip|gz|tgz|tar|rar|7z|exe|dmg|iso)$') AS u_ext_ok,
           NOT list_has_any(
             list_filter(string_split_regex(lower(url), '[^a-z0-9]+'),
               x -> x <> ''),
             ['porn', 'xxx', 'sex', 'casino', 'viagra', 'torrent']) AS u_words_ok
         FROM p)
       SELECT doc_id, url, u_len_ok, u_host_digit_ok, u_labels_ok,
         u_depth_ok, u_params_ok, u_ext_ok, u_words_ok,
         (u_len_ok AND u_host_digit_ok AND u_labels_ok AND u_depth_ok
          AND u_params_ok AND u_ext_ok AND u_words_ok) AS u_keep
       FROM r ORDER BY doc_id"""

  // RSS/Atom feed harvest (ops/Feed.scala): both dialects in one pass —
  // RSS text-container links, Atom href-attribute links with the RFC 4287
  // rel=alternate default, channel-level title/link ignored, link-less
  // entries dropped, entity-decoded values. The oracle replays the
  // generator arithmetic per emitted entry (the oSitemap pattern).
  private def qFeed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pages = docs(s, dir).select(col("doc_id")).as[Long]
      .map { id =>
        val h = s"https://h${id % 37}.example.com"
        val xml =
          if (id % 2 == 0)
            s"""<?xml version="1.0"?>
               |<rss version="2.0"><channel>
               | <title>Chan $id</title><link>$h/ignored</link>
               | <item><title> Item $id </title><link>$h/rss/$id</link><pubDate>Mon, 0${id % 9 + 1} Jan 2025</pubDate><guid>g-$id</guid></item>
               | <item><title>Amp</title><link>$h/a?x=$id&amp;y=1</link></item>
               | <item><title>NoLink $id</title></item>
               |</channel></rss>""".stripMargin
          else
            s"""<?xml version="1.0"?>
               |<feed xmlns="http://www.w3.org/2005/Atom">
               | <title>Feed $id</title><link href="$h/feed.xml" rel="self"/>
               | <entry><title>E $id</title><link rel="self" href="$h/self"/><link href="$h/atom/$id"/><id>tag:$id</id><updated>2025-02-0${id % 9 + 1}</updated></entry>
               | <entry><title>A2</title><link rel="alternate" href="$h/b?x=$id&amp;y=2"/></entry>
               | <entry><title>None</title><id>tag:none</id></entry>
               |</feed>""".stripMargin
        (id, xml)
      }.toDF("doc_id", "xml")
    Feed.parse(pages, "doc_id", "xml").orderBy("doc_id", "entry_no")
  }

  private val oFeed =
    """WITH e AS (SELECT doc_id, 'https://h' || (doc_id % 37)::VARCHAR || '.example.com' AS h
           FROM documents WHERE doc_id % 2 = 0),
         a AS (SELECT doc_id, 'https://h' || (doc_id % 37)::VARCHAR || '.example.com' AS h
           FROM documents WHERE doc_id % 2 = 1)
       SELECT * FROM (
         SELECT doc_id, 0::BIGINT AS entry_no, 'rss' AS kind,
           'Item ' || doc_id::VARCHAR AS title,
           h || '/rss/' || doc_id::VARCHAR AS link,
           'Mon, 0' || (doc_id % 9 + 1)::VARCHAR || ' Jan 2025' AS ts,
           'g-' || doc_id::VARCHAR AS uid
         FROM e
         UNION ALL
         SELECT doc_id, 1::BIGINT, 'rss', 'Amp',
           h || '/a?x=' || doc_id::VARCHAR || '&y=1', '', '' FROM e
         UNION ALL
         SELECT doc_id, 0::BIGINT, 'atom', 'E ' || doc_id::VARCHAR,
           h || '/atom/' || doc_id::VARCHAR,
           '2025-02-0' || (doc_id % 9 + 1)::VARCHAR,
           'tag:' || doc_id::VARCHAR
         FROM a
         UNION ALL
         SELECT doc_id, 1::BIGINT, 'atom', 'A2',
           h || '/b?x=' || doc_id::VARCHAR || '&y=2', '', '' FROM a)
       ORDER BY doc_id, entry_no"""

  // Profile-based language ID (ops/TextStats.scala langIdProfile): integer
  // evidence sums over four function-word profiles + argmax with asc-lang
  // tie-break and all-zero -> unk. The fixture plants per-language word
  // runs, a deliberate de/fr tie, and an evidence-free row; the oracle
  // replays the token fold per profile.
  private def qLangProfile(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val suffix = when(pmod(d, lit(11)) === 0, lit(""))
      .when(pmod(d, lit(5)) === 0, lit("der die und le la et"))
      .when(pmod(d, lit(4)) === 0, lit("the and of"))
      .when(pmod(d, lit(4)) === 1, lit("der die und"))
      .when(pmod(d, lit(4)) === 2, lit("le la et"))
      .otherwise(lit("el que los"))
    val text = concat(lit("zzz qqq x"), d.cast("string"), lit(" "), suffix)
    val cols = col("doc_id") +:
      TextStats.LangProfiles.map { case (l, p) =>
        TextStats.langScore(col("text"), p).as(s"s_$l")
      } :+ TextStats.langIdProfile(col("text")).as("lang")
    docs(s, dir).select(col("doc_id"), text.as("text"))
      .select(cols: _*).orderBy("doc_id")
  }

  private val oLangProfile = {
    def score(cases: Seq[(String, Long)]) =
      "coalesce(list_sum(list_transform(w, x -> CASE x " +
        cases.map { case (w, v) => s"WHEN '$w' THEN $v" }.mkString(" ") +
        " ELSE 0 END)), 0)::BIGINT"
    val de = score(Seq("der" -> 3L, "die" -> 3L, "und" -> 2L, "das" -> 2L,
      "ist" -> 1L, "nicht" -> 1L, "ein" -> 1L, "zu" -> 1L))
    val en = score(Seq("the" -> 3L, "and" -> 2L, "of" -> 2L, "to" -> 2L,
      "is" -> 1L, "in" -> 1L, "that" -> 1L, "it" -> 1L))
    val es = score(Seq("el" -> 3L, "la" -> 2L, "de" -> 2L, "que" -> 2L,
      "los" -> 2L, "es" -> 1L, "una" -> 1L, "para" -> 1L))
    val fr = score(Seq("le" -> 3L, "la" -> 3L, "et" -> 2L, "les" -> 2L,
      "des" -> 2L, "est" -> 1L, "une" -> 1L, "dans" -> 1L))
    s"""WITH t AS (
         SELECT doc_id,
           'zzz qqq x' || doc_id::VARCHAR || ' ' ||
           (CASE WHEN doc_id % 11 = 0 THEN ''
                 WHEN doc_id % 5 = 0 THEN 'der die und le la et'
                 WHEN doc_id % 4 = 0 THEN 'the and of'
                 WHEN doc_id % 4 = 1 THEN 'der die und'
                 WHEN doc_id % 4 = 2 THEN 'le la et'
                 ELSE 'el que los' END) AS text
         FROM documents),
       tok AS (
         SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'),
             x -> x <> '') AS w
         FROM t),
       sc AS (
         SELECT doc_id, $de AS s_de, $en AS s_en, $es AS s_es, $fr AS s_fr
         FROM tok)
       SELECT doc_id, s_de, s_en, s_es, s_fr,
         CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'unk'
              WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
              WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
              WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
              ELSE 'fr' END AS lang
       FROM sc ORDER BY doc_id"""
  }

  // Payload content sniffing (ops/Sniff.scala): WHATWG-subset magic-byte
  // routing — the decision that sends pdf payloads to the layout parser
  // and html to the tokenizer. Payloads are synthesized as binary
  // Spark-side (unhex signatures + encoded tails); the oracle replays the
  // expected route from the generator arithmetic (rule logic is pinned by
  // SniffSpec byte cases).
  private def qSniff(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val tail = encode(concat(lit("x"), d.cast("string")), "UTF-8")
    val payload = when(pmod(d, lit(8)) === 0,
        concat(unhex(lit("255044462D312E34")), tail))
      .when(pmod(d, lit(8)) === 1, concat(unhex(lit("1F8B08000000")), tail))
      .when(pmod(d, lit(8)) === 2,
        concat(unhex(lit("89504E470D0A1A0A")), tail))
      .when(pmod(d, lit(8)) === 3, concat(unhex(lit("FFD8FFE0")), tail))
      .when(pmod(d, lit(8)) === 4,
        encode(concat(lit("  \n<!DOCTYPE HTML><html>doc"), d.cast("string")),
          "UTF-8"))
      .when(pmod(d, lit(8)) === 5, encode(lit("<HTML><body>x"), "UTF-8"))
      .when(pmod(d, lit(8)) === 6,
        encode(concat(lit("plain text "), d.cast("string")), "UTF-8"))
      .otherwise(concat(unhex(lit("000102")), tail))
    docs(s, dir)
      .select(col("doc_id"), Sniff.sniffMime(payload).as("mime"))
      .orderBy("doc_id")
  }

  private val oSniff =
    """SELECT doc_id,
         CASE doc_id % 8
           WHEN 0 THEN 'application/pdf'
           WHEN 1 THEN 'application/gzip'
           WHEN 2 THEN 'image/png'
           WHEN 3 THEN 'image/jpeg'
           WHEN 4 THEN 'text/html'
           WHEN 5 THEN 'text/html'
           WHEN 6 THEN 'text/plain'
           ELSE 'application/octet-stream' END AS mime
       FROM documents ORDER BY doc_id"""

  // Crawl-discovery composition: sitemap + feed payloads through the REAL
  // parsers, canonicalized (the feed's utm_source variant collapses onto
  // the sitemap url), then first-source-wins frontier dedup as ONE
  // algebraic aggregate (min source rank + seen count, map-side
  // combinable) — no window, no join, one exchange on the canonical key.
  private def qDiscovery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = docs(s, dir).select(col("doc_id")).as[Long]
    val smXml = base.map { id =>
      val h = s"https://h${id % 37}.example.com"
      (id, s"<urlset><url><loc>$h/doc/$id</loc></url>" +
        s"<url><loc>$h/next/${id + 1}</loc></url></urlset>")
    }.toDF("doc_id", "xml")
    val feedXml = base.map { id =>
      val h = s"https://h${id % 37}.example.com"
      (id, s"<rss><channel><item><title>t</title>" +
        s"<link>$h/doc/$id?utm_source=feed</link></item>" +
        s"<item><link>$h/fresh/$id</link></item></channel></rss>")
    }.toDF("doc_id", "xml")
    val sm = Sitemap.parse(smXml, "doc_id", "xml")
      .select(col("loc").as("url"), lit(0).as("srank"))
    val fd = Feed.parse(feedXml, "doc_id", "xml")
      .select(col("link").as("url"), lit(1).as("srank"))
    sm.unionByName(fd)
      .select(CorpusSignals.canonUrl(col("url")).as("curl"), col("srank"))
      .groupBy("curl")
      .agg(min(col("srank")).as("srk"), count(lit(1)).as("n_seen"))
      .select(col("curl"),
        when(col("srk") === 0, "sitemap").otherwise("feed").as("src"),
        col("n_seen"))
      .orderBy("curl")
  }

  private val oDiscovery =
    """WITH d AS (SELECT doc_id,
           'https://h' || (doc_id % 37)::VARCHAR || '.example.com' AS h
         FROM documents)
       SELECT curl, src, n_seen FROM (
         SELECT h || '/doc/' || doc_id::VARCHAR AS curl, 'sitemap' AS src,
           2::BIGINT AS n_seen FROM d
         UNION ALL
         SELECT h || '/next/' || (doc_id + 1)::VARCHAR, 'sitemap',
           1::BIGINT FROM d
         UNION ALL
         SELECT h || '/fresh/' || doc_id::VARCHAR, 'feed', 1::BIGINT FROM d)
       ORDER BY curl"""

  // URL template mining (ops/UrlTemplate.scala): digit runs in the path
  // collapse to '*', counts per (host, template), trap verdict past the
  // cap — the crawler-trap detector. The fixture plants a 5-host hot
  // template, a literal path, and a 50-host cold template; the oracle
  // recomputes host/template from the full URL strings.
  private def qUrlTemplate(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val u1 = concat(lit("https://t"), pmod(d, lit(5)).cast("string"),
      lit(".example.com/product/"), d.cast("string"), lit("/view"))
    val u2 = concat(lit("https://t"), pmod(d, lit(5)).cast("string"),
      lit(".example.com/contact"))
    val u3 = concat(lit("https://u"), pmod(d, lit(50)).cast("string"),
      lit(".example.com/page/"), d.cast("string"))
    UrlTemplate.mine(
        docs(s, dir).select(explode(array(u1, u2, u3)).as("url")),
        "url", cap = 50L)
      .orderBy("host", "tpl")
  }

  private val oUrlTemplate =
    """WITH urls AS (
         SELECT 'https://t' || (doc_id % 5)::VARCHAR ||
           '.example.com/product/' || doc_id::VARCHAR || '/view' AS url
         FROM documents
         UNION ALL
         SELECT 'https://t' || (doc_id % 5)::VARCHAR || '.example.com/contact'
         FROM documents
         UNION ALL
         SELECT 'https://u' || (doc_id % 50)::VARCHAR ||
           '.example.com/page/' || doc_id::VARCHAR
         FROM documents),
       p AS (
         SELECT lower(regexp_extract(url, '^[a-z]+://([^/:?#]*)', 1)) AS host,
           regexp_replace(regexp_extract(url, '^[a-z]+://[^/?#]*([^?#]*)', 1),
             '[0-9]+', '*', 'g') AS tpl
         FROM urls)
       SELECT host, tpl, count(*)::BIGINT AS n, count(*) > 50 AS trap
       FROM p GROUP BY host, tpl ORDER BY host, tpl"""

  // Unicode script mix (ops/TextStats.scala scriptCounts/dominantScript):
  // per-script character counts + argmax with asc-name tie-break and
  // zero-evidence -> none. \x{...} class syntax is shared by Java regex
  // and RE2, so both engines run the IDENTICAL character classes.
  private def qScriptMix(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val text = when(pmod(d, lit(13)) === 0, lit("αβγδ εζ"))
      .when(pmod(d, lit(11)) === 0, lit("12345 !!!"))
      .when(pmod(d, lit(7)) === 0, lit("abcd абвг"))
      .when(pmod(d, lit(4)) === 0,
        concat(lit("hello world "), d.cast("string")))
      .when(pmod(d, lit(4)) === 1,
        concat(lit("привет мир "), d.cast("string")))
      .when(pmod(d, lit(4)) === 2, concat(lit("你好世界 "), d.cast("string")))
      .otherwise(concat(lit("مرحبا "), d.cast("string")))
    val cols = col("doc_id") +:
      TextStats.scriptCounts(col("text")).map { case (n, c) =>
        c.as(s"n_$n")
      } :+ TextStats.dominantScript(col("text")).as("script")
    docs(s, dir).select(col("doc_id"), text.as("text"))
      .select(cols: _*).orderBy("doc_id")
  }

  private val oScriptMix =
    """WITH t AS (
         SELECT doc_id,
           CASE WHEN doc_id % 13 = 0 THEN 'αβγδ εζ'
                WHEN doc_id % 11 = 0 THEN '12345 !!!'
                WHEN doc_id % 7 = 0 THEN 'abcd абвг'
                WHEN doc_id % 4 = 0 THEN 'hello world ' || doc_id::VARCHAR
                WHEN doc_id % 4 = 1 THEN 'привет мир ' || doc_id::VARCHAR
                WHEN doc_id % 4 = 2 THEN '你好世界 ' || doc_id::VARCHAR
                ELSE 'مرحبا ' || doc_id::VARCHAR END AS text
         FROM documents),
       c AS (
         SELECT doc_id,
           length(regexp_replace(text, '[^\x{0600}-\x{06FF}]', '', 'g'))::BIGINT AS n_arabic,
           length(regexp_replace(text, '[^\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}]', '', 'g'))::BIGINT AS n_cjk,
           length(regexp_replace(text, '[^\x{0400}-\x{04FF}]', '', 'g'))::BIGINT AS n_cyrillic,
           length(regexp_replace(text, '[^\x{0370}-\x{03FF}]', '', 'g'))::BIGINT AS n_greek,
           length(regexp_replace(text, '[^A-Za-z\x{00C0}-\x{024F}]', '', 'g'))::BIGINT AS n_latin
         FROM t)
       SELECT doc_id, n_arabic, n_cjk, n_cyrillic, n_greek, n_latin,
         CASE WHEN greatest(n_arabic, n_cjk, n_cyrillic, n_greek, n_latin) = 0
                THEN 'none'
              WHEN n_arabic = greatest(n_arabic, n_cjk, n_cyrillic, n_greek, n_latin) THEN 'arabic'
              WHEN n_cjk = greatest(n_arabic, n_cjk, n_cyrillic, n_greek, n_latin) THEN 'cjk'
              WHEN n_cyrillic = greatest(n_arabic, n_cjk, n_cyrillic, n_greek, n_latin) THEN 'cyrillic'
              WHEN n_greek = greatest(n_arabic, n_cjk, n_cyrillic, n_greek, n_latin) THEN 'greek'
              ELSE 'latin' END AS script
       FROM c ORDER BY doc_id"""

  // Dedup-candidate evaluation harness: minhash-LSH candidates (band
  // collisions, no estimate cutoff) scored against the EXACT n-gram
  // Jaccard >= 0.3 truth — precision/recall as integral permille counts.
  // The dedup-side analog of q_ann_recall: run it on a sample to pick
  // (k, rowsPerBand) BEFORE committing a full-corpus dedup job. Both
  // kernels are the independently-green operators; the oracle replays the
  // whole composition in one CTE chain.
  private def qDedupEval(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).where(size(split(col("text"), " ")) >= 3)
    val cand = TextDedup.minhashPairs(
        TextDedup.minhashSignatures(base, "doc_id", "text", k = 8,
          shingleN = 3, hash = ph),
        rowsPerBand = 2, minEstJaccard = 0.0)
      .select(col("id_a"), col("id_b"), lit(1).as("c"))
    val truth = TextDedup.ngramJaccardPairs(base, "doc_id", "text", n = 3,
        minJaccard = 0.3, hash = ph)
      .select(col("id_a"), col("id_b"), lit(1).as("t"))
    cand.join(truth, Seq("id_a", "id_b"), "full_outer")
      .agg(
        sum(when(col("c").isNotNull && col("t").isNotNull, 1L).otherwise(0L))
          .as("tp"),
        sum(when(col("c").isNotNull && col("t").isNull, 1L).otherwise(0L))
          .as("fp"),
        sum(when(col("c").isNull, 1L).otherwise(0L)).as("fn"))
      .select(col("tp"), col("fp"), col("fn"),
        expr("CASE WHEN tp + fp = 0 THEN NULL ELSE (tp * 1000) div (tp + fp) END")
          .as("prec_permille"),
        expr("CASE WHEN tp + fn = 0 THEN NULL ELSE (tp * 1000) div (tp + fn) END")
          .as("rec_permille"))
  }

  private val oDedupEval =
    s"""WITH sigs AS (
         SELECT id, list_transform(generate_series(0, 7),
           j -> list_aggregate(list_transform(hs, h -> (h * (j*101 + 37) + (j*61 + 11)) % $P), 'min')) AS sig
         FROM (SELECT doc_id AS id,
           list_transform(
             list_distinct(list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])),
             x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % $P) AS hs
           FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents) WHERE len(t) >= 3)),
       banded AS (
         SELECT id, sig, b.band, sig[2*b.band + 1] * $P + sig[2*b.band + 2] AS band_key
         FROM sigs, generate_series(0, 3) b(band)),
       cand AS (
         SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
       sh AS (
         SELECT doc_id AS id, unnest(list_transform(list_distinct(
           list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])),
           x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS s
         FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents) WHERE len(t) >= 3),
       sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
       common AS (
         SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
         FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2),
       truth AS (
         SELECT id_a, id_b
         FROM common JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
         WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.3),
       j AS (
         SELECT (c.id_a IS NOT NULL AND t.id_a IS NOT NULL)::INT AS is_tp,
                (c.id_a IS NOT NULL AND t.id_a IS NULL)::INT AS is_fp,
                (c.id_a IS NULL)::INT AS is_fn
         FROM cand c FULL JOIN truth t
           ON c.id_a = t.id_a AND c.id_b = t.id_b),
       agg AS (SELECT coalesce(sum(is_tp), 0)::BIGINT AS tp,
                      coalesce(sum(is_fp), 0)::BIGINT AS fp,
                      coalesce(sum(is_fn), 0)::BIGINT AS fn FROM j)
       SELECT tp, fp, fn,
         (CASE WHEN tp + fp = 0 THEN NULL ELSE (tp * 1000) // (tp + fp) END)::BIGINT AS prec_permille,
         (CASE WHEN tp + fn = 0 THEN NULL ELSE (tp * 1000) // (tp + fn) END)::BIGINT AS rec_permille
       FROM agg"""

  // CDX-driven recrawl planning: the previous crawl's capture index
  // (format -> parse round trip, joined on the SURT key — the lookup the
  // key exists for) decides per frontier URL: absent -> new, captured
  // before the cutoff -> stale, else fresh; fetch = not fresh. ONE
  // shuffled equi-join on the surt key; 14-digit timestamps compare as
  // fixed-width strings, no timezone anywhere.
  private def qRecrawl(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val pageUrl = concat(lit("https://h"), pmod(d, lit(37)).cast("string"),
      lit(".example.com/page/"), d.cast("string"))
    val prev = Cdx.parse(Cdx.format(docs(s, dir).select(
      pageUrl.as("url"),
      concat(lit("202501"), lpad((pmod(d, lit(28)) + 1).cast("string"), 2, "0"),
        lit("000000")).as("ts"),
      lit("text/html").as("mime"), lit(200).as("status"),
      md5(pageUrl).as("digest"), lit(1L).as("length"), lit(0L).as("offset"),
      lit("c.warc.gz").as("filename"))))
      .select(col("surt"), col("ts"))
    val frontier = docs(s, dir).select(explode(when(pmod(d, lit(3)) === 0,
        array(pageUrl, concat(lit("https://h"), pmod(d, lit(37)).cast("string"),
          lit(".example.com/new/"), d.cast("string"))))
      .otherwise(array(pageUrl))).as("url"))
      .select(col("url"), Cdx.surtKey(col("url")).as("surt"))
    frontier.join(prev, Seq("surt"), "left")
      .select(col("url"),
        when(col("ts").isNull, "new")
          .when(col("ts") < "20250115000000", "stale")
          .otherwise("fresh").as("reason"))
      .withColumn("fetch", col("reason") =!= "fresh")
      .orderBy("url")
  }

  private val oRecrawl =
    """WITH d AS (SELECT doc_id,
           'https://h' || (doc_id % 37)::VARCHAR || '.example.com' AS h
         FROM documents)
       SELECT url, reason, reason <> 'fresh' AS fetch FROM (
         SELECT h || '/page/' || doc_id::VARCHAR AS url,
           CASE WHEN doc_id % 28 + 1 < 15 THEN 'stale' ELSE 'fresh' END AS reason
         FROM d
         UNION ALL
         SELECT h || '/new/' || doc_id::VARCHAR, 'new'
         FROM d WHERE doc_id % 3 = 0)
       ORDER BY url"""

  // HTTP response-envelope parsing (ops/Http.scala): status code,
  // Content-Type media type, charset parameter, redirect Location — from
  // the head block of CC-style response payloads. Both engines recompute
  // from the constructed envelope with the SAME (?im) regexes (a flag
  // pair Java regex and RE2 share); non-HTTP payloads yield null/''.
  private def qHttp(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val env = when(pmod(d, lit(7)) === 0,
        concat(lit("HTTP/1.1 301 Moved\r\nLocation: https://h"),
          pmod(d, lit(37)).cast("string"), lit(".example.com/moved/"),
          d.cast("string"), lit("\r\nServer: s\r\n\r\ngone")))
      .when(pmod(d, lit(5)) === 0,
        concat(lit("HTTP/1.0 200 OK\r\ncontent-type: TEXT/HTML; CHARSET=WINDOWS-1252\r\n\r\n<html>"),
          d.cast("string")))
      .when(pmod(d, lit(3)) === 0,
        concat(lit("<html>plain "), d.cast("string"), lit("</html>")))
      .otherwise(
        concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\nX: y\r\n\r\n<html>doc "),
          d.cast("string")))
    val payload = encode(env, "UTF-8")
    docs(s, dir).select(col("doc_id"),
        Http.httpStatus(payload).as("status"),
        Http.contentType(payload).as("ctype"),
        Http.headerCharset(payload).as("charset"),
        Http.httpHeader(payload, "Location").as("location"))
      .orderBy("doc_id")
  }

  private val oHttp =
    """WITH t AS (
         SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN
                  'HTTP/1.1 301 Moved' || e'\r\n' || 'Location: https://h' ||
                  (doc_id % 37)::VARCHAR || '.example.com/moved/' ||
                  doc_id::VARCHAR || e'\r\n' || 'Server: s' || e'\r\n\r\n' || 'gone'
                WHEN doc_id % 5 = 0 THEN
                  'HTTP/1.0 200 OK' || e'\r\n' ||
                  'content-type: TEXT/HTML; CHARSET=WINDOWS-1252' ||
                  e'\r\n\r\n' || '<html>' || doc_id::VARCHAR
                WHEN doc_id % 3 = 0 THEN
                  '<html>plain ' || doc_id::VARCHAR || '</html>'
                ELSE
                  'HTTP/1.1 200 OK' || e'\r\n' ||
                  'Content-Type: text/html; charset=utf-8' || e'\r\n' ||
                  'X: y' || e'\r\n\r\n' || '<html>doc ' || doc_id::VARCHAR
           END AS env
         FROM documents),
       h AS (SELECT doc_id, str_split(env, e'\r\n\r\n')[1] AS head FROM t),
       v AS (
         SELECT doc_id, head, starts_with(head, 'HTTP/1.') AS is_http,
           CASE WHEN starts_with(head, 'HTTP/1.')
             THEN trim(regexp_extract(head, '(?im)^content-type:[ \t]*([^\r\n]*)', 1))
             ELSE '' END AS ct,
           CASE WHEN starts_with(head, 'HTTP/1.')
             THEN trim(regexp_extract(head, '(?im)^location:[ \t]*([^\r\n]*)', 1))
             ELSE '' END AS loc
         FROM h)
       SELECT doc_id,
         CASE WHEN is_http AND regexp_extract(head, '^HTTP/1\.[01] ([0-9]{3})', 1) <> ''
           THEN regexp_extract(head, '^HTTP/1\.[01] ([0-9]{3})', 1)::BIGINT
         END AS status,
         lower(trim(split_part(ct, ';', 1))) AS ctype,
         lower(regexp_extract(ct, '(?i)charset="?([A-Za-z0-9_.:-]+)', 1)) AS charset,
         loc AS location
       FROM v ORDER BY doc_id"""

  // --------------------------------------------------------------- redirect
  // Redirect-chain resolution (Http.resolveRedirects): synthesized crawl
  // where doc_id≡50 (mod 100) and ≡51 form a 2-cycle, doc_id%16<3 starts
  // runs of up to 3 consecutive redirects (which can FEED the cycle:
  // 48→49→50→51→50…), and i+1 past the corpus edge leaves the crawl —
  // so all three outcomes (ok / dangling / exhausted) and the hop counter
  // are exercised. maxHops=4 unrolled left equi-joins on the url key; the
  // Location extraction itself is the already-pinned q_http contract.
  private def qRedirect(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    def u(id: Column): Column =
      concat(lit("https://h"), pmod(id, lit(37)).cast("string"),
        lit(".example.com/p/"), id.cast("string"))
    val pages = docs(s, dir).select(u(d).as("url"),
      when(pmod(d, lit(100)) === 50, u(d + 1))
        .when(pmod(d, lit(100)) === 51, u(d - 1))
        .when(pmod(d, lit(16)) < 3, u(d + 1))
        .otherwise(lit(null).cast("string")).as("loc"))
    Http.resolveRedirects(pages, "url", "loc", maxHops = 4).orderBy("url")
  }

  private val oRedirect: String = {
    def u(expr: String) =
      s"'https://h' || (($expr) % 37)::VARCHAR || '.example.com/p/' || ($expr)::VARCHAR"
    def hop(i: Int) =
      s"""s$i AS (SELECT start,
           CASE WHEN s.outcome IS NOT NULL OR e.url IS NULL OR e.loc IS NULL
                THEN s.cur ELSE e.loc END AS cur,
           CASE WHEN s.outcome IS NOT NULL OR e.url IS NULL OR e.loc IS NULL
                THEN s.hops ELSE s.hops + 1 END AS hops,
           CASE WHEN s.outcome IS NOT NULL THEN s.outcome
                WHEN e.url IS NULL THEN 'dangling'
                WHEN e.loc IS NULL THEN 'ok'
                ELSE NULL END AS outcome
         FROM s${i - 1} s LEFT JOIN p e ON s.cur = e.url)"""
    s"""WITH p AS (
         SELECT ${u("doc_id")} AS url,
           CASE WHEN doc_id % 100 = 50 THEN ${u("doc_id + 1")}
                WHEN doc_id % 100 = 51 THEN ${u("doc_id - 1")}
                WHEN doc_id % 16 < 3 THEN ${u("doc_id + 1")}
                ELSE NULL END AS loc
         FROM documents),
       s0 AS (SELECT url AS start, url AS cur, CAST(0 AS BIGINT) AS hops,
                     CAST(NULL AS VARCHAR) AS outcome FROM p),
       ${(1 to 4).map(hop).mkString(",\n")}
       SELECT start AS url, cur AS final_url, CAST(hops AS BIGINT) AS n_hops,
              coalesce(outcome, 'exhausted') AS outcome
       FROM s4 ORDER BY url"""
  }

  // Recursive sitemap-index resolution: level-1 sitemapindex entries name
  // child sitemap URLs; the fetch is simulated as ONE shuffled equi-join
  // against the fetched-payload table keyed by child id, then the level-2
  // urlset parse emits the final page URLs. Both parses are the real
  // scan-side tokenizer op; the only exchange is the fetch join — the
  // plan shape a recursive discovery pass has at fleet scale.
  private def qSitemapDeep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = docs(s, dir).select(col("doc_id")).as[Long]
    def h(id: Long) = s"https://h${id % 37}.example.com"
    val idx = base.filter(_ % 10 == 0).map { id =>
      (id, s"<sitemapindex><sitemap><loc>${h(id + 1)}/sm/${id + 1}.xml</loc></sitemap>" +
        s"<sitemap><loc>${h(id + 2)}/sm/${id + 2}.xml</loc></sitemap></sitemapindex>")
    }.toDF("doc_id", "xml")
    val leaves = base.filter(_ % 10 != 0).map { id =>
      (id, s"<urlset><url><loc>${h(id)}/p/$id/1</loc></url>" +
        s"<url><loc>${h(id)}/p/$id/2</loc></url></urlset>")
    }.toDF("doc_id", "xml")
    val refs = Sitemap.parse(idx, "doc_id", "xml")
      .where(col("kind") === "sitemap")
      .select(col("doc_id").as("idx_doc"),
        regexp_extract(col("loc"), "/sm/([0-9]+)\\.xml$", 1).cast("long")
          .as("child_id"))
    val leafPages = Sitemap.parse(leaves, "doc_id", "xml")
      .where(col("kind") === "url")
      .select(col("doc_id").as("child_id"), col("entry_no"),
        col("loc").as("page_url"))
    refs.join(leafPages, Seq("child_id"))
      .select(col("idx_doc"), col("child_id"), col("entry_no"),
        col("page_url"))
      .orderBy("idx_doc", "child_id", "entry_no")
  }

  private val oSitemapDeep =
    """WITH ids AS (SELECT doc_id FROM documents),
       idx AS (SELECT doc_id AS idx_doc FROM ids WHERE doc_id % 10 = 0),
       refs AS (
         SELECT idx_doc, idx_doc + 1 AS child_id FROM idx
         UNION ALL SELECT idx_doc, idx_doc + 2 FROM idx),
       leaves AS (
         SELECT doc_id AS child_id,
           'https://h' || (doc_id % 37)::VARCHAR || '.example.com' AS h
         FROM ids WHERE doc_id % 10 <> 0),
       j AS (SELECT r.idx_doc, l.child_id, l.h
             FROM refs r JOIN leaves l USING (child_id))
       SELECT idx_doc, child_id, e.entry_no,
         h || '/p/' || child_id::VARCHAR || '/' ||
           (e.entry_no + 1)::VARCHAR AS page_url
       FROM j, (SELECT 0::BIGINT AS entry_no UNION ALL SELECT 1::BIGINT) e
       ORDER BY idx_doc, child_id, entry_no"""

  // ------------------------------------------------------- curation pipeline
  // The six-stage end-to-end curation flow (ops/Curation.scala): NFC canon →
  // PII redaction → Gopher gate → exact dedup → per-source quality cut →
  // token packing. Every stage is the arithmetic its standalone green row
  // verifies; THIS row verifies the composition, so stage boundaries can't
  // drift apart silently.
  private def qCurate(s: SparkSession, dir: String): DataFrame =
    Curation.curate(docs(s, dir), "doc_id", "text", "source",
        keepFrac = 0.5, budget = 2000L)
      .withColumnRenamed("id", "doc_id")
      .withColumnRenamed("grp", "source")
      .orderBy("doc_id")

  private val oCurate = {
    val em = CorpusSignals.EmailRe
    val ip4 = CorpusSignals.Ipv4Re
    val ph = CorpusSignals.PhoneRe
    val ws = "\\s+"
    val punctClass = "[A-Za-z0-9\\s]"
    val stop = "['the','a','an','of','and','to','in','is','it','for']"
    s"""WITH canon AS (
         SELECT doc_id AS id, source AS grp,
           regexp_replace(regexp_replace(regexp_replace(
             trim(regexp_replace(nfc_normalize(text), '$ws', ' ', 'g')),
             '$em', '<EMAIL>', 'g'), '$ip4', '<IP>', 'g'), '$ph', '<PHONE>', 'g') AS t
         FROM documents),
       g2t AS (SELECT id, grp, t, tk,
           list_transform(generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1]) AS g2
         FROM (SELECT id, grp, t, str_split(t, ' ') AS tk FROM canon)),
       gated AS (
         SELECT id, grp, t, CAST(len(tk) AS BIGINT) AS n_tokens
         FROM g2t
         WHERE len(tk) BETWEEN 50 AND 100000
           AND (list_sum(list_transform(tk, x -> length(x)))::DOUBLE / len(tk)) BETWEEN 3.0 AND 10.0
           AND len(list_filter(tk, x -> list_contains($stop, x))) >= 2
           AND (len(tk) < 2 OR ((len(g2) - len(list_distinct(g2)))::DOUBLE / len(g2)) <= 0.3)),
       dedup AS (
         SELECT id, grp, t, n_tokens FROM (
           SELECT *, row_number() OVER (
             PARTITION BY ('0x' || substr(md5(t), 1, 15))::BIGINT ORDER BY id) AS rk
           FROM gated) WHERE rk = 1),
       scored AS (
         SELECT id, grp, n_tokens,
           least(length(t)::DOUBLE / 400.0, 1.0) * 0.4 + least(sr * 10.0, 1.0) * 0.4 +
             (1.0 - least(pr * 5.0, 1.0)) * 0.2 AS quality
         FROM (SELECT *,
           len(list_filter(str_split(t, ' '), x -> list_contains($stop, x)))::DOUBLE /
             len(str_split(t, ' ')) AS sr,
           length(regexp_replace(t, '$punctClass', '', 'g'))::DOUBLE / length(t) AS pr
           FROM dedup)),
       cut AS (
         SELECT id, grp, n_tokens, quality FROM (
           SELECT *, row_number() OVER (PARTITION BY grp ORDER BY quality DESC, id) AS rk,
             count(*) OVER (PARTITION BY grp) AS gn
           FROM scored)
         WHERE rk <= ceil(gn::DOUBLE * 0.5))
       SELECT id AS doc_id, grp AS source, n_tokens, quality,
         CAST((sum(n_tokens) OVER (PARTITION BY grp ORDER BY id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 2000 AS BIGINT) AS pack
       FROM cut ORDER BY doc_id"""
  }

  // --------------------------------------------------------- decontamination
  // GPT-3-style benchmark decontamination at n=13: the benchmark set is a
  // deterministic 5% hash sample of the corpus (so contamination provably
  // exists — every bench doc hits itself), broadcast as a distinct
  // gram-hash table; the training side is one scan + broadcast join +
  // per-doc aggregation. Grams from the native WordShinglesGenerator.
  private def qDecontam(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val bench = Sampling.hashSample(d, "doc_id", frac = 0.05, salt = "bench13", hash = ph)
    Decontam.contaminated(d, bench, "doc_id", "text", n = 13, hash = ph)
      .orderBy("train_id")
  }

  private val oDecontam =
    """WITH gh AS (
         SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS g FROM (
           SELECT doc_id, unnest(list_distinct(list_transform(
             generate_series(1, len(t) - 12), i -> array_to_string(t[i:i+12], ' ')))) AS gram
           FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents))),
       bench AS (
         SELECT doc_id AS bench_id, g FROM gh
         WHERE ('0x' || substr(md5(doc_id::VARCHAR || 'bench13'), 1, 15))::BIGINT % 1000000 < 50000)
       SELECT t.doc_id AS train_id,
         count(DISTINCT t.g) AS n_grams_hit,
         count(DISTINCT b.bench_id) AS n_bench_docs,
         min(b.bench_id) AS first_bench_id
       FROM gh t JOIN bench b ON t.g = b.g
       GROUP BY t.doc_id ORDER BY train_id"""

  // Fractional containment at n=8, >=80% of the bench doc's distinct grams:
  // bench docs are a hash-sampled corpus subset, so every bench doc is
  // 100%-contained in itself (the planted positive) and the corpus's exact
  // duplicates produce genuine cross-doc pairs.
  private def qDecontamFrac(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val bench = Sampling.hashSample(d, "doc_id", frac = 0.05, salt = "bench13", hash = ph)
    Decontam.containmentPairs(d, bench, "doc_id", "text", n = 8,
        minPermille = 800, hash = ph)
      .orderBy("train_id", "bench_id")
  }

  private val oDecontamFrac =
    """WITH gh AS (
         SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS g FROM (
           SELECT doc_id, unnest(list_distinct(list_transform(
             generate_series(1, len(t) - 7), i -> array_to_string(t[i:i+7], ' ')))) AS gram
           FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents))),
       bench AS (
         SELECT doc_id AS bench_id, g FROM gh
         WHERE ('0x' || substr(md5(doc_id::VARCHAR || 'bench13'), 1, 15))::BIGINT % 1000000 < 50000),
       bn AS (SELECT bench_id, count(*) AS nb FROM bench GROUP BY bench_id),
       j AS (SELECT t.doc_id AS train_id, b.bench_id, count(*) AS n_hit
             FROM gh t JOIN bench b ON t.g = b.g GROUP BY 1, 2)
       SELECT train_id, bench_id, n_hit, nb AS n_bench_grams
       FROM j JOIN bn USING (bench_id)
       WHERE n_hit * 1000 >= 800 * nb
       ORDER BY train_id, bench_id"""

  // ------------------------------------------------------------ host capping
  // RefinedWeb-style per-host document quota over synthesized URLs:
  // parse_url host extraction (lowercased) + deterministic hash-priority
  // cap of 5 docs per host (Sampling.stratifiedQuota → WindowGroupLimit).
  // The oracle synthesizes the lowercase host directly and replicates the
  // row_number draw.
  private def qHostCap(s: SparkSession, dir: String): DataFrame = {
    val urls = docs(s, dir).select(col("doc_id"),
      concat(lit("https://H"), pmod(col("doc_id"), lit(37)).cast("string"),
        lit(".Example.com/doc/"), col("doc_id").cast("string")).as("url"))
    CorpusSignals.hostCap(urls, "url", "doc_id", k = 5, salt = "hc", hash = ph)
      .select("host", "doc_id").orderBy("host", "doc_id")
  }

  private val oHostCap =
    """WITH u AS (
         SELECT doc_id, 'h' || (doc_id % 37)::VARCHAR || '.example.com' AS host
         FROM documents),
       r AS (
         SELECT doc_id, host, row_number() OVER (PARTITION BY host
           ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || 'hc'), 1, 15))::BIGINT % 1000000,
                    doc_id) AS rk
         FROM u)
       SELECT host, doc_id FROM r WHERE rk <= 5 ORDER BY host, doc_id"""

  // ------------------------------------------------------------ PII redaction
  // Deterministic PII (email, IPv4, NANP phone) appended per doc, then
  // counted on the raw text and redacted with the chained regexp_replace
  // of CorpusSignals.redactPii. The patterns live in the Java∩RE2 regex
  // intersection so BOTH engines run the identical pattern text; the
  // redacted output is compared by md5.
  private def qPiiRedact(s: SparkSession, dir: String): DataFrame = {
    val synth = docs(s, dir).select(col("doc_id"), concat(
      col("text"),
      lit(" contact u"), col("doc_id").cast("string"),
      lit("@ex"), pmod(col("doc_id"), lit(7)).cast("string"), lit(".org"),
      lit(" ip 10."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".0.1"),
      lit(" tel 555-"), lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
      lit("-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")).as("t2"))
    synth.select(col("doc_id"),
      size(regexp_extract_all(col("t2"), lit(CorpusSignals.EmailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col("t2"), lit(CorpusSignals.Ipv4Re), lit(0)))
        .cast("long").as("n_ips"),
      size(regexp_extract_all(col("t2"), lit(CorpusSignals.PhoneRe), lit(0)))
        .cast("long").as("n_phones"),
      md5(CorpusSignals.redactPii(col("t2"))).as("red_md5"))
      .orderBy("doc_id")
  }

  private val oPiiRedact = {
    val e = CorpusSignals.EmailRe
    val i = CorpusSignals.Ipv4Re
    val p = CorpusSignals.PhoneRe
    s"""WITH s AS (
         SELECT doc_id,
           text || ' contact u' || doc_id::VARCHAR || '@ex' || (doc_id % 7)::VARCHAR || '.org' ||
           ' ip 10.' || (doc_id % 256)::VARCHAR || '.0.1' ||
           ' tel 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' ||
           lpad((doc_id % 10000)::VARCHAR, 4, '0') AS t2
         FROM documents)
       SELECT doc_id,
         CAST(len(regexp_extract_all(t2, '$e')) AS BIGINT) AS n_emails,
         CAST(len(regexp_extract_all(t2, '$i')) AS BIGINT) AS n_ips,
         CAST(len(regexp_extract_all(t2, '$p')) AS BIGINT) AS n_phones,
         md5(regexp_replace(regexp_replace(regexp_replace(t2,
           '$e', '<EMAIL>', 'g'), '$i', '<IP>', 'g'), '$p', '<PHONE>', 'g')) AS red_md5
       FROM s ORDER BY doc_id"""
  }

  // ---------------------------------------------------- Unicode canonical text
  // NFC via the native NormalizeNFC kernel + whitespace collapse + trim —
  // the canonicalization every hash-keyed dedup stage needs. The prefix
  // plants a decomposed é (e + U+0301) and the Å singleton (U+212B), both
  // synthesized with chr() on the DuckDB side (nfc_normalize/utf8proc)
  // so the oracle JSON stays pure ASCII.
  private def qNormalize(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        concat(lit(" Café Å  "), col("text")).as("t2"))
      .select(col("doc_id"),
        length(col("t2")).cast("long").as("raw_len"),
        length(CorpusSignals.canonText(col("t2"))).cast("long").as("canon_len"),
        md5(CorpusSignals.canonText(col("t2"))).as("canon_md5"))
      .orderBy("doc_id")

  private val oNormalize =
    """SELECT doc_id,
       length(t2)::BIGINT AS raw_len,
       length(c)::BIGINT AS canon_len,
       md5(c) AS canon_md5
       FROM (SELECT doc_id, t2,
         trim(regexp_replace(nfc_normalize(t2), '\s+', ' ', 'g')) AS c
         FROM (SELECT doc_id,
           ' Cafe' || chr(769) || ' ' || chr(8491) || '  ' || text AS t2
           FROM documents))
       ORDER BY doc_id"""

  // ------------------------------------------------------- shared substrings
  // Winnowing anchors at n=12, modulus=8: anchor hashes shared by ≥2 docs
  // (cross-document boilerplate triage with NO pairwise comparison — one
  // groupBy on the content-defined hash). The oracle recomputes the
  // rolling-polynomial hash per position with the same exact-BIGINT
  // B^k-mod-P constants the fingerprint oracle uses.
  private def qAnchors(s: SparkSession, dir: String): DataFrame =
    TextDedup.sharedAnchors(docs(s, dir), "doc_id", "text",
      n = 12, modulus = 8, minDocs = 2)
      .orderBy("h")

  private val oAnchors: String = {
    val pw = graft.functions.RollingFingerprint.powerConstants(12)
      .map(v => s"CAST($v AS BIGINT)").mkString("[", ",", "]")
    s"""WITH cps AS (SELECT doc_id,
         list_transform(generate_series(1, length(text)),
           i -> CAST(unicode(substr(text, i, 1)) AS BIGINT)) AS cp,
         length(text) AS L FROM documents),
       g AS (SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(L - 11, 1)), i ->
           coalesce(list_aggregate(list_transform(generate_series(0, least(12, L) - 1), j ->
             (cp[i + j] * ($pw[least(12, L) - j])) % 1000000007), 'sum'), 0)
           % 1000000007)) AS h
         FROM cps)
       SELECT CAST(h AS BIGINT) AS h, count(DISTINCT doc_id) AS n_docs,
         count(*) AS n_occ, min(doc_id) AS min_id
       FROM g WHERE h % 8 = 0
       GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
       ORDER BY 1"""
  }

  // ------------------------------------------------------ CDC dup-span stats
  // Content-defined chunking at the anchors scheme (n=12, modulus=8):
  // per-document duplicated-span statistics from corpus-wide exact chunk
  // dedup — the suffix-array-free approximation of exact-substring dedup.
  // Chunk keys are the portable 60-bit md5; counts/lengths are integral.
  private def qCdcDup(s: SparkSession, dir: String): DataFrame =
    TextDedup.dupSpanStats(
        docs(s, dir).where(length(col("text")) > 0), "doc_id", "text",
        n = 12, modulus = 8, minDocs = 2)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  private val oCdcDup: String = {
    val pw = graft.functions.RollingFingerprint.powerConstants(12)
      .map(v => s"CAST($v AS BIGINT)").mkString("[", ",", "]")
    s"""WITH cps AS (SELECT doc_id, text,
         list_transform(generate_series(1, length(text)),
           i -> CAST(unicode(substr(text, i, 1)) AS BIGINT)) AS cp,
         length(text) AS L FROM documents WHERE length(text) > 0),
       anch AS (SELECT doc_id, text, L,
         list_prepend(CAST(1 AS BIGINT),
           list_filter(generate_series(1, greatest(L - 11, 1)), i -> i > 1 AND
             (coalesce(list_aggregate(list_transform(generate_series(0, least(12, L) - 1), j ->
               (cp[i + j] * ($pw[least(12, L) - j])) % 1000000007), 'sum'), 0)
              % 1000000007) % 8 = 0)) AS ss
         FROM cps),
       chunks AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ss)), j ->
           struct_pack(
             ck := ('0x' || substr(md5(substr(text, CAST(ss[j] AS INTEGER),
               CAST((CASE WHEN j < len(ss) THEN ss[j+1] ELSE L + 1 END) - ss[j] AS INTEGER))), 1, 15))::BIGINT,
             clen := (CASE WHEN j < len(ss) THEN ss[j+1] ELSE L + 1 END) - ss[j]))) AS c
         FROM anch),
       flat AS (SELECT doc_id, c.ck AS ck, c.clen AS clen FROM chunks),
       hot AS (SELECT ck FROM flat GROUP BY ck HAVING count(DISTINCT doc_id) >= 2)
       SELECT doc_id, count(*) AS n_chunks,
         CAST(sum(CASE WHEN hot.ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
         CAST(sum(clen) AS BIGINT) AS total_chars,
         CAST(sum(CASE WHEN hot.ck IS NOT NULL THEN clen ELSE 0 END) AS BIGINT) AS dup_chars
       FROM flat LEFT JOIN hot ON flat.ck = hot.ck
       GROUP BY doc_id ORDER BY doc_id"""
  }

  // --------------------------------------------------- compression ratio
  // Deflate-ratio quality signal. Rows-only by documented contract: DuckDB
  // exposes no deflate scalar, so there is no SQL twin — correctness is
  // pinned by DeflateRatioSpec (direct Deflater comparison + entropy
  // extremes + interpreted/codegen parity); the planted extremes here make
  // the rows check meaningful (both tails must appear).
  private def qCompressRatio(s: SparkSession, dir: String): DataFrame = {
    val planted = when(pmod(col("doc_id"), lit(11)) === 0,
        concat(col("text"), lit(" "), repeat(lit("spamspam"), 200)))
      .when(pmod(col("doc_id"), lit(11)) === 1,
        concat(col("text"), lit(" "), md5(col("text")), md5(concat(col("text"), lit("x")))))
      .otherwise(col("text"))
    docs(s, dir).select(col("doc_id"),
        CorpusSignals.compressionRatio(planted).as("ratio"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------- seq windows
  // GPT-style pretraining sharder: per-shard document concatenation sliced
  // into fixed 128-token windows, docs splitting across boundaries; one
  // row per (doc x overlapped window) via span arithmetic (no token
  // explosion). Oracle replays the cumsum + integral-div spans.
  private def qSeqWindows(s: SparkSession, dir: String): DataFrame =
    Sampling.sequenceWindows(
        docs(s, dir).select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("toks")),
        "doc_id", "toks", seqLen = 128L, shards = 8, salt = "sw", hash = ph)
      .orderBy("shard", "window", "doc_id")

  private val oSeqWindows =
    """WITH d AS (SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS toks,
           ('0x' || substr(md5(doc_id::VARCHAR || 'sw'), 1, 15))::BIGINT % 1000000 AS h
         FROM documents WHERE len(str_split(text, ' ')) > 0),
       s AS (SELECT doc_id, toks, h, h % 8 AS shard FROM d),
       o AS (SELECT *, CAST(sum(toks) OVER (PARTITION BY shard ORDER BY h, doc_id
              ROWS UNBOUNDED PRECEDING) - toks AS BIGINT) AS off FROM s),
       e AS (SELECT shard, doc_id, toks, off,
              unnest(generate_series(off // 128, (off + toks - 1) // 128)) AS "window"
             FROM o)
       SELECT shard, "window", doc_id,
         CAST(greatest(0, "window"*128 - off) AS BIGINT) AS tok_from,
         CAST(least(("window"+1)*128 - off, toks)
              - greatest(0, "window"*128 - off) AS BIGINT) AS tok_len
       FROM e ORDER BY shard, "window", doc_id"""

  // ------------------------------------------------------ substring dedup
  // The REMOVAL half of exact-substring dedup (q_cdc_dup measures, this
  // cuts): duplicated CDC chunks keep their first (doc_id, idx) occurrence
  // corpus-wide, survivors are ''-rejoined. Same chunking CTEs as the
  // stats oracle, plus the arg-min winner and the filtered reassembly.
  private def qSubstrDedup(s: SparkSession, dir: String): DataFrame =
    TextDedup.dupSpanRewrite(
        docs(s, dir).where(length(col("text")) > 0), "doc_id", "text",
        n = 12, modulus = 8, minDocs = 2)
      .select(col("id").as("doc_id"), col("n_chunks"), col("n_removed"),
        ph(col("text_dedup")).as("clean_h"))
      .orderBy("doc_id")

  private val oSubstrDedup: String = {
    val pw = graft.functions.RollingFingerprint.powerConstants(12)
      .map(v => s"CAST($v AS BIGINT)").mkString("[", ",", "]")
    s"""WITH cps AS (SELECT doc_id, text,
         list_transform(generate_series(1, length(text)),
           i -> CAST(unicode(substr(text, i, 1)) AS BIGINT)) AS cp,
         length(text) AS L FROM documents WHERE length(text) > 0),
       anch AS (SELECT doc_id, text, L,
         list_prepend(CAST(1 AS BIGINT),
           list_filter(generate_series(1, greatest(L - 11, 1)), i -> i > 1 AND
             (coalesce(list_aggregate(list_transform(generate_series(0, least(12, L) - 1), j ->
               (cp[i + j] * ($pw[least(12, L) - j])) % 1000000007), 'sum'), 0)
              % 1000000007) % 8 = 0)) AS ss
         FROM cps),
       chunks AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ss)), j ->
           struct_pack(
             idx := CAST(j AS BIGINT),
             chunk := substr(text, CAST(ss[j] AS INTEGER),
               CAST((CASE WHEN j < len(ss) THEN ss[j+1] ELSE L + 1 END) - ss[j] AS INTEGER))))) AS c
         FROM anch),
       flat AS (SELECT doc_id, c.idx AS idx, c.chunk AS chunk,
           ('0x' || substr(md5(c.chunk), 1, 15))::BIGINT AS ck FROM chunks),
       hot AS (SELECT ck, min(struct_pack(d := doc_id, i := idx)) AS first
               FROM flat GROUP BY ck HAVING count(DISTINCT doc_id) >= 2),
       k AS (SELECT f.doc_id, f.idx, f.chunk,
               (h.ck IS NULL OR (h.first.d = f.doc_id AND h.first.i = f.idx)) AS keep
             FROM flat f LEFT JOIN hot h ON f.ck = h.ck)
       SELECT doc_id, count(*) AS n_chunks,
         CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
         ('0x' || substr(md5(COALESCE(
            string_agg(chunk, '' ORDER BY idx) FILTER (WHERE keep), '')),
            1, 15))::BIGINT AS clean_h
       FROM k GROUP BY doc_id ORDER BY doc_id"""
  }

  // -------------------------------------------------------------- line dedup
  // C4-style corpus-level line dedup (Raffel et al. 2020 §2.2) over fixed
  // 7-word line units: every line keeps exactly its first (doc_id, line_no)
  // occurrence corpus-wide, documents are reassembled from the survivors.
  // A shared 7-word boilerplate prefix gives every doc a guaranteed
  // duplicate line (the realistic case line dedup exists for); documents
  // whose every line occurred earlier elsewhere (exact-dup docs in the
  // table) vanish entirely — in BOTH engines.
  private val LineBoiler = "copyright footer terms privacy contact site map "

  private def qLineDedup(s: SparkSession, dir: String): DataFrame = {
    def lineArray(t: Column): Column = {
      val ts = split(t, " ")
      val n = ((size(ts) + lit(6)) / lit(7)).cast("int")
      transform(sequence(lit(0), n - 1),
        i => array_join(slice(ts, i * lit(7) + 1, lit(7)), " "))
    }
    TextDedup.lineDedup(
        docs(s, dir).select(col("doc_id"),
          concat(lit(LineBoiler), col("text")).as("t2")),
        "doc_id", "t2", lineArray, sep = " ", hash = ph)
      .orderBy("doc_id")
  }

  private val oLineDedup =
    s"""WITH toks AS (
         SELECT doc_id, str_split('$LineBoiler' || text, ' ') AS ts
         FROM documents),
       lines AS (
         SELECT doc_id,
           unnest(generate_series(0, CAST((len(ts)+6)//7 AS BIGINT) - 1)) AS line_no,
           unnest(list_transform(generate_series(0, CAST((len(ts)+6)//7 AS BIGINT) - 1),
                  i -> array_to_string(ts[i*7+1 : i*7+7], ' '))) AS line
         FROM toks),
       r AS (
         SELECT doc_id, line_no, line,
           row_number() OVER (PARTITION BY ('0x' || substr(md5(line), 1, 15))::BIGINT
                              ORDER BY doc_id, line_no) AS rk
         FROM lines)
       SELECT r.doc_id,
         count(*) AS n_kept,
         string_agg(line, ' ' ORDER BY line_no) AS text_dedup,
         CAST((len(t.ts)+6)//7 AS BIGINT) - count(*) AS n_dropped
       FROM r JOIN toks t ON t.doc_id = r.doc_id
       WHERE rk = 1
       GROUP BY r.doc_id, len(t.ts)
       ORDER BY r.doc_id"""

  // ---------------------------------------------------- host boilerplate
  // CCNet-style per-host template strip: every doc of host h<k> carries the
  // same 7-token nav line (df = all docs of the host >= 5 -> removed);
  // body lines are doc-unique and survive. COALESCE guards the all-boiler
  // edge on the oracle side (string_agg over zero rows is NULL, Spark's
  // array_join over the empty array is "").
  private def qHostBoiler(s: SparkSession, dir: String): DataFrame = {
    def lineArray(t: Column): Column = {
      val ts = split(t, " ")
      val n = ((size(ts) + lit(6)) / lit(7)).cast("int")
      transform(sequence(lit(0), n - 1),
        i => array_join(slice(ts, i * lit(7) + 1, lit(7)), " "))
    }
    val hostS = pmod(col("doc_id"), lit(5)).cast("string")
    val d = docs(s, dir).select(col("doc_id"),
      concat(lit("h"), hostS).as("host"),
      concat(lit("nav h"), hostS, lit(" menu login search cart help "),
        col("text")).as("t2"))
    TextDedup.hostBoilerplate(d, "doc_id", "host", "t2", lineArray,
        sep = " ", minDocs = 5L, hash = ph)
      .select(col("doc_id"), col("n_lines"), col("n_boiler"),
        ph(col("text_clean")).as("clean_h"))
      .orderBy("doc_id")
  }

  private val oHostBoiler =
    """WITH toks AS (
         SELECT doc_id, 'h' || (doc_id % 5)::VARCHAR AS host,
           str_split('nav h' || (doc_id % 5)::VARCHAR ||
                     ' menu login search cart help ' || text, ' ') AS ts
         FROM documents),
       lines AS (
         SELECT doc_id, host,
           unnest(generate_series(0, CAST((len(ts)+6)//7 AS BIGINT) - 1)) AS line_no,
           unnest(list_transform(generate_series(0, CAST((len(ts)+6)//7 AS BIGINT) - 1),
                  i -> array_to_string(ts[i*7+1 : i*7+7], ' '))) AS line
         FROM toks),
       lh AS (SELECT *, ('0x' || substr(md5(line), 1, 15))::BIGINT AS lhash FROM lines),
       dfq AS (SELECT host, lhash, count(DISTINCT doc_id) AS df_docs
               FROM lh GROUP BY host, lhash),
       j AS (SELECT l.doc_id, l.line_no, l.line, (f.df_docs >= 5) AS b
             FROM lh l JOIN dfq f ON l.host = f.host AND l.lhash = f.lhash)
       SELECT doc_id,
         count(*) AS n_lines,
         CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
         ('0x' || substr(md5(COALESCE(
            string_agg(line, ' ' ORDER BY line_no) FILTER (WHERE NOT b), '')),
            1, 15))::BIGINT AS clean_h
       FROM j GROUP BY doc_id ORDER BY doc_id"""

  // ------------------------------------------------------------------- DSIR
  // Hashed-bigram importance score vs the src1 target subset; integer
  // rational ratios (transcendental-free contract, see QualityModel
  // scaladoc). The ratio table is 1024 rows -> broadcast; the only
  // corpus-sized exchange is the final per-doc aggregate.
  private def qDsir(s: SparkSession, dir: String): DataFrame =
    QualityModel.dsirScore(docs(s, dir), "doc_id", "text",
        isTarget = col("source") === "src1", buckets = 1024)
      .orderBy("doc_id")

  private val oDsir =
    """WITH occ AS (
         SELECT doc_id, (source = 'src1') AS t,
           ('0x' || substr(md5(bg), 1, 15))::BIGINT % 1024 AS b
         FROM (SELECT doc_id, source,
                 unnest(list_transform(generate_series(1, len(ts) - 1),
                        i -> ts[i] || ' ' || ts[i+1])) AS bg
               FROM (SELECT doc_id, source, str_split(text, ' ') AS ts
                     FROM documents))),
       cnt AS (SELECT b,
                 CAST((1000000 * (sum(CASE WHEN t THEN 1 ELSE 0 END) + 1))
                      // (count(*) + 1) AS BIGINT) AS ratio
               FROM occ GROUP BY b)
       SELECT doc_id,
         CAST(sum(ratio) AS BIGINT) AS dsir_sum,
         count(*) AS n_bigrams,
         CAST(sum(ratio) // count(*) AS BIGINT) AS dsir_avg
       FROM occ JOIN cnt USING (b)
       GROUP BY doc_id ORDER BY doc_id"""

  // --------------------------------------------------------------- sanitize
  // Invisible-character hygiene: plant zero-width, NBSP, a C0 control and a
  // bidi override into every doc (chr() on the oracle side, escapes here),
  // then strip. The invisible-payload channels (injection, watermarking)
  // ride exactly these codepoints; the contract is the cleaned string
  // itself plus before/after codepoint lengths.
  private def qSanitize(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(
      lit("A\u200bB\u00a0C\u0007"), substring(col("text"), 1, 40),
      when(pmod(col("doc_id"), lit(2)) === 0, lit("\u202ax\u2069")).otherwise(lit("")))
    docs(s, dir).select(col("doc_id"), planted.as("t2"))
      .select(col("doc_id"),
        length(col("t2")).cast("long").as("raw_len"),
        CorpusSignals.stripInvisible(col("t2")).as("clean"))
      .withColumn("clean_len", length(col("clean")).cast("long"))
      .orderBy("doc_id")
  }

  private val oSanitize =
    """WITH d AS (SELECT doc_id,
         'A' || chr(8203) || 'B' || chr(160) || 'C' || chr(7) || substr(text, 1, 40)
           || CASE WHEN doc_id % 2 = 0 THEN chr(8234) || 'x' || chr(8297) ELSE '' END AS t2
         FROM documents)
       SELECT d.doc_id, CAST(length(t2) AS BIGINT) AS raw_len,
         -- expectation built from the SOURCE text, not by re-slicing t2:
         -- a <40-char doc would otherwise pull the planted bidi tail into
         -- the 40-char slice and corrupt the expected clean string
         'AB C' || substr(doc.text, 1, 40)
           || CASE WHEN d.doc_id % 2 = 0 THEN 'x' ELSE '' END AS clean,
         CAST(4 + length(substr(doc.text, 1, 40))
           + CASE WHEN d.doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS clean_len
       FROM d JOIN documents doc ON doc.doc_id = d.doc_id
       ORDER BY d.doc_id"""

  // --------------------------------------------------------------- blocklist
  // C4 §2.2 bad-words gate, token-exact (substring matching is the classic
  // Scunthorpe false positive). 'slow' occurs naturally in the corpus
  // vocabulary; an upper-case plant on doc_id%7 checks the case fold.
  private def qBadwords(s: SparkSession, dir: String): DataFrame = {
    val t2 = when(pmod(col("doc_id"), lit(7)) === 0,
      concat(col("text"), lit(" SLOW"))).otherwise(col("text"))
    docs(s, dir).select(col("doc_id"),
        CorpusSignals.blocklistGate(t2, Seq("slow", "junkword")).as("g"))
      .select(col("doc_id"), col("g.n_bad").as("n_bad"), col("g.keep").as("keep"))
      .orderBy("doc_id")
  }

  private val oBadwords =
    """WITH d AS (SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' SLOW' ELSE text END AS t2
         FROM documents)
       SELECT doc_id,
         CAST(len(list_filter(str_split(lower(t2), ' '),
           t -> t IN ('slow', 'junkword'))) AS BIGINT) AS n_bad,
         (len(list_filter(str_split(lower(t2), ' '),
           t -> t IN ('slow', 'junkword'))) = 0) AS keep
       FROM d ORDER BY doc_id"""

  // -------------------------------------------------------------------- HLL
  // HyperLogLog register table over the corpus token stream (m = 64): the
  // constant-size cardinality sketch, bit-identical cross-engine because
  // bucket/rho are pure integer ops on the shared 60-bit hash.
  private def qHll(s: SparkSession, dir: String): DataFrame =
    CorpusSignals.hllRegisters(
        docs(s, dir).select(explode(split(col("text"), " ")).as("w")),
        col("w"), m = 64)
      .orderBy("bucket")

  private val oHll =
    """WITH h AS (
         SELECT ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
         FROM (SELECT unnest(str_split(text, ' ')) AS w FROM documents)),
       r AS (SELECT h % 64 AS bucket,
               CASE WHEN (h // 64) = 0 THEN 55
                    ELSE 54 - length(bin(h // 64)) + 1 END AS rho
             FROM h),
       g AS (SELECT unnest(generate_series(0, 63))::BIGINT AS bucket)
       SELECT g.bucket, CAST(COALESCE(max(r.rho), 0) AS BIGINT) AS rho_max
       FROM g LEFT JOIN r ON r.bucket = g.bucket
       GROUP BY g.bucket ORDER BY g.bucket"""

  // ------------------------------------------------------------- grouped HLL
  // Per-source approximate distinct-token counts as the integral HLL
  // summary (v = empty registers, zint = 2^55-scaled harmonic sum): the
  // per-key cardinality profile a corpus report wants at 100 TB without a
  // per-key distinct. Both columns are exact BIGINTs, so the oracle
  // replays the identical register arithmetic; the double estimate is a
  // separate helper (spec-pinned envelope, not hash-compared).
  private def qHllByKey(s: SparkSession, dir: String): DataFrame =
    CorpusSignals.hllByKey(
        docs(s, dir).select(col("source"),
          explode(split(col("text"), " ")).as("w")),
        col("source"), col("w"), m = 64)
      .withColumnRenamed("key", "source")
      .orderBy("source")

  private val oHllByKey =
    """WITH h AS (
         SELECT source, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
         FROM (SELECT source, unnest(str_split(text, ' ')) AS w FROM documents)),
       r AS (SELECT source, h % 64 AS bucket,
               CASE WHEN (h // 64) = 0 THEN 55
                    ELSE 54 - length(bin(h // 64)) + 1 END AS rho
             FROM h),
       g AS (SELECT source, bucket, max(rho) AS rho_max FROM r GROUP BY 1, 2)
       SELECT source, CAST(64 - count(*) AS BIGINT) AS v,
         CAST(sum(1::BIGINT << (55 - rho_max)::INT) +
              (64 - count(*)) * (1::BIGINT << 55) AS BIGINT) AS zint
       FROM g GROUP BY source ORDER BY source"""

  // ------------------------------------------------- HLL as a true aggregate
  // The same per-source register vectors as q_hll_by_key, but computed by
  // the custom TypedImperativeAggregate (one m-long buffer per group per
  // task, buffer-merge on the reduce side) — the Catalyst-aggregate form
  // of the sketch, verified value-identical to the relational arithmetic.
  private def qHllAgg(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy("source")
      .agg(CorpusSignals.hllSketchAgg(col("w"), m = 64).as("r"))
      .select(col("source"), array_join(col("r"), ",").as("regs"))
      .orderBy("source")

  private val oHllAgg =
    """WITH h AS (
         SELECT source, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
         FROM (SELECT source, unnest(str_split(text, ' ')) AS w FROM documents)),
       r AS (SELECT source, h % 64 AS bucket,
               CASE WHEN (h // 64) = 0 THEN 55
                    ELSE 54 - length(bin(h // 64)) + 1 END AS rho
             FROM h),
       g AS (SELECT source, bucket, max(rho) AS rho_max FROM r GROUP BY 1, 2),
       f AS (SELECT s.source, b.bucket, COALESCE(g.rho_max, 0) AS rho
             FROM (SELECT DISTINCT source FROM documents) s
             CROSS JOIN (SELECT unnest(generate_series(0, 63))::BIGINT AS bucket) b
             LEFT JOIN g ON g.source = s.source AND g.bucket = b.bucket)
       SELECT source, array_to_string(list(rho::BIGINT ORDER BY bucket), ',') AS regs
       FROM f GROUP BY source ORDER BY source"""

  // -------------------------------------------------------- count-min sketch
  // CMS register table (depth 4 × width 64) over the corpus token stream —
  // the constant-size FREQUENCY sketch next to q_hll's cardinality sketch:
  // a heavy-hitter scan at 100 TB keeps 256 counters instead of one per
  // distinct token. Row hashes are Kirsch–Mitzenmacher double hashing over
  // two shared 60-bit md5 hashes, so both engines rebuild the identical
  // table at two digests per token.
  private def qCms(s: SparkSession, dir: String): DataFrame =
    CorpusSignals.cmsRegisters(
        docs(s, dir).select(explode(split(col("text"), " ")).as("w")),
        col("w"), depth = 4, width = 64)
      .orderBy("i", "bucket")

  private val oCms =
    """WITH toks AS (SELECT unnest(str_split(text, ' ')) AS w FROM documents),
       hs AS (SELECT ('0x' || substr(md5(w), 1, 15))::BIGINT AS h1,
                     ('0x' || substr(md5('~ ' || w), 1, 15))::BIGINT AS h2
              FROM toks),
       d AS (SELECT unnest(generate_series(0, 3))::BIGINT AS i),
       r AS (SELECT d.i, (hs.h1 + d.i * hs.h2) % 64 AS bucket, count(*) AS cnt
             FROM hs, d GROUP BY 1, 2),
       g AS (SELECT d.i, b.bucket FROM d,
             (SELECT unnest(generate_series(0, 63))::BIGINT AS bucket) b)
       SELECT g.i, g.bucket, CAST(COALESCE(r.cnt, 0) AS BIGINT) AS cnt
       FROM g LEFT JOIN r ON r.i = g.i AND r.bucket = g.bucket
       ORDER BY g.i, g.bucket"""

  // CMS point estimates vs exact counts for a probe set (the distinct
  // tokens of the first three documents): est = min over rows of the
  // probed register — the one-sided CMS bound, so `sound` (est ≥ exact)
  // must hold for every row. Probes explode ×depth and meet the 256-row
  // register table in a broadcast equi-join; the exact side broadcasts the
  // probe list into the token scan — nothing corpus-sized shuffles beyond
  // the probe-keyed counts.
  private def qCmsEst(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(explode(split(col("text"), " ")).as("w"))
    val regs = CorpusSignals.cmsRegisters(toks, col("w"), depth = 4, width = 64)
    val probes = docs(s, dir).where(col("doc_id") < 3)
      .select(explode(split(col("text"), " ")).as("w")).distinct()
    val est = CorpusSignals.cmsEstimate(regs, probes, col("w"), depth = 4, width = 64)
    val exact = toks.join(broadcast(probes), Seq("w"))
      .groupBy("w").agg(count(lit(1)).as("exact"))
    est.join(exact, Seq("w"))
      .select(col("w"), col("est"), col("exact"),
        (col("est") >= col("exact")).as("sound"))
      .orderBy("w")
  }

  private val oCmsEst =
    """WITH toks AS (SELECT unnest(str_split(text, ' ')) AS w FROM documents),
       probes AS (SELECT DISTINCT unnest(str_split(text, ' ')) AS w
                  FROM documents WHERE doc_id < 3),
       hs AS (SELECT ('0x' || substr(md5(w), 1, 15))::BIGINT AS h1,
                     ('0x' || substr(md5('~ ' || w), 1, 15))::BIGINT AS h2
              FROM toks),
       d AS (SELECT unnest(generate_series(0, 3))::BIGINT AS i),
       r AS (SELECT d.i, (hs.h1 + d.i * hs.h2) % 64 AS bucket, count(*) AS cnt
             FROM hs, d GROUP BY 1, 2),
       e AS (SELECT p.w, d.i,
               (('0x' || substr(md5(p.w), 1, 15))::BIGINT +
                d.i * ('0x' || substr(md5('~ ' || p.w), 1, 15))::BIGINT) % 64 AS bucket
             FROM probes p, d),
       est AS (SELECT e.w, min(r.cnt) AS est
               FROM e JOIN r ON r.i = e.i AND r.bucket = e.bucket GROUP BY e.w),
       ex AS (SELECT t.w, count(*) AS exact FROM toks t JOIN probes p ON p.w = t.w
              GROUP BY t.w)
       SELECT est.w, CAST(est.est AS BIGINT) AS est, CAST(ex.exact AS BIGINT) AS exact,
         est.est >= ex.exact AS sound
       FROM est JOIN ex ON ex.w = est.w ORDER BY est.w"""

  // ------------------------------------------------- CMS as a true aggregate
  // Per-source frequency registers via the custom sum-merge
  // TypedImperativeAggregate — the grouped form of q_cms, one counter
  // array per source through the exchange.
  private def qCmsAgg(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy("source")
      .agg(CorpusSignals.cmsSketchAgg(col("w"), depth = 4, width = 64).as("r"))
      .select(col("source"), array_join(col("r"), ",").as("regs"))
      .orderBy("source")

  private val oCmsAgg =
    """WITH toks AS (SELECT source, unnest(str_split(text, ' ')) AS w FROM documents),
       hs AS (SELECT source, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h1,
                     ('0x' || substr(md5('~ ' || w), 1, 15))::BIGINT AS h2
              FROM toks),
       d AS (SELECT unnest(generate_series(0, 3))::BIGINT AS i),
       r AS (SELECT source, d.i, (hs.h1 + d.i * hs.h2) % 64 AS bucket, count(*) AS cnt
             FROM hs, d GROUP BY 1, 2, 3),
       f AS (SELECT s.source, d.i, b.bucket, COALESCE(r.cnt, 0) AS cnt
             FROM (SELECT DISTINCT source FROM documents) s
             CROSS JOIN d
             CROSS JOIN (SELECT unnest(generate_series(0, 63))::BIGINT AS bucket) b
             LEFT JOIN r ON r.source = s.source AND r.i = d.i AND r.bucket = b.bucket)
       SELECT source, array_to_string(list(CAST(cnt AS BIGINT) ORDER BY i, bucket), ',') AS regs
       FROM f GROUP BY source ORDER BY source"""

  // ------------------------------------------------- charset detect/decode
  // Raw-crawl byte payloads synthesized Spark-side in four planted
  // variants (plain UTF-8, UTF-8 BOM, bare cp1252 smart quotes, meta-
  // declared latin1 with a planted 0xE9), pushed through the native
  // charset_of/decode_web expressions. Rows-only by documented contract:
  // the UTF-8 validation state machine and the WHATWG fallback table are
  // not ANSI-SQL-expressible; correctness is pinned byte-level in
  // CharsetDetectSpec. Deterministic integral output (counts + decoded
  // char mass per planted variant).
  private def qCharset(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), encode(col("text"), "utf-8").as("u8"))
      .select(pmod(col("doc_id"), lit(4)).as("variant"),
        when(pmod(col("doc_id"), lit(4)) === 0, col("u8"))
          .when(pmod(col("doc_id"), lit(4)) === 1,
            concat(unhex(lit("EFBBBF")), col("u8")))
          .when(pmod(col("doc_id"), lit(4)) === 2,
            concat(unhex(lit("93")), col("u8"), unhex(lit("94"))))
          .otherwise(concat(
            encode(lit("<meta charset=iso-8859-1>"), "utf-8"),
            unhex(lit("E9")), col("u8")))
          .as("b"))
      .select(col("variant"), CorpusSignals.charsetOf(col("b")).as("cs"),
        length(CorpusSignals.decodeWeb(col("b"))).cast("long").as("chars"))
      .groupBy("variant", "cs")
      .agg(count(lit(1)).as("docs"), sum(col("chars")).as("chars"))
      .orderBy("variant", "cs")

  // ------------------------------------------------ bounded top-k aggregate
  // Per-source longest documents via the k-bounded heap-merge
  // TypedImperativeAggregate — map-side combine to ≤k-entry buffers,
  // vs the rank window's shuffle of candidate rows per group.
  private def qTopKAgg(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(col("source"))
      .agg(CorpusSignals.topKAgg(
        col("doc_id"), length(col("text")).cast("long"), k = 5).as("t"))
      .select(col("source"), posexplode(col("t")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("doc_id"), col("col.score").as("score"))
      .orderBy("source", "rank")

  private val oTopKAgg =
    """WITH s AS (SELECT source, doc_id, length(text)::BIGINT AS score FROM documents),
       r AS (SELECT source, doc_id, score,
                    row_number() OVER (PARTITION BY source
                                       ORDER BY score DESC, doc_id) AS rank
             FROM s)
       SELECT source, rank::BIGINT AS rank, doc_id, score
       FROM r WHERE rank <= 5 ORDER BY source, rank"""

  // ---------------------------------------------------- round-4 curation chain
  // The second end-to-end composition (Curation.curate2): sanitize →
  // Aho–Corasick phrase gate → exact dedup → per-source cap → packing.
  // Invisible characters are PLANTED Spark-side (leading zero-width,
  // trailing bidi isolate) so the sanitizer does real work while the
  // oracle chain starts from the plain text the strip provably recovers.
  private val curate2Phrases = Seq("slow key", "vector small")

  private def qCurate2(s: SparkSession, dir: String): DataFrame = {
    val planted = docs(s, dir).select(col("doc_id"), col("source"),
      concat(lit("\u200b"), col("text"), lit("\u2066")).as("text"))
    Curation.curate2(planted, "doc_id", "text", "source",
        phrases = curate2Phrases, cap = 20L, budget = 2000L)
      .select(col("id").as("doc_id"), col("src").as("source"),
        col("n_tokens"), col("pack"))
      .orderBy("doc_id")
  }

  private val oCurate2: String = {
    val gates = curate2Phrases.map { p =>
      s"""len(list_filter(generate_series(1, len(text) - ${p.length} + 1),
          i -> substr(text, i, ${p.length}) = '$p')) = 0"""
    }.mkString("\n           AND ")
    s"""WITH gated AS (
         SELECT doc_id AS id, source AS src, text AS t
         FROM documents
         WHERE $gates),
       dedup AS (
         SELECT id, src, t FROM (
           SELECT *, row_number() OVER (
             PARTITION BY ('0x' || substr(md5(t), 1, 15))::BIGINT ORDER BY id) AS rk
           FROM gated) WHERE rk = 1),
       capped AS (
         SELECT id, src, t FROM (
           SELECT *, row_number() OVER (PARTITION BY src
             ORDER BY ('0x' || substr(md5('cap ' || id::VARCHAR), 1, 15))::BIGINT, id) AS rk
           FROM dedup) WHERE rk <= 20),
       toks AS (
         SELECT id, src, CAST(len(str_split(t, ' ')) AS BIGINT) AS n_tokens
         FROM capped)
       SELECT id AS doc_id, src AS source, n_tokens,
         CAST((sum(n_tokens) OVER (PARTITION BY src ORDER BY id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 2000 AS BIGINT) AS pack
       FROM toks ORDER BY doc_id"""
  }

  // ---------------------------------------------------------- phrase matching
  // One-pass Aho–Corasick counts for a mixed pattern set: multi-word
  // phrases, a self-overlapping pattern ("a a" counts every overlap), a
  // repeated-word phrase, an absent phrase (all-zero column), and a
  // sub-token fragment ("ta" matches inside "table") — the raw-substring
  // semantics the oracle replays with a per-position scan. k patterns,
  // ONE traversal per document, zero exchange.
  private val phrasePatterns = Seq(
    "table hash", "part filter", "a a", "table table", "no such phrase", "ta")

  private def qPhraseMatch(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        CorpusSignals.multiMatchCounts(col("text"), phrasePatterns).as("c"))
      .select(col("doc_id"), array_join(col("c"), ",").as("counts"),
        aggregate(col("c"), lit(0L), (a, x) => a + x).as("n_hits"))
      .orderBy("doc_id")

  private val oPhraseMatch: String = {
    val cs = phrasePatterns.zipWithIndex.map { case (p, i) =>
      s"""len(list_filter(generate_series(1, len(text) - ${p.length} + 1),
          i -> substr(text, i, ${p.length}) = '$p')) AS c$i"""
    }.mkString(",\n           ")
    val idx = phrasePatterns.indices
    s"""WITH m AS (
         SELECT doc_id,
           $cs
         FROM documents)
       SELECT doc_id,
         ${idx.map(i => s"c$i::VARCHAR").mkString(" || ',' || ")} AS counts,
         CAST(${idx.map(i => s"c$i").mkString(" + ")} AS BIGINT) AS n_hits
       FROM m ORDER BY doc_id"""
  }

  // ------------------------------------------------------------ bloom filter
  // Portable Bloom membership sketch over token bigrams — the third sketch
  // next to q_hll (how many distinct) and q_cms (how often): 64 words × 63
  // data bits, k=3 hashes of "i <bigram>" on the shared 60-bit md5, so
  // both engines build bit-identical bitmaps. Insert set = bigrams of
  // doc_id < 250; the probe query checks EVERY corpus bigram and outputs
  // the exact-membership truth plus the no-false-negative verdict.
  private def bigramsOf(text: Column): Column = {
    val t = split(text, " ")
    // guard: Spark sequence(1, 0) DESCENDS instead of being empty
    when(size(t) >= 2,
      transform(sequence(lit(1), size(t) - 1),
        i => concat(element_at(t, i), lit(" "), element_at(t, i + 1))))
      .otherwise(array())
  }

  private def qBloom(s: SparkSession, dir: String): DataFrame =
    CorpusSignals.bloomRegisters(
        docs(s, dir).where(col("doc_id") < 250)
          .select(explode(bigramsOf(col("text"))).as("b")),
        col("b"), words = 64, k = 3)
      .orderBy("word")

  private val oBloom =
    """WITH bg AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])) AS b
         FROM (SELECT str_split(text, ' ') AS t FROM documents WHERE doc_id < 250)),
       hs AS (SELECT ('0x' || substr(md5(b), 1, 15))::BIGINT AS h1,
                     ('0x' || substr(md5('~ ' || b), 1, 15))::BIGINT AS h2
              FROM bg),
       p AS (SELECT (hs.h1 + d.i * hs.h2) % 4032 AS p
         FROM hs, (SELECT unnest(generate_series(0, 2))::BIGINT AS i) d),
       r AS (SELECT p // 63 AS word, bit_or(1::BIGINT << (p % 63)::INT) AS bits
         FROM p GROUP BY 1),
       g AS (SELECT unnest(generate_series(0, 63))::BIGINT AS word)
       SELECT g.word, CAST(COALESCE(r.bits, 0) AS BIGINT) AS bits
       FROM g LEFT JOIN r ON r.word = g.word ORDER BY g.word"""

  private def qBloomProbe(s: SparkSession, dir: String): DataFrame = {
    val ins = docs(s, dir).where(col("doc_id") < 250)
      .select(explode(bigramsOf(col("text"))).as("b"))
    val regs = CorpusSignals.bloomRegisters(ins, col("b"), words = 64, k = 3)
    val probes = docs(s, dir)
      .select(explode(bigramsOf(col("text"))).as("b")).distinct()
    val present = ins.distinct().select(col("b").as("w"), lit(true).as("p"))
    CorpusSignals.bloomProbe(regs, probes, col("b"), words = 64, k = 3)
      .join(present, Seq("w"), "left")
      .select(col("w"), col("maybe"),
        coalesce(col("p"), lit(false)).as("present"),
        (!coalesce(col("p"), lit(false)) || col("maybe")).as("sound"))
      .orderBy("w")
  }

  private val oBloomProbe =
    """WITH bg AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])) AS b
         FROM (SELECT str_split(text, ' ') AS t FROM documents WHERE doc_id < 250)),
       hs AS (SELECT ('0x' || substr(md5(b), 1, 15))::BIGINT AS h1,
                     ('0x' || substr(md5('~ ' || b), 1, 15))::BIGINT AS h2
              FROM bg),
       hp AS (SELECT (hs.h1 + d.i * hs.h2) % 4032 AS p
         FROM hs, (SELECT unnest(generate_series(0, 2))::BIGINT AS i) d),
       r AS (SELECT p // 63 AS word, bit_or(1::BIGINT << (p % 63)::INT) AS bits
         FROM hp GROUP BY 1),
       probes AS (SELECT DISTINCT unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])) AS w
         FROM (SELECT str_split(text, ' ') AS t FROM documents)),
       pe AS (SELECT p.w, d.i,
           (('0x' || substr(md5(p.w), 1, 15))::BIGINT +
            d.i * ('0x' || substr(md5('~ ' || p.w), 1, 15))::BIGINT) % 4032 AS p
         FROM probes p, (SELECT unnest(generate_series(0, 2))::BIGINT AS i) d),
       verdict AS (
         SELECT pe.w, min(CASE WHEN (r.bits & (1::BIGINT << (pe.p % 63)::INT)) =
                                    (1::BIGINT << (pe.p % 63)::INT) THEN 1 ELSE 0 END) AS m
         FROM pe JOIN r ON r.word = pe.p // 63 GROUP BY pe.w),
       ins AS (SELECT DISTINCT b AS w FROM bg)
       SELECT v.w, v.m = 1 AS maybe, ins.w IS NOT NULL AS present,
         (ins.w IS NULL) OR v.m = 1 AS sound
       FROM verdict v LEFT JOIN ins ON ins.w = v.w ORDER BY v.w"""

  // --------------------------------------------------------------- web graph
  // Outlink harvesting + host-graph PageRank. The Spark side runs the REAL
  // streaming HTML tokenizer over synthesized pages that exercise case-folded
  // tag/attr names, both quote styles, href-less anchors, and entity-encoded
  // hrefs; the oracle regenerates the links arithmetically from doc_id (it
  // knows the generator) — a true differential test of the tokenizer path.
  private def linkPages(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir).select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val pop =
          if (id % 3 == 0) "<a href=\"https://popular.example.org/\">pop</a>"
          else ""
        val html =
          s"""<HTML><body><NAV><A HREF="https://h${(id + 1) % 37}.example.com/doc/${id + 1}">next</A></NAV>
             |<p>$text</p>
             |<a class='m' href='https://h${id % 7}.example.com/'>hub</a>
             |<a name="x">anchor, not a link</a>
             |<a href="/self?ref=$id&amp;src=nav">self</a>
             |$pop</body></html>""".stripMargin
        (id, s"https://h${id % 37}.example.com/doc/$id", html)
      }.toDF("doc_id", "url", "html")
  }

  private def qOutlinks(s: SparkSession, dir: String): DataFrame =
    WebGraph.outlinks(linkPages(s, dir), "doc_id", "url", "html")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_links"),
        array_join(
          transform(array_sort(collect_list(struct(col("link_no"), col("href")))),
            x => x.getField("href")), "|").as("hrefs"))
      .orderBy("doc_id")

  private val oOutlinks =
    """SELECT doc_id,
         CAST(3 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_links,
         'https://h' || ((doc_id+1) % 37)::VARCHAR || '.example.com/doc/' || (doc_id+1)::VARCHAR
           || '|https://h' || (doc_id % 7)::VARCHAR || '.example.com/'
           || '|/self?ref=' || doc_id::VARCHAR || '&src=nav'
           || CASE WHEN doc_id % 3 = 0 THEN '|https://popular.example.org/' ELSE '' END AS hrefs
       FROM documents ORDER BY doc_id"""

  // Anchor-text harvesting through the REAL tokenizer, differential like
  // q_outlinks: the generator plants inline markup inside an anchor
  // (n<b>ex</b>t → "next"), an entity (&amp;), an implicit close (a new
  // <a> terminates the open one — the browser recovery rule for illegal
  // nesting), and whitespace to collapse; the oracle rebuilds the
  // expected (href~anchor) list arithmetically from doc_id.
  private def qAnchorText(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pages = docs(s, dir).select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val pop =
          if (id % 3 == 0)
            "<a href=\"https://popular.example.org/\">Read &amp; More</a>"
          else ""
        val html =
          s"""<html><body>
             |<a href="https://h${(id + 1) % 37}.example.com/doc/${id + 1}">n<b>ex</b>t ${id + 1}</a>
             |<p>$text</p>
             |<a href='/hub'>Hub
             |<a href="/tail?id=$id">tail &lt;$id&gt;</a>
             |$pop</body></html>""".stripMargin
        (id, s"https://h${id % 37}.example.com/doc/$id", html)
      }.toDF("doc_id", "url", "html")
    WebGraph.anchorTexts(pages, "doc_id", "url", "html")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_links"),
        array_join(
          transform(array_sort(collect_list(struct(col("link_no"),
            concat(col("href"), lit("~"), col("anchor")).as("p")))),
            x => x.getField("p")), "|").as("anchors"))
      .orderBy("doc_id")
  }

  private val oAnchorText =
    """SELECT doc_id,
         CAST(3 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_links,
         'https://h' || ((doc_id+1) % 37)::VARCHAR || '.example.com/doc/' || (doc_id+1)::VARCHAR
           || '~next ' || (doc_id+1)::VARCHAR
           || '|/hub~Hub'
           || '|/tail?id=' || doc_id::VARCHAR || '~tail <' || doc_id::VARCHAR || '>'
           || CASE WHEN doc_id % 3 = 0 THEN '|https://popular.example.org/~Read & More' ELSE '' END
           AS anchors
       FROM documents ORDER BY doc_id"""

  // Head-metadata extraction through the REAL tokenizer, differential like
  // q_outlinks: the generator plants attr-name case (LANG, META NAME),
  // both quote styles plus an unquoted value, entities in title/og content,
  // messy title whitespace, a space-separated rel token list ("alternate
  // CANONICAL"), robots-directive casing/spacing and the `none` alias,
  // first-wins duplicates (late description, second canonical, body
  // <title>). The oracle rebuilds every expected field arithmetically
  // from doc_id.
  private def qPageMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pages = docs(s, dir).select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val lang = (id % 3) match {
          case 0 => " lang=\"en\""
          case 1 => " LANG='fr-CA'"
          case _ => ""
        }
        val desc = (id % 4) match {
          case 0 => s"""<meta name="description" content="Summary &amp; notes $id">"""
          case 1 => ""
          case 2 => s"""<META NAME='Description' CONTENT='Summary of $id'>"""
          case _ => s"""<meta content="Trailing $id" name=description>"""
        }
        val robots = (id % 5) match {
          case 0 => """<meta name="robots" content="noindex">"""
          case 1 => """<meta name="robots" content="NoFollow , noarchive">"""
          case 2 => """<meta name="robots" content="NONE">"""
          case 3 => ""
          case _ => """<meta name="robots" content="index, follow">"""
        }
        val links =
          if (id % 2 == 0)
            s"""<link rel="alternate CANONICAL" href="https://ex.org/c/$id"><link rel="canonical" href="https://ex.org/dup">"""
          else """<link rel="stylesheet" href="/s.css">"""
        val og =
          if (id % 3 == 0)
            s"""<meta property="og:title" content="OG &quot;$id&quot;">"""
          else ""
        val html =
          s"""<!DOCTYPE html><HTML$lang><head>
             |<title>
             |  Doc &amp;
             |  Page $id
             |</title>
             |$desc$robots$links$og
             |<meta name="description" content="late dup">
             |</head><body><title>Ignored</title>
             |<p>${graft.html.Tokenizer.encode(text.take(60))}</p></body></html>""".stripMargin
        (id, s"https://h${id % 37}.example.com/doc/$id", html)
      }.toDF("doc_id", "url", "html")
    PageMeta.extract(pages, "doc_id", "url", "html").orderBy("doc_id")
  }

  private val oPageMeta =
    """SELECT doc_id,
         'https://h' || (doc_id % 37)::VARCHAR || '.example.com/doc/' || doc_id::VARCHAR AS url,
         'Doc & Page ' || doc_id::VARCHAR AS title,
         CASE WHEN doc_id % 4 = 0 THEN 'Summary & notes ' || doc_id::VARCHAR
              WHEN doc_id % 4 = 1 THEN 'late dup'
              WHEN doc_id % 4 = 2 THEN 'Summary of ' || doc_id::VARCHAR
              ELSE 'Trailing ' || doc_id::VARCHAR END AS description,
         CASE WHEN doc_id % 2 = 0 THEN 'https://ex.org/c/' || doc_id::VARCHAR
              ELSE '' END AS canonical,
         CASE WHEN doc_id % 3 = 0 THEN 'en'
              WHEN doc_id % 3 = 1 THEN 'fr-CA' ELSE '' END AS lang,
         CASE WHEN doc_id % 3 = 0 THEN 'OG "' || doc_id::VARCHAR || '"'
              ELSE '' END AS og_title,
         (doc_id % 5 = 0 OR doc_id % 5 = 2) AS noindex,
         (doc_id % 5 = 1 OR doc_id % 5 = 2) AS nofollow
       FROM documents ORDER BY doc_id"""

  // Sitemap parsing, differential like q_outlinks: every 10th doc is a
  // <sitemapindex> (2 child sitemaps, one without lastmod), the rest are
  // <urlset>s planting surrounding-whitespace locs, an entity-escaped
  // query string (&amp; → &), a loc-less entry that must be DROPPED, and
  // sparse optional fields. The oracle rebuilds the expected entry table
  // arithmetically from doc_id.
  private def qSitemap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pages = docs(s, dir).select(col("doc_id")).as[Long]
      .map { id =>
        val h = s"https://h${id % 37}.example.com"
        val xml =
          if (id % 10 == 0)
            s"""<?xml version="1.0" encoding="UTF-8"?>
               |<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
               | <sitemap><loc>$h/sitemap-$id-1.xml</loc><lastmod>2025-01-02</lastmod></sitemap>
               | <sitemap><loc>$h/sitemap-$id-2.xml</loc></sitemap>
               |</sitemapindex>""".stripMargin
          else
            s"""<?xml version="1.0" encoding="UTF-8"?>
               |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
               | <url><loc>$h/doc/$id</loc><lastmod>2024-0${id % 9 + 1}-01</lastmod><changefreq>daily</changefreq><priority>0.${id % 10}</priority></url>
               | <url><loc>
               |   $h/a?x=$id&amp;y=2
               | </loc></url>
               | <url><lastmod>2024-01-01</lastmod></url>
               | <url><loc>https://h${(id + 1) % 37}.example.com/next/${id + 1}</loc><priority>1.0</priority></url>
               |</urlset>""".stripMargin
        (id, xml)
      }.toDF("doc_id", "xml")
    Sitemap.parse(pages, "doc_id", "xml").orderBy("doc_id", "entry_no")
  }

  private val oSitemap =
    """WITH u AS (SELECT doc_id, 'https://h' || (doc_id % 37)::VARCHAR || '.example.com' AS h
           FROM documents WHERE doc_id % 10 <> 0),
         sm AS (SELECT doc_id, 'https://h' || (doc_id % 37)::VARCHAR || '.example.com' AS h
           FROM documents WHERE doc_id % 10 = 0)
       SELECT * FROM (
         SELECT doc_id, 0::BIGINT AS entry_no, 'url' AS kind,
           h || '/doc/' || doc_id::VARCHAR AS loc,
           '2024-0' || (doc_id % 9 + 1)::VARCHAR || '-01' AS lastmod,
           'daily' AS changefreq, '0.' || (doc_id % 10)::VARCHAR AS priority
         FROM u
         UNION ALL
         SELECT doc_id, 1::BIGINT, 'url',
           h || '/a?x=' || doc_id::VARCHAR || '&y=2', '', '', '' FROM u
         UNION ALL
         SELECT doc_id, 2::BIGINT, 'url',
           'https://h' || ((doc_id + 1) % 37)::VARCHAR || '.example.com/next/'
             || (doc_id + 1)::VARCHAR, '', '', '1.0' FROM u
         UNION ALL
         SELECT doc_id, 0::BIGINT, 'sitemap',
           h || '/sitemap-' || doc_id::VARCHAR || '-1.xml', '2025-01-02', '', ''
         FROM sm
         UNION ALL
         SELECT doc_id, 1::BIGINT, 'sitemap',
           h || '/sitemap-' || doc_id::VARCHAR || '-2.xml', '', '', '' FROM sm)
       ORDER BY doc_id, entry_no"""

  // Host-level PageRank over the harvested link graph: outlinks → hostEdges
  // (absolute hrefs to their host, relative hrefs to the source host) →
  // 4 iterations of the exact integer recurrence (WebGraph.pagerank). The
  // oracle replays the identical BIGINT floor-division arithmetic, unrolled.
  private def qPagerank(s: SparkSession, dir: String): DataFrame = {
    val links = WebGraph.outlinks(linkPages(s, dir), "doc_id", "url", "html")
    WebGraph.pagerank(WebGraph.hostEdges(links, "url"), iters = 4)
      .select(col("id").as("host"), col("pr"))
      .orderBy("host")
  }

  private val oPagerank: String = {
    val iter = (k: Int) =>
      s"""r$k AS (SELECT nd.id,
           CAST((15::BIGINT * 1000000000) // (100 * (SELECT n FROM nn))
            + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS pr
          FROM nodes nd LEFT JOIN (
            SELECT e.dst AS id, CAST(SUM(p.pr // o.deg) AS BIGINT) AS s
            FROM edges e JOIN r${k - 1} p ON p.id = e.src JOIN od o ON o.src = e.src
            GROUP BY e.dst) c ON c.id = nd.id)"""
    s"""WITH d AS (SELECT doc_id, 'h' || (doc_id % 37)::VARCHAR || '.example.com' AS src FROM documents),
       eall AS (
         SELECT src, 'h' || ((doc_id+1) % 37)::VARCHAR || '.example.com' AS dst FROM d
         UNION ALL SELECT src, 'h' || (doc_id % 7)::VARCHAR || '.example.com' FROM d
         UNION ALL SELECT src, src FROM d
         UNION ALL SELECT src, 'popular.example.org' FROM d WHERE doc_id % 3 = 0),
       edges AS (SELECT DISTINCT src, dst FROM eall),
       nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst AS id FROM edges)),
       nn AS (SELECT count(*) AS n FROM nodes),
       od AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       r0 AS (SELECT id, CAST(1000000000 // (SELECT n FROM nn) AS BIGINT) AS pr FROM nodes),
       ${(1 to 4).map(iter).mkString(",\n")}
       SELECT id AS host, pr FROM r4 ORDER BY host"""
  }

  // HITS hubs/authorities over the same harvested host graph as PageRank —
  // integer fixed-point with round-max normalization (floor div), oracle
  // unrolled for 3 iterations with scalar-subquery maxima.
  private def qHits(s: SparkSession, dir: String): DataFrame = {
    val links = WebGraph.outlinks(linkPages(s, dir), "doc_id", "url", "html")
    WebGraph.hits(WebGraph.hostEdges(links, "url"), iters = 3)
      .select(col("id").as("host"), col("auth"), col("hub"))
      .orderBy("host")
  }

  private val oHits: String = {
    val S = 1000000L
    // every CTE is MATERIALIZED: the per-round MAX is referenced twice and
    // each round references the previous — inlining would re-expand the
    // whole chain per reference (exponential plans, file-handle blowup)
    val iter = (k: Int) =>
      s"""ar$k AS MATERIALIZED (SELECT nd.id, COALESCE(c.s, 0) AS raw
           FROM nodes nd LEFT JOIN (
             SELECT e.dst AS id, CAST(SUM(h.hub) AS BIGINT) AS s
             FROM edges e JOIN h${k - 1} h ON h.id = e.src GROUP BY e.dst) c
           ON c.id = nd.id),
         a$k AS MATERIALIZED (SELECT id, CASE WHEN (SELECT MAX(raw) FROM ar$k) > 0
             THEN CAST((raw * $S) // (SELECT MAX(raw) FROM ar$k) AS BIGINT)
             ELSE 0 END AS auth FROM ar$k),
         hr$k AS MATERIALIZED (SELECT nd.id, COALESCE(c.s, 0) AS raw
           FROM nodes nd LEFT JOIN (
             SELECT e.src AS id, CAST(SUM(a.auth) AS BIGINT) AS s
             FROM edges e JOIN a$k a ON a.id = e.dst GROUP BY e.src) c
           ON c.id = nd.id),
         h$k AS MATERIALIZED (SELECT id, CASE WHEN (SELECT MAX(raw) FROM hr$k) > 0
             THEN CAST((raw * $S) // (SELECT MAX(raw) FROM hr$k) AS BIGINT)
             ELSE 0 END AS hub FROM hr$k)"""
    s"""WITH d AS (SELECT doc_id, 'h' || (doc_id % 37)::VARCHAR || '.example.com' AS src FROM documents),
       eall AS (
         SELECT src, 'h' || ((doc_id+1) % 37)::VARCHAR || '.example.com' AS dst FROM d
         UNION ALL SELECT src, 'h' || (doc_id % 7)::VARCHAR || '.example.com' FROM d
         UNION ALL SELECT src, src FROM d
         UNION ALL SELECT src, 'popular.example.org' FROM d WHERE doc_id % 3 = 0),
       edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM eall),
       nodes AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst AS id FROM edges)),
       h0 AS MATERIALIZED (SELECT id, CAST($S AS BIGINT) AS hub FROM nodes),
       ${(1 to 3).map(iter).mkString(",\n")}
       SELECT n.id AS host, a3.auth, h3.hub
       FROM nodes n JOIN a3 ON a3.id = n.id JOIN h3 ON h3.id = n.id
       ORDER BY host"""
  }

  // ---------------------------------------------------------- model scoring
  // fastText-shape hashed linear quality classifier: the weight VECTOR is a
  // table (the way a learned model arrives at corpus scale), tokens hash
  // into its feature space, score = Σ tf·w[fid]. The weights here are a
  // deterministic hash-derived stand-in — the contract under test is the
  // scoring plumbing (hashing trick, broadcast model join, tf pre-agg),
  // which is identical whatever the weights say.
  private val MlDim = 4096

  private def qMlQuality(s: SparkSession, dir: String): DataFrame = {
    val weights = s.range(0, MlDim.toLong).select(col("id").as("fid"),
      (((col("id") * lit(2654435761L)) % lit(P)) % 2001L - 1000L).as("w"))
    QualityModel.scoreHashed(docs(s, dir), "doc_id", "text",
        weights, MlDim, hash = ph)
      .orderBy("doc_id")
  }

  private val oMlQuality =
    s"""WITH wts AS (SELECT i AS fid, ((i * 2654435761) % $P) % 2001 - 1000 AS w
               FROM generate_series(0, ${MlDim - 1}) t(i)),
       toks AS (SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents),
       tf AS (SELECT doc_id, ('0x' || substr(md5(tok),1,15))::BIGINT % $MlDim AS fid,
                count(*) AS tf
              FROM toks GROUP BY 1, 2)
       SELECT doc_id, CAST(SUM(tf * COALESCE(w,0)) AS BIGINT) AS score,
              CAST(SUM(tf) AS BIGINT) AS n_tokens,
              CAST(SUM(tf * COALESCE(w,0)) AS BIGINT) > 0 AS keep
       FROM tf LEFT JOIN wts USING (fid) GROUP BY doc_id ORDER BY doc_id"""

  // ------------------------------------------------- quality-filter eval
  // The third eval harness next to q_ann_recall / q_dedup_eval: the 2×2
  // agreement matrix between the learned hashed-linear verdict and the
  // rule-based Gopher gate — the sample-scale measurement that calibrates
  // a model threshold against the rules it is meant to replace. Both
  // verdicts recomputed end-to-end in the oracle, so the eval cannot pass
  // by luck: a regression in EITHER gate moves cells.
  private def qQualityEval(s: SparkSession, dir: String): DataFrame = {
    val weights = s.range(0, MlDim.toLong).select(col("id").as("fid"),
      (((col("id") * lit(2654435761L)) % lit(P)) % 2001L - 1000L).as("w"))
    val ml = QualityModel.scoreHashed(docs(s, dir), "doc_id", "text",
        weights, MlDim, hash = ph)
      .select(col("doc_id"), col("keep").as("ml_keep"))
    val gg = CorpusSignals.gopherGate(docs(s, dir), "doc_id", "text")
      .select(col("id").as("doc_id"), col("keep").as("gopher_keep"))
    ml.join(gg, "doc_id")
      .groupBy("ml_keep", "gopher_keep")
      .agg(count(lit(1)).as("n"))
      .orderBy("ml_keep", "gopher_keep")
  }

  private val oQualityEval =
    s"""WITH wts AS (SELECT i AS fid, ((i * 2654435761) % $P) % 2001 - 1000 AS w
               FROM generate_series(0, ${MlDim - 1}) t(i)),
       toks AS (SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents),
       tf AS (SELECT doc_id, ('0x' || substr(md5(tok),1,15))::BIGINT % $MlDim AS fid,
                count(*) AS tf
              FROM toks GROUP BY 1, 2),
       ml AS (SELECT doc_id, CAST(SUM(tf * COALESCE(w,0)) AS BIGINT) > 0 AS ml_keep
              FROM tf LEFT JOIN wts USING (fid) GROUP BY doc_id),
       gg AS (SELECT doc_id,
           ((nt BETWEEN 50 AND 100000)
            AND (mtl >= 3.0 AND mtl <= 10.0)
            AND (sh >= 2)
            AND (CASE WHEN nt < 2 THEN true
              ELSE ((len(g2) - len(list_distinct(g2)))::DOUBLE / len(g2)) <= 0.3 END)) AS gopher_keep
         FROM (SELECT doc_id, len(t) AS nt,
             list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t) AS mtl,
             len(list_filter(t, x -> list_contains(['the','a','an','of','and','to','in','is','it','for'], x))) AS sh,
             list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1]) AS g2
           FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents)))
       SELECT ml.ml_keep, gg.gopher_keep, count(*) AS n
       FROM ml JOIN gg USING (doc_id)
       GROUP BY 1, 2 ORDER BY 1, 2"""

  // CCNet-shape bigram LM scoring: train add-one-smoothed bigram counts on
  // a hash-sampled trusted subset, score every document with the integer
  // rational floor(1e6·(c2+1)/(c1+V)) per bigram — transcendental-free so
  // the sum is order-insensitive and the oracle replays it exactly.
  private def qLmScore(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    QualityModel.lmScore(d, Sampling.hashSample(d, "doc_id", 0.25, salt = "lm"),
        "doc_id", "text")
      .orderBy("doc_id")
  }

  private val oLmScore =
    """WITH ref AS (SELECT * FROM documents
               WHERE ('0x' || substr(md5(doc_id::VARCHAR || 'lm'),1,15))::BIGINT % 1000000 < 250000),
       rt AS (SELECT doc_id, str_split(text,' ') AS ts FROM ref),
       dt AS (SELECT doc_id, str_split(text,' ') AS ts FROM documents),
       c1 AS (SELECT tok AS w1, count(*) AS c1 FROM (SELECT unnest(ts) AS tok FROM rt) GROUP BY 1),
       vv AS (SELECT count(*) AS v FROM c1),
       bgr AS (SELECT b.w1 AS w1, b.w2 AS w2 FROM (
                SELECT unnest(list_transform(generate_series(1, len(ts)-1),
                       i -> struct_pack(w1 := ts[i], w2 := ts[i+1]))) AS b FROM rt)),
       c2 AS (SELECT w1, w2, count(*) AS c2 FROM bgr GROUP BY 1,2),
       bgd AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
                SELECT doc_id, unnest(list_transform(generate_series(1, len(ts)-1),
                       i -> struct_pack(w1 := ts[i], w2 := ts[i+1]))) AS b FROM dt)),
       sc AS (SELECT d.doc_id,
               (1000000 * (COALESCE(c2.c2,0)+1)) // (COALESCE(c1.c1,0) + (SELECT v FROM vv)) AS s
              FROM bgd d LEFT JOIN c2 USING (w1,w2) LEFT JOIN c1 USING (w1))
       SELECT doc_id, CAST(SUM(s) AS BIGINT) AS lm_sum, count(*) AS n_bigrams,
              CAST(SUM(s) AS BIGINT) // count(*) AS lm_avg
       FROM sc GROUP BY doc_id ORDER BY doc_id"""

  // --------------------------------------------------------------- source mix
  // Mixture assembly: downsample over-weighted sources so token mass
  // matches a target weight vector (weight of srcK = K mod 5 — weight-0
  // sources drop entirely). Exact integer threshold arithmetic; tokens hit
  // targets in expectation (hash sampling is doc-granular, see Scaladoc).
  private def qMix(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("toks"))
    val weights = (0 until 20).map(i => s"src$i" -> (i % 5).toLong).toMap
    Sampling.mixByTokenBudget(d, "doc_id", "toks", "source", weights,
        salt = "mix", hash = ph)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      .orderBy("source")
  }

  private val oMix =
    """WITH d AS (SELECT doc_id, source, len(str_split(text, ' '))::BIGINT AS toks FROM documents),
       w AS (SELECT source, (substr(source, 4)::BIGINT % 5) AS w
             FROM (SELECT DISTINCT source FROM d)),
       tot AS (SELECT d.source, CAST(SUM(toks) AS BIGINT) AS tok, any_value(w.w) AS w
               FROM d JOIN w USING (source) WHERE w.w > 0 GROUP BY d.source),
       thr AS (SELECT source,
                 least(1000000,
                   (((w * (SELECT CAST(SUM(tok) AS BIGINT) FROM tot))
                     // (SELECT CAST(SUM(w) AS BIGINT) FROM tot)) * 1000000) // tok) AS thr
               FROM tot)
       SELECT d.source, count(*) AS n_docs, CAST(SUM(d.toks) AS BIGINT) AS n_tokens
       FROM d JOIN thr USING (source)
       WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || 'mix'), 1, 15))::BIGINT % 1000000 < thr.thr
       GROUP BY d.source ORDER BY d.source"""

  // ----------------------------------------------------------------- z-order
  // Morton z-value over two quantized dimensions — the data-layout key for
  // multi-column row-group pruning. Pure bit arithmetic, exact both sides;
  // the layout effect itself (tight per-file ranges on EVERY interleaved
  // column) is pinned in ZOrderSpec.
  private def qZorder(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
        graft.ops.ZOrder.zValue(
          Seq(pmod(col("doc_id"), lit(256L)), pmod(col("n_chars"), lit(256L))),
          bits = 8).as("z"))
      .orderBy("doc_id")

  private val oZorder =
    """SELECT doc_id,
         CAST(list_sum(list_transform(generate_series(0, 7), b ->
           ((((doc_id % 256) >> b) & 1) << (2*b))
           + ((((n_chars % 256) >> b) & 1) << (2*b + 1)))) AS BIGINT) AS z
       FROM documents ORDER BY doc_id"""

  // ------------------------------------------------------------ WARC e2e
  // Container roundtrip through the Common Crawl interchange format: stage
  // the documents corpus as multi-member .warc.gz files (one file per task,
  // one gzip member per record, HTTP/1.1 block per payload — the CC layout),
  // then parse them back with the streaming record iterator and emit per-url
  // payload fidelity (byte length + 60-bit md5). The oracle recomputes both
  // from the parquet table directly, so a single corrupted byte anywhere in
  // write → gzip → member split → header parse → HTTP strip flips the hash.
  private def qWarcExtract(s: SparkSession, dir: String): DataFrame = {
    val warcDir = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_q_warc_" + Integer.toHexString(dir.hashCode)).toString
    val pages = docs(s, dir).select(
      concat(lit("https://site"), pmod(col("doc_id"), lit(7)).cast("string"),
        lit(".example/doc/"), col("doc_id").cast("string")).as("url"),
      encode(concat(lit("<html><body><p>"), col("text"),
        lit("</p></body></html>")), "UTF-8").as("payload"))
    graft.sources.Warc.writeResponses(pages, warcDir, files = 4)
    graft.sources.Warc.readPages(s, warcDir)
      .select(col("url"),
        length(col("html")).cast("long").as("body_len"),
        conv(substring(md5(col("html")), 1, 15), 16, 10).cast("long").as("body_h"))
      .orderBy("url")
  }

  private val oWarcExtract =
    """SELECT 'https://site' || (doc_id % 7)::VARCHAR || '.example/doc/' || doc_id::VARCHAR AS url,
         CAST(octet_length(encode('<html><body><p>' || text || '</p></body></html>')) AS BIGINT) AS body_len,
         ('0x' || substr(md5('<html><body><p>' || text || '</p></body></html>'), 1, 15))::BIGINT AS body_h
       FROM documents ORDER BY url"""

  // WET e2e: conversion records (plain text, no HTTP block) written and
  // read back through the same streaming iterator — the WET half of the
  // CC triad made driver-visible like q_warc_extract did for WARC. Text
  // fidelity pinned by char count + 60-bit md5.
  private def qWetExtract(s: SparkSession, dir: String): DataFrame = {
    val wetDir = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_q_wet_" + Integer.toHexString(dir.hashCode)).toString
    val pages = docs(s, dir).select(
      concat(lit("https://site"), pmod(col("doc_id"), lit(7)).cast("string"),
        lit(".example/doc/"), col("doc_id").cast("string")).as("url"),
      col("text"))
    graft.sources.Warc.writeConversions(pages, wetDir, files = 4)
    graft.sources.Warc.readWet(s, wetDir)
      .select(col("url"),
        length(col("text")).cast("long").as("text_chars"),
        conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long").as("text_h"))
      .orderBy("url")
  }

  private val oWetExtract =
    """SELECT 'https://site' || (doc_id % 7)::VARCHAR || '.example/doc/' || doc_id::VARCHAR AS url,
         CAST(length(text) AS BIGINT) AS text_chars,
         ('0x' || substr(md5(text), 1, 15))::BIGINT AS text_h
       FROM documents ORDER BY url"""

  // WAT e2e: metadata records carrying the CC JSON envelope (Envelope →
  // Payload-Metadata → HTTP-Response-Metadata → HTML-Metadata → Links),
  // built with to_json, written, and read back through readWat's codegen'd
  // from_json path — one corrupted brace or hyphenated field name anywhere
  // kills rows. Two arithmetic links per doc (one absolute, one relative).
  private def qWatExtract(s: SparkSession, dir: String): DataFrame = {
    val watDir = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_q_wat_" + Integer.toHexString(dir.hashCode)).toString
    val links = array(
      concat(lit("https://h"), pmod(col("doc_id") + 1, lit(37)).cast("string"),
        lit(".example.com/doc/"), pmod(col("doc_id") * 7, lit(1000)).cast("string")),
      concat(lit("/rel/"), col("doc_id").cast("string")))
    val pages = docs(s, dir).select(
      concat(lit("https://site"), pmod(col("doc_id"), lit(7)).cast("string"),
        lit(".example/doc/"), col("doc_id").cast("string")).as("url"),
      to_json(struct(struct(struct(struct(struct(
        transform(links, u => struct(u.as("url"))).as("Links"))
        .as("HTML-Metadata")).as("HTTP-Response-Metadata"))
        .as("Payload-Metadata")).as("Envelope"))).as("wat_json"))
    graft.sources.Warc.writeMetadata(pages, watDir, files = 4)
    graft.sources.Warc.readWat(s, watDir)
      .select(col("url"), col("href"))
      .orderBy("url", "href")
  }

  private val oWatExtract =
    """WITH d AS (SELECT doc_id,
           'https://site' || (doc_id % 7)::VARCHAR || '.example/doc/' || doc_id::VARCHAR AS url
         FROM documents)
       SELECT url, href FROM (
         SELECT url, 'https://h' || ((doc_id + 1) % 37)::VARCHAR ||
           '.example.com/doc/' || ((doc_id * 7) % 1000)::VARCHAR AS href FROM d
         UNION ALL
         SELECT url, '/rel/' || doc_id::VARCHAR FROM d)
       ORDER BY url, href"""

  // ------------------------------------------------------------- reg. domain
  // Public-suffix registered-domain extraction over a host mix that
  // exercises all three branches: plain .com/.org (suffix+1), two-label
  // suffixes (co.uk, com.au → suffix+1 = THREE labels), and bare 2-label
  // hosts passing through.
  private def qRegDomain(s: SparkSession, dir: String): DataFrame = {
    val m4 = pmod(col("doc_id"), lit(4))
    val host =
      when(m4 === 0, concat(lit("a"), pmod(col("doc_id"), lit(5)).cast("string"),
        lit(".example.com")))
        .when(m4 === 1, concat(lit("s"), pmod(col("doc_id"), lit(5)).cast("string"),
          lit(".shop.co.uk")))
        .when(m4 === 2, lit("example.org"))
        .otherwise(concat(lit("x.y"), pmod(col("doc_id"), lit(3)).cast("string"),
          lit(".com.au")))
    docs(s, dir).select(col("doc_id"), host.as("host"))
      .withColumn("reg_domain", CorpusSignals.registeredDomain(col("host")))
      .orderBy("doc_id")
  }

  private val oRegDomain: String = {
    val suf = CorpusSignals.MultiLabelSuffixes.map(s => s"'$s'").mkString(", ")
    s"""WITH h AS (SELECT doc_id,
           CASE WHEN doc_id % 4 = 0 THEN 'a' || (doc_id % 5)::VARCHAR || '.example.com'
                WHEN doc_id % 4 = 1 THEN 's' || (doc_id % 5)::VARCHAR || '.shop.co.uk'
                WHEN doc_id % 4 = 2 THEN 'example.org'
                ELSE 'x.y' || (doc_id % 3)::VARCHAR || '.com.au' END AS host
         FROM documents),
       p AS (SELECT doc_id, host, str_split(host, '.') AS ts FROM h)
       SELECT doc_id, host,
         CASE WHEN len(ts) <= 2 THEN host
              WHEN (ts[-2] || '.' || ts[-1]) IN ($suf)
                THEN ts[-3] || '.' || ts[-2] || '.' || ts[-1]
              ELSE ts[-2] || '.' || ts[-1] END AS reg_domain
       FROM p ORDER BY doc_id"""
  }

  // ------------------------------------------------------------- IDN hosts
  // ACE/punycode host canonicalization (RFC 3492/5890): five fixture arms —
  // mixed-case umlaut, lowercase umlaut, CJK, pure-ASCII pass-through,
  // already-ACE pass-through. The Spark side runs the hand-rolled bootstring
  // encoder (spec-pinned against RFC §7.1 vectors AND java.net.IDN); the
  // oracle states the expected ACE constants, so any encoder drift breaks
  // the hash.
  private def qIdnHost(s: SparkSession, dir: String): DataFrame = {
    val m = pmod(col("doc_id"), lit(5))
    val host = when(m === 0, lit("Bücher.Example.COM"))
      .when(m === 1, lit("münchen.de"))
      .when(m === 2, lit("日本語.jp"))
      .when(m === 3, lit("Plain.Example.ORG"))
      .otherwise(lit("xn--caf-dma.example"))
    docs(s, dir).select(col("doc_id"),
        CorpusSignals.idnHost(host).as("ace"))
      .orderBy("doc_id")
  }

  private val oIdnHost =
    """SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN 'xn--bcher-kva.example.com'
              WHEN doc_id % 5 = 1 THEN 'xn--mnchen-3ya.de'
              WHEN doc_id % 5 = 2 THEN 'xn--wgv71a119e.jp'
              WHEN doc_id % 5 = 3 THEN 'plain.example.org'
              ELSE 'xn--caf-dma.example' END AS ace
       FROM documents ORDER BY doc_id"""

  // ---------------------------------------------------------- crawl frontier
  // The crawl-scheduling composition: URL canonicalization (tracking-param /
  // fragment / default-port strip collapses the planted duplicates) → exact
  // frontier dedup keeping the first-seen doc per canonical URL →
  // registered-domain politeness grouping → per-domain top-k schedule via
  // the k-bounded heap-merge aggregate. Every stage is a kernel with its own
  // green row (q_url_canon, q_dedup_exact's keep-min shape, q_reg_domain,
  // q_topk_agg); THIS row verifies the composition. Scale shape: synthesis +
  // canon + host extraction ride the scan; ONE exchange on curl for the
  // dedup, ONE on domain carrying ≤k-entry buffers for the schedule — no
  // window over corpus-sized data anywhere.
  private def qFrontier(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    // every doc ≡ 9 (mod 10) is a tracking-param variant of doc d-9: same
    // query-string arm (9 ≡ 0 mod 3 keeps d and d-9 aligned), different
    // fragment arm — identical iff the canonicalizer strips both
    val eff = when(pmod(d, lit(10)) === 9, d - 9).otherwise(d)
    val m4 = pmod(eff, lit(4))
    val host =
      when(m4 === 0, concat(lit("a"), pmod(eff, lit(5)).cast("string"),
        lit(".Example.COM")))
        .when(m4 === 1, concat(lit("s"), pmod(eff, lit(5)).cast("string"),
          lit(".shop.co.uk")))
        .when(m4 === 2, lit("example.org"))
        .otherwise(concat(lit("x.y"), pmod(eff, lit(3)).cast("string"),
          lit(".com.au")))
    val url = concat(lit("http://"), host, lit(":80/Doc/"), eff.cast("string"),
      when(pmod(d, lit(3)) === 0, lit("?utm_source=tw&b=2&a=1&gclid=g1"))
        .when(pmod(d, lit(3)) === 1, lit("?fbclid=f9&utm_campaign=c"))
        .otherwise(lit("")),
      when(pmod(d, lit(5)) === 0, lit("#frag")).otherwise(lit("")))
    val canon = docs(s, dir)
      .select(d.as("doc_id"), col("n_chars"),
        CorpusSignals.canonUrl(url).as("curl"))
    val dedup = canon.groupBy(col("curl"))
      .agg(min(struct(col("doc_id"), col("n_chars"))).as("w"))
      .select(col("curl"), col("w.doc_id").as("doc_id"),
        col("w.n_chars").as("priority"))
    dedup
      .select(col("doc_id"), col("priority"),
        CorpusSignals.registeredDomain(
          regexp_extract(col("curl"), "://([^/:]*)", 1)).as("domain"))
      .groupBy(col("domain"))
      .agg(CorpusSignals.topKAgg(col("doc_id"), col("priority"), k = 8).as("t"))
      .select(col("domain"), posexplode(col("t")))
      .select(col("domain"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("doc_id"), col("col.score").as("priority"))
      .orderBy("domain", "rank")
  }

  private val oFrontier: String = {
    val track = "^(utm_[^=]*|fbclid|gclid)(=.*)?$"
    val suf = CorpusSignals.MultiLabelSuffixes.map(s => s"'$s'").mkString(", ")
    s"""WITH e AS (
         SELECT doc_id, n_chars,
           CASE WHEN doc_id % 10 = 9 THEN doc_id - 9 ELSE doc_id END AS eff
         FROM documents),
       u AS (
         SELECT doc_id, n_chars,
           'http://' ||
           (CASE WHEN eff % 4 = 0 THEN 'a' || (eff % 5)::VARCHAR || '.Example.COM'
                 WHEN eff % 4 = 1 THEN 's' || (eff % 5)::VARCHAR || '.shop.co.uk'
                 WHEN eff % 4 = 2 THEN 'example.org'
                 ELSE 'x.y' || (eff % 3)::VARCHAR || '.com.au' END) ||
           ':80/Doc/' || eff::VARCHAR ||
           (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=tw&b=2&a=1&gclid=g1'
                 WHEN doc_id % 3 = 1 THEN '?fbclid=f9&utm_campaign=c' ELSE '' END) ||
           (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
         FROM e),
       parts AS (
         SELECT doc_id, n_chars,
           lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS proto,
           lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth0,
           regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
           coalesce(list_aggregate(list_sort(list_filter(
             str_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
             x -> x <> '' AND NOT regexp_matches(x, '$track'))), 'string_agg', '&'), '') AS cq
         FROM u),
       c AS (
         SELECT doc_id, n_chars,
           proto || '://' ||
           (CASE WHEN proto = 'http' THEN regexp_replace(auth0, ':80$$', '')
                 WHEN proto = 'https' THEN regexp_replace(auth0, ':443$$', '')
                 ELSE auth0 END) || path ||
           (CASE WHEN cq = '' THEN '' ELSE '?' || cq END) AS curl
         FROM parts),
       ded AS (
         SELECT curl, min(doc_id) AS doc_id, arg_min(n_chars, doc_id) AS priority
         FROM c GROUP BY curl),
       p AS (
         SELECT doc_id, priority, host, str_split(host, '.') AS ts
         FROM (SELECT doc_id, priority,
                 regexp_extract(curl, '://([^/:]*)', 1) AS host FROM ded)),
       dom AS (
         SELECT doc_id, priority,
           CASE WHEN len(ts) <= 2 THEN host
                WHEN (ts[-2] || '.' || ts[-1]) IN ($suf)
                  THEN ts[-3] || '.' || ts[-2] || '.' || ts[-1]
                ELSE ts[-2] || '.' || ts[-1] END AS domain
         FROM p),
       r AS (
         SELECT domain, doc_id, priority,
           row_number() OVER (PARTITION BY domain
                              ORDER BY priority DESC, doc_id) AS rank
         FROM dom)
       SELECT domain, rank::BIGINT AS rank, doc_id, priority
       FROM r WHERE rank <= 8 ORDER BY domain, rank"""
  }

  // -------------------------------------------------------------- crawl diff
  // Snapshot delta: prev is missing every 10th doc (→ added in curr), curr
  // is missing doc_id ≡ 3 (mod 10) (→ removed), docs ≡ 0 (mod 7) carry
  // modified text (→ changed, unless already added/removed — the CASE
  // order is part of the contract and mirrored in the oracle).
  private def qCrawlDiff(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val prev = d.where(pmod(col("doc_id"), lit(10)) =!= 0)
      .select(col("doc_id"), col("text"))
    val curr = d.where(pmod(col("doc_id"), lit(10)) =!= 3)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
    Incremental.crawlDiff(prev, curr, "doc_id", "text").orderBy("doc_id")
  }

  private val oCrawlDiff =
    """WITH p AS (SELECT doc_id, md5(text) AS hp FROM documents WHERE doc_id % 10 <> 0),
       c AS (SELECT doc_id,
               md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS hc
             FROM documents WHERE doc_id % 10 <> 3)
       SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
         CASE WHEN p.doc_id IS NULL THEN 'added'
              WHEN c.doc_id IS NULL THEN 'removed'
              WHEN hp = hc THEN 'unchanged' ELSE 'changed' END AS status
       FROM p FULL OUTER JOIN c ON p.doc_id = c.doc_id
       ORDER BY doc_id"""

  // ----------------------------------------------------------- crawl upsert
  // Latest-wins MERGE: every even doc gets a re-fetch whose timestamp is
  // newer (≡0 mod 6: update wins), equal (≡4 mod 6: ts tie → updates-side
  // wins by contract), or older (≡2 mod 6: base survives). The oracle
  // replays the same precedence with an explicit (ts DESC, src DESC)
  // window rank.
  private def qUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"),
      (col("doc_id") * 7 % 1000).as("ts"),
      substring(col("text"), 1, 40).as("payload"))
    val delta = when(pmod(col("doc_id"), lit(6)) === 0, 100L)
      .when(pmod(col("doc_id"), lit(6)) === 4, 0L)
      .otherwise(-100L)
    val updates = base.where(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id"), (col("ts") + delta).as("ts"),
        concat(lit("v2:"), col("payload")).as("payload"))
    Incremental.upsertLatest(base, updates, "doc_id", "ts").orderBy("doc_id")
  }

  private val oUpsert =
    """WITH base AS (SELECT doc_id, doc_id * 7 % 1000 AS ts,
           substr(text, 1, 40) AS payload, 0 AS src FROM documents),
       upd AS (SELECT doc_id,
           ts + CASE WHEN doc_id % 6 = 0 THEN 100
                     WHEN doc_id % 6 = 4 THEN 0 ELSE -100 END AS ts,
           'v2:' || payload AS payload, 1 AS src
         FROM base WHERE doc_id % 2 = 0),
       u AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
       r AS (SELECT doc_id, ts, payload,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY ts DESC, src DESC) AS rn
             FROM u)
       SELECT doc_id, CAST(ts AS BIGINT) AS ts, payload
       FROM r WHERE rn = 1 ORDER BY doc_id"""

  // ------------------------------------------------------------------ robots
  // RFC 9309 longest-match decision over a synthesized per-host rules
  // table: every host disallows /doc/ on hosts ≡ 0 (mod 3), and a longer
  // /doc/1 Allow overrides for paths starting with '1' — so the decision
  // exercises both the longest-match rule and the no-match default.
  private def qRobots(s: SparkSession, dir: String): DataFrame = {
    val pages = docs(s, dir).select(col("doc_id"),
      concat(lit("https://h"), pmod(col("doc_id"), lit(37)).cast("string"),
        lit(".example.com/doc/"), col("doc_id").cast("string")).as("url"))
    val hostCol = concat(lit("h"), col("id").cast("string"), lit(".example.com"))
    val rules = s.range(0, 37)
      .select(hostCol.as("host"), lit("/doc/").as("prefix"),
        (pmod(col("id"), lit(3)) =!= 0).as("allow"))
      .union(s.range(0, 37)
        .select(hostCol.as("host"), lit("/doc/1").as("prefix"), lit(true).as("allow")))
    graft.ops.Robots.allowedDecision(pages, "url", rules)
      .select(col("doc_id"), col("allowed"))
      .orderBy("doc_id")
  }

  private val oRobots =
    """WITH u AS (SELECT doc_id, 'h' || (doc_id % 37)::VARCHAR || '.example.com' AS host,
                '/doc/' || doc_id::VARCHAR AS path FROM documents),
       r AS (
         SELECT 'h' || i::VARCHAR || '.example.com' AS host, '/doc/' AS prefix,
                (i % 3 <> 0) AS allow FROM generate_series(0, 36) t(i)
         UNION ALL
         SELECT 'h' || i::VARCHAR || '.example.com', '/doc/1', true
         FROM generate_series(0, 36) t(i)),
       j AS (SELECT u.doc_id, coalesce(len(r.prefix), -1) AS l,
                    coalesce(r.allow, true) AS a
             FROM u LEFT JOIN r ON r.host = u.host AND starts_with(u.path, r.prefix)),
       rk AS (SELECT doc_id, a,
                row_number() OVER (PARTITION BY doc_id ORDER BY l DESC, a DESC) AS rn
              FROM j)
       SELECT doc_id, a AS allowed FROM rk WHERE rn = 1 ORDER BY doc_id"""

  // ---------------------------------------------------------- robots directives
  // Sitemap: directives (group-independent, case-insensitive key, document
  // order) and Crawl-delay (winning-group-only: the * group's 99 must NOT
  // leak into the graftbot decision; unparseable values ignored) from
  // synthesized robots.txt bodies. Agent "graftbot" matches the mixed-case
  // "GraftBot" token at specificity 8.
  private def qRobotsDirectives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bodies = docs(s, dir).select(col("doc_id")).as[Long]
      .map { id =>
        val h = s"https://h${id % 37}.example.com"
        val delayLine =
          if (id % 3 == 0)
            (if (id % 5 == 0) "Crawl-delay: fast\n" // unparseable → ignored
             else s"Crawl-delay: ${id % 7 + 1}\n")
          else ""
        val sm2 =
          if (id % 2 == 0) s"sitemap: $h/s2.xml\n" else ""
        val body =
          s"""# robots for host ${id % 37}
             |Sitemap: $h/sitemap.xml
             |User-agent: GraftBot
             |$delayLine Disallow: /tmp/
             |$sm2 User-agent: *
             |Crawl-delay: 99
             |Allow: /
             |""".stripMargin
        (id, body)
      }.toDF("doc_id", "body")
    graft.ops.Robots.directives(bodies, "doc_id", "body", "graftbot")
      .orderBy("doc_id")
  }

  private val oRobotsDirectives =
    """SELECT doc_id,
         'https://h' || (doc_id % 37)::VARCHAR || '.example.com/sitemap.xml'
           || CASE WHEN doc_id % 2 = 0
                THEN '|https://h' || (doc_id % 37)::VARCHAR || '.example.com/s2.xml'
                ELSE '' END AS sitemaps,
         CASE WHEN doc_id % 3 = 0 AND doc_id % 5 <> 0 THEN doc_id % 7 + 1
              ELSE -1 END AS crawl_delay
       FROM documents ORDER BY doc_id"""

  // --------------------------------------------------------------- mix epochs
  // Upsampling mixture: the same weight vector as q_mix but with whole
  // epochs — source s appears copies_s (+1 for the hash-selected
  // fractional remainder) times. The oracle recomputes per-doc copy counts
  // arithmetically; the aggregate compares row and token mass per source.
  private def qMixEpochs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("toks"))
    val weights = (0 until 20).map(i => s"src$i" -> (i % 5).toLong).toMap
    Sampling.mixEpochs(d, "doc_id", "toks", "source", weights, salt = "mixe",
        hash = ph)
      .groupBy("source")
      .agg(count(lit(1)).as("n_rows"), sum(col("toks")).as("n_tokens"))
      .orderBy("source")
  }

  private val oMixEpochs =
    """WITH d AS (SELECT doc_id, source, len(str_split(text, ' '))::BIGINT AS toks FROM documents),
       w AS (SELECT source, (substr(source, 4)::BIGINT % 5) AS w
             FROM (SELECT DISTINCT source FROM d)),
       tot AS (SELECT d.source, CAST(SUM(toks) AS BIGINT) AS tok, any_value(w.w) AS w
               FROM d JOIN w USING (source) WHERE w.w > 0 GROUP BY d.source),
       thr AS (SELECT source,
                 ((w * (SELECT CAST(SUM(tok) AS BIGINT) FROM tot))
                  // (SELECT CAST(SUM(w) AS BIGINT) FROM tot)) AS target, tok
               FROM tot),
       cr AS (SELECT source, target // tok AS copies,
                     ((target % tok) * 1000000) // tok AS rem FROM thr),
       n AS (SELECT d.source, d.toks,
               cr.copies + CASE WHEN ('0x' || substr(md5(d.doc_id::VARCHAR || 'mixe'), 1, 15))::BIGINT % 1000000 < cr.rem
                           THEN 1 ELSE 0 END AS n
             FROM d JOIN cr USING (source))
       SELECT source, CAST(SUM(n) AS BIGINT) AS n_rows,
              CAST(SUM(n * toks) AS BIGINT) AS n_tokens
       FROM n WHERE n > 0 GROUP BY source ORDER BY source"""

  // --------------------------------------------------------------------- BPE
  // Distributed BPE merge training (k=8) + corpus tokenization with the
  // learned pieces. The oracle replays the Sennrich algorithm with the
  // SAME determinism contract (frequency then lexicographic tie-break,
  // left-to-right non-overlapping rewrite) via k unrolled list_reduce
  // rounds — the fold is expressible in DuckDB 1.0, so even this stateful
  // iterative operator gets a full value-level oracle.
  private val BpeK = 8

  private def qBpe(s: SparkSession, dir: String): DataFrame =
    Bpe.trainMerges(docs(s, dir), "text", BpeK)._1.orderBy("round")

  // Production-merge-count path: 64 merges in 8 batched rounds (top-8
  // symbol-disjoint pairs per round — count staleness within a batch is the
  // standard batched-BPE tradeoff, pinned in BpeSpec). Rows-only by
  // contract: the oracle CTE unroll replays EXACT sequential BPE and k=64
  // would need 64 unrolled CTEs; the batch=1 path stays oracle-pinned via
  // q_bpe, and batch semantics are spec-pinned.
  private def qBpe64(s: SparkSession, dir: String): DataFrame =
    Bpe.trainMerges(docs(s, dir), "text", 64, batch = 8)._1.orderBy("round")

  private def qBpeTokens(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val seg = Bpe.trainMerges(d, "text", BpeK)._2
    Bpe.tokenize(d, "doc_id", "text", seg)
      .select(col("doc_id"), col("n_tokens"), md5(col("tokens")).as("toks_md5"))
      .orderBy("doc_id")
  }

  /** Shared CTE chain: v0 (char-split vocab) then k rounds of (m_r top-1
    * merge, v_r rewritten segmentation).
    */
  private def bpeCtes(k: Int): String = {
    val rounds = (1 to k).map { r =>
      s"""m$r AS (
           SELECT l, rr, f FROM (
             SELECT b.l AS l, b.rr AS rr, CAST(SUM(n) AS BIGINT) AS f
             FROM (SELECT n, unnest(list_transform(generate_series(1, len(ss)-1),
                    i -> struct_pack(l := ss[i], rr := ss[i+1]))) AS b FROM v${r - 1})
             GROUP BY 1, 2)
           ORDER BY f DESC, l, rr LIMIT 1),
         v$r AS (
           SELECT word, n,
             list_reduce([CAST([] AS VARCHAR[])] || list_transform(ss, s -> [s]),
               (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m.l AND x[1] = m.rr
                           THEN acc[1:len(acc)-1] || [m.l || m.rr]
                           ELSE acc || x END) AS ss
           FROM v${r - 1}, m$r m)"""
    }
    s"""v0 AS (
         SELECT word, count(*)::BIGINT AS n,
                str_split(word, '') || ['</w>'] AS ss
         FROM (SELECT unnest(str_split(text, ' ')) AS word FROM documents)
         WHERE len(word) > 0 GROUP BY word),
       ${rounds.mkString(",\n")}"""
  }

  private val oBpe: String = {
    val sel = (1 to BpeK)
      .map(r => s"SELECT $r AS round, l, rr, f FROM m$r").mkString(" UNION ALL ")
    s"""WITH ${bpeCtes(BpeK)}
       SELECT CAST(round AS BIGINT) AS round, l AS "left", rr AS "right", f AS freq
       FROM ($sel) ORDER BY round"""
  }

  private val oBpeTokens: String =
    s"""WITH ${bpeCtes(BpeK)},
       dt AS (SELECT doc_id, str_split(text, ' ') AS ts FROM documents),
       dw AS (SELECT doc_id, unnest(generate_series(1, len(ts))) AS pos,
                     unnest(ts) AS word FROM dt)
       SELECT d.doc_id, CAST(SUM(len(v.ss)) AS BIGINT) AS n_tokens,
              md5(string_agg(array_to_string(v.ss, ' '), ' ' ORDER BY d.pos)) AS toks_md5
       FROM dw d JOIN v$BpeK v USING (word)
       WHERE len(d.word) > 0
       GROUP BY d.doc_id ORDER BY d.doc_id"""

  // ------------------------------------------------------------- bpe → pack
  // The training-data handoff composed end-to-end: learn a BPE segmentation
  // (k=8, the oracle-pinned width), tokenize the corpus with it, and
  // sequence-pack by TRUE subword token count into 5000-token shards —
  // i.e. q_pack's bin arithmetic driven by q_bpe_tokens' counts instead of
  // whitespace word counts. One corpus scan through the tokenizer join,
  // one window cumsum per shard; the segmentation side is vocab-sized.
  private def qBpePack(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val seg = Bpe.trainMerges(d, "text", BpeK)._2
    val toks = Bpe.tokenize(d, "doc_id", "text", seg)
      .select(col("doc_id"), col("n_tokens"))
    Sampling.packBudget(
      toks.join(d.select("doc_id", "source"), Seq("doc_id")),
      "source", "doc_id", "n_tokens", budget = 5000L)
      .select("doc_id", "source", "n_tokens", "pack").orderBy("doc_id")
  }

  private val oBpePack: String =
    s"""WITH ${bpeCtes(BpeK)},
       dt AS (SELECT doc_id, str_split(text, ' ') AS ts FROM documents),
       dw AS (SELECT doc_id, unnest(ts) AS word FROM dt),
       nt AS (SELECT d.doc_id, CAST(SUM(len(v.ss)) AS BIGINT) AS n_tokens
              FROM dw d JOIN v$BpeK v USING (word)
              WHERE len(d.word) > 0 GROUP BY d.doc_id),
       j AS (SELECT nt.doc_id, documents.source, nt.n_tokens
             FROM nt JOIN documents USING (doc_id))
       SELECT doc_id, source, n_tokens,
              CAST(cb // 5000 AS BIGINT) AS pack FROM (
         SELECT doc_id, source, n_tokens,
           sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cb
         FROM j) ORDER BY doc_id"""

  // ------------------------------------------------------------------- vocab
  // Top-100 tokens by document frequency (ties by token) with term
  // frequency — the TF-IDF/stopword-induction head. TakeOrderedAndProject
  // keeps the top-k merge off a full sort.
  private def qVocab(s: SparkSession, dir: String): DataFrame =
    CorpusSignals.vocab(docs(s, dir), "doc_id", "text", topK = 100)

  private val oVocab =
    """SELECT token, count(DISTINCT doc_id) AS doc_freq, count(*) AS term_freq
       FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents)
       GROUP BY token ORDER BY doc_freq DESC, token LIMIT 100"""

  // ------------------------------------------------------------ vocab drift
  // Per-token document-frequency drift between two crawl snapshots
  // (CorpusSignals.vocabDrift) — the monitoring query a continuously
  // re-crawled corpus runs per snapshot pair. Snapshot membership here is
  // the deterministic doc_id parity cut (stand-in for a crawl-id predicate);
  // top-50 tokens by |df_b − df_a|, ties by token. All-integral outputs.
  private def qVocabDrift(s: SparkSession, dir: String): DataFrame =
    CorpusSignals.vocabDrift(docs(s, dir), "doc_id", "text",
      pmod(col("doc_id"), lit(2)) === 1, topK = 50)

  private val oVocabDrift =
    """SELECT token, df_a, df_b, df_b - df_a AS drift FROM (
         SELECT token,
           count(DISTINCT CASE WHEN doc_id % 2 = 0 THEN doc_id END) AS df_a,
           count(DISTINCT CASE WHEN doc_id % 2 = 1 THEN doc_id END) AS df_b
         FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS token
               FROM documents)
         WHERE len(token) > 0 GROUP BY token)
       ORDER BY abs(df_b - df_a) DESC, token LIMIT 50"""

  // -------------------------------------------------------------- divergence
  // Source-vs-corpus token-distribution chi-square
  // (CorpusSignals.tokenDivergence): per-token contributions in IEEE
  // doubles with the oracle-shared operation order, quantized to
  // milli-units BEFORE the sum so the aggregate is an order-independent
  // integer — the scaled-integer discipline of q_readability applied to a
  // doubly-aggregated statistic.
  private def qDivergence(s: SparkSession, dir: String): DataFrame =
    CorpusSignals.tokenDivergence(docs(s, dir), "source", "text")

  private val oDivergence =
    """WITH tok AS (SELECT source, unnest(str_split(text, ' ')) AS token
                    FROM documents),
       tf AS (SELECT source, token, CAST(count(*) AS BIGINT) AS o
              FROM tok WHERE len(token) > 0 GROUP BY source, token),
       corpus AS (SELECT token, CAST(sum(o) AS BIGINT) AS tf_c
                  FROM tf GROUP BY token),
       ns AS (SELECT source, CAST(sum(o) AS BIGINT) AS n_s
              FROM tf GROUP BY source),
       nc AS (SELECT CAST(sum(tf_c) AS BIGINT) AS n_c FROM corpus)
       SELECT source, max(n_s) AS n_tokens, count(*) AS n_types,
              CAST(sum(c) AS BIGINT) AS chi2_milli
       FROM (
         SELECT source, n_s,
           CAST(floor((od - e) * (od - e) / e * 1000.0 + 0.5) AS BIGINT) AS c
         FROM (
           SELECT tf.source, ns.n_s, CAST(o AS DOUBLE) AS od,
             CAST(tf_c AS DOUBLE) * CAST(n_s AS DOUBLE) / CAST(n_c AS DOUBLE)
               AS e
           FROM tf JOIN corpus USING (token) JOIN ns USING (source), nc))
       GROUP BY source ORDER BY source"""

  // -------------------------------------------------------------- sentences
  // Sentence segmentation (TextSegment.sentenceArray): the corpus text is
  // unpunctuated word soup, so the query first injects DETERMINISTIC
  // positional punctuation (period after every 9th token, bang after every
  // 23rd — same rule in both dialects), then segments. The marker-then-split
  // construction (capture-replace with U+001E, split, trim, drop empties)
  // is portable where lookbehind is not: RE2 (DuckDB) has no lookbehind,
  // Java does — capture groups both have. Scan-side, zero exchange.
  /** Deterministic positional punctuation over the unpunctuated corpus
    * text: period after every 9th token, bang after every 23rd — the same
    * rule the oracles spell in DuckDB. Shared by every sentence-granular
    * query (q_sentences, q_readability, q_sent_dedup).
    */
  private def punctify(text: Column): Column = {
    val ts = split(text, " ")
    array_join(transform(ts, (t, i) =>
      concat(t, when(pmod(i, lit(9)) === 8, lit(". "))
        .when(pmod(i, lit(23)) === 11, lit("! "))
        .otherwise(lit(" ")))), "")
  }

  /** The matching DuckDB rendering of [[punctify]] over a token-list
    * expression `ts` (1-based list index, hence the i-1).
    */
  private def oPunctify(ts: String): String =
    s"""array_to_string(list_transform(generate_series(1, len($ts)), i ->
          $ts[i] || CASE WHEN (i-1) % 9 = 8 THEN '. '
                         WHEN (i-1) % 23 = 11 THEN '! '
                         ELSE ' ' END), '')"""

  private def qSentences(s: SparkSession, dir: String): DataFrame = {
    TextSegment.sentences(
        docs(s, dir).where(col("doc_id") < 150)
          .select(col("doc_id"), punctify(col("text")).as("t2")),
        "doc_id", "t2")
      .select(col("doc_id"), col("sent_no").cast("long").as("sent_no"),
        col("sentence"), col("n_words").cast("long").as("n_words"))
      .orderBy("doc_id", "sent_no")
  }

  /** DuckDB rendering of [[TextSegment.sentenceArray]] over a text
    * expression: mark-then-split on chr(30), trim, drop empties.
    */
  private def oSentArray(t2: String): String =
    raw"""list_filter(list_transform(
             str_split(regexp_replace($t2, '([.!?])\s+', '\1' || chr(30), 'g'),
                       chr(30)), s -> trim(s)), s -> s <> '')"""

  private val oSentences =
    s"""WITH p AS (
         SELECT doc_id, ${oPunctify("ts")} AS t2
         FROM (SELECT doc_id, str_split(text, ' ') AS ts
               FROM documents WHERE doc_id < 150)),
       sa AS (
         SELECT doc_id, ${oSentArray("t2")} AS ss
         FROM p)
       SELECT doc_id,
         unnest(generate_series(0, len(ss) - 1)) AS sent_no,
         unnest(ss) AS sentence,
         unnest(list_transform(ss, s -> CAST(len(str_split(s, ' ')) AS BIGINT))) AS n_words
       FROM sa ORDER BY doc_id, sent_no"""

  // -------------------------------------------------------------------- oov
  // Out-of-vocabulary rate per document vs the top-100 vocabulary head
  // (TextSegment.oovRate): tokenizer-fit telemetry. The head broadcasts;
  // the token explode meets it map-side; the per-doc counts are one hash
  // aggregate. All-integral output (permille by integer division).
  private def qOov(s: SparkSession, dir: String): DataFrame =
    TextSegment.oovRate(docs(s, dir), "doc_id", "text", topK = 100)
      .orderBy("doc_id")

  private val oOov =
    """WITH tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS token
                    FROM documents),
       v AS (SELECT token FROM (
              SELECT token, count(DISTINCT doc_id) AS df
              FROM tok GROUP BY token ORDER BY df DESC, token LIMIT 100))
       SELECT t.doc_id,
         count(*) AS n_tokens,
         CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         CAST((1000 * CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT))
              // count(*) AS BIGINT) AS oov_permille
       FROM tok t LEFT JOIN v ON v.token = t.token
       GROUP BY t.doc_id ORDER BY t.doc_id"""

  // ------------------------------------------------------------------ tfidf
  // Per-document TF-IDF term head (TextSegment.tfidfTopK): top-3 tokens by
  // tf·idf with the log replaced by the scaled-integer rational
  // (N·10^6) div df — monotone in df, so the RANKING is the classic one
  // while every value stays a BIGINT (bit-stable cross-engine). df is
  // counted over the (doc, token) tf table — no countDistinct re-scan.
  private def qTfidf(s: SparkSession, dir: String): DataFrame =
    TextSegment.tfidfTopK(docs(s, dir), "doc_id", "text", k = 3)
      .where(col("doc_id") < 300)
      .orderBy("doc_id", "rank")

  private val oTfidf =
    """WITH tf AS (
         SELECT doc_id, token, count(*) AS tf
         FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS token
               FROM documents)
         GROUP BY doc_id, token),
       dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
       n AS (SELECT count(*) AS nn FROM documents),
       scored AS (
         SELECT tf.doc_id, tf.token, tf.tf, dfq.df,
           tf.tf * CAST((n.nn * 1000000) // dfq.df AS BIGINT) AS score
         FROM tf JOIN dfq USING (token) CROSS JOIN n),
       ranked AS (
         SELECT doc_id, token, tf, df, score,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, token) AS rank
         FROM scored)
       SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, tf, df,
         CAST(score AS BIGINT) AS score
       FROM ranked WHERE rank <= 3 AND doc_id < 300
       ORDER BY doc_id, rank"""

  // ------------------------------------------------------------ readability
  // Flesch / Flesch-Kincaid in scaled-integer milli-units
  // (TextSegment.readability): words+syllables from the raw token stream,
  // sentences from the punctified rendering. One scan, zero exchange,
  // all-BIGINT output.
  private def qReadability(s: SparkSession, dir: String): DataFrame =
    TextSegment.readability(
        docs(s, dir).select(col("doc_id"), col("text"),
          punctify(col("text")).as("t2")),
        "doc_id", "text", "t2")
      .orderBy("doc_id")

  private val oReadability =
    s"""WITH base AS (SELECT doc_id, str_split(text, ' ') AS ts FROM documents),
       p AS (SELECT doc_id, ts, ${oPunctify("ts")} AS t2 FROM base),
       m AS (SELECT doc_id,
           CAST(len(ts) AS BIGINT) AS n_words,
           CAST(len(${oSentArray("t2")}) AS BIGINT) AS n_sents,
           CAST(list_aggregate(list_transform(ts, w ->
             greatest(1, len(regexp_extract_all(w, '[aeiouy]+')))), 'sum')
             AS BIGINT) AS n_syll
         FROM p)
       SELECT doc_id, n_words, n_sents, n_syll,
         CAST(206835 - (1015 * n_words) // n_sents
                     - (84600 * n_syll) // n_words AS BIGINT) AS flesch_milli,
         CAST((390 * n_words) // n_sents
            + (11800 * n_syll) // n_words - 15590 AS BIGINT) AS fk_grade_milli
       FROM m WHERE n_words >= 1 AND n_sents >= 1 ORDER BY doc_id"""

  // ------------------------------------------------------------- split leak
  // Held-out-split leakage audit (Decontam.benchLeakage over a hashSplit):
  // which eval docs share word 3-grams with the training split, how many
  // distinct grams, from how many train docs. The eval split is the small
  // side and broadcasts; the train side is one scan + broadcast join.
  private def qSplitLeak(s: SparkSession, dir: String): DataFrame = {
    val parts = Sampling.hashSplit(docs(s, dir), "doc_id",
      Seq(0.9, 0.1), salt = "split")
    Decontam.benchLeakage(parts(0), parts(1), "doc_id", "text", n = 3)
      .orderBy("bench_id")
  }

  private val oSplitLeak =
    """WITH gh AS (
         SELECT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS g FROM (
           SELECT doc_id, unnest(list_distinct(list_transform(
             generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' ')))) AS gram
           FROM (SELECT doc_id, str_split(text, ' ') AS t FROM documents))),
       b AS (SELECT doc_id,
               ('0x' || substr(md5(doc_id::VARCHAR || 'split'), 1, 15))::BIGINT
                 % 1000000 AS h
             FROM documents),
       train AS (SELECT gh.doc_id, g FROM gh JOIN b USING (doc_id) WHERE b.h < 900000),
       test  AS (SELECT gh.doc_id AS bench_id, g FROM gh JOIN b USING (doc_id) WHERE b.h >= 900000)
       SELECT te.bench_id,
         count(DISTINCT te.g) AS n_grams_hit,
         count(DISTINCT tr.doc_id) AS n_train_docs,
         min(tr.doc_id) AS first_train_id
       FROM test te JOIN train tr ON te.g = tr.g
       GROUP BY te.bench_id ORDER BY bench_id"""

  // -------------------------------------------------------------- sent dedup
  // Sentence-level corpus dedup: the q_line_dedup machinery
  // (TextDedup.lineDedup — first-occurrence window on the segment hash)
  // fed by the SENTENCE segmenter instead of the fixed-width chunker. A
  // shared boilerplate sentence is prepended so every doc has a guaranteed
  // corpus-wide duplicate (the case sentence dedup exists for).
  private val SentBoiler = "all rights reserved worldwide. "

  private def qSentDedup(s: SparkSession, dir: String): DataFrame =
    TextDedup.lineDedup(
        docs(s, dir).select(col("doc_id"),
          concat(lit(SentBoiler), punctify(col("text"))).as("t2")),
        "doc_id", "t2", TextSegment.sentenceArray, sep = " ", hash = ph)
      .orderBy("doc_id")

  private val oSentDedup =
    s"""WITH p AS (
         SELECT doc_id, '$SentBoiler' || ${oPunctify("ts")} AS t2
         FROM (SELECT doc_id, str_split(text, ' ') AS ts FROM documents)),
       sa AS (SELECT doc_id, ${oSentArray("t2")} AS ss FROM p),
       sents AS (
         SELECT doc_id,
           unnest(generate_series(0, len(ss) - 1)) AS sent_no,
           unnest(ss) AS sent
         FROM sa),
       r AS (
         SELECT doc_id, sent_no, sent,
           row_number() OVER (PARTITION BY ('0x' || substr(md5(sent), 1, 15))::BIGINT
                              ORDER BY doc_id, sent_no) AS rk
         FROM sents),
       ns AS (SELECT doc_id, CAST(len(ss) AS BIGINT) AS n_s FROM sa)
       SELECT r.doc_id,
         count(*) AS n_kept,
         string_agg(sent, ' ' ORDER BY sent_no) AS text_dedup,
         ns.n_s - count(*) AS n_dropped
       FROM r JOIN ns ON ns.doc_id = r.doc_id
       WHERE rk = 1
       GROUP BY r.doc_id, ns.n_s ORDER BY r.doc_id"""

  // ---------------------------------------------------------- temporal joins
  // As-of join (Pandas merge_asof / DuckDB ASOF JOIN — Spark has no native
  // operator): each purchase picks the latest same-user error at-or-before
  // it. The right side is pre-reduced to unique (user, ts) so the tie rule
  // is deterministic in both engines.
  private def qAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = s.read.parquet(pg(dir, "events"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val errors = ev.where(col("event_type") === "error")
      .groupBy("user_id", "ts").agg(max("value").as("err_value"))
    Temporal.asofJoin(purchases, errors, "user_id", "ts", "ts", Seq("err_value"))
      .orderBy("event_id")
  }

  private val oAsof =
    """SELECT l.event_id, l.user_id, l.ts, l.value,
         r.ts AS asof_ts, r.err_value AS asof_err_value
       FROM (SELECT event_id, user_id, ts, value FROM events
             WHERE event_type = 'purchase') l
       ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS err_value FROM events
             WHERE event_type = 'error' GROUP BY user_id, ts) r
       ON l.user_id = r.user_id AND l.ts >= r.ts
       ORDER BY l.event_id"""

  // Interval containment (range join): purchases landing inside the 120 s
  // window after any error — naive BETWEEN would plan BNLJ; the op buckets
  // both sides into 60 s bins and meets in ONE equi-join. Millis arithmetic
  // is integral-exact in both engines.
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = s.read.parquet(pg(dir, "events"))
    val points = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        unix_millis(col("ts").cast("timestamp")).as("p_ms"))
    val ivs = ev.where(col("event_type") === "error")
      .select(col("event_id").as("iv_id"),
        unix_millis(col("ts").cast("timestamp")).as("s_ms"),
        (unix_millis(col("ts").cast("timestamp")) + 120000L).as("e_ms"))
    Temporal.rangeJoin(points, ivs, "p_ms", "s_ms", "e_ms", binWidth = 60000L)
      .select("p_id", "iv_id", "p_user", "p_ms", "s_ms")
      .orderBy("p_id", "iv_id")
  }

  private val oRangeJoin =
    """SELECT p.event_id AS p_id, i.event_id AS iv_id, p.user_id AS p_user,
         epoch_ms(p.ts) AS p_ms, epoch_ms(i.ts) AS s_ms
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       JOIN (SELECT * FROM events WHERE event_type = 'error') i
       ON epoch_ms(p.ts) >= epoch_ms(i.ts)
          AND epoch_ms(p.ts) <= epoch_ms(i.ts) + 120000
       ORDER BY p_id, iv_id"""

  // ------------------------------------------------------ incremental dedup
  // Bloom-accelerated EXACT first-seen filter: odd-id events whose price
  // point (floor(value·100)) never appeared among even-id events — the
  // rolling-crawl "new URLs only" primitive. The bloom is a pruning layer;
  // output semantics are a plain anti-join, which is what the oracle states.
  // floor() before the long cast: Spark's double→long cast truncates while
  // DuckDB's rounds — floor of the same IEEE double is identical in both.
  private def qIncremental(s: SparkSession, dir: String): DataFrame = {
    val ev = s.read.parquet(pg(dir, "events"))
      .withColumn("pk", floor(col("value") * 100).cast("long"))
    val seen  = ev.where(pmod(col("event_id"), lit(2)) === 0)
    val batch = ev.where(pmod(col("event_id"), lit(2)) === 1)
    Incremental.bloomAntiJoin(batch, seen, "pk",
        expectedItems = 100000L, fpp = 0.03)
      .select("event_id", "user_id", "value", "pk")
      .orderBy("event_id")
  }

  private val oIncremental =
    """WITH ev AS (SELECT *, CAST(floor(value * 100) AS BIGINT) AS pk FROM events)
       SELECT event_id, user_id, value, pk FROM ev b
       WHERE event_id % 2 = 1 AND NOT EXISTS
         (SELECT 1 FROM ev s WHERE s.event_id % 2 = 0 AND s.pk = b.pk)
       ORDER BY event_id"""

  // ============================================================ rows-only ===
  // Non-SQL-expressible operators (stateful fold P2/P3, Python-dialect
  // regexes, HTML boilerplate strip) — exercised on driver data through the
  // real parse core; correctness is pinned by the byte-golden suite instead.

  /** P2/P3/F1-F6: the construction-item fold over a deterministic item-ish
    * line synthesized per document plus the document text as context.
    */
  private def qConstructionItems(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    spread(docs(s, dir).select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val line = s"QTY: ${id % 9 + 1} EA VALVE PACKAGE MODEL VP-$id wall mounted"
        val doc = line + "\n" + text
        Construction.extractItems(doc, pageNum = 1).map { it =>
          val raw = Assemble.validateItem(it)
          (id, raw.fixtureType.getOrElse(""), raw.quantity.map(_.pyStr).getOrElse(""),
            raw.modelNumber.getOrElse(""), raw.mountingType.getOrElse(""),
            raw.lineNumber.getOrElse(-1L))
        }
      }
      .toDF("doc_id", "fixture_type", "quantity", "model_number", "mounting_type", "line_number")
      // parts are doc_id ranges in order, so a local sort is the global one
      .sortWithinPartitions("doc_id", "line_number")
  }

  /** P2/P3 as a SQL-visible UDTF: the custom Catalyst Generator
    * `extract_items` (graft.functions.ExtractItemsGenerator) driven through
    * LATERAL VIEW — one text row fans out to N item rows natively in the
    * plan (GenerateExec), like explode. Python-dialect semantics → no
    * DuckDB oracle; agreement with the golden-tested core is
    * ExtractItemsSpec (every corpus page, field-by-field).
    */
  private def qExtractItemsSql(s: SparkSession, dir: String): DataFrame = {
    graft.functions.ExtractItemsGenerator.register(s)
    docs(s, dir)
      .withColumn("doc", concat(
        lit("QTY: "), (pmod(col("doc_id"), lit(9)) + 1).cast("string"),
        lit(" EA VALVE PACKAGE MODEL VP-"), col("doc_id").cast("string"),
        lit(" wall mounted\n"), col("text")))
      .createOrReplaceTempView("docs_for_items")
    s.sql(
      """SELECT doc_id, it.fixture_type, it.quantity_int, it.quantity_str,
                it.model_number, it.mounting_type, it.line_number
         FROM docs_for_items
         LATERAL VIEW extract_items(doc, 1L) it
         ORDER BY doc_id, line_number""")
  }

  /** J1-J3: the greedy scored fuzzy merge with the deterministic fake
    * second source wired through the real construction assembly — the
    * operator is order-dependent assignment with consumption, not a
    * relational join, so correctness is pinned by the byte-golden suite
    * (LlmPipelineSpec vs the reference running the same fake source).
    */
  private def qLlmMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    spread(docs(s, dir).select(col("doc_id"), col("text"))).as[(Long, String)]
      .flatMap { case (id, text) =>
        val line = s"QTY: ${id % 9 + 1} EA VALVE PACKAGE MODEL VP-$id wall mounted"
        val pages = Vector(PageData(1L, line + "\n" + text, None, None, Nil))
        val j = Assemble.constructionResult(pages, Some(graft.core.FakeLlmParser))
        val jNo = Assemble.constructionResult(pages, None)
        val render = graft.json.Canonical.render(j)
        val renderNo = graft.json.Canonical.render(jNo)
        Seq((id, render.length.toLong, (render != renderNo),
          graft.core.FakeLlmParser.parseItems(pages.head.text).length.toLong))
      }
      .toDF("doc_id", "json_chars", "merge_changed_output", "n_fake_items")
  }

  /** F7-F12 with exact Python findall semantics (incl. the phone group
    * quirk) through graft.core.Entities.
    */
  private def qStandardEntities(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.parquet(pg(dir, "orders"))
      .withColumn("s", concat(entityText,
        lit(" call (555) 123-4567 ssn 123-45-6789")))
      .select(col("o_orderkey"), col("s")).as[(Long, String)]
      .map { case (k, text) =>
        val ents = Entities.extractEntities(text).toMap
        (k,
          ents.getOrElse("email", Nil).length.toLong,
          ents.getOrElse("phone", Nil).length.toLong,
          ents.getOrElse("date", Nil).length.toLong,
          ents.getOrElse("phone", Nil).headOption.getOrElse(""),
          ents.getOrElse("ssn", Nil).length.toLong)
      }
      .toDF("o_orderkey", "n_emails", "n_phones", "n_dates", "first_phone", "n_ssns")
      .orderBy("o_orderkey").limit(2000)
  }

  /** The custom Catalyst Expression py_findall (Python findall semantics,
    * graft.functions.PyFindAll) driven through SQL — entity counts with the
    * group quirk intact. Python-dialect semantics → no DuckDB oracle;
    * agreement with the golden-tested core is PyFindAllSpec.
    */
  private def qPyFindall(s: SparkSession, dir: String): DataFrame = {
    graft.functions.PyFindAll.register(s)
    s.read.parquet(pg(dir, "orders"))
      .withColumn("s", concat(entityText, lit(" tel (555) 123-4567")))
      .selectExpr(
        "o_orderkey",
        raw"size(py_findall(s, '\\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Z|a-z]{2,}\\b')) AS n_emails",
        // findall returns the group-1 values (often '') — joined to a scalar
        // string because the driver's pandas compare cannot sort array cells
        raw"array_join(py_findall(s, '(\\+?\\d{1,3}[-.\\s]?)?\\(?\\d{3}\\)?[-.\\s]?\\d{3}[-.\\s]?\\d{4}'), '|') AS phones",
        raw"size(py_findall(s, '\\d{1,2}[/-]\\d{1,2}[/-]\\d{2,4}')) AS n_dates")
      .orderBy("o_orderkey").limit(1000)
  }

  /** HTML boilerplate strip over deterministic HTML wrapped around each
    * document's text: nav/footer/link-farm must be removed, article kept.
    */
  private def qHtmlExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    spread(docs(s, dir).select(col("doc_id"), col("text"))).as[(Long, String)]
      .map { case (id, text) =>
        val html =
          s"""<html><head><title>d$id</title><script>var x=1;</script></head><body>
             |<nav><a href="/a">home</a> <a href="/b">about</a> <a href="/c">more</a></nav>
             |<div class="sidebar"><a href="/x">x</a> <a href="/y">y</a></div>
             |<article><p>$text</p></article>
             |<footer>copyright</footer></body></html>""".stripMargin
        val ex = Boilerplate.extract(html)
        (id, ex.text.length.toLong, ex.spans.length.toLong,
          ex.text.contains(text.take(40)),
          1.0 - ex.text.length.toDouble / html.length)
      }
      .toDF("doc_id", "extracted_chars", "n_spans", "kept_main", "strip_ratio")
  }

  /** PDF 1.5+ structural + font surface as a driver row (r5): each document
    * becomes a PDF in one of 8 physical framings — classic xref, xref
    * stream, predicted xref stream, /ObjStm, /Differences+/ToUnicode simple
    * font, Identity-H CID font, /Encrypt-ed, truncated — parsed back
    * through the production Decode path. Framings 0-5 must round-trip the
    * text byte-identically (60-bit md5 pin); 6/7 must fall back with the
    * DISTINCT error kinds (encrypted vs parse). The oracle replays the
    * expected text from the raw documents table, so any parser drift in
    * xref-stream decode, ObjStm expansion, predictor unfiltering, or font
    * decode flips the hash.
    */
  private def qPdfXrefstream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.pdf.Pdf
    val prefix = "§ déjà vu — café №42"
    spread(docs(s, dir).select(col("doc_id"), col("text"))).as[(Long, String)]
      .map { case (id, text) =>
        val chunks = if (text.isEmpty) Seq("") else text.grouped(40).toSeq
        val lines = prefix +: chunks
        val placements = lines.zipWithIndex.map { case (l, i) => (50.0, 760.0 - 12.0 * i, l) }
        val framing = (id % 8).toInt
        val bytes: Array[Byte] = framing match {
          case 0 => Pdf.writePages(Seq(Pdf.PageSpec(placements)), flate = id % 2 == 0)
          case 1 => Pdf.writePages(Seq(Pdf.PageSpec(placements)), flate = id % 2 == 0,
            framing = Pdf.Framing.XrefStream)
          case 2 => Pdf.writePages(Seq(Pdf.PageSpec(placements)), flate = id % 2 == 0,
            framing = Pdf.Framing.XrefStreamPred)
          case 3 => Pdf.writePages(Seq(Pdf.PageSpec(placements)), flate = id % 2 == 0,
            framing = Pdf.Framing.ObjStm)
          case 4 => Pdf.writeCustomFontDoc(Seq(lines), cid = false)
          case 5 => Pdf.writeCustomFontDoc(Seq(lines), cid = true)
          case 6 => // encrypted: /Encrypt injected into the trailer
            new String(Pdf.writePages(Seq(Pdf.PageSpec(placements)), flate = false),
              java.nio.charset.StandardCharsets.ISO_8859_1)
              .replace("/Root 1 0 R", "/Root 1 0 R /Encrypt 9 0 R")
              .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
          case _ => // truncated mid-file: must fall back, not crash
            val full = Pdf.writePages(Seq(Pdf.PageSpec(placements)), flate = false)
            java.util.Arrays.copyOfRange(full, 0, full.length / 3)
        }
        val dec = graft.pipeline.Decode.decode(bytes, null)
        val errKind = dec.error.map(_.takeWhile(_ != ':')).getOrElse("")
        (id, framing, dec.pages.length, errKind, dec.pages.map(_.text).mkString("\n\n"))
      }
      .toDF("doc_id", "framing", "n_pages", "err_kind", "got_text")
      .withColumn("text_h", when(col("n_pages") > 0, ph(col("got_text"))).otherwise(lit(0L)))
      .select("doc_id", "framing", "n_pages", "err_kind", "text_h")
  }

  /** Gradient fixture image of the PNG rows: pixel(x,y) = (7x + 13y +
    * 31·base) mod 251, plus `bump` at (0,0); dims (9·cw) × (7·ch) with
    * cw = 2 + base%4, ch = 2 + base%5, so the 7×9 dHash cells divide
    * evenly. Oracle twin: [[gradientCellsCtes]].
    */
  private def gradientImage(base: Long, bump: Int): graft.media.Png.Gray = {
    val w = (9 * (2 + base % 4)).toInt
    val h = (7 * (2 + base % 5)).toInt
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { px(y * w + x) = ((7L * x + 13L * y + 31L * base) % 251L).toInt; x += 1 }
      y += 1
    }
    px(0) += bump
    graft.media.Png.Gray(w, h, px)
  }

  /** DuckDB twin of [[gradientImage]]: CTE `c(doc_id, w, h, cells)` with
    * the per-cell pixel sums, for the SQL expressions `base` and `bump`
    * over `documents`.
    */
  private def gradientCellsCtes(base: String, bump: String): String =
    s"""p AS (SELECT doc_id, $base AS base, 2 + ($base) % 4 AS cw, 2 + ($base) % 5 AS ch,
           $bump AS bump FROM documents),
       c AS (SELECT doc_id, 9 * cw AS w, 7 * ch AS h,
           list_transform(generate_series(0, 62), k ->
             list_sum(list_transform(generate_series(0, cw * ch - 1), j ->
               (7 * ((k % 9) * cw + (j % cw)) + 13 * ((k // 9) * ch + (j // cw)) + 31 * base) % 251
                 + CASE WHEN k = 0 AND j = 0 THEN bump ELSE 0 END))) AS cells
         FROM p)"""

  /** REAL-pixel perceptual hash (r5): per document the gradient fixture
    * image ([[gradientImage]] with base = doc_id, no bump) is encoded as
    * an actual PNG (color type rotates gray/RGB/RGBA by id%3, scanline
    * filter rotates 0-4 by row), decoded back through the real codec, and
    * hashed with the pixel-domain dHash. The oracle
    * recomputes the hash from the closed-form pixel function, so the WHOLE
    * codec chain (chunking, zlib, all five PNG filters, luma) is verified
    * end-to-end: any byte the decoder gets wrong flips the hash. Replaces
    * nothing — q_phash keeps the opaque-byte twin for non-image payloads.
    */
  private def qPngPhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.media.Png
    spread(docs(s, dir).select(col("doc_id"))).as[Long]
      .map { id =>
        val img = gradientImage(id, bump = 0)
        val colorType = (id % 3) match { case 0 => 0; case 1 => 2; case _ => 6 }
        val bytes = Png.encodeGrayAs(img, colorType, y => y % 5)
        val back = Png.decode(bytes)
        (id, img.width.toLong, img.height.toLong, graft.ops.Multimodal.dHashImage(back))
      }
      .toDF("doc_id", "w", "h", "dhash")
  }

  private val oPngPhash =
    s"""WITH ${gradientCellsCtes("doc_id", "0")}
       SELECT doc_id, w, h, $dhashBitsSql AS dhash FROM c ORDER BY doc_id"""

  /** Image near-dup pairs over REAL PNGs: consecutive doc ids share a base
    * image (base = id/2) and the odd sibling carries a one-pixel +1 edit —
    * hamming ≤ 1 by construction, so every (2k, 2k+1) pair MUST surface
    * through the banded Hamming join over decoded-pixel dHashes. The
    * oracle recomputes hashes from the closed form and brute-forces all
    * pairs, so the banding's exactness over the real codec is what's
    * verified.
    */
  private def qPngPhashPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.media.Png
    val media = spread(docs(s, dir).select(col("doc_id"))).as[Long]
      .map { id =>
        val img = gradientImage(id / 2, bump = (id % 2).toInt)
        val colorType = (id % 3) match { case 0 => 0; case 1 => 2; case _ => 6 }
        (id, Png.encodeGrayAs(img, colorType, y => y % 5))
      }
      .toDF("id", "payload")
    graft.ops.Multimodal.imageNearDupPairs(s, media, maxHamming = 3)
      .orderBy("id_a", "id_b")
  }

  private val oPngPhashPairs = dhashPairsSql(gradientCellsCtes("doc_id // 2", "doc_id % 2"))

  // Oracle twin of qPdfXrefstream: expected text replayed straight from the
  // documents table (constant decoration line + 40-char chunking), expected
  // framing outcomes by doc_id % 8. Framings 0-5 → 1 page, text hash;
  // 6 → pdf-encrypted fallback; 7 → pdf-parse fallback.
  private val oPdfXrefstream =
    """WITH d AS (SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS framing,
         '§ déjà vu — café №42' || chr(10) ||
           array_to_string(list_transform(generate_series(0, (length(text)-1)//40),
             i -> substr(text, i*40 + 1, 40)), chr(10)) AS full_text
       FROM documents)
       SELECT doc_id, framing,
         CASE WHEN framing >= 6 THEN 0 ELSE 1 END AS n_pages,
         CASE WHEN framing = 6 THEN 'pdf-encrypted'
              WHEN framing = 7 THEN 'pdf-parse' ELSE '' END AS err_kind,
         CASE WHEN framing >= 6 THEN 0
              ELSE ('0x' || substr(md5(full_text), 1, 15))::BIGINT END AS text_h
       FROM d ORDER BY doc_id"""

  /** Flagship-envelope hash pin (r5, VERDICT r4 what's-wrong #2): the full
    * `entry()` output — per-doc canonical construction/standard JSON — is
    * reduced to per-mode (docs, Σwords, Σjson_chars, Σ ph(json) mod P).
    * DuckDB cannot re-run the construction pipeline, so the two envelope
    * rows are GOLDEN CONSTANTS pinned at the driver's contract scale
    * (sf0.01, where CORRECTNESS runs); the `corpus` row is a live oracle
    * over the input table, so a scale/corpus change shows up there as the
    * explanation rather than as a silent envelope mismatch.
    */
  private def qEntryDigest(s: SparkSession, dir: String): DataFrame = {
    val env = entry(s, dir).groupBy("mode").agg(
      count(lit(1)).as("docs"),
      sum(col("n_words")).as("sum_words"),
      sum(col("json_chars")).as("sum_json_chars"),
      sum(pmod(ph(col("extracted_json")), lit(P.toLong))).as("digest"))
    val corpus = docs(s, dir).agg(
      count(lit(1)).as("docs"),
      sum(size(split(col("text"), " "))).cast("long").as("sum_words"),
      sum(length(col("text"))).cast("long").as("sum_json_chars"),
      sum(pmod(ph(col("text")), lit(P.toLong))).as("digest"))
      .select(lit("corpus").as("mode"), col("docs"), col("sum_words"),
        col("sum_json_chars"), col("digest"))
    corpus.unionByName(env).orderBy("mode")
  }

  /** Block-constant 72×56 fixture image of the JPEG rows: each 8×8 block
    * (bx, by) is one gray level 40 + 8·((m1·bx + m2·by + 17·base) mod 22),
    * so each dHash CELL is one DCT block and adjacent cells differ by ≥ 8
    * gray levels whenever m1 mod 22 ≠ 0. Oracle twin: [[blockCellsCtes]].
    */
  private def blockImage(base: Long, m1: Long, m2: Long): graft.media.Png.Gray = {
    val px = new Array[Int](72 * 56)
    var y = 0
    while (y < 56) {
      var x = 0
      while (x < 72) {
        px(y * 72 + x) = (40L + ((m1 * (x / 8) + m2 * (y / 8) + 17L * base) % 22L) * 8L).toInt
        x += 1
      }
      y += 1
    }
    graft.media.Png.Gray(72, 56, px)
  }

  /** DuckDB twin of [[blockImage]]: CTE `c(doc_id, cells)` with one cell
    * per block, for the SQL expressions `base`, `m1`, `m2` over
    * `documents`.
    */
  private def blockCellsCtes(base: String, m1: String, m2: String): String =
    s"""p AS (SELECT doc_id, $base AS base, $m1 AS m1, $m2 AS m2 FROM documents),
       c AS (SELECT doc_id,
           list_transform(generate_series(0, 62), k ->
             40 + ((m1 * (k % 9) + m2 * (k // 9) + 17 * base) % 22) * 8) AS cells
         FROM p)"""

  /** REAL JPEG perceptual hash (r5): per document the block fixture image
    * ([[blockImage]] with base = doc_id, multipliers 37/53) is encoded as
    * an actual baseline JPEG (framing rotates pure grayscale / YCbCr 4:2:0
    * with chroma skip / grayscale with restart markers by id%3), decoded
    * through the real Huffman+IDCT path, and hashed. Flat blocks decode
    * within ±2 of the source (DC-only, quality-90 quantization), far under
    * the 8-level cell contrast, so the oracle recomputes the EXACT hash
    * from the closed form: any entropy-decode, dequant, IDCT, or
    * MCU-layout bug flips it.
    */
  private def qJpegPhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.media.Jpeg
    spread(docs(s, dir).select(col("doc_id"))).as[Long]
      .map { id =>
        val img = blockImage(id, 37L, 53L)
        val bytes = (id % 3) match {
          case 0 => Jpeg.encodeGray(img, quality = 90)
          case 1 => Jpeg.encodeGray(img, quality = 90, color420 = true)
          case _ => Jpeg.encodeGray(img, quality = 90, restartInterval = 5)
        }
        val back = Jpeg.decodeGray(bytes)
        (id, (id % 3).toInt, back.width.toLong, back.height.toLong,
          graft.ops.Multimodal.dHashImage(back))
      }
      .toDF("doc_id", "framing", "w", "h", "dhash")
  }

  private val oJpegPhash =
    s"""WITH ${blockCellsCtes("doc_id", "37", "53")}
       SELECT doc_id, CAST(doc_id % 3 AS INTEGER) AS framing,
         72::BIGINT AS w, 56::BIGINT AS h, $dhashBitsSql AS dhash
       FROM c ORDER BY doc_id"""

  /** Cross-format image near-dup (r5): docs 3k/3k+1/3k+2 share one block-
    * constant base image carried as a PNG (color type rotating, per-row
    * filters), a baseline JPEG (grayscale or 4:2:0), and a GIF (plain or
    * interlaced) respectively — and ALL THREE decodes land the identical
    * dHash (lossless PNG/GIF; JPEG's ≤±2 DC error under the 8-level cell
    * contrast), so every within-base pair MUST surface at hamming 0
    * through the same banded Hamming join that serves text simhash. THE
    * capability a byte or cryptographic hash can never provide:
    * recognizing the same picture across different encodings. Oracle
    * brute-forces all pairs from the closed-form hash.
    */
  private def qCrossFormatPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.media.{Gif, Jpeg, Png}
    val media = spread(docs(s, dir).select(col("doc_id"))).as[Long]
      .map { id =>
        val base = id / 3
        // base-dependent multipliers (mod 7 / mod 11) diversify the hash
        // family to ~1700 classes: same-base (cross-format) pairs dominate
        // instead of a 22-class quadratic pair blowup; adjacent-cell
        // contrast stays >= 8 gray levels (multiplier mod 22 is never 0)
        val img = blockImage(base, 37L + base % 7L, 53L + base % 11L)
        val payload = (id % 3) match {
          case 0 =>
            val ct = (base % 3) match { case 0 => 0; case 1 => 2; case _ => 6 }
            Png.encodeGrayAs(img, ct, y => (y + base.toInt) % 5)
          case 1 => Jpeg.encodeGray(img, quality = 90, color420 = base % 2 == 0)
          case _ => Gif.encodeGray(img, interlaced = base % 2 == 0)
        }
        (id, payload)
      }
      .toDF("id", "payload")
    graft.ops.Multimodal.imageNearDupPairs(s, media, maxHamming = 3)
      .orderBy("id_a", "id_b")
  }

  private val oCrossFormatPairs = dhashPairsSql(
    blockCellsCtes("doc_id // 3", "37 + (doc_id // 3) % 7", "53 + (doc_id // 3) % 11"))

  /** PDF document-information metadata (r5): the /Info dict — the PDF
    * analog of the HTML page_meta surface — written per doc (Title forced
    * through the UTF-16BE-with-BOM string form on odd ids, ASCII on even;
    * framing rotates all four physical layouts; /Info rides inside the
    * ObjStm when that framing packs dicts) and read back via
    * `Pdf.docInfo` + the D:-date parser. Oracle replays every field from
    * the documents table.
    */
  private def qPdfMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.pdf.Pdf
    spread(docs(s, dir).select(col("doc_id"), col("text"))).as[(Long, String)]
      .map { case (id, text) =>
        val title =
          if (id % 2 == 0) "T: " + text.take(24)
          else "№ " + text.take(24) // non-ASCII → UTF-16BE string form
        val author = s"author-${id % 7}"
        val date = f"D:${2019 + id % 6}%04d${1 + id % 12}%02d${1 + id % 27}%02d120000Z"
        val framing = (id % 4) match {
          case 0 => Pdf.Framing.Classic
          case 1 => Pdf.Framing.XrefStream
          case 2 => Pdf.Framing.XrefStreamPred
          case _ => Pdf.Framing.ObjStm
        }
        val bytes = Pdf.writePages(Seq(Pdf.PageSpec(Seq((50.0, 760.0, "body")))),
          flate = id % 2 == 0, framing = framing,
          info = Seq("Title" -> title, "Author" -> author, "CreationDate" -> date))
        val got = Pdf.docInfo(bytes)
        val ymd = got.get("CreationDate").flatMap(Pdf.infoDateYmd).getOrElse((0, 0, 0))
        (id, got.getOrElse("Title", ""), got.getOrElse("Author", ""),
          ymd._1.toLong, ymd._2.toLong, ymd._3.toLong)
      }
      .toDF("doc_id", "title", "author", "y", "m", "d")
  }

  private val oPdfMeta =
    """SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'T: ' || substr(text, 1, 24)
              ELSE '№ ' || substr(text, 1, 24) END AS title,
         'author-' || CAST(doc_id % 7 AS VARCHAR) AS author,
         (2019 + doc_id % 6)::BIGINT AS y,
         (1 + doc_id % 12)::BIGINT AS m,
         (1 + doc_id % 27)::BIGINT AS d
       FROM documents ORDER BY doc_id"""

  /** Encrypted-PDF decryption as a driver row (r5): the standard security
    * handler with an EMPTY user password (the common owner-locked case) —
    * RC4-128 through classic and ObjStm framings, AES-128 /AESV2 through an
    * xref-stream framing — must decrypt and round-trip the text
    * byte-identically; a real user password must keep the document out via
    * the DISTINCT `pdf-encrypted` fallback. Oracle replays expected text
    * from the documents table, so a key-derivation or cipher bug flips the
    * hash.
    */
  private def qPdfEncrypted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.pdf.Pdf
    spread(docs(s, dir).select(col("doc_id"), col("text"))).as[(Long, String)]
      .map { case (id, text) =>
        val chunks = if (text.isEmpty) Seq("") else text.grouped(40).toSeq
        val placements = chunks.zipWithIndex.map { case (l, i) => (50.0, 760.0 - 12.0 * i, l) }
        val spec = Seq(Pdf.PageSpec(placements))
        val mode = (id % 5).toInt
        val bytes = mode match {
          case 0 => Pdf.writePages(spec, flate = id % 2 == 0)
          case 1 => Pdf.writePages(spec, flate = id % 2 == 0,
            encrypt = Some(Pdf.EncryptSpec()))
          case 2 => Pdf.writePages(spec, flate = id % 2 == 0, framing = Pdf.Framing.ObjStm,
            encrypt = Some(Pdf.EncryptSpec()))
          case 3 => Pdf.writePages(spec, flate = id % 2 == 0, framing = Pdf.Framing.XrefStream,
            encrypt = Some(Pdf.EncryptSpec(aes = true)))
          case _ => Pdf.writePages(spec, flate = id % 2 == 0,
            encrypt = Some(Pdf.EncryptSpec(userPwd = s"pwd-$id")))
        }
        val dec = graft.pipeline.Decode.decode(bytes, null)
        val errKind = dec.error.map(_.takeWhile(_ != ':')).getOrElse("")
        (id, mode, dec.pages.length, errKind, dec.pages.map(_.text).mkString("\n\n"))
      }
      .toDF("doc_id", "mode", "n_pages", "err_kind", "got_text")
      .withColumn("text_h", when(col("n_pages") > 0, ph(col("got_text"))).otherwise(lit(0L)))
      .select("doc_id", "mode", "n_pages", "err_kind", "text_h")
  }

  private val oPdfEncrypted =
    """WITH d AS (SELECT doc_id, CAST(doc_id % 5 AS INTEGER) AS mode,
         array_to_string(list_transform(generate_series(0, (length(text)-1)//40),
           i -> substr(text, i*40 + 1, 40)), chr(10)) AS full_text
       FROM documents)
       SELECT doc_id, mode,
         CASE WHEN mode = 4 THEN 0 ELSE 1 END AS n_pages,
         CASE WHEN mode = 4 THEN 'pdf-encrypted' ELSE '' END AS err_kind,
         CASE WHEN mode = 4 THEN 0
              ELSE ('0x' || substr(md5(full_text), 1, 15))::BIGINT END AS text_h
       FROM d ORDER BY doc_id"""

  /** PDF annotation/form-field text as a driver row (r5): FreeText
    * /Contents (UTF-16BE-forced on odd ids) + a filled Widget /V per doc,
    * carried through rotating framings (ObjStm packs the annot dicts into
    * the object stream) and RC4 encryption on every 4th doc — read back
    * via `Pdf.annotations` and hash-pinned against a straight replay from
    * the documents table.
    */
  private def qPdfAnnots(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.pdf.Pdf
    spread(docs(s, dir).select(col("doc_id"), col("text"))).as[(Long, String)]
      .map { case (id, text) =>
        val note = (if (id % 2 == 1) "№ " else "") + "note: " + text.take(20)
        val field = s"v-${id % 100}"
        val framing = (id % 3) match {
          case 0 => Pdf.Framing.Classic
          case 1 => Pdf.Framing.XrefStream
          case _ => Pdf.Framing.ObjStm
        }
        val bytes = Pdf.writePages(Seq(Pdf.PageSpec(Seq((50.0, 760.0, "body")))),
          flate = id % 2 == 0, framing = framing,
          encrypt = if (id % 4 == 0) Some(Pdf.EncryptSpec()) else None,
          annots = Seq(Seq("FreeText" -> note, "Widget" -> field)))
        val got = Pdf.annotations(bytes)
        (id, got.length,
          got.map { case (p, st, tx) => s"$p/$st:$tx" }.mkString("\n"))
      }
      .toDF("doc_id", "n_annots", "ann_text")
      .withColumn("ann_h", ph(col("ann_text")))
      .select("doc_id", "n_annots", "ann_h")
  }

  private val oPdfAnnots =
    """SELECT doc_id, 2 AS n_annots,
         ('0x' || substr(md5(
           '0/FreeText:' || CASE WHEN doc_id % 2 = 1 THEN '№ ' ELSE '' END ||
           'note: ' || substr(text, 1, 20) || chr(10) ||
           '0/Widget:v-' || CAST(doc_id % 100 AS VARCHAR)), 1, 15))::BIGINT AS ann_h
       FROM documents ORDER BY doc_id"""

  // Oracle for qEntryDigest: the corpus row is recomputed live from the
  // documents table; the construction/standard rows are golden constants
  // pinned against the sf0.01 corpus the driver contract verifies at
  // (regenerate by running q_entry_digest and pasting — any envelope byte
  // change flips a digest).
  private val oEntryDigest =
    """SELECT 'corpus' AS mode, count(*)::BIGINT AS docs,
         sum(len(str_split(text, ' ')))::BIGINT AS sum_words,
         sum(length(text))::BIGINT AS sum_json_chars,
         sum(('0x' || substr(md5(text), 1, 15))::BIGINT % 1000000007)::BIGINT AS digest
       FROM documents
       UNION ALL SELECT 'construction', 500, 31665, 764806, 247542848565
       UNION ALL SELECT 'standard', 500, 27165, 531274, 260798163669
       ORDER BY mode"""

  // ================================================================== catalog
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stats" -> qStats _,
    "q_summary" -> qSummary _,
    "q_needs_ocr" -> qNeedsOcr _,
    "q_table_gate" -> qTableGate _,
    "q_preview" -> qPreview _,
    "q_combine" -> qCombine _,
    "q_entities_regex" -> qEntities _,
    "q_window_ctx" -> qWindowCtx _,
    "q_kv_events" -> qKvEvents _,
    "q_sessions" -> qSessions _,
    "q_agg_lineitem" -> qAggLineitem _,
    "q_join_orders" -> qJoinOrders _,
    "q_dedup_exact" -> qDedupExact _,
    "q_minhash_sig" -> qMinhashSig _,
    "q_minhash_pairs" -> qMinhashPairs _,
    "q_minhash_pairs_b4" -> qMinhashPairsB4 _,
    "q_simhash" -> qSimhash _,
    "q_simhash_pairs" -> qSimhashPairs _,
    "q_simhash56" -> qSimhash56 _,
    "q_simhash56_pairs" -> qSimhash56Pairs _,
    "q_dedup_clusters" -> qDedupClusters _,
    "q_sample_hash" -> qSampleHash _,
    "q_priority_sample" -> qPrioritySample _,
    "q_sample_split" -> qSampleSplit _,
    "q_sample_strata" -> qSampleStrata _,
    "q_quality_cut" -> qQualityCut _,
    "q_semdedup" -> qSemDedup _,
    "q_pack" -> qPack _,
    "q_ngram_jaccard" -> qNgramJaccard _,
    "q_containment" -> qContainment _,
    "q_soft_dedup" -> qSoftDedup _,
    "q_luhn" -> qLuhn _,
    "q_temp_mix" -> qTempMix _,
    "q_pub_date" -> qPubDate _,
    "q_mojibake" -> qMojibake _,
    "q_shuffle" -> qShuffle _,
    "q_indexable" -> qIndexable _,
    "q_novelty" -> qNovelty _,
    "q_neg_pairs" -> qNegPairs _,
    "q_phash" -> qPhash _,
    "q_phash_pairs" -> qPhashPairs _,
    "q_quality_eval" -> qQualityEval _,
    "q_truncate" -> qTruncate _,
    "q_host_rep" -> qHostRep _,
    "q_cosine_topk" -> qCosineTopK _,
    "q_ann_lsh" -> qAnnLsh _,
    "q_ann_topk" -> qAnnTopK _,
    "q_ann_recall" -> qAnnRecall _,
    "q_ivf_topk" -> qIvfTopK _,
    "q_embed_neardup" -> qEmbedNearDup _,
    "q_multimodal" -> qMultimodal _,
    "q_frame_sample" -> qFrameSample _,
    "q_lang_id" -> qLangId _,
    "q_quality" -> qQuality _,
    "q_token_count" -> qTokenCount _,
    "q_fingerprint" -> qFingerprint _,
    "q_repetition" -> qRepetition _,
    "q_gopher_gate" -> qGopherGate _,
    "q_curate" -> qCurate _,
    "q_url_canon" -> qUrlCanon _,
    "q_surt" -> qSurt _,
    "q_cdx" -> qCdx _,
    "q_url_filter" -> qUrlFilter _,
    "q_feed" -> qFeed _,
    "q_lang_profile" -> qLangProfile _,
    "q_sniff" -> qSniff _,
    "q_discovery" -> qDiscovery _,
    "q_url_template" -> qUrlTemplate _,
    "q_script_mix" -> qScriptMix _,
    "q_dedup_eval" -> qDedupEval _,
    "q_recrawl" -> qRecrawl _,
    "q_http" -> qHttp _,
    "q_sitemap_deep" -> qSitemapDeep _,
    "q_frontier" -> qFrontier _,
    "q_bm25" -> qBm25 _,
    "q_postings" -> qPostings _,
    "q_search" -> qSearch _,
    "q_report" -> qReport _,
    "q_decontam" -> qDecontam _,
    "q_decontam_frac" -> qDecontamFrac _,
    "q_host_cap" -> qHostCap _,
    "q_pii_redact" -> qPiiRedact _,
    "q_normalize" -> qNormalize _,
    "q_anchors" -> qAnchors _,
    "q_vocab" -> qVocab _,
    "q_sentences" -> qSentences _,
    "q_oov" -> qOov _,
    "q_tfidf" -> qTfidf _,
    "q_readability" -> qReadability _,
    "q_split_leak" -> qSplitLeak _,
    "q_sent_dedup" -> qSentDedup _,
    "q_cdc_dup" -> qCdcDup _,
    "q_compress_ratio" -> qCompressRatio _,
    "q_seq_windows" -> qSeqWindows _,
    "q_substr_dedup" -> qSubstrDedup _,
    "q_line_dedup" -> qLineDedup _,
    "q_host_boiler" -> qHostBoiler _,
    "q_dsir" -> qDsir _,
    "q_hll" -> qHll _,
    "q_hll_by_key" -> qHllByKey _,
    "q_hll_agg" -> qHllAgg _,
    "q_cms" -> qCms _,
    "q_cms_est" -> qCmsEst _,
    "q_cms_agg" -> qCmsAgg _,
    "q_topk_agg" -> qTopKAgg _,
    "q_charset" -> qCharset _,
    "q_phrase_match" -> qPhraseMatch _,
    "q_curate2" -> qCurate2 _,
    "q_bloom" -> qBloom _,
    "q_bloom_probe" -> qBloomProbe _,
    "q_sanitize" -> qSanitize _,
    "q_badwords" -> qBadwords _,
    "q_outlinks" -> qOutlinks _,
    "q_anchor_text" -> qAnchorText _,
    "q_page_meta" -> qPageMeta _,
    "q_sitemap" -> qSitemap _,
    "q_upsert" -> qUpsert _,
    "q_robots_directives" -> qRobotsDirectives _,
    "q_idn_host" -> qIdnHost _,
    "q_pagerank" -> qPagerank _,
    "q_hits" -> qHits _,
    "q_ml_quality" -> qMlQuality _,
    "q_lm_score" -> qLmScore _,
    "q_bpe" -> qBpe _,
    "q_bpe64" -> qBpe64 _,
    "q_bpe_tokens" -> qBpeTokens _,
    "q_bpe_pack" -> qBpePack _,
    "q_vocab_drift" -> qVocabDrift _,
    "q_divergence" -> qDivergence _,
    "q_redirect" -> qRedirect _,
    "q_mix" -> qMix _,
    "q_mix_epochs" -> qMixEpochs _,
    "q_ivf_train" -> qIvfTrain _,
    "q_pq_train" -> qPqTrain _,
    "q_text_embed" -> qTextEmbed _,
    "q_text_ann" -> qTextAnn _,
    "q_pq_topk" -> qPqTopK _,
    "q_robots" -> qRobots _,
    "q_crawl_diff" -> qCrawlDiff _,
    "q_reg_domain" -> qRegDomain _,
    "q_zorder" -> qZorder _,
    "q_warc_extract" -> qWarcExtract _,
    "q_wet_extract" -> qWetExtract _,
    "q_wat_extract" -> qWatExtract _,
    "q_asof" -> qAsof _,
    "q_range_join" -> qRangeJoin _,
    "q_incremental" -> qIncremental _,
    "q_construction_items" -> qConstructionItems _,
    "q_extract_items_sql" -> qExtractItemsSql _,
    "q_llm_merge" -> qLlmMerge _,
    "q_standard_entities" -> qStandardEntities _,
    "q_html_extract" -> qHtmlExtract _,
    "q_pdf_xrefstream" -> qPdfXrefstream _,
    "q_png_phash" -> qPngPhash _,
    "q_png_phash_pairs" -> qPngPhashPairs _,
    "q_entry_digest" -> qEntryDigest _,
    "q_pdf_meta" -> qPdfMeta _,
    "q_pdf_encrypted" -> qPdfEncrypted _,
    "q_jpeg_phash" -> qJpegPhash _,
    "q_cross_format_pairs" -> qCrossFormatPairs _,
    "q_pdf_annots" -> qPdfAnnots _,
    "q_py_findall" -> qPyFindall _
  )

  val oracleSql: Map[String, String] = Map(
    "q_pdf_xrefstream" -> oPdfXrefstream,
    "q_png_phash" -> oPngPhash,
    "q_png_phash_pairs" -> oPngPhashPairs,
    "q_entry_digest" -> oEntryDigest,
    "q_pdf_meta" -> oPdfMeta,
    "q_pdf_encrypted" -> oPdfEncrypted,
    "q_jpeg_phash" -> oJpegPhash,
    "q_cross_format_pairs" -> oCrossFormatPairs,
    "q_pdf_annots" -> oPdfAnnots,
    "q_stats" -> oStats,
    "q_summary" -> oSummary,
    "q_needs_ocr" -> oNeedsOcr,
    "q_table_gate" -> oTableGate,
    "q_preview" -> oPreview,
    "q_combine" -> oCombine,
    "q_entities_regex" -> oEntities,
    "q_window_ctx" -> oWindowCtx,
    "q_kv_events" -> oKvEvents,
    "q_sessions" -> oSessions,
    "q_agg_lineitem" -> oAggLineitem,
    "q_join_orders" -> oJoinOrders,
    "q_dedup_exact" -> oDedupExact,
    "q_minhash_sig" -> oMinhashSig,
    "q_minhash_pairs" -> oMinhashPairs,
    "q_minhash_pairs_b4" -> oMinhashPairsB4,
    "q_simhash" -> oSimhash,
    "q_simhash_pairs" -> oSimhashPairs,
    "q_simhash56" -> oSimhash56,
    "q_simhash56_pairs" -> oSimhash56Pairs,
    "q_dedup_clusters" -> oDedupClusters,
    "q_sample_hash" -> oSampleHash,
    "q_priority_sample" -> oPrioritySample,
    "q_sample_split" -> oSampleSplit,
    "q_sample_strata" -> oSampleStrata,
    "q_quality_cut" -> oQualityCut,
    "q_semdedup" -> oSemDedup,
    "q_pack" -> oPack,
    "q_ngram_jaccard" -> oNgramJaccard,
    "q_containment" -> oContainment,
    "q_soft_dedup" -> oSoftDedup,
    "q_luhn" -> oLuhn,
    "q_temp_mix" -> oTempMix,
    "q_pub_date" -> oPubDate,
    "q_mojibake" -> oMojibake,
    "q_shuffle" -> oShuffle,
    "q_indexable" -> oIndexable,
    "q_novelty" -> oNovelty,
    "q_neg_pairs" -> oNegPairs,
    "q_phash" -> oPhash,
    "q_phash_pairs" -> oPhashPairs,
    "q_quality_eval" -> oQualityEval,
    "q_truncate" -> oTruncate,
    "q_host_rep" -> oHostRep,
    "q_cosine_topk" -> oCosineTopK,
    "q_ann_lsh" -> oAnnLsh,
    "q_ann_topk" -> oAnnTopK,
    "q_ann_recall" -> oAnnRecall,
    "q_ivf_topk" -> oIvfTopK,
    "q_embed_neardup" -> oEmbedNearDup,
    "q_multimodal" -> oMultimodal,
    "q_frame_sample" -> oFrameSample,
    "q_lang_id" -> oLangId,
    "q_quality" -> oQuality,
    "q_token_count" -> oTokenCount,
    "q_fingerprint" -> oFingerprint,
    "q_repetition" -> oRepetition,
    "q_gopher_gate" -> oGopherGate,
    "q_curate" -> oCurate,
    "q_url_canon" -> oUrlCanon,
    "q_surt" -> oSurt,
    "q_cdx" -> oCdx,
    "q_url_filter" -> oUrlFilter,
    "q_feed" -> oFeed,
    "q_lang_profile" -> oLangProfile,
    "q_sniff" -> oSniff,
    "q_discovery" -> oDiscovery,
    "q_url_template" -> oUrlTemplate,
    "q_script_mix" -> oScriptMix,
    "q_dedup_eval" -> oDedupEval,
    "q_recrawl" -> oRecrawl,
    "q_http" -> oHttp,
    "q_sitemap_deep" -> oSitemapDeep,
    "q_frontier" -> oFrontier,
    "q_bm25" -> oBm25,
    "q_postings" -> oPostings,
    "q_search" -> oSearch,
    "q_report" -> oReport,
    "q_decontam" -> oDecontam,
    "q_decontam_frac" -> oDecontamFrac,
    "q_host_cap" -> oHostCap,
    "q_pii_redact" -> oPiiRedact,
    "q_normalize" -> oNormalize,
    "q_anchors" -> oAnchors,
    "q_vocab" -> oVocab,
    "q_cdc_dup" -> oCdcDup,
    "q_sentences" -> oSentences,
    "q_oov" -> oOov,
    "q_tfidf" -> oTfidf,
    "q_readability" -> oReadability,
    "q_split_leak" -> oSplitLeak,
    "q_sent_dedup" -> oSentDedup,
    "q_seq_windows" -> oSeqWindows,
    "q_substr_dedup" -> oSubstrDedup,
    "q_line_dedup" -> oLineDedup,
    "q_host_boiler" -> oHostBoiler,
    "q_dsir" -> oDsir,
    "q_hll" -> oHll,
    "q_hll_by_key" -> oHllByKey,
    "q_hll_agg" -> oHllAgg,
    "q_cms" -> oCms,
    "q_cms_est" -> oCmsEst,
    "q_cms_agg" -> oCmsAgg,
    "q_topk_agg" -> oTopKAgg,
    "q_phrase_match" -> oPhraseMatch,
    "q_curate2" -> oCurate2,
    "q_bloom" -> oBloom,
    "q_bloom_probe" -> oBloomProbe,
    "q_sanitize" -> oSanitize,
    "q_badwords" -> oBadwords,
    "q_outlinks" -> oOutlinks,
    "q_anchor_text" -> oAnchorText,
    "q_page_meta" -> oPageMeta,
    "q_sitemap" -> oSitemap,
    "q_upsert" -> oUpsert,
    "q_robots_directives" -> oRobotsDirectives,
    "q_idn_host" -> oIdnHost,
    "q_pagerank" -> oPagerank,
    "q_hits" -> oHits,
    "q_ml_quality" -> oMlQuality,
    "q_lm_score" -> oLmScore,
    "q_bpe" -> oBpe,
    "q_bpe_tokens" -> oBpeTokens,
    "q_bpe_pack" -> oBpePack,
    "q_vocab_drift" -> oVocabDrift,
    "q_divergence" -> oDivergence,
    "q_redirect" -> oRedirect,
    "q_mix" -> oMix,
    "q_mix_epochs" -> oMixEpochs,
    "q_ivf_train" -> oIvfTrain,
    "q_pq_train" -> oPqTrain,
    "q_text_embed" -> oTextEmbed,
    "q_text_ann" -> oTextAnn,
    "q_pq_topk" -> oPqTopK,
    "q_robots" -> oRobots,
    "q_crawl_diff" -> oCrawlDiff,
    "q_reg_domain" -> oRegDomain,
    "q_zorder" -> oZorder,
    "q_warc_extract" -> oWarcExtract,
    "q_wet_extract" -> oWetExtract,
    "q_wat_extract" -> oWatExtract,
    "q_asof" -> oAsof,
    "q_range_join" -> oRangeJoin,
    "q_incremental" -> oIncremental
    // q_construction_items / q_standard_entities / q_html_extract: stateful
    // fold + Python-dialect regex + HTML DOM — not ANSI-SQL-expressible;
    // byte-golden tested instead (GoldenParitySpec, RoundTripSpec).
  )

  /** Flagship: the real extraction core over the documents table, BOTH
    * reference strategies per doc — standard (statistics + entities +
    * canonical JSON) and construction (line-fold P1-P4 + the J1-J3
    * second-source merge through the FakeLlm seam), two rows per doc.
    * Driver contract pins sf0.001 as the default; overridable for local use.
    */
  def entry(spark: SparkSession): DataFrame =
    entry(spark, sys.env.getOrElse("SPARK_GRAFT_ENTRY_DIR", "/root/testdata/sf0.001"))

  def entry(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spread(docs(spark, dir).select(col("doc_id"), col("text"))).as[(Long, String)]
      .flatMap { case (id, text) =>
        // a deterministic item-bearing first line so the construction fold
        // and the fuzzy merge have real work on every doc (same shape as
        // q_construction_items / q_llm_merge)
        val line = s"QTY: ${id % 9 + 1} EA VALVE PACKAGE MODEL VP-$id wall mounted"
        val stdPages = Vector(PageData(1L, text, None, None, Nil))
        val conPages = Vector(PageData(1L, line + "\n" + text, None, None, Nil))
        val std = graft.json.Canonical.render(Assemble.standardResult(stdPages))
        val con = graft.json.Canonical.render(
          Assemble.constructionResult(conPages, Some(graft.core.FakeLlmParser)))
        Seq(
          (id, "standard", PyStr.countWords(text), std.length.toLong, std),
          (id, "construction", PyStr.countWords(conPages.head.text), con.length.toLong, con))
      }
      .toDF("doc_id", "mode", "n_words", "json_chars", "extracted_json")
  }
}
