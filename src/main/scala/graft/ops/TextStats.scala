package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis columns for a large-scale training-data pipeline:
  * language ID (stopword heuristic), quality scoring (length / punctuation /
  * stopword ratios), token counting (whitespace + BPE-ish regex), document
  * fingerprinting (min/max of char-gram hashes — winnowing-lite).
  *
  * Everything here is a pure Column expression — stays inside
  * WholeStageCodegen on the scan, no shuffle, no UDF. These are the
  * corpus-statistics analogs of the reference's per-document statistics
  * (/root/reference/extractor/utils/helpers.py:67-86) lifted to
  * whole-corpus scale.
  */
object TextStats {

  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "for")

  def toks(text: Column): Column = split(text, " ")

  /** Whitespace token count (Python str.split() analog over single-spaced
    * text; the general whitespace-run version is `wordCountWs`).
    */
  def tokenCount(text: Column): Column = size(toks(text))

  /** Python `len(s.split())` for arbitrary whitespace: split on runs,
    * dropping empties at the ends.
    */
  def wordCountWs(text: Column): Column =
    size(filter(split(text, "\\s+"), t => t =!= ""))

  /** BPE-ish subword count: alpha runs + digit runs + single punctuation
    * marks, the shape a byte-pair tokenizer's pre-tokenizer uses.
    */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  def stopwordHits(text: Column, stop: Seq[String] = EnglishStopwords): Column =
    size(filter(toks(text), t => t.isin(stop: _*)))

  /** Stopword ratio — the classic cheap language/quality signal. */
  def stopwordRatio(text: Column): Column =
    stopwordHits(text).cast("double") / tokenCount(text)

  /** Heuristic language ID: stopword-hit ratio over an English function-word
    * list; 'en' above threshold, 'unk' otherwise. (A real system uses
    * per-language n-gram profiles; the operator shape — scan-side scalar
    * classification — is identical.)
    */
  def langId(text: Column, threshold: Double = 0.05): Column =
    when(stopwordRatio(text) >= threshold, "en").otherwise("unk")

  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast("double") / length(text)

  def meanTokenLen(text: Column): Column =
    aggregate(toks(text), lit(0L), (acc, t) => acc + length(t)).cast("double") /
      tokenCount(text)

  /** Composite quality score in [0,1]-ish: rewards mid-length docs and
    * function-word presence, penalizes punctuation/digit noise. The exact
    * arithmetic shape is part of the contract (oracle recomputes it).
    */
  def qualityScore(text: Column): Column =
    least(length(text).cast("double") / 400.0, lit(1.0)) * 0.4 +
      least(stopwordRatio(text) * 10.0, lit(1.0)) * 0.4 +
      (lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))) * 0.2

  /** Unicode script ranges for [[scriptCounts]], ascending by name — the
    * tie-break order. `\x{...}` syntax is shared by Java regex and RE2, so
    * the oracle recompute uses the identical class text.
    */
  val ScriptRanges: Seq[(String, String)] = Seq(
    "arabic" -> "\\x{0600}-\\x{06FF}",
    "cjk" -> "\\x{3040}-\\x{30FF}\\x{4E00}-\\x{9FFF}",
    "cyrillic" -> "\\x{0400}-\\x{04FF}",
    "greek" -> "\\x{0370}-\\x{03FF}",
    "latin" -> "A-Za-z\\x{00C0}-\\x{024F}")

  /** Per-script character counts — the script-mix signal: a page whose
    * html says lang=en but whose characters are 90% Cyrillic is
    * mislabeled, and CJK-heavy text needs different tokenization/quality
    * thresholds. One codegen'd regexp_replace + length per script,
    * scan-side, all-integer.
    */
  def scriptCounts(text: Column): Seq[(String, Column)] =
    ScriptRanges.map { case (name, cls) =>
      name -> length(regexp_replace(text, s"[^$cls]", ""))
    }

  /** Dominant script: argmax of [[scriptCounts]], ties to the
    * ascending-name script, no script evidence → 'none'.
    */
  def dominantScript(text: Column): Column = {
    val counts = scriptCounts(text)
    val m = greatest(counts.map(_._2): _*)
    counts.foldRight(lit("none")) { case ((name, c), els) =>
      when(m > 0 && c === m, lit(name)).otherwise(els)
    }
  }

  /** Per-language function-word profiles for [[langIdProfile]] — the
    * Cavnar–Trenkle profile-classification shape (textcat, 1994) with word
    * evidence instead of trigrams: tiny profiles, INTEGER weights (the
    * scores stay exactly reproducible on any engine), and the top of the
    * Zipf curve is where the language signal is anyway. Extend per
    * deployment; keys must be lowercase.
    */
  val LangProfiles: Seq[(String, Map[String, Long])] = Seq(
    "de" -> Map("der" -> 3L, "die" -> 3L, "und" -> 2L, "das" -> 2L,
      "ist" -> 1L, "nicht" -> 1L, "ein" -> 1L, "zu" -> 1L),
    "en" -> Map("the" -> 3L, "and" -> 2L, "of" -> 2L, "to" -> 2L,
      "is" -> 1L, "in" -> 1L, "that" -> 1L, "it" -> 1L),
    "es" -> Map("el" -> 3L, "la" -> 2L, "de" -> 2L, "que" -> 2L,
      "los" -> 2L, "es" -> 1L, "una" -> 1L, "para" -> 1L),
    "fr" -> Map("le" -> 3L, "la" -> 3L, "et" -> 2L, "les" -> 2L,
      "des" -> 2L, "est" -> 1L, "une" -> 1L, "dans" -> 1L))

  /** Integer evidence score of `text` for one profile: sum of profile
    * weights over whitespace tokens (lowercased). One scan-side fold per
    * language over a shared token array — k languages cost k array passes,
    * not k corpus scans, and nothing shuffles.
    */
  def langScore(text: Column, profile: Map[String, Long]): Column = {
    val m = map(profile.toSeq.sortBy(_._1).flatMap {
      case (w, v) => Seq(lit(w), lit(v))
    }: _*)
    val toks = filter(split(lower(text), "\\s+"), t => t =!= "")
    aggregate(toks, lit(0L), (acc, t) => acc + coalesce(element_at(m, t), lit(0L)))
  }

  /** Multi-language classification: argmax of [[langScore]] across
    * [[LangProfiles]], ties broken by language code ascending, all-zero
    * evidence mapped to 'unk'. Upgrades [[langId]] (binary en/unk) to the
    * real operator shape — still a pure scan-side Column.
    */
  def langIdProfile(text: Column,
                    profiles: Seq[(String, Map[String, Long])] = LangProfiles): Column = {
    val scores = profiles.map { case (l, p) => l -> langScore(text, p) }
    val m = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("unk")) { case ((l, sc), els) =>
      when(m > 0 && sc === m, lit(l)).otherwise(els)
    }
  }

  /** Character n-gram hashes of a document (the fingerprint alphabet). */
  def charGramHashes(text: Column, n: Int = 8,
                     hash: Column => Column = TextDedup.portableHash): Column =
    transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => hash(text.substr(i, lit(n))))

  /** Rolling-hash document fingerprint: min & max char-8-gram hash plus the
    * distinct gram count — a winnowing-style signature cheap enough to
    * compute scan-side and strong enough for shard-level dedup triage.
    */
  def fingerprint(text: Column, n: Int = 8,
                  hash: Column => Column = TextDedup.portableHash): Column = {
    val grams = charGramHashes(text, n, hash)
    struct(
      array_min(grams).as("fp_min"),
      array_max(grams).as("fp_max"),
      size(array_distinct(grams)).as("n_grams"))
  }

  /** Scan-side rolling-polynomial fingerprint: one pass per row inside the
    * scan stage (graft.functions.RollingFingerprint) — no explode, no
    * shuffle, no per-gram hash invocation. The production path for corpus
    * fingerprinting; `fingerprintAgg` below keeps the md5-per-gram variant
    * for keyed-quality-hash contracts.
    */
  def fingerprintScan(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String, n: Int = 8): org.apache.spark.sql.DataFrame = {
    val fp = org.apache.spark.sql.GraftBridge.column(
      graft.functions.RollingFingerprint(
        org.apache.spark.sql.GraftBridge.expression(col(textCol)), n))
    // inline(array(fp)): the Generate boundary evaluates the fingerprint
    // ONCE per row and emits the struct fields as columns — projecting
    // fp.fp_min / fp.fp_max / fp.n_grams separately would re-evaluate the
    // whole expression per field after projection collapse.
    // Null texts are dropped, matching fingerprintAgg (whose explode of
    // null grams produces no rows) — the two paths stay interchangeable.
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"), inline(array(fp)))
  }

  /** Corpus fingerprint table (id, fp_min, fp_max, n_grams) via
    * explode + hash-aggregate: each gram is hashed exactly once (selecting
    * the three fields of the `fingerprint` struct separately re-evaluates
    * the gram array per field — HOF subtrees are not CSE'd), and the
    * aggregation is the standard shuffle-parallel plan.
    */
  def fingerprintAgg(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, n: Int = 8,
                     hash: Column => Column = TextDedup.portableHash): org.apache.spark.sql.DataFrame =
    // explode the POSITIONS, hash top-level: the md5 runs codegen'd in the
    // fused explode+project stage instead of interpreted inside the
    // charGramHashes transform lambda. Null texts are dropped (without the
    // filter, greatest(null-7, 1)=1 emits a ghost row with null fp and
    // n_grams=0) — same contract as fingerprintScan: no text, no row.
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"), col(textCol).as("t"),
        explode(sequence(lit(1), greatest(length(col(textCol)) - (n - 1), lit(1)))).as("i"))
      .select(col("id"), hash(col("t").substr(col("i"), lit(n))).as("g"))
      .groupBy("id").agg(
        min(col("g")).as("fp_min"),
        max(col("g")).as("fp_max"),
        countDistinct(col("g")).as("n_grams"))
}
