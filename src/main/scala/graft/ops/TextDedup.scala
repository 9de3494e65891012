package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-scale deduplication operators for a documents table
  * (id, text). All pure Catalyst: shingling/hashing via higher-order
  * functions, candidate generation via equi-joins on band hashes — no UDFs,
  * no driver-side collection, so every stage scales horizontally.
  *
  * Every string → key hash here (text, gram, band, token and line keys)
  * is [[portableHash]], the first 60 bits of md5 as a BIGINT. It is
  * bit-identical in Spark and DuckDB, so each operator's rows are the rows
  * its SQL oracle computes; there is no second hash family to choose.
  *
  * The greedy fuzzy matcher of the reference
  * (/root/reference/extractor/services/extraction_service.py:360-411) is a
  * different beast (order-dependent assignment, see graft.core); these
  * operators are corpus-level near-dup detection à la MinHash/SimHash from
  * the published literature (Broder 1997; Charikar 2002).
  */
object TextDedup {

  /** Modulus for the universal-hash family: fits a*x+b in a BIGINT. */
  val P: Long = 1000000007L

  /** Ledger of DataFrames this module persisted on callers' behalf.
    * Long-lived sessions that run many dedup pipelines (Verify, Bench)
    * call releaseCaches() between pipelines so cached signature tables
    * don't accumulate until eviction pressure.
    */
  private val pendingCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private def registerCache(df: DataFrame): Unit = pendingCaches.add(df)
  def releaseCaches(): Unit = {
    var df = pendingCaches.poll()
    while (df != null) { df.unpersist(false); df = pendingCaches.poll() }
  }

  /** 60-bit portable string hash: identical in Spark and DuckDB
    * (`('0x'||substr(md5(s),1,15))::BIGINT`). Positive, < 2^60.
    */
  def portableHash(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Whitespace tokens (documents corpus is single-spaced). */
  def tokens(text: Column): Column = split(text, " ")

  /** Generator form of [[shingles]]: one row per distinct shingle, emitted
    * by the native graft.functions.WordShinglesGenerator (zero-copy
    * byte-slice grams, single JVM loop per doc) instead of the interpreted
    * HOF tree + array_distinct + explode. Same rows, same order. The
    * production path — [[shingles]] below remains as the Column-API
    * reference formulation the OpsSpec equivalence test pins against.
    */
  def shingleRows(text: Column, n: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.WordShinglesGenerator(
        org.apache.spark.sql.GraftBridge.expression(text), n))

  /** A document as its set of hashed word n-grams: (id, s), one row per
    * distinct shingle ([[shingleRows]]), s = portableHash(shingle) as a top-level,
    * codegen'd projection; docs under `n` tokens have no rows. The gram
    * source of every gram-set operator here and in [[Decontam]].
    */
  private[ops] def gramHashes(df: DataFrame, idCol: String, textCol: String,
                              n: Int): DataFrame =
    df.select(col(idCol).as("id"), shingleRows(col(textCol), n).as("s0"))
      .select(col("id"), portableHash(col("s0")).as("s"))

  /** Distinct word n-gram shingles of a token array. Guarded: Spark's
    * sequence(1, stop) DESCENDS when stop < 1, so short docs get an empty
    * array explicitly rather than a reversed range.
    *
    * The token array is BOUND once through a single-element transform:
    * HOF lambda bodies are not CSE'd, so writing element_at(toks, i+k)
    * directly would re-evaluate the `toks` subtree (typically split(text))
    * for every (position, k) — measured 3-4× the whole operator's cost
    * when toks is split(text) over ~250-token docs.
    */
  def shingles(toks: Column, n: Int): Column =
    element_at(
      transform(array(toks), ts => {
        val grams = transform(
          sequence(lit(1), size(ts) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(ts, i + k)): _*))
        when(size(ts) >= n, array_distinct(grams))
          .otherwise(array().cast("array<string>"))
      }),
      1)

  /** Generator form of winnowing anchors: one row (pos, h) per char-n-gram
    * position whose rolling hash is ≡ 0 mod `modulus`
    * (graft.functions.RollingAnchorsGenerator — RollingFingerprint's hash).
    */
  def anchorRows(text: Column, n: Int, modulus: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.RollingAnchorsGenerator(
        org.apache.spark.sql.GraftBridge.expression(text), n, modulus))

  /** Cross-document shared-substring triage (the boilerplate-detection /
    * exact-substring-dedup front end, Lee et al. 2022 §4 shaped for Spark):
    * every anchor hash that appears in ≥ `minDocs` distinct documents, with
    * occurrence counts and a canonical exemplar doc.
    *
    * Because anchor selection is content-defined (depends only on the local
    * n chars), two documents sharing ANY ≥n-char byte run share anchor
    * hashes — so one groupBy on h finds repeated substrings corpus-wide
    * with no pairwise comparison. Scale shape: the scan emits ~chars/modulus
    * rows, and countDistinct(id) deliberately plans Spark's TWO-phase
    * distinct aggregate: the first exchange partitions by (h, id), so a
    * ubiquitous boilerplate hash — the guaranteed hot key of this operator —
    * spreads across reducers instead of funnelling raw occurrences into one
    * task; only pre-reduced per-(h,id) partials ride the second (tiny)
    * exchange on h. Output is only the shared remnant.
    */
  def sharedAnchors(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 50, modulus: Int = 16, minDocs: Int = 2): DataFrame =
    df.select(col(idCol).as("id"), anchorRows(col(textCol), n, modulus))
      .groupBy("h").agg(
        countDistinct(col("id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("id")).as("min_id"))
      .where(col("n_docs") >= minDocs)

  /** Generator form of content-defined chunking: one row (idx, chunk) per
    * CDC chunk (boundaries at rolling-hash anchors — see
    * [[graft.functions.CdcChunksGenerator]]).
    */
  def cdcChunkRows(text: Column, n: Int, modulus: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.CdcChunksGenerator(
        org.apache.spark.sql.GraftBridge.expression(text), n, modulus))

  /** Per-document duplicated-span statistics via CDC chunk dedup — the
    * scalable approximation of exact-substring dedup (Lee et al. 2022)
    * without a suffix array: chunk every document at content-defined
    * boundaries, exact-dedup the chunk hashes corpus-wide, and report per
    * document how many chunks/chars are shared with ≥ `minDocs` documents.
    * A doc with a high `dup_chars`/`total_chars` ratio is boilerplate or a
    * near-copy; the chars themselves localize WHICH spans (unlike MinHash,
    * which only scores the pair).
    *
    * Scale shape: scan emits ~chars/modulus chunk rows; the hot-chunk set
    * is a two-phase distinct aggregate on the 60-bit chunk hash (skew-safe
    * for ubiquitous chunks, same argument as [[sharedAnchors]]); marking is
    * an equi-join back on the hash — the aggregated hot side is small
    * (boilerplate only), so AQE typically demotes it to broadcast — then
    * one final aggregate per doc. No pairwise comparison anywhere.
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 50, modulus: Int = 64, minDocs: Int = 2): DataFrame = {
    val chunks = df
      .select(col(idCol).as("id"), cdcChunkRows(col(textCol), n, modulus))
      .select(col("id"), portableHash(col("chunk")).as("ck"),
        length(col("chunk")).cast("long").as("clen"))
    val hot = chunks.groupBy("ck")
      .agg(countDistinct(col("id")).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select(col("ck"), lit(1L).as("__hot"))
    chunks.join(hot, Seq("ck"), "left")
      .groupBy("id").agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("__hot").isNotNull, 1L).otherwise(0L)).as("dup_chunks"),
        sum(col("clen")).as("total_chars"),
        sum(when(col("__hot").isNotNull, col("clen")).otherwise(0L)).as("dup_chars"))
  }

  /** Duplicated-span REMOVAL — the rewrite step of exact-substring dedup
    * (Lee et al. 2022 drop repeated ≥50-token spans, keeping one copy;
    * [[dupSpanStats]] is the measurement half, this is the scalpel): every
    * chunk whose hash occurs in ≥ `minDocs` distinct documents keeps only
    * its FIRST (id, idx) occurrence corpus-wide; all other occurrences are
    * cut and the survivors re-concatenated (CDC chunks partition the text,
    * so ""-joining survivors is exact surgery, not approximation).
    *
    * Scale shape: the first-occurrence winner rides the SAME aggregate
    * that detects hot chunks (min(struct(id, idx)) next to the two-phase
    * countDistinct) — no window over the chunk key, so a boilerplate
    * chunk in a billion documents never funnels its occurrences into one
    * sort. Then one equi-join back on the hash (hot side is small — AQE
    * broadcasts) and one conditional reassembly aggregate per doc; docs
    * reduced to nothing come back with text_dedup = "".
    */
  def dupSpanRewrite(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 50, modulus: Int = 64,
                     minDocs: Int = 2): DataFrame = {
    val chunks = df
      .select(col(idCol).as("id"), cdcChunkRows(col(textCol), n, modulus))
      .withColumn("ck", portableHash(col("chunk")))
    val hot = chunks.groupBy("ck")
      .agg(countDistinct(col("id")).as("n_docs"),
        min(struct(col("id"), col("idx"))).as("first"))
      .where(col("n_docs") >= minDocs)
      .select("ck", "first")
    chunks.join(hot, Seq("ck"), "left")
      .withColumn("keep", col("first").isNull ||
        (col("first.id") === col("id") && col("first.idx") === col("idx")))
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_removed"),
        array_join(
          transform(
            filter(
              array_sort(collect_list(struct(col("idx"), col("chunk"),
                col("keep")))),
              s => s.getField("keep")),
            s => s.getField("chunk")),
          "").as("text_dedup"))
  }

  /** Exact dedup: group by the portable hash of the full text, keep the
    * first id as the canonical representative. Scales: one shuffle on the
    * 60-bit key.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(portableHash(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("canonical_id"))

  /** MinHash signatures: k permutations h_j(x) = (a_j*x + b_j) mod P over
    * the shingle-hash set, minimum per permutation. The permutation
    * constants are data (deterministic), not randomness at runtime.
    * Returns (id, sig: array<bigint> length k).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 8, shingleN: Int = 3): DataFrame = {
    // Exploded shape so the (md5-grade) shingle hash runs as a TOP-LEVEL
    // projection — codegen'd — rather than interpreted inside a HOF lambda;
    // the k permutation minima become k min-aggregates in ONE hash
    // aggregate (fully codegen, map-side partial). Docs shorter than one
    // shingle produce no rows and drop out, as before.
    val sh = gramHashes(df, idCol, textCol, shingleN)
      .select(col("id"), pmod(col("s"), lit(P)).as("h"))
    val mins = (0 until k).map { j =>
      val a = j * 101 + 37
      val b = j * 61 + 11
      min(pmod(col("h") * a + b, lit(P))).as(s"s$j")
    }
    sh.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until k).map(j => col(s"s$j")): _*).as("sig"))
  }

  /** LSH banding over minhash signatures: bands of `rowsPerBand` signature
    * slots are combined into one band key; docs sharing any band key become
    * candidate pairs; estimated Jaccard = fraction of equal signature slots.
    * Candidate generation is an equi-join on (band index, band key) — the
    * classic shuffle-friendly plan; no O(n^2) stage exists anywhere.
    */
  def minhashPairs(sigs0: DataFrame, rowsPerBand: Int = 2,
                   minEstJaccard: Double = 0.5): DataFrame = {
    val k = rowsPerBand
    require(rowsPerBand >= 1, "rowsPerBand must be >= 1")
    // the signature computation feeds both sides of the self-join — persist
    // so the (md5-heavy) shingle/minhash subtree runs once, not 2×.
    // Cache ownership: registered in `pendingCaches`; callers that issue
    // many pipelines in one session release with releaseCaches() after
    // materializing the pairs (Verify/Bench do).
    val sigs = sigs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    registerCache(sigs)
    // Band key: for k ≤ 2 the k slots pack positionally (acc*P + s — exact,
    // collision-free, the cheapest form; P^2 ≈ 1e18 < 2^63). k ≥ 3 would
    // overflow Long (and DuckDB BIGINT multiplication errors instead of
    // wrapping), so wider bands hash the ','-joined slot values through
    // portableHash instead, the hash the oracle spells in SQL. A hash
    // collision can only ADD a candidate pair (false positive), never drop
    // one, and every candidate is re-scored by the exact slot comparison
    // below — so hashing keeps the output contract bit-identical.
    def bandKey(b: Column): Column =
      if (k <= 2)
        (0 until k).map(r => element_at(col("sig"), b * k + r + 1))
          .reduce((acc, s) => acc * P + s)
      else
        portableHash(concat_ws(",",
          (0 until k).map(r => element_at(col("sig"), b * k + r + 1).cast("string")): _*))
    val banded = sigs.select(
      col("id"), col("sig"),
      posexplode(transform(
        sequence(lit(0), (size(col("sig")) / k).cast("int") - 1),
        bandKey(_))).as(Seq("band", "band_key")))
    val a = banded.alias("a")
    val b = banded.alias("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("id_a", "id_b")
    pairs.select(col("id_a"), col("id_b"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _)
          .cast("double") / size(col("sig_a"))).as("est_jaccard"))
      .where(col("est_jaccard") >= minEstJaccard)
  }

  /** SimHash (Charikar 2002) over token multiset, `bits` ≤ 62: per bit
    * position, sum +1/-1 votes weighted by token occurrences; bit set if
    * the vote is positive. Token hashes are reduced mod 2^bits so both
    * engines test identical bit patterns — with the 60-bit portable hash
    * and bits = 60 the reduction is the identity and the whole pipeline
    * stays in positive BIGINT arithmetic (integer shifts on both sides; no
    * floating-point `pow`). Production corpus dedup wants bits ≥ 48:
    * 32-bit simhash starts taking birthday collisions at ~10^5 docs.
    *
    * The vote fold runs in a codegen-native custom Expression
    * (graft.functions.SimHashVotes) — the earlier single-pass HOF aggregate
    * allocated a `bits`-slot array per TOKEN in interpreted eval and
    * dominated the operator's cost.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 32): DataFrame = {
    require(bits >= 1 && bits <= 62, "bits must be in [1, 62] (2^bits must fit a positive Long)")
    val hs = transform(tokens(col(textCol)), t => pmod(portableHash(t), lit(1L << bits)))
    val sim = org.apache.spark.sql.GraftBridge.column(
      graft.functions.SimHashVotes(
        org.apache.spark.sql.GraftBridge.expression(hs), bits))
    df.select(col(idCol).as("id"), sim.as("simhash"))
  }

  /** Near-dup pairs by SimHash Hamming distance, candidate generation via
    * COMBINATION banding (Manku/Jain/Sarma, WWW'07 §3): split the hash into
    * `chunks` equal blocks; if hamming(a,b) ≤ d then ≥ chunks−d blocks are
    * equal (pigeonhole), so keying each of the C(chunks, d) possible
    * (chunks−d)-block subsets catches every qualifying pair. Candidates are
    * then verified with an exact Hamming check, so the output is identical
    * to brute force (the DuckDB oracle keeps the brute shape).
    *
    * Why subsets and not single blocks: keying on one block of a b-bit hash
    * gives (b/chunks)-bit keys — for 32-bit/4-chunk that is 256 distinct
    * values, so bucket sizes (and spurious candidates) grow as n²/256 — a
    * quadratic time bomb at corpus scale. A (chunks−d)-block key carries
    * (chunks−d)·b/chunks bits (e.g. 20 bits for 32/8/3, 40 for 64/8/3),
    * shrinking buckets geometrically at the price of C(chunks,d)-way row
    * replication — the classic space-for-selectivity trade the WWW'07 paper
    * runs at 8B-page scale.
    *
    * The band keys are STATICALLY UNROLLED into an array(...) of plain
    * shift/mask/or columns — whole-stage-codegen arithmetic, no HOF lambda
    * (HOFs evaluate interpreted; see the round-2 profiling notes).
    */
  def simhashPairs(sh0: DataFrame, bits: Int = 32, chunks: Int = 8,
                   maxHamming: Int = 3): DataFrame = {
    require(chunks > maxHamming, "pigeonhole needs chunks > maxHamming")
    require(bits % chunks == 0, s"chunks must divide bits ($bits/$chunks)")
    val w = bits / chunks
    val m = chunks - maxHamming // blocks per band key
    require(m * w <= 62, s"band key needs $m*$w bits; reduce chunks or bits")
    val combos = (0 until chunks).combinations(m).toVector
    require(combos.length <= 256,
      s"C($chunks,$maxHamming)=${combos.length} band tables; choose smaller chunks")
    val mask = (1L << w) - 1
    def block(c: Int): Column =
      call_function("shiftright", col("simhash"), lit(c * w)).bitwiseAND(lit(mask))
    // pack the combo's blocks positionally; combos are distinguished by the
    // posexplode band index, so cross-combo key collisions are impossible
    val bandKeys = combos.map { combo =>
      combo.zipWithIndex.map { case (c, i) =>
        call_function("shiftleft", block(c), lit(i * w))
      }.reduce(_ bitwiseOR _)
    }
    // both self-join sides read the signature subtree (tokenize + hash per
    // token) — persist so it computes once (ownership: releaseCaches)
    val sh = sh0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    registerCache(sh)
    val banded = sh.select(col("id"), col("simhash"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "band_key")))
    val a = banded.alias("a"); val b = banded.alias("b")
    // Pair multiplicity (a near-identical pair shares many of the
    // C(chunks,d) bands) is collapsed by dropDuplicates, which plans as a
    // hash aggregate with MAP-SIDE partial combine: duplicates die in the
    // mapper, only unique pairs cross the exchange — so the dedup is NOT a
    // candidate-volume shuffle. (Both "emit only in the first matching
    // band" alternatives were measured slower: a 56-branch CASE chain
    // exceeds the codegen method-size limit and runs interpreted per
    // candidate row, 9× worse; even the bitmask + 2^chunks-literal-lookup
    // form pays per-candidate arithmetic that the map-side combine avoids.)
    a.join(b, col("a.band") === col("b.band") &&
        col("a.band_key") === col("b.band_key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming(col("a.simhash"), col("b.simhash")).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  /** Hamming distance between two simhash columns. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Word n-gram Jaccard similarity join with EXACT positional prefix
    * filtering (AllPairs: Bayardo/Ma/Srikant WWW'07; PPJoin: Xiao et al.
    * WWW'08; distributed shape: VernicaJoin, SIGMOD'10).
    *
    * The naive plan — self-equi-join on every shingle — explodes
    * quadratically on hot shingles ("click here to" at web scale produces a
    * cartesian-sized join group). Prefix filtering fixes candidate
    * generation without changing the result: order all shingles globally by
    * (document frequency asc, hash) and keep only each doc's first
    * |d| - ⌈t·|d|⌉ + 1 shingles ("prefix"). Lemma (exact): for any pair with
    * J(A,B) ≥ t the overlap is ≥ ⌈t·max(|A|,|B|)⌉, so the globally-smallest
    * common shingle sits within both prefixes — no qualifying pair is lost.
    * Since prefixes hold the RAREST shingles, hot shingles drop out of
    * candidate generation precisely where they would have blown up.
    * Candidates are then verified exactly from the full sorted shingle-hash
    * arrays (one merge-count per pair), so the output is identical to
    * the brute formulation (the DuckDB oracle keeps the brute shape).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, minJaccard: Double = 0.5): DataFrame = {
    val t = minJaccard
    val (_, sets, prefix) = prefixFilter(df, idCol, textCol, n, t)
    val a = prefix.alias("a"); val b = prefix.alias("b")
    val cand = a.join(b,
        col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          // size filter: |A| ≥ ⌈t·|B|⌉ and vice versa for any qualifying pair
          col("a.nsh") >= ceilT(t, col("b.nsh")) &&
          col("b.nsh") >= ceilT(t, col("a.nsh")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    commonCounts(cand, sets)
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") / (col("na") + col("nb") - col("n_common")))
          .as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** ASYMMETRIC set-containment join: all ordered pairs (A, B), A ≠ B, with
    * C(A,B) = |A∩B| / |A| ≥ `minContainment` over word n-gram shingle sets —
    * the quote / excerpt / subset-page detector that a symmetric Jaccard
    * join structurally cannot be (a 40-word paragraph fully quoted inside a
    * 4000-word page has J ≈ 0.01 but C = 1.0). The shape web curation
    * wants for press-release syndication, quoted-reply chains, and
    * template-plus-content pages.
    *
    * Candidate generation is the one-sided prefix filter of the
    * set-containment-join literature (PRETTI/ProbeCount lineage; the
    * asymmetric case of Bayardo's AllPairs): a qualifying pair overlaps in
    * ≥ ⌈t·|A|⌉ shingles, so A's first |A| − ⌈t·|A|⌉ + 1 shingles in the
    * global (document-frequency asc, hash) order must hit B (pigeonhole) —
    * the CONTAINED side prunes to its rarest shingles exactly like
    * [[ngramJaccardPairs]]. The container side has no size bound (|B| is
    * unconstrained), so B indexes ALL its shingles — the honest asymmetry
    * of the containment contract; rare-first ordering still keeps hot
    * shingles out of A-prefixes, which bounds each join group by the
    * CONTAINED side's df. Verification is exact from the full sorted
    * shingle-hash arrays (SortedIntersectCount), so output equals the
    * brute formulation — the DuckDB oracle keeps the brute shape.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, minContainment: Double = 0.8): DataFrame = {
    val t = minContainment
    require(t > 0.0 && t <= 1.0, s"minContainment must be in (0,1], got $t")
    val (sh, sets, prefix) = prefixFilter(df, idCol, textCol, n, t)
    val a = prefix.alias("a"); val b = sh.alias("b")
    val cand = a.join(b,
        col("a.s") === col("b.s") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    commonCounts(cand, sets)
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") / col("na")).as("containment"))
      .where(col("containment") >= minContainment)
  }

  /** The front end both prefix-filter joins share, at threshold `t`: the
    * gram table `sh` (id, s); each doc's sorted gram set `sets` (id, arr,
    * nsh); and each doc's `prefix` (id, s, nsh), its first
    * |d| − ⌈t·|d|⌉ + 1 grams in the global (document frequency asc, hash
    * asc) order, rarest first.
    *
    * Plan note (measured, round 2): a "fused" variant building prefix +
    * verification sets in one groupBy(id) over (dfreq,s)-sorted struct
    * arrays was tried and REVERTED — the per-doc interpreted array ops
    * (struct sort_array, transform field extraction, slice) cost more than
    * the Tungsten shuffle-sort they replaced (7.5 s vs 3.4 s at local[8]).
    * The window formulation below keeps the rank selection inside codegen
    * sort machinery.
    */
  private def prefixFilter(df: DataFrame, idCol: String, textCol: String, n: Int,
                           t: Double): (DataFrame, DataFrame, DataFrame) = {
    // join on the 60-bit shingle hash, not the string: the equi-join
    // compares/shuffles 8-byte keys instead of variable-length text.
    // sh feeds sets, dfreq, the prefix and the candidate join — persist so
    // the tokenize/shingle/hash subtree runs once (ownership: releaseCaches).
    val sh = gramHashes(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    registerCache(sh)
    // one pass builds both the per-doc set (sorted for cheap intersection)
    // and its size; persisted use is unnecessary — each side is read once
    val sets = sh.groupBy("id")
      .agg(sort_array(collect_list(col("s"))).as("arr"),
        count(lit(1)).as("nsh"))
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("dfreq"))
    val wPos = Window.partitionBy("id").orderBy(col("dfreq"), col("s"))
    val wN = Window.partitionBy("id")
    val prefix = sh.join(dfreq, "s")
      .select(col("id"), col("s"),
        row_number().over(wPos).as("pos"),
        count(lit(1)).over(wN).as("nsh"))
      .where(col("pos") <= col("nsh") - ceilT(t, col("nsh")) + 1)
      .select(col("id"), col("s"), col("nsh"))
    (sh, sets, prefix)
  }

  /** ⌈t·n⌉, made CONSERVATIVE under floating point: if double(t) > t
    * (e.g. t = 0.35), t·n can round just above an integer boundary,
    * inflating the ceiling — which would shorten the prefix / tighten the
    * size filter below the sound bound and silently drop qualifying pairs.
    * Subtracting 1e-9 (far above double error at any realistic |d|, far
    * below 1) restores exactness; at worst the prefix is one element longer
    * than necessary.
    */
  private def ceilT(t: Double, n: Column): Column = ceil(lit(t) * n - 1e-9)

  /** Exact verification of both prefix-filter joins: candidate pairs
    * (id_a, id_b) with set sizes `na`, `nb` and overlap `n_common`.
    */
  private def commonCounts(cand: DataFrame, sets: DataFrame): DataFrame = {
    val sa = sets.select(col("id").as("id_a"), col("arr").as("arr_a"), col("nsh").as("na"))
    val sb = sets.select(col("id").as("id_b"), col("arr").as("arr_b"), col("nsh").as("nb"))
    cand.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"),
        intersectCount(col("arr_a"), col("arr_b")).as("n_common"),
        col("na"), col("nb"))
  }

  /** |a ∩ b| of two sorted distinct gram-hash arrays, merge-counted in
    * codegen with no per-pair hash map (graft.functions.SortedIntersectCount). */
  private def intersectCount(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(graft.functions.SortedIntersectCount(
      org.apache.spark.sql.GraftBridge.expression(a),
      org.apache.spark.sql.GraftBridge.expression(b)))

  /** Cluster resolution — the stage every candidate-pair generator above
    * feeds at corpus scale: connected components over the pair graph,
    * returning (id, cluster) with cluster = the minimum id reachable
    * through pair edges (the canonical representative). Near-duplication
    * is not transitive, but dedup policy treats it as if it were (keep one
    * doc per component), so components are the unit of retention.
    *
    * Algorithm: iterative min-label propagation — per round each vertex
    * takes the min of its own label and its neighbors' labels: ONE shuffle
    * join + ONE hash aggregate per round, no driver-side graph. Converges
    * in graph-diameter rounds; near-dup components are small and dense
    * (diameter 2–4 in practice), so single-digit rounds. For adversarially
    * long chains swap the round body for the alternating large-star /
    * small-star rounds of Kiveris et al., "Connected Components in
    * MapReduce and Beyond" (SoCC 2014) — same join shape, O(log d) rounds.
    *
    * Scale notes: per-round driver work is one `count` (convergence
    * check). Each round's label table is materialized EAGERLY via
    * [[Checkpointer.truncate]], which cuts lineage — without it every
    * round's plan embeds all previous rounds' self-joins and Catalyst
    * planning time grows super-linearly (measured: a 12-round path took
    * minutes in planning alone; checkpointed, seconds). The default
    * `localCheckpoint` trades executor-loss tolerance for speed; on an
    * unreliable cluster set `spark.graft.checkpoint=reliable` (plus
    * `setCheckpointDir`) for durable blocks — same truncation.
    *
    * Docs with no pair edge are absent from the output — they are their
    * own cluster by definition ([[dedupResolve]] treats missing as keep).
    */
  def dedupClusters(pairs: DataFrame, idACol: String = "id_a",
                    idBCol: String = "id_b", maxRounds: Int = 25): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = pairs.select(col(idACol).as("src"), col(idBCol).as("dst"))
      .union(pairs.select(col(idBCol).as("src"), col(idACol).as("dst")))
      .distinct()
      .persist(lvl)
    registerCache(edges)
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("cluster"))
      .transform(Checkpointer.truncate)
    // Convergence detection without an extra per-round join: labels only
    // ever DECREASE (least of self and neighbor minima), so the label sum
    // strictly decreases iff any label changed — one cheap aggregate over
    // the already-materialized table per round. The sum runs in
    // DECIMAL(38,0): ids are arbitrary 63-bit values (hashed doc ids), so
    // a Long sum overflows after ~32 rows under ANSI mode, and a pmod-ed
    // sum would be UNSOUND here (a label drop of exactly k·P keeps the
    // residue sum unchanged → false convergence); decimal-38 is exact up
    // to ~10^19 rows.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("cluster").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var round = 0
    var converged = false
    while (!converged) {
      require(round < maxRounds,
        s"dedupClusters: no convergence in $maxRounds rounds — component " +
          "diameter exceeds the bound; raise maxRounds or switch the round " +
          "body to large-star/small-star (Kiveris SoCC'14)")
      val nbrMin = edges.join(labels, col("src") === col("id"))
        .groupBy(col("dst")).agg(min(col("cluster")).as("nbr_min"))
      val hop = labels
        .join(nbrMin, col("id") === col("dst"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster"))).as("cluster"))
      // pointer jumping (path doubling): follow the label's own label —
      // cluster ids are always vertex ids of the same component, so
      // label(label(v)) is defined and ≤ label(v); this squares the
      // propagation distance per round, collapsing diameter-d convergence
      // from ~d rounds to ~log2(d) (the classic Shiloach-Vishkin
      // shortcut). On the sf0.1 simhash pair graph: 6 rounds instead of
      // ~12; at test scale each round is fixed job overhead (~1 s), so
      // halving rounds is the lever — at cluster scale, where a round is
      // a real shuffle over the label table, it matters more.
      val hopA = hop.select(col("id"), col("cluster"))
      val hopB = hop.select(col("id").as("pid"), col("cluster").as("pcluster"))
      val next = hopA
        .join(hopB, col("cluster") === col("pid"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("pcluster"), col("cluster"))).as("cluster"))
        .transform(Checkpointer.truncate) // materialize + truncate lineage (see Scaladoc)
      val nextSum = labelSum(next)
      converged = nextSum == prevSum
      prevSum = nextSum
      labels = next
      round += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(s"[cc] round $round sum=$nextSum t=${System.nanoTime() / 1000000}")
    }
    labels
  }

  /** The adversarial-diameter variant of [[dedupClusters]]: alternating
    * large-star / small-star edge rewriting (Kiveris/Lattanzi/Mirrokni/
    * Rastogi/Vassilvitskii, "Connected Components in MapReduce and
    * Beyond", SoCC 2014). Each round rewrites the EDGE SET toward stars
    * rooted at component minima:
    *
    *   large-star(u): connect every neighbor v > u to m(u)
    *   small-star(u): connect every neighbor v ≤ u (and u) to m(u)
    *   with m(u) = min(Γ(u) ∪ {u})
    *
    * Converges in O(log² n) rounds REGARDLESS of diameter (min-label
    * propagation needs ~diameter rounds; pointer jumping ~log d — this
    * handles the pathological long-chain graphs both struggle with).
    * Per round: one neighbor-min aggregate + one join, same shuffle shape
    * as the simple variant. Output contract identical to
    * [[dedupClusters]] — pinned by CcEquivalenceSpec over adversarial
    * shapes. Use the simple variant for dense near-dup graphs (fewer
    * fixed costs); this one when components can chain.
    */
  def dedupClustersStars(pairs: DataFrame, idACol: String = "id_a",
                         idBCol: String = "id_b", maxRounds: Int = 40): DataFrame = {
    var edges = pairs
      .select(col(idACol).as("src"), col(idBCol).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .transform(Checkpointer.truncate)
    val vertices = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
      .transform(Checkpointer.truncate)

    def undirected(e: DataFrame): DataFrame =
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))

    // one star rewrite; `large` selects which neighbor side re-attaches
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val nbrs = undirected(e)
      val mins = nbrs.groupBy(col("src").as("u"))
        .agg(min(col("dst")).as("mnb"))
        .select(col("u"), least(col("u"), col("mnb")).as("m"))
      val j = nbrs.join(mins, col("src") === col("u"))
      val rewired =
        if (large)
          j.where(col("dst") > col("src"))
            .select(col("dst").as("src"), col("m").as("dst"))
        else
          j.where(col("dst") <= col("src"))
            .select(col("dst").as("src"), col("m").as("dst"))
            .union(mins.select(col("u").as("src"), col("m").as("dst")))
      rewired.where(col("src") =!= col("dst")).distinct()
    }

    // per-term pmod keeps the sums far from Long range (ANSI overflow)
    def checksum(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(pmod(col("src") + col("dst"), lit(P))), lit(0L)),
        coalesce(sum(pmod(xxhash64(col("src"), col("dst")), lit(P))), lit(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    var prev = checksum(edges)
    var round = 0
    var converged = false
    while (!converged && prev._1 > 0) {
      require(round < maxRounds,
        s"dedupClustersStars: no convergence in $maxRounds rounds")
      edges = star(star(edges, large = true), large = false).transform(Checkpointer.truncate)
      val cur = checksum(edges)
      converged = cur == prev
      prev = cur
      round += 1
    }
    // fixpoint: edges are (v, root) stars; roots label themselves (min
    // aggregate in case the fixpoint carries parallel star edges)
    val lbl = edges.groupBy(col("src").as("id")).agg(min(col("dst")).as("root"))
    vertices
      .join(lbl, Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("cluster"))
  }

  /** Retention: keep exactly one document per near-dup cluster — the
    * canonical (minimum-id) representative. Docs absent from the cluster
    * map had no near-dup pair and are kept. One broadcast-or-shuffle join;
    * the downstream corpus rewrite is the caller's write.
    */
  def dedupResolve(docs: DataFrame, clusters: DataFrame, idCol: String): DataFrame =
    docs.join(clusters.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .where(col("cluster").isNull || col("cluster") === col(idCol))
      .drop("cluster")

  /** Per-document n-gram NOVELTY: how much of a document's (distinct)
    * shingle set appears nowhere else in the corpus — the inverse of
    * boilerplate-ness as a per-doc scalar. Templates, mirrored pages and
    * stamp content score near 0; original prose near 10^6. The integral
    * `novelty_ppm = (n_novel · 10^6) div n_grams` keeps the contract
    * engine-exact.
    *
    * Plan at 100 TB: one exchange on the 8-byte shingle hash for the
    * document-frequency aggregate (map-side combine collapses hot grams),
    * one exchange back on the doc id for the per-doc counts. No pairwise
    * anything — novelty is the cheap corpus-wide signal that triages
    * BEFORE the pair-generating dedup operators run.
    */
  def noveltyScores(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val sh = gramHashes(df, idCol, textCol, n)
    // gramHashes is per-doc distinct, so count(*) per hash IS document
    // frequency
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("dfreq"))
    sh.join(dfreq, "s")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("dfreq") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr("(n_novel * 1000000L) div n_grams"))
  }

  /** SOFT dedup: instead of dropping near-duplicates, keep every document
    * and attach a sampling weight inversely proportional to its cluster
    * size — SoftDeDup-style reweighting (cf. "soft deduplication" /
    * duplication-aware training, e.g. He et al. 2024; the motivation is
    * Lee et al. 2022's finding that hard drops also discard the signal
    * that a passage is COMMON). A trainer samples (or scales loss) by the
    * weight, so n near-identical copies jointly contribute one document's
    * worth of gradient mass while all n remain available.
    *
    * Exact integer contract: `weight_ppm = 1_000_000 div cluster_size`
    * (docs with no near-dup pair have size 1 → weight 1_000_000), so
    * weights are BIGINTs, bit-identical on any engine — no IEEE division
    * in the contract. `cluster_size` rides along for threshold policies
    * ("drop only when size > 100, reweight below").
    *
    * Plan at 100 TB: the cluster map is |clustered docs| rows (near-dup
    * members only — typically a few % of the corpus); its size table is
    * one aggregate on the cluster key; the verdict joins back on the doc
    * id (left — misses mean size 1). The corpus pays one join; AQE
    * broadcast-demotes the size table when small.
    */
  def softDedupWeights(docs: DataFrame, clusters: DataFrame,
                       idCol: String): DataFrame = {
    val sized = clusters.join(
      clusters.groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size")),
      Seq("cluster"))
      .select(col("id").as(idCol), col("cluster_size"))
    docs.join(sized, Seq(idCol), "left")
      .withColumn("cluster_size", coalesce(col("cluster_size"), lit(1L)))
      .withColumn("weight_ppm", expr("1000000L div cluster_size"))
  }

  /** CCNet-style host-level template removal (Wenzek et al. 2020 strip
    * frequent lines per shard; here the shard key is the page's host, the
    * unit a site template actually repeats over): a line occurring in
    * `minDocs`+ DISTINCT documents of the same host is boilerplate — nav
    * bars, footers, cookie banners — and is removed from EVERY document of
    * that host; body lines survive even when they collide across hosts.
    *
    * Distribution shape (100 TB): the doc-frequency aggregate runs on the
    * map-side-deduplicated (host, lh, id) projection (hot template lines
    * collapse in the mapper) and is then FILTERED to the template set
    * before the join — the join side carries only lines in ≥ minDocs docs
    * of a host (boilerplate by definition: a bounded set per host), not
    * one row per distinct line of the corpus, so AQE demotes it to a
    * broadcast and the corpus-sized line table never shuffles for the
    * verdict; a left-join miss means "keep". The per-doc reassembly is
    * the one corpus-sized exchange. Conditional aggregation (not a
    * filter) keeps documents whose every line is template — they come
    * back with text_clean = "" instead of silently vanishing.
    */
  def hostBoilerplate(df: DataFrame, idCol: String, hostCol: String,
                      textCol: String, lineArray: Column => Column,
                      sep: String, minDocs: Long): DataFrame = {
    val id = col(idCol); val host = col(hostCol)
    // same CSE guard as lineDedup: materialize the interpreted HOF once
    val lines = df
      .select(id, host, lineArray(col(textCol)).as("la"))
      .select(id, host, posexplode(col("la")).as(Seq("line_no", "line")))
      .withColumn("lh", portableHash(col("line")))
    val boilerSet = lines.select(host, col("lh"), id).distinct()
      .groupBy(host, col("lh"))
      .agg(count(lit(1)).as("df_docs"))
      .where(col("df_docs") >= minDocs)
      .select(host, col("lh"), lit(true).as("__boiler"))
    val isBoiler = coalesce(col("__boiler"), lit(false))
    lines.join(boilerSet, Seq(hostCol, "lh"), "left")
      .groupBy(id)
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(isBoiler, 1L).otherwise(0L)).as("n_boiler"),
        array_join(
          transform(
            filter(
              array_sort(collect_list(struct(col("line_no"), col("line"),
                isBoiler.as("b")))),
              s => !s.getField("b")),
            s => s.getField("line")),
          sep).as("text_clean"))
  }

  /** C4-style corpus-level line deduplication: every line that occurs more
    * than once ACROSS the corpus keeps exactly its first occurrence (by
    * (id, position) order) and loses the rest; documents are rewritten from
    * their surviving lines (C4, Raffel et al. 2020 §2.2 — "we discarded all
    * but one of any three-sentence span occurring more than once").
    *
    * `lineArray` maps the text column to the array of line units (real
    * newline-split lines, sentence spans, or fixed word windows — the unit
    * is the caller's policy, the dedup is this function's).
    *
    * Plan at 100 TB: ONE exchange on the 8-byte line hash. The keep
    * decision is `row_number() = 1`, which Spark rewrites to
    * WindowGroupLimit with a map-side Partial pass — a boilerplate line
    * repeated on a billion pages contributes at most one row PER MAP TASK
    * to the shuffle, so hot lines (the entire point of line dedup) cannot
    * become hot shuffle keys. Reassembly is a second exchange on the doc
    * id; per-doc line totals ride the scan (`size(lineArray)`), so dropped
    * counts need no second pass over the losing rows. Collisions of the
    * 60-bit portable hash conflate distinct lines: n distinct lines hold
    * about n²/2^61 colliding pairs (≈ 0.4 at 10^9 lines), each of which
    * drops one line.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                lineArray: Column => Column, sep: String): DataFrame = {
    val id = col(idCol)
    // materialize the line array in its own projection: HOF lambdas run
    // interpreted and get NO common-subexpression elimination — naming
    // size(...) and posexplode(...) over the same lineArray expression
    // would evaluate the whole chunking fold twice per row
    val lines = df
      .select(id, lineArray(col(textCol)).as("la"))
      .select(id, size(col("la")).as("n_lines"),
        posexplode(col("la")).as(Seq("line_no", "line")))
      .withColumn("lh", portableHash(col("line")))
    val w = Window.partitionBy(col("lh")).orderBy(id, col("line_no"))
    val kept = lines
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1) // -> WindowGroupLimit (partial map-side)
    kept.groupBy(id)
      .agg(
        first(col("n_lines")).as("n_lines"),
        count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("line_no"), col("line")))),
            s => s.getField("line")),
          sep).as("text_dedup"))
      .withColumn("n_dropped", col("n_lines") - col("n_kept"))
      .drop("n_lines")
  }
}
