package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{GenerateExec, MapElementsExec, MapPartitionsExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Physical-plan regressions for the driver-catalog queries at sf0.001 —
  * the properties the 100 TB story depends on, pinned so a refactor that
  * silently degrades a plan (drops a broadcast, loses a pushed filter,
  * reintroduces a nested-loop join) fails `sbt test` instead of only
  * showing up as a slow benchmark row. Narrative with measurements lives
  * in PLANS.md; this spec is the executable subset.
  */
class CatalogPlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def plan(name: String): String = {
    assume(Files.exists(Paths.get(s"$sf/documents.parquet")), "driver testdata missing")
    val df = graft.SparkEntry.queries(name)(spark, sf)
    try {
      df.collect() // materialize so AQE finalizes the plan
      df.queryExecution.executedPlan.toString
    } finally graft.ops.TextDedup.releaseCaches()
  }

  test("no pair-join query plans a BroadcastNestedLoopJoin or CartesianProduct") {
    // the two operators that silently turn a 'join' into O(n^2) work;
    // checked on every dedup/ANN catalog row with a join shape.
    // Deliberately absent: q_ivf_topk (its only nested-loop is the
    // broadcast cross of the <=8-row centroid table — every vector scores
    // every centroid by construction, that IS the coarse quantizer; the
    // corpus-vs-corpus probe is asserted broadcast-equi below) and
    // q_cosine_topk (BRUTE-FORCE baseline: all-pairs scoring against a
    // broadcast query set is its definition; the scale paths are
    // q_ann_topk / q_ivf_topk, which must not nested-loop).
    Seq("q_minhash_pairs", "q_simhash_pairs", "q_ngram_jaccard",
      "q_embed_neardup", "q_ann_topk", "q_containment").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a BNLJ")
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
    }
  }

  test("q_temp_mix / q_shuffle: broadcast thresholds, shard-window rank, no O(n^2) shape") {
    // temperature mix: the threshold table rides a BroadcastExchange; the
    // corpus side pays the per-source aggregate + scan-side filter only
    val pMix = plan("q_temp_mix")
    assert(pMix.contains("BroadcastExchange"), s"thresholds must broadcast:\n$pMix")
    // deterministic shuffle: exactly ONE exchange of the corpus (on the
    // shard key) — a global sort would show a rangepartitioning exchange
    // on (h, id) instead (the orderBy in the catalog wrapper adds its own
    // final exchange; count hashpartitioning ones)
    val pSh = plan("q_shuffle")
    assert(pSh.contains("WindowGroupLimit") || pSh.contains("Window"),
      s"shuffle ranks inside a shard window:\n$pSh")
    assert(!pSh.contains("CartesianProduct"))
  }

  test("q_cosine_topk: query side broadcast, top-k bound pushed as WindowGroupLimit") {
    val p = plan("q_cosine_topk")
    assert(p.contains("BroadcastExchange"), s"query side must broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), s"rank bound must push map-side:\n$p")
  }

  test("q_ann_topk / q_ivf_topk: candidate generation is an equi-join with a broadcast side") {
    Seq("q_ann_topk", "q_ivf_topk").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: small side must broadcast:\n$p")
    }
  }

  test("q_sample_hash: scan-side filter, no exchange before the sample decision") {
    val p = plan("q_sample_hash")
    // the Bernoulli filter must evaluate in the scan stage; the only
    // exchange allowed is the final orderBy's range partitioning
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("rangepartitioning"))
    assert(exchanges == 0, s"hash sample must not shuffle to decide membership:\n$p")
  }

  test("q_repetition / q_pii_redact / q_normalize: scan-side signals, no exchange before the final sort") {
    Seq("q_repetition", "q_pii_redact", "q_normalize", "q_gopher_gate").foreach { q =>
      val p = plan(q)
      val exchanges = p.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("rangepartitioning"))
      assert(exchanges == 0, s"$q must compute per-row signals without a shuffle:\n$p")
    }
  }

  test("q_anchors: skew-safe two-phase distinct — first exchange spreads by (h, id)") {
    // A ubiquitous boilerplate substring is a hot anchor hash; the plan we
    // want is Spark's two-phase distinct aggregate, where the FIRST
    // exchange partitions by (h, id) — so a hash shared by millions of
    // docs spreads across reducers — and only pre-reduced partials ride
    // the second exchange on h. Pin the phase-1 keys and the map-side
    // partial before any exchange.
    val p = plan("q_anchors")
    assert("HashAggregate\\(keys=\\[h#\\d+L, id#\\d+L\\]".r.findFirstIn(p).isDefined,
      s"phase-1 aggregate must key on (h, id):\n$p")
    assert(p.contains("partial_count(distinct"),
      s"distinct count must be two-phase (partial before exchange):\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q_vocab: global top-k plans as TakeOrderedAndProject, not a full sort") {
    val p = plan("q_vocab")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
  }

  test("q_cdc_dup: span dedup is hash aggregates + an equi-join — no pairwise comparison") {
    val p = plan("q_cdc_dup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"CDC dup stats must never compare documents pairwise:\n$p")
    // hot-chunk detection is the skew-safe two-phase distinct on (ck, id)
    assert("HashAggregate\\(keys=\\[ck#\\d+L, id#\\d+L\\]".r.findFirstIn(p).isDefined,
      s"hot-chunk distinct count must spread hot hashes by (ck, id):\n$p")
  }

  test("q_quality_cut: ONE exchange — rank and group-size windows share it, no join") {
    val p = plan("q_quality_cut")
    // the size must NOT come from an aggregate joined back: Spark does not
    // dedupe common subplans, so that shape re-executes the whole upstream
    // plan (scan included) just to count rows per group
    assert(!p.contains("Join"), s"group size must ride the rank's window, not a join:\n$p")
    assert(p.contains("Window"), s"expected the per-group rank window:\n$p")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("rangepartitioning") &&
        !l.contains("REUSE"))
    // AQE prints final + initial plan; each shows the single hash exchange
    assert(exchanges <= 2, s"the rank and count windows must share one exchange:\n$p")
  }

  test("semDedup edge stage: within-cell pairs meet in an EQUI-join on the cell id") {
    // the stage that makes semantic dedup sub-quadratic; the only nested
    // loops allowed are the two broadcast crosses of the <=c-row centroid
    // table (the coarse quantizer itself — every vector scores every
    // centroid by construction).
    assume(Files.exists(Paths.get(s"$sf/embeddings.parquet")), "driver testdata missing")
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    val df = graft.ops.VectorSim.semDedupEdges(embs, "vec_id", "embedding",
      minCosine = 0.3, c = 4)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"no cartesian product:\n$p")
    // any nested loop must be a broadcast build (the <=c-row centroid/seed
    // table) — a shuffled nested loop over the corpus side is the bug
    assert(p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .forall(_.contains("BuildRight")),
      s"every nested loop must broadcast its (tiny) right side:\n$p")
    assert("(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[cid#\\d+L?\\]".r
      .findFirstIn(p).isDefined,
      s"the pair join must be an equi-join keyed on the cell id:\n$p")
  }

  test("q_curate: six stages, ONE scan, two big-side exchanges, dedup bound pushed") {
    val p = plan("q_curate")
    assert(!p.contains("Join"), s"no join anywhere in the pipeline:\n$p")
    // dedup's rank-1 bound must combine map-side before its exchange
    assert(p.contains("row_number(), 1, Partial"),
      s"dedup rank-1 must push below the exchange (WindowGroupLimit Partial):\n$p")
    val initIdx = p.indexOf("== Initial Plan ==")
    val finalPlan = if (initIdx >= 0) p.substring(0, initIdx) else p
    assert(finalPlan.linesIterator.count(_.contains("FileScan parquet")) == 1,
      s"the corpus must be scanned exactly once:\n$p")
    val exchanges = finalPlan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("rangepartitioning"))
    assert(exchanges == 2,
      s"exactly two big-side exchanges (dedup hash, group key):\n$p")
  }

  test("q_asof: as-of join is ONE sorted window pass — no join operator at all") {
    val p = plan("q_asof")
    assert(p.contains("Window"), s"expected the union sort-merge window:\n$p")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"as-of must never degenerate to a nested-loop join:\n$p")
  }

  test("q_range_join: interval containment reduces to an equi-join on the bin") {
    // A raw BETWEEN theta-join plans BroadcastNestedLoopJoin; the binned
    // reformulation must meet in a shuffled/broadcast EQUI-join.
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join must not BNLJ:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected an equi-join on the time bin:\n$p")
  }

  test("q_incremental: bloom prunes the anti-join probe side, built as ONE scalar subquery") {
    val p = plan("q_incremental")
    assert(p.contains("might_contain"), s"bloom pre-filter must be in the plan:\n$p")
    assert(p.contains("LeftAnti"), s"residual exactness check must be an anti-join:\n$p")
    // ReuseSubquery: both branches reference the SAME bloom build — the
    // seen side is aggregated into a sketch once, not once per branch.
    assert("ReusedSubquery|ReusedExchange".r.findFirstIn(p).isDefined ||
      "bloom_filter_agg".r.findAllIn(p).size <= 2,
      s"bloom build should be shared across the two branches:\n$p")
  }

  test("q_decontam: bench gram set broadcast; training grams never sort-merge") {
    val p = plan("q_decontam")
    assert(p.contains("BroadcastHashJoin"), s"bench side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"training grams must not shuffle into a sort-merge:\n$p")
  }

  test("q_host_cap: per-host quota bound pushed map-side as WindowGroupLimit") {
    val p = plan("q_host_cap")
    assert(p.contains("WindowGroupLimit"), s"cap must push before the exchange:\n$p")
  }

  test("q_report: one scan, one aggregate with map-side partial combine") {
    val p = plan("q_report")
    assert(!p.contains("Join"), s"the data card must not join:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"report sums must combine map-side before the exchange:\n$p")
    val initIdx = p.indexOf("== Initial Plan ==")
    val finalPlan = if (initIdx >= 0) p.substring(0, initIdx) else p
    assert(finalPlan.linesIterator.count(_.contains("FileScan parquet")) == 1,
      s"one scan:\n$p")
  }

  test("q_stats / q_token_count: partial aggregation before the exchange (map-side combine)") {
    Seq("q_stats", "q_token_count").foreach { q =>
      val p = plan(q)
      val firstAgg = p.linesIterator.indexWhere(_.contains("HashAggregate"))
      assert(firstAgg >= 0, s"$q: expected hash aggregation:\n$p")
      assert(p.contains("partial_"), s"$q: aggregation must have a partial (map-side) phase:\n$p")
    }
  }

  test("q_fingerprint: single pass, no shuffle beyond the final sort") {
    val p = plan("q_fingerprint")
    val nonSortExchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("rangepartitioning"))
    assert(nonSortExchanges == 0,
      s"scan-side fingerprint must not shuffle:\n$p")
    assert(!p.contains("Generate") || p.contains("inline"),
      s"fingerprint must not explode grams:\n$p")
  }

  test("q_line_dedup: keep decision rides WindowGroupLimit on the real catalog query") {
    val p = plan("q_line_dedup")
    assert(p.contains("WindowGroupLimit"),
      s"hot boilerplate lines must be capped map-side:\n$p")
  }

  test("q_robots / q_mix: decision tables broadcast, corpus never repartitions") {
    Seq("q_robots", "q_mix").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$q: the tiny rule/threshold table must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q: the corpus must not sort-merge against a host-cardinality table:\n$p")
    }
  }

  test("q_lm_score: model joins are equi-joins, no cartesian against the corpus") {
    val p = plan("q_lm_score")
    assert(!p.contains("CartesianProduct"), s"q_lm_score must not cartesian:\n$p")
    assert(p.contains("partial_"),
      s"model counts must combine map-side before their exchange:\n$p")
  }

  test("q_ml_quality: tf pre-aggregates before the broadcast model join") {
    val p = plan("q_ml_quality")
    assert(p.contains("BroadcastHashJoin"), s"model table must broadcast:\n$p")
    val join = p.indexOf("BroadcastHashJoin")
    val agg = p.indexOf("partial_count")
    assert(agg >= 0 && agg > join,
      s"tf partial aggregate must sit below (after in toString) the join:\n$p")
  }

  // ------------------------------------------------------ round-4 queries

  test("q_host_boiler: the template SET broadcasts — corpus lines never shuffle for the verdict") {
    val p = plan("q_host_boiler")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"template detection must not compare documents pairwise:\n$p")
    // the join side is filtered to df >= minDocs BEFORE the join: bounded
    // boilerplate, so AQE demotes it to a broadcast build
    assert(p.contains("BroadcastHashJoin"),
      s"the filtered template set must broadcast:\n$p")
    // within-doc repeats die map-side before the doc-frequency count
    assert(p.contains("partial_count"),
      s"doc-frequency must combine map-side:\n$p")
  }

  test("q_dsir: ratio table broadcast — the corpus never shuffles to be scored") {
    val p = plan("q_dsir")
    assert(p.contains("BroadcastHashJoin"),
      s"the bucket-bounded ratio table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the corpus must not sort-merge against a <=1024-row table:\n$p")
  }

  test("q_substr_dedup: keep-first dedup WITHOUT a window on the chunk key") {
    // the winner rides min(struct(id, idx)) inside the hot-chunk aggregate;
    // a Window here would sort every occurrence of a hot boilerplate chunk
    // in one task — the exact skew this op is designed to avoid
    val p = plan("q_substr_dedup")
    assert(!p.contains("Window") || p.contains("WindowGroupLimit"),
      s"no window may sort the chunk key:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    // hot-chunk distinct count stays skew-safe two-phase on (ck, id) —
    // SortAggregate, not HashAggregate: min(struct) has a non-mutable
    // buffer, so Spark picks the sort-based aggregate; the skew property
    // (phase-1 keys spread a hot hash across reducers) is in the KEYS
    assert("(Hash|Sort)Aggregate\\(keys?=\\[ck#\\d+L, id#\\d+L\\]".r.findFirstIn(p).isDefined,
      s"hot-chunk distinct must spread by (ck, id):\n$p")
  }

  test("q_anchor_text / q_warc_extract: harvest stages never join or cartesian") {
    Seq("q_anchor_text", "q_warc_extract").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join") && !p.contains("CartesianProduct"),
        s"$q: the harvest path is scan-shaped, no join belongs in it:\n$p")
    }
  }

  // ------------------------------------------------- round-4 late queries

  test("q_sanitize / q_badwords / q_compress_ratio / q_frame_sample: scan-side, no shuffle, no join") {
    // per-row signals (invisible-char strip, blocklist gate, deflate ratio,
    // frame spans) must all evaluate in the scan stage; the only exchange
    // allowed is the final orderBy's range partitioning. frame_sample's
    // Generate is explode(sequence(frame spans)) — span arithmetic, never
    // a per-byte or per-token explosion.
    Seq("q_sanitize", "q_badwords", "q_compress_ratio", "q_frame_sample").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join") && !p.contains("CartesianProduct"),
        s"$q: per-row signal must not join:\n$p")
      val exchanges = p.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("rangepartitioning"))
      assert(exchanges == 0, s"$q must compute per-row signals without a shuffle:\n$p")
    }
  }

  test("q_seq_windows / q_pack: ONE exchange on the shard key, spans never explode tokens") {
    // the pretraining sharders: a window cumsum partitioned by shard/source
    // is the single big-side exchange; token positions ride integral span
    // arithmetic (off div seqLen), so no row ever fans out per token.
    Seq("q_seq_windows", "q_pack").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q: the sharder must not join:\n$p")
      val initIdx = p.indexOf("== Initial Plan ==")
      val finalPlan = if (initIdx >= 0) p.substring(0, initIdx) else p
      val exchanges = finalPlan.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("rangepartitioning"))
      assert(exchanges == 1,
        s"$q: exactly one hash exchange (the shard window):\n$p")
    }
  }

  test("q_decontam_frac: gram containment meets in an equi-join, never all-pairs") {
    val p = plan("q_decontam_frac")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"fractional containment must never compare documents pairwise:\n$p")
  }

  test("q_pq_topk: ADC is broadcast/equi only — codes, LUT, and ranks never nest") {
    // the PQ promise: after encoding, the corpus is m code rows per vector
    // and every scoring join is a broadcast hash join (codebook by sub,
    // LUT by (sub, cid)); the top-k bound pushes down as WindowGroupLimit.
    val p = plan("q_pq_topk")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"ADC must never plan a nested loop:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"LUT join must broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), s"top-k must push down:\n$p")
  }

  test("q_postings / q_search: index build is ONE corpus exchange; retrieval broadcasts") {
    val pp = plan("q_postings")
    assert(!pp.contains("Join"), s"the index build must not join:\n$pp")
    val ps = plan("q_search")
    val initIdx = ps.indexOf("== Initial Plan ==")
    val f = if (initIdx >= 0) ps.substring(0, initIdx) else ps
    // only the 1-row corpus-stats broadcast may nested-loop
    assert(f.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1,
      s"q_search: only the 1-row stats cross may nest:\n$ps")
    assert(f.contains("BroadcastHashJoin"), s"q_search: term joins broadcast:\n$ps")
    assert(f.contains("WindowGroupLimit"), s"q_search: top-k pushes down:\n$ps")
  }

  test("q_hll_agg / q_cms_agg: ObjectHashAggregate partial+final, ONE exchange of array buffers") {
    // the TypedImperativeAggregate promise: per-group register/counter
    // buffers combine map-side (partial ObjectHashAggregate before the
    // exchange), so the shuffle carries one buffer row per (group, task)
    Seq("q_hll_agg", "q_cms_agg").foreach { q =>
      val p = plan(q)
      val initIdx = p.indexOf("== Initial Plan ==")
      val f = if (initIdx >= 0) p.substring(0, initIdx) else p
      assert(f.contains("ObjectHashAggregate"), s"$q: sketch must aggregate as objects:\n$p")
      assert(!f.contains("Join"), s"$q: the aggregate form must not join:\n$p")
      assert(f.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning")) == 1,
        s"$q: one exchange of partially-merged buffers:\n$p")
    }
  }

  // The global sketch rows run the same aggregate with no group key: each
  // task merges its tokens into one buffer (partial_<fn>), the buffers meet
  // in ONE single-partition exchange, and posexplode of the dense array
  // yields every register — so the token stream never shuffles and no join
  // or fill frame is needed. Returns the final (post-AQE) plan text.
  private def globalSketchPlan(q: String, fn: String): String = {
    val p = plan(q)
    val initIdx = p.indexOf("== Initial Plan ==")
    val f = if (initIdx >= 0) p.substring(0, initIdx) else p
    val partial = f.indexOf(s"partial_$fn")
    val exchange = f.indexOf("Exchange SinglePartition")
    assert(f.contains("ObjectHashAggregate") && partial >= 0,
      s"$q: registers must combine map-side in an object aggregate:\n$p")
    assert(f.linesIterator.count(_.contains("Exchange SinglePartition")) == 1,
      s"$q: one constant-size exchange of partially-merged buffers:\n$p")
    // the plan prints root first, so the partial aggregate sits BELOW
    // (after) the exchange it feeds
    assert(exchange >= 0 && exchange < partial,
      s"$q: the partial merge must run before the exchange:\n$p")
    assert(!f.contains("hashpartitioning"),
      s"$q: the global sketch must not hash-partition:\n$p")
    assert(!f.contains("CartesianProduct"), s"$q: no cartesian:\n$p")
    f
  }

  test("q_hll: registers reduce map-side (partial max), constant-size exchange") {
    // the buffer merge is a per-register max, so partial_hll_sketch is the
    // partial max over each task's tokens
    globalSketchPlan("q_hll", "hll_sketch")
  }

  test("q_cms: corpus collapses to registers BEFORE any join; fill frame is the only nested loop") {
    // the depth x width counter array is dense, so posexplode emits every
    // (i, bucket) cell and the old Range fill frame — once the only nested
    // loop — is gone: the plan has no join and no nested loop at all
    val f = globalSketchPlan("q_cms", "cms_sketch")
    assert(!f.contains("Join"), s"q_cms: the counters must not join, nested loop or not:\n$f")
  }

  test("q_topk_agg: k-bounded buffers replace the rank window — no Window operator") {
    // the aggregate form's promise vs the window formulation: candidate
    // rows combine map-side into ≤k-entry ObjectHashAggregate buffers;
    // no Window/WindowGroupLimit, no join, one hash exchange of buffers
    val p = plan("q_topk_agg")
    val initIdx = p.indexOf("== Initial Plan ==")
    val f = if (initIdx >= 0) p.substring(0, initIdx) else p
    assert(f.contains("ObjectHashAggregate"), s"top-k must aggregate as objects:\n$p")
    assert(!f.contains("Window"), s"the aggregate form must not plan a window:\n$p")
    assert(!f.contains("Join"), s"the aggregate form must not join:\n$p")
    assert(f.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning")) == 1,
      s"one exchange of k-bounded buffers:\n$p")
  }

  test("q_text_embed / q_text_ann: embedding is ONE exchange; ANN stays equi-join") {
    val pe = plan("q_text_embed")
    val initE = pe.indexOf("== Initial Plan ==")
    val fe = if (initE >= 0) pe.substring(0, initE) else pe
    assert(!fe.contains("Join"), s"the featurizer must not join:\n$pe")
    assert(fe.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning")) == 1,
      s"one (id) exchange with map-side partial sums:\n$pe")
    val pa = plan("q_text_ann")
    assert(!pa.contains("BroadcastNestedLoopJoin") && !pa.contains("CartesianProduct"),
      s"the composed ANN must stay a bucket equi-join:\n$pa")
    assert(pa.contains("WindowGroupLimit"), s"top-k must push down:\n$pa")
  }

  test("q_hits / q_pagerank: iterative rounds never cartesian; normalizers broadcast") {
    // per-round lineage is checkpoint-truncated, so the executed plan shows
    // the final round: score propagation must meet edges in an equi-join,
    // and the only nested loop allowed is the broadcast of the 1-row
    // round-max/teleport normalizer.
    Seq("q_hits", "q_pagerank").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q must not cartesian:\n$p")
      // hits: exactly the two 1-row round-max broadcasts (one per score
      // axis) may plan as nested loops; pagerank's final round is fully
      // truncated, so none at all
      val initIdx = p.indexOf("== Initial Plan ==")
      val finalPlan = if (initIdx >= 0) p.substring(0, initIdx) else p
      val bnlj = finalPlan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
      assert(bnlj <= 2,
        s"$q: only the 1-row normalizer broadcasts may nested-loop (saw $bnlj):\n$p")
    }
  }

  test("q_page_meta / q_sitemap: tokenizer harvest rides the scan — no exchange before the final sort") {
    Seq("q_page_meta", "q_sitemap").foreach { q =>
      val p = plan(q)
      val exchanges = p.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("rangepartitioning"))
      assert(exchanges == 0, s"$q: harvest must not shuffle:\n$p")
      assert(!p.contains("Join"), s"$q must not join:\n$p")
    }
  }

  // AQE's toString carries Final AND Initial plans — count on the final only
  private def finalPlanOf(p: String): String = {
    val initIdx = p.indexOf("== Initial Plan ==")
    if (initIdx >= 0) p.substring(0, initIdx) else p
  }

  test("q_upsert: merge is ONE algebraic aggregate — partial max map-side, no window, no join") {
    val p = plan("q_upsert")
    assert(!p.contains("Window"), s"latest-wins must not rank-window:\n$p")
    assert(!p.contains("Join"), s"latest-wins must not join:\n$p")
    assert(p.contains("partial_max") || p.contains("partial max"),
      s"dup collapse must happen map-side before the exchange:\n$p")
    val hashEx = finalPlanOf(p).linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"exactly one key exchange (saw $hashEx):\n$p")
  }

  test("q_frontier: canon+domain ride the scan; two key exchanges, no window over corpus") {
    val p = plan("q_frontier")
    assert(!p.contains("Window"), s"schedule must use the k-bounded aggregate:\n$p")
    assert(!p.contains("Join"), s"frontier must not join:\n$p")
    val hashEx = finalPlanOf(p).linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashEx == 2,
      s"exactly dedup(curl) + schedule(domain) exchanges (saw $hashEx):\n$p")
  }

  test("q_ann_recall: recall joins meet on (query_id, nbr_id) equi keys — never all-pairs") {
    val p = plan("q_ann_recall")
    assert(!p.contains("CartesianProduct"), s"recall must not cartesian:\n$p")
    val initIdx = p.indexOf("== Initial Plan ==")
    val finalPlan = if (initIdx >= 0) p.substring(0, initIdx) else p
    // the only nested loops allowed are the centroid/query broadcasts the
    // underlying ANN kernels already pin elsewhere
    assert(!finalPlan.linesIterator.exists(l =>
      l.contains("BroadcastNestedLoopJoin") && !l.contains("BuildRight")),
      s"q_ann_recall: unexpected nested loop:\n$p")
  }

  test("q_surt / q_url_filter / q_sniff / q_lang_profile / q_cdx / q_feed: scan-side, no join, no pre-sort exchange") {
    // url canonicalization, the pre-fetch gate, magic-byte routing,
    // profile language ID, index parse, feed harvest: all per-row Column
    // arithmetic (or the sanctioned tokenizer flatMap) that must fuse into
    // the scan — the only exchange allowed is the final orderBy's range
    // partitioning.
    Seq("q_surt", "q_url_filter", "q_sniff", "q_lang_profile", "q_cdx",
      "q_feed", "q_script_mix", "q_http").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join") && !p.contains("CartesianProduct"),
        s"$q: per-row op must not join:\n$p")
      assert(!p.contains("Window"), s"$q must not window:\n$p")
      val exchanges = finalPlanOf(p).linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("rangepartitioning"))
      assert(exchanges == 0, s"$q must not shuffle:\n$p")
    }
  }

  test("q_url_template: ONE count aggregate on (host, template) — map-side combine, no window, no join") {
    val p = plan("q_url_template")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"template mining must stay an aggregate:\n$p")
    val hashEx = finalPlanOf(p).linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"exactly one key exchange (saw $hashEx):\n$p")
  }

  test("q_recrawl: index join meets on the SURT equi key — no nested loop, no window") {
    val p = plan("q_recrawl")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"recrawl must equi-join:\n$p")
    assert(!p.contains("Window"), s"recrawl must not window:\n$p")
  }

  test("q_dedup_eval: candidate/truth meet on (id_a,id_b) equi keys — never all-pairs") {
    val p = plan("q_dedup_eval")
    assert(!p.contains("CartesianProduct"), s"eval must not cartesian:\n$p")
    assert(!finalPlanOf(p).contains("BroadcastNestedLoopJoin"),
      s"eval must not nested-loop:\n$p")
  }

  test("q_sitemap_deep: recursive resolution is an equi fetch-join between two scan-side parses") {
    val p = plan("q_sitemap_deep")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"recursive sitemap fetch must equi-join:\n$p")
    assert(!p.contains("Window"), s"no window anywhere:\n$p")
  }

  test("q_discovery: first-source-wins dedup is ONE algebraic aggregate — no window, no join") {
    val p = plan("q_discovery")
    assert(!p.contains("Window"), s"frontier dedup must not rank-window:\n$p")
    assert(!p.contains("Join"), s"discovery must not join:\n$p")
    assert(p.contains("partial_min") || p.contains("partial min"),
      s"source preference must collapse map-side before the exchange:\n$p")
    val hashEx = finalPlanOf(p).linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"exactly one key exchange (saw $hashEx):\n$p")
  }

  /** Every node of an executed plan, stepping into AQE query stages and,
    * once per cache, into the plan that fills an in-memory cache.
    */
  private def planNodes(root: SparkPlan): Seq[SparkPlan] = {
    val seenCaches = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case m: InMemoryTableScanExec =>
        if (seenCaches.add(m.relation.cacheBuilder)) walk(m.relation.cacheBuilder.cachedPlan) else Nil
      case _ => p.children.flatMap(walk)
    })
    walk(root)
  }

  test("q_ngram_jaccard / q_containment: documents shingled once, every consumer scans the gram cache") {
    assume(Files.exists(Paths.get(s"$sf/documents.parquet")), "sf0.001 testdata missing")
    def shingles(nodes: Seq[SparkPlan]): Int = nodes.count {
      case g: GenerateExec => g.generator.isInstanceOf[graft.functions.WordShinglesGenerator]
      case _ => false
    }
    // the plan without the plans that fill in-memory caches
    def outsideCaches(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => outsideCaches(a.executedPlan)
      case q: QueryStageExec => outsideCaches(q.plan)
      case _: InMemoryTableScanExec => Nil
      case _ => p.children.flatMap(outsideCaches)
    })
    Seq("q_ngram_jaccard", "q_containment").foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, sf)
      try {
        df.collect()
        val root = df.queryExecution.executedPlan
        assert(shingles(planNodes(root)) == 1, s"$q: one WordShingles generator:\n$root")
        val outside = outsideCaches(root)
        val scans = outside.collect { case m: InMemoryTableScanExec => m.relation.cacheBuilder }
        assert(shingles(outside) == 0 && scans.nonEmpty && scans.distinct.size == 1,
          s"$q: every gram consumer reads the one persisted gram table:\n$root")
      } finally graft.ops.TextDedup.releaseCaches()
    }
  }

  /** Checks that `df`'s per-document map reads a range split of the
    * documents table: exactly one range exchange on doc_id, into 4
    * partitions that AQE leaves uncoalesced, below a typed map. Returns
    * the plan's nodes and that exchange.
    */
  private def spreadBelowMap(what: String, df: DataFrame): (Seq[SparkPlan], SparkPlan) = {
    val nodes = planNodes(df.queryExecution.executedPlan)
    val p = df.queryExecution.executedPlan.toString
    val byDocId = nodes.collect {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case RangePartitioning(ord, _) => ord.flatMap(_.references.map(_.name)) == Seq("doc_id")
        case _ => false
      }) => e
    }
    assert(byDocId.length == 1, s"$what: one range exchange on doc_id (saw ${byDocId.length}):\n$p")
    val ex = byDocId.head
    assert(ex.outputPartitioning.numPartitions == 4, s"$what: split into 4:\n$p")
    assert(!nodes.exists {
      case AQEShuffleReadExec(q: QueryStageExec, _) => q.plan eq ex
      case _ => false
    }, s"$what: AQE must not coalesce the split:\n$p")
    def above(n: SparkPlan) = planNodes(n).exists(_ eq ex)
    assert(nodes.exists {
      case m @ (_: MapElementsExec | _: MapPartitionsExec) => above(m)
      case _ => false
    }, s"$what: the split must sit below the per-document map:\n$p")
    (nodes, ex)
  }

  test("codec and parse rows: documents range-split below the map, no exchange above it") {
    assume(Files.exists(Paths.get(s"$sf/documents.parquet")), "sf0.001 testdata missing")
    val inOrder = Seq("q_png_phash", "q_jpeg_phash", "q_pdf_xrefstream", "q_pdf_encrypted",
      "q_pdf_annots", "q_pdf_meta", "q_html_extract", "q_llm_merge", "q_construction_items")
      .map(q => q -> graft.SparkEntry.queries(q)(spark, sf)) :+
      ("entry" -> graft.Queries.entry(spark, sf))
    inOrder.foreach { case (q, df) =>
      val ids = df.collect().map(_.getAs[Long]("doc_id"))
      val (nodes, ex) = spreadBelowMap(q, df)
      assert(nodes.collect { case e: Exchange => e } == Seq(ex),
        s"$q: no exchange above the map:\n${df.queryExecution.executedPlan}")
      assert(df.rdd.getNumPartitions == 4, s"$q: map output in 4 partitions")
      assert(ids.nonEmpty && ids.toSeq.zip(ids.tail).forall { case (a, b) => a <= b },
        s"$q: doc_ids must leave in key order")
    }
    // the pair rows and the digest shuffle again above the map (join,
    // aggregate): only their media/document side is checked
    Seq("q_png_phash_pairs", "q_cross_format_pairs", "q_entry_digest").foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, sf)
      try { df.collect(); spreadBelowMap(q, df) }
      finally graft.ops.TextDedup.releaseCaches()
    }
  }
}
