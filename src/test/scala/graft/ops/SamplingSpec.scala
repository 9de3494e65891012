package graft.ops

import graft.functions.HllSketchAgg
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The sampling contracts: hash-keyed determinism (partitioning-invariant),
  * exact split disjointness/completeness, exact per-stratum quotas, and
  * the skew-safe plan (WindowGroupLimit pushes the rank bound map-side).
  */
class SamplingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The salted id position the samplers key on, portableHash(string(id)
    * ++ salt) mod 10^6, recomputed on the driver.
    */
  private def pos(id: Long, salt: String = ""): Long =
    HllSketchAgg.hash60(UTF8String.fromString(id.toString + salt)) % 1000000L

  /** The first id at or after `from` whose position lies in [lo, hi). */
  private def idAt(lo: Long, hi: Long, from: Long = 0L): Long =
    Iterator.iterate(from)(_ + 1).find { id => val p = pos(id); p >= lo && p < hi }.get

  /** One id per hash decile: the i-th has its position in [i·10^5, (i+1)·10^5). */
  private def decileIds(from: Long): Seq[Long] =
    (0 until 10).map(i => idAt(i * 100000L, (i + 1) * 100000L, from))

  private def corpus = {
    val s = spark
    s.range(0, 2000).select(col("id").as("doc_id"),
      concat(lit("src-"), pmod(col("id"), lit(3)).cast("string")).as("source"))
  }

  test("hashSample is partitioning-invariant (df.sample is not a contract; this is)") {
    val a = Sampling.hashSample(corpus, "doc_id", 0.3).collect().map(_.getLong(0)).toSet
    val b = Sampling.hashSample(corpus.repartition(17), "doc_id", 0.3)
      .collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty && a.size < 2000)
    // fraction lands near the target (hash uniformity, not a seed promise)
    assert(math.abs(a.size / 2000.0 - 0.3) < 0.05)
    // independent salts give different draws
    val c = Sampling.hashSample(corpus, "doc_id", 0.3, salt = "other")
      .collect().map(_.getLong(0)).toSet
    assert(a != c)
  }

  test("prioritySample: brute-force parity, small-input exactness, TakeOrdered plan") {
    val s = spark
    import s.implicits._
    val rows = (0L until 500L).map(i => (i, 1L + (i * 37) % 200)) // skewed weights
    val df = rows.toDF("doc_id", "w")
    val got = Sampling.prioritySample(df, "doc_id", "w", k = 25, salt = "t")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    // brute force with the documented arithmetic (hash60 == portableHash,
    // pinned in HllSketchAggSpec)
    def q(id: Long, w: Long): Double = {
      val h = graft.functions.HllSketchAgg.hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(id.toString + "t"))
      w.toDouble * 1073741824.0 / ((h % 1073741824L + 1L).toDouble)
    }
    val ranked = rows.map { case (id, w) => (q(id, w), id, w) }
      .sortBy { case (qq, id, _) => (-qq, id) }
    val tau = ranked(25)._1
    val expect = ranked.take(25)
      .map { case (qq, id, w) => id -> ((w.toDouble, math.max(w.toDouble, tau))) }
      .toMap
    assert(got == expect)
    assert(got.values.forall { case (w, e) => e >= w }, "est_w >= w always")
    // partitioning invariance
    val again = Sampling.prioritySample(df.repartition(13), "doc_id", "w",
        k = 25, salt = "t")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(again == got)
    // input <= k: everything kept and the estimator is EXACT (tau = 0)
    val small = Sampling.prioritySample(df.where(col("doc_id") < 10), "doc_id",
        "w", k = 25, salt = "t")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
    assert(small.length == 10 && small.forall { case (_, (w, e)) => e == w })
    // plan: per-partition top-k heaps, not a global sort
    val plan = Sampling.prioritySample(df, "doc_id", "w", k = 25, salt = "t")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"selection must not global-sort:\n$plan")
  }

  test("hashSplit: exact partition of the corpus — disjoint and complete") {
    val splits = Sampling.hashSplit(corpus, "doc_id", Seq(0.8, 0.1, 0.1), salt = "sp")
    val sets = splits.map(_.collect().map(_.getLong(0)).toSet)
    assert(sets.map(_.size).sum == 2000)          // complete: no row dropped
    assert(sets.combinations(2).forall { case Seq(x, y) => (x & y).isEmpty }) // disjoint
    assert(sets.head.size > 1400)                 // ~80% split is the big one
  }

  test("stratifiedQuota: exact quota per stratum, deterministic, WindowGroupLimit plan") {
    val q = Sampling.stratifiedQuota(corpus, "source", "doc_id", n = 7)
    val rows = q.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.groupBy(_._2).forall(_._2.length == 7)) // 3 strata × 7
    // deterministic under repartitioning
    val again = Sampling.stratifiedQuota(corpus.repartition(13), "source", "doc_id", n = 7)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSet == again.toSet)
    // small stratum: quota larger than the stratum keeps the whole stratum
    val small = corpus.where(col("doc_id") < 4)
    assert(Sampling.stratifiedQuota(small, "source", "doc_id", n = 7).count() == 4)
    // skew safety: the rank bound must be pushed below the exchange
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
  }

  test("packBudget: contiguous greedy packs, oversized docs, shard independence") {
    val s = spark; import s.implicits._
    val df = Seq(
      // shard A: 600+600+600 → pack0(1200 before third crosses? tok_before:
      // 0,600,1200) → packs 0,0,1 at budget 1000; then a 2500-token doc
      // (tok_before 1800 → pack 1), then 100 (tok_before 4300 → pack 4)
      ("A", 1L, 600L), ("A", 2L, 600L), ("A", 3L, 600L), ("A", 4L, 2500L), ("A", 5L, 100L),
      // shard B packs independently from zero
      ("B", 1L, 999L), ("B", 2L, 2L))
      .toDF("shard", "doc_id", "toks")
    val got = Sampling.packBudget(df, "shard", "doc_id", "toks", budget = 1000L)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(got == Map(
      ("A", 1L) -> 0L, ("A", 2L) -> 0L, ("A", 3L) -> 1L, ("A", 4L) -> 1L, ("A", 5L) -> 4L,
      ("B", 1L) -> 0L, ("B", 2L) -> 0L))
    // packs are contiguous id ranges within a shard (monotone non-decreasing)
    val aPacks = Sampling.packBudget(df, "shard", "doc_id", "toks", 1000L)
      .where(col("shard") === "A").orderBy("doc_id").collect().map(_.getLong(3))
    assert(aPacks.sameElements(aPacks.sorted))
  }

  test("topFracByGroup: exact ceil quota, tie-break by id, partitioning-invariant") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(31)
    // three groups of different sizes, scores with deliberate ties
    val rows = (0L until 700L).map { i =>
      val g = if (i < 500) "big" else if (i < 690) "mid" else "tiny"
      (i, g, (rnd.nextInt(20) / 10.0)) // heavy ties: 20 distinct scores
    }
    val df = rows.toDF("doc_id", "grp", "score")
    val got = Sampling.topFracByGroup(df, "grp", "doc_id", "score", frac = 0.23)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))

    // quota = ceil(frac * n) exactly, per group
    val sizes = rows.groupBy(_._2).view.mapValues(_.size).toMap
    val byGrp = got.groupBy(_._2)
    for ((g, n) <- sizes)
      assert(byGrp(g).length == math.ceil(0.23 * n).toLong,
        s"group $g: got ${byGrp(g).length} of $n")

    // selection = brute-force top quota by (score desc, id asc)
    for ((g, picked) <- byGrp) {
      val exp = rows.filter(_._2 == g).sortBy(r => (-r._3, r._1))
        .take(picked.length).map(_._1).toSet
      assert(picked.map(_._1).toSet == exp, s"group $g selection mismatch")
    }

    // invariant under repartitioning (a reproducibility contract)
    val again = Sampling.topFracByGroup(df.repartition(13), "grp", "doc_id", "score", 0.23)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(again == got.map(r => (r._1, r._2)).toSet)

    // every non-empty group keeps at least one row, even at tiny frac
    val one = Sampling.topFracByGroup(df, "grp", "doc_id", "score", frac = 0.0001)
      .collect().map(r => r.getString(1))
    assert(one.groupBy(identity).view.mapValues(_.length).toMap ==
      Map("big" -> 1, "mid" -> 1, "tiny" -> 1))
  }

  test("topFracByGroupApprox: sketch cut ≈ exact cut, no sort in the plan") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(53)
    // tie-free scores: the value threshold selects an exact prefix
    val rows = (0L until 900L).map { i =>
      val g = if (i < 600) "big" else "small"
      (i, g, rnd.nextDouble())
    }
    val df = rows.toDF("doc_id", "grp", "score")
    val q = Sampling.topFracByGroupApprox(df, "grp", "score",
      frac = 0.25, accuracy = 100000)
    val got = q.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))

    for ((g, picked) <- got.groupBy(_._2)) {
      val all = rows.filter(_._2 == g).sortBy(-_._3)
      // prefix property: a value threshold on tie-free scores keeps exactly
      // the top-|picked| rows — whatever rank the sketch lands on
      assert(picked.map(_._1).toSet == all.take(picked.length).map(_._1).toSet,
        s"group $g: kept set is not a top-score prefix")
      // with accuracy >> n the landed rank is within one row of the quota
      assert(math.abs(picked.length - 0.25 * all.length) <= 1.0,
        s"group $g: kept ${picked.length} of ${all.length}")
    }

    // the scale contract: no per-group sort, no window — sketch aggregate
    // plus broadcast join plus scan-side filter
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"approx cut must not rank:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"thresholds must broadcast:\n$p")
    assert(p.contains("partial_percentile_approx"),
      s"sketch must combine map-side before the exchange:\n$p")
  }

  test("mixByTokenBudget: exact threshold arithmetic on hand-computed totals") {
    val s = spark
    import s.implicits._
    // A's ids sit one per hash decile, which makes the kept set predictable
    val a = decileIds(0L).map(id => (id, "A", 10L))
    val b = (0 until 10).map(i => (2000000L + i, "B", 10L))
    val df = (a ++ b).toDF("doc_id", "source", "toks")
    // tok_A = tok_B = 100, T = 200, W = 4:
    //   A: target = 200/4 = 50  -> thr = 50*1e6/100 = 500000 -> deciles 0..4 keep
    //   B: target = 150 >= 100  -> thr = M (keep everything)
    val kept = Sampling.mixByTokenBudget(df, "doc_id", "toks", "source",
        Map("A" -> 1L, "B" -> 3L))
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(kept == (a.take(5).map(r => ("A", r._1)) ++ b.map(r => ("B", r._1))).toSet)
  }

  test("negativePairs: successor-with-wrap per shard, no self-pairs, partitioning-invariant") {
    val s = spark; import s.implicits._
    val ids = (0L until 100L).toDF("doc_id")
    val got = Sampling.negativePairs(ids, "doc_id", shards = 4, salt = "n0")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every doc gets exactly one negative; never itself
    assert(got.length == 100 && got.forall { case (id, _, neg) => id != neg })
    // within a shard the assignment is the cyclic successor: the multiset
    // of negatives equals the multiset of members (each member is someone's
    // negative exactly once)
    got.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == rows.map(_._1).sorted.toSeq)
    }
    // reproducibility under repartitioning
    val again = Sampling.negativePairs(ids.repartition(7), "doc_id", shards = 4, salt = "n0")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.sorted.toSeq == got.sorted.toSeq)
    // a singleton shard drops its row (only itself to pair with)
    val one = Sampling.negativePairs(Seq(42L).toDF("doc_id"), "doc_id", shards = 4)
    assert(one.count() == 0)
  }

  test("deterministicShuffle: a per-shard permutation, partitioning-invariant, salt = new epoch") {
    val s = spark; import s.implicits._
    val ids = (0L until 200L).toDF("doc_id")
    def run(df: org.apache.spark.sql.DataFrame, salt: String) =
      Sampling.deterministicShuffle(df, "doc_id", shards = 4, salt = salt)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val a = run(ids, "e0")
    // every row present once; within a shard, pos is exactly 1..n
    assert(a.map(_._1) == (0L until 200L).toSet)
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3) == (1L to rows.size).toSet)
    }
    // invariant under input partitioning (the reproducibility contract)
    assert(run(ids.repartition(13), "e0") == a)
    // a different salt is a genuinely different permutation
    assert(run(ids, "e1") != a)
  }

  test("isqrt: exact at perfect squares, off-by-one bands, and the FULL Long range") {
    val s = spark; import s.implicits._
    val maxS = 3037000499L // floor(sqrt(2^63 - 1))
    val cases = Seq(0L, 1L, 2L, 3L, 4L, 8L, 9L, 10L, 15L, 16L, 17L,
      999999L, 1000000L, 1000001L,
      999999999999999999L, 1000000000000000000L, // 10^18 band
      (1L << 31) * (1L << 31) - 1, (1L << 31) * (1L << 31), // 2^62 boundary
      // the band where (s+1)^2 overflows Long — the ANSI-throw /
      // wrap-to-isqrt+1 regression guard
      maxS * maxS - 1, maxS * maxS, maxS * maxS + 1, Long.MaxValue)
    val got = cases.toDF("x")
      .select(col("x"), Sampling.isqrt(col("x")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cases.foreach { x =>
      val t = BigInt(got(x))
      assert(t * t <= BigInt(x) && (t + 1) * (t + 1) > BigInt(x),
        s"isqrt($x) = $t not exact")
    }
  }

  test("mix thresholds survive 10^18-token sources (DECIMAL intermediates, no Long overflow)") {
    val s = spark; import s.implicits._
    // A: 3 docs × 2e18 toks; B: 20 docs × 5e10 — w·T and target·M both
    // exceed 2^63, which the pre-fix BIGINT chain either threw on (ANSI)
    // or wrapped negative (dropping every doc). A's positions start at
    // 0, 3e5 and 6e5, B's at every 5e4.
    val a = (0 until 3).map(i =>
      (idAt(i * 300000L, i * 300000L + 50000L), "A", 2000000000000000000L))
    val b = (0 until 20).map(i =>
      (idAt(i * 50000L, (i + 1) * 50000L, from = 10000000L), "B", 50000000000L))
    val df = (a ++ b).toDF("doc_id", "source", "toks")
    val kept = Sampling.mixTemperatureSqrt(df, "doc_id", "toks", "source")
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    // BigInt reference of the documented arithmetic
    def isq(x: BigInt): BigInt = {
      var r = BigInt(0); var bit = BigInt(1) << 62; var n = x
      while (bit > n) bit >>= 2
      while (bit != 0) {
        if (n >= r + bit) { n -= r + bit; r = (r >> 1) + bit } else r >>= 1
        bit >>= 2
      }
      r
    }
    val tokA = BigInt(3) * BigInt("2000000000000000000")
    val tokB = BigInt(20) * BigInt(50000000000L)
    val (wA, wB) = (isq(tokA), isq(tokB))
    val tsum = tokA + tokB; val wsum = wA + wB
    def thr(w: BigInt, tok: BigInt): BigInt =
      (BigInt(1000000) min ((w * tsum / wsum) * 1000000 / tok))
    val expect = (a.filter(r => BigInt(pos(r._1)) < thr(wA, tokA)).map(r => ("A", r._1)) ++
      b.filter(r => BigInt(pos(r._1)) < thr(wB, tokB)).map(r => ("B", r._1))).toSet
    assert(kept == expect)
    assert(kept.nonEmpty, "degenerate fixture: nothing survived")
  }

  test("mixTemperatureSqrt: hand-computed isqrt thresholds; small source keeps a larger share") {
    val s = spark; import s.implicits._
    // A: 10 docs × 10 toks = 100; B: 20 docs × 1000 toks = 20000.
    // w_A = isqrt(100) = 10, w_B = isqrt(20000) = 141; T = 20100, W = 151:
    //   A: target = (10·20100) div 151 = 1331 ≥ 100   -> thr = M (keep all)
    //   B: target = (141·20100) div 151 = 18768
    //      thr = (18768·10^6) div 20000 = 938400 -> B's ids at positions
    //      in [0, 5e4), …, [8.5e5, 9e5) and exactly 938399 keep; the id at
    //      exactly 938400 drops
    val a = (0 until 10).map(i => (i * 100000L + 7L, "A", 10L))
    val from = 10000000L
    val b = ((0 until 18).map(i => idAt(i * 50000L, (i + 1) * 50000L, from)) ++
      Seq(idAt(938399L, 938400L, from), idAt(938400L, 938401L, from)))
      .map(id => (id, "B", 1000L))
    val df = (a ++ b).toDF("doc_id", "source", "toks")
    val kept = Sampling.mixTemperatureSqrt(df, "doc_id", "toks", "source")
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    val expect = (a.map(r => ("A", r._1)) ++
      b.filter(r => pos(r._1) < 938400L).map(r => ("B", r._1))).toSet
    assert(kept == expect)
    // the temperature property: the big source is downsampled (19 of 20
    // here — and exactly at the computed boundary), the small untouched
    assert(kept.count(_._1 == "A") == 10 && kept.count(_._1 == "B") == 19)
  }

  test("mixEpochs: whole epochs plus hash-selected fractional epoch, exact arithmetic") {
    val s = spark
    import s.implicits._
    // both sources' ids sit one per hash decile
    val a = decileIds(0L).map(id => (id, "A", 10L))
    val b = decileIds(10000000L).map(id => (id, "B", 10L))
    val df = (a ++ b).toDF("doc_id", "source", "toks")
    // tok_A = tok_B = 100, T = 200, W = 4:
    //   A (w=3): target 150 -> copies 1, rem 500000: deciles 0..4 get 2 epochs
    //   B (w=1): target 50  -> copies 0, rem 500000: deciles 0..4 kept once
    val out = Sampling.mixEpochs(df, "doc_id", "toks", "source",
      Map("A" -> 3L, "B" -> 1L))
    val got = out.collect()
      .map(r => (r.getString(1), r.getLong(0), r.getInt(3))).toSet
    val expect =
      a.take(5).flatMap(r => Seq(("A", r._1, 0), ("A", r._1, 1))) ++
        a.drop(5).map(r => ("A", r._1, 0)) ++
        b.take(5).map(r => ("B", r._1, 0))
    assert(got == expect.toSet)
    // token mass lands EXACTLY on target when hash deciles align
    val byleSrc = out.groupBy("source").agg(sum("toks")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byleSrc == Map("A" -> 150L, "B" -> 50L))
  }

  test("mixByTokenBudget: weight-0 sources drop; result is a deterministic subset") {
    val s = spark
    import s.implicits._
    val df = (0L until 600L)
      .map(i => (i, s"s${i % 3}", 5L + i % 7)).toDF("doc_id", "source", "toks")
    val out = Sampling.mixByTokenBudget(df, "doc_id", "toks", "source",
      Map("s0" -> 0L, "s1" -> 1L, "s2" -> 2L), salt = "m")
    val got = out.collect().map(_.getLong(0)).toSet
    assert(!out.select("source").distinct().collect().map(_.getString(0)).contains("s0"))
    assert(got.subsetOf((0L until 600L).toSet) && got.nonEmpty)
    val again = Sampling.mixByTokenBudget(df.repartition(11), "doc_id", "toks",
      "source", Map("s0" -> 0L, "s1" -> 1L, "s2" -> 2L), salt = "m")
      .collect().map(_.getLong(0)).toSet
    assert(again == got)
    // s1 is under-weighted 1:2 vs s2 over roughly equal token mass — it
    // must be downsampled harder
    def fracKept(src: String) =
      got.count(_ % 3 == src.last.toString.toInt).toDouble / 200.0
    assert(fracKept("s1") < fracKept("s2") || fracKept("s2") == 1.0)
  }

  test("sequenceWindows: spans exactly tile each shard's token stream") {
    val s = spark
    import s.implicits._
    val L = 10L
    val df = (0L until 50L).map(i => (i, 1L + (i * 7) % 23)) // varied lengths
      .toDF("doc_id", "toks")
    val rows = Sampling.sequenceWindows(df, "doc_id", "toks", seqLen = L,
        shards = 4, salt = "t")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val toksOf = (0L until 50L).map(i => i -> (1L + (i * 7) % 23)).toMap
    // 1. per-document spans partition [0, toks): contiguous, start at 0
    rows.groupBy(_._3).foreach { case (id, spans) =>
      val sorted = spans.sortBy(_._4).toList
      assert(sorted.head._4 == 0L, s"doc $id first span must start at 0")
      sorted.sliding(2).foreach {
        case List(a, b) => assert(a._4 + a._5 == b._4, s"doc $id spans must be contiguous")
        case _ =>
      }
      assert(sorted.map(_._5).sum == toksOf(id), s"doc $id spans must cover all tokens")
      assert(sorted.forall(_._5 > 0), s"doc $id must not emit empty spans")
    }
    // 2. per (shard, window): exactly L tokens except the shard's last window
    rows.groupBy(r => (r._1, r._2)).foreach { case ((sh, w), spans) =>
      val lastW = rows.filter(_._1 == sh).map(_._2).max
      val tot = spans.map(_._5).sum
      if (w < lastW) assert(tot == L, s"shard $sh window $w must hold exactly $L tokens")
      else assert(tot >= 1 && tot <= L)
    }
    // 3. windows are dense from 0 per shard
    rows.groupBy(_._1).foreach { case (sh, rs) =>
      val ws = rs.map(_._2).toSet
      assert(ws == (0L to ws.max).toSet, s"shard $sh windows must be dense")
    }
    // 4. partitioning-invariant
    val again = Sampling.sequenceWindows(df.repartition(7), "doc_id", "toks",
        seqLen = L, shards = 4, salt = "t")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(again.sorted.toSeq == rows.sorted.toSeq)
  }
}
