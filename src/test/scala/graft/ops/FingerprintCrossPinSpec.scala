package graft.ops

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Cross-pin for the driver's `q_fingerprint` contract: `fingerprintScan`
  * (the RollingFingerprint scan-side Expression) recomputed by an
  * INDEPENDENT plain-Scala oracle — the direct per-gram definition
  * h(i) = Σ cp(i+j)·B^(m-1-j) mod P (no Horner, no rolling subtraction,
  * no shared code with the Expression) — over the REAL driver documents
  * tables. A divergence between the scan kernel and the published
  * definition now fails `sbt test` loudly instead of surfacing only as a
  * red driver row (CORRECTNESS_r02's q_fingerprint).
  */
class FingerprintCrossPinSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val B = 257L
  private val P = 1000000007L

  /** Direct-definition oracle: every gram hashed from scratch by the
    * published formula. Deliberately quadratic-ish (m multiplications per
    * gram) so it shares no algorithmic structure with the rolling kernel.
    */
  private def naive(text: String, n: Int = 8): (Long, Long, Long) = {
    val cps = text.codePoints().toArray
    val len = cps.length
    val m = math.min(n, len)
    val count = math.max(len - n + 1, 1)
    val hashes = (0 until count).map { i =>
      var h = 0L
      var j = 0
      while (j < m) {
        // B^(m-1-j) recomputed per term — no reuse of the kernel's bPow
        var pw = 1L
        var k = 0
        while (k < m - 1 - j) { pw = pw * B % P; k += 1 }
        h = (h + cps(i + j) % P * pw) % P
        j += 1
      }
      h
    }
    (hashes.min, hashes.max, hashes.distinct.size.toLong)
  }

  private def pinDir(dir: String): Unit = {
    assume(Files.exists(Paths.get(s"$dir/documents.parquet")),
      s"driver testdata missing at $dir")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val got = TextStats.fingerprintScan(docs, "doc_id", "text", n = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(texts.nonEmpty)
    texts.foreach { case (id, text) =>
      if (text == null) assert(!got.contains(id), s"doc $id: null text must drop the row")
      else assert(got(id) == naive(text), s"doc $id diverges from the direct definition")
    }
  }

  test("fingerprintScan == direct-definition oracle on driver sf0.001") {
    pinDir("/root/testdata/sf0.001")
  }

  test("fingerprintScan == direct-definition oracle on driver sf0.01") {
    pinDir("/root/testdata/sf0.01")
  }
}
