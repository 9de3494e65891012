package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video payloads ride through the engine as
  * opaque BINARY columns with typed metadata, exactly like the pipeline's
  * `html` payload column (BASELINE.json input_hint schema). Feature
  * extraction and hashing run batched inside a typed map — the same
  * single-opaque-region discipline as the text parse core.
  *
  * Image payloads are decoded by the pure-JVM codecs in `graft.media`
  * (PNG, baseline JPEG, GIF), chosen by the payload's magic bytes the way
  * `Decode.decode` routes `%PDF-`; any other payload is treated as an
  * opaque byte grid (integer slot sums), so every row gets a
  * deterministic, oracle-checkable feature.
  */
object Multimodal {

  final case class MediaRow(id: Long, kind: String, payload: Array[Byte])

  final case class MediaSlotFeatures(id: Long, kind: String, n_bytes: Long,
                                     slots_csv: String)

  /** Integer-exact slot sums: slot j = Σ (byte & 0xff) over payload
    * positions ≡ j (mod dim) — exact integer arithmetic, so a SQL engine
    * can recompute it bit-for-bit from the payload bytes.
    */
  def slotSums(payload: Array[Byte], dim: Int): Array[Long] = {
    val acc = new Array[Long](dim)
    if (payload != null) {
      var i = 0
      while (i < payload.length) { acc(i % dim) += (payload(i) & 0xff); i += 1 }
    }
    acc
  }

  /** Batched integer feature extraction (typed mapPartitions, no shuffle),
    * emitting the slot sums as a CSV column so downstream engines without
    * array comparators can verify it.
    * A null payload counts 0 bytes; null and empty payloads sum to zeros.
    */
  def extractSlotFeatures(spark: SparkSession, media: DataFrame,
                          dim: Int = 8): Dataset[MediaSlotFeatures] = {
    import spark.implicits._
    media.select(col("id"), col("kind"), col("payload")).as[MediaRow]
      .mapPartitions { it =>
        it.map { m =>
          MediaSlotFeatures(m.id, m.kind,
            if (m.payload == null) 0L else m.payload.length.toLong,
            slotSums(m.payload, dim).mkString(","))
        }
      }
  }

  /** Frame sampling for video payloads — the every-k-th-frame reduction a
    * video pipeline runs before feature extraction. No container format is
    * parsed: the payload is treated as fixed-`frameBytes` slices (a real
    * demuxer drops in at this seam and changes only the slicing); what's
    * REAL is the Spark plumbing — pure Column arithmetic (sequence +
    * explode + binary substring), one scan, a Generate boundary, NO
    * shuffle, frame rows inheriting the parent's partitioning for
    * downstream batched extraction. The final
    * partial frame is kept (its length says so), matching how decoders
    * emit trailing samples.
    */
  def sampleFrames(media: DataFrame, idCol: String, payloadCol: String,
                   frameBytes: Int = 256, stride: Int = 2): DataFrame = {
    require(frameBytes >= 1 && stride >= 1)
    val n = length(col(payloadCol))
    media.where(n > 0)
      .select(col(idCol), col(payloadCol).as("__p"),
        explode(sequence(lit(0L),
          expr(s"CAST((length($payloadCol) - 1) div $frameBytes AS BIGINT)"),
          lit(stride.toLong))).as("frame_no"))
      .select(col(idCol), col("frame_no"),
        expr(s"substring(__p, CAST(frame_no * $frameBytes + 1 AS INT), $frameBytes)")
          .as("frame"))
  }

  /** dHash56 over decoded pixels: a grayscale lattice reduced to a 7×9
    * cell grid, bit r·8+c set iff cell (r,c) is brighter than cell (r,c+1).
    * Cell boundaries are the floor partition (r·h/7, c·w/9); brightness
    * compares cell MEANS exactly via cross-multiplied integer sums, so
    * images whose dimensions don't divide the grid stay bit-deterministic
    * (no float averaging). Dividing dimensions reduce to plain sum
    * comparison — the shape the DuckDB oracle replays.
    */
  def dHashImage(img: graft.media.Png.Gray): Long = {
    val w = img.width; val h = img.height
    val sums = new Array[Long](63)
    val areas = new Array[Long](63)
    var r = 0
    while (r < 7) {
      val y0 = r * h / 7; val y1 = (r + 1) * h / 7
      var c = 0
      while (c < 9) {
        val x0 = c * w / 9; val x1 = (c + 1) * w / 9
        var s = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { s += img(x, y); x += 1 }
          y += 1
        }
        sums(r * 9 + c) = s
        areas(r * 9 + c) = (y1 - y0).toLong * (x1 - x0)
        c += 1
      }
      r += 1
    }
    gradientBits(sums, areas)
  }

  private val UnitAreas = Array.fill(63)(1L)

  /** The one dHash bit rule: over 7×9 row-major cells, bit r·8+c is set iff
    * cell (r,c)'s mean sums(r,c)/areas(r,c) exceeds cell (r,c+1)'s,
    * compared by cross-multiplication. 56 bits, not 64, on purpose: bit 63
    * is the portable-BIGINT overflow trap, and 56 matches the production
    * simhash width so the SAME combination-banding pair generator serves
    * both text and images.
    */
  private def gradientBits(sums: Array[Long], areas: Array[Long]): Long = {
    var hash = 0L
    var r = 0
    while (r < 7) {
      var c = 0
      while (c < 8) {
        val k = r * 9 + c
        if (sums(k) * areas(k + 1) > sums(k + 1) * areas(k)) hash |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    hash
  }

  // A payload its decoder rejects (truncated, progressive JPEG, ...) hashes
  // to None — a null simhash, which never pairs — instead of failing the
  // stage.
  private def decodedHash(img: => graft.media.Png.Gray): Option[Long] =
    try Some(dHashImage(img)) catch { case _: Exception => None }

  /** One payload's hash, routed by magic bytes: PNG/JPEG/GIF payloads are
    * decoded to pixels ([[dHashImage]]); anything else is hashed as the
    * byte grid — cell (r,c) = Σ bytes at positions ≡ r·9+c (mod 63), the
    * integer-exact twin of a downscaled grayscale grid.
    */
  private def payloadHash(p: Array[Byte]): Option[Long] = {
    import graft.media.{Gif, Jpeg, Png}
    if (Png.isPng(p)) decodedHash(Png.decode(p))
    else if (Jpeg.isJpeg(p)) decodedHash(Jpeg.decodeGray(p))
    else if (Gif.isGif(p)) decodedHash(Gif.decodeGray(p))
    else Some(gradientBits(slotSums(p, 63), UnitAreas))
  }

  /** 56-bit difference-hash (dHash) per payload (see [[payloadHash]] for
    * the routing and [[gradientBits]] for the bit rule): the horizontal-
    * gradient construction of the classic perceptual dHash. Gradient bits
    * are brightness/contrast invariant (any monotone per-image transform
    * preserves them) — why dHash survives re-encoding where a byte hash
    * doesn't. An image payload its decoder rejects gets a null hash.
    */
  def dHash56(spark: SparkSession, media: DataFrame,
              idCol: String = "id", payloadCol: String = "payload"): DataFrame = {
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .map { case (id, p) => (id, payloadHash(p)) }
      .toDF("id", "simhash")
  }

  /** Near-duplicate image pairs: [[dHash56]] signatures through the SAME
    * combination-banding Hamming join as 56-bit text simhash
    * (TextDedup.simhashPairs) — candidate generation is a bucketed
    * equi-join on band keys, never all-pairs.
    */
  def imageNearDupPairs(spark: SparkSession, media: DataFrame,
                        idCol: String = "id", payloadCol: String = "payload",
                        maxHamming: Int = 3): DataFrame =
    TextDedup.simhashPairs(dHash56(spark, media, idCol, payloadCol),
      bits = 56, chunks = 8, maxHamming = maxHamming)
}
