package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns: image/audio/video payloads ride through the engine as
  * opaque BINARY columns with typed metadata, exactly like the pipeline's
  * `html` payload column (BASELINE.json input_hint schema). Decode /
  * feature-extraction runs batched inside a typed mapPartitions — the same
  * single-opaque-region discipline as the text parse core, so the Spark-side
  * plumbing (schema, partitioning, batch shape) is real and tested even
  * though the codec itself is STUBBED here (no image/audio libraries exist
  * in this sandbox).
  *
  * STUB CONTRACT: `decodeStub` derives deterministic pseudo-features from
  * payload bytes. A real deployment swaps `decodeStub` for a JNI/codec call
  * with the identical signature; nothing else changes.
  */
object Multimodal {

  final case class MediaRow(id: Long, kind: String, payload: Array[Byte])
  final case class MediaFeatures(
      id: Long,
      kind: String,
      n_bytes: Long,
      ok: Boolean,
      features: Array[Float] // fixed-dim embedding per media item
  )

  /** Deterministic fake decoder standing in for the codec: folds payload
    * bytes into `dim` accumulators. Total, never throws; a real decoder's
    * failure path maps to ok=false exactly like the pipeline's error column.
    */
  def decodeStub(payload: Array[Byte], dim: Int): Option[Array[Float]] = {
    if (payload == null || payload.isEmpty) None
    else {
      val acc = new Array[Float](dim)
      var i = 0
      while (i < payload.length) {
        acc(i % dim) += (payload(i) & 0xff) / 255.0f
        i += 1
      }
      val n = math.max(payload.length / dim, 1)
      Some(acc.map(_ / n))
    }
  }

  /** Batched feature extraction over a media table (id, kind, payload).
    * Runs per-partition (one decoder init per partition, amortized — the
    * batch shape a Python `mapInPandas`/vectorized-UDF equivalent uses);
    * output keeps the input partitioning, no shuffle.
    */
  def extractFeatures(spark: SparkSession, media: DataFrame, dim: Int = 16): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select(col("id"), col("kind"), col("payload")).as[MediaRow]
      .mapPartitions { it =>
        // per-partition decoder init would go here (codec handle, model, …)
        it.map { m =>
          val feats = decodeStub(m.payload, dim)
          MediaFeatures(m.id, m.kind,
            if (m.payload == null) 0L else m.payload.length.toLong,
            feats.isDefined, feats.getOrElse(Array.empty[Float]))
        }
      }
  }

  final case class MediaSlotFeatures(id: Long, kind: String, n_bytes: Long,
                                     slots_csv: String)

  /** Integer-exact slot sums: slot j = Σ (byte & 0xff) over payload
    * positions ≡ j (mod dim). The oracle-checkable twin of `decodeStub`
    * (same batch shape, same partitioning, exact integer arithmetic so a
    * SQL engine can recompute it bit-for-bit over ASCII payloads).
    */
  def slotSums(payload: Array[Byte], dim: Int): Array[Long] = {
    val acc = new Array[Long](dim)
    if (payload != null) {
      var i = 0
      while (i < payload.length) { acc(i % dim) += (payload(i) & 0xff); i += 1 }
    }
    acc
  }

  /** Batched integer feature extraction — identical plumbing to
    * [[extractFeatures]] (typed mapPartitions, no shuffle, partition-
    * amortized decoder init), emitting the slot sums as a CSV column so
    * downstream engines without array comparators can verify it.
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
    * video pipeline runs before feature extraction. The container format is
    * stubbed the same way [[decodeStub]] stubs the codec: the payload is
    * treated as fixed-`frameBytes` slices (a real demuxer drops in at this
    * seam and changes only the slicing); what's REAL is the Spark plumbing
    * — pure Column arithmetic (sequence + explode + binary substring), one
    * scan, a Generate boundary, NO shuffle, frame rows inheriting the
    * parent's partitioning for downstream batched extraction. The final
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

  /** dHash56 over REAL pixels (r5): a decoded grayscale lattice reduced to
    * the same 7×9 cell grid, bit r·8+c set iff cell (r,c) is brighter than
    * cell (r,c+1). Cell boundaries are the floor partition (r·h/7, c·w/9);
    * brightness compares cell MEANS exactly via cross-multiplied integer
    * sums, so images whose dimensions don't divide the grid stay
    * bit-deterministic (no float averaging). Dividing dimensions reduce to
    * plain sum comparison — the shape the DuckDB oracle replays.
    */
  def dHashImage(img: graft.media.Png.Gray): Long = {
    val rows = 7; val cols = 9
    val w = img.width; val h = img.height
    val sums = Array.ofDim[Long](rows, cols)
    val areas = Array.ofDim[Long](rows, cols)
    var r = 0
    while (r < rows) {
      val y0 = r * h / rows; val y1 = (r + 1) * h / rows
      var c = 0
      while (c < cols) {
        val x0 = c * w / cols; val x1 = (c + 1) * w / cols
        var s = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { s += img(x, y); x += 1 }
          y += 1
        }
        sums(r)(c) = s
        areas(r)(c) = (y1 - y0).toLong * (x1 - x0)
        c += 1
      }
      r += 1
    }
    var hash = 0L
    r = 0
    while (r < rows) {
      var c = 0
      while (c < 8) {
        if (sums(r)(c) * areas(r)(c + 1) > sums(r)(c + 1) * areas(r)(c))
          hash |= 1L << (r * 8 + c)
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

  /** 56-bit difference-hash (dHash) over the stub decode: the payload is
    * laid out as a 7×9 cell grid — cell (r,c) = Σ bytes at positions
    * ≡ r·9+c (mod 63), the integer-exact twin of a downscaled grayscale
    * grid — and bit r·8+c is set iff cell (r,c) > cell (r,c+1) (the
    * horizontal-gradient construction of the classic perceptual dHash).
    * 56 bits, not 64, on purpose: bit 63 is the portable-BIGINT overflow
    * trap, and 56 matches the production simhash width so the SAME
    * combination-banding pair generator serves both text and images.
    *
    * A real deployment swaps the grid for a real decoder's 8×9 downscale
    * at this seam; the bit construction, banding, and Hamming-pair path
    * are the real, tested part. Gradient bits are brightness/contrast
    * invariant (any monotone per-image byte transform preserves them) —
    * why dHash survives re-encoding where a byte hash doesn't.
    */
  def dHash56(spark: SparkSession, media: DataFrame,
              idCol: String = "id", payloadCol: String = "payload",
              decodePixels: Boolean = false): DataFrame = {
    import spark.implicits._
    media.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .map { case (id, p) =>
        // routed by magic bytes like the pipeline's payload decode: real
        // PNG/JPEG/GIF pixels when asked and present, the stub byte grid
        // otherwise
        val h: Option[Long] =
          if (decodePixels && graft.media.Png.isPng(p))
            decodedHash(graft.media.Png.decode(p))
          else if (decodePixels && graft.media.Jpeg.isJpeg(p))
            decodedHash(graft.media.Jpeg.decodeGray(p))
          else if (decodePixels && graft.media.Gif.isGif(p))
            decodedHash(graft.media.Gif.decodeGray(p))
          else Some {
            val cells = slotSums(p, 63)
            var hh = 0L
            var r = 0
            while (r < 7) {
              var c = 0
              while (c < 8) {
                if (cells(r * 9 + c) > cells(r * 9 + c + 1)) hh |= 1L << (r * 8 + c)
                c += 1
              }
              r += 1
            }
            hh
          }
        (id, h)
      }.toDF("id", "simhash")
  }

  /** Near-duplicate image pairs: [[dHash56]] signatures through the SAME
    * combination-banding Hamming join as 56-bit text simhash
    * (TextDedup.simhashPairs) — candidate generation is a bucketed
    * equi-join on band keys, never all-pairs.
    */
  def imageNearDupPairs(spark: SparkSession, media: DataFrame,
                        idCol: String = "id", payloadCol: String = "payload",
                        maxHamming: Int = 3, decodePixels: Boolean = false): DataFrame =
    TextDedup.simhashPairs(dHash56(spark, media, idCol, payloadCol, decodePixels),
      bits = 56, chunks = 8, maxHamming = maxHamming)

  /** Media features → the similarity-search path: reuse VectorSim over the
    * stub features (cosine top-k, LSH buckets) — the multimodal dedup story
    * is the text story with a different front-end decode.
    */
  def mediaTopK(spark: SparkSession, media: DataFrame, k: Int = 5, dim: Int = 16): DataFrame = {
    val feats = extractFeatures(spark, media, dim).toDF()
      .where(col("ok")).select(col("id"), col("features"))
    // query set = the 4 LOWEST ids — limit(4) without an order is
    // partition-order-dependent and would make the query set (and thus the
    // whole result) nondeterministic across runs/partitionings
    val queries = feats.orderBy("id").limit(4)
    VectorSim.cosineTopK(feats, queries, "id", "features", k = k, scale = 1000)
  }
}
