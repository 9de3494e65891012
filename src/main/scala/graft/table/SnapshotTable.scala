package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Iceberg-*semantics* emulation over Parquet (no Iceberg runtime jar exists
  * in this offline sandbox — see SURVEY.md §7.2): immutable data files +
  * versioned JSON manifests + an atomically-renamed version hint. Covers
  * what the north rule exercises — resumable checkpointed snapshots with
  * per-partition (bucket) lineage and extraction metrics. The write path is
  * isolated behind this one class so a real iceberg-spark-runtime could be
  * dropped in unchanged.
  *
  * Layout:
  *   <root>/data/snap-<id>/bucket=<b>/part-….parquet
  *   <root>/metadata/v<N>.json     (manifest; never rewritten)
  *   <root>/metadata/VERSION       (version hint; tmp + atomic rename)
  */
final case class BucketMetrics(
    bucket: Int,
    docs: Long,
    bytesIn: Long,
    charsOut: Long,
    errors: Long,
    /** Wall time of this bucket's own write, from planning its jobs to
      * holding its observed metrics. `Extract.run` keeps the next bucket's
      * write in flight while one commits, so the times of neighbouring
      * buckets overlap and their sum can exceed the run's wall time.
      */
    seconds: Double,
    /** image-PDF suspects (first-page text < 50 chars, O2) — distinguishes
      * "needs OCR, passed through" from "parse error" in the lineage.
      */
    needsOcr: Long = 0L,
    /** PDF payloads that fell to the empty-page fallback (parse outside the
      * subset) — the `pdf_fallback_rate` numerator a real crawl watches to
      * surface the residual parser gap (VERDICT r4 #1).
      */
    pdfFallback: Long = 0L,
    /** PDF payloads rejected as `/Encrypt`-ed — "can't", counted apart from
      * the fallback "won't" (VERDICT r4 #8).
      */
    pdfEncrypted: Long = 0L
) {
  def docsPerSec: Double = if (seconds > 0) docs / seconds else 0.0
  def pdfFallbackRate: Double = if (docs > 0) pdfFallback.toDouble / docs else 0.0
}

final case class Manifest(
    version: Int,
    snapshotId: String,
    parentId: Option[String],
    mode: String,
    bucketCount: Int,
    completedBuckets: Vector[Int],
    dataDirs: Vector[String], // relative to root
    metrics: Vector[BucketMetrics]
)

final class SnapshotTable(rootStr: String) {
  private val root: Path = Paths.get(rootStr)
  private val meta = root.resolve("metadata")

  def dataDir(snapshotId: String, bucket: Int): Path =
    root.resolve("data").resolve(s"snap-$snapshotId").resolve(s"bucket=$bucket")

  def currentVersion: Option[Int] = {
    val hint = meta.resolve("VERSION")
    if (Files.exists(hint))
      Some(new String(Files.readAllBytes(hint), StandardCharsets.UTF_8).trim.toInt)
    else None
  }

  def currentManifest: Option[Manifest] = currentVersion.map(readManifest)

  def readManifest(v: Int): Manifest = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(meta.resolve(s"v$v.json")))
    Manifest(
      version = node.get("version").asInt(),
      snapshotId = node.get("snapshot_id").asText(),
      parentId = Option(node.get("parent_id")).filterNot(_.isNull).map(_.asText()),
      mode = node.get("mode").asText(),
      bucketCount = node.get("bucket_count").asInt(),
      completedBuckets = node.get("completed_buckets").elements().asScala.map(_.asInt()).toVector,
      dataDirs = node.get("data_dirs").elements().asScala.map(_.asText()).toVector,
      metrics = node.get("metrics").elements().asScala.map { m =>
        BucketMetrics(m.get("bucket").asInt(), m.get("docs").asLong(),
          m.get("bytes_in").asLong(), m.get("chars_out").asLong(),
          m.get("errors").asLong(), m.get("seconds").asDouble(),
          // absent in pre-round-2 manifests → 0
          Option(m.get("needs_ocr")).filterNot(_.isNull).map(_.asLong()).getOrElse(0L),
          // absent in pre-round-5 manifests → 0
          Option(m.get("pdf_fallback")).filterNot(_.isNull).map(_.asLong()).getOrElse(0L),
          Option(m.get("pdf_encrypted")).filterNot(_.isNull).map(_.asLong()).getOrElse(0L))
      }.toVector
    )
  }

  /** Atomic commit: write v<N>.json, then flip VERSION via tmp + rename. */
  def commit(m: Manifest): Unit = {
    Files.createDirectories(meta)
    val body = renderManifest(m)
    val target = meta.resolve(s"v${m.version}.json")
    val tmp = meta.resolve(s".v${m.version}.json.tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    val vTmp = meta.resolve(".VERSION.tmp")
    Files.write(vTmp, m.version.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(vTmp, meta.resolve("VERSION"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def renderManifest(m: Manifest): String = {
    import graft.json.{Canonical, J}
    Canonical.render(J.obj(
      "version" -> J.I(m.version.toLong),
      "snapshot_id" -> J.S(m.snapshotId),
      "parent_id" -> m.parentId.fold[J](J.Null)(J.S.apply),
      "mode" -> J.S(m.mode),
      "bucket_count" -> J.I(m.bucketCount.toLong),
      "completed_buckets" -> J.arr(m.completedBuckets.map(b => J.I(b.toLong))),
      "data_dirs" -> J.arr(m.dataDirs.map(J.S.apply)),
      "metrics" -> J.arr(m.metrics.map(bm => J.obj(
        "bucket" -> J.I(bm.bucket.toLong),
        "docs" -> J.I(bm.docs),
        "bytes_in" -> J.I(bm.bytesIn),
        "chars_out" -> J.I(bm.charsOut),
        "errors" -> J.I(bm.errors),
        "needs_ocr" -> J.I(bm.needsOcr),
        "pdf_fallback" -> J.I(bm.pdfFallback),
        "pdf_encrypted" -> J.I(bm.pdfEncrypted),
        "seconds" -> J.F(bm.seconds),
        "docs_per_sec" -> J.F(bm.docsPerSec),
        "pdf_fallback_rate" -> J.F(bm.pdfFallbackRate)
      )))
    ))
  }
}
