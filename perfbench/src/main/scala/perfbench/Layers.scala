package perfbench

import graft.core.{Assemble, CharsetDetect}
import graft.html.Boilerplate
import graft.json.Canonical
import graft.media.{Gif, Jpeg, Png}
import graft.ops.Multimodal
import graft.pdf.{Layout, Pdf}
import graft.pipeline.{Decode, DocRow, Extract, FakeOcrEngine}

/** Per-layer timing on samples, single-threaded, through the engine's public
  * functions. The parse layers are timed on a sample drawn per payload kind
  * (stratified, so each kind's cost is measured even where it is rare) and
  * weighted back by each kind's share of the documents it was drawn from.
  * The image codecs are timed on the fixture images the catalog's codec
  * queries use.
  */
object Layers {
  val Kinds: Vector[String] = Vector("pdf", "html", "text")

  final case class Doc(url: String, html: Array[Byte], text: String) {
    val kind: String = if (html == null) "text" else if (Pdf.isPdf(html)) "pdf" else "html"
  }

  /** A list of (name, value, unit) metrics plus the checks that failed. */
  final case class Result(metrics: Vector[(String, Double, String)], failed: Int)

  private val ocr = Some(FakeOcrEngine)

  /** The mode the benchmark extracts in; the standard fold is timed beside
    * it, so a change to either fold shows.
    */
  val Mode = "construction"

  /** The engine's own per-row parse, with the benchmark's OCR seam. */
  def parseRow(d: Doc, bucket: Int): DocRow =
    Extract.parseRow(d.url, d.html, d.text, bucket, Mode, None, ocr, useOcr = false)

  /** Up to `k` docs of each payload kind of `docs`, picked by a seeded
    * shuffle, and each kind's share of `docs`.
    */
  def stratified(docs: Seq[Doc], k: Int, seed: Long): (Vector[Doc], Map[String, Double]) = {
    val rnd = new scala.util.Random(seed)
    (Kinds.flatMap(kind => rnd.shuffle(docs.filter(_.kind == kind).toVector).take(k)),
      docs.groupMapReduce(_.kind)(_ => 1.0 / docs.size)(_ + _))
  }

  private var sink = 0L // keeps timed results observable
  private val WarmReps = 5

  /** Median self time per (trace, span name) over the repetitions, in µs. */
  private def medianSelfUs(tr: Tracer, from: Int): Map[(Long, String), Double] = {
    val self = tr.selfNs
    tr.all.drop(from).groupBy(s => (s.trace, s.name))
      .map { case (k, ss) => k -> Stats.median(ss.map(s => self(s.id) / 1000.0)) }
  }

  /** Replays each sampled document `reps` times as the composition of the
    * calls `Extract.parseRow` makes (decode, the construction fold, render),
    * next to the real `parseRow` call, the standard fold, and the decoders'
    * own layers called one by one. A replay whose JSON differs from the
    * real call's counts as failed. `shares` is each kind's share of the
    * population the docs were drawn from.
    */
  def parse(tr: Tracer, docs: Vector[Doc], shares: Map[String, Double], reps: Int): Result = {
    // untimed first: in a run that has not parsed yet the JIT has not either
    (1 to WarmReps).foreach(_ => docs.foreach(d => sink += parseRow(d, 0).chars_out))
    val from = tr.all.length
    var failed = 0
    docs.zipWithIndex.foreach { case (d, i) =>
      tr.trace = i.toLong
      (0 until reps).foreach { rep =>
        def real() = tr("extract.parse_row")(parseRow(d, 0))
        def replay() = tr("parse_row") {
          val dec = tr("pipeline.decode")(Decode.decode(d.html, d.text, ocr, useOcr = false))
          val j = tr("core.construction")(Assemble.constructionResult(dec.pages))
          (dec, tr("json.render")(Canonical.render(j)))
        }
        // alternate which call goes first so neither always finds warm caches
        val (row, (dec, json)) =
          if (rep % 2 == 0) { val r = real(); (r, replay()) }
          else { val p = replay(); (real(), p) }
        if (json != row.extracted_json) failed += 1
        sink += tr("core.standard")(Assemble.standardResult(dec.pages)).hashCode
        tr("decode.layers") {
          d.kind match {
            case "pdf" =>
              val pages = tr("pdf.parse")(Pdf.parse(d.html))
              sink += tr("pdf.layout")(pages.map(p => Layout.pageText(p.runs).length).sum)
            case "html" =>
              val s = tr("html.charset")(CharsetDetect.decode(d.html))
              sink += tr("html.boilerplate")(Boilerplate.extract(s)).text.length
            case _ =>
          }
        }
      }
    }
    val med = medianSelfUs(tr, from)
    val byKind = docs.zipWithIndex.groupMap(_._1.kind)(_._2.toLong)
    def perKind(name: String, kind: String): Double = {
      val xs = byKind.getOrElse(kind, Vector.empty).flatMap(t => med.get((t, name)))
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val layered = Kinds.flatMap { k =>
      Vector(
        (s"core.construction_us.$k", perKind("core.construction", k), "us"),
        (s"core.standard_us.$k", perKind("core.standard", k), "us"),
        (s"pipeline.decode_us.$k", perKind("pipeline.decode", k), "us"),
        (s"json.render_us.$k", perKind("json.render", k), "us"))
    }
    val weightedUs = Kinds.map(k => shares.getOrElse(k, 0.0) * perKind("extract.parse_row", k)).sum
    val traces = docs.indices.map(_.toLong)
    val layerUs = traces.map(t =>
      Seq("pipeline.decode", "core.construction", "json.render").flatMap(n => med.get((t, n))).sum).sum
    val realUs = traces.flatMap(t => med.get((t, "extract.parse_row"))).sum
    Result(layered ++ Vector(
      ("pdf.parse_us", perKind("pdf.parse", "pdf"), "us"),
      ("pdf.layout_us", perKind("pdf.layout", "pdf"), "us"),
      ("html.charset_us", perKind("html.charset", "html"), "us"),
      ("html.boilerplate_us", perKind("html.boilerplate", "html"), "us"),
      ("pipeline.parse_docs_per_s_1t", if (weightedUs > 0) 1e6 / weightedUs else 0.0, "docs/s"),
      ("trace.accounted_frac", if (realUs > 0) layerUs / realUs else 0.0, "ratio")), failed)
  }

  private val PerKind = 8
  private val Reps = 3
  private val Images = 12

  /** The per-layer samples of a traced run: the parse layers on documents
    * drawn per kind from `pool`, then the image codecs. Records their
    * metrics and checks in `c`; returns the single-thread `parseRow` rate.
    */
  def sample(c: Ctx, pool: Seq[Doc]): Double = {
    val (docs, shares) = stratified(pool, PerKind, c.seed)
    val p = parse(c.tracer, docs, shares, Reps)
    val m = media(c.tracer, Images, Reps)
    c.addMetrics(p.metrics)
    c.addMetrics(m.metrics)
    c.attempted += (docs.size + Images) * Reps
    c.check(p.failed + m.failed == 0, p.failed + m.failed, "traced replay differs")
    p.metrics.find(_._1 == "pipeline.parse_docs_per_s_1t").get._2
  }

  /** The PNG fixture of `q_png_phash`: a closed-form gray image whose 7×9
    * dHash cells divide evenly, stored as gray, RGB or RGBA.
    */
  def pngFixture(id: Long): (Png.Gray, Array[Byte]) = {
    val w = (9 * (2 + id % 4)).toInt
    val h = (7 * (2 + id % 5)).toInt
    val img = Png.Gray(w, h, Array.tabulate(w * h) { i =>
      ((7L * (i % w) + 13L * (i / w) + 31L * id) % 251L).toInt
    })
    val colorType = (id % 3) match { case 0 => 0; case 1 => 2; case _ => 6 }
    (img, Png.encodeGrayAs(img, colorType, y => y % 5))
  }

  /** The JPEG fixture of `q_jpeg_phash`: 8×8-flat blocks, which survive
    * quality-90 coding within the dHash's cell contrast.
    */
  def jpegFixture(id: Long): Png.Gray =
    Png.Gray(72, 56, Array.tabulate(72 * 56) { i =>
      val bx = (i % 72) / 8
      val by = (i / 72) / 8
      (40L + ((37L * bx + 53L * by + 17L * id) % 22L) * 8L).toInt
    })

  private def jpegEncode(img: Png.Gray, id: Long): Array[Byte] = (id % 3) match {
    case 0 => Jpeg.encodeGray(img, quality = 90)
    case 1 => Jpeg.encodeGray(img, quality = 90, color420 = true)
    case _ => Jpeg.encodeGray(img, quality = 90, restartInterval = 5)
  }

  /** Times decode, encode and dHash per image on `n` fixture images, each
    * `reps` times. A decoded image whose dHash differs from its source's
    * counts as failed.
    */
  def media(tr: Tracer, n: Int, reps: Int): Result = {
    val fixtures = (0 until n).map { i =>
      val id = i.toLong
      val (img, png) = pngFixture(id)
      (id, img, png, Gif.encodeGray(img, interlaced = id % 2 == 1), jpegFixture(id))
    }
    (1 to WarmReps).foreach(_ => fixtures.foreach { case (id, _, png, gif, jimg) =>
      sink += Png.decode(png).width + Jpeg.decodeGray(jpegEncode(jimg, id)).width +
        Gif.decodeGray(gif).width
    })
    val from = tr.all.length
    var failed = 0
    fixtures.foreach { case (id, img, png, gif, jimg) =>
      val want = Multimodal.dHashImage(img)
      val jwant = Multimodal.dHashImage(jimg)
      tr.trace = id
      (0 until reps).foreach { _ =>
        val back = tr("media.png_decode")(Png.decode(png))
        val h = tr("ops.dhash")(Multimodal.dHashImage(back))
        val jpg = tr("media.jpeg_encode")(jpegEncode(jimg, id))
        val jback = tr("media.jpeg_decode")(Jpeg.decodeGray(jpg))
        val gback = tr("media.gif_decode")(Gif.decodeGray(gif))
        if (h != want || Multimodal.dHashImage(jback) != jwant ||
            Multimodal.dHashImage(gback) != want) failed += 1
      }
    }
    val med = medianSelfUs(tr, from)
    def mean(name: String): Double = {
      val xs = (0 until n).flatMap(i => med.get((i.toLong, name)))
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    Result(Vector(
      ("media.png_decode_us", mean("media.png_decode"), "us"),
      ("media.jpeg_encode_us", mean("media.jpeg_encode"), "us"),
      ("media.jpeg_decode_us", mean("media.jpeg_decode"), "us"),
      ("media.gif_decode_us", mean("media.gif_decode"), "us"),
      ("ops.dhash_us", mean("ops.dhash"), "us")), failed)
  }
}
