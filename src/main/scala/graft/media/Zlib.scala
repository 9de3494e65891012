package graft.media

import java.io.{ByteArrayOutputStream, IOException}
import java.util.zip.{DataFormatException, Deflater, Inflater}

/** The zlib (RFC 1950) stream codec shared by the PDF `/FlateDecode`
  * filter and PNG IDAT data — one deflate for the fixture writers, one
  * inflate for the decoders. A truncated, corrupt or oversized stream
  * throws `IOException`, so both decoders' fallback paths catch it.
  */
object Zlib {

  def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(data); d.finish()
    val buf = new Array[Byte](math.max(64, data.length + 64))
    val out = new ByteArrayOutputStream()
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Default cap on an inflated stream: 32 MiB. The largest stream the
    * fixture generator writes is 24.7 KB at the bench corpus's fat 16
    * (100 KB at fat 64), so the cap is over 300× any fixture. Without it a
    * FlateDecode bomb — a few KB that inflate to gigabytes — throws
    * OutOfMemoryError, an Error that the decoders' fallbacks cannot catch.
    */
  val MaxInflated: Int = 32 << 20

  /** Inflate, throwing `IOException` once the output would pass `limit`. */
  def inflate(data: Array[Byte], limit: Int = MaxInflated): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(data)
    val buf = new Array[Byte](8192)
    val out = new ByteArrayOutputStream()
    try while (!inf.finished()) {
      val n = inf.inflate(buf)
      if (n == 0 && inf.needsInput()) throw new IOException("truncated zlib stream")
      if (out.size.toLong + n > limit)
        throw new IOException(s"inflated stream exceeds $limit bytes")
      out.write(buf, 0, n)
    } catch {
      case e: DataFormatException =>
        throw new IOException(s"corrupt deflate stream: ${e.getMessage}")
    } finally inf.end()
    out.toByteArray
  }
}
