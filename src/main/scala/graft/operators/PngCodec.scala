package graft.operators

import java.util.zip.{CRC32, Deflater, Inflater}

/** Pure-JVM codec for PNG images — the REAL image decoder of the
  * multimodal tier, built from the public PNG specification (RFC
  * 2083 / W3C PNG): 8-byte signature, length-tagged CRC-checked
  * chunks, IHDR metadata, zlib-deflated IDAT scanlines,
  * one filter byte per row with the five standard filters (None, Sub,
  * Up, Average, Paeth). The container has no image libraries, but PNG
  * needs only zlib — and `java.util.zip` ships in the JDK.
  *
  * Supported: 8-bit-per-channel, non-interlaced, color types 0
  * (grayscale), 2 (RGB), 4 (gray+alpha), 6 (RGBA). Palette (type 3),
  * 16-bit, and Adam7 interlacing are rejected by the TOTAL decoder —
  * malformed, truncated, CRC-corrupt, or unsupported payloads return
  * None instead of throwing, because a decode stage that dies on one
  * corrupt payload out of billions is unusable at scale.
  */
object PngCodec {

  /** A decoded image: 8-bit samples, row-major, `channels` bytes per
    * pixel (1 = gray, 2 = gray+alpha, 3 = RGB, 4 = RGBA).
    */
  final case class Png(width: Int, height: Int, channels: Int, pixels: Array[Byte])

  private val Signature: Array[Byte] =
    Array(0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  /** Guard against decompression bombs: reject images whose raw pixel
    * buffer would exceed 256 MiB — far above any sane payload here and
    * small enough that a hostile header can't OOM an executor. Shared
    * with the JPEG tier so the budget can never silently diverge
    * between formats.
    */
  private[operators] val MaxPixelBytes: Long = 256L << 20

  private def beInt(b: Array[Byte], at: Int): Int =
    ((b(at) & 0xff) << 24) | ((b(at + 1) & 0xff) << 16) |
      ((b(at + 2) & 0xff) << 8) | (b(at + 3) & 0xff)

  private def channelsOf(colorType: Int): Option[Int] = colorType match {
    case 0 => Some(1)
    case 2 => Some(3)
    case 4 => Some(2)
    case 6 => Some(4)
    case _ => None // 3 = palette: needs PLTE indirection, out of scope
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Total decode: None for anything that is not a well-formed,
    * CRC-clean, 8-bit non-interlaced PNG of a supported color type.
    */
  def decode(bytes: Array[Byte]): Option[Png] = {
    if (bytes == null || bytes.length < Signature.length + 12) return None
    var i = 0
    while (i < Signature.length) {
      if (bytes(i) != Signature(i)) return None
      i += 1
    }
    var pos = Signature.length
    var width = 0; var height = 0; var channels = 0
    var sawIhdr = false; var sawIend = false
    val idat = new java.io.ByteArrayOutputStream()
    val crc = new CRC32
    while (!sawIend) {
      if (pos + 12 > bytes.length) return None
      val len = beInt(bytes, pos)
      if (len < 0 || pos + 12 + len.toLong > bytes.length) return None
      val dataAt = pos + 8
      crc.reset()
      crc.update(bytes, pos + 4, 4 + len) // chunk type + data
      if (crc.getValue.toInt != beInt(bytes, dataAt + len)) return None
      val ctype = new String(bytes, pos + 4, 4, "US-ASCII")
      ctype match {
        case "IHDR" =>
          if (sawIhdr || len != 13) return None
          sawIhdr = true
          width = beInt(bytes, dataAt)
          height = beInt(bytes, dataAt + 4)
          val bitDepth = bytes(dataAt + 8) & 0xff
          val colorType = bytes(dataAt + 9) & 0xff
          val compression = bytes(dataAt + 10) & 0xff
          val filterMethod = bytes(dataAt + 11) & 0xff
          val interlace = bytes(dataAt + 12) & 0xff
          if (width <= 0 || height <= 0 || bitDepth != 8 ||
            compression != 0 || filterMethod != 0 || interlace != 0) return None
          channels = channelsOf(colorType).getOrElse(return None)
          if (width.toLong * height * channels > MaxPixelBytes) return None
        case "IDAT" =>
          if (!sawIhdr) return None
          idat.write(bytes, dataAt, len)
        case "IEND" =>
          if (!sawIhdr || len != 0) return None
          sawIend = true
        case _ => // ancillary chunk (tEXt, gAMA, ...): skip
          if (!sawIhdr) return None
      }
      pos = dataAt + len + 4
    }
    val stride = width * channels
    val rawLen = height.toLong * (1L + stride)
    if (rawLen > Int.MaxValue) return None
    val raw = new Array[Byte](rawLen.toInt)
    val inf = new Inflater()
    try {
      inf.setInput(idat.toByteArray)
      var got = 0
      while (got < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, got, raw.length - got)
        if (n == 0 && !inf.finished()) return None // truncated / needs dict
        got += n
      }
      // exact payload: everything inflated, nothing left over, and the
      // stream must reach its END — a deflate stream cut after the
      // last data symbol but before the end-of-block marker + adler32
      // trailer yields full output with finished() still false, and
      // skipping the finished check would also skip zlib's adler32
      // integrity verification
      if (got != raw.length || inf.inflate(new Array[Byte](1)) != 0) return None
      if (!inf.finished()) return None
    } catch {
      case _: java.util.zip.DataFormatException => return None
    } finally inf.end()

    val px = new Array[Byte](height * stride)
    val bpp = channels
    var y = 0
    while (y < height) {
      val rowAt = y * (1 + stride) // filter byte position in raw
      val outAt = y * stride
      val filter = raw(rowAt) & 0xff
      if (filter > 4) return None
      var x = 0
      while (x < stride) {
        val v = raw(rowAt + 1 + x) & 0xff
        val left = if (x >= bpp) px(outAt + x - bpp) & 0xff else 0
        val up = if (y > 0) px(outAt - stride + x) & 0xff else 0
        val upLeft = if (y > 0 && x >= bpp) px(outAt - stride + x - bpp) & 0xff else 0
        val recon = filter match {
          case 0 => v
          case 1 => v + left
          case 2 => v + up
          case 3 => v + ((left + up) >> 1)
          case 4 => v + paeth(left, up, upLeft)
        }
        px(outAt + x) = (recon & 0xff).toByte
        x += 1
      }
      y += 1
    }
    Some(Png(width, height, channels, px))
  }

  private def writeChunk(out: java.io.ByteArrayOutputStream, ctype: String,
      data: Array[Byte]): Unit = {
    def be(v: Int): Array[Byte] =
      Array(((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
        ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
    val tb = ctype.getBytes("US-ASCII")
    out.write(be(data.length), 0, 4)
    out.write(tb, 0, 4)
    out.write(data, 0, data.length)
    val crc = new CRC32
    crc.update(tb)
    crc.update(data)
    out.write(be(crc.getValue.toInt), 0, 4)
  }

  /** Minimal canonical encode: IHDR + one deflated IDAT with filter 0
    * on every row + IEND. Not the smallest PNG possible (no per-row
    * filter search) — but spec-valid, deterministic, and exactly
    * invertible by [[decode]] (encode enforces the same dimension and
    * size gates decode applies, so the round-trip invariant holds for
    * every accepted input).
    */
  def encode(img: Png): Array[Byte] = {
    require(Seq(1, 2, 3, 4).contains(img.channels), "unsupported channel count")
    require(img.width > 0 && img.height > 0, "dims must be positive")
    require(img.width.toLong * img.height * img.channels <= MaxPixelBytes,
      s"pixel buffer exceeds the ${MaxPixelBytes >> 20} MiB decode gate")
    require(img.pixels.length == img.width * img.height * img.channels,
      "pixel buffer does not match dims")
    val colorType = img.channels match {
      case 1 => 0
      case 2 => 4
      case 3 => 2
      case 4 => 6
    }
    val stride = img.width * img.channels
    val raw = new Array[Byte](img.height * (1 + stride))
    var y = 0
    while (y < img.height) {
      // raw(y * (1 + stride)) = 0: filter None
      System.arraycopy(img.pixels, y * stride, raw, y * (1 + stride) + 1, stride)
      y += 1
    }
    val deflater = new Deflater()
    val idat = try {
      deflater.setInput(raw)
      deflater.finish()
      val buf = new Array[Byte](math.max(1024, raw.length / 2))
      val acc = new java.io.ByteArrayOutputStream()
      while (!deflater.finished()) {
        val n = deflater.deflate(buf)
        acc.write(buf, 0, n)
      }
      acc.toByteArray
    } finally deflater.end()
    val ihdr = new Array[Byte](13)
    def putBe(at: Int, v: Int): Unit = {
      ihdr(at) = ((v >>> 24) & 0xff).toByte; ihdr(at + 1) = ((v >>> 16) & 0xff).toByte
      ihdr(at + 2) = ((v >>> 8) & 0xff).toByte; ihdr(at + 3) = (v & 0xff).toByte
    }
    putBe(0, img.width); putBe(4, img.height)
    ihdr(8) = 8; ihdr(9) = colorType.toByte; ihdr(10) = 0; ihdr(11) = 0; ihdr(12) = 0
    val out = new java.io.ByteArrayOutputStream()
    out.write(Signature, 0, Signature.length)
    writeChunk(out, "IHDR", ihdr)
    writeChunk(out, "IDAT", idat)
    writeChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Nearest-neighbor resample — the standard index mapping
    * `src = ⌊dst · srcDim / dstDim⌋` per axis, all channels of a pixel
    * copied together. Exact and allocation-bounded; every raster
    * format's resize stage runs it.
    */
  def resizeNearest(img: Png, outW: Int, outH: Int): Png = {
    require(outW > 0 && outH > 0, "target dims must be positive")
    require(outW.toLong * outH * img.channels <= MaxPixelBytes,
      s"target exceeds the ${MaxPixelBytes >> 20} MiB pixel-buffer gate")
    val ch = img.channels
    val dst = new Array[Byte](outW * outH * ch)
    var y = 0
    while (y < outH) {
      val sy = (y.toLong * img.height / outH).toInt
      var x = 0
      while (x < outW) {
        val sx = (x.toLong * img.width / outW).toInt
        val s = (sy * img.width + sx) * ch
        val d = (y * outW + x) * ch
        var c = 0
        while (c < ch) { dst(d + c) = img.pixels(s + c); c += 1 }
        x += 1
      }
      y += 1
    }
    Png(outW, outH, ch, dst)
  }

  /** Per-channel means, `channels` entries. */
  def channelMeans(img: Png): Array[Double] = {
    val ch = img.channels
    val sums = new Array[Long](ch)
    var i = 0
    while (i < img.pixels.length) {
      sums(i % ch) += img.pixels(i) & 0xff
      i += 1
    }
    val n = (img.pixels.length / ch).toDouble
    sums.map(_ / n)
  }
}
