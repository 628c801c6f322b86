package graft.operators

/** Pure-JVM codec for binary PPM (netpbm P6) images — a REAL decoder
  * for the multimodal tier, built from the public netpbm format spec:
  * ASCII header `P6 <width> <height> <maxval>` (tokens separated by
  * whitespace, `#` comments legal between tokens) followed by ONE
  * whitespace byte and `width·height·3` raw RGB bytes.
  *
  * This exists so the batched media plumbing ([[Multimodal]]) has at
  * least one format where decode, resample, and re-encode are real
  * byte-level work rather than the documented stub: the container has
  * no image libraries, but P6 needs none. Decode is total — malformed
  * or non-PPM bytes return None instead of throwing, because a decode
  * stage that dies on one corrupt payload out of billions is unusable
  * at scale. A decoded image is the shared raster type
  * ([[PngCodec.Png]] with 3 channels, as [[JpegCodec]] decodes into),
  * so resampling and channel means are [[PngCodec]]'s.
  */
object PpmCodec {

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\n' || b == '\r' || b == '\t' || b == '\f' || b == 0x0b

  /** Reads the next header token starting at `pos`, skipping
    * whitespace and `#`-to-end-of-line comments. Returns (token,
    * position after token) or None on truncation.
    */
  private def token(bytes: Array[Byte], pos0: Int): Option[(String, Int)] = {
    var pos = pos0
    var skipping = true
    while (skipping) {
      while (pos < bytes.length && isWs(bytes(pos))) pos += 1
      if (pos < bytes.length && bytes(pos) == '#') {
        while (pos < bytes.length && bytes(pos) != '\n') pos += 1
      } else skipping = false
    }
    if (pos >= bytes.length) return None
    val start = pos
    while (pos < bytes.length && !isWs(bytes(pos)) && bytes(pos) != '#') pos += 1
    Some((new String(bytes, start, pos - start, "US-ASCII"), pos))
  }

  /** Total decode: None for anything that is not a well-formed
    * 8-bit-per-channel P6 with a complete pixel payload.
    */
  def decode(bytes: Array[Byte]): Option[PngCodec.Png] = {
    if (bytes == null || bytes.length < 2 || bytes(0) != 'P' || bytes(1) != '6') return None
    for {
      (w, p1) <- token(bytes, 2)
      (h, p2) <- token(bytes, p1)
      (mx, p3) <- token(bytes, p2)
      width <- w.toIntOption
      height <- h.toIntOption
      maxval <- mx.toIntOption
      if width > 0 && height > 0 && maxval == 255
      // exactly ONE whitespace byte separates the header from the raster
      if p3 < bytes.length && isWs(bytes(p3))
      start = p3 + 1
      need = width.toLong * height * 3
      if start + need <= bytes.length
    } yield PngCodec.Png(width, height, 3,
      java.util.Arrays.copyOfRange(bytes, start, start + need.toInt))
  }

  /** Minimal canonical encode of an RGB raster: `P6\n<w> <h>\n255\n` + pixels. */
  def encode(img: PngCodec.Png): Array[Byte] = {
    require(img.channels == 3, s"PPM (P6) is RGB; got ${img.channels} channels")
    val header = s"P6\n${img.width} ${img.height}\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + img.pixels.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(img.pixels, 0, out, header.length, img.pixels.length)
    out
  }
}
