package graft.operators

import java.nio.{ByteBuffer, ByteOrder}

/** Minimal length-indexed frame container — the plumbing shape of a
  * video payload: a header with per-frame byte lengths, then the
  * frame payloads back-to-back, each frame independently decodable by
  * a REAL image codec ([[PngCodec]] here; an I-frame-only MJPEG/AVI
  * walk has the same access pattern over RIFF chunks).
  *
  * The container itself is bespoke (`GRFV` magic — this environment
  * has no video libraries to produce a standard container), but the
  * property that matters for the pipeline is REAL and load-bearing:
  * the length index makes frame access a SEEK, so sampling every
  * k-th frame decodes only the sampled frames — extraction cost is
  * O(sampled), not O(video length). That is the frame-sampling
  * economics a 100 TB video corpus depends on: a stride-30 keyframe
  * pass over hour-long clips touches ~0.1% of the decode work a
  * full-decode pass would.
  *
  * Layout (little-endian): "GRFV" | int32 n | int32 len[n] |
  * frame bytes. Decode is total — malformed headers, negative or
  * overflowing lengths, and truncated payloads return None, never
  * throw (one corrupt payload out of billions must not kill the
  * stage).
  */
object FrameContainer {

  private val Magic = 0x56465247 // "GRFV" little-endian

  /** Container bytes for the given encoded frames. */
  def encode(frames: Seq[Array[Byte]]): Array[Byte] = {
    val total = 8 + 4 * frames.length + frames.map(_.length).sum
    val buf = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(Magic).putInt(frames.length)
    frames.foreach(f => buf.putInt(f.length))
    frames.foreach(buf.put)
    buf.array()
  }

  /** Per-frame (offset, length) index, validated against the payload
    * size — the seek table every sampled access goes through.
    */
  def index(bytes: Array[Byte]): Option[Array[(Int, Int)]] = {
    if (bytes == null || bytes.length < 8) return None
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    if (buf.getInt(0) != Magic) return None
    val n = buf.getInt(4)
    if (n < 0 || 8L + 4L * n > bytes.length) return None
    val out = new Array[(Int, Int)](n)
    var off = 8 + 4 * n
    var i = 0
    while (i < n) {
      val len = buf.getInt(8 + 4 * i)
      if (len < 0 || off.toLong + len > bytes.length) return None
      out(i) = (off, len)
      off += len
      i += 1
    }
    Some(out)
  }

  /** The i-th frame's bytes via the seek table — O(header + frame),
    * never a scan over preceding frames' payloads.
    */
  def frameAt(bytes: Array[Byte], i: Int): Option[Array[Byte]] =
    index(bytes).flatMap { idx =>
      if (i < 0 || i >= idx.length) None
      else {
        val (off, len) = idx(i)
        Some(java.util.Arrays.copyOfRange(bytes, off, off + len))
      }
    }
}
