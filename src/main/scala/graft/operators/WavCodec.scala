package graft.operators

import java.nio.{ByteBuffer, ByteOrder}

/** Pure-JVM codec for 16-bit PCM WAV audio — the audio analog of
  * [[PngCodec]], built from the public RIFF/WAVE container spec: a
  * `RIFF` header with form type `WAVE`, then chunks (`fmt ` with
  * audio format 1 = PCM, a `data` chunk with interleaved samples;
  * unknown chunks like `LIST`/`fact` are skipped by their declared
  * size, with word alignment padding).
  *
  * Decode is total — malformed, truncated, compressed, or
  * non-16-bit payloads return None instead of throwing, for the same
  * reason as the image path: one corrupt payload out of billions must
  * not kill a decode stage.
  */
object WavCodec {

  /** Decoded PCM audio: interleaved 16-bit samples. */
  final case class Wav(sampleRate: Int, channels: Int, samples: Array[Short]) {
    def nFrames: Int = if (channels == 0) 0 else samples.length / channels
    def durationSec: Double = if (sampleRate == 0) 0.0 else nFrames.toDouble / sampleRate
  }

  /** Total decode of a 16-bit PCM RIFF/WAVE payload. */
  def decode(bytes: Array[Byte]): Option[Wav] = {
    if (bytes == null || bytes.length < 12) return None
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    if (buf.getInt(0) != 0x46464952) return None // "RIFF"
    if (buf.getInt(8) != 0x45564157) return None // "WAVE"
    var pos = 12
    var sampleRate = -1
    var channels = -1
    var bits = -1
    var data: Option[(Int, Int)] = None // (offset, length)
    while (pos + 8 <= bytes.length) {
      val id = buf.getInt(pos)
      val size = buf.getInt(pos + 4)
      if (size < 0 || pos + 8 + size.toLong > bytes.length) return None
      if (id == 0x20746d66) { // "fmt "
        if (size < 16) return None
        val fmt = buf.getShort(pos + 8) & 0xffff
        if (fmt != 1) return None // PCM only
        channels = buf.getShort(pos + 10) & 0xffff
        sampleRate = buf.getInt(pos + 12)
        bits = buf.getShort(pos + 22) & 0xffff
      } else if (id == 0x61746164 && data.isEmpty) { // "data" — FIRST
        // chunk wins: common decoders take the first data chunk, and
        // last-wins would make adversarial multi-data files decode
        // differently here than in standard tooling (ADVICE r6)
        data = Some((pos + 8, size))
      }
      pos += 8 + size + (size & 1) // chunks are word-aligned
    }
    for {
      (off, len) <- data
      if sampleRate > 0 && channels > 0 && bits == 16
      if len % 2 == 0 && (len / 2) % channels == 0
    } yield {
      val n = len / 2
      val samples = new Array[Short](n)
      var i = 0
      while (i < n) { samples(i) = buf.getShort(off + i * 2); i += 1 }
      Wav(sampleRate, channels, samples)
    }
  }

  /** Minimal canonical encode: RIFF + fmt (PCM 16) + data. */
  def encode(w: Wav): Array[Byte] = {
    val dataLen = w.samples.length * 2
    val buf = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(0x46464952).putInt(36 + dataLen).putInt(0x45564157)
    buf.putInt(0x20746d66).putInt(16)
      .putShort(1).putShort(w.channels.toShort).putInt(w.sampleRate)
      .putInt(w.sampleRate * w.channels * 2) // byte rate
      .putShort((w.channels * 2).toShort)    // block align
      .putShort(16)
    buf.putInt(0x61746164).putInt(dataLen)
    w.samples.foreach(buf.putShort)
    buf.array()
  }

  /** Per-channel RMS in [0, 1] — the loudness feature a curation
    * pipeline gates on (silence / clipping detection).
    */
  def rms(w: Wav): Array[Double] = {
    val out = new Array[Double](w.channels)
    if (w.nFrames == 0) return out
    val acc = new Array[Double](w.channels)
    var i = 0
    while (i < w.samples.length) {
      val c = i % w.channels
      val x = w.samples(i) / 32768.0
      acc(c) += x * x
      i += 1
    }
    var c = 0
    while (c < w.channels) { out(c) = math.sqrt(acc(c) / w.nFrames); c += 1 }
    out
  }
}
