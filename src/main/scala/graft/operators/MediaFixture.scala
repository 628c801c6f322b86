package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One synthesized media row: a REAL encoded payload whose decoded
  * features are pure arithmetic in `doc_id` — so a DuckDB oracle can
  * predict them without decoding anything.
  */
final case class MediaRow(doc_id: Long, format: String, payload: Array[Byte])

/** Deterministic REAL-media synthesis (VERDICT r7 "next" #5).
  *
  * The driver testdata carries no real image/audio bytes, so the real
  * codecs ([[PngCodec]]/[[JpegCodec]]/[[WavCodec]]) were spec-covered
  * but absent from the hard correctness artifact. This fixture closes
  * the loop: each document row is assigned a format by `doc_id % 3`
  * and a payload ENCODED BY THE JDK (ImageIO for png/jpeg,
  * javax.sound for wav — the independent producer), with constant
  * pixel color / constant PCM amplitude derived from `doc_id`. The
  * scratch-built decoders then run inside the oracle gate: width,
  * height, channel means (constant image ⇒ mean = the exact color)
  * and RMS (constant amplitude 512·k ⇒ exactly k/64, no rounding at
  * the decimal cast) are all closed-form in `doc_id`, so the DuckDB
  * side recomputes the expected rollup from `documents` alone.
  *
  * Encode runs per-partition with no shuffle (the same batched shape
  * as the decode paths); payload bytes exist only inside the task
  * that immediately decodes them.
  *
  * The patterned fixtures (q102, q110, q111) draw every payload, or
  * every video frame, from a few dozen classes, so each task keeps a
  * small array of the distinct encodings, filled on first use and
  * dropped with the task ([[perTask]]): q111's 500 documents encode
  * their 6,000 frames from 34 PNGs instead of 6,000. Payload bytes
  * still exist only inside their task: nothing is shared across
  * tasks, queries or runs, every row still carries its own payload
  * bytes, and every decoder still decodes every payload.
  */
object MediaFixture {

  /** (doc_id, format, payload) with format ∈ png|jpeg|wav by
    * `doc_id % 3`. Raster dims: (1 + id%13) × (1 + id%7); color
    * (id·31 % 256, id·17 % 256, id·7 % 256). Audio: mono PCM16,
    * rate 8000 + (id%5)·2000, 100 + id%50 frames, amplitude
    * 512·(1 + id%60).
    */
  def synthesize(docs: DataFrame, idCol: String): DataFrame = {
    val slim = docs.select(col(idCol).cast("long"))
    import slim.sparkSession.implicits._
    slim.as[Long].mapPartitions(_.map(encodeRow)).toDF()
  }

  private def encodeRow(id: Long): MediaRow = (id % 3) match {
    case 0 => MediaRow(id, "png", encodeImage(id, "png"))
    case 1 => MediaRow(id, "jpeg", encodeImage(id, "jpeg"))
    case _ => MediaRow(id, "wav", encodeWav(id))
  }

  private def encodeImage(id: Long, fmt: String): Array[Byte] = {
    val w = (1 + id % 13).toInt
    val h = (1 + id % 7).toInt
    val r = ((id * 31) % 256).toInt
    val g = ((id * 17) % 256).toInt
    val b = ((id * 7) % 256).toInt
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val rgb = (r << 16) | (g << 8) | b
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val baos = new ByteArrayOutputStream()
    ImageIO.write(img, fmt, baos)
    baos.toByteArray
  }

  /** Patterned-image synthesis for the PERCEPTUAL-dedup gate (q102):
    * each doc renders an 8×8 two-tone base pattern determined ONLY by
    * its class (`doc_id % 17`) — cell c ∈ 0..63 is white iff
    * `((c+1)·(k+3)) % 17 % 2 = 1` — blown up to 16×16 or 32×32 by
    * `doc_id % 2` and encoded as a REAL PNG by the JDK. Same class ⇒
    * pixel-identical CONTENT at different resolutions and different
    * payload bytes — exactly the shape a byte-hash dedup misses and a
    * perceptual hash must catch. Class 14 is all-black ((k+3) ≡ 0
    * mod 17); all-white is impossible (cells 16/33/50 have
    * (c+1) ≡ 0 mod 17 ⇒ black for every class), so the average-hash
    * threshold never degenerates.
    */
  def synthesizePatterned(docs: DataFrame, idCol: String): DataFrame =
    perTask(docs, idCol, "png", PatternSlots, encodePatternSlot) { (id, pattern) =>
      pattern(patternSlot((id % 17).toInt, id))
    }

  /** One row per id of `docs`, its payload built by `payload(id,
    * encoded)`, where `encoded(slot)` is `encode(slot)` computed at most
    * once per task for each of `slots` slots.
    */
  private def perTask(docs: DataFrame, idCol: String, format: String,
      slots: Int, encode: Int => Array[Byte])(
      payload: (Long, Int => Array[Byte]) => Array[Byte]): DataFrame = {
    val slim = docs.select(col(idCol).cast("long"))
    import slim.sparkSession.implicits._
    slim.as[Long].mapPartitions { ids =>
      val memo = new Array[Array[Byte]](slots)
      val encoded = (s: Int) => {
        if (memo(s) == null) memo(s) = encode(s)
        memo(s)
      }
      ids.map(id => MediaRow(id, format, payload(id, encoded)))
    }.toDF()
  }

  // pattern class k ∈ 0..16 at scale 2 (even id) or 4 (odd id)
  private val PatternSlots = 17 * 2
  private def patternSlot(k: Int, id: Long): Int = k * 2 + (id % 2).toInt
  private def encodePatternSlot(s: Int): Array[Byte] =
    encodePatternK(s / 2, if (s % 2 == 0) 2 else 4)

  private[graft] def encodePatternK(k: Int, scale: Int): Array[Byte] = {
    val dim = 8 * scale
    val img = new BufferedImage(dim, dim, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < dim) {
      var x = 0
      while (x < dim) {
        val c = (y / scale) * 8 + (x / scale)
        val white = ((c + 1) * (k + 3)) % 17 % 2 == 1
        img.setRGB(x, y, if (white) 0xffffff else 0x000000)
        x += 1
      }
      y += 1
    }
    val baos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Patterned-video synthesis for the keyframe-dedup gate (q111):
    * each doc renders a 12-frame [[FrameContainer]] whose frame j is a
    * REAL JDK-encoded PNG of pattern class `(k·5 + j) % 17` (the q102
    * two-tone cells) with k = `doc_id % 11` — so the frame SEQUENCE is
    * determined only by the class — at resolution 16×16 or 32×32 by
    * `doc_id % 2`. Same class ⇒ identical frame content at different
    * resolutions and different payload bytes; the stride-4 keyframe
    * sample (frames 0, 4, 8) must collapse each class to one
    * signature cluster. Every sampled frame class is closed-form in
    * `doc_id`, so the oracle re-derives each signature from
    * `documents` alone via the q102 white-cell-sum hash formula.
    */
  def synthesizeVideoPatterned(docs: DataFrame, idCol: String): DataFrame =
    perTask(docs, idCol, "grfv", PatternSlots, encodePatternSlot) { (id, frame) =>
      val k = (id % 11).toInt
      FrameContainer.encode((0 until 12).map(j => frame(patternSlot((k * 5 + j) % 17, id))))
    }

  /** Enveloped-audio synthesis for the audio-fingerprint gate (q110):
    * each doc renders an 8-segment amplitude ENVELOPE determined only
    * by its class (`doc_id % 13`) — segment i holds constant positive
    * amplitude `512 · (1 + (k·7 + 3i) % 11) · gain` — while the
    * payload bytes vary by `doc_id % 2` (sample rate 8000 vs 16000 Hz,
    * same 0.02 s per segment ⇒ 160 vs 320 frames each) and
    * `doc_id % 3` (gain ×1..3; max amplitude 512·11·3 = 16896 <
    * 32768, no clipping), encoded as a REAL WAVE by javax.sound (the
    * independent producer — [[WavCodec]] is the consumer under test).
    * Same class ⇒ identical envelope SHAPE at different rates and
    * loudness — exactly what a byte-hash dedup misses and the
    * delta-sign fingerprint must catch. Adjacent segment amplitudes
    * are never equal (3 ≢ 0 mod 11 ⇒ consecutive levels differ), so
    * the fingerprint is well-defined and strictly gain-invariant.
    */
  def synthesizeAudioPatterned(docs: DataFrame, idCol: String): DataFrame =
    perTask(docs, idCol, "wav", 13 * 3 * 2, encodeEnvelopeSlot) { (id, envelope) =>
      envelope(((id % 13).toInt * 3 + (id % 3).toInt) * 2 + (id % 2).toInt)
    }

  // slot ((k·3 + gain − 1)·2 + rate/8000 − 1), k ∈ 0..12
  private def encodeEnvelopeSlot(s: Int): Array[Byte] =
    encodeEnvelope(s / 6, 1 + s / 2 % 3, 8000 * (1 + s % 2))

  private[graft] def encodeEnvelope(k: Int, gain: Int, rate: Int): Array[Byte] = {
    val framesPerSeg = rate / 50 // 0.02 s per segment, exact at both rates
    val data = new Array[Byte](8 * framesPerSeg * 2)
    var seg = 0
    while (seg < 8) {
      val amp = 512 * (1 + (k * 7 + 3 * seg) % 11) * gain
      var f = 0
      while (f < framesPerSeg) {
        val i = seg * framesPerSeg + f
        data(2 * i) = (amp & 0xff).toByte
        data(2 * i + 1) = ((amp >> 8) & 0xff).toByte
        f += 1
      }
      seg += 1
    }
    val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(
      new ByteArrayInputStream(data), fmt, (8 * framesPerSeg).toLong)
    val baos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  private def encodeWav(id: Long): Array[Byte] = {
    val rate = (8000 + (id % 5) * 2000).toInt
    val frames = (100 + id % 50).toInt
    // amplitude is a multiple of 512 so rms = amp/32768 = k/64 — exact
    // in binary AND at the 6-decimal cast (k·15625 micro-units), so
    // the decimal-routed sum is tie-free on both engines
    val amp = (512 * (1 + id % 60)).toInt
    val data = new Array[Byte](frames * 2)
    var i = 0
    while (i < frames) {
      data(2 * i) = (amp & 0xff).toByte
      data(2 * i + 1) = ((amp >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(data), fmt, frames.toLong)
    val baos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }
}
