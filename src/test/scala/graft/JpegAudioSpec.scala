package graft

import graft.operators.PngCodec.Png
import graft.operators.WavCodec.Wav
import graft.operators.{JpegCodec, Multimodal => M, PngCodec, WavCodec}

/** The JDK-backed JPEG tier ([[JpegCodec]] over imageio) through the
  * same batched Multimodal plumbing as the pure-JVM formats, and the
  * pure-JVM [[WavCodec]] checked against the JDK's javax.sound reader.
  *
  * JPEG is lossy, so unlike the PNG differential tests the pixel
  * assertions here are tolerance-banded on SMOOTH images (flat/
  * gradient rasters keep DCT quantization error to a few counts);
  * exactness is asserted where it truly holds — dims, channel layout,
  * in-JVM determinism of decode and fixed-quality encode, and
  * batch-path ≡ in-memory-codec equivalence.
  */
class JpegAudioSpec extends SparkSpec {

  /** Horizontal gradient — smooth enough that JPEG quantization error
    * stays within a few counts per sample.
    */
  private def gradient(w: Int, h: Int, ch: Int): Png = {
    val px = new Array[Byte](w * h * ch)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until ch)
      px((y * w + x) * ch + c) = (40 + (x * 160) / math.max(w - 1, 1) + c * 10).toByte
    Png(w, h, ch, px)
  }

  private def maxAbsDiff(a: Png, b: Png): Int = {
    assert(a.pixels.length == b.pixels.length)
    a.pixels.zip(b.pixels).map { case (x, y) => math.abs((x & 0xff) - (y & 0xff)) }.max
  }

  test("JpegCodec round-trips gray and rgb gradients within JPEG tolerance") {
    for (ch <- Seq(1, 3)) {
      val img = gradient(33, 17, ch)
      val bytes = JpegCodec.encode(img)
      assert((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8, "must start with SOI")
      val dec = JpegCodec.decode(bytes)
      assert(dec.isDefined, s"own encode must decode (ch=$ch)")
      assert(dec.get.width == 33 && dec.get.height == 17 && dec.get.channels == ch)
      assert(maxAbsDiff(img, dec.get) <= 6,
        s"smooth-image JPEG error must stay within quantization range (ch=$ch)")
    }
  }

  test("JpegCodec rejects non-JPEG, truncated, null, and oversized payloads") {
    assert(JpegCodec.decode(null).isEmpty)
    assert(JpegCodec.decode(Array.emptyByteArray).isEmpty)
    assert(JpegCodec.decode("not an image".getBytes("US-ASCII")).isEmpty)
    // a valid PNG must NOT decode through the JPEG tier (imageio would
    // happily sniff and decode it; the SOI gate keeps formats strict)
    assert(JpegCodec.decode(PngCodec.encode(gradient(4, 4, 3))).isEmpty)
    val good = JpegCodec.encode(gradient(16, 16, 3))
    assert(JpegCodec.decode(good.take(good.length / 2)).isEmpty, "truncated stream")
    // flipped bits in the entropy-coded tail must not throw
    val bad = good.clone(); for (i <- good.length - 10 until good.length) bad(i) = 0x55
    JpegCodec.decode(bad) // Some or None both fine — just must not throw
  }

  test("JpegCodec decode and fixed-quality encode are deterministic in-JVM") {
    val img = gradient(24, 24, 3)
    val e1 = JpegCodec.encode(img); val e2 = JpegCodec.encode(img)
    assert(java.util.Arrays.equals(e1, e2), "encode must be byte-identical")
    val d1 = JpegCodec.decode(e1).get; val d2 = JpegCodec.decode(e1).get
    assert(java.util.Arrays.equals(d1.pixels, d2.pixels), "decode must be deterministic")
  }

  test("decodeJpegBatched: batch path ≡ in-memory codec, total decode, no exchange") {
    import spark.implicits._
    val gray = gradient(8, 6, 1)
    val rgb = gradient(16, 16, 3)
    val rows = Seq(
      1L -> JpegCodec.encode(gray),
      2L -> JpegCodec.encode(rgb),
      3L -> "not an image".getBytes("US-ASCII"),
      4L -> null.asInstanceOf[Array[Byte]])
    val df = rows.toDF("doc_id", "payload")
    val dec = M.decodeJpegBatched(df, "doc_id").collect().map(d => d.doc_id -> d).toMap
    val gm = PngCodec.channelMeans(JpegCodec.decode(JpegCodec.encode(gray)).get)(0)
    assert(dec(1L).ok && dec(1L).width == 8 && dec(1L).height == 6)
    assert(dec(1L).mean_r == gm && dec(1L).mean_g == gm && dec(1L).mean_b == gm,
      "gray means must fan out to r/g/b and match the in-memory decode exactly")
    val rm = PngCodec.channelMeans(JpegCodec.decode(JpegCodec.encode(rgb)).get)
    assert(dec(2L).ok && dec(2L).mean_r == rm(0) && dec(2L).mean_g == rm(1) &&
      dec(2L).mean_b == rm(2))
    assert(!dec(3L).ok)
    assert(!dec(4L).ok && dec(4L).n_bytes == 0L, "null payload carries through as rejected")
    assert(shuffles(M.decodeJpegBatched(df, "doc_id").toDF()).isEmpty,
      "batched JPEG decode must not plan an exchange")
  }

  test("q61-style rollup over a generated JPEG corpus through the batch path") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // deterministic corpus: dims and channel count derived from doc_id
    val docs = (0L until 60L).map { id =>
      val ch = if (id % 4 == 0) 1 else 3
      val w = 8 + (id % 5).toInt * 4
      val h = 6 + (id % 3).toInt * 4
      (id, JpegCodec.encode(gradient(w, h, ch)))
    }
    val df = docs.toDF("doc_id", "payload").repartition(4)
    val rollup = M.decodeJpegBatched(df, "doc_id")
      .groupBy((col("doc_id") % 4 === 0).as("is_gray"))
      .agg(count(lit(1)).as("n"), sum(col("width") * col("height")).as("total_px"),
        avg(col("mean_r")).as("avg_r"))
      .collect().map(r => r.getBoolean(0) -> r).toMap
    // independent expectation from the in-memory codec
    val expect = docs.map { case (id, bytes) =>
      val img = JpegCodec.decode(bytes).get
      (id % 4 == 0, img.width.toLong * img.height, PngCodec.channelMeans(img)(0))
    }
    for (flag <- Seq(true, false)) {
      val group = expect.filter(_._1 == flag)
      assert(rollup(flag).getLong(1) == group.size, s"count ($flag)")
      assert(rollup(flag).getLong(2) == group.map(_._2).sum, s"total_px ($flag)")
      assert(math.abs(rollup(flag).getDouble(3) - group.map(_._3).sum / group.size) < 1e-9,
        s"avg mean_r ($flag)")
    }
  }

  test("javax.sound and WavCodec agree on the same WAV bytes (independent parsers)") {
    import javax.sound.sampled.AudioSystem
    val rnd = new scala.util.Random(11)
    val samples = Array.fill(2 * 500)(rnd.nextInt(65536 - 1).toShort)
    val bytes = WavCodec.encode(Wav(16000, 2, samples))
    val viaOurs = WavCodec.decode(bytes).get
    val in = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
    val fmt = in.getFormat
    val raw = try in.readAllBytes() finally in.close()
    assert(fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
      fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian)
    assert(math.round(fmt.getSampleRate) == viaOurs.sampleRate)
    assert(fmt.getChannels == viaOurs.channels)
    val viaJdk = Array.tabulate(raw.length / 2)(i =>
      ((raw(2 * i) & 0xff) | (raw(2 * i + 1) << 8)).toShort)
    assert(viaJdk.sameElements(viaOurs.samples),
      "the scratch-built RIFF parser and the JDK provider must read identical frames")
  }

  test("WavCodec takes the FIRST data chunk when a file carries several") {
    val w = Wav(8000, 1, Array[Short](100, 200, 300))
    val good = WavCodec.encode(w)
    // append a second, different data chunk
    val extra = WavCodec.encode(Wav(8000, 1, Array[Short](-1, -2, -3)))
    val secondData = extra.drop(36) // "data" header + frames
    val multi = good ++ secondData
    val dec = WavCodec.decode(multi)
    assert(dec.isDefined, "multi-data file must still decode")
    assert(dec.get.samples.sameElements(Array[Short](100, 200, 300)),
      "first data chunk must win (common-decoder behavior, ADVICE r6)")
  }
}
