package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** One resized + frame-sampled media row (the [[Multimodal.resizeFramesBatched]]
  * output schema): metadata dims are recomputed for the resize, the
  * payload is replaced by its resized bytes' digest + sizes, and the
  * sampled frame digests are capped at the sampling budget.
  */
final case class ResizedMedia(doc_id: Long, format: String,
    out_width: Long, out_height: Long, n_bytes_in: Long, n_bytes_out: Long,
    checksum: String, n_frames: Long, first_frame: String)

/** One really-decoded image row ([[Multimodal.decodePngBatched]],
  * [[Multimodal.decodeJpegBatched]]): dims come from the image
  * header, features from the raster. `ok =
  * false` rows carry the doc through with nulls-as-zeros instead of
  * killing the batch — decode is total.
  */
final case class DecodedImage(doc_id: Long, ok: Boolean, width: Long, height: Long,
    mean_r: Double, mean_g: Double, mean_b: Double, n_bytes: Long)

/** One perceptually-hashed image row ([[Multimodal.aHashPngBatched]]):
  * `ahash` is the 63-bit average-hash of the decoded raster (8×8
  * nearest-neighbor thumbnail, per-cell channel mean thresholded by
  * the global mean; bit 63 reserved so the value stays portable
  * signed-BIGINT arithmetic cross-engine). `ok = false` rows carry
  * through with hash 0 — total decode, same rule as images.
  */
final case class ImageHash(doc_id: Long, ok: Boolean, width: Long,
    height: Long, ahash: Long)

/** One really-decoded audio row ([[Multimodal.decodeWavBatched]]):
  * rate/channels from the RIFF header, duration and per-channel RMS
  * from the PCM frames. `ok = false` rows carry through — total
  * decode, same rule as images.
  */
final case class DecodedAudio(doc_id: Long, ok: Boolean, sample_rate: Long,
    channels: Long, n_frames: Long, duration_sec: Double, rms_max: Double,
    n_bytes: Long)

/** One keyframe-sampled video row ([[Multimodal.sampleFramesBatched]]):
  * `n_frames` from the container header, `n_sampled` frames actually
  * decoded (stride walk over the seek table), `vhash` the XOR of the
  * sampled frames' perceptual average-hashes — resolution-invariant
  * because each frame hash is. `ok = false` rows carry through —
  * total decode, and a video whose SAMPLED frames include one
  * undecodable image is rejected as a whole (a half-signature would
  * silently alias across content).
  */
final case class VideoSignature(doc_id: Long, ok: Boolean, n_frames: Long,
    n_sampled: Long, vhash: Long)

/** One acoustically-fingerprinted audio row
  * ([[Multimodal.audioFingerprintBatched]]): `fp` is the delta-sign
  * envelope fingerprint — bit i set iff segment i+1 is louder than
  * segment i — gain- and sample-rate-invariant by construction.
  * `ok = false` rows carry through with fp 0 — total decode.
  */
final case class AudioFingerprint(doc_id: Long, ok: Boolean,
    sample_rate: Long, n_frames: Long, fp: Long)

/** Multimodal payload plumbing (SURVEY.md §2 q60).
  *
  * Models the Spark-side shape of an image/audio pipeline: an opaque
  * `binary` payload column + a typed metadata struct, with
  * decode/feature steps as column pipelines downstream of the payload.
  * General image/audio codec libraries are NOT available in this
  * environment — `decodeStub` is a clearly-marked deterministic fake
  * (strided hash "frames" standing in for sampled decoded frames) —
  * but three real formats decode inside the same batched plumbing:
  * PNG via JDK zlib ([[PngCodec]] — CRC-checked chunks, inflate,
  * five-filter scanline reconstruction), JPEG via the JDK's imageio
  * ([[JpegCodec]]) and 16-bit PCM WAV ([[WavCodec]])
  * ([[decodePngBatched]]/[[decodeJpegBatched]]/[[decodeWavBatched]],
  * rolled up by q82 and differentially tested in MultimodalSpec and
  * JpegAudioSpec). The plumbing that matters at scale IS real either
  * way: payloads stay opaque bytes end-to-end, metadata travels as a
  * struct column, per-row cost is O(payload bytes), and nothing
  * shuffles until an explicit aggregate.
  *
  * On a real cluster the stub body is replaced by an `mapInPandas` /
  * JNI decode over the same (payload, meta) schema — the surrounding
  * plan is unchanged, as the PNG path demonstrates.
  */
object Multimodal {

  /** Wraps a text column as an opaque binary payload with a typed
    * metadata struct (format/width/height derived deterministically
    * from the row id — the testdata has no real media bytes).
    */
  def withPayload(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.withColumn("payload", col(textCol).cast("binary"))
      .withColumn("meta", struct(
        element_at(array(lit("jpeg"), lit("png"), lit("webp")), (pmod(col(idCol), lit(3)) + 1).cast("int")).as("format"),
        (lit(64) + pmod(col(idCol), lit(16)) * 32).cast("long").as("width"),
        (lit(64) + pmod(col(idCol), lit(12)) * 32).cast("long").as("height")))

  /** STUB decode/feature-extract: deterministic fake in place of a real
    * codec. "Frame samples" are md5 digests of strided 16-BYTE windows
    * of the raw payload (stride 64 ≈ frame sampling); `checksum` is
    * the md5 of the raw payload bytes. Everything is derived from the
    * payload BYTES — the same bytes [[resizeFramesBatched]] strides at
    * factor 1 — so the two shapes are equivalent by construction for
    * any input (ADVICE r3: the old char-strided form only agreed with
    * the byte-strided batch path on single-byte text). Schema and
    * batch shape match what a real decoder UDF would produce.
    */
  def decodeStub(df: DataFrame): DataFrame =
    df.withColumn("n_bytes", octet_length(col("payload")).cast("long"))
      .withColumn("checksum", md5(col("payload")))
      .withColumn("frames", expr(
        "transform(sequence(1, greatest(octet_length(payload)-15, 1), 64)," +
          " i -> md5(substring(payload, i, 16)))"))
      .withColumn("n_frames", size(col("frames")).cast("long"))
      .withColumn("first_frame", element_at(col("frames"), 1))

  /** Per-partition md5-hex closure — ONE MessageDigest per task, the
    * content address [[resizeFramesBatched]] emits.
    */
  private def md5Hex(): Array[Byte] => String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    b => {
      val digest = md.digest(b)
      val sb = new StringBuilder(32)
      for (x <- digest) sb.append(f"${x & 0xff}%02x")
      sb.toString
    }
  }

  /** Null-safe payload size for the `ok = false` carry-through rows —
    * a NULL binary cell must become a rejected row, not a thrown task
    * (the codecs themselves treat null as undecodable).
    */
  private def byteLen(payload: Array[Byte]): Long =
    if (payload == null) 0L else payload.length.toLong

  implicit val resizedEnc: Encoder[ResizedMedia] = Encoders.product[ResizedMedia]
  implicit val decodedImgEnc: Encoder[DecodedImage] = Encoders.product[DecodedImage]
  implicit val decodedAudEnc: Encoder[DecodedAudio] = Encoders.product[DecodedAudio]
  implicit val imageHashEnc: Encoder[ImageHash] = Encoders.product[ImageHash]
  implicit val audioFpEnc: Encoder[AudioFingerprint] = Encoders.product[AudioFingerprint]
  implicit val videoSigEnc: Encoder[VideoSignature] = Encoders.product[VideoSignature]

  /** Shared scaffold for every REAL batched codec stage: slim
    * (id, payload) projection, typed iterator, per-TASK setup via `mk`
    * (a codec context / MessageDigest — paid once per partition), one
    * output row per input row via `f`. Each per-format entry point is
    * reduced to its row contract (review r7: five decode wrappers and
    * three resize twins had copied this scaffold verbatim — a contract
    * change now edits one place). Preserves input partitioning; no
    * shuffle.
    */
  private def payloadBatched[S, T: Encoder](df: DataFrame, idCol: String)(
      mk: () => S)(f: (S, Long, Array[Byte]) => T): Dataset[T] = {
    val slim = df.select(col(idCol).cast("long"), col("payload"))
    import slim.sparkSession.implicits._
    slim.as[(Long, Array[Byte])].mapPartitions { it =>
      val state = mk()
      it.map { case (id, payload) => f(state, id, payload) }
    }
  }

  /** REAL batched audio decode for 16-bit PCM WAV payloads
    * ([[WavCodec]]) — the audio twin of [[decodePngBatched]]: header
    * metadata and PCM features per row, `ok = false` for anything the
    * total decoder rejects, input partitioning preserved, no shuffle.
    */
  def decodeWavBatched(df: DataFrame, idCol: String): Dataset[DecodedAudio] =
    payloadBatched(df, idCol)(() => ()) { (_, id, payload) =>
      audioRow(id, payload, WavCodec.decode(payload))
    }

  /** The shared audio row contract: header metadata + PCM features for
    * a decoded [[WavCodec.Wav]], an `ok = false` carry-through row
    * otherwise.
    */
  private def audioRow(id: Long, payload: Array[Byte],
      decoded: Option[WavCodec.Wav]): DecodedAudio = decoded match {
    case Some(w) =>
      val loudness = WavCodec.rms(w)
      DecodedAudio(id, ok = true, w.sampleRate.toLong, w.channels.toLong,
        w.nFrames.toLong, w.durationSec,
        if (loudness.isEmpty) 0.0 else loudness.max, byteLen(payload))
    case None =>
      DecodedAudio(id, ok = false, 0L, 0L, 0L, 0.0, 0.0, byteLen(payload))
  }

  /** REAL batched image decode for JPEG payloads ([[JpegCodec]] over
    * the JDK's imageio plugin) — same contract as
    * [[decodePngBatched]]: header dims and channel means per row,
    * `ok = false` for anything the total decoder rejects (non-JPEG
    * signatures, CMYK, malformed streams), input partitioning
    * preserved, no shuffle. Gray means fan out to (r, g, b) like the
    * PNG path.
    */
  def decodeJpegBatched(df: DataFrame, idCol: String): Dataset[DecodedImage] =
    payloadBatched(df, idCol)(() => ()) { (_, id, payload) =>
      rasterRow(id, payload, JpegCodec.decode(payload))
    }

  /** The shared raster row contract ([[PngCodec.Png]] — JPEG
    * decodes into the same type): header dims + channel means, gray (+alpha)
    * fanned out to (r, g, b); `ok = false` carry-through otherwise.
    */
  private def rasterRow(id: Long, payload: Array[Byte],
      decoded: Option[PngCodec.Png]): DecodedImage = decoded match {
    case Some(img) =>
      val m = PngCodec.channelMeans(img)
      val (r, g, b) = img.channels match {
        case 1 | 2 => (m(0), m(0), m(0)) // gray (+alpha dropped)
        case _     => (m(0), m(1), m(2)) // rgb / rgba
      }
      DecodedImage(id, ok = true, img.width.toLong, img.height.toLong,
        r, g, b, byteLen(payload))
    case None =>
      DecodedImage(id, ok = false, 0L, 0L, 0.0, 0.0, 0.0, byteLen(payload))
  }

  /** REAL batched image decode for PNG payloads ([[PngCodec]]): per
    * task the codec runs as plain JVM code, per row the decode is the
    * full PNG critical path — CRC-checked chunk walk, zlib inflate,
    * five-filter scanline reconstruction — and channel means come from
    * the raster. Grayscale means fan out to (r, g, b);
    * alpha, when present, is ignored for the channel means. Malformed
    * payloads yield `ok = false` rows; input partitioning preserved,
    * no shuffle.
    */
  def decodePngBatched(df: DataFrame, idCol: String): Dataset[DecodedImage] =
    payloadBatched(df, idCol)(() => ()) { (_, id, payload) =>
      rasterRow(id, payload, PngCodec.decode(payload))
    }

  /** PERCEPTUAL average-hash over really-decoded PNG payloads — the
    * multimodal twin of the text-dedup sketches (q41/q42): decode →
    * 8×8 nearest-neighbor thumbnail → per-cell channel mean → bit =
    * cell above the global mean → 63-bit hash. Content-level, so
    * re-encodes and resolution changes that preserve the picture
    * collapse to one hash while a byte/md5 dedup sees distinct
    * payloads. Same batched scaffold as every codec stage: per-task
    * setup, total decode, input partitioning preserved, no shuffle —
    * the downstream dedup is a plain groupBy on the 8-byte hash
    * exactly like q40's md5 shuffle, never a pairwise image compare.
    */
  def aHashPngBatched(df: DataFrame, idCol: String): Dataset[ImageHash] =
    payloadBatched(df, idCol)(() => ()) { (_, id, payload) =>
      PngCodec.decode(payload) match {
        case Some(img) =>
          ImageHash(id, ok = true, img.width.toLong, img.height.toLong, aHashOf(img))
        case None => ImageHash(id, ok = false, 0L, 0L, 0L)
      }
    }

  /** The 63-bit average-hash of a decoded raster (8×8 nearest
    * thumbnail, per-cell channel mean vs global mean) — shared by the
    * still-image ([[aHashPngBatched]]) and video-keyframe
    * ([[sampleFramesBatched]]) paths.
    */
  private def aHashOf(img: PngCodec.Png): Long = {
    val g = PngCodec.resizeNearest(img, 8, 8)
    val ch = g.channels
    val v = new Array[Double](64)
    var c = 0
    while (c < 64) {
      var s = 0
      var i = 0
      while (i < ch) { s += g.pixels(c * ch + i) & 0xff; i += 1 }
      v(c) = s.toDouble / ch
      c += 1
    }
    val mean = v.sum / 64.0
    var hash = 0L
    c = 0
    while (c < 63) {
      if (v(c) > mean) hash |= (1L << c)
      c += 1
    }
    hash
  }

  /** KEYFRAME sampling + perceptual signature over [[FrameContainer]]
    * video payloads — the real form of the q61 frame-sample stub: the
    * container's length index turns frame access into a SEEK, so only
    * every `stride`-th frame is ever decoded — per-row cost is
    * O(sampled frames), not O(video bytes), which is the whole
    * economics of a keyframe pass over a 100 TB clip corpus. Each
    * sampled frame decodes through the REAL PNG critical path and
    * hashes with the shared average-hash; the clip signature is the
    * XOR of the sampled frame hashes (order-insensitive and
    * resolution-invariant because each frame hash is; a re-encoded or
    * rescaled copy of the same cut collapses to the same signature).
    * A sampled frame that fails to decode rejects the whole clip
    * (`ok = false`) — a partial signature would alias across content.
    * Same scaffold as every codec stage: per-task setup, total
    * decode, input partitioning preserved, no shuffle; downstream
    * dedup is q40's groupBy on the 8-byte signature.
    */
  def sampleFramesBatched(df: DataFrame, idCol: String,
      stride: Int): Dataset[VideoSignature] = {
    require(stride >= 1, "frame stride must be positive")
    payloadBatched(df, idCol)(() => ()) { (_, id, payload) =>
      FrameContainer.index(payload) match {
        case Some(idx) if idx.nonEmpty =>
          var vhash = 0L
          var n = 0L
          var bad = false
          var i = 0
          while (i < idx.length && !bad) {
            FrameContainer.frameAt(payload, i).flatMap(PngCodec.decode) match {
              case Some(img) => vhash ^= aHashOf(img); n += 1
              case None => bad = true
            }
            i += stride
          }
          if (bad) VideoSignature(id, ok = false, idx.length.toLong, 0L, 0L)
          else VideoSignature(id, ok = true, idx.length.toLong, n, vhash)
        case _ => VideoSignature(id, ok = false, 0L, 0L, 0L)
      }
    }
  }

  /** ACOUSTIC delta-sign fingerprint over really-decoded WAV payloads
    * — the audio twin of [[aHashPngBatched]] (the published
    * Shazam/Chromaprint simplification: fingerprint the energy
    * ENVELOPE's direction of change, not its magnitude): decode →
    * split the clip into `segments` equal-duration blocks → per-block
    * mean |amplitude| → bit i set iff block i+1 is strictly louder
    * than block i. Loudness comparisons are EXACT integer arithmetic
    * (cross-multiplied Long sums — no float means), so the bit
    * pattern is invariant to any positive gain (scaling every sample
    * scales both sides of each comparison) and to sample-rate changes
    * that preserve the envelope (per-block means don't care how many
    * frames realize a block). Same batched scaffold as every codec
    * stage: per-task setup, total decode, input partitioning
    * preserved, no shuffle — downstream dedup is q40's groupBy on an
    * 8-byte hash, never a pairwise clip compare.
    */
  def audioFingerprintBatched(df: DataFrame, idCol: String,
      segments: Int = 8): Dataset[AudioFingerprint] = {
    require(segments >= 2 && segments <= 64, "need 2..64 envelope segments")
    payloadBatched(df, idCol)(() => ()) { (_, id, payload) =>
      WavCodec.decode(payload) match {
        case Some(w) if w.nFrames >= segments =>
          val n = w.nFrames
          val ch = w.channels
          val sums = new Array[Long](segments)
          val lens = new Array[Long](segments)
          var f = 0
          while (f < n) {
            val seg = (f.toLong * segments / n).toInt
            var c = 0
            while (c < ch) {
              sums(seg) += math.abs(w.samples(f * ch + c).toLong)
              c += 1
            }
            lens(seg) += ch
            f += 1
          }
          var fp = 0L
          var i = 0
          while (i < segments - 1) {
            // mean(i+1) > mean(i) ⟺ sum(i+1)·len(i) > sum(i)·len(i+1)
            if (sums(i + 1) * lens(i) > sums(i) * lens(i + 1)) fp |= (1L << i)
            i += 1
          }
          AudioFingerprint(id, ok = true, w.sampleRate.toLong, n.toLong, fp)
        case _ => AudioFingerprint(id, ok = false, 0L, 0L, 0L)
      }
    }
  }

  /** STUB resize + frame-sample over raw payload bytes, batch-shaped
    * (SURVEY §2 q61): the mapPartitions analog of the `mapInPandas`
    * resize/frame-sample stage of a real media pipeline. Per task,
    * codec state (here the reused MessageDigest) is set up once; per
    * row the payload is "resized" by byte decimation (every
    * `factor`-th byte — a real image resample goes here), the metadata
    * dims are RECOMPUTED for the resize (real arithmetic: width/height
    * divided by the factor), and at most `maxFrames` strided frame
    * digests are sampled from the RESIZED bytes (`frameStride` bytes
    * apart — the frame-sampling budget a video pipeline enforces).
    * Preserves input partitioning; no shuffle; rows stream through.
    * Everything is deterministic, so the whole stage has an exact
    * oracle (q61) despite the codec being a stub.
    */
  def resizeFramesBatched(df: DataFrame, idCol: String,
      factor: Int, frameStride: Int, maxFrames: Int): Dataset[ResizedMedia] = {
    require(factor >= 1 && frameStride >= 1 && maxFrames >= 1)
    val slim = df.select(col(idCol).cast("long"), col("payload"),
      col("meta.format"), col("meta.width"), col("meta.height"))
    import slim.sparkSession.implicits._
    slim.as[(Long, Array[Byte], String, Long, Long)].mapPartitions { it =>
      val hex = md5Hex()
      it.map { case (id, payload0, format, w, h) =>
        // NULL binary cells process as empty payloads — a stub "codec"
        // must not kill the task any more than the real ones do (the
        // columnar stub null-propagates instead; nulls never occur in
        // the q61 oracle data, this is task-survival hardening)
        val payload = if (payload0 == null) Array.emptyByteArray else payload0
        val resized = Array.tabulate((payload.length + factor - 1) / factor)(j =>
          payload(j * factor))
        val (n, first) = stubFrames(hex, resized, frameStride, maxFrames)
        ResizedMedia(id, format, math.max(w / factor, 1L), math.max(h / factor, 1L),
          byteLen(payload), resized.length.toLong, hex(resized), n, first)
      }
    }
  }

  /** The stub's frame sampling, as [[decodeStub]] spells it in SQL:
    * one frame per 16-byte window starting every `stride` bytes
    * (1-based starts up to max(len − 15, 1), so a short payload is one
    * short frame), at most `maxFrames`. Returns (frame count, md5 of
    * the first frame): the only frame digest [[resizeFramesBatched]]
    * emits.
    */
  private def stubFrames(hex: Array[Byte] => String, bytes: Array[Byte],
      stride: Int, maxFrames: Long): (Long, String) = {
    val len = bytes.length
    val n = math.min(maxFrames, (math.max(len - 15, 1) - 1) / stride + 1L)
    (n, hex(java.util.Arrays.copyOfRange(bytes, 0, math.min(16, len))))
  }
}
