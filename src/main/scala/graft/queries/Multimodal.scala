package graft.queries

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.operators.{Multimodal => M}

/** Multimodal pipeline query (SURVEY.md §2 q60): opaque binary payload
  * + typed metadata struct + stubbed decode (see
  * [[graft.operators.Multimodal]] — the decode is a clearly-marked
  * deterministic fake; the schema/plumbing is the real thing). The
  * whole pipeline is column expressions, so it has a real DuckDB
  * oracle despite the stub.
  */
object Multimodal {

  val q60 = Q.of(
    "q60_multimodal_meta",
    """SELECT doc_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS format,
      |  CAST(64 + (doc_id % 16) * 32 AS BIGINT) AS width,
      |  CAST(64 + (doc_id % 12) * 32 AS BIGINT) AS height,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS checksum,
      |  CAST(len(generate_series(1, greatest(octet_length(encode(text))-15, 1), 64)) AS BIGINT) AS n_frames,
      |  md5(substr(text, 1, 16)) AS first_frame
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { t =>
    // the Spark side strides payload BYTES; the oracle's substr is
    // char-based (DuckDB cannot slice BLOBs) — identical because the
    // corpus is ASCII (verified: octet_length(encode(text)) = length(text)
    // for every doc at every SF); the spec pins byte/char equivalence
    // structurally via the batched path on multibyte crafted docs
    M.decodeStub(M.withPayload(t.documents, "text", "doc_id"))
      .select(col("doc_id"),
        col("meta.format").as("format"),
        col("meta.width").as("width"),
        col("meta.height").as("height"),
        col("n_bytes"), col("checksum"), col("n_frames"), col("first_frame"))
      .orderBy(col("doc_id"))
  }

  /** q61: resize + frame-sample stage over the batched iterator path
    * ([[graft.operators.Multimodal.resizeFramesBatched]] — the
    * mapInPandas-shaped stage a video/image pipeline runs), rolled up
    * per format: payload bytes decimated 2×, metadata dims recomputed,
    * ≤8 frame digests sampled 64 bytes apart from the RESIZED bytes.
    * The stub arithmetic is deterministic, so the whole batch stage
    * has an exact oracle (same ASCII-corpus byte/char equivalence as
    * q60; multibyte byte-semantics pinned in MultimodalSpec).
    */
  val q61 = Q.of(
    "q61_multimodal_resize",
    """WITH rs AS (
      |  SELECT doc_id,
      |    CASE doc_id % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS format,
      |    CAST(64 + (doc_id % 16) * 32 AS BIGINT) AS width,
      |    CAST(length(text) AS BIGINT) AS n_bytes_in,
      |    array_to_string(list_transform(generate_series(1, length(text), 2),
      |                                   i -> substr(text, i, 1)), '') AS rtext
      |  FROM documents
      |), m AS (
      |  SELECT format, n_bytes_in,
      |    CAST(length(rtext) AS BIGINT) AS n_bytes_out,
      |    LEAST(8, ((greatest(length(rtext) - 15, 1) - 1) // 64) + 1) AS n_frames,
      |    md5(rtext) AS checksum,
      |    greatest(width // 2, 1) AS out_width
      |  FROM rs
      |)
      |SELECT format, COUNT(*) AS n_docs,
      |  CAST(SUM(n_bytes_in) AS BIGINT) AS total_bytes_in,
      |  CAST(SUM(n_bytes_out) AS BIGINT) AS total_bytes_out,
      |  CAST(SUM(n_frames) AS BIGINT) AS total_frames,
      |  COUNT(DISTINCT checksum) AS n_distinct_payloads,
      |  CAST(MAX(out_width) AS BIGINT) AS max_out_width
      |FROM m GROUP BY format
      |ORDER BY format""".stripMargin) { t =>
    M.resizeFramesBatched(M.withPayload(t.documents, "text", "doc_id"), "doc_id",
        factor = 2, frameStride = 64, maxFrames = 8)
      .groupBy(col("format"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bytes_in")).as("total_bytes_in"),
        sum(col("n_bytes_out")).as("total_bytes_out"),
        sum(col("n_frames")).as("total_frames"),
        countDistinct(col("checksum")).as("n_distinct_payloads"),
        max(col("out_width")).as("max_out_width"))
      .orderBy(col("format"))
  }

  /** q82: the REAL codecs under the oracle gate (VERDICT r7 "next"
    * #5). [[graft.operators.MediaFixture]] synthesizes real
    * JDK-encoded payloads (constant color / constant amplitude, all
    * parameters closed-form in doc_id), the scratch-built decoders
    * ([[graft.operators.PngCodec]]/[[graft.operators.JpegCodec]]/
    * [[graft.operators.WavCodec]]) decode them, and the per-format
    * rollup is checked against a DuckDB oracle that recomputes every
    * expected feature arithmetically from `documents` — encoder and
    * decoder are INDEPENDENT implementations, so a codec bug on
    * either side breaks the hash. Constant rasters make channel means
    * exact (= the color); amplitude 512·k makes RMS exactly k/64
    * (tie-free at the decimal cast). JPEG is lossy, so its branch
    * pins dims + decode-ok only (sum_feat fixed at 0). Each format
    * class is filtered BEFORE synthesis — encode runs once per doc,
    * zero shuffle until the final 3-row union of aggregates.
    */
  val q82 = Q.of(
    "q82_real_codecs",
    """SELECT 'png' AS format, COUNT(*) AS n, COUNT(*) AS n_ok,
      |  CAST(SUM(1 + doc_id % 13) AS BIGINT) AS sum_w,
      |  CAST(SUM(1 + doc_id % 7) AS BIGINT) AS sum_h,
      |  CAST(SUM(CAST(CAST((doc_id*31) % 256 + (doc_id*17) % 256 + (doc_id*7) % 256 AS DOUBLE) AS DECIMAL(20,6))) AS DOUBLE) AS sum_feat
      |FROM documents WHERE doc_id % 3 = 0
      |UNION ALL
      |SELECT 'jpeg', COUNT(*), COUNT(*),
      |  CAST(SUM(1 + doc_id % 13) AS BIGINT),
      |  CAST(SUM(1 + doc_id % 7) AS BIGINT),
      |  CAST(0.0 AS DOUBLE)
      |FROM documents WHERE doc_id % 3 = 1
      |UNION ALL
      |SELECT 'wav', COUNT(*), COUNT(*),
      |  CAST(SUM(8000 + (doc_id % 5) * 2000) AS BIGINT),
      |  CAST(SUM(100 + doc_id % 50) AS BIGINT),
      |  CAST(SUM(CAST(512.0 * (1 + doc_id % 60) / 32768.0 AS DECIMAL(20,6))) AS DOUBLE)
      |FROM documents WHERE doc_id % 3 = 2""".stripMargin) { t =>
    import graft.functions.det.dsum
    import graft.operators.MediaFixture
    def cls(m: Long) = t.documents.filter(col("doc_id") % 3 === m)
    val okCount = sum(when(col("ok"), 1L).otherwise(0L)).as("n_ok")
    val png = M.decodePngBatched(MediaFixture.synthesize(cls(0), "doc_id"), "doc_id")
      .toDF()
      .agg(count(lit(1)).as("n"), okCount,
        sum(col("width")).as("sum_w"), sum(col("height")).as("sum_h"),
        dsum(col("mean_r") + col("mean_g") + col("mean_b")).as("sum_feat"))
      .select(lit("png").as("format"), col("n"), col("n_ok"),
        col("sum_w"), col("sum_h"), col("sum_feat"))
    val jpg = M.decodeJpegBatched(MediaFixture.synthesize(cls(1), "doc_id"), "doc_id")
      .toDF()
      .agg(count(lit(1)).as("n"), okCount,
        sum(col("width")).as("sum_w"), sum(col("height")).as("sum_h"))
      .select(lit("jpeg").as("format"), col("n"), col("n_ok"),
        col("sum_w"), col("sum_h"), lit(0.0).as("sum_feat"))
    val wav = M.decodeWavBatched(MediaFixture.synthesize(cls(2), "doc_id"), "doc_id")
      .toDF()
      .agg(count(lit(1)).as("n"), okCount,
        sum(col("sample_rate")).as("sum_w"), sum(col("n_frames")).as("sum_h"),
        dsum(col("rms_max")).as("sum_feat"))
      .select(lit("wav").as("format"), col("n"), col("n_ok"),
        col("sum_w"), col("sum_h"), col("sum_feat"))
    png.union(jpg).union(wav)
  }

  /** q102: PERCEPTUAL image dedup over really-decoded rasters — the
    * multimodal member of the dedup family (q40 exact bytes, q41/q42
    * text sketches, q44 embeddings): every document renders a REAL
    * JDK-encoded PNG whose CONTENT depends only on its class
    * (`doc_id % 17`) while its resolution — and therefore its payload
    * bytes — varies by `doc_id % 2` ([[graft.operators.MediaFixture
    * .synthesizePatterned]]); the scratch-built PNG decoder +
    * average-hash ([[graft.operators.Multimodal.aHashPngBatched]])
    * must collapse each class to ONE hash cluster spanning both
    * resolutions — the dedup a byte/md5 hash cannot do (every payload
    * is distinct). The ORACLE recomputes each cluster arithmetically
    * from `documents` alone: the average-hash of a two-tone pattern
    * is the white-cell bit sum (threshold sits strictly between the
    * tones; all-black class 14 hashes to 0 by the same formula both
    * sides), so encoder, decoder, thumbnailer and hash are all
    * INDEPENDENTLY re-derived on the DuckDB side. Downstream shape is
    * q40's: one groupBy on an 8-byte hash, no pairwise image compare.
    */
  val q102 = Q.of(
    "q102_image_dedup",
    """WITH d AS (
      |  SELECT doc_id, doc_id % 17 AS k, doc_id % 2 AS s FROM documents
      |), h AS (
      |  SELECT k, CAST(sum(CASE WHEN ((g + 1) * (k + 3)) % 17 % 2 = 1
      |      THEN CAST(1 AS BIGINT) << CAST(g AS INTEGER) ELSE 0 END) AS BIGINT) AS ahash
      |  FROM (SELECT DISTINCT k FROM d), (SELECT unnest(range(0, 63)) AS g)
      |  GROUP BY k
      |)
      |SELECT ahash,
      |  CAST(count(*) AS BIGINT) AS n_images,
      |  CAST(count(DISTINCT s) AS BIGINT) AS n_resolutions,
      |  min(doc_id) AS rep
      |FROM d JOIN h USING (k)
      |GROUP BY ahash
      |ORDER BY ahash""".stripMargin) { t =>
    import graft.operators.MediaFixture
    val media = MediaFixture.synthesizePatterned(
      t.documents.select("doc_id"), "doc_id")
    M.aHashPngBatched(media, "doc_id").toDF()
      .filter(col("ok"))
      .groupBy(col("ahash"))
      .agg(
        count(lit(1)).as("n_images"),
        countDistinct(col("width")).as("n_resolutions"),
        min(col("doc_id")).as("rep"))
      .orderBy(col("ahash"))
  }

  /** q110: ACOUSTIC audio dedup over really-decoded WAVs — the audio
    * member of the dedup family, completing the modality set (q40
    * exact bytes, q41/q42 text sketches, q44 embeddings, q102 images):
    * every document renders a REAL javax.sound-encoded WAVE whose
    * amplitude ENVELOPE depends only on its class (`doc_id % 13`)
    * while the payload bytes vary by sample rate (`doc_id % 2` →
    * 8/16 kHz) AND loudness (`doc_id % 3` → gain ×1..3)
    * ([[graft.operators.MediaFixture.synthesizeAudioPatterned]]); the
    * scratch-built RIFF/WAVE decoder + delta-sign envelope fingerprint
    * ([[graft.operators.Multimodal.audioFingerprintBatched]] — exact
    * integer loudness comparisons, gain- and rate-invariant by
    * construction) must collapse each class to ONE fingerprint
    * cluster spanning both rates and all three gains — the dedup a
    * byte/md5 hash cannot do. The ORACLE re-derives each cluster
    * arithmetically from `documents` alone: fingerprint bit i of
    * class k is `(k·7 + 3(i+1)) % 11 > (k·7 + 3i) % 11` (segment
    * levels are `512·(1 + (k·7+3i) % 11)·gain`, monotone in the
    * level term), so encoder, decoder, segmenter and comparator are
    * all independently recomputed on the DuckDB side. Downstream is
    * q40's shape: one groupBy on an 8-byte fingerprint, never a
    * pairwise clip compare.
    */
  val q110 = Q.of(
    "q110_audio_dedup",
    """WITH d AS (
      |  SELECT doc_id, doc_id % 13 AS k FROM documents
      |), f AS (
      |  SELECT k, CAST(sum(CASE
      |      WHEN (k * 7 + 3 * (i + 1)) % 11 > (k * 7 + 3 * i) % 11
      |      THEN CAST(1 AS BIGINT) << CAST(i AS INTEGER) ELSE 0 END) AS BIGINT) AS fp
      |  FROM (SELECT DISTINCT k FROM d), (SELECT unnest(range(0, 7)) AS i)
      |  GROUP BY k
      |)
      |SELECT fp,
      |  CAST(count(*) AS BIGINT) AS n_clips,
      |  CAST(count(DISTINCT doc_id % 2) AS BIGINT) AS n_rates,
      |  CAST(count(DISTINCT doc_id % 3) AS BIGINT) AS n_gains,
      |  min(doc_id) AS rep
      |FROM d JOIN f USING (k)
      |GROUP BY fp
      |ORDER BY fp""".stripMargin) { t =>
    import graft.operators.MediaFixture
    val media = MediaFixture.synthesizeAudioPatterned(
      t.documents.select("doc_id"), "doc_id")
    // distinct counts as set sizes over 2 rates and 3 gains: two
    // countDistincts would become an Expand whose projection order
    // follows attribute-id hashes, so the generated code (and Spark's
    // class-cache key) would differ between runs, as q39's did
    M.audioFingerprintBatched(media, "doc_id").toDF()
      .filter(col("ok"))
      .groupBy(col("fp"))
      .agg(
        count(lit(1)).as("n_clips"),
        size(collect_set(col("sample_rate"))).cast("long").as("n_rates"),
        size(collect_set(pmod(col("doc_id"), lit(3)))).cast("long").as("n_gains"),
        min(col("doc_id")).as("rep"))
      .orderBy(col("fp"))
  }

  /** q111: VIDEO keyframe-sample dedup — the moving-picture member of
    * the dedup family and the REAL form of q61's frame-sample stub:
    * every document renders a 12-frame [[graft.operators
    * .FrameContainer]] clip whose frame sequence depends only on its
    * class (`doc_id % 11`; frame j is the q102 two-tone pattern of
    * class `(k·5+j) % 17`, REAL JDK-encoded PNG) at a resolution that
    * varies by `doc_id % 2`; [[graft.operators.Multimodal
    * .sampleFramesBatched]] SEEKS to every 4th frame via the
    * container's length index (decode cost O(sampled), never O(clip)
    * — the keyframe economics that make a 100 TB clip corpus
    * traversable), decodes ONLY those through the scratch PNG critical
    * path, and signs the clip with the XOR of their average-hashes —
    * collapsing each class across resolutions where a byte/md5 dedup
    * sees only distinct payloads. The ORACLE re-derives every sampled
    * frame hash arithmetically (the q102 white-cell-sum formula at
    * classes (k·5+j) % 17, j ∈ {0,4,8}) and folds them with
    * `bit_xor` — container writer, seek table, decoder, hash and
    * fold all independently recomputed on the DuckDB side. Downstream
    * is q40's shape: one groupBy on an 8-byte signature.
    */
  val q111 = Q.of(
    "q111_video_dedup",
    """WITH d AS (
      |  SELECT doc_id, doc_id % 11 AS k FROM documents
      |), fh AS (
      |  SELECT k, j, CAST(sum(CASE
      |      WHEN ((g + 1) * ((k * 5 + j) % 17 + 3)) % 17 % 2 = 1
      |      THEN CAST(1 AS BIGINT) << CAST(g AS INTEGER) ELSE 0 END) AS BIGINT) AS ahash
      |  FROM (SELECT DISTINCT k FROM d),
      |       (SELECT unnest([0, 4, 8]) AS j),
      |       (SELECT unnest(range(0, 63)) AS g)
      |  GROUP BY k, j
      |), v AS (
      |  SELECT k, CAST(bit_xor(ahash) AS BIGINT) AS vhash FROM fh GROUP BY k
      |)
      |SELECT vhash,
      |  CAST(count(*) AS BIGINT) AS n_videos,
      |  CAST(count(DISTINCT doc_id % 2) AS BIGINT) AS n_resolutions,
      |  min(doc_id) AS rep
      |FROM d JOIN v USING (k)
      |GROUP BY vhash
      |ORDER BY vhash""".stripMargin) { t =>
    import graft.operators.MediaFixture
    val media = MediaFixture.synthesizeVideoPatterned(
      t.documents.select("doc_id"), "doc_id")
    M.sampleFramesBatched(media, "doc_id", stride = 4).toDF()
      .filter(col("ok"))
      .groupBy(col("vhash"))
      .agg(
        count(lit(1)).as("n_videos"),
        countDistinct(pmod(col("doc_id"), lit(2))).as("n_resolutions"),
        min(col("doc_id")).as("rep"))
      .orderBy(col("vhash"))
  }

  def all: Seq[Q] = Seq(q60, q61, q82, q102, q110, q111)
}
