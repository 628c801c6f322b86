package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over a text corpus (SURVEY.md §2 q40–q43,
  * §5 scale rules). The reference has no dedup surface; these are the
  * training-data-pipeline extensions required by the brief, built as
  * shuffle-on-key bucket plans — never all-pairs.
  *
  * Scale shape shared by MinHash and SimHash:
  *   1. per-row signature — a SINGLE fold over the shingle/token array.
  *      This matters: Catalyst's CollapseProject inlines alias
  *      expressions into every lambda reference, so a signature written
  *      as "for each seed, scan the shingles" recomputes the shingle
  *      array once per seed (32–64× per row). The fold form references
  *      the array exactly once, so it is evaluated exactly once per row.
  *   2. the slim (id, signature) frame is cached — it is the join input
  *      on BOTH sides of the self-join and the lookup table for
  *      signature-agreement scoring; at cluster scale this is the
  *      "write signatures to a table once" step (a few bytes per doc —
  *      5000× smaller than the corpus).
  *   3. explode to (band, bandHash) keys and self-join on them — the
  *      only wide shuffle; band hashes are 64-bit so buckets stay
  *      bounded (hot buckets only from true near-dups).
  *   4. `doc_a < doc_b` pruning + distinct, then cheap signature-
  *      agreement prefilter BEFORE any exact verification touches the
  *      shingle sets again.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per content hash. One shuffle
    * on the 128-bit content hash; survivors carry all source columns.
    */
  def exactByContent(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("graft_content_hash")).orderBy(col(idCol))
    df.withColumn("graft_content_hash", md5(col(textCol)))
      .withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") === 1)
      .drop("graft_rn")
  }

  /** Adds `shingles`: the distinct character n-gram set of `textCol`
    * ([[Shingles.charGrams]]).
    */
  def withShingles(df: DataFrame, textCol: String, n: Int): DataFrame =
    df.withColumn("shingles", expr(Shingles.charGrams(textCol, n)))

  /** Adds `minhash`: `numHashes` min-values of two-level seeded hashes
    * over the shingle set, via the native
    * [[graft.functions.MinHashSignature]] expression (each shingle is
    * hashed once; per-seed values are O(1) long re-hashes — ~50× less
    * hashing than the per-seed-rescan form).
    */
  def withMinHash(df: DataFrame, numHashes: Int): DataFrame =
    df.withColumn("minhash", graft.functions.sketch.minhash(col("shingles"), numHashes))

  /** Adds `minhash` computed directly from the text — no shingle array
    * is materialized at all ([[graft.functions.TextMinHash]]): MinHash
    * over the n-gram multiset equals MinHash over the set, and each
    * n-gram is hashed in place from the string bytes. Identical
    * signatures to withShingles∘withMinHash, ~10× cheaper.
    */
  def withMinHashFromText(df: DataFrame, textCol: String, n: Int, numHashes: Int): DataFrame =
    df.withColumn("minhash", graft.functions.sketch.textMinhash(col(textCol), n, numHashes))

  /** Exact n-gram Jaccard verify that joins the candidate pairs back to
    * the raw text and computes the set similarity per pair
    * ([[graft.functions.TextJaccard]]) — shingle sets exist only for
    * the pairs that reach the verify step, never for the whole corpus.
    */
  def textJaccardVerify(pairs: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val da = docs.select(col(idCol).as("doc_a"), col(textCol).as("graft_text_a"))
    val db = docs.select(col(idCol).as("doc_b"), col(textCol).as("graft_text_b"))
    pairs.join(da, "doc_a").join(db, "doc_b")
      .withColumn("jaccard",
        graft.functions.sketch.textJaccard(col("graft_text_a"), col("graft_text_b"), n))
      .drop("graft_text_a", "graft_text_b")
  }

  /** LSH band-bucket candidate pairs from MinHash signatures.
    * `bands × rowsPerBand` must equal the signature length. A pair
    * collides when any band of `rowsPerBand` consecutive values matches
    * exactly; P(collide | jaccard=j) = 1-(1-j^r)^b, so b=16/r=2 keeps
    * recall ≈ 1 down to j≈0.8 (q43's verify threshold).
    * Returns (doc_a, doc_b, est_jaccard) where est_jaccard is the
    * signature agreement fraction — computed via two PLAIN equi-joins
    * against the cached slim signature table (AQE broadcasts only when
    * genuinely small: the table is corpus-sized, ~520 B/doc, so a
    * forced broadcast would OOM at 1 B docs), and the banded join only
    * shuffles (band, hash, id) triples — signatures never ride the
    * bucket exchange. Mirrors [[Similarity.lshNearDupPairs]]'s
    * join-back shape; pinned under disabled auto-broadcast in
    * DedupSpec.
    *
    * `minBandMatches` prunes the candidate set to pairs colliding in at
    * least that many bands: at j ≥ 0.8 with 16×2 banding a pair
    * collides in ~10 bands (P(<2) ≈ 2e-6 — recall unharmed), while a
    * same-vocabulary random pair (j ≈ 0.1–0.2) rarely collides twice,
    * cutting the verify volume ~10×. This is the knob that keeps the
    * candidate volume linear-ish as the corpus grows.
    */
  def minHashCandidates(sigs: DataFrame, idCol: String, bands: Int, rowsPerBand: Int,
      minBandMatches: Int = 1): DataFrame = {
    val slim = graft.CacheScope.trackedCache(
      sigs.select(col(idCol).as("graft_id"), col("minhash")))
    val banded = slim.select(col("graft_id"),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1})," +
          s" b -> xxhash64(b, slice(minhash, b * $rowsPerBand + 1, $rowsPerBand)))"))
        .as(Seq("band", "band_hash")))
    val pairs = banded.select(col("graft_id").as("doc_a"), col("band"), col("band_hash"))
      .join(banded.select(col("graft_id").as("doc_b"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("graft_n_bands"))
      .filter(col("graft_n_bands") >= minBandMatches)
      .select("doc_a", "doc_b")
    pairs
      .join(slim.select(col("graft_id").as("doc_a"), col("minhash").as("mh_a")), "doc_a")
      .join(slim.select(col("graft_id").as("doc_b"), col("minhash").as("mh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.sketch.sigAgreement(col("mh_a"), col("mh_b")).as("est_jaccard"))
  }

  /** The complete verified near-dup pair pipeline (q43/q45 shape):
    * text → in-place MinHash signatures → banded LSH candidates →
    * signature-agreement prefilter → exact n-gram Jaccard verify.
    * Returns (doc_a, doc_b, jaccard) for every pair with jaccard ≥
    * `minJaccard` — exactly the brute-force O(n²) answer (the 16×4
    * banding has P(miss | j=0.8) ≈ 2e-4, ~0 at the ≥0.95 jaccard real
    * near-dups carry), computed with bucket-join + per-candidate cost.
    * The est-jaccard prefilter at `minJaccard - 0.2` keeps recall
    * (for j ≥ minJaccard the 64-hash estimate is below that bound with
    * P ≈ 3e-5) while killing random band collisions before the
    * expensive exact set intersection.
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minJaccard: Double = 0.8): DataFrame = {
    val sigs = withMinHashFromText(docs, textCol, n, numHashes = 64)
    val candidates = minHashCandidates(sigs, idCol, bands = 16, rowsPerBand = 4)
      .filter(col("est_jaccard") >= minJaccard - 0.2)
    textJaccardVerify(candidates.select(col("doc_a"), col("doc_b")),
      docs, idCol, textCol, n)
      .filter(col("jaccard") >= minJaccard)
  }

  /** Near-dup resolution end to end: pairs → connected components →
    * lowest-id survivor per component ([[Components]]). Returns the
    * deduped corpus — the operation that actually SHRINKS a training
    * corpus, where the pair surfaces only report.
    */
  def dropNearDups(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, minJaccard: Double = 0.8): DataFrame =
    Components.keepSurvivors(docs, idCol,
      Components.label(nearDupPairs(docs, idCol, textCol, n, minJaccard), "doc_a", "doc_b"))

  /** INCREMENTAL near-dup disposition: a DELTA batch (rows where
    * `deltaCol` is true — the day's newly ingested docs) checked
    * against the full corpus WITHOUT generating base×base candidates.
    * The production loop every continuously-fed training corpus runs:
    * re-deduping 100 TB nightly against itself is quadratic waste when
    * yesterday's corpus was already clean — only pairs touching the
    * delta can be new.
    *
    * Scale shape: signatures are per-row folds (linear; conceptually
    * the base's signatures come from the signature STORE written when
    * those docs arrived — ~520 B/doc, the §5 rule); the banded join
    * keys DELTA bands only against ALL bands, so candidate volume is
    * |delta|-proportional, never corpus²; with the base band table
    * stored bucketed on (band, band_hash) — the q81 layout — the join
    * co-locates with ZERO base-side exchange, and AQE broadcasts the
    * delta side outright when a day's bands fit. Verify + disposition
    * then ride pair- and delta-grain frames. Output: one row per delta
    * doc — `dup_of_base` (≥1 verified base partner), `dup_within_delta`
    * (base-clean but duplicated inside the batch), or `new`, with the
    * partner counts.
    */
  def incrementalReport(docs: DataFrame, idCol: String, textCol: String,
      deltaCol: org.apache.spark.sql.Column,
      n: Int = 5, minJaccard: Double = 0.8): DataFrame = {
    val sigs = withMinHashFromText(docs, textCol, n, numHashes = 64)
    val slim = graft.CacheScope.trackedCache(
      sigs.select(col(idCol).as("graft_id"), col("minhash"), deltaCol.as("graft_delta")))
    val banded = slim.select(col("graft_id"), col("graft_delta"),
      posexplode(expr(
        "transform(sequence(0, 15), b -> xxhash64(b, slice(minhash, b * 4 + 1, 4)))"))
        .as(Seq("band", "band_hash")))
    // delta bands vs ALL bands — the only wide join, |delta|-keyed
    val cand = banded.filter(col("graft_delta"))
      .select(col("graft_id").as("graft_a"), col("band"), col("band_hash"))
      .join(banded.select(col("graft_id").as("graft_b"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .filter(col("graft_a") =!= col("graft_b"))
      .select(least(col("graft_a"), col("graft_b")).as("doc_a"),
        greatest(col("graft_a"), col("graft_b")).as("doc_b"))
      .distinct()
    val prefiltered = cand
      .join(slim.select(col("graft_id").as("doc_a"), col("minhash").as("mh_a")), "doc_a")
      .join(slim.select(col("graft_id").as("doc_b"), col("minhash").as("mh_b")), "doc_b")
      .filter(graft.functions.sketch.sigAgreement(col("mh_a"), col("mh_b"))
        >= minJaccard - 0.2)
      .select("doc_a", "doc_b")
    val verified = textJaccardVerify(prefiltered, docs, idCol, textCol, n)
      .filter(col("jaccard") >= minJaccard)
    // each verified unordered pair, seen from both ends, typed by the
    // partner's delta flag; base-rooted rows drop at the delta join
    val flags = docs.select(col(idCol).as("graft_p"), deltaCol.as("graft_p_delta"))
    val directed = verified.select(col("doc_a").as("graft_d"), col("doc_b").as("graft_p"))
      .unionAll(verified.select(col("doc_b").as("graft_d"), col("doc_a").as("graft_p")))
      .join(flags, "graft_p")
    docs.filter(deltaCol).select(col(idCol).as("graft_d"))
      .join(directed, Seq("graft_d"), "left")
      .groupBy(col("graft_d"))
      .agg(
        sum(when(col("graft_p_delta") === false, 1L).otherwise(0L)).as("n_base_dups"),
        sum(when(col("graft_p_delta") === true, 1L).otherwise(0L)).as("n_delta_dups"))
      .select(col("graft_d").as(idCol),
        when(col("n_base_dups") > 0, "dup_of_base")
          .when(col("n_delta_dups") > 0, "dup_within_delta")
          .otherwise("new").as("verdict"),
        col("n_base_dups"), col("n_delta_dups"))
  }

  /** Adds `simhash`: 64-bit SimHash over whitespace tokens — bit b set
    * when the signed sum of token-hash bit b is non-negative, via the
    * native [[graft.functions.SimHash64]] expression (one primitive
    * pass over the tokens).
    */
  def withSimHash(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("simhash", graft.functions.sketch.simhash(
      expr(s"regexp_extract_all($textCol, '\\\\S+', 0)")))

  /** SimHash candidate pairs: bucket on 4 bands of 16 bits (guaranteed
    * recall for Hamming distance ≤ 3 by pigeonhole; high recall to ~6),
    * then verify `bit_count(xor) <= maxHamming` inside buckets. The
    * slim (id, simhash) frame is cached and band-exploded — 8 bytes of
    * signature per doc through the shuffle.
    */
  def simHashCandidates(df: DataFrame, idCol: String, maxHamming: Int): DataFrame = {
    val slim = graft.CacheScope.trackedCache(
      df.select(col(idCol).as("graft_id"), col("simhash")))
    val banded = slim.select(col("graft_id"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 3), b -> shiftright(simhash, b * 16) & 65535L)"))
        .as(Seq("band", "band_val")))
    banded.select(col("graft_id").as("doc_a"), col("simhash").as("sh_a"),
        col("band"), col("band_val"))
      .join(banded.select(col("graft_id").as("doc_b"), col("simhash").as("sh_b"),
        col("band"), col("band_val")), Seq("band", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram Jaccard for a candidate-pair frame — the verify pass
    * after LSH candidate generation. Joins the shingle sets back onto
    * the pairs (two hash joins on doc id, the natural key). Callers
    * should prefilter candidates on est_jaccard first so this touches
    * orders of magnitude fewer pairs than the banded join emitted.
    */
  def jaccardVerify(pairs: DataFrame, shingled: DataFrame, idCol: String): DataFrame = {
    val sa = shingled.select(col(idCol).as("doc_a"), col("shingles").as("sh_a"))
    val sb = shingled.select(col(idCol).as("doc_b"), col("shingles").as("sh_b"))
    pairs.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .drop("sh_a", "sh_b")
  }
}
