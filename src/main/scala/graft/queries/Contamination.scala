package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Q
import graft.operators.{Bloom, Shingles}

/** q85: benchmark-contamination check — the decontamination pass every
  * pretraining pipeline runs before training: which corpus documents
  * share a long n-gram with the evaluation/benchmark suite?
  *
  * The benchmark suite here is the deterministic `doc_id % 7 = 0`
  * slice of `documents` (standing in for a held-out eval set); the
  * corpus is the rest. A document is contaminated when it shares at
  * least one word 8-gram with any benchmark doc — at k=8 over this
  * vocabulary, random collisions are ~nil, so hits are real near-dup
  * overlap (measured: 9 contaminated docs / 606 shingle-pair hits at
  * sf0.01), exactly the leakage class decontamination exists to catch.
  *
  * Scale shape (100 TB): shingles are deduped PER DOC at the array
  * level (`array_distinct` before `explode`) so no per-doc distinct
  * aggregation is needed downstream, and each shingle crosses the
  * join exchange as an 8-byte `xxhash64`, not the ~40-byte string
  * (5× slimmer shuffle; P(64-bit collision) at 25 M corpus shingles ×
  * 26 k bench shingles ≈ 3.5e-8 — the oracle joins on the raw string,
  * so a collision would surface as a hash mismatch, none observed
  * through sf1). The benchmark side of a real deployment is a fixed
  * eval suite (≪ corpus) — the join is a plain equi-join and AQE
  * broadcasts it when genuinely small (dimBroadcast doctrine: never
  * forced). The only wide exchanges are the hash join and the final
  * per-doc count-distinct pair.
  */
object Contamination {

  private val K = 8

  val q85 = Q.of(
    "q85_contamination",
    s"""WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(w) - ${K - 2}),
      |      i -> array_to_string(w[i:i+${K - 1}], ' '))) AS shl
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= $K
      |), e AS (SELECT doc_id, unnest(shl) AS sh FROM sh),
      |bench AS (SELECT doc_id AS bench_id, sh FROM e WHERE doc_id % 7 = 0),
      |corp AS (SELECT doc_id, sh FROM e WHERE doc_id % 7 != 0)
      |SELECT doc_id,
      |  count(DISTINCT sh) AS n_hit_shingles,
      |  count(DISTINCT bench_id) AS n_bench_docs
      |FROM corp JOIN bench USING (sh)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { t =>
    overlapReport(t.documents, mod = 7, k = K).orderBy(col("doc_id"))
  }

  /** The q85 body over any (doc_id, text) frame — benchmark slice =
    * `doc_id % mod = 0`; factored so CurationSpec can plant a known
    * shared k-gram and assert it is the ONLY hit.
    */
  def overlapReport(docs: DataFrame, mod: Int, k: Int): DataFrame = {
    val shingled = Shingles.docHashes(docs, k)
    val bench = shingled.filter(col("doc_id") % mod === 0)
      .select(col("doc_id").as("bench_id"), col("h"))
    val corp = shingled.filter(col("doc_id") % mod =!= 0)
    corp.join(bench, "h")
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("h")).as("n_hit_shingles"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  // ---- Bloom path (q91) ----------------------------------------------

  /** Second hash for double hashing — h2(h) must be identical on the
    * build and probe sides, so it is defined exactly once. The odd-ify
    * (`| 1`) keeps the probe stride and m coprime-ish so the k probes
    * don't collapse onto one bit when h2 ≡ 0 (mod m).
    */
  private[graft] def h2(h: Column): Column =
    xxhash64(h, lit(0x9e3779b97f4a7c15L)).bitwiseOR(lit(1L))

  /** Bit positions a hash sets/probes: (h + i·h2(h)) mod m, i < k,
    * over the raw stride h2(h) as a column (q91 materializes it in its
    * cached frame: inline, each of the k probes would re-hash it; the
    * stride is m-independent, so it can live in the cache even though
    * m is only known after the bench count). Both terms are reduced
    * mod m BEFORE combining so the arithmetic never overflows a long
    * under ANSI mode (i·stride < 14·m ≪ 2⁶³); m is even (word-aligned)
    * and the stride odd, so the stride can't collapse to 0 mod m.
    */
  private[graft] def probes(h: Column, rawStride: Column, m: Long, k: Int): Seq[Column] = {
    val base = pmod(h, lit(m))
    val stride = pmod(rawStride, lit(m))
    (0 until k).map(i => pmod(base + lit(i.toLong) * stride, lit(m)))
  }

  /** The q91 body: benchmark shingles → Bloom filter (≈19 bits/shingle,
    * k=13 → per-shingle FP ≈ 1e-4); corpus docs are then flagged by a
    * ZERO-JOIN scan — each shingle tests k bits of the broadcast
    * filter. No false negatives (Bloom guarantee): the flagged set is
    * a superset of q85's exact answer; CurationSpec pins superset +
    * FP budget.
    */
  def bloomReport(docs: DataFrame, mod: Int, k: Int): DataFrame = {
    // one shingling pass feeds the bench count, the filter build, and
    // the probe scan (uncached this is 3 scans + 3 shingle recomputes;
    // caching took the sf0.1 bench run 2.8 s → the probe-pass cost)
    // the raw double-hash stride h2(h) is MATERIALIZED into the cache:
    // inline, each of the 13 probe expressions re-evaluates its own
    // xxhash64 copy per shingle row (the q258 lesson at the xxhash
    // tier); m only arrives after the bench count, but the stride is
    // m-independent so it can ride the cached frame
    val shingled = graft.CacheScope.trackedCache(
      Shingles.docHashes(docs, k).withColumn("graft_s", h2(col("h"))))
    val bench = shingled.filter(col("doc_id") % mod === 0)
      .select(col("h"), col("graft_s"))
    val nBench = math.max(1L, bench.select(col("h")).distinct().count())
    // ≈19.2 bits/element (per-shingle FP ≈ 1e-4 at k=13), word-aligned
    val m = math.max(640L, (nBench * 96L / 5L + 63L) / 64L * 64L)
    val kProbes = 13
    val ladder = probes(col("h"), col("graft_s"), m, kProbes)
    val words = Bloom.words(bench, ladder, m)
    // DRIVER/LITERAL BOUND (VERDICT r13 #9): the filter words ride the
    // plan as a literal array inside Bloom.contains, sized m ≈ 19.2
    // bits per BENCHMARK shingle — the benchmark suite is a fixed eval
    // set (≪ corpus; the thing q91 exists to screen against), so m is
    // bounded by the suite, not the 100 TB corpus. At the largest
    // plausible suite (10^8 shingles) the literal is ~240 MB — past
    // the comfortable plan-literal size; the production form at that
    // point is the same words array shipped as a sparkContext
    // broadcast read by a (still codegen-free-false-negative) probe —
    // mechanics identical, only the transport changes. The mod-split
    // here is bench plumbing standing in for the external suite.
    shingled
      .filter(col("doc_id") % mod =!= 0)
      .filter(Bloom.contains(words, ladder))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_flagged_shingles"))
  }

  /** q91: Bloom-filter decontamination — the 100 TB shape of q85: the
    * benchmark suite crosses the cluster ONCE as ~m/8 bytes of filter
    * (62 KiB at the sf1 bench size) instead of meeting the corpus in a
    * shuffle join; the corpus side is a pure scan projection (k=13
    * bit probes per shingle), so the common no-hit case costs ZERO
    * exchange — the only shuffle left is the per-doc count of flagged
    * shingles, whose input is just the (rare) flagged rows. Rows-only:
    * the flagged set is approximate-by-design (superset of exact,
    * per-shingle FP ≈ 1e-4); CurationSpec pins no-false-negatives vs
    * q85 and the FP budget.
    */
  val q91 = Q.rowsOnly("q91_contamination_bloom") { t =>
    bloomReport(t.documents, mod = 7, k = K).orderBy(col("doc_id"))
  }

  def all: Seq[Q] = Seq(q85, q91)
}
