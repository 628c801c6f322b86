package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.sketch.hexWord
import graft.operators.{Bloom, Shingles}

/** q258: ORACLE-CHECKED Bloom-filter calibration — the q91
  * decontamination pipeline (benchmark shingles → bit filter →
  * zero-join probe scan) rebuilt from md5-derived double-hash
  * positions so DuckDB replays EVERY probe and the false-positive
  * set itself is hash-exact. Production q91 hashes with xxhash64
  * (unreplayable in SQL, recall/FP-bounded in spec); this twin
  * extends the md5-replay recipe that already made MinHash (q238),
  * SimHash (q251), and SRP (q252) oracle-exact to the LAST
  * rows-only hash family: per corpus doc it emits how many of its
  * shingles the filter flags, how many are TRUE benchmark members,
  * and how many are false positives — so the oracle verifies the
  * no-false-negative guarantee AND the exact identity of every FP.
  *
  * Mechanics (Bloom 1970; double hashing per Kirsch–Mitzenmacher
  * 2006, public): a 3-word shingle hashes to a = md5[0:8),
  * stride = md5[8:16) | 1 (odd, so the k=5 probes never collapse on
  * the even m); probe i tests bit (a + i·stride) mod m. The filter
  * is sized m = ceil64(8·|bench shingles|) bits — ~8 bits/element at
  * k=5 gives a DELIBERATELY measurable per-probe FP rate (~2%), this
  * is a calibration query, not the production 19-bits/element
  * tuning. m derives from one integer formula both engines compute
  * from the same count, so it needs no side channel.
  *
  * Determinism: positions are pure non-negative int64 arithmetic
  * (a < 2³², i·stride < 5·2³², both engines' % agree on positive
  * operands); flagged ⟺ all 5 probe rows find their bit — counts
  * are exact integers; no floats anywhere.
  *
  * Scale shape (the q91 discipline): ONE shingling pass is cached
  * and feeds the bench set, the filter build, and the probe; the
  * filter crosses the cluster as m/8 bytes of broadcast literal and
  * the probe is a codegen'd scan projection — the corpus never meets
  * the benchmark in a fact-sized shuffle. Only FLAGGED shingles
  * (true hits + the ~2% FP tail) reach the membership join, and that
  * join broadcasts the bench set — bounded by the benchmark suite,
  * the same budget class as q91's driver-built words. The oracle
  * replays the bit test as position-set joins (quadratic-ish is fine
  * in DuckDB at verify SF; the CONTRAST with the Spark plan is the
  * point). Like q238/q251/q252: audit cadence — q91 stays the
  * production path.
  */
object BloomCal {

  private val KGram = 3
  private val Probes = 5
  private val Mod = 7

  /** Per-corpus-doc flagged/true/FP shingle counts against a Bloom
    * filter built from the `doc_id % mod = 0` benchmark slice.
    * Factored so the spec can pin no-false-negatives, a planted
    * contaminated doc, and the FP accounting (n_flagged = n_true +
    * n_fp) on a hand-built corpus.
    */
  def bloomCal(docs: DataFrame, mod: Int): DataFrame = {
    // a = md5[0:8) and stride s = md5[8:16)|1 are MATERIALIZED into the
    // cached shingle frame: as inline expressions, every one of the 5
    // probe positions (and each of their uses in the bit test) embeds
    // its own copy of md5(sh) — Catalyst's filter pushdown re-inlines
    // alias-substituted predicates, so only a cache boundary guarantees
    // the hash runs once per row (~20 md5 evaluations/row → 1; guide
    // §1.2 "per-task work", measured in plans/r13/q258_bloom_cal_*).
    val shingled = graft.CacheScope.trackedCache(
      docs
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= KGram)
        .select(col("doc_id"),
          explode(expr(Shingles.wordGrams(KGram, distinct = true))).as("sh"))
        .withColumn("graft_h", md5(col("sh")))
        .select(col("doc_id"), col("sh"),
          expr(hexWord("graft_h", 1, 8)).as("graft_a"),
          expr(hexWord("graft_h", 9, 8)).bitwiseOR(lit(1L)).as("graft_s")))
    val bench = graft.CacheScope.trackedCache(
      shingled.filter(col("doc_id") % mod === 0)
        .select(col("sh"), col("graft_a"), col("graft_s")).distinct())
    val nb = math.max(1L, bench.count())
    val m = (nb * 8L + 63L) / 64L * 64L
    val posCols = (0 until Probes).map(i =>
      (col("graft_a") + lit(i.toLong) * col("graft_s")) % lit(m))
    // driver state bounded by the benchmark suite size (Bloom.words)
    val words = Bloom.words(bench, posCols, m)
    // LITERAL BOUND (VERDICT r13 #9): `words` is a plan literal sized
    // by the BENCHMARK slice (m = 8 bits/bench shingle), never by the
    // corpus — the mod-split is bench plumbing for an external eval
    // suite that is small by definition. A proportional split at
    // 100 TB would blow the plan literal; the production transport at
    // suite sizes past ~10^8 shingles is a sparkContext broadcast of
    // the same words array (see the parallel note in
    // Contamination.bloomReport) — identical probe mechanics.
    shingled
      .filter(col("doc_id") % mod =!= 0)
      .filter(Bloom.contains(words, posCols))
      .join(broadcast(bench.select(col("sh")).withColumn("graft_is_m", lit(1))),
        Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_flagged"),
        sum(when(col("graft_is_m") === 1, 1L).otherwise(0L)).as("n_true"),
        sum(when(col("graft_is_m").isNull, 1L).otherwise(0L)).as("n_fp"))
  }

  val q258 = Q.of(
    "q258_bloom_cal",
    s"""WITH sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, len(w) - ${KGram - 2}),
      |    i -> array_to_string(w[i:i+${KGram - 1}], ' ')))) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= $KGram
      |), bench AS (
      |  SELECT DISTINCT sh FROM sh WHERE doc_id % $Mod = 0
      |), sz AS (
      |  SELECT (GREATEST(COUNT(*), 1) * 8 + 63) // 64 * 64 AS m FROM bench
      |), probes AS (SELECT UNNEST(range(0, $Probes)) AS i),
      |bpos AS (
      |  SELECT DISTINCT
      |    (CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT)
      |      + i.i * (CAST(('0x' || substr(md5(sh), 9, 8)) AS BIGINT) | 1))
      |      % sz.m AS p
      |  FROM bench CROSS JOIN sz CROSS JOIN probes i
      |), corp AS (
      |  SELECT doc_id, sh,
      |    CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT) AS a,
      |    CAST(('0x' || substr(md5(sh), 9, 8)) AS BIGINT) | 1 AS s
      |  FROM sh WHERE doc_id % $Mod != 0
      |), flagged AS (
      |  SELECT doc_id, sh
      |  FROM (SELECT doc_id, sh, (a + i.i * s) % sz.m AS p
      |        FROM corp CROSS JOIN sz CROSS JOIN probes i) pr
      |  JOIN bpos USING (p)
      |  GROUP BY doc_id, sh
      |  HAVING COUNT(*) = $Probes
      |)
      |SELECT doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_flagged,
      |  CAST(SUM(CASE WHEN m.is_m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
      |  CAST(SUM(CASE WHEN m.is_m IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_fp
      |FROM flagged f
      |LEFT JOIN (SELECT sh, 1 AS is_m FROM bench) m USING (sh)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { t =>
    bloomCal(t.documents, Mod).orderBy(col("doc_id"))
  }

  def all: Seq[Q] = Seq(q258)
}
