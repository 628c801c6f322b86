package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data curation.
  *
  * A corpus mix ("50k docs per source", "balance the languages") must
  * be REPRODUCIBLE — re-running the pipeline on the same input has to
  * pick the same rows, or every downstream artifact (dedup survivors,
  * shard hashes, eval splits) churns. `rand()`-based sampling breaks
  * that (new draw per run, per retry, per speculative task attempt);
  * hashing row CONTENT gives a stable pseudo-random order the same
  * everywhere, every time.
  *
  * Scale shape: one exchange on the stratum column, then a streaming
  * per-group rank ([[TopK.perGroup]]) — no global sort, state is one
  * group at a time. Skewed strata cost their own size to rank, never
  * more.
  */
object Sampling {

  /** Keeps `k` rows per stratum, ranked by an EXISTING key column
    * (asc, nulls last — DuckDB's ASC default, so oracles agree) with
    * `tieBreak` making the order total. This is the slim-shuffle form:
    * when the ranking key is a hash of a heavy column, compute the
    * hash BEFORE calling this and project the heavy column away, so
    * the rank exchange ships ids and hashes — not the corpus (the q78
    * plan does exactly that; q80's prefix scan uses the same device).
    */
  def stratifiedByKey(df: DataFrame, strataCol: Column, rankKey: Column,
      tieBreak: Column, k: Int): DataFrame = {
    require(k > 0, "sample size must be positive")
    TopK.perGroup(df, Seq(strataCol),
        Seq(rankKey.asc_nulls_last, tieBreak), k, rankCol = "graft_sample_rank")
      .drop("graft_sample_rank")
  }

  /** Deterministic train/val/test split: each row's bucket is decided
    * by comparing md5(`hashKey`) LEXICOGRAPHICALLY against hex-prefix
    * thresholds — pure column arithmetic, no shuffle at all, and the
    * same row lands in the same bucket on every run, engine, and
    * cluster size (which is what makes eval sets stable and leakage
    * auditable). The CUMULATIVE boundaries are quantized to 1/65536
    * (4 hex chars): bucket i spans [round(cumᵢ₋₁·65536),
    * round(cumᵢ·65536)) of the hash space, so a bucket's realized
    * width can differ from round(wᵢ·65536) by one slot. Weights too
    * small to survive quantization (or boundaries that would collide
    * or overflow the 4-hex range) are rejected loudly rather than
    * silently emptying a bucket. Rows with a NULL `hashKey` have a
    * null hash, fail every threshold comparison, and land
    * deterministically in the LAST bucket — filter them first if that
    * sink is not what the mix wants. Lowercase-hex string comparison
    * is identical across engines, so the assignment — not just the
    * counts — has an exact oracle (q79).
    *
    * `splits` = (label, weight) pairs; weights must sum to 1 (±1e-9).
    */
  /** MIXTURE sampling: each stratum is sampled at its own RATE (the
    * data-mixing step of a training pipeline — DoReMi-style domain
    * reweighting executed as a filter): a row is kept iff
    * `md5(hashKey) < hex(round(rate(stratum)·65536))`, quantized to
    * the same 4-hex space as [[hashSplit]] so membership is
    * cross-engine exact and the decision is content-keyed —
    * reproducible across runs, engines, cluster sizes, and input
    * order, and CONSISTENT with [[hashSplit]] buckets built on the
    * same key (a doc sampled at 25% is a subset of the same doc set
    * sampled at 50% — nested samples, the property rate-ramp
    * experiments rely on). Rate 1.0 keeps everything (no hash
    * compare); rates quantizing to 0/65536 boundaries are rejected
    * rather than silently collapsing. Pure projection + filter —
    * ZERO shuffle at any corpus size.
    */
  def mixtureSample(df: DataFrame, strataCol: Column, hashKey: Column,
      rates: Seq[(String, Double)], defaultRate: Double): DataFrame = {
    require(rates.nonEmpty, "need at least one stratum rate")
    (defaultRate +: rates.map(_._2)).foreach { r =>
      require(r == 1.0 || (r > 0 && math.round(r * 65536) > 0 && math.round(r * 65536) < 65536),
        s"rate $r quantizes to an empty or full bucket at 1/65536 granularity")
    }
    def keepFor(rate: Double): Column =
      if (rate == 1.0) lit(true)
      else md5(hashKey.cast("string")) < lit(f"${math.round(rate * 65536)}%04x")
    val keep = rates.foldLeft(when(lit(false), lit(true))) {
      case (acc, (stratum, rate)) => acc.when(strataCol === stratum, keepFor(rate))
    }.otherwise(keepFor(defaultRate))
    df.filter(keep)
  }

  def hashSplit(df: DataFrame, hashKey: Column, splits: Seq[(String, Double)],
      splitCol: String = "split"): DataFrame = {
    require(splits.size >= 2, "need at least two buckets")
    require(splits.forall(_._2 > 0), "weights must be positive")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9, "weights must sum to 1")
    val cum = splits.map(_._2).scanLeft(0.0)(_ + _).tail.dropRight(1)
    val cuts = cum.map(p => math.round(p * 65536))
    // every quantized boundary must stay inside the 4-hex space and
    // carve a non-empty slice for BOTH its neighbors — a 1e-6 weight
    // would otherwise produce "0000"/duplicate/5-char thresholds that
    // silently collapse buckets
    require((0L +: cuts).zip(cuts :+ 65536L).forall { case (a, b) => a < b && b <= 65536 },
      s"weights quantize to empty or out-of-range buckets at 1/65536 " +
        s"granularity: ${splits.map(_._2).mkString(", ")}")
    val thresholds = cuts.map(t => f"$t%04x")
    val h = md5(hashKey.cast("string"))
    val pairs = thresholds.zip(splits.map(_._1))
    val assigned = pairs.tail.foldLeft(when(h < lit(pairs.head._1), pairs.head._2)) {
      case (acc, (t, label)) => acc.when(h < lit(t), label)
    }.otherwise(splits.last._1)
    df.withColumn(splitCol, assigned)
  }
}
