package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.functions.sketch.md5Word
import graft.operators.Shingles

/** q263/q264: PASSAGE-LEVEL partial-duplicate detection via winnowing
  * document fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD 2003 —
  * public), plus the asymmetric CONTAINMENT classifier (Broder 1997
  * resemblance/containment distinction — public) over the winnowing
  * candidate pairs.
  *
  * Why this operator exists next to q41/q43 (whole-doc near-dup) and
  * q233/q247 (dup-gram mass/position): whole-doc Jaccard misses the
  * pair a curation pipeline most wants to see — a SHARED PASSAGE
  * (quoted paragraph, syndicated block, licence header) inside two
  * otherwise-different documents, and a SMALL doc wholly quoted
  * inside a big one (Jaccard ≈ |A|/|B| → 0 as the wrapper grows).
  * Winnowing guarantees every shared run of ≥ W+K-1 tokens leaves at
  * least one COMMON fingerprint in both docs, so passage overlap is
  * detectable from fingerprint sets ~1/W the corpus gram volume.
  *
  * Selection rule, exactly the paper's: hash every K-word gram; in
  * every sliding window of W consecutive hashes select the MINIMUM,
  * ties to the RIGHTMOST. Realized without any per-window rescan:
  * g(pos) = h·2^20 + (2^20−1−pos) makes values unique per doc with
  * rightmost-tie built in, and position p is selected iff for some
  * window offset a ∈ [0,W): the window s = p−a is in range AND g(p)
  * beats the a predecessors and the W−1−a successors — a fixed
  * W-disjunct predicate over LAG/LEAD columns, evaluated in ONE
  * per-doc WindowExec (partitioned by doc_id — never a global
  * window; identical semantics in DuckDB's window functions, so the
  * fingerprint SET itself is oracle-exact, same md5-replay doctrine
  * as q238/q251/q252/q258/q262).
  *
  * Determinism: md5 32-bit-half hashes, integer g encoding, integer
  * counts and per-mille ratios (·1000 div, the q215 floor rule) —
  * zero floats end to end in both queries.
  *
  * Scale shape: the gram leg is the q247 posexplode floor (linear,
  * one exchange); the window leg is per-doc frames (doc-length
  * bounded, codegen'd lag/lead); fingerprints are ~H/W per doc; the
  * pair join is on the fingerprint value with a DOC-FREQUENCY CAP
  * (df ≤ 32 — boilerplate fingerprints shared by whole sources are
  * noise for PAIRING and unbounded pair generators; q116/q84 own
  * boilerplate), so pair volume ≤ Σ C(df,2) ≤ 16·|fps| — never
  * quadratic in the corpus. q264 ships exact gram sets for CANDIDATE
  * docs only (the q238 discipline).
  */
object Winnowing {

  /** Gram width (words), winnowing window (hashes). Guarantee: any
    * shared token run of length ≥ K+W−1 = 12 yields a shared
    * fingerprint.
    */
  private val K = 5
  private val W = 8

  /** Fingerprints live in docs shorter than 2^20 tokens (the g
    * position-encoding budget; corpus max is ~10^3).
    */
  private val PosBits = 20
  private val PosCap = 1L << PosBits

  /** +inf sentinel for lag/lead past the doc edge: > max g = 2^52−1.
    * Window-validity guards make it inert; it only keeps LEAST
    * null-free under both engines' null conventions.
    */
  private val Sentinel = 1L << 52

  /** Pairing df-cap and minimum shared-fingerprint floor (q263). */
  private val DfCap = 32
  private val MinShared = 3

  /** Containment candidate floor and report floor (q264). */
  private val CandShared = 2
  private val ReportPm = 500
  private val ContainedPm = 900

  // ---- shared SQL fragments (interpolated into both oracles) ----

  private def lagLeadSql: String =
    (1 until W).map(i =>
      s"COALESCE(LAG(g, $i) OVER wd, $Sentinel) AS l$i, " +
        s"COALESCE(LEAD(g, $i) OVER wd, $Sentinel) AS r$i").mkString(",\n      |    ")

  private def prefixMinSql: String = {
    val pm = (1 until W).map(a =>
      s"LEAST(${(1 to a).map(i => s"l$i").mkString(", ")}) AS pm$a")
    val nm = (1 until W).map(b =>
      s"LEAST(${(1 to b).map(i => s"r$i").mkString(", ")}) AS nm$b")
    (pm ++ nm).mkString(",\n      |    ")
  }

  private def selectedSql: String =
    (0 until W).map { a =>
      val b = W - 1 - a
      val valid = s"$a <= pos AND pos <= nh - $W + $a"
      val left = if (a == 0) "" else s" AND g < pm$a"
      val right = if (b == 0) "" else s" AND g < nm$b"
      s"($valid$left$right)"
    }.mkString("\n      |    OR ")

  /** Distinct winnowing fingerprints as an oracle CTE chain ending in
    * `fps(doc_id, h)` — shared verbatim by both oracles.
    */
  private def fpsSql: String =
    s"""WITH base AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |), sized AS (
      |  SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM base
      |  WHERE len(w) >= ${K + W - 1} AND len(w) < $PosCap
      |), hx AS (
      |  SELECT doc_id, n - ${K - 1} AS nh, CAST(i AS BIGINT) - 1 AS pos,
      |    CAST(('0x' || substr(md5(array_to_string(w[i:i + ${K - 1}], ' ')), 1, 8))
      |      AS BIGINT) AS h
      |  FROM sized, unnest(range(1, n - ${K - 2})) AS t(i)
      |), gx AS (
      |  SELECT doc_id, nh, pos, h,
      |    h * $PosCap + ($PosCap - 1 - pos) AS g
      |  FROM hx
      |), lx AS (
      |  SELECT doc_id, nh, pos, h, g,
      |    $lagLeadSql
      |  FROM gx WINDOW wd AS (PARTITION BY doc_id ORDER BY pos)
      |), px AS (
      |  SELECT doc_id, nh, pos, h, g,
      |    $prefixMinSql
      |  FROM lx
      |), sel AS (
      |  SELECT doc_id, h FROM px
      |  WHERE $selectedSql
      |), fps AS (
      |  SELECT DISTINCT doc_id, h FROM sel
      |)""".stripMargin

  val q263 = Q.of(
    "q263_winnowing_overlap",
    s"""$fpsSql,
      |nfp AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf FROM fps GROUP BY doc_id
      |), keep AS (
      |  SELECT h FROM fps GROUP BY h
      |  HAVING COUNT(*) BETWEEN 2 AND $DfCap
      |), shared AS (
      |  SELECT fps.doc_id, fps.h FROM fps JOIN keep ON keep.h = fps.h
      |), pairs AS (
      |  SELECT x.doc_id AS da, y.doc_id AS db,
      |    CAST(COUNT(*) AS BIGINT) AS n_shared
      |  FROM shared x JOIN shared y ON x.h = y.h AND x.doc_id < y.doc_id
      |  GROUP BY x.doc_id, y.doc_id HAVING COUNT(*) >= $MinShared
      |)
      |SELECT da, db, n_shared, a.nf AS n_a, b.nf AS n_b,
      |  n_shared * 1000 // LEAST(a.nf, b.nf) AS overlap_pm
      |FROM pairs JOIN nfp a ON a.doc_id = da JOIN nfp b ON b.doc_id = db
      |ORDER BY da, db""".stripMargin) { t =>
    overlap(t.documents)
  }

  val q264 = Q.of(
    "q264_containment",
    s"""$fpsSql,
      |keep AS (
      |  SELECT h FROM fps GROUP BY h
      |  HAVING COUNT(*) BETWEEN 2 AND $DfCap
      |), shared AS (
      |  SELECT fps.doc_id, fps.h FROM fps JOIN keep ON keep.h = fps.h
      |), cand AS (
      |  SELECT x.doc_id AS da, y.doc_id AS db
      |  FROM shared x JOIN shared y ON x.h = y.h AND x.doc_id < y.doc_id
      |  GROUP BY x.doc_id, y.doc_id HAVING COUNT(*) >= $CandShared
      |), gsets AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(w) - ${K - 2}),
      |      i -> md5(array_to_string(w[i:i + ${K - 1}], ' ')))) AS gs
      |  FROM base WHERE len(w) >= ${K + W - 1} AND len(w) < $PosCap
      |), scored AS (
      |  SELECT da, db,
      |    CAST(len(list_intersect(sa.gs, sb.gs)) AS BIGINT) AS inter,
      |    CAST(len(sa.gs) AS BIGINT) AS na, CAST(len(sb.gs) AS BIGINT) AS nb
      |  FROM cand JOIN gsets sa ON sa.doc_id = da JOIN gsets sb ON sb.doc_id = db
      |), shaped AS (
      |  SELECT
      |    CASE WHEN na < nb OR (na = nb AND da < db) THEN da ELSE db END AS inner_doc,
      |    CASE WHEN na < nb OR (na = nb AND da < db) THEN db ELSE da END AS outer_doc,
      |    LEAST(na, nb) AS n_inner, GREATEST(na, nb) AS n_outer, inter
      |  FROM scored
      |)
      |SELECT inner_doc, outer_doc, n_inner, n_outer, inter,
      |  inter * 1000 // n_inner AS containment_pm,
      |  inter * 1000 // (n_inner + n_outer - inter) AS jaccard_pm,
      |  CAST(CASE WHEN inter * 1000 // n_inner >= $ContainedPm
      |    THEN 1 ELSE 0 END AS BIGINT) AS contained
      |FROM shaped WHERE inter * 1000 // n_inner >= $ReportPm
      |ORDER BY inner_doc, outer_doc""".stripMargin) { t =>
    containment(t.documents)
  }

  val q269 = Q.of(
    "q269_syndication_families",
    s"""WITH RECURSIVE ${fpsSql.stripPrefix("WITH ")},
      |keep AS (
      |  SELECT h FROM fps GROUP BY h
      |  HAVING COUNT(*) BETWEEN 2 AND $DfCap
      |), shared AS (
      |  SELECT fps.doc_id, fps.h FROM fps JOIN keep ON keep.h = fps.h
      |), pairs AS (
      |  SELECT x.doc_id AS da, y.doc_id AS db
      |  FROM shared x JOIN shared y ON x.h = y.h AND x.doc_id < y.doc_id
      |  GROUP BY x.doc_id, y.doc_id HAVING COUNT(*) >= $MinShared
      |), edges AS (
      |  SELECT da AS src, db AS dst FROM pairs
      |  UNION SELECT db, da FROM pairs
      |), walk(id, reach) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT w.id, e.dst FROM walk w JOIN edges e ON w.reach = e.src
      |), comp AS (
      |  SELECT id, MIN(reach) AS mn FROM walk GROUP BY id
      |), lab AS (
      |  SELECT id, CASE WHEN id < mn THEN id ELSE mn END AS family FROM comp
      |)
      |SELECT family, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COUNT(DISTINCT d.source) AS BIGINT) AS n_sources,
      |  CAST(SUM(d.n_chars) AS BIGINT) AS char_mass
      |FROM lab JOIN documents d ON d.doc_id = lab.id
      |GROUP BY family
      |ORDER BY family""".stripMargin) { t =>
    families(t.documents)
  }

  /** q269 plan: connected components over the q263 pair graph — the
    * SYNDICATION FAMILY readout (which mirror/boilerplate families
    * exist, how many sources they span, what mass they hold). Same
    * `Components` min-label machinery as q45/q259; edges are the
    * df-capped winnowing pairs, so the graph is near-dup-volume
    * sized, never corpus-sized.
    */
  def families(docs: DataFrame): DataFrame = {
    val pairs = candidatePairs(fingerprints(docs), MinShared)
      .select(col("da"), col("db"))
    val labels = graft.operators.Components.label(pairs, "da", "db")
    labels
      .join(docs.select(col("doc_id").as("id"), col("source"), col("n_chars")),
        Seq("id"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).cast("long").as("char_mass"))
      .select(col("label").as("family"), col("n_docs"), col("n_sources"),
        col("char_mass"))
      .orderBy(col("family"))
  }

  /** Distinct (doc_id, h) winnowing fingerprints. Factored so both
    * queries and the spec share the selection rule.
    */
  def fingerprints(docs: DataFrame): DataFrame = {
    val hashes = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= K + W - 1 && size(col("w")) < PosCap)
      .select(col("doc_id"),
        (size(col("w")).cast("long") - (K - 1)).as("nh"),
        posexplode(expr(Shingles.wordGrams(K, md5Word(_)))))
      .select(col("doc_id"), col("nh"), col("pos").cast("long").as("pos"),
        col("col").as("h"))
    val gx = hashes.withColumn("g",
      col("h") * lit(PosCap) + (lit(PosCap - 1) - col("pos")))
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val lagged = (1 until W).foldLeft(gx) { (df, i) =>
      df.withColumn(s"graft_l$i", coalesce(lag(col("g"), i).over(wd), lit(Sentinel)))
        .withColumn(s"graft_r$i", coalesce(lead(col("g"), i).over(wd), lit(Sentinel)))
    }
    val withMins = (1 until W).foldLeft(lagged) { (df, a) =>
      val pm = (1 to a).map(i => col(s"graft_l$i")).reduce((x, y) => least(x, y))
      val nm = (1 to a).map(i => col(s"graft_r$i")).reduce((x, y) => least(x, y))
      df.withColumn(s"graft_pm$a", pm).withColumn(s"graft_nm$a", nm)
    }
    val selected: Column = (0 until W).map { a =>
      val b = W - 1 - a
      val valid = (lit(a.toLong) <= col("pos")) &&
        (col("pos") <= col("nh") - lit(W.toLong) + lit(a.toLong))
      val left = if (a == 0) lit(true) else col("g") < col(s"graft_pm$a")
      val right = if (b == 0) lit(true) else col("g") < col(s"graft_nm$b")
      valid && left && right
    }.reduce(_ || _)
    // every consumer fans out over this frame (per-doc counts, the
    // df-cap aggregate, BOTH sides of the pair self-join) and the
    // subtree above it — an md5 per gram plus an 8-wide lag/lead
    // window — is the corpus-pass cost; uncached, consumers keyed on
    // different columns (doc_id vs h) share no exchange and re-run
    // the whole leg (guide §2.4). Slim (doc_id, h) rows, ~1/W of gram
    // volume.
    graft.CacheScope.trackedCache(
      withMins.filter(selected).select(col("doc_id"), col("h")).distinct())
  }

  /** Df-capped fingerprint postings and the grouped candidate pairs
    * with their shared-fingerprint counts (floor = `minShared`).
    *
    * Pairs are emitted IN-ROW from the per-fingerprint posting list
    * (sorted collect_set + i<j double explode — the CoOccur idiom at
    * fingerprint grain, VERDICT r13 #8) instead of the posting
    * self-join. Two-stage, because the df DISTRIBUTION is nothing
    * like a basket file's: most fingerprints are singletons, and
    * collecting a posting array for every one of them runs the whole
    * corpus through an ObjectHashAggregate (measured SLOWER than the
    * self-join it replaced — profile 2.8 → 3.8 s). So stage 1 is the
    * original cheap codegen'd count aggregate (df filter 2..DfCap),
    * and only the SURVIVING postings — a small fraction, each list
    * ≤ DfCap = 32 ids — are collected and double-exploded. The join
    * disappears; the object aggregate touches only multi-doc
    * fingerprints. `fps` is distinct by (doc_id, h), so
    * collect_set(doc_id) IS the posting list and the i<j pairs are
    * exactly the rows the x.doc_id < y.doc_id join produced —
    * n_shared per pair identical, oracles unchanged.
    */
  private def candidatePairs(fps: DataFrame, minShared: Int): DataFrame = {
    val keep = fps.groupBy(col("h"))
      .agg(count(lit(1)).as("graft_df"))
      .filter(col("graft_df").between(2, DfCap))
      .select(col("h"))
    fps.join(keep, Seq("h"), "left_semi")
      .groupBy(col("h"))
      .agg(sort_array(collect_set(col("doc_id"))).as("graft_ids"))
      .select(col("graft_ids"),
        posexplode(col("graft_ids")).as(Seq("graft_i", "da")))
      .select(col("da"),
        explode(slice(col("graft_ids"), col("graft_i") + lit(2),
          size(col("graft_ids")))).as("db"))
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** q263 plan: pairwise passage-overlap profile. */
  def overlap(docs: DataFrame): DataFrame = {
    val fps = fingerprints(docs)
    val nfp = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    candidatePairs(fps, MinShared)
      .join(nfp.select(col("doc_id").as("da"), col("nf").as("n_a")), Seq("da"))
      .join(nfp.select(col("doc_id").as("db"), col("nf").as("n_b")), Seq("db"))
      .select(col("da"), col("db"), col("n_shared"), col("n_a"), col("n_b"),
        expr("n_shared * 1000 div least(n_a, n_b)").as("overlap_pm"))
      .orderBy(col("da"), col("db"))
  }

  /** q264 plan: asymmetric containment over winnowing candidates.
    * Exact gram sets ship for candidate docs only.
    */
  def containment(docs: DataFrame): DataFrame = {
    val cand = graft.CacheScope.trackedCache(
      candidatePairs(fingerprints(docs), CandShared)
        .select(col("da"), col("db")))
    // "exact gram sets ship for candidate docs only" now holds for the
    // COMPUTE too, not just the join: the semi-join prunes the corpus
    // to candidate docs BEFORE the per-gram md5 projection runs
    // (Catalyst leaves a projection where it is written, so the
    // original spelling hashed every doc's grams and then discarded
    // the non-candidates at the join), and the pruned frame is cached
    // because both the da and db joins consume it (guide §2.3
    // "project early" / §2.4).
    val candIds = cand.select(col("da").as("doc_id"))
      .unionAll(cand.select(col("db").as("doc_id"))).distinct()
    val gsets = graft.CacheScope.trackedCache(docs
      .join(candIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= K + W - 1 && size(col("w")) < PosCap)
      .select(col("doc_id"),
        expr(Shingles.wordGrams(K, Shingles.Md5, distinct = true)).as("gs")))
    val scored = cand
      .join(gsets.select(col("doc_id").as("da"), col("gs").as("gsa")), Seq("da"))
      .join(gsets.select(col("doc_id").as("db"), col("gs").as("gsb")), Seq("db"))
      .select(col("da"), col("db"),
        size(array_intersect(col("gsa"), col("gsb"))).cast("long").as("inter"),
        size(col("gsa")).cast("long").as("na"),
        size(col("gsb")).cast("long").as("nb"))
    val inward = col("na") < col("nb") ||
      (col("na") === col("nb") && col("da") < col("db"))
    val shaped = scored.select(
      when(inward, col("da")).otherwise(col("db")).as("inner_doc"),
      when(inward, col("db")).otherwise(col("da")).as("outer_doc"),
      least(col("na"), col("nb")).as("n_inner"),
      greatest(col("na"), col("nb")).as("n_outer"),
      col("inter"))
    shaped
      .select(col("inner_doc"), col("outer_doc"), col("n_inner"), col("n_outer"),
        col("inter"),
        expr("inter * 1000 div n_inner").as("containment_pm"),
        expr("inter * 1000 div (n_inner + n_outer - inter)").as("jaccard_pm"),
        when(expr("inter * 1000 div n_inner") >= ContainedPm, 1L)
          .otherwise(0L).as("contained"))
      .filter(col("containment_pm") >= ReportPm)
      .orderBy(col("inner_doc"), col("outer_doc"))
  }

  def all: Seq[Q] = Seq(q263, q264, q269)
}
