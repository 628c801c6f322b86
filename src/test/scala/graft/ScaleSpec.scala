package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup => D}

/** Scale-growth regression: the §5 claim that the expensive stages of
  * the dedup tier grow ~linearly with the corpus, demonstrated on the
  * 10× jump sf0.001 → sf0.1 (500 → 5000 docs).
  *
  * What is and isn't linear (measured in r3 with a one-off tool since
  * folded into this spec, which computes and pins the same volumes):
  * the banded shuffle is exactly linear (16 triples per doc);
  * the raw band-collision pair set has a quadratic component with a
  * tiny constant (7 → 58 candidates/doc here — random same-vocabulary
  * pairs colliding at p≈0.8%), which the signature-agreement
  * prefilter collapses BEFORE anything expensive runs: the est≥0.6
  * verify volume went 28 → 256 pairs for 10× docs, i.e. linear. At
  * corpus sizes where even the raw pair ids get heavy, rowsPerBand
  * grows with log(n) (documented in operators/Dedup.scala) — the knob
  * this spec pins is the prefilter's job, not the banding constant.
  */
class ScaleSpec extends SparkSpec {

  test("q51 LSH candidates: bits-per-table knob bounds per-query volume as the corpus grows") {
    import graft.operators.Similarity
    import graft.functions.vec
    def cands(dir: String, bits: Int): (Long, Long, Long) = {
      val t = Tables(spark, dir)
      val e = t.embeddings.select(col("vec_id"), vec.toDoubleArr(col("embedding")).as("v"))
      val bucketed = Similarity.explodeBuckets(
        Similarity.withHyperplaneBuckets(e, "v", tables = 8, bitsPerTable = bits))
        .select(col("vec_id"), col("tbl"), col("bucket"))
      val qs = bucketed.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("query_id"), col("tbl"), col("bucket"))
      val c = qs.join(bucketed, Seq("tbl", "bucket"))
        .filter(col("vec_id") =!= col("query_id"))
        .select("query_id", "vec_id").distinct().count()
      (e.count(), e.filter(pmod(col("vec_id"), lit(50)) === 0).count(), c)
    }
    val (n1, q1, c1) = cands("/root/testdata/sf0.001", bits = 4)
    // the embeddings table scales 4x (500 -> 2000) between these SFs;
    // grow bits by ceil(log2(ratio)) = 2, the §5 rule, for the knobbed run
    val (n2, q2, c2) = cands("/root/testdata/sf0.1", bits = 4)
    val (_, _, c2k) = cands("/root/testdata/sf0.1", bits = 6)
    val ratio = n2.toDouble / n1
    assert(ratio >= 4.0, "testdata shape changed; expected >=4x embeddings jump")
    val per1 = c1.toDouble / q1
    val per2 = c2.toDouble / q2
    val per2k = c2k.toDouble / q2
    info(f"candidates/query: $per1%.1f @ $n1 vecs (4 bits) -> " +
      f"$per2%.1f @ $n2 vecs (4 bits) -> $per2k%.1f @ $n2 vecs (6 bits)")
    // with bits FIXED, each bucket holds n/2^bits vectors, so per-query
    // candidate volume grows ~linearly with the corpus — this is WHY §5
    // says bits-per-table must grow with log(n)...
    assert(per2 >= 0.5 * ratio * per1,
      f"expected ~${ratio}x growth at fixed bits, got $per1%.1f -> $per2%.1f")
    // ...and growing bits by log2(ratio) brings per-query candidates
    // back to the small-corpus level: the expensive exact-scoring
    // stage is BOUNDED by the knob, measured not asserted
    assert(per2k <= 2.5 * per1,
      f"knobbed per-query volume $per2k%.1f not bounded vs $per1%.1f @ the smaller corpus")
  }

  test("q83 IVF probe: candidates-per-query stays ~flat as the corpus grows (cells grow with n)") {
    import graft.operators.{Similarity, TopK}
    import graft.functions.vec
    // the q83 coarse tier reads only the 5 probed cells; with the
    // centroid count growing ∝ n/25, cell population stays ~constant,
    // so the per-query candidate volume must NOT track the corpus —
    // this is what makes the composed shape sub-linear where q54's
    // full int8 scan is O(n) per query (untrained seeds here: the
    // structural claim is about cell COUNT, not Lloyd quality)
    def cands(dir: String): (Long, Long, Long) = {
      val t = Tables(spark, dir)
      val e = t.embeddings.select(col("vec_id"), vec.toDoubleArr(col("embedding")).as("v"))
      val seeds = e.filter(pmod(col("vec_id"), lit(25)) === 0)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val assigned = Similarity.assignToCentroids(e, seeds, "vec_id", "v", "cid", "cv")
        .select(col("vec_id"), col("cell"))
      val qs = e.filter(pmod(col("vec_id"), lit(50)) === 0)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val probes = TopK.perGroup(
        qs.crossJoin(broadcast(seeds))
          .select(col("query_id"), col("cid"),
            vec.cosim(col("qv"), col("cv")).as("ccos")),
        Seq(col("query_id")), Seq(col("ccos").desc, col("cid")), k = 5, rankCol = "crn")
        .select(col("query_id"), col("cid").as("cell"))
      val c = probes.join(assigned, "cell")
        .filter(col("vec_id") =!= col("query_id")).count()
      (e.count(), qs.count(), c)
    }
    val (n1, q1, c1) = cands("/root/testdata/sf0.001")
    val (n2, q2, c2) = cands("/root/testdata/sf0.1")
    val ratio = n2.toDouble / n1
    assert(ratio >= 4.0, "testdata shape changed; expected >=4x embeddings jump")
    val per1 = c1.toDouble / q1
    val per2 = c2.toDouble / q2
    info(f"q83 coarse candidates/query: $per1%.1f @ $n1 vecs -> $per2%.1f @ $n2 vecs (corpus ${ratio}%.0fx)")
    assert(per2 <= 2.5 * per1,
      f"per-query probe volume grew $per1%.1f -> $per2%.1f over a ${ratio}%.0fx corpus — cells not scaling with n")
  }

  test("q44 auto bits-per-table bounds the self-join candidate volume as the corpus grows") {
    import graft.operators.Similarity
    import graft.functions.vec
    // the knob itself: bits grows with log2(n), floored for small-corpus
    // recall (spec SFs resolve to the original 4 bits), capped
    assert(Similarity.autoBitsPerTable(500) == 4)
    assert(Similarity.autoBitsPerTable(2000) == 5)
    assert(Similarity.autoBitsPerTable(20000) == 9)
    assert(Similarity.autoBitsPerTable(1L << 40) == 24)
    // measured: distinct within-bucket pair candidates (the q44 shape —
    // self-join, not per-query) per VECTOR, auto vs fixed banding
    def perVec(dir: String, bits: Int): (Long, Double) = {
      val e = Tables(spark, dir).embeddings
        .select(col("vec_id"), vec.toDoubleArr(col("embedding")).as("v"))
      val banded = Similarity.explodeBuckets(
        Similarity.withHyperplaneBuckets(e, "v", tables = 16, bitsPerTable = bits))
        .select(col("vec_id"), col("tbl"), col("bucket"))
      val c = banded.select(col("vec_id").as("a"), col("tbl"), col("bucket"))
        .join(banded.select(col("vec_id").as("b"), col("tbl"), col("bucket")),
          Seq("tbl", "bucket"))
        .filter(col("a") < col("b")).select("a", "b").distinct().count()
      val n = e.count()
      (n, c.toDouble / n)
    }
    val (n1, p1) = perVec("/root/testdata/sf0.001",
      Similarity.autoBitsPerTable(500))
    val (n2, pFixed) = perVec("/root/testdata/sf0.1", 4)
    val (_, pAuto) = perVec("/root/testdata/sf0.1",
      Similarity.autoBitsPerTable(2000))
    info(f"candidates/vector: $p1%.1f @ $n1 (auto) -> fixed-4-bits $pFixed%.1f " +
      f"vs auto $pAuto%.1f @ $n2")
    // fixed bits: per-vector volume ~scales with n (quadratic total);
    // the auto knob must bite at the bigger corpus...
    assert(pAuto <= 0.7 * pFixed,
      f"auto banding did not reduce candidate volume: $pAuto%.1f vs $pFixed%.1f")
    // ...and keep per-vector volume within the occupancy bound the knob
    // targets (16 tables x targetBucket occupancy, before table overlap)
    assert(pAuto <= 16.0 * 64,
      f"per-vector candidates $pAuto%.1f exceed the banding occupancy bound")
    spark.catalog.clearCache()
  }

  test("q44 decade-bits recall: near-dup cosines survive autoBitsPerTable at the sf1 corpus") {
    // VERDICT r7 "next" #8 — the knob's COST side is measured at the
    // decade (candidate volume, above); this pins its RECALL side.
    // Collision probability per pair depends only on (tables, bits,
    // cosine), never on corpus size, so recall of the sf1-sized bits
    // is measurable on a slice: copy-0 of the GenScale output (the
    // intact sf0.1 geometry) plus 200 PLANTED perturbations at
    // cos ≈ 0.93 — the testdata has no natural pairs above 0.6, and
    // the claim to pin is exactly the must-not-miss band (≥0.9).
    val sf1Emb = new java.io.File("/root/repo/testdata-sf1/embeddings.parquet")
    assume(sf1Emb.exists, "testdata-sf1 missing — regenerate via tools/sf1_gate.sh")
    import graft.operators.Similarity
    import graft.functions.vec
    val full = spark.read.parquet(sf1Emb.getPath)
    val n = full.count()
    assert(n >= 10000, s"sf1 embeddings unexpectedly small ($n)")
    val bits = Similarity.autoBitsPerTable(n)
    val stride = Tables(spark, "/root/testdata/sf0.1").embeddings.count()
    val slice = full.filter(col("vec_id") < stride)
      .select(col("vec_id"), vec.toDoubleArr(col("embedding")).as("v"))
    val base = slice.filter(col("vec_id") % 10 === 0).collect()
    assert(base.length >= 100, s"slice sample too small (${base.length})")
    val planted = base.map { r =>
      val id = r.getLong(0)
      val v = r.getSeq[Double](1).toArray
      val norm = math.sqrt(v.map(x => x * x).sum)
      val rnd = new scala.util.Random(id) // fixed seed — deterministic
      val u = Array.fill(v.length)(rnd.nextGaussian())
      val unorm = math.sqrt(u.map(x => x * x).sum)
      // v/|v| + 0.4·u/|u| has cos ≈ 1/sqrt(1+0.16) ≈ 0.93 to v for
      // random (≈ orthogonal) noise — inside the must-not-miss band
      val p = v.indices.map(i => v(i) / norm + 0.4 * u(i) / unorm).toArray
      (1000000L + id, p)
    }.toSeq
    import spark.implicits._
    val all = slice.union(planted.toDF("vec_id", "v"))
    val a = all.select(col("vec_id").as("ia"), col("v").as("va"))
    val b = all.select(col("vec_id").as("ib"), col("v").as("vb"))
    val exact = a.crossJoin(b).filter(col("ia") < col("ib"))
      .withColumn("cos", vec.cosim(col("va"), col("vb")))
      .filter(col("cos") >= 0.9)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 100, s"expected the planted pairs in the ground truth, got ${exact.size}")
    val got = Similarity.lshNearDupPairs(all, "vec_id", "v",
        tables = 16, bitsPerTable = bits, minCosine = 0.9)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(got).toDouble / exact.size
    info(f"sf1 decade bits=$bits (n=$n): recall@cos0.9 = $recall%.3f on ${exact.size} pairs")
    assert(recall >= 0.9, f"decade-bits recall $recall%.3f below 0.9 — the log2(n) knob is eating near-dups")
    spark.catalog.clearCache()
  }

  test("Components rounds grow with component diameter, not pair volume") {
    import graft.operators.Components
    import spark.implicits._
    def roundsOf(pairs: Seq[(Long, Long)]): Int = {
      val df = pairs.toDF("doc_a", "doc_b")
      // localMaxEdges = 0 forces the distributed loop — the round
      // count is the property under test here
      val (labels, rounds) = Components.labelWithStats(df, "doc_a", "doc_b",
        localMaxEdges = 0L)
      labels.count() // materialize before the cache is dropped
      spark.catalog.clearCache()
      rounds
    }
    // volume axis: disjoint pairs (diameter 1) at 10x the count — the
    // round count must NOT move (1 propagation round + 1 to observe
    // the fixpoint)
    val small = roundsOf((0L until 200L).map(i => (2 * i, 2 * i + 1)))
    val large = roundsOf((0L until 2000L).map(i => (2 * i, 2 * i + 1)))
    info(s"disjoint pairs: $small rounds @ 200 pairs, $large rounds @ 2000 pairs")
    assert(small == large, "round count moved with pair volume")
    assert(small <= 2)
    // diameter axis: a 64-node path. Plain min propagation needs ~63
    // rounds; pointer jumping must close it in O(log n) — and doubling
    // the diameter may add at most ~1 round
    val chain64 = roundsOf((0L until 63L).map(i => (i, i + 1)))
    val chain128 = roundsOf((0L until 127L).map(i => (i, i + 1)))
    info(s"path graph: $chain64 rounds @ diameter 63, $chain128 rounds @ diameter 127")
    assert(chain64 > small, "diameter had no effect — fixture broken")
    assert(chain64 <= 8, s"chain-64 took $chain64 rounds; pointer jumping not effective")
    assert(chain128 <= chain64 + 2, "rounds not logarithmic in diameter")
  }

  test("minhash exact-verify volume grows ~linearly over a 10x corpus jump") {
    def measure(dir: String): (Long, Long) = {
      val docs = Tables(spark, dir).documents
      val n = docs.count()
      val sigs = D.withMinHashFromText(docs, "text", n = 5, numHashes = 64)
      val verified = D.minHashCandidates(sigs, "doc_id", bands = 16, rowsPerBand = 4)
        .filter(col("est_jaccard") >= 0.6)
        .count()
      spark.catalog.clearCache()
      (n, verified)
    }
    val (n1, v1) = measure("/root/testdata/sf0.001")
    val (n2, v2) = measure("/root/testdata/sf0.1")
    info(s"verify volume: $v1 pairs @ $n1 docs -> $v2 pairs @ $n2 docs")
    assert(n2 >= 10 * n1, "testdata shape changed; pick dirs 10x apart")
    val perDoc1 = v1.toDouble / n1
    val perDoc2 = v2.toDouble / n2
    // linear growth keeps pairs-per-doc constant; allow 2x slack for
    // corpus composition (quadratic growth would be ~10x)
    assert(perDoc2 <= 2.0 * perDoc1,
      f"verify volume superlinear: $perDoc1%.3f -> $perDoc2%.3f pairs/doc over 10x")
  }

  test("q75 actor co-occurrence volume grows ~linearly over a 10x catalog jump") {
    import org.apache.spark.sql.expressions.Window
    // the Predictive.scala bridge verbatim: top-3 suppliers per content
    // by windowed line count; its self-join volume is sum-of-
    // filmography^2, which the scaladoc claims is LINEAR in the
    // catalog because per-actor filmographies are degree-bounded
    // (both |contents| and |actors| scale with SF)
    def measure(dir: String): (Long, Long, Double, Long) = {
      val asOf = AsOf("1997-06-30")
      val t = Tables(spark, dir)
      val va = t.lineitem
        .filter(col("l_shipdate") > asOf.minusDays(730).tsLit &&
          col("l_shipdate") <= asOf.tsLit)
        .select(col("l_partkey").as("content_id"), col("l_suppkey").as("actor_id"))
      val bridge = va.groupBy(col("content_id"), col("actor_id"))
        .agg(count(lit(1)).as("nl"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("content_id")).orderBy(col("nl").desc, col("actor_id"))))
        .filter(col("rk") <= 3)
        .select(col("content_id"), col("actor_id"))
        .cache()
      try {
        val contents = bridge.select("content_id").distinct().count()
        val filmo = bridge.groupBy("actor_id").count()
          .agg(max("count").as("mx"), avg("count").as("mean")).head
        val coVolume = bridge
          .join(bridge.select(col("actor_id"), col("content_id").as("other_id")), Seq("actor_id"))
          .filter(col("other_id") =!= col("content_id"))
          .count()
        (contents, filmo.getLong(0), filmo.getDouble(1), coVolume)
      } finally bridge.unpersist()
    }
    val (c1, f1, m1, v1) = measure("/root/testdata/sf0.001")
    val (c2, f2, m2, v2) = measure("/root/testdata/sf0.01")
    info(f"sf0.001: $c1 contents, filmography max $f1 / mean $m1%.1f, $v1 pairs; " +
      f"sf0.01: $c2 contents, filmography max $f2 / mean $m2%.1f, $v2 pairs")
    assert(c2 >= 5 * c1, "testdata shape changed; catalog jump too small")
    // degree bound: the MEAN filmography is 3·|contents|/|actors| and
    // must stay flat over the jump (both scale with SF — more actors,
    // not more contents per actor), and skew above the mean stays
    // bounded (measured ~3x here; 6x would signal a hot actor whose
    // filmography grows with the catalog)
    assert(m2 <= 2.0 * m1,
      f"mean filmography grew with the catalog: $m1%.1f -> $m2%.1f")
    assert(f2 <= 6.0 * m2,
      f"filmography skew unbounded: max $f2 vs mean $m2%.1f")
    // linear volume: pairs-per-content roughly flat over the jump
    // (quadratic growth would multiply it by the catalog ratio ~10)
    val per1 = v1.toDouble / c1
    val per2 = v2.toDouble / c2
    assert(per2 <= 2.5 * per1,
      f"co-occurrence volume superlinear: $per1%.1f -> $per2%.1f pairs/content")
  }

  test("q65 pair cap bounds co-watch volume per content; inactive at test scale") {
    import graft.queries.Virality
    val asOf = AsOf("1997-06-30")
    val t = Tables(spark, "/root/testdata/sf0.01")
    val w = t.lineitem
      .filter(col("l_shipdate") > asOf.minusDays(365).tsLit &&
        col("l_shipdate") <= asOf.tsLit)
      .select(col("l_suppkey").as("u"), col("l_partkey").as("c"))
      .distinct()
      .cache()
    try {
      val contents = w.select("c").distinct().count()
      val maxViewers = w.groupBy("c").count().agg(max("count")).head.getLong(0)
      info(s"sf0.01: $contents contents, max $maxViewers viewers/content, " +
        s"default cap ${Virality.defaultPairCap}")
      // the default cap must sit above the densest content at test SF,
      // otherwise capped != uncapped and the exact oracle breaks
      assert(Virality.defaultPairCap > maxViewers,
        s"default pair cap ${Virality.defaultPairCap} not above max viewers $maxViewers")
      // an ACTIVE cap bounds raw pair volume at |contents| * cap^2 even
      // though the data is denser than the cap everywhere it applies
      val cap = 3
      val wc = Virality.cappedViewers(w, cap)
      val rawPairs = wc.select(col("u").as("u1"), col("c"))
        .join(wc.select(col("u").as("u2"), col("c").as("c2")),
          col("c") === col("c2") && col("u1") =!= col("u2"))
        .count()
      assert(rawPairs <= contents * cap * cap,
        s"capped pair volume $rawPairs exceeds |contents|*cap^2 = ${contents * cap * cap}")
      assert(rawPairs > 0, "cap of 3 produced no pairs; fixture degenerate")
      // cap above the max viewer count is a no-op: cappedViewers == w
      val capped = Virality.cappedViewers(w, Virality.defaultPairCap)
      assert(capped.exceptAll(w).isEmpty && w.exceptAll(capped).isEmpty,
        "default cap altered the viewer frame at test SF")
    } finally w.unpersist()
  }

  test("q76/q77 attribution volume grows ~linearly with users; last-touch bounds output by outcomes") {
    import graft.streaming.EventStreams
    // per-user event rates are SF-invariant in the testdata (users
    // scale, rates don't), so all-pairs attribution volume must be
    // linear in |users|; a hot user whose rate grew with SF would show
    // up as a superlinear jump or an exploding per-user max. Last-touch
    // output must equal the attributed-outcome count exactly — the
    // hot-key bound q77 exists to provide (one row per outcome, however
    // many impressions a user generates).
    def measure(dir: String): (Long, Long, Long, Long, Long) = {
      val t = Tables(spark, dir)
      val ev = t.events
      val pairs = EventStreams.attributeWithin(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"), maxDelaySeconds = 86400L)
        .cache()
      try {
        val users = ev.select("user_id").distinct().count()
        val nPairs = pairs.count()
        val maxPerUser = pairs.groupBy("user_id").count().agg(max("count")).head.getLong(0)
        val attributedOutcomes = pairs.select("out_id").distinct().count()
        val lastTouch = EventStreams.lastTouchWithin(
          ev.filter(col("event_type") === "view"),
          ev.filter(col("event_type") === "purchase"), maxDelaySeconds = 86400L).count()
        (users, nPairs, maxPerUser, attributedOutcomes, lastTouch)
      } finally pairs.unpersist()
    }
    val (u1, p1, mx1, ao1, lt1) = measure("/root/testdata/sf0.001")
    val (u2, p2, mx2, ao2, lt2) = measure("/root/testdata/sf0.01")
    info(s"sf0.001: $u1 users, $p1 pairs (max/user $mx1), $lt1 last-touch; " +
      s"sf0.01: $u2 users, $p2 pairs (max/user $mx2), $lt2 last-touch")
    assert(u2 >= 5 * u1, "testdata shape changed; user jump too small")
    // linear: pairs-per-user roughly flat over the 10x user jump
    val per1 = p1.toDouble / u1
    val per2 = p2.toDouble / u2
    assert(per2 <= 2.5 * per1,
      f"attribution volume superlinear: $per1%.2f -> $per2%.2f pairs/user")
    // hot-user bound: the busiest user stays within an order of the mean
    assert(mx2 <= 20L * math.max(1L, (p2 / u2)),
      s"hot-user pair volume unbounded: max $mx2 vs mean ${p2 / u2}")
    // last-touch = exactly one row per attributed outcome, both SFs
    assert(lt1 == ao1 && lt2 == ao2,
      s"last-touch not one-per-outcome: $lt1/$ao1 and $lt2/$ao2")
  }

  test("q91 Bloom FP calibration holds at the sf1 bench load (~330k shingles)") {
    import graft.queries.Contamination
    // the 19.2-bits/element sizing is a CONSTANT FP contract: the
    // filter grows with the bench suite, so per-shingle FP (~1e-4)
    // and hence the false-flagged-doc rate must NOT drift as the
    // suite grows 100x over the spec SFs — this pins it at the
    // decade's ~7.1k bench docs / ~330k distinct shingles.
    val sf1Docs = new java.io.File("/root/repo/testdata-sf1/documents.parquet")
    assume(sf1Docs.exists, "testdata-sf1 missing — regenerate via tools/sf1_gate.sh")
    val docs = spark.read.parquet(sf1Docs.getPath)
    val exact = Contamination.overlapReport(docs, mod = 7, k = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bloom = Contamination.bloomReport(docs, mod = 7, k = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((exact -- bloom).isEmpty,
      s"${(exact -- bloom).size} false negatives at sf1 — Bloom guarantee broken")
    val corpusDocs = docs.count()
    val fpDocs = (bloom -- exact).size
    info(s"sf1 bloom: $corpusDocs docs, ${exact.size} exact, $fpDocs false positives")
    // expectation ~0.5% of clean docs (46 shingles x 1e-4); allow 4x
    assert(fpDocs <= math.max(10L, corpusDocs / 50),
      s"$fpDocs falsely flagged of $corpusDocs — FP calibration drifted at the decade")
  }

  test("round-8 bounded-output contracts: view-grain queries don't grow with the fact") {
    // These outputs are bounded by their GRAIN (dense calendar grid,
    // pattern classes, top-k cut, quality-rule count), so a 10x fact
    // must not move the row count — the property that makes each of
    // them safe to materialize at 100 TB.
    def rows(name: String, dir: String): Long =
      Registry.byName(name).run(spark, dir).count()
    for ((name, expect) <- Seq(
        "q101_gapfill" -> -1L,            // cohorts x observed months
        "q102_image_dedup" -> 17L,        // pattern classes
        "q97_bm25" -> 100L,               // top-k cut
        "q93_data_quality" -> 6L)) {      // rules + base rows
      val a = rows(name, "/root/testdata/sf0.001")
      val b = rows(name, "/root/testdata/sf0.01")
      assert(a == b, s"$name: $a rows at sf0.001 vs $b at sf0.01 — output tracks the fact")
      if (expect >= 0) assert(a == expect, s"$name: expected $expect rows, got $a")
    }
  }

  test("q109 cell compression: state bounded by the value domain, not the fact") {
    // the (group, value, count) cell frame is q109's only fact-sized
    // exchange; everything after it (window, fences, outlier re-agg)
    // rides cells. The events value domain grows ~logarithmically with
    // the fact (it's a bounded metric), so a 100x fact jump must
    // compress to a few-x cell jump — measured 493 -> 1626 cells for
    // 1k -> 100k rows at pin time — and the output stays group-grain.
    def cellsOf(dir: String): (Long, Long) = {
      val v = Tables(spark, dir).events.filter(col("value").isNotNull)
        .select(col("event_type"), floor(col("value")).cast("long").as("val"))
      (v.count(), v.groupBy("event_type", "val").count().count())
    }
    val (f1, c1) = cellsOf("/root/testdata/sf0.001")
    val (f2, c2) = cellsOf("/root/testdata/sf0.1")
    val factRatio = f2.toDouble / f1
    assert(factRatio >= 50.0, s"testdata shape changed; expected ~100x events jump, got $factRatio")
    val cellRatio = c2.toDouble / c1
    info(f"fact $f1 -> $f2 (${factRatio}%.0fx); cells $c1 -> $c2 (${cellRatio}%.1fx)")
    assert(cellRatio < factRatio / 10.0,
      f"cell frame grew ${cellRatio}%.1fx for a ${factRatio}%.0fx fact — compression lost")
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01"))
      assert(Registry.byName("q109_quantile_compressed").run(spark, dir).count() == 5L,
        s"q109 output must stay group-grain (5 event types) at $dir")
  }
}
