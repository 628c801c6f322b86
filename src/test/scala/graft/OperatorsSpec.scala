package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.{AsofJoin, RangeJoin, Sessionize, SkewJoin, TopK}

/** Semantics of the standalone operators on tiny in-memory frames. */
class OperatorsSpec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("CacheScope.withCacheScope releases every graft cache created inside") {
    // start clean of graft caches: a prior suite's plan-identical cache
    // would otherwise be reused by the CacheManager and no NEW
    // persistent RDD would appear inside the scope; an untracked one
    // (a plain cache() left by another suite) the same
    CacheScope.releaseAll()
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    CacheScope.withCacheScope {
      run("q41_dedup_minhash").count() // caches the slim signature frame
      run("q51_ann_lsh").count()       // caches the double-vector frame
      // operator caches: Basket.lift, Retention.triangle,
      // NegativeSample.negatives, GrowthAccounting.flows (two)
      for (q <- Seq("q141_basket_lift", "q158_retention_triangle",
          "q167_negative_sampling", "q169_growth_accounting"))
        run(q).count()
      assert(spark.sparkContext.getPersistentRDDs.size > before.size,
        "expected live graft caches inside the scope")
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"graft caches leaked past the scope: $leaked")
    // the session-wide sweep works outside any scope too
    run("q42_dedup_simhash").count()
    CacheScope.releaseAll()
    val leftover = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leftover.isEmpty, s"releaseAll left graft caches: $leftover")
  }

  test("Sessionize.byGap: session breaks exactly at gap > threshold") {
    import scala.jdk.CollectionConverters._
    val schema = "user LONG, ts TIMESTAMP, id LONG"
    val rows = Seq(
      Row(1L, ts("2024-01-01 00:00:00"), 1L),
      Row(1L, ts("2024-01-01 00:10:00"), 2L), // 10 min gap -> same session
      Row(1L, ts("2024-01-01 01:00:00"), 3L), // 50 min gap -> new session
      Row(2L, ts("2024-01-01 00:00:00"), 4L))
    val df = spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(schema))
    val out = Sessionize.byGap(df, col("user"), col("ts"), col("id"), gapSeconds = 1800)
      .select("user", "id", "session_seq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 2L), (2L, 4L, 1L)))
  }

  test("Sessionize.byGap: gap exactly at threshold stays in session") {
    import scala.jdk.CollectionConverters._
    val schema = "user LONG, ts TIMESTAMP, id LONG"
    val rows = Seq(
      Row(1L, ts("2024-01-01 00:00:00"), 1L),
      Row(1L, ts("2024-01-01 00:30:00"), 2L)) // exactly 1800s -> not > gap
    val df = spark.createDataFrame(rows.asJava,
      org.apache.spark.sql.types.StructType.fromDDL(schema))
    val seqs = Sessionize.byGap(df, col("user"), col("ts"), col("id"), gapSeconds = 1800)
      .select("session_seq").collect().map(_.getLong(0)).toSet
    assert(seqs == Set(1L))
  }

  test("TopK.perGroup: keeps exactly k rows per group in order") {
    import spark.implicits._
    val df = Seq(("a", 3), ("a", 1), ("a", 2), ("b", 9)).toDF("g", "x")
    val out = TopK.perGroup(df, Seq(col("g")), Seq(col("x").desc), k = 2)
      .select("g", "x", "rn").collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(out == Set(("a", 3, 1L), ("a", 2, 2L), ("b", 9, 1L)))
  }

  test("SkewJoin.salted equals the unsalted join (same aggregate result)") {
    val t = tables
    val salted = SkewJoin.salted(
      t.lineitem, t.orders.select(col("o_orderkey"), col("o_orderpriority")),
      "l_orderkey", "o_orderkey", Seq(col("l_orderkey"), col("l_linenumber")), numSalts = 8)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority").collect().toSeq
    val plain = t.lineitem
      .join(t.orders.select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority").collect().toSeq
    assert(salted == plain)
  }

  test("AsofJoin.backward: most recent right row at-or-before each left time") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, "e1"), // after r@5  -> price 100
      (1L, 20L, "e2"), // at r@20    -> <= matches, price 200
      (1L, 25L, "e3"), // after r@20 -> price 200
      (2L, 10L, "e4"), // no right rows for key 2 -> null payload
      (3L, 1L, "e5"))  // before key 3's only right row -> null payload
      .toDF("k", "t", "ev")
    val right = Seq(
      (1L, 5L, 100.0), (1L, 20L, 200.0), (3L, 9L, 300.0))
      .toDF("k", "rt", "price")
    val out = AsofJoin.backward(left, right, "k", "t", "rt")
      .select("ev", "price").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out == Map(
      "e1" -> Some(100.0), "e2" -> Some(200.0), "e3" -> Some(200.0),
      "e4" -> None, "e5" -> None))
  }

  test("AsofJoin.backward: a right row with a null field supersedes atomically") {
    import spark.implicits._
    val left = Seq((1L, 30L, "e1")).toDF("k", "t", "ev")
    val right = Seq(
      (1L, 5L, Some(100.0), Some("old")),
      (1L, 20L, None: Option[Double], Some("new"))) // newer row, null price
      .toDF("k", "rt", "price", "tag")
    val row = AsofJoin.backward(left, right, "k", "t", "rt")
      .select("price", "tag").head()
    // the newer right row wins as a unit: null price, tag "new" —
    // per-column fills would have stitched price=100.0 from the old row
    assert(row.isNullAt(0) && row.getString(1) == "new")
  }

  test("AsofJoin plans one hash exchange and zero join nodes (q35 core)") {
    import spark.implicits._
    val left = Seq((1L, 10L, "e1")).toDF("k", "t", "ev")
    val right = Seq((1L, 5L, 100.0)).toDF("k", "rt", "price")
    val df = AsofJoin.backward(left, right, "k", "t", "rt")
    val nodes = physicalNodes(df)
    val joins = nodes.count(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
    assert(joins == 0, s"asof merge must not plan a join, found $joins")
    assert(shuffles(df).size == 1,
      s"asof merge must cost exactly one exchange, found ${shuffles(df).size}")
  }

  test("RangeJoin.pointInInterval: inclusive bounds, cross-bucket intervals match") {
    import spark.implicits._
    val points = Seq((7L, "p0"), (1L, "p1"), (10L, "p2"), (15L, "p3"), (25L, "p4"), (99L, "p5"))
      .toDF("t", "p")
    // interval B spans buckets 0 and 1 (width 10): p0 (bucket 0) and
    // p2 (bucket 1) must both match it; bounds are inclusive (p2 at
    // A's start, p3 at A's end)
    val intervals = Seq((10L, 15L, "A"), (5L, 12L, "B")).toDF("s", "e", "iv")
    val out = RangeJoin.pointInInterval(points, "t", intervals, "s", "e", bucketWidth = 10L)
      .select("p", "iv").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(("p2", "A"), ("p3", "A"), ("p0", "B"), ("p2", "B")),
      s"got $out")
  }

  test("RangeJoin plans a hash equi-join on buckets, never a nested loop (q36 core)") {
    import spark.implicits._
    val points = spark.range(1000).select(col("id").as("t"))
    val intervals = spark.range(50)
      .select((col("id") * 20).as("s"), (col("id") * 20 + 9).as("e"))
    val df = RangeJoin.pointInInterval(points, "t", intervals, "s", "e", bucketWidth = 10L)
    val p = planOf(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degraded to a nested loop:\n$p")
    val equiJoins = physicalNodes(df).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec if j.leftKeys.nonEmpty => j
    }
    assert(equiJoins.nonEmpty, s"no equi-join on bucket keys:\n$p")
  }

  test("approx_percentile tracks exact percentiles (q10b bound)") {
    val approx = run("q10b_approx_percentile").collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val exact = run("q10_percentile").collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(approx.keySet == exact.keySet)
    for ((flag, ap) <- approx; (a, e) <- ap.zip(exact(flag))) {
      // accuracy=10000 on sf0.001 groups (~thousands of rows) ⇒ the
      // sketch returns an actual element within tiny rank error of the
      // true percentile; allow 5% relative slack for the interpolation
      // difference (exact percentile_cont interpolates, the sketch
      // returns an observed value).
      assert(math.abs(a - e) <= math.max(0.05 * math.abs(e), 1.0),
        s"$flag: approx percentile $a vs exact $e")
    }
  }

  test("FrequentItems (Misra-Gries): heavy items survive partitioned merges, estimates bounded") {
    import spark.implicits._
    // 100x 'heavy', 40x 'mid', 400 distinct noise items -> N=540, k=8
    // guarantee: anything above N/(k+1)=60 must survive; estimates
    // undercount by at most N/(k+1)
    val rng = new scala.util.Random(42)
    val items = rng.shuffle(
      (Seq.fill(100)("heavy") ++ Seq.fill(40)("mid") ++
        (0 until 400).map(i => s"noise_$i")).toVector)
    val ds = spark.createDataset(items).repartition(4) // force cross-partition merges
    val mg = new graft.functions.FrequentItems(8)
    val summary = ds.groupByKey(_ => 0).mapValues(identity)
      .agg(mg.toColumn.name("freq")).collect().head._2
    assert(summary.size <= 8, s"summary exceeded k counters: ${summary.size}")
    assert(summary.contains("heavy"), s"heavy hitter evicted: $summary")
    val est = summary("heavy")
    assert(est <= 100L && est >= 100L - 540L / 9, s"estimate $est outside MG bound")
  }

  test("approx_count_distinct is within 10% of exact (q25 bound)") {
    val t = tables
    val rows = t.orders.groupBy("o_orderpriority")
      .agg(approx_count_distinct(col("o_custkey")).as("a"),
        countDistinct(col("o_custkey")).as("e"))
      .collect()
    for (r <- rows) {
      val (a, e) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      // HLL++ default rsd is 5%; small sf0.001 groups can sit right at
      // the boundary, so the regression bound is 2x the rsd.
      assert(math.abs(a - e) / e < 0.10, s"approx $a vs exact $e off by >10%")
    }
  }

  test("stratifiedByKey: input-order independent, per-stratum capped, reproducible") {
    import graft.operators.Sampling
    val docs = tables.documents
    // ranked on a content hash computed first, as q78 does
    def sample(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
      Sampling.stratifiedByKey(df.withColumn("h", md5(col("text"))),
          col("source"), col("h"), col("doc_id"), k = 7)
        .select("source", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    val base = sample(docs)
    // permute physical input order: different partitioning + reversed
    // in-partition order must not change a content-addressed sample
    val permuted = sample(docs.repartition(7, col("n_chars")).sortWithinPartitions(col("doc_id").desc))
    assert(base == permuted, "sample depends on input order")
    // cap: exactly min(k, stratum size) per source
    val counts = base.groupBy(_._1).view.mapValues(_.size).toMap
    val sizes = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((src, n) <- sizes)
      assert(counts.getOrElse(src, 0) == math.min(7L, n),
        s"$src: sampled ${counts.getOrElse(src, 0)} of $n with k=7")
  }

  test("hashSplit: total, disjoint, reproducible, and weight-accurate") {
    import graft.operators.Sampling
    val docs = tables.documents
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    def assign(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      Sampling.hashSplit(df, col("text"), splits)
        .select("doc_id", "split").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val base = assign(docs)
    assert(base.size == docs.count(), "every row must get exactly one bucket")
    assert(base.values.toSet.subsetOf(Set("train", "val", "test")))
    // physical layout must not matter — the assignment is per-row math
    assert(assign(docs.repartition(5, col("lang"))) == base,
      "assignment depends on partitioning")
    // content-hash uniformity: shares within a few points of weights
    // (deterministic for this fixture — not a statistical flake)
    val n = base.size.toDouble
    val shares = base.values.groupBy(identity).view.mapValues(_.size / n).toMap
    for ((label, w) <- splits)
      assert(math.abs(shares.getOrElse(label, 0.0) - w) < 0.06,
        s"$label share ${shares.getOrElse(label, 0.0)} vs weight $w")
    // weights that quantize to empty/overflowing buckets must be
    // rejected loudly, not silently collapsed (review finding: a
    // cumulative sum rounding to 65536 formats as 5-char "10000")
    for (badSplits <- Seq(
      Seq("a" -> 0.999999, "b" -> 0.000001),
      Seq("a" -> 0.000001, "b" -> 0.000001, "c" -> 0.999998)))
      assertThrows[IllegalArgumentException](
        Sampling.hashSplit(docs, col("text"), badSplits))
  }

  test("mixtureSample: per-stratum rates, nested samples, shuffle-free (q113)") {
    import graft.operators.Sampling
    val docs = tables.documents.select(col("source"), col("doc_id"), col("text"))
    def ids(rates: Seq[(String, Double)], default: Double): Set[Long] =
      Sampling.mixtureSample(docs, col("source"), col("text"), rates, default)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    // rate 1.0 keeps every row of its stratum; a near-zero legal rate
    // keeps almost nothing
    val src0 = docs.filter(col("source") === "src0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(Seq("src0" -> 1.0), default = 1.0) == all)
    assert(src0.subsetOf(ids(Seq("src0" -> 1.0), default = 0.001)))
    // NESTED: the 25% sample is a subset of the 50% sample on the same
    // key — the rate-ramp property the threshold mechanism guarantees
    val at25 = ids(Seq("src0" -> 0.25), default = 0.25)
    val at50 = ids(Seq("src0" -> 0.5), default = 0.5)
    assert(at25.subsetOf(at50), "samples must nest as rates grow")
    // input-order independent
    val reparted = Sampling.mixtureSample(docs.repartition(7, col("doc_id")),
      col("source"), col("text"), Seq("src0" -> 0.5), defaultRate = 0.25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(reparted == ids(Seq("src0" -> 0.5), default = 0.25),
      "membership depends on partitioning")
    // rates share q79's realized-fraction accuracy on the same hash
    val kept = at50.size.toDouble / all.size
    assert(math.abs(kept - 0.5) < 0.06, s"realized rate $kept vs 0.5")
    // degenerate rates are rejected loudly
    for (bad <- Seq(0.0, 1e-9, 1.0 - 1e-9, -0.5))
      assertThrows[IllegalArgumentException](
        Sampling.mixtureSample(docs, col("source"), col("text"),
          Seq("src0" -> bad), defaultRate = 0.5))
    // pure projection + filter: zero exchanges of any kind
    val plan = Sampling.mixtureSample(docs, col("source"), col("text"),
      Seq("src0" -> 0.5), defaultRate = 0.25)
    plan.collect()
    assert(shuffles(plan).isEmpty, s"mixture sampling must not shuffle:\n${planOf(plan)}")
  }

  test("q78's rank exchange ships hashes and ids, never the corpus text") {
    val df = run("q78_stratified_sample")
    val leaky = shuffles(df).filter(_.output.exists(_.name == "text"))
    assert(leaky.isEmpty,
      s"text column rides a shuffle in the sampling plan:\n${leaky.mkString("\n")}")
  }
}
