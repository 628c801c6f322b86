package graft

import org.apache.spark.sql.functions._

import graft.queries.{Contamination, Pii, Quality, Scd2}

/** Behavioral checks for the round-8 curation tier (q84–q87) on
  * crafted inputs — the oracle proves cross-engine agreement on the
  * synthetic corpus; these pin the SEMANTICS on inputs the corpus
  * doesn't contain (pathological repetition, planted contamination,
  * unchanged-update churn, real-looking PII).
  */
class CurationSpec extends SparkSpec {

  test("q84 repetition metrics separate spam from diverse text") {
    import spark.implicits._
    val docs = Seq(
      // 24 words, all "spam": top fraction 1.0, distinct 1/24 → drop
      (1L, Seq.fill(24)("spam").mkString(" ")),
      // diverse 26 distinct words → keep
      (2L, ('a' to 'z').map(c => s"word$c").mkString(" ")),
      // diverse words but every bigram repeated via doubling the text
      (3L, (('a' to 'm').map(c => s"tok$c") ++ ('a' to 'm').map(c => s"tok$c")).mkString(" ")),
      // short doc: under the 20-word floor → drop regardless of variety
      (4L, "one two three four five"))
      .toDF("doc_id", "text")
    val r = Quality.repetitionProfile(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[String]("verdict") == "drop")
    assert(r(1L).getAs[Double]("top_word_fraction") == 1.0)
    assert(r(2L).getAs[String]("verdict") == "keep")
    assert(r(2L).getAs[Double]("distinct_ratio") == 1.0)
    assert(r(2L).getAs[Double]("dup_bigram_fraction") == 0.0)
    // doubled text: 13 distinct words over 26, and the duplicated
    // half makes ~half the bigrams repeats → repetition gates fire
    assert(r(3L).getAs[String]("verdict") == "drop")
    assert(r(3L).getAs[Double]("dup_bigram_fraction") > 0.4)
    assert(r(4L).getAs[String]("verdict") == "drop")
    assert(r(4L).getAs[Long]("n_words") == 5L)
  }

  test("q84 is a pure projection: no hash exchange in the plan") {
    val plan = planOf(run("q84_quality_filters"))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"q84 should shuffle only for the presentation sort:\n$plan")
  }

  test("q257 max-run fold finds loops the multiset rules cannot see") {
    import spark.implicits._
    val docs = Seq(
      // a 6-long loop buried in diverse text
      (1L, "src0", "alpha beta " + Seq.fill(6)("loop").mkString(" ") + " gamma delta"),
      // 10 scattered "the"s, never adjacent: multiset-heavy, run-free
      (2L, "src0", (1 to 10).map(i => s"the w$i").mkString(" ")),
      // no repeats at all
      (3L, "src1", "one two three four five"))
      .toDF("doc_id", "source", "text")
    val runs = graft.queries.RepetitionRuns.withMaxRun(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("max_run")).toMap
    assert(runs(1L) == 6L, s"loop run: ${runs(1L)}")
    assert(runs(2L) == 1L, "scattered repeats are NOT a run")
    assert(runs(3L) == 1L)
    val prof = graft.queries.RepetitionRuns.profile(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(prof("src0").getAs[Long]("docs_run5") == 1L)
    assert(prof("src0").getAs[Long]("longest_run") == 6L)
    assert(prof("src1").getAs[Long]("docs_run2") == 0L)
  }

  test("q85 finds exactly the planted 8-gram overlap") {
    import spark.implicits._
    val shared = (1 to 8).map(i => s"leak$i").mkString(" ")
    val docs = Seq(
      // bench doc (id % 7 == 0) carrying the planted 8-gram
      (7L, s"alpha beta $shared gamma delta epsilon zeta"),
      // corpus doc sharing it → the ONE expected hit
      (8L, s"unrelated prefix words here $shared and a tail"),
      // corpus doc with no overlap
      (9L, (1 to 20).map(i => s"clean$i").mkString(" ")),
      // corpus doc shorter than k → no shingles, never a hit
      (10L, "tiny doc under k words"))
      .toDF("doc_id", "text")
    val hits = Contamination.overlapReport(docs, mod = 7, k = 8).collect()
    assert(hits.length == 1, s"expected one contaminated doc, got ${hits.mkString(",")}")
    assert(hits(0).getAs[Long]("doc_id") == 8L)
    assert(hits(0).getAs[Long]("n_bench_docs") == 1L)
    // sliding the planted phrase through its own context yields exactly
    // one shared shingle (the phrase itself — neighbors differ)
    assert(hits(0).getAs[Long]("n_hit_shingles") == 1L)
  }

  test("q86 SCD2: one current row per key, no churn on identical updates") {
    val rows = run("q86_scd2_merge").collect()
    val byKey = rows.groupBy(_.getAs[Long]("c_custkey"))
    for ((k, rs) <- byKey) {
      assert(rs.count(_.getAs[String]("row_status") == "current") == 1,
        s"key $k must have exactly one current row")
      if (k % 10 == 5 && k < 1000000)
        assert(rs.length == 1 && rs(0).getAs[java.sql.Date]("valid_from").toString == "2024-01-01",
          s"identical update for $k must not churn the row")
      if (k % 10 == 0 && k < 1000000) {
        assert(rs.length == 2, s"changed key $k needs closed + current")
        val closed = rs.find(_.getAs[String]("row_status") == "closed").get
        assert(closed.getAs[java.sql.Date]("valid_to").toString == "2024-06-01")
      }
      if (k >= 1000000)
        assert(rs.length == 1 && rs(0).getAs[java.sql.Date]("valid_from").toString == "2024-06-01",
          s"insert key $k must appear once, valid from the batch date")
    }
  }

  test("q86 merge core handles crafted changed/unchanged/new batches") {
    import spark.implicits._
    val dim = Seq((1L, 10.0, "A"), (2L, 20.0, "B"), (3L, 30.0, "C"))
      .toDF("dk", "da", "ds")
    val upd = Seq((2L, 20.0, "B"), (3L, 99.0, "C"), (4L, 1.0, "D"))
      .toDF("uk", "ua", "us")
    val out = Scd2.merge(dim, upd).collect()
      .groupBy(_.getAs[Long]("c_custkey"))
    assert(out(1L).length == 1 && out(1L)(0).getAs[String]("row_status") == "current") // untouched
    assert(out(2L).length == 1) // identical update: no churn
    assert(out(3L).length == 2) // changed: closed + new version
    assert(out(3L).map(_.getAs[String]("row_status")).sorted.toSeq == Seq("closed", "current"))
    assert(out(3L).find(_.getAs[String]("row_status") == "current").get.getAs[Double]("c_acctbal") == 99.0)
    assert(out(4L).length == 1 && out(4L)(0).getAs[String]("row_status") == "current") // insert
  }

  test("q91 Bloom decontamination: no false negatives vs exact q85, FP within budget") {
    val exact = run("q85_contamination").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_hit_shingles")).toMap
    val bloom = run("q91_contamination_bloom").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_flagged_shingles")).toMap
    // Bloom guarantee: every exactly-contaminated doc is flagged, and
    // its flagged-shingle count can only be >= the exact hit count
    for ((d, n) <- exact) {
      assert(bloom.contains(d), s"doc $d contaminated exactly but not Bloom-flagged")
      assert(bloom(d) >= n, s"doc $d flagged ${bloom(d)} < exact $n shingles")
    }
    // FP budget: per-shingle FP ~1e-4 at 19.2 bits/element, k=13;
    // ~50 distinct shingles/doc => P(clean doc flagged) ~0.5%. Allow
    // a generous margin over the expectation on the 500-5000-doc SFs.
    val extra = bloom.keySet -- exact.keySet
    val corpusDocs = run("q84_quality_filters").count() // all docs incl. bench
    assert(extra.size <= math.max(5L, corpusDocs / 20),
      s"${extra.size} falsely flagged docs of $corpusDocs — FP far over budget")
    info(s"q91: ${exact.size} exact, ${bloom.size} flagged, ${extra.size} false positives")
  }

  test("q91 Bloom membership expression agrees with the driver-side bits") {
    import spark.implicits._
    import graft.operators.Bloom
    import graft.queries.Contamination
    // tiny hand-built filter over q91's ladder and Bloom build/probe:
    // insert 3 hashes, probe 6 (3 in, 3 out)
    val m = 640L
    val k = 5
    val in = Seq(11L, -42L, 1L << 60)
    val out = Seq(7L, -8L, 999999L)
    def keyed(hs: Seq[Long]) = hs.toDF("h").withColumn("graft_s", Contamination.h2(col("h")))
    val ladder = Contamination.probes(col("h"), col("graft_s"), m, k)
    val bits = Bloom.words(keyed(in), ladder, m)
    val r = keyed(in ++ out)
      .select(col("h"), Bloom.contains(bits, ladder).as("hit"))
      .collect().map(x => x.getLong(0) -> x.getBoolean(1)).toMap
    for (h <- in) assert(r(h), s"inserted hash $h not found (false negative)")
    // 640 bits for 3 elements: FP ~ (15/640)^5 ~ 1e-9 — misses mean a bug
    for (h <- out) assert(!r(h), s"non-inserted hash $h hit (collision at 3/640 load?)")
  }

  test("q93 contract counters actually count on broken fixtures") {
    import spark.implicits._
    import graft.queries.DataQuality
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // (quantity, price, discount, flag, shipdate): one clean row, then
    // one row per broken rule (discount -0.2 also flips net>gross)
    val rows = Seq(
      (10.0, 100.0, 0.05, "A", Option(ts)),  // clean
      (0.0, 100.0, 0.05, "A", Option(ts)),   // quantity_range
      (10.0, -5.0, 0.05, "N", Option(ts)),   // price_positive (and net>gross: a
                                             // negative gross makes net exceed it)
      (10.0, 100.0, -0.2, "R", Option(ts)),  // discount_range + net_not_above_gross
      (10.0, 100.0, 0.05, "X", Option(ts)),  // returnflag_domain
      (10.0, 100.0, 0.05, "A", None))        // shipdate_present
      .toDF("l_quantity", "l_extendedprice", "l_discount", "l_returnflag", "l_shipdate")
    val r = DataQuality.validate(rows, DataQuality.lineitemRules).collect()
      .map(x => x.getAs[String]("rule") ->
        (x.getAs[Long]("n_violations"), x.getAs[Long]("n_rows"))).toMap
    assert(r.values.forall(_._2 == 6L))
    assert(r("quantity_range")._1 == 1L)
    assert(r("price_positive")._1 == 1L)
    assert(r("discount_range")._1 == 1L)
    assert(r("returnflag_domain")._1 == 1L)
    assert(r("shipdate_present")._1 == 1L)
    // the discount -0.2 row AND the negative-gross row both net above gross
    assert(r("net_not_above_gross")._1 == 2L)
  }

  test("q93 evaluates every rule in ONE scan (single aggregate, no per-rule jobs)") {
    val scans = run("q93_data_quality").queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.size
    assert(scans == 1, s"expected one lineitem scan for all rules, found $scans")
  }

  test("q87 redactor on real-looking PII") {
    import spark.implicits._
    val docs = Seq(
      (1L, "reach bob99@mailhost.com or ref 12345678 thanks"),
      (2L, "no pii here just 123 words and 42 numbers"),
      (3L, "two mails a@b.io c1@d2.net and 99999999999"))
      .toDF("doc_id", "t2")
    val r = Pii.redactionReport(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Long]("n_emails") == 1L)
    assert(r(1L).getAs[Long]("n_longnums") == 1L)
    assert(r(2L).getAs[Long]("n_emails") == 0L)
    assert(r(2L).getAs[Long]("n_longnums") == 0L) // short numbers stay
    assert(r(3L).getAs[Long]("n_emails") == 2L)
    assert(r(3L).getAs[Long]("n_longnums") == 1L)
    val red = docs.select(col("doc_id"), Pii.redactText(col("t2")).as("t")).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("t")).toMap
    assert(red(1L) == "reach <EMAIL> or ref <NUM> thanks")
    assert(red(2L) == "no pii here just 123 words and 42 numbers")
    assert(red(3L) == "two mails <EMAIL> <EMAIL> and <NUM>")
  }
}
