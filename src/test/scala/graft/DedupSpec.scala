package graft

import org.apache.spark.sql.functions._
import graft.functions.vec
import graft.operators.{Dedup => D}

/** Recall/containment checks for the approximate dedup surfaces
  * (q41/q42/q44) against exact ground truth computed in-spec.
  */
class DedupSpec extends SparkSpec {

  /** Exact jaccard ≥ 0.8 ground-truth pairs — q43 is oracle-checked
    * against DuckDB brute force, so it serves as truth here.
    */
  private lazy val truePairs: Set[(Long, Long)] =
    run("q43_dedup_ngram_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("ground truth sanity: planted near-dup pairs exist") {
    assert(truePairs.size >= 10, s"expected planted pairs, got ${truePairs.size}")
  }

  test("q41 MinHash LSH recovers every jaccard>=0.8 pair") {
    val got = run("q41_dedup_minhash").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = truePairs -- got
    assert(missed.isEmpty, s"LSH missed planted pairs: $missed")
  }

  test("q42 SimHash recall >= 0.8 on jaccard>=0.8 pairs (coarser than MinHash)") {
    // SimHash hashes the token *set*; a 0.98-char-jaccard pair that
    // differs in a few tokens can exceed hamming 6, so unlike MinHash
    // (which is exact-recall at this threshold) the bound is recall.
    val got = run("q42_dedup_simhash").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truePairs.count(got).toDouble / truePairs.size
    info(f"q42 recall = $recall%.3f")
    assert(recall >= 0.8, s"SimHash recall $recall below 0.8")
  }

  test("TextMinHash (fused, byte n-grams) equals MinHash over materialized shingle sets") {
    // guards the fused optimization: hashing n-grams in place from the
    // string bytes must produce the same signature as the reference
    // two-step form (distinct shingle array -> MinHashSignature)
    import org.apache.spark.sql.functions.col
    val docs = tables.documents.limit(50)
    val fused = graft.operators.Dedup.withMinHashFromText(docs, "text", 5, 32)
      .select(col("doc_id"), col("minhash")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val twoStep = graft.operators.Dedup.withMinHash(
      graft.operators.Dedup.withShingles(docs, "text", 5), 32)
      .select(col("doc_id"), col("minhash")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fused == twoStep)
  }

  test("jaccardVerify (shingle arrays) equals textJaccardVerify (in-place sets)") {
    import org.apache.spark.sql.functions.col
    val docs = tables.documents.limit(60)
    val pairs = docs.select(col("doc_id").as("doc_a"))
      .crossJoin(docs.select(col("doc_id").as("doc_b")))
      .filter(col("doc_a") < col("doc_b") && col("doc_b") - col("doc_a") <= 3)
    val viaArrays = graft.operators.Dedup.jaccardVerify(
      pairs, graft.operators.Dedup.withShingles(docs, "text", 5), "doc_id")
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val viaText = graft.operators.Dedup.textJaccardVerify(pairs, docs, "doc_id", "text", 5)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(viaArrays.nonEmpty && viaArrays == viaText)
  }

  test("Components.label matches a sequential union-find on the q43 pair graph") {
    import graft.operators.Components
    val pairs = run("q43_dedup_ngram_jaccard").select("doc_a", "doc_b")
    val collected = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    // sequential ground truth: path-compressed union-find, min-id root
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    collected.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val expected = collected.flatMap { case (a, b) => Seq(a, b) }.distinct
      .map(x => x -> find(x)).toMap
    // distributed loop (forced) and the driver fast path must both
    // match the sequential ground truth
    val distributed = Components.labelWithStats(pairs, "doc_a", "doc_b",
      localMaxEdges = 0L)._1.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed == expected)
    val local = Components.label(pairs, "doc_a", "doc_b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == expected)
    spark.catalog.clearCache()
  }

  test("dropNearDups keeps exactly one survivor per component plus all isolated docs") {
    import graft.operators.Components
    val docs = tables.documents
    val pairs = D.nearDupPairs(docs, "doc_id", "text")
    val members = pairs.select(col("doc_a").as("id"))
      .union(pairs.select(col("doc_b").as("id"))).distinct()
      .collect().map(_.getLong(0)).toSet
    val components = Components.label(pairs, "doc_a", "doc_b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kept = D.dropNearDups(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    // isolated docs all survive
    assert((all -- members).subsetOf(kept))
    // exactly the component minima survive among members
    val minima = components.values.toSet
    assert((kept & members) == minima)
    // and the corpus actually shrank
    assert(kept.size == all.size - members.size + minima.size)
    assert(members.size > minima.size, "fixture has no multi-member components")
    spark.catalog.clearCache()
  }

  test("q44 embedding LSH recall >= 0.7 vs brute-force cosine pairs") {
    val e = tables.embeddings
      .select(col("vec_id"), vec.toDoubleArr(col("embedding")).as("v"))
    val a = e.select(col("vec_id").as("ia"), col("v").as("va"))
    val b = e.select(col("vec_id").as("ib"), col("v").as("vb"))
    val exact = a.crossJoin(b).filter(col("ia") < col("ib"))
      .withColumn("cos", vec.cosim(col("va"), col("vb")))
      .filter(col("cos") >= 0.4)
      .select("ia", "ib").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = run("q44_dedup_embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(exact), "q44 produced a pair below the cosine threshold")
    val recall = got.size.toDouble / exact.size
    assert(recall >= 0.7, s"q44 recall $recall < 0.7 (${got.size}/${exact.size})")
  }

  // ---- structural pins (VERDICT r7 #1): the signature table is
  // corpus-sized (~520 B/doc), so the join-back after candidate
  // generation must be a PLAIN equi-join — a forced broadcast() would
  // ship the whole corpus's signatures to every executor (~500 GB at
  // 1 B docs). With auto-broadcast disabled, any BroadcastExchange in
  // the plan can only come from an explicit hint.

  test("q41: no forced broadcast — signature join-back stays a plain join under disabled auto-broadcast") {
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val b = broadcasts(run("q41_dedup_minhash"))
      assert(b.isEmpty,
        s"q41 plan forces ${b.size} broadcast exchange(s) — the corpus-sized " +
          s"signature table must join back via plain equi-joins (AQE decides):\n" +
          b.map(_.simpleStringWithNodeId()).mkString("\n"))
    }
  }

  test("q41: banded exchange ships (band, hash, id) only — signatures never ride the bucket shuffle") {
    import org.apache.spark.sql.types.ArrayType
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val banded = shuffles(run("q41_dedup_minhash"))
        .filter(_.outputPartitioning.toString.contains("band"))
      assert(banded.nonEmpty, "q41: no band-keyed exchange found (plan changed?)")
      for (s <- banded; a <- s.output)
        assert(!a.dataType.isInstanceOf[ArrayType],
          s"q41: banded exchange ships array column ${a.name} — " +
            "signatures must join back after pair dedup, not ride the band shuffle")
    }
  }

  test("q112 incrementalReport: dispositions on crafted base/delta near-dups") {
    import spark.implicits._
    val baseText = ("the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep green forest before nightfall comes ") * 2
    val deltaText = baseText.replace("lazy dog", "lazy cat") // near-dup of base
    val batchText = ("completely different content about distributed query " +
      "engines shuffling partitioned columnar data across executors daily ") * 2
    val batchText2 = batchText.replace("daily", "today") // near-dup within delta
    val uniqueText = ("nothing in this corpus resembles this isolated text " +
      "about underwater basket weaving championships held on mountaintops ") * 2
    // delta = id % 5 == 0; base = everything else
    val docs = Seq(
      (1L, baseText),        // base original
      (2L, "short unrelated base doc about gardens and stone paths in autumn"),
      (5L, deltaText),       // delta: dup of base 1
      (10L, batchText),      // delta: dup of 15 (delta) only
      (15L, batchText2),     // delta: dup of 10 (delta) only
      (20L, uniqueText))     // delta: new
      .toDF("doc_id", "text")
    val r = D.incrementalReport(docs, "doc_id", "text",
      deltaCol = pmod(col("doc_id"), lit(5)) === 0).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r.keySet == Set(5L, 10L, 15L, 20L), "output is delta-grain only")
    assert(r(5L).getAs[String]("verdict") == "dup_of_base")
    assert(r(5L).getAs[Long]("n_base_dups") == 1L)
    assert(r(10L).getAs[String]("verdict") == "dup_within_delta")
    assert(r(10L).getAs[Long]("n_base_dups") == 0L)
    assert(r(10L).getAs[Long]("n_delta_dups") == 1L)
    assert(r(15L).getAs[String]("verdict") == "dup_within_delta")
    assert(r(20L).getAs[String]("verdict") == "new")
    assert(r(20L).getAs[Long]("n_base_dups") == 0L &&
      r(20L).getAs[Long]("n_delta_dups") == 0L)
    spark.catalog.clearCache()
  }

  test("q112 candidate generation is delta-keyed: base docs never join base docs") {
    // the incremental plan's banded join keys one side on the DELTA
    // bands only — verified behaviorally: two base docs that are exact
    // duplicates of each other must produce NO output row (base×base
    // pairs are out of scope) while the delta side still resolves
    import spark.implicits._
    val dupText = ("identical base payload repeated across two base rows " +
      "that a full self-join would pair up immediately every time ") * 2
    val docs = Seq(
      (1L, dupText), (2L, dupText), // base×base exact dup — must NOT surface
      (5L, "a delta doc with nothing else like it anywhere in this batch"))
      .toDF("doc_id", "text")
    val r = D.incrementalReport(docs, "doc_id", "text",
      deltaCol = pmod(col("doc_id"), lit(5)) === 0).collect()
    assert(r.map(_.getAs[Long]("doc_id")).toSet == Set(5L))
    assert(r(0).getAs[String]("verdict") == "new",
      "base-base duplication must not leak into the delta report")
    spark.catalog.clearCache()
  }
}
