package graft

/** Recall of the approximate ANN paths vs the exact q50 baseline.
  *
  * The testdata embeddings are uniform-random — the hostile case for
  * LSH/IVF (true neighbors sit at cos ≈ 0.35–0.5, where hyperplane
  * collision probability is low). Thresholds below are calibrated to
  * that regime; on clustered real-world embeddings both paths do far
  * better. The point of the spec is regression detection, not absolute
  * quality.
  */
class AnnSpec extends SparkSpec {

  private def topk(name: String): Map[Long, Seq[Long]] =
    run(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .groupBy(_._1).map { case (q, rows) =>
        q -> rows.sortBy(_._3).map(_._2).toSeq
      }

  private lazy val exact = topk("q50_ann_bruteforce")

  private def recallAt10(approx: Map[Long, Seq[Long]]): Double = {
    val per = exact.map { case (q, truth) =>
      val got = approx.getOrElse(q, Seq.empty).toSet
      truth.count(got).toDouble / truth.size
    }
    per.sum / per.size
  }

  test("q50 returns 10 neighbors per query, self excluded") {
    assert(exact.nonEmpty)
    for ((q, ns) <- exact) {
      assert(ns.size == 10, s"query $q has ${ns.size} neighbors")
      assert(!ns.contains(q), s"query $q returned itself")
    }
  }

  test("q51 LSH recall@10 vs exact >= 0.35 on uniform-random vectors") {
    val r = recallAt10(topk("q51_ann_lsh"))
    info(f"q51 recall@10 = $r%.3f")
    assert(r >= 0.35, f"q51 recall $r%.3f below floor")
  }

  test("q52 IVF recall@10 vs exact >= 0.35 on uniform-random vectors") {
    val r = recallAt10(topk("q52_centroid_ivf"))
    info(f"q52 recall@10 = $r%.3f")
    assert(r >= 0.35, f"q52 recall $r%.3f below floor")
  }

  private def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .groupBy(_._1).map { case (q, rows) => q -> rows.sortBy(_._3).map(_._2).toSeq }

  private def recallVs(exactMap: Map[Long, Seq[Long]],
      approx: Map[Long, Seq[Long]]): Double = {
    val per = exactMap.map { case (q, truth) =>
      val got = approx.getOrElse(q, Seq.empty).toSet
      truth.count(got).toDouble / truth.size
    }
    per.sum / per.size
  }

  private def cellSkew(e: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame): Double = {
    import org.apache.spark.sql.functions.col
    val sizes = graft.operators.Similarity
      .assignToCentroids(e, cents, "vec_id", "v", "cid", "cv")
      .groupBy(col("cell")).count().collect().map(_.getLong(1).toDouble)
    sizes.max / (sizes.sum / sizes.length)
  }

  test("q52 Lloyd training on uniform testdata: recall within noise, cells balanced") {
    import graft.operators.Similarity
    import graft.queries.{Ann => A}
    val e = A.vectors(tables)
    val seeds = A.ivfSeeds(e)
    val trained = Similarity
      .trainCentroids(e, seeds, "vec_id", "v", "cid", "cv", iters = 2).cache()
    val rUntrained = recallVs(exact, asMap(A.ivfTopK(e, seeds)))
    val rTrained = recallVs(exact, asMap(A.ivfTopK(e, trained)))
    info(f"IVF recall@10: untrained=$rUntrained%.3f trained=$rTrained%.3f")
    // uniform-random vectors have no cluster structure to learn, so
    // training can only match the seeds within sampling noise here —
    // the clustered fixture below shows the real effect
    assert(rTrained >= rUntrained - 0.05,
      f"training cost recall beyond noise: $rTrained%.3f vs $rUntrained%.3f")
    assert(rTrained >= 0.35, f"trained recall $rTrained%.3f below q52 floor")
    val sTrained = cellSkew(e, trained)
    info(f"trained cell max/mean = $sTrained%.2f")
    assert(sTrained <= 3.0, f"trained cell skew $sTrained%.2f above bound")
    trained.unpersist()
  }

  test("q52 Lloyd training fixes seed-blind clusters: skew collapses, recall holds") {
    import spark.implicits._
    import graft.operators.Similarity
    import graft.queries.{Ann => A}
    // 10 Gaussian clusters, but every modulo-25 seed position (which is
    // where ivfSeeds samples) is forced into clusters 0–2 — so clusters
    // 3–9 hold ~70% of the mass and get NO seed. This is the hot-cell
    // failure mode untrained IVF has on clustered real embeddings: the
    // unseeded mass piles into a few foreign cells.
    val rnd = new scala.util.Random(42)
    val dim = 16
    val centers = Array.fill(10, dim)(rnd.nextGaussian())
    val rows = (0L until 1000L).map { id =>
      val c = if (id % 25 == 0) (id / 25 % 3).toInt else (id % 10).toInt
      (id, Array.tabulate(dim)(d => centers(c)(d) + 0.2 * rnd.nextGaussian()))
    }
    val e = rows.toDF("vec_id", "v").cache()
    val seeds = A.ivfSeeds(e)
    val trained = Similarity
      .trainCentroids(e, seeds, "vec_id", "v", "cid", "cv", iters = 2).cache()
    val sUntrained = cellSkew(e, seeds)
    val sTrained = cellSkew(e, trained)
    info(f"cell max/mean: untrained=$sUntrained%.2f trained=$sTrained%.2f")
    assert(sTrained < sUntrained,
      f"training did not reduce hot-cell skew: $sTrained%.2f >= $sUntrained%.2f")
    val exactLocal = asMap(A.bruteTopK(e))
    val rUntrained = recallVs(exactLocal, asMap(A.ivfTopK(e, seeds)))
    val rTrained = recallVs(exactLocal, asMap(A.ivfTopK(e, trained)))
    info(f"clustered recall@10: untrained=$rUntrained%.3f trained=$rTrained%.3f")
    assert(rTrained >= rUntrained - 1e-9,
      f"trained recall $rTrained%.3f below untrained $rUntrained%.3f")
    // q52 trains on the deterministic quarter-sample: sampled Lloyd
    // must still collapse the seed-blind skew on the same fixture
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val trainedSampled = Similarity.trainCentroids(
      e.filter(pmod(col("vec_id"), lit(4)) === 0),
      seeds, "vec_id", "v", "cid", "cv", iters = 2).cache()
    val sSampled = cellSkew(e, trainedSampled)
    info(f"cell max/mean with quarter-sample training = $sSampled%.2f")
    assert(sSampled < sUntrained,
      f"sampled training did not reduce hot-cell skew: $sSampled%.2f >= $sUntrained%.2f")
    val rSampled = recallVs(exactLocal, asMap(A.ivfTopK(e, trainedSampled)))
    info(f"clustered recall@10 with sampled training = $rSampled%.3f")
    assert(rSampled >= rUntrained - 1e-9,
      f"sampled-trained recall $rSampled%.3f below untrained $rUntrained%.3f")
    e.unpersist(); trained.unpersist(); trainedSampled.unpersist()
  }

  test("q53 int8-quantized recall@10 vs exact >= 0.8 (quantization noise only)") {
    val r = recallAt10(topk("q53_ann_quantized"))
    info(f"q53 recall@10 = $r%.3f")
    assert(r >= 0.8, f"q53 recall $r%.3f below floor — int8 noise should cost little")
  }

  test("q54 two-stage re-rank recall@10 >= one-stage quantized recall") {
    val r53 = recallAt10(topk("q53_ann_quantized"))
    val r54 = recallAt10(topk("q54_ann_rerank"))
    info(f"q53 recall@10 = $r53%.3f, q54 recall@10 = $r54%.3f")
    assert(r54 >= r53 - 1e-9,
      f"re-rank recall $r54%.3f fell below the coarse pass $r53%.3f")
    assert(r54 >= 0.9, f"q54 recall $r54%.3f below floor")
  }

  test("q83 IVF+int8 coarse + exact re-rank: recall tracks the probed-cell ceiling (q52)") {
    // q83's candidate set is q52's probed cells, so q52 is its recall
    // ceiling; the int8 coarse top-30 inside the cells can only lose
    // ordering noise, which the exact re-rank mostly recovers (the q54
    // result). Uniform-random vectors are the hostile case — floors
    // are calibrated to that, like q51/q52's.
    val r52 = recallAt10(topk("q52_centroid_ivf"))
    val r83 = recallAt10(topk("q83_ann_ivf_rerank"))
    info(f"q52 recall@10 = $r52%.3f, q83 recall@10 = $r83%.3f")
    assert(r83 >= r52 - 0.05,
      f"q83 recall $r83%.3f fell more than 0.05 below its q52 ceiling $r52%.3f")
    assert(r83 >= 0.3, f"q83 recall $r83%.3f below floor")
  }

  test("q88 PQ-ADC coarse + exact re-rank recall@10 vs exact q50") {
    // 16 entries per 8-dim subspace on uniform-random vectors is the
    // hostile case for PQ (distortion is maximal when there is no
    // cluster structure to quantize onto) — recall comes from the
    // wide coarse-50 set + exact tail, and the floor is calibrated to
    // that, like q51/q52's.
    val r = recallAt10(topk("q88_ann_pq"))
    info(f"q88 recall@10 = $r%.3f")
    // measured 0.84 at sf0.001 with coarse-100 (0.62 at coarse-50)
    assert(r >= 0.7, f"q88 recall $r%.3f below floor")
  }

  test("q89 IVFADC recall tracks the probed-cell ceiling (q52)") {
    // q89's candidate set is q52's probed cells; inside them the ADC
    // scores pick coarse-100, which the exact tail re-orders — so q52
    // is the ceiling and the gap is PQ ordering noise the wide coarse
    // set mostly absorbs (the q88-vs-q50 result, applied per cell).
    val r52 = recallAt10(topk("q52_centroid_ivf"))
    val r89 = recallAt10(topk("q89_ann_ivfadc"))
    info(f"q52 recall@10 = $r52%.3f, q89 recall@10 = $r89%.3f")
    assert(r89 >= r52 - 0.05,
      f"q89 recall $r89%.3f fell more than 0.05 below its q52 ceiling $r52%.3f")
    assert(r89 >= 0.3, f"q89 recall $r89%.3f below floor")
  }

  test("PQ encode is exact on vectors that ARE codebook entries") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, exists}
    import graft.operators.ProductQuant
    val e = graft.queries.Ann.vectors(Tables(spark, sfDir))
    val cb = ProductQuant.trainCodebooks(e, "vec_id", "v", m = 8, k = 16, iters = 1)
    // a vector assembled from codebook entries (subspace mm takes
    // entry (mm*3+1) % 16) must encode to exactly those indices:
    // L2(sub, chosen entry) = 0, and ties can't beat a zero distance
    // unless another entry is identical (then lowest index wins —
    // assert the reconstruction matches instead of the raw index)
    val chosen = Array.tabulate(8)(mm => (mm * 3 + 1) % 16)
    val v = chosen.zipWithIndex.flatMap { case (j, mm) => cb(mm)(j) }
    val code = Seq(Tuple1(v.toSeq)).toDF("v")
      .select(ProductQuant.encode(col("v"), cb).as("code"))
      .head().getSeq[Int](0)
    for (mm <- 0 until 8)
      assert(cb(mm)(code(mm)).sameElements(cb(mm)(chosen(mm))),
        s"subspace $mm: code ${code(mm)} does not reconstruct entry ${chosen(mm)}")
    // and every corpus code is a valid index
    val bad = e.select(ProductQuant.encode(col("v"), cb).as("code"))
      .filter(exists(col("code"), c => c < 0 || c >= 16)).count()
    assert(bad == 0L, s"$bad corpus vectors encoded out of range")
  }

  test("every ANN rank path gets partial WindowGroupLimit") {
    for (name <- Seq("q50_ann_bruteforce", "q51_ann_lsh", "q52_centroid_ivf", "q53_ann_quantized",
        "q54_ann_rerank", "q83_ann_ivf_rerank", "q88_ann_pq", "q89_ann_ivfadc"))
      assert(planOf(run(name)).contains("WindowGroupLimit"),
        s"$name top-k lost WindowGroupLimit (partial top-k before the rank shuffle)")
  }

  // ---- shuffle-discipline assertions (SURVEY §5; VERDICT r2 #2–#4) ----

  import org.apache.spark.sql.types.ArrayType

  /** Exchanges keyed on LSH bucket columns must ship ids only — a full
    * vector through the banded exchange is the 100-TB scale killer.
    * Auto-broadcast is disabled so the sf0.001 plan takes the same
    * shuffle-join shape a 100-TB run would.
    */
  private def assertBucketExchangesIdOnly(name: String): Unit =
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val ex = shuffles(run(name))
      val banded = ex.filter(_.outputPartitioning.toString.contains("bucket"))
      assert(banded.nonEmpty, s"$name: no bucket-keyed exchange found (plan changed?)")
      for (s <- banded; a <- s.output)
        assert(!a.dataType.isInstanceOf[ArrayType],
          s"$name: banded exchange ships array column ${a.name} — " +
            s"vectors must join back after pair dedup, not ride the bucket shuffle")
    }

  test("q51: bucket-keyed exchanges ship ids only, never vectors") {
    assertBucketExchangesIdOnly("q51_ann_lsh")
  }

  test("q44: bucket-keyed exchanges ship ids only, never vectors") {
    assertBucketExchangesIdOnly("q44_dedup_embedding")
  }

  test("q51/q52/q54/q83/q88/q89: rank exchange ships (query_id, vec_id, cos) only") {
    for (name <- Seq("q51_ann_lsh", "q52_centroid_ivf", "q54_ann_rerank", "q83_ann_ivf_rerank",
        "q88_ann_pq", "q89_ann_ivfadc")) {
      val windowEx = shuffles(run(name))
        .filter(_.outputPartitioning.toString.contains("query_id"))
      for (s <- windowEx; a <- s.output)
        assert(!a.dataType.isInstanceOf[ArrayType],
          s"$name: rank exchange ships array column ${a.name}")
    }
  }

  test("q52: cell assignment is zero-shuffle native argmax (no window, no ×|centroids| exchange)") {
    val df = run("q52_centroid_ivf")
    val p = planOf(df)
    assert(p.contains("graft_nearest_centroid"),
      s"q52 no longer uses the native nearest-centroid expression:\n$p")
    // the only row_number window is rankTopK's; the assignment itself
    // must not plan a window (the r2 plan row_numbered the ×20 frame)
    val nWindows = physicalNodes(df).count(
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec])
    assert(nWindows <= 2, // rankTopK + probe-list TopK (both id-slim)
      s"q52 has $nWindows windows — assignment regressed to a window plan:\n$p")
  }
}
