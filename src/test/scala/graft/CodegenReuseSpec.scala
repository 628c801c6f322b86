package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark compiles every whole-stage span, projection and ordering of a
  * plan into a Java class, cached by its source text. Once a query has
  * run, running it again on the same input must compile no new class:
  * its generated source is the same, and the cache
  * (GraftSession.CodegenCacheEntries) still holds it. The ten queries
  * the benchmark times need more classes together than Spark's default
  * cache of 100 holds, so an undersized cache fails here, and so does
  * a query whose generated source changes from run to run.
  */
class CodegenReuseSpec extends SparkSpec {

  private val timed = Seq(
    "q59_cohort_performance", "q39_churn_composition", "q38_corpus_pipeline",
    "q41_dedup_minhash", "q111_video_dedup", "q254_committed_compaction",
    "q118_pagerank", "q179_kcore_peel", "q214_label_propagation", "q274_hits")

  /** Classes compiled while `name` runs, every column materialized. */
  private def compiles(name: String): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run(name).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  // every query runs once before the first second run, so the cache
  // must hold all ten queries' classes at once
  override def beforeAll(): Unit = {
    super.beforeAll()
    timed.foreach(compiles)
  }

  timed.foreach { n =>
    test(s"$n: a second run compiles no new class") {
      assert(compiles(n) === 0L)
    }
  }

  // q110 once counted rates and gains with two countDistincts, whose
  // Expand projection order follows the hashes of attribute ids, which
  // are new on every run: whether a run recompiled depended on the ids
  // it drew, so the runs here start from shifted ids
  test("q110_audio_dedup: runs from shifted expression ids compile no new class") {
    import org.apache.spark.sql.catalyst.expressions.NamedExpression
    compiles("q110_audio_dedup")
    val again = (1 to 12).map { shift =>
      (1 to shift).foreach(_ => NamedExpression.newExprId)
      compiles("q110_audio_dedup")
    }
    assert(again === Seq.fill(12)(0L))
  }
}
