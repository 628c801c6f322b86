package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom filter build and probe over a caller's position ladder: each
  * key sets (build) or tests (probe) the bits at its `probes`, k
  * columns of positions in [0, m). The ladder and the sizing of m stay
  * with the query (q91 double-hashes xxhash64 values, q258 md5 words),
  * since they fix the false-positive rate; only the bit layout lives
  * here, so build and probe cannot disagree on it.
  */
object Bloom {

  /** The m-bit filter's 64-bit words with every position some row of
    * `keys` yields set. The distinct positions are computed
    * distributed and only they come back to the driver, so driver
    * state is bounded by the build side (~n·k longs), not the probe
    * side.
    */
  def words(keys: DataFrame, probes: Seq[Column], m: Long): Array[Long] = {
    val setPos = keys.select(explode(array(probes: _*)).as("p"))
      .distinct().collect().map(_.getLong(0))
    val words = new Array[Long](((m + 63) / 64).toInt)
    setPos.foreach(p => words((p >>> 6).toInt) |= 1L << (p & 63))
    words
  }

  /** Membership test as a codegen'd column expression over the words
    * as a plan literal: true when all k probed bits are set. No join,
    * no shuffle, no UDF; no false negatives against [[words]] built
    * from the same ladder.
    */
  def contains(words: Array[Long], probes: Seq[Column]): Column = {
    val wordsLit = typedlit(words.toSeq)
    probes.map { p =>
      call_function("shiftright",
        element_at(wordsLit, shiftright(p, 6).cast("int") + 1),
        (p % 64).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }
}
