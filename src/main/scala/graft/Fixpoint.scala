package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The round loop of graft's iterative operators (PageRank, label
  * propagation, k-core, distributed connected components): a state
  * frame is stepped round by round until the caller's change test sees
  * a round that moved nothing, or the round cap is reached.
  *
  * Every round's state is eagerly `localCheckpoint`ed. Without that,
  * round r's logical plan nests every earlier round's (each step
  * references its input several times), so plan size and recompute
  * grow like 4^rounds; checkpointed, every round plans over the
  * step's own leaf relations plus one RDD. On a cluster the same
  * shape holds with reliable checkpointing — local checkpoints trade
  * executor-loss tolerance for speed, and the states here are
  * node-sized, not fact-sized.
  *
  * Once the change test has read the superseded round, its checkpoint
  * blocks are freed. `Dataset.unpersist` cannot do that — a
  * checkpointed frame has no CacheManager entry — so the checkpointed
  * RDD under the frame's plan is unpersisted directly.
  */
object Fixpoint {

  /** (state, round number from 1) → next state. */
  type Step = (DataFrame, Int) => DataFrame

  /** (next, previous) → did any row change. */
  type Changed = (DataFrame, DataFrame) => Boolean

  /** Steps `init` until a round changes nothing. Returns the state and
    * the rounds run, counting the final round that verified no change.
    * Still changing after `maxRounds` rounds throws
    * IllegalStateException(`notConverged`): a capped state is never
    * returned as a fixpoint.
    */
  def converge(init: DataFrame, maxRounds: Int, notConverged: => String)(
      step: Step, changed: Changed): (DataFrame, Int) = {
    val (state, rounds, settled) = loop(init, maxRounds, step, changed, probeAtCap = true)
    if (!settled) throw new IllegalStateException(notConverged)
    (state, rounds)
  }

  /** Steps `init` for at most `rounds` rounds, stopping early once a
    * round changes nothing — exact when no later round could change
    * anything either, as for a monotone step like k-core peeling.
    * Returns the state at the cap without throwing; the cap round is
    * not probed.
    */
  def capped(init: DataFrame, rounds: Int)(step: Step, changed: Changed): DataFrame =
    loop(init, rounds, step, changed, probeAtCap = false)._1

  /** The shared change test for a state keyed on `key` whose key set
    * never changes: one inner join on `key` and a count of rows whose
    * `value` moved. No `limit(1)`: Spark names a limit's row counter
    * from a JVM-wide sequence, so every limit compiles a class whose
    * source is new on each run and never comes from the codegen cache.
    */
  def changedOn(key: String, value: String): Changed = (next, prev) =>
    next.join(prev.select(col(key), col(value).as("graft_prev")), Seq(key))
      .filter(col(value) =!= col("graft_prev"))
      .count() > 0

  private def loop(init: DataFrame, maxRounds: Int, step: Step, changed: Changed,
      probeAtCap: Boolean): (DataFrame, Int, Boolean) = {
    var state = init.localCheckpoint(true)
    var rounds = 0
    var settled = false
    while (!settled && rounds < maxRounds) {
      rounds += 1
      val next = step(state, rounds).localCheckpoint(true)
      settled = (probeAtCap || rounds < maxRounds) && !changed(next, state)
      release(state)
      state = next
    }
    (state, rounds, settled)
  }

  private def release(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
}
