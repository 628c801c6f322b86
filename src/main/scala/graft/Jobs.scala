package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark jobs counted by phase. A job's phase is the value of the
  * local property [[Jobs.Phase]] on the thread that started it (set
  * with [[Jobs.inPhase]]; threads it spawns inherit it), so jobs of
  * other threads and other phases are never counted.
  *
  * The listener is registered on construction and removed by
  * `close`. Listener events arrive asynchronously but in order, so
  * [[drain]] runs one marker job under its own phase and waits until
  * its start is delivered: by then every earlier job's start has been
  * counted.
  */
final class JobCounter(sc: SparkContext) extends SparkListener with AutoCloseable {
  private val marker = s"graft-jobs-marker-${UUID.randomUUID()}"
  private val counts = mutable.Map.empty[String, Int]
  @volatile private var markerSeen = new CountDownLatch(1)
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Jobs.Phase))).foreach { phase =>
      if (phase == marker) markerSeen.countDown()
      else synchronized(counts(phase) = counts.getOrElse(phase, 0) + 1)
    }

  /** Jobs started per phase since the last drain (the marker job
    * excluded), then forgets them.
    */
  def drain(): Map[String, Int] = {
    markerSeen = new CountDownLatch(1)
    Jobs.inPhase(sc, marker)(sc.parallelize(Seq(1), 1).count())
    require(markerSeen.await(60, TimeUnit.SECONDS), "JobCounter: the marker job's start never arrived")
    synchronized { val out = counts.toMap; counts.clear(); out }
  }

  override def close(): Unit = sc.removeSparkListener(this)
}

object Jobs {

  /** The local property that names a job's phase. */
  val Phase = "graft.phase"

  /** Runs `f` with this thread's jobs in `phase`, then restores the
    * phase it had before.
    */
  def inPhase[T](sc: SparkContext, phase: String)(f: => T): T = {
    val prev = sc.getLocalProperty(Phase)
    sc.setLocalProperty(Phase, phase)
    try f finally sc.setLocalProperty(Phase, prev)
  }

  /** `f`'s value and the number of Spark jobs it started (phases set
    * inside `f` are not counted).
    */
  def counted[T](sc: SparkContext)(f: => T): (T, Int) = {
    val counter = new JobCounter(sc)
    try {
      val phase = s"graft-jobs-${UUID.randomUUID()}"
      val out = inPhase(sc, phase)(f)
      (out, counter.drain().getOrElse(phase, 0))
    } finally counter.close()
  }
}
