package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The measurement core shared by [[Bench]] and [[graft.tools.Time]].
  *
  * `time` runs one execution and reads:
  *   - sec:     its wall time;
  *   - jobs:    Spark jobs it launched (counting listener, bus-drained at
  *     both edges via BusDrain so async events can't bleed across runs). An
  *     inflated wall with UNCHANGED job count is contention/GC, not a plan
  *     change;
  *   - gcMs:    collector-bean time delta (local[*] = one JVM, so this
  *     covers "executor" GC too);
  *   - heapMb:  live heap after the post-run release + forced GC — the
  *     standing-footprint ramp that marks block-manager pressure;
  *   - rdds:    persistent RDDs left registered AFTER the run (residual
  *     localCheckpoint blocks the query did not release itself).
  *
  * DETERMINISTIC BLOCK RELEASE: after each execution every leftover
  * persistent RDD is unpersisted and the cache cleared, then a GC runs
  * outside the timed section. The ContextCleaner only reclaims finished
  * queries' broadcasts/shuffles after a GC; without one, later queries
  * measure the whole run's memory pressure (the q217 driver-bench
  * pathology). Safe by construction: runs are strictly sequential and every
  * execution rebuilds its DataFrame from scratch, so no cross-execution
  * state is ever live.
  */
final class Measure(spark: SparkSession) {
  import Measure.Reading

  private val sc = spark.sparkContext
  private val jobCount = new AtomicLong(0)
  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobCount.incrementAndGet(); ()
    }
  })

  private def drainedJobs(): Long = { BusDrain.drain(sc); jobCount.get() }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def usedHeapMb(): Long = {
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
  }

  /** Times one execution of `body`, then releases what it left behind. */
  def time(body: => Unit): Reading = {
    val jobs0 = drainedJobs(); val gc0 = gcMs()
    val t0 = System.nanoTime()
    body
    val sec = (System.nanoTime() - t0) / 1e9
    val jobs1 = drainedJobs(); val gc1 = gcMs()
    val rdds = sc.getPersistentRDDs.size
    Measure.releaseResiduals(spark)
    System.gc()
    Reading(sec, jobs1 - jobs0, gc1 - gc0, usedHeapMb(), rdds)
  }

  /** One warm-up execution, then `reps` timed ones. The warm-up pays the
    * one-off JVM costs — janino codegen, JIT of the generated classes,
    * parquet footer caches — that a long-lived engine pays once per query
    * shape, not per run. Returns the warm-up's wall seconds and the timed
    * readings. */
  def warmThenTime(reps: Int)(body: => Unit): (Double, Seq[Reading]) = {
    val cold = time(body).sec
    (cold, Seq.fill(reps)(time(body)))
  }
}

object Measure {
  final case class Reading(sec: Double, jobs: Long, gcMs: Long, heapMb: Long, rdds: Int)

  /** Unpersists every persistent RDD and clears the cache: the residual
    * checkpoint blocks a finished execution left behind would otherwise
    * pool up until a GC happens to trigger the ContextCleaner. */
  def releaseResiduals(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }
}
