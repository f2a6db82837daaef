package pipebench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call of the program, with what Spark did inside it. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int) {
  var startNs = 0L
  var endNs = 0L
  var gcMs = 0L
  // filled in by the listener thread; read after a bus drain
  val counters = new ConcurrentHashMap[String, java.lang.Long]()
  def add(key: String, v: Long): Unit = if (v != 0) counters.merge(key, v, (a, b) => a + b)
  def get(key: String): Long = Option(counters.get(key)).map(_.longValue).getOrElse(0L)

  def json(t0Ns: Long): String = Json.obj(Seq(
    "id" -> id.toString, "name" -> Json.str(name), "parent" -> parent.toString, "op" -> op.toString,
    "start_s" -> ((startNs - t0Ns) / 1e9).toString, "end_s" -> ((endNs - t0Ns) / 1e9).toString,
    "gc_ms" -> gcMs.toString) ++
    counters.asScala.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })
}

/** Span recorder plus the SparkListener that attributes jobs, tasks and bytes
  * to the innermost open span.
  *
  * Attribution rides on a job-submission local property: Spark copies the
  * submitting thread's local properties into every job, including jobs that
  * SQL execution starts from its broadcast and subquery threads, so a job is
  * charged to the span that was open when it was submitted, however late its
  * events arrive. Spark's parallel file listing (a job whose description
  * starts with "Listing leaf files") is counted under `listing_*` so the
  * catalog layer can be read apart from the stage that triggered it.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Key = "pipebench.span"
  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, (Span, Boolean)]()
  private val jobSpan = new ConcurrentHashMap[Int, (Span, Boolean, Long)]()

  private var attached = false

  /** The listener is registered only in traced runs, so untraced runs pay
    * nothing for it. */
  def attach(): Unit = if (!attached) { sc.addSparkListener(this); attached = true }
  def detach(): Unit = if (attached) { settle(); sc.removeSparkListener(this); attached = false }

  def span[T](name: String, op: Int)(body: => T): T = {
    val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1), op)
    spans += s
    byId.put(s.id, s)
    open = s :: open
    sc.setLocalProperty(Key, s.id.toString)
    val gc0 = Tracer.gcMs()
    s.startNs = System.nanoTime()
    try body
    finally {
      s.endNs = System.nanoTime()
      s.gcMs = Tracer.gcMs() - gc0
      open = open.tail
      sc.setLocalProperty(Key, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Blocks until the listener has seen every event submitted so far. */
  def settle(): Unit = org.apache.spark.pipebench.Drain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .flatMap(id => Option(byId.get(id.toInt))).foreach { s =>
        val listing = Option(e.properties.getProperty("spark.job.description"))
          .exists(_.startsWith("Listing leaf files"))
        jobSpan.put(e.jobId, (s, listing, e.time))
        e.stageIds.foreach(st => stageSpan.put(st, (s, listing)))
        s.add(if (listing) "listing_jobs" else "jobs", 1)
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (s, listing, t0) =>
      if (listing) s.add("listing_ms", e.time - t0)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { case (s, listing) =>
      s.add(if (listing) "listing_tasks" else "tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        s.add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
        s.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        s.add("rows_out", m.outputMetrics.recordsWritten)
      }
    }
}

object Tracer {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}
