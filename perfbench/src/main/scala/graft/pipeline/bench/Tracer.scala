package graft.pipeline.bench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-span totals: wall time, executor task time, driver time (span
  * wall not covered by a running job), job count, shuffle bytes
  * written and the longest single task.
  */
final case class SpanStats(name: String, calls: Int, wallS: Double,
    taskS: Double, driverS: Double, jobs: Int, shuffleWriteMb: Double,
    taskMaxS: Double)

/** Records named spans around calls into the engine and attributes
  * Spark jobs, tasks and shuffle bytes to them through a
  * [[SparkListener]]: a span sets a local property that every job it
  * submits carries, so attribution does not depend on timing.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private final case class Job(span: String, start: Long, var end: Long)
  private final class Tasks(var ms: Long = 0L, var maxMs: Long = 0L,
      var shuffleBytes: Long = 0L)
  private final case class Call(name: String, startMs: Long, endMs: Long,
      wallNs: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val tasks = mutable.HashMap.empty[Int, Tasks]
  private val calls = mutable.ArrayBuffer.empty[Call]
  private val counts = mutable.LinkedHashMap.empty[String, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).map(_.getProperty(SpanKey)).orNull
    jobs(e.jobId) = Job(span, e.time, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      val t = tasks.getOrElseUpdate(j, new Tasks())
      val d = e.taskInfo.duration
      t.ms += d
      t.maxMs = math.max(t.maxMs, d)
      if (e.taskMetrics != null)
        t.shuffleBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Runs `body` as one call of span `name`. */
  def span[T](name: String)(body: => T): T = {
    sc.setLocalProperty(SpanKey, name)
    sc.setJobDescription(name)
    val ms0 = System.currentTimeMillis()
    val ns0 = System.nanoTime()
    try body
    finally {
      val ns1 = System.nanoTime()
      val ms1 = System.currentTimeMillis()
      sc.setLocalProperty(SpanKey, null)
      sc.setJobDescription(null)
      synchronized { calls += Call(name, ms0, ms1, ns1 - ns0) }
    }
  }

  /** Records a count taken at a layer boundary (the last value wins). */
  def count(name: String, value: Long): Unit = synchronized { counts(name) = value }

  def countOf(name: String): Long = synchronized { counts.getOrElse(name, 0L) }

  /** Per-span totals, after every queued listener event is delivered. */
  def stats(): Seq[SpanStats] = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized {
      calls.map(_.name).distinct.toSeq.map { name =>
        val cs = calls.filter(_.name == name)
        val js = jobs.filter(_._2.span == name)
        val ts = js.keys.flatMap(tasks.get)
        val wall = cs.map(_.wallNs).sum / 1e9
        // job intervals merged, then clipped to this span's calls
        val ivs = js.values.map(j => (j.start, j.end)).toSeq.sortBy(_._1)
        val merged = ivs.foldLeft(List.empty[(Long, Long)]) {
          case ((s0, e0) :: rest, (s, e)) if s <= e0 =>
            (s0, math.max(e0, e)) :: rest
          case (acc, iv) => iv :: acc
        }
        val busyMs = cs.map { c =>
          merged.map { case (s, e) =>
            math.max(0L, math.min(e, c.endMs) - math.max(s, c.startMs))
          }.sum
        }.sum
        SpanStats(name, cs.size, wall, ts.map(_.ms).sum / 1e3,
          math.max(0.0, wall - busyMs / 1e3), js.size,
          ts.map(_.shuffleBytes).sum / 1e6,
          if (ts.isEmpty) 0.0 else ts.map(_.maxMs).max / 1e3)
      }
    }
  }

  /** Seconds of traced wall time covered by no span call. */
  def unattributedS(totalWallS: Double): Double =
    synchronized { totalWallS - calls.map(_.wallNs).sum / 1e9 }

  /** One row per job, for the trace file. */
  def jobRows(): Seq[(Int, String, Long, Long, Double, Double)] =
    synchronized {
      jobs.toSeq.map { case (id, j) =>
        val t = tasks.get(id)
        (id, Option(j.span).getOrElse(""), j.start, j.end,
          t.map(_.ms / 1e3).getOrElse(0.0),
          t.map(_.shuffleBytes / 1e6).getOrElse(0.0))
      }
    }
}

object Tracer {
  val SpanKey = "graft.bench.span"

  def install(sc: SparkContext): Tracer = {
    val t = new Tracer(sc)
    sc.addSparkListener(t)
    t
  }

  def remove(sc: SparkContext, t: Tracer): Unit = sc.removeSparkListener(t)
}

/** Peak heap in use right after a collection, from the JVM's GC
  * notifications: the live-data high-water mark, blind to garbage.
  */
object HeapPeak {
  @volatile private var peak = 0L
  @volatile private var events = 0L
  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener: NotificationListener = (n, _) =>
    if (n.getType ==
        GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, mu) if heapPools(pool) => mu.getUsed
      }.sum
      HeapPeak.synchronized { if (used > peak) peak = used; events += 1 }
    }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }

  def reset(): Unit = synchronized { peak = 0L }

  /** A full collection, waiting (up to 1 s) for its notification. */
  def gc(): Unit = {
    val before = events
    System.gc()
    val deadline = System.nanoTime() + 1000000000L
    while (events == before && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def peakMb: Double = synchronized { peak / 1e6 }
}
