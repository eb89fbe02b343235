package graft.perfbench

import java.lang.management.ManagementFactory
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed span around a call into the engine. `parent` is -1 for a root
  * span; every span of one run carries the same `run` id. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, startMs: Long) {
  var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: jobs, stages, task totals. */
final class Counters {
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputRecords = 0L
  var outputBytes = 0L
  val jobs = mutable.Map[Int, (Long, Long)]() // jobId -> (start ms, end ms)

  def add(o: Counters): Unit = {
    stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    inputBytes += o.inputBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; outputRecords += o.outputRecords
    outputBytes += o.outputBytes; jobs ++= o.jobs
  }
}

/** Spans kept in memory plus a SparkListener that charges every job, stage
  * and task to the span open on the submitting thread when the job was
  * submitted. The span id travels as a Spark local property, so attribution
  * does not depend on when the asynchronous listener bus delivers events. */
final class Tracer(sc: SparkContext, run: String) extends SparkListener {
  private val Key = "perfbench.span"
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private val counters = mutable.Map[Int, Counters]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val jobSpan = mutable.Map[Int, Int]()

  sc.addSparkListener(this)

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), run,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    open = s :: open
    sc.setLocalProperty(Key, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Key, open.headOption.map(_.id.toString).orNull)
    }
  }

  private def of(id: Int): Counters = counters.getOrElseUpdate(id, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { v =>
      val id = v.toInt
      jobSpan(e.jobId) = id
      e.stageIds.foreach(stageSpan(_) = id)
      of(id).jobs(e.jobId) = (e.time, Long.MaxValue)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.get(e.jobId).foreach { id =>
      val c = of(id)
      c.jobs.get(e.jobId).foreach { case (s, _) => c.jobs(e.jobId) = (s, e.time) }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = of(id)
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.outputRecords += m.outputMetrics.recordsWritten
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  private def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Counters of `s` and every span below it. */
  def totals(s: Span): Counters = synchronized {
    val t = new Counters
    subtree(s).foreach(x => counters.get(x.id).foreach(t.add))
    t
  }

  /** Seconds of `s` during which no Spark job of its subtree was running. */
  def driverSeconds(s: Span): Double = {
    val endMs = s.startMs + (s.endNs - s.startNs) / 1000000L
    val clipped = totals(s).jobs.values.toSeq
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = s.startMs
    clipped.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    math.max(0.0, s.seconds - covered / 1000.0)
  }

  /** Self time: the span's duration minus the part its children cover. */
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum

  def toJson: String = Main.toJson(spans.toList.map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
}

/** Highest heap occupancy seen right after any GC while armed. */
object HeapWatch {
  @volatile private var armed = false
  @volatile private var peak = 0L

  private lazy val installed: Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case emitter: NotificationEmitter =>
        emitter.addNotificationListener((n, _) => {
          if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { if (used > peak) peak = used }
          }
        }, null, null)
      case _ => ()
    }
  }

  def arm(): Unit = { installed; armed = true }
  def disarm(): Unit = armed = false
  def peakMb: Double = peak / 1048576.0

  /** Heap in use right after a full collection. */
  def liveMb(): Double = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }
}
