package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** JVM side of the benchmark: runs one workload in one process and writes
  * its measurements, checks and spans as JSON for `perfbench/run.py`.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> [--tables <dir>] [--scale full|tiny] --out <file>` */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, tables: String,
                        tiny: Boolean, out: String)

  /** What one run measured and checked. */
  final class Outcome {
    val metrics = mutable.LinkedHashMap[String, Map[String, Any]]()
    val checks = mutable.ArrayBuffer[Map[String, Any]]()
    val errors = mutable.ArrayBuffer[String]()
    val detail = mutable.LinkedHashMap[String, Any]()
    var opsAttempted = 0L
    var opsFailed = 0L

    def metric(name: String, value: Double, unit: String): Unit =
      metrics(name) = Map("value" -> value, "unit" -> unit)

    def check(name: String, ok: Boolean, info: => String = ""): Unit =
      checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else info))

    /** Run one timed operation; an exception counts it as failed. */
    def op[T](what: String)(body: => T): Option[T] = {
      opsAttempted += 1
      try Some(body)
      catch {
        case NonFatal(e) =>
          opsFailed += 1
          errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    }
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"), m.getOrElse("tables", ""),
      m.getOrElse("scale", "full") == "tiny", m("out"))
  }

  val cpus: Int = Runtime.getRuntime.availableProcessors

  /** The session configuration `graft.Bench` runs queries under. */
  def newSession(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Drop every cached block between operations, as `graft.Bench` does. */
  def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** Fewest warm units a run measures, the first one included: that one
    * lets the JIT settle and is left out of every median. A traced run
    * needs two traced and two untraced units after it. */
  def minUnits(traced: Boolean): Int = if (traced) 5 else 4

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU seconds this JVM has used on all its threads, the JIT compiler and
    * GC threads included. Time the host steals from the VM is not charged
    * to the process. */
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  /** CPU nanoseconds of each live Java thread: the driver, the executor
    * tasks and Spark's own threads. The JVM's JIT compiler and GC threads
    * are not Java threads and are not listed. */
  private def threadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  /** Wall seconds, Java-thread CPU seconds and process CPU seconds of one
    * unit of work. The Java-thread figure leaves out JIT compilation, which
    * still settles for many units after the warm-up, and GC; a thread that
    * ends inside the unit is not counted. */
  final case class Timing(wall: Double, cpu: Double, processCpu: Double)

  def timed[T](body: => T): (T, Timing) = {
    val (t0, c0, p0) = (System.nanoTime(), threadCpu(), cpuSeconds)
    val r = body
    val (t1, p1) = (System.nanoTime(), cpuSeconds)
    val cpu = threadCpu().map { case (id, ns) => ns - c0.getOrElse(id, 0L) }.sum / 1e9
    (r, Timing((t1 - t0) / 1e9, cpu, p1 - p0))
  }

  /** Host-speed probe: fixed work, SHA-256 over 96 MiB of a buffer that
    * stays in cache, on one thread. Records its CPU seconds, which grow when
    * other tenants load the cores this JVM shares with them. No change to
    * the engine can move it. The buffer is allocated once, so the probe
    * leaves no garbage for the heap watch to see. */
  def speedProbe(): Unit = probes += shaSeconds()
  private val probes = mutable.ArrayBuffer[Double]()
  private def shaSeconds(): Double = {
    val c0 = threads.getCurrentThreadCpuTime
    val md = java.security.MessageDigest.getInstance("SHA-256")
    var i = 0
    while (i < 96) { md.update(probeBuffer); i += 1 }
    probeSink ^= md.digest()(0)
    (threads.getCurrentThreadCpuTime - c0) / 1e9
  }
  private lazy val probeBuffer = Array.tabulate[Byte](1 << 20)(_.toByte)
  @volatile private var probeSink = 0

  /** CPU seconds of one `speedProbe` at the reference host speed: about
    * its median on the 4-vCPU host the benchmark was tuned on. */
  val ProbeRefSeconds = 0.09

  /** Probes before the first measured unit, so the probe itself is compiled. */
  def warmProbe(): Unit = (0 until 5).foreach(_ => shaSeconds())

  /** Wall seconds since the JVM started. */
  def uptimeSeconds: Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Set-up ends here: `setup_cpu_s` is the process CPU seconds spent so
    * far, from JVM start through the warm-up unit, and `setup_wall_s` the
    * wall time. CPU seconds are the gate because the host's steal is not
    * charged to the process. */
  def setupDone(o: Outcome): Unit = {
    o.metric("setup_cpu_s", cpuSeconds, "s")
    o.metric("setup_wall_s", uptimeSeconds, "s")
  }

  /** After the warm units: `setup_s` and `warm_cpu_ref_s` are
    * `setup_cpu_s` and `warm_cpu_s` at the reference host speed, scaled by
    * the median of the run's speed probes, and `speed_probe_s` is that
    * median. The probes are taken between the warm units, once the probe is
    * compiled; the median is not thrown by one probe that a burst of JIT or
    * GC work right after a unit slowed down. */
  def scaleToRef(o: Outcome): Unit = {
    val probe = median(probes.toSeq)
    def atRef(name: String) = o.metrics(name)("value").asInstanceOf[Double] * ProbeRefSeconds / probe
    o.metric("setup_s", atRef("setup_cpu_s"), "s")
    o.metric("warm_cpu_ref_s", atRef("warm_cpu_s"), "s")
    o.metric("speed_probe_s", probe, "s")
    o.detail("speed_probes_s") = probes.toList
  }

  def toJson(v: AnyRef): String = Serialization.write(v)(DefaultFormats)

  def main(argv: Array[String]): Unit = {
    sys.props("log4j2.configurationFile") = "classpath:graft-bench-log4j2.properties"
    val a = parse(argv)
    val o = new Outcome
    o.detail("max_heap_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    o.detail("cpus") = cpus
    val spans = a.workload match {
      case "ingest" => IngestBench.run(a, o)
      case "query_mix" => QueryBench.run(a, o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.writeString(Paths.get(a.out), toJson(Map(
      "metrics" -> o.metrics.toMap, "checks" -> o.checks.toList, "errors" -> o.errors.toList,
      "ops_attempted" -> o.opsAttempted, "ops_failed" -> o.opsFailed,
      "detail" -> o.detail.toMap)))
    spans.foreach(t => Files.writeString(Paths.get(a.work, "spans.json"), t.toJson))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
