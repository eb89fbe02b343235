package graft.perfbench

import java.net.InetSocketAddress
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.functions.Lcc
import graft.operators.{Fetch, Ingest, Manifest, Materialize}
import graft.sources.{GeoTiff, NetCdf, NetCdf4}

/** The reference ingest cycle, repeated into one output directory: for each
  * of two collections, fetch every parameter's cube over loopback HTTP,
  * decode, reproject/filter, dynamic-overwrite the partitioned sink and
  * collect the `forecasts.json` manifest; on the regular-grid collection,
  * also write the COG bands. The two collections differ in the layers they
  * load: `dkss` is a classic NetCDF cube on a lon/lat grid with land fill,
  * so per-cell decode, staging and band encoding dominate; `harmonie` is a
  * chunked NetCDF-4 cube on a native LCC grid, so inflate, the inverse
  * projection, the bbox cut and a sink of many small partitions dominate. */
object IngestBench {

  /** One collection's input shape. `gone` serves bytes in the first cycle
    * only and answers HTTP 404 afterwards. */
  final case class Shape(tag: String, collection: String, classic: Boolean, params: Seq[String],
                         gone: String, steps: Int, ny: Int, nx: Int,
                         land: Boolean, bands: Boolean)

  private val HarmonieParams = Seq(
    "temperature-2m", "wind-speed", "wind-dir", "relative-humidity-2m",
    "pressure-sea-level", "total-precipitation")

  def shapes(tiny: Boolean): Seq[Shape] = Seq(
    Shape("dkss", "dkss_if", classic = true,
      Seq("sea-mean-deviation", "current-u", "current-v"), "salinity",
      steps = if (tiny) 4 else 6, ny = if (tiny) 10 else 48, nx = if (tiny) 10 else 48,
      land = true, bands = true),
    Shape("harmonie", "harmonie_dini_sf", classic = false,
      if (tiny) HarmonieParams.take(2) else HarmonieParams, "lightning",
      steps = if (tiny) 3 else 6, ny = if (tiny) 8 else 28, nx = if (tiny) 8 else 28,
      land = false, bands = false))

  private val Fill = 9.96921e36f
  private val TimeUnits = "hours since 2024-01-01 00:00:00"
  private val Epoch = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
  private val KeyFormat = java.time.format.DateTimeFormatter.ofPattern(Manifest.TimeKeyFormat)

  /** Seeded inputs: grid, per-parameter values (NaN = fill) and their
    * encoded bytes, plus what the sink must end up holding. */
  final class Fixture(val s: Shape, seed: Long) {
    val hours: Array[Double] = Array.tabulate(s.steps)(_.toDouble)
    val timeKeys: Seq[String] = hours.toSeq.map(h => Epoch.plusHours(h.toLong).format(KeyFormat))
    private val cells = s.ny * s.nx

    // regular lon/lat grid, or a native 2.5 km LCC grid over Zealand
    val (xs, ys) =
      if (s.classic) (Array.tabulate(s.nx)(8.0 + 0.05 * _), Array.tabulate(s.ny)(54.0 + 0.05 * _))
      else {
        val (x0, y0) = Lcc.forward(55.7, 12.0)
        (Array.tabulate(s.nx)(i => x0 + (i - s.nx / 2) * 2500.0),
          Array.tabulate(s.ny)(j => y0 + (j - s.ny / 2) * 2500.0))
      }
    private val geo: Array[(Double, Double)] = Array.tabulate(cells) { c =>
      val (x, y) = (xs(c % s.nx), ys(c / s.nx))
      if (s.classic) (x, y) else Lcc.inverse(x, y)
    }

    /** Bounding box: the whole regular grid; about 60 % of the LCC grid. */
    val bbox: (Double, Double, Double, Double) =
      if (s.classic) (xs.head - 0.5, ys.head - 0.5, xs.last + 0.5, ys.last + 0.5)
      else {
        // cut between two cells that are clearly apart, so no cell sits on
        // the edge where the engine's and this file's rounding could differ
        def cut(v: Array[Double]): Double = {
          val sorted = v.sorted
          var k = (sorted.size * 0.775).toInt
          while (sorted(k + 1) - sorted(k) < 1e-7) k += 1
          (sorted(k) + sorted(k + 1)) / 2
        }
        (geo.map(_._1).min - 1, geo.map(_._2).min - 1, cut(geo.map(_._1)), cut(geo.map(_._2)))
      }
    val inBox: Array[Boolean] = geo.map { case (lon, lat) =>
      lon >= bbox._1 && lon <= bbox._3 && lat >= bbox._2 && lat <= bbox._4
    }

    // land: a wobbly disc of about 30 % of the cells, narrower than the
    // grid, so every raster row and column keeps some sea cells
    private val isLand: Array[Boolean] = {
      val r = new java.util.Random(seed)
      val (cx, cy) = (s.nx * (0.4 + 0.2 * r.nextDouble()), s.ny * (0.4 + 0.2 * r.nextDouble()))
      val (r0, phase) = (0.308 * math.min(s.nx, s.ny), r.nextDouble() * 2 * math.Pi)
      Array.tabulate(cells) { c =>
        val (dx, dy) = (c % s.nx + 0.5 - cx, c / s.nx + 0.5 - cy)
        s.land && math.hypot(dx, dy) < r0 * (1 + 0.15 * math.sin(3 * math.atan2(dy, dx) + phase))
      }
    }

    /** Smooth seeded field per parameter, float32, laid out (time, y, x). */
    def values(p: Int): Array[Float] = {
      val r = new java.util.Random(seed * 7919 + p)
      def u(lo: Double, hi: Double) = lo + (hi - lo) * r.nextDouble()
      val (base, a1, a2, a3) = (u(-5, 15), u(0.5, 3), u(0.5, 3), u(0.2, 1))
      val (f1, f2, f3, w1, w2) = (u(0.05, 0.3), u(0.05, 0.3), u(0.02, 0.1), u(0.1, 0.4), u(0.1, 0.4))
      val (p1, p2, p3) = (u(0, 6.3), u(0, 6.3), u(0, 6.3))
      Array.tabulate(s.steps * cells) { k =>
        val (t, c) = (k / cells, k % cells)
        val (i, j) = (c % s.nx, c / s.nx)
        if (isLand(c)) Float.NaN
        else (base + a1 * math.sin(f1 * i + p1 + w1 * t) + a2 * math.cos(f2 * j + p2 - w2 * t) +
          a3 * math.sin(f3 * (i + j) + p3)).toFloat
      }
    }

    def encode(param: String, v: Array[Float]): Array[Byte] =
      if (s.classic)
        NetCdf.write(
          dims = Seq("time" -> 0L, "lat" -> s.ny.toLong, "lon" -> s.nx.toLong),
          gattrs = Seq("Conventions" -> "CF-1.8"),
          vars = Seq(
            NetCdf.WriteVar("time", Seq("time"), NetCdf.NcDouble, Seq("units" -> TimeUnits), hours),
            NetCdf.WriteVar("lat", Seq("lat"), NetCdf.NcDouble, Seq("units" -> "degrees_north"), ys),
            NetCdf.WriteVar("lon", Seq("lon"), NetCdf.NcDouble, Seq("units" -> "degrees_east"), xs),
            NetCdf.WriteVar(param, Seq("time", "lat", "lon"), NetCdf.NcFloat,
              Seq("_FillValue" -> Fill), v.map(x => if (x.isNaN) Fill.toDouble else x.toDouble))),
          version = 2, numRecs = s.steps.toLong)
      else
        NetCdf4.write(Seq(
          NetCdf4.WriteDs("time", Seq(s.steps.toLong), hours, attrs = Seq("units" -> TimeUnits)),
          NetCdf4.WriteDs("y", Seq(s.ny.toLong), ys, attrs = Seq("units" -> "m")),
          NetCdf4.WriteDs("x", Seq(s.nx.toLong), xs, attrs = Seq("units" -> "m")),
          NetCdf4.WriteDs(param, Seq(s.steps.toLong, s.ny.toLong, s.nx.toLong), v.map(_.toDouble),
            f32 = true, chunk = Some(Seq(1, s.ny, s.nx)), filters = Seq(2, 1))))

    val all: Seq[String] = s.params :+ s.gone
    val cfg: Ingest.IngestConfig = Ingest.IngestConfig(collection = s.collection, parameters = all, bbox = bbox)
    val data: Map[String, Array[Float]] = all.zipWithIndex.map { case (p, i) => p -> values(i) }.toMap
    def bytes(): Map[String, Array[Byte]] = all.map(p => p -> encode(p, data(p))).toMap

    /** (rows, sum, min, max) the sink must hold for each parameter. */
    lazy val expected: Map[String, (Long, Double, Double, Double)] = all.map { p =>
      val kept = data(p).indices.iterator
        .filter(k => inBox(k % cells) && !data(p)(k).isNaN).map(data(p)(_).toDouble).toSeq
      p -> (kept.size.toLong, kept.sum, kept.min, kept.max)
    }.toMap

    /** Band `t` of `param` as a north-up raster, NaN where there is no cell. */
    def band(param: String, t: Int): Array[Float] =
      Array.tabulate(cells) { c =>
        val (row, col) = (c / s.nx, c % s.nx)
        data(param)(t * cells + (s.ny - 1 - row) * s.nx + col)
      }
  }

  /** Loopback cube endpoint: one response per collection and
    * `parameter-name`; a `gone` parameter answers 404 once retired. */
  final class CubeServer(cubes: Map[(String, String), Array[Byte]], gone: Set[(String, String)]) {
    @volatile var goneServes = true
    private val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(pool)
    server.createContext("/", ex => {
      val coll = ex.getRequestURI.getPath.split("/").dropWhile(_ != "collections").drop(1).headOption
      val param = Option(ex.getRequestURI.getRawQuery).toSeq.flatMap(_.split("&"))
        .map(_.split("=", 2)).collectFirst { case Array("parameter-name", v) => v }
      val key = coll.zip(param)
      key.flatMap(cubes.get).filter(_ => goneServes || !key.exists(gone)) match {
        case Some(b) =>
          ex.sendResponseHeaders(200, b.length.toLong)
          ex.getResponseBody.write(b)
        case None => ex.sendResponseHeaders(404, -1)
      }
      ex.close()
    })
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    def stop(): Unit = { server.stop(0); pool.shutdownNow(); () }
  }

  /** One collection's share of a cycle. `stats` holds a traced cycle's
    * per-call counts. */
  final case class Part(outcomes: Seq[Fetch.FetchOutcome], manifest: Map[String, String],
                        stats: Map[String, Double] = Map.empty)

  /** What one cycle produced, kept for the checks after the timers stop. */
  final case class Cycle(label: String, time: Main.Timing, parts: Map[String, Part]) {
    def traced: Boolean = label.startsWith("traced")
  }

  private val LongSchema =
    "lon DOUBLE, lat DOUBLE, value DOUBLE, collection STRING, parameter STRING, time_key STRING"

  def run(a: Main.Args, o: Main.Outcome): Option[Tracer] = {
    val out = s"${a.work}/out"
    val bandDir = s"${a.work}/bands"
    def sinkOf(spark: SparkSession, s: Shape): DataFrame =
      spark.read.schema(LongSchema).parquet(out)
        .filter(col("collection") === s.collection && col("parameter").isin(s.params: _*))
    def manifestOf(df: DataFrame): Map[String, String] =
      df.collect().map(r => r.getString(1) -> r.getString(2)).toMap
    def partDir(s: Shape, p: String): Path = Paths.get(out, s"collection=${s.collection}", s"parameter=$p")

    // set-up: the fixtures, the session and the first cycle
    val fixtures = shapes(a.tiny).zipWithIndex.map { case (s, k) => new Fixture(s, a.seed * 2 + k) }
    val encoded = fixtures.map(_.bytes())
    val cubes = fixtures.zip(encoded).flatMap { case (f, b) => b.map { case (p, v) => (f.s.collection, p) -> v } }.toMap
    val server = new CubeServer(cubes, fixtures.map(f => f.s.collection -> f.s.gone).toSet)

    def plan(spark: SparkSession, f: Fixture): Seq[(String, String)] =
      Ingest.requestPlan(spark, f.cfg).select("parameter", "url").collect().toSeq
        .map(r => r.getString(0) -> r.getString(1).replace("https://dmigw.govcloud.dk", server.base))

    def cycle(spark: SparkSession, label: String, reqs: Map[String, Seq[(String, String)]]): Option[Cycle] = {
      Main.unpersistAll(spark)
      System.gc()
      o.op(s"cycle $label") {
        val (parts, time) = Main.timed(fixtures.map { f =>
          val (mf, outcomes) = Fetch.fetchAndIngest(spark, f.cfg, reqs(f.s.tag), out)
          val m = mf.map(manifestOf).getOrElse(Map.empty)
          if (f.s.bands) GeoTiff.writeBands(spark, sinkOf(spark, f.s), bandDir).collect()
          f.s.tag -> Part(outcomes, m)
        }.toMap)
        Cycle(label, time, parts)
      }
    }

    /** The same cycle re-composed from the public calls one by one, each
      * inside its own span. The heap probe's forced GC gets a span of its
      * own and is taken off the cycle time. */
    def tracedCycle(spark: SparkSession, t: Tracer, label: String,
                    reqs: Map[String, Seq[(String, String)]]): Option[Cycle] = {
      Main.unpersistAll(spark)
      System.gc()
      o.op(s"cycle $label") {
        val (parts, time) = Main.timed(t.span("cycle")(fixtures.map { f =>
          val s = f.s
          val stats = mutable.Map[String, Double]()
          val part = t.span(s.tag) {
            val outcomes = t.span("Fetch.fetchAll")(Fetch.fetchAll(reqs(s.tag)))
            val decoded = t.span("Fetch.decodeAuto") {
              outcomes.collect { case Fetch.FetchOutcome(p, _, Right(b)) =>
                Fetch.decodeAuto(spark, s.collection, p, b)
              }
            }
            stats("live_heap_mb") = t.span("probe.live_heap")(HeapWatch.liveMb())
            val longDf = t.span("Materialize.stage") {
              Materialize.stage(Ingest.cubeToLong(
                decoded.reduce(_.unionByName(_, allowMissingColumns = true)), f.cfg))
            }
            t.span("Ingest.writeCube")(Ingest.writeCube(longDf, out))
            val manifest = t.span("Ingest.manifest")(manifestOf(Ingest.manifest(longDf, f.cfg)))
            if (s.bands) {
              val bands = t.span("GeoTiff.writeBands")(
                GeoTiff.writeBands(spark, sinkOf(spark, s), bandDir).collect())
              stats("bands") = bands.length.toDouble
              stats("band_bytes") = bands.map(_.getLong(6).toDouble).sum
            }
            stats("cells") = decoded.map(_.queryExecution.analyzed.collect {
              case r: LocalRelation => r.data.size.toDouble
            }.sum).sum
            stats("fetch_bytes") = outcomes.flatMap(_.result.toOption).map(_.length.toDouble).sum
            stats("fetch_failed") = outcomes.count(!_.ok).toDouble
            stats("manifest_entries") = manifest.values.map(_.count(_ == ',') + 1.0).sum
            Part(outcomes, manifest)
          }
          s.tag -> part.copy(stats = stats.toMap)
        }.toMap))
        val probes = t.named("probe.live_heap").takeRight(fixtures.size).map(_.seconds).sum
        Cycle(label, time.copy(wall = time.wall - probes), parts)
      }
    }

    def digest(spark: SparkSession, c: Cycle): String = {
      val sinks = fixtures.map(f => sinkOf(spark, f.s).groupBy("collection", "parameter", "time_key")
        .agg(count(lit(1)), sum("value"), sum("lon"), sum("lat"))
        .collect().map(_.toString).sorted.mkString("\n"))
      val manifests = c.parts.toSeq.sortBy(_._1).map(_._2.manifest.toSeq.sorted.mkString)
      sha((sinks ++ manifests :+ listing(Paths.get(bandDir)).toSeq.sorted.mkString)
        .mkString("\n").getBytes("UTF-8"))
    }

    try {
      val spark = Main.newSession(a.work)
      val reqs = fixtures.map(f => f.s.tag -> plan(spark, f)).toMap
      // the first cycle in the JVM pays JIT and class loading, as when one
      // process runs one ingest; it is the warm-up, and the last one in
      // which the retired parameters still serve bytes
      val cold = cycle(spark, "cold", reqs)
      Main.setupDone(o)
      val goneBefore = fixtures.map(f => f.s.tag -> listing(partDir(f.s, f.s.gone))).toMap
      server.goneServes = false

      // measured: warm cycles until the time is up. The first one, in which
      // the JIT is still settling, is left out of every median; a traced run
      // alternates traced and untraced cycles after it. A speed probe runs
      // before each cycle and after the last.
      val tracer = if (a.trace) Some(new Tracer(spark.sparkContext, s"${a.workload}-${a.seed}")) else None
      val digests = mutable.Map[Boolean, String]()
      Main.warmProbe()
      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      val measured = mutable.ArrayBuffer[Cycle]()
      Main.speedProbe()
      var i = 0
      while (i < Main.minUnits(a.trace) || System.nanoTime() < deadline) {
        i += 1
        if (i == 2) HeapWatch.arm()
        val c = tracer match {
          case Some(t) if i % 2 == 0 =>
            HeapWatch.disarm()
            val c = tracedCycle(spark, t, s"traced$i", reqs)
            HeapWatch.arm()
            c
          case _ => cycle(spark, if (i == 1) "settle" else s"warm$i", reqs)
        }
        Main.speedProbe()
        c.foreach { c =>
          measured += c
          if (tracer.isDefined && !digests.contains(c.traced)) digests(c.traced) = digest(spark, c)
        }
      }
      HeapWatch.disarm()
      val untraced = measured.filter(_.label.startsWith("warm")).toSeq
      val traced = measured.filter(_.traced).toSeq

      o.metric("warm_s", Main.median(untraced.map(_.time.wall)), "s")
      o.metric("warm_cpu_s", Main.median(untraced.map(_.time.cpu)), "s")
      o.metric("warm_process_cpu_s", Main.median(untraced.map(_.time.processCpu)), "s")
      o.metric("driver_heap_peak_mb", HeapWatch.peakMb, "MB")
      Main.scaleToRef(o)
      o.detail("cycles") = (cold.toSeq ++ measured).map(c => c.label -> c.time).toMap

      // ---- correctness, after the timers stop ----
      o.check("fixture.deterministic", fixtures.zip(encoded).zipWithIndex.forall { case ((f, b), k) =>
        val again = new Fixture(f.s, a.seed * 2 + k).bytes()
        b.forall { case (p, v) => java.util.Arrays.equals(v, again(p)) }
      }, "a second generation of the same seed encoded different bytes")
      val sink = spark.read.schema(LongSchema).parquet(out)
        .groupBy("collection", "parameter")
        .agg(count(lit(1)), sum("value"), min("value"), max("value"), countDistinct("time_key"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
      fixtures.foreach { f =>
        val s = f.s
        (cold.toSeq ++ measured).foreach { c =>
          val live = if (c.label == "cold") f.all else s.params
          val part = c.parts(s.tag)
          val byParam = part.outcomes.map(x => x.parameter -> x).toMap
          o.check(s"${s.tag}.outcomes.${c.label}", live.forall(p => byParam.get(p).exists(_.ok)) &&
            (c.label == "cold" || byParam.get(s.gone).exists(_.result.swap.exists(_.contains("HTTP 404")))),
            part.outcomes.map(x => s"${x.parameter}=${x.result.swap.getOrElse("ok")}").mkString(", "))
          o.check(s"${s.tag}.manifest.${c.label}", part.manifest.keySet == live.toSet &&
            part.manifest.forall { case (p, js) => js == manifestJson(f.cfg, p, f.timeKeys) },
            part.manifest.toString.take(300))
        }
        o.check(s"${s.tag}.preserved.${s.gone}",
          goneBefore(s.tag).nonEmpty && goneBefore(s.tag) == listing(partDir(s, s.gone)))
        f.all.foreach { p =>
          val (n, total, lo, hi) = f.expected(p)
          val got = sink.get((s.collection, p))
          o.check(s"${s.tag}.rows.$p", got.exists(r => r.getLong(2) == n && r.getLong(6) == s.steps),
            s"expected $n rows over ${s.steps} steps, got ${got.map(r => (r.getLong(2), r.getLong(6)))}")
          o.check(s"${s.tag}.checksum.$p", got.exists(r =>
            math.abs(r.getDouble(3) - total) <= 1e-9 * math.max(1.0, math.abs(total)) &&
              r.getDouble(4) == lo && r.getDouble(5) == hi),
            s"expected ($total, $lo, $hi), got ${got.map(r => (r.getDouble(3), r.getDouble(4), r.getDouble(5)))}")
        }
        if (s.bands) {
          val pick = new java.util.Random(a.seed)
          s.params.foreach { p =>
            val t = pick.nextInt(s.steps)
            val file = Paths.get(bandDir, s.collection, p, s"${f.timeKeys(t)}.tif")
            o.check(s"${s.tag}.band.$p", Files.exists(file) && {
              val r = GeoTiff.decode(Files.readAllBytes(file))
              val want = f.band(p, t)
              r.width == s.nx && r.height == s.ny && r.originLon == f.xs.head &&
                r.originLat == f.ys.last && want.indices.forall(i =>
                  (want(i).isNaN && r.pixels(i).isNaN) || want(i) == r.pixels(i))
            }, s"band ${f.timeKeys(t)} differs from the generated values")
          }
        }
      }

      // sink layout and size per collection, the same after every cycle
      val layout = fixtures.map { f =>
        val dirs = f.s.params.map(partDir(f.s, _))
        val files = dirs.flatMap(d => Files.walk(d).iterator.asScala
          .filter(x => Files.isRegularFile(x) && x.toString.endsWith(".parquet")).toSeq)
        val bytes = files.map(Files.size).sum +
          f.s.params.map(p => fileBytes(Paths.get(bandDir, f.s.collection, p), ".tif")).sum
        f.s.tag -> Map(
          "partitions" -> dirs.map(d => Files.list(d).iterator.asScala.count(Files.isDirectory(_))).sum.toDouble,
          "files" -> files.size.toDouble,
          "out_bytes_per_cell" -> bytes.toDouble / f.s.params.map(f.expected(_)._1).sum)
      }.toMap
      o.detail("sink") = layout

      tracer.foreach { t =>
        t.drain()
        o.check("trace.outputs_equal", digests.size == 2 && digests(true) == digests(false),
          "the traced cycle left a different sink, manifest or bands than the untraced one")
        layerMetrics(t, traced, fixtures.map(_.s), layout, o)
        o.metric("trace.overhead_s",
          Main.median(traced.map(_.time.wall)) - Main.median(untraced.map(_.time.wall)), "s")
      }
      tracer
    } finally server.stop()
  }

  /** Per-layer metrics, each the median over the traced cycles, named
    * `<collection tag>.<layer>.<quantity>`. */
  private def layerMetrics(t: Tracer, traced: Seq[Cycle], shapes: Seq[Shape],
                           layout: Map[String, Map[String, Double]], o: Main.Outcome): Unit = {
    val perCycle = t.named("cycle").zip(traced).map { case (root, c) =>
      shapes.flatMap { s =>
        val part = t.children(root).find(_.name == s.tag)
        val kids = part.toSeq.flatMap(t.children).map(k => k.name -> k).toMap
        def secs(n: String) = kids.get(n).fold(0.0)(_.seconds)
        def tot(n: String) = kids.get(n).fold(new Counters)(t.totals)
        def drv(n: String) = kids.get(n).fold(0.0)(t.driverSeconds)
        val st = c.parts(s.tag).stats.withDefaultValue(0.0)
        val rows = tot("Ingest.writeCube").outputRecords.toDouble
        Seq(
          ("Fetch.fetchAll.s", secs("Fetch.fetchAll"), "s"),
          ("Fetch.fetchAll.bytes", st("fetch_bytes"), "bytes"),
          ("Fetch.fetchAll.failed", st("fetch_failed"), "count"),
          ("Fetch.decodeAuto.s", secs("Fetch.decodeAuto"), "s"),
          ("Fetch.decodeAuto.cells", st("cells"), "count"),
          ("Fetch.decodeAuto.live_heap_mb", st("live_heap_mb"), "MB"),
          ("Fetch.decodeAuto.driver_s", drv("Fetch.decodeAuto"), "s"),
          ("Materialize.stage.s", secs("Materialize.stage"), "s"),
          ("Materialize.stage.rows_out", rows, "count"),
          ("Materialize.stage.keep_ratio", if (st("cells") > 0) rows / st("cells") else 0.0, "ratio"),
          ("Materialize.stage.tasks", tot("Materialize.stage").tasks.toDouble, "count"),
          ("Materialize.stage.executor_cpu_s", tot("Materialize.stage").cpuNs / 1e9, "s"),
          ("Materialize.stage.driver_s", drv("Materialize.stage"), "s"),
          ("Ingest.writeCube.s", secs("Ingest.writeCube"), "s"),
          ("Ingest.writeCube.partitions", layout(s.tag)("partitions"), "count"),
          ("Ingest.writeCube.files", layout(s.tag)("files"), "count"),
          ("Ingest.writeCube.bytes", tot("Ingest.writeCube").outputBytes.toDouble, "bytes"),
          ("Ingest.writeCube.tasks", tot("Ingest.writeCube").tasks.toDouble, "count"),
          ("Ingest.writeCube.executor_cpu_s", tot("Ingest.writeCube").cpuNs / 1e9, "s"),
          ("Ingest.manifest.s", secs("Ingest.manifest"), "s"),
          ("Ingest.manifest.entries", st("manifest_entries"), "count"),
          ("out_bytes_per_cell", layout(s.tag)("out_bytes_per_cell"), "bytes"),
          ("self_s", part.fold(0.0)(t.selfSeconds), "s")
        ).map { case (n, v, u) => (s"${s.tag}.$n", v, u) } ++ (if (!s.bands) Nil else Seq(
          (s"${s.tag}.GeoTiff.writeBands.s", secs("GeoTiff.writeBands"), "s"),
          (s"${s.tag}.GeoTiff.writeBands.bands", st("bands"), "count"),
          (s"${s.tag}.GeoTiff.writeBands.bytes", st("band_bytes"), "bytes"),
          (s"${s.tag}.GeoTiff.writeBands.executor_cpu_s", tot("GeoTiff.writeBands").cpuNs / 1e9, "s")))
      } :+ (("cycle.root_self_s", t.selfSeconds(root), "s"))
    }
    perCycle.headOption.foreach(_.indices.foreach { k =>
      val (name, _, unit) = perCycle.head(k)
      o.metric(name, Main.median(perCycle.map(_(k)._2)), unit)
    })
  }

  private def manifestJson(cfg: Ingest.IngestConfig, p: String, keys: Seq[String]): String =
    keys.sorted.map(k => s""""$k":"https://${cfg.bucket}/${cfg.prefix}/${cfg.collection}/$p/$k.tif"""")
      .mkString("{", ",", "}")

  /** Relative path -> SHA-256 of every file under `dir`. */
  private def listing(dir: Path): Map[String, String] =
    if (!Files.isDirectory(dir)) Map.empty
    else Files.walk(dir).iterator.asScala.filter(Files.isRegularFile(_))
      .map(f => dir.relativize(f).toString -> sha(Files.readAllBytes(f))).toMap

  private def fileBytes(dir: Path, suffix: String): Long =
    if (!Files.isDirectory(dir)) 0L
    else Files.walk(dir).iterator.asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix)).map(Files.size).sum

  private def sha(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
}
