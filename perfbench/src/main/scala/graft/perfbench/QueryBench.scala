package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** A read-side query mix over the engine's sf0.01 test tables: two queries
  * that read a `Materialize.shared` standing artifact and two that read
  * none, in a seed-permuted order that each warm pass rotates by one, so
  * every query runs in every position. The first pass in the JVM is the
  * warm-up: it pays JIT, class loading and every artifact build, and its
  * results are the ones checked against the DuckDB oracle. The warm passes
  * after it, in the same session, read the standing artifacts. A traced run
  * also times the artifact readers once more in a fresh session of the now
  * warm JVM, which isolates the build cost. */
object QueryBench {

  val ArtifactConsumers: Seq[String] = Seq("q133_drop_provenance", "q138_token_fertility")
  val Plain: Seq[String] = Seq("q01_pricing_summary", "q22_sessionize")

  def run(a: Main.Args, o: Main.Outcome): Option[Tracer] = {
    // SplittableRandom mixes the seed, so nearby seeds give unrelated orders
    val order = new scala.util.Random(new java.util.SplittableRandom(a.seed).nextLong())
      .shuffle(ArtifactConsumers ++ Plain)
    o.detail("order") = order
    o.detail("oracle_sql") = order.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap

    val (spark, session) = Main.timed(Main.newSession(a.work))
    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext, s"${a.workload}-${a.seed}")) else None

    /** The timing of each query of one pass, each inside a span when
      * traced, in the seed's order rotated by `shift`. A full GC runs before
      * each query, so the heap peak of a query does not depend on which ones
      * ran before it. */
    def pass(label: String, shift: Int, traced: Boolean,
             sink: (String, DataFrame) => Unit): Map[String, Main.Timing] = {
      val k = shift % order.size
      def timed(): Map[String, Main.Timing] = (order.drop(k) ++ order.take(k)).flatMap { q =>
        Main.unpersistAll(spark)
        System.gc()
        o.op(s"$label $q") {
          def body(): Unit = sink(q, SparkEntry.queries(q)(spark, a.tables))
          q -> Main.timed(tracer.filter(_ => traced).fold(body())(_.span(s"query.$q")(body())))._2
        }
      }.toMap
      tracer.filter(_ => traced).fold(timed())(_.span(s"query.$label")(timed()))
    }
    val noop: (String, DataFrame) => Unit = (_, df) => df.write.format("noop").mode("overwrite").save()

    val first = pass("cold", 0, traced = true, (q, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"${a.work}/results/$q")).map { case (q, t) => q -> t.wall }
    Main.setupDone(o)

    // warm passes until the time is up. The first one, in which the JIT is
    // still settling, is left out of every median; a traced run alternates
    // traced and untraced passes after it. A speed probe runs before each
    // pass and after the last.
    Main.warmProbe()
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val warm = mutable.ArrayBuffer[(Boolean, Map[String, Main.Timing])]()
    Main.speedProbe()
    var i = 0
    while (i < Main.minUnits(a.trace) || System.nanoTime() < deadline) {
      i += 1
      val traced = tracer.isDefined && i % 2 == 0
      HeapWatch.disarm()
      if (!traced && i > 1) HeapWatch.arm()
      val p = pass("warm", i, traced, noop)
      Main.speedProbe()
      if (i > 1) warm += traced -> p
    }
    HeapWatch.disarm()
    def medians(passes: Seq[Map[String, Main.Timing]], f: Main.Timing => Double = _.wall) =
      order.map(q => q -> Main.median(passes.flatMap(_.get(q)).map(f))).toMap
    val untraced = warm.filterNot(_._1).map(_._2).toSeq
    val warmUntraced = medians(untraced)

    o.metric("warm_s", warmUntraced.values.sum, "s")
    o.metric("warm_cpu_s", medians(untraced, _.cpu).values.sum, "s")
    o.metric("warm_process_cpu_s", medians(untraced, _.processCpu).values.sum, "s")
    o.metric("driver_heap_peak_mb", HeapWatch.peakMb, "MB")
    Main.scaleToRef(o)
    o.detail("setup_parts_s") = Map("session" -> session.wall, "first_pass" -> first)
    o.detail("warm_query_median_s") = warmUntraced
    o.detail("warm_passes") = warm.map { case (traced, p) => Map("traced" -> traced, "queries" -> p) }.toList

    tracer.foreach { t =>
      t.drain()
      val warmTraced = medians(warm.filter(_._1).map(_._2).toSeq)
      order.foreach { q =>
        o.metric(s"query.$q.cold_s", first(q), "s")
        o.metric(s"query.$q.warm_s", warmTraced(q), "s")
      }
      def passMetrics(label: String): Unit = {
        val spans = t.named(s"query.$label")
        def med(f: Span => Double) = Main.median(spans.map(f))
        val mb = 1048576.0
        o.metric(s"query.$label.stages", med(t.totals(_).stages.toDouble), "count")
        o.metric(s"query.$label.tasks", med(t.totals(_).tasks.toDouble), "count")
        o.metric(s"query.$label.executor_cpu_s", med(t.totals(_).cpuNs / 1e9), "s")
        o.metric(s"query.$label.input_mb", med(t.totals(_).inputBytes / mb), "MB")
        o.metric(s"query.$label.shuffle_write_mb", med(t.totals(_).shuffleWriteBytes / mb), "MB")
        o.metric(s"query.$label.spill_mb", med(t.totals(_).spillBytes / mb), "MB")
        o.metric(s"query.$label.driver_s", med(t.driverSeconds), "s")
      }
      passMetrics("cold")
      passMetrics("warm")
      o.metric("trace.overhead_s", warmTraced.values.sum - warmUntraced.values.sum, "s")

      spark.stop()
      val fresh = Main.newSession(a.work)
      val rebuilt = ArtifactConsumers.flatMap(q => o.op(s"fresh $q") {
        Main.timed(noop(q, SparkEntry.queries(q)(fresh, a.tables)))._2.wall - warmUntraced(q)
      })
      o.metric("Materialize.shared.build_s", rebuilt.sum, "s")
    }
    tracer
  }
}
