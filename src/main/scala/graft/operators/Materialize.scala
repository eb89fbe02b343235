package graft.operators

import java.io.File
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The two materialization points of the engine.
  *
  *  - [[stage]]: a subtree that feeds several consumers inside ONE query
  *    is computed once — an eager `localCheckpoint` (executor-local
  *    blocks; they live as long as the executors do).
  *  - [[shared]]: a STANDING artifact (an index, a verdict table) that
  *    several queries of one session read, built once per snapshot of the
  *    source files it was built from and staged as parquet.
  *
  * Deliberately NOT routed through here: the per-iteration checkpoints
  * inside [[Curation.nearDupClusters]]'s fixpoint loop, where cutting
  * lineage each round is algorithmic (an un-truncated iterative plan
  * grows without bound), not a re-use optimization.
  */
object Materialize {

  /** Materialize `df` once for multiple downstream consumers. */
  def stage(df: DataFrame): DataFrame = df.localCheckpoint()

  /** A source dir as one listing saw it: the path, size and modification
    * time of every file under `dir`. Two snapshots are equal exactly when
    * no file was added, removed or rewritten between the listings. */
  private[graft] final case class Snapshot(dir: String, files: Seq[(String, Long, Long)])

  /** List every file under `dir` (recursively, through the Hadoop FS). */
  private[graft] def snapshot(spark: SparkSession, dir: String): Snapshot = {
    val p = new Path(dir)
    val it = p.getFileSystem(spark.sessionState.newHadoopConf()).listFiles(p, true)
    val files = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      files += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    Snapshot(dir, files.result().sortBy(_._1))
  }

  // One cell per (session, name, params, source snapshot). The map holds
  // lazy CELLS rather than results so computeIfAbsent only allocates
  // (never runs a Spark job inside the map's bin lock — a build that
  // itself called shared() would otherwise deadlock, and unrelated keys in
  // one bin would serialize); forcing the cell's lazy val outside the map
  // blocks only same-key callers, which is the wanted build-once semantics.
  private final case class Key(appId: String, name: String, params: Seq[Any], source: Snapshot)
  private final class Cell(build: () => String) {
    lazy val dir: String = build()
  }
  private val cells = new ConcurrentHashMap[Key, Cell]()

  // The parquet dirs of each live session's cells, deleted when that
  // session's SparkContext ends (ApplicationEnd): nothing can reference
  // one after its session, and exit-only cleanup let a multi-session JVM
  // (Bench's isolated pass restarts the session) accumulate every
  // session's dirs. The JVM-exit hook is the backstop for a session never
  // stopped.
  private val sessionDirs = new ConcurrentHashMap[String, java.util.List[File]]()
  private def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      sessionDirs.values.forEach(_.forEach(rm)), "graft-materialize-cleanup"))

  /** Delete (and stop tracking) every artifact dir `appId`'s session
    * wrote, and drop its cells — exactly what the ApplicationEnd listener
    * runs at `spark.stop()`; package-private so MaterializeSpec can drive
    * it against the shared test session without stopping it. */
  private[graft] def releaseStages(appId: String): Unit = {
    Option(sessionDirs.remove(appId)).foreach(_.forEach(rm))
    cells.keySet.removeIf(_.appId == appId)
  }
  /** Artifact dirs still pending for `appId` (spec observability). */
  private[graft] def pendingStages(appId: String): Seq[File] =
    Option(sessionDirs.get(appId))
      .map(l => scala.jdk.CollectionConverters.ListHasAsScala(l).asScala.toSeq)
      .getOrElse(Nil)

  /** A standing artifact shared ACROSS QUERIES within one session: two
    * declared queries over the same artifact pay ONE build. The first call
    * per (session, `name`, `params`, snapshot of the files under `dir`)
    * computes `build`, writes it to a parquet dir under
    * `graft.materialize.dir` (default: the JVM temp dir) and returns the
    * re-read frame; every later call with the same key re-reads that dir.
    *
    * The key is what the artifact was built from: `build` must read its
    * data from `dir` only, and `params` must carry every other input that
    * changes its rows. Each call lists `dir` afresh, so once a source file
    * is added, removed or rewritten the next call builds a new cell — a
    * standing artifact never outlives its sources. Superseded cells keep
    * their dirs until the session ends. A fresh session (new
    * applicationId) rebuilds, so the bench's isolated fresh-session pass
    * still measures the full build.
    *
    * Parquet deliberately, not [[stage]]'s localCheckpoint: the bench
    * harness unpersists every persistent RDD between queries
    * (block-manager hygiene), which would destroy cross-query checkpoint
    * blocks — a parquet stage survives it, and its scan re-plans freshly
    * per consumer (broadcast vs shuffle hints still apply). */
  def shared(spark: SparkSession, name: String, dir: String, params: Any*)
            (build: => DataFrame): DataFrame =
    shared(spark, name, snapshot(spark, dir), params: _*)(build)

  /** [[shared]] keyed on a snapshot the caller already took — for an
    * artifact built FROM another standing artifact, so the pair is keyed
    * on one listing and can never mix two versions of the source. */
  private[graft] def shared(spark: SparkSession, name: String, source: Snapshot,
                            params: Any*)(build: => DataFrame): DataFrame = {
    val sc = spark.sparkContext
    val appId = sc.applicationId
    val cell = cells.computeIfAbsent(Key(appId, name, params, source), _ => new Cell(() => {
      val base = spark.conf.get("graft.materialize.dir", sys.props("java.io.tmpdir"))
      val f = new File(s"$base/graft_shared_${java.util.UUID.randomUUID}")
      cleanupHook
      sessionDirs.computeIfAbsent(appId, _ => {
        sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
            releaseStages(appId)
        })
        java.util.Collections.synchronizedList(new java.util.ArrayList[File]())
      }).add(f)
      build.write.parquet(f.getPath)
      f.getPath
    }))
    spark.read.parquet(cell.dir)
  }

  /** `df.staged` — [[stage]] as a chainable suffix, so call sites read
    * like the `.localCheckpoint()` they replace. */
  implicit class Stageable(private val df: DataFrame) extends AnyVal {
    def staged: DataFrame = stage(df)
  }
}
