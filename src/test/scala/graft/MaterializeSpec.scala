package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.{Curation, Materialize}
import graft.sources.Tables

/** `Materialize.shared`: standing artifacts land under
  * `graft.materialize.dir`, die with their session, are built once per
  * (session, name, params, source snapshot), and rebuild when a source
  * file is rewritten. */
class MaterializeSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def withMaterializeDir[A](prefix: String)(body: String => A): A = {
    val tmp = Files.createTempDirectory(prefix).toString
    spark.conf.set("graft.materialize.dir", tmp)
    try body(tmp) finally {
      spark.conf.unset("graft.materialize.dir")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  private def uniqueName(s: String): String = s"materialize-spec-$s-${System.nanoTime}"

  test("the parquet stage writes under graft.materialize.dir and re-reads") {
    withMaterializeDir("graft_stage") { tmp =>
      val staged = Materialize.shared(spark, uniqueName("dir"), sfDir)(
        spark.range(5).toDF("id"))
      assert(staged.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1, 2, 3, 4))
      // the artifact landed where the setting points
      assert(Files.list(Paths.get(tmp))
        .anyMatch(p => p.getFileName.toString.startsWith("graft_shared_")))
    }
  }

  test("parquet stage dirs are deleted when their session ends, not at JVM exit") {
    // Bench's isolated pass restarts the session inside one JVM; exit-only
    // cleanup accumulated every session's artifact dirs. The
    // ApplicationEnd listener deletes the owning session's dirs at
    // spark.stop(); its exact body (Materialize.releaseStages) is driven
    // here directly because this suite shares its session with every
    // other spec and must not stop it.
    withMaterializeDir("graft_stage_end") { _ =>
      val appId = spark.sparkContext.applicationId
      val before = Materialize.pendingStages(appId).toSet
      Materialize.shared(spark, uniqueName("end-a"), sfDir)(spark.range(7).toDF("id")).count()
      Materialize.shared(spark, uniqueName("end-b"), sfDir)(spark.range(3).toDF("id")).count()
      // other specs' dirs may still be tracked — assert on OURS only
      val fresh = Materialize.pendingStages(appId).toSet -- before
      assert(fresh.size == 2, s"expected 2 new tracked artifact dirs, got $fresh")
      assert(fresh.forall(_.exists()), "tracked artifact dir missing on disk")
      Materialize.releaseStages(appId) // what onApplicationEnd runs at stop
      assert(Materialize.pendingStages(appId).isEmpty, "dirs still tracked")
      assert(fresh.forall(!_.exists()), "artifact dir survived session end")
    }
  }

  test("shared stage builds once per (session, key) and survives unpersist-all") {
    // the q101/q103 standing-index story: two queries share one build.
    // Parquet-backed deliberately — the bench harness unpersists every
    // persistent RDD between queries, which kills cross-query checkpoint
    // blocks; the shared stage must survive exactly that.
    val appId = spark.sparkContext.applicationId
    val name = uniqueName("shared")
    var builds = 0
    def consume(): Seq[String] = rows(
      Materialize.shared(spark, name, sfDir) {
        builds += 1
        spark.range(11).toDF("id")
      })
    val first = consume()
    assert(first.size == 11)
    assert(builds == 1)
    // the bench's between-query hygiene: drop every persistent RDD
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    assert(consume() == first, "shared stage diverged after unpersist-all")
    assert(builds == 1, "shared stage rebuilt on a warm key")
    // a different name builds independently
    assert(rows(Materialize.shared(spark, name + ".b", sfDir)(
      spark.range(2).toDF("id"))).size == 2)
    assert(builds == 1)
    // session end releases the memo: the key rebuilds afterwards.
    // releaseStages also deletes OTHER artifact dirs of this shared
    // session — fine here, every spec re-reads its artifacts per call.
    Materialize.releaseStages(appId)
    assert(consume() == first)
    assert(builds == 2, "memo survived session release")
  }

  test("different params build separate cells") {
    val name = uniqueName("params")
    var builds = Map.empty[Int, Int].withDefaultValue(0)
    def consume(n: Int): Seq[String] = rows(
      Materialize.shared(spark, name, sfDir, n) {
        builds += n -> (builds(n) + 1)
        spark.range(n).toDF("id")
      })
    assert(consume(3).size == 3)
    assert(consume(5).size == 5, "params 5 served the params 3 cell")
    assert(consume(3).size == 3)
    assert(consume(5).size == 5)
    assert(builds == Map(3 -> 1, 5 -> 1))
  }

  test("a rewritten source file rebuilds the standing artifact") {
    // the standing quality-gate verdict table over a private copy of the
    // tables; rewriting documents.parquet must rebuild it on the next call
    // instead of serving the verdicts of the old rows
    val tables = Files.createTempDirectory("graft_tables")
    try {
      Files.list(Paths.get(sfDir)).forEach(f => Files.copy(f, tables.resolve(f.getFileName)))
      val dir = tables.toString
      val appId = spark.sparkContext.applicationId
      def builds(): Int = Materialize.pendingStages(appId).size
      def direct(): Seq[String] = rows(Curation.qualityGateFrom(
        Curation.tokenTable(Tables.documents(spark, dir))))

      val b0 = builds()
      val before = rows(Curation.qualityGateShared(spark, dir))
      assert(before == direct())
      assert(rows(Curation.qualityGateShared(spark, dir)) == before)
      assert(builds() == b0 + 1, "an unchanged source rebuilt its artifact")

      val docs = tables.resolve("documents.parquet")
      Files.delete(docs)
      spark.read.parquet(s"$sfDir/documents.parquet")
        .filter(col("doc_id") % 2 === 0)
        .write.parquet(docs.toString)
      val after = rows(Curation.qualityGateShared(spark, dir))
      assert(builds() == b0 + 2, "a rewritten source did not rebuild exactly once")
      assert(after != before, "the rewrite did not change the verdicts")
      assert(after == direct(), "the artifact serves rows of the old source")
      assert(rows(Curation.qualityGateShared(spark, dir)) == after)
      assert(builds() == b0 + 2)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tables.toFile)
  }
}
