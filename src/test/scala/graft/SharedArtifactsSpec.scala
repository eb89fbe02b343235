package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup, Materialize, Retrieval, Similarity, Text}
import graft.sources.Tables

/** r22 session-standing artifacts: each shared parquet table must be
  * row-identical to the per-query build it replaced (the q144
  * standing-vs-direct convention), and the two shingle-fingerprint
  * identity conversions must reproduce the string-gram results exactly
  * at test scale. */
class SharedArtifactsSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("quality gate: session-standing table equals the direct build row-for-row") {
    val direct = Curation.qualityGateFrom(
      Curation.tokenTable(Tables.documents(spark, sfDir)))
    assert(rows(Curation.qualityGateShared(spark, sfDir)) == rows(direct))
    // ... and the declared q66 (orderBy re-applied on read) matches too
    assert(rows(Curation.qualityGate(spark, sfDir)) == rows(direct))
  }

  test("decontaminate: session-standing report equals the direct build row-for-row") {
    val docs = Tables.documents(spark, sfDir)
    val direct = Curation.decontaminateFrom(
      docs, docs.filter(Similarity.probeFilter(col("doc_id"))))
    assert(rows(Curation.decontaminateShared(spark, sfDir)) == rows(direct))
  }

  test("bm25: the standing-index ride equals the per-query index build row-for-row") {
    val docs = Tables.documents(spark, sfDir)
    val probes = docs.filter(Similarity.probeFilter(col("doc_id")))
    val direct = Retrieval.bm25From(docs, probes, nTerms = 3, k = 10)
    assert(rows(Retrieval.bm25Search(spark, sfDir)) == rows(direct))
  }

  test("bpe: the standing tokenizer table equals per-query training row-for-row") {
    val docs = Tables.documents(spark, sfDir)
    // the sym table itself...
    assert(rows(Text.bpeSymShared(spark, sfDir)) == rows(Text.bpeSymTableFrom(docs)))
    // ... and a declared consumer through it (q138's *From with no
    // injection trains per-call — the r21 formulation)
    assert(rows(Text.tokenFertility(spark, sfDir)) ==
      rows(Text.tokenFertilityFrom(docs)))
  }

  test("q149 increment novelty: shingle-fingerprint classes equal string-gram classes") {
    // the r21 string formulation, inline as the reference
    val docs = Tables.documents(spark, sfDir)
    def gramsStr(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("toks", Dedup.toks)
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(Dedup.shingleCol).as("gram"))
    val corpusVocab = gramsStr(docs.filter(col("doc_id") % 7 =!= 0))
      .select(col("gram")).distinct().withColumn("known", lit(true))
    val reference = gramsStr(docs.filter(col("doc_id") % 7 === 0)).distinct()
      .join(corpusVocab, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("known").isNull, lit(1))).as("n_novel"))
    val got = Curation.incrementNovelty(spark, sfDir)
      .select(col("doc_id"), col("n_grams"), col("n_novel"))
    assert(rows(got) == rows(reference))
  }

  test("q142 novelty curve: shingle-fingerprint classes equal string-gram classes") {
    val docs = Tables.documents(spark, sfDir)
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    val bucketed = docs.crossJoin(broadcast(mx))
      .withColumn("bucket",
        least(lit(9L), floor(col("doc_id") * 10.0 / (col("mx") + 1))))
      .withColumn("toks", Dedup.toks)
      .filter(size(col("toks")) >= 3)
      .select(col("bucket"), explode(Dedup.shingleCol).as("gram"))
      .distinct()
    val reference = bucketed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_distinct_grams"))
    val got = Curation.noveltyCurve(spark, sfDir)
      .select(col("bucket"), col("n_distinct_grams"))
    assert(rows(got) == rows(reference))
  }

  test("gram stats: session-standing census equals the direct build row-for-row") {
    val docs = Tables.documents(spark, sfDir)
    val gramsDirect = docs.withColumn("toks", Dedup.toks)
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(Dedup.shingleCol).as("gram"))
    // q68 through the standing table vs the direct per-frame path
    assert(rows(Curation.boilerplateCensus(spark, sfDir)) ==
      rows(Curation.boilerplateCensusFrom(gramsDirect)))
  }

  test("lsh hash table: session-standing table equals the direct build row-for-row") {
    assert(rows(Dedup.hashedDocTable(spark, sfDir)) ==
      rows(Dedup.hashedDocTableFrom(Tables.documents(spark, sfDir))))
  }

  test("span table: session-standing table equals the direct build row-for-row") {
    assert(rows(Curation.spanTableShared(spark, sfDir)) ==
      rows(Curation.spanRows(Tables.documents(spark, sfDir))))
  }

  test("shared cells are built once per (session, key) and re-read after") {
    // two reads of the same shared artifact return identical rows and
    // the second is a parquet re-read (plan has no aggregation)
    val a = Curation.qualityGateShared(spark, sfDir)
    val b = Curation.qualityGateShared(spark, sfDir)
    assert(rows(a) == rows(b))
    assert(!b.queryExecution.executedPlan.toString.contains("HashAggregate"))
  }

}
