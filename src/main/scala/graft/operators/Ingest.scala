package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference pipeline re-expressed Spark-first (SURVEY.md §3.1, §7.3).
  *
  * Reference shape (dmi_ingestor/ingestor.py:134-233): env config → EDR
  * cube URL → HTTP GET → delete old S3 prefix → decode → maybe reproject →
  * per-time-band split → per-file upload → JSON manifest.
  *
  * Engine shape: the HTTP fetch + NetCDF decode stay at the edge (driver
  * fetches, stages long-format rows — SURVEY.md §7.3); everything after is
  * one declarative plan: conditional reproject (pure column math), bbox /
  * parameter pruning (pushed to the source scan), a time-partitioned
  * overwrite write (dynamic mode = delete-only-rewritten-partitions, the
  * scalable version of the reference's delete-prefix), and the manifest as
  * an O(groups) aggregation. No per-band loop, no driver-side iteration:
  * Spark's task scheduler is the loop.
  */
object Ingest {

  /** R1 env-config record (ingestor.py:137-155). */
  case class IngestConfig(
      collection: String = "dkss_if",
      parameters: Seq[String] = Seq("sea-mean-deviation"),
      bbox: (Double, Double, Double, Double) = (11.5, 55.5, 12.2, 56.1),
      bucket: String = "bucket.example",
      prefix: String = "forecasts")

  /** R2 request planning: one row per (collection, parameter) request with
    * the EDR cube URL — the fan-out the reference does sequentially
    * (ingestor.py:157) becomes a DataFrame a parallel fetcher maps over.
    * CRS switches on the harmonie prefix (ingestor.py:170-173). */
  def requestPlan(spark: SparkSession, cfg: IngestConfig): DataFrame = {
    import spark.implicits._
    val (x0, y0, x1, y1) = cfg.bbox
    cfg.parameters.toDF("parameter")
      .withColumn("collection", lit(cfg.collection))
      .withColumn("crs",
        when(col("collection").startsWith("harmonie"), lit("native"))
          .otherwise(lit("crs84")))
      .withColumn("url", format_string(
        "https://dmigw.govcloud.dk/v1/forecastedr/collections/%s/cube?crs=%s&parameter-name=%s&bbox=%s&f=NetCDF",
        col("collection"), col("crs"), col("parameter"),
        // full precision, like the reference's verbatim BBOX env string
        // (ingestor.py:146): rendering at fixed 1 dp would request a
        // DIFFERENT box than cubeToLong later filters on, silently
        // dropping the edge cells between the two
        lit(s"$x0,$y0,$x1,$y1")))
  }

  /** Decode boundary: a staged long-format cube (collection, parameter,
    * time, x, y, value) — the engine-side dual of xarray.open_dataset.
    * Applies, in one plan:
    *  - R7 conditional reproject: harmonie_* rows carry source-CRS meters →
    *    inverse-LCC to (lon, lat); others already carry degrees; a cube
    *    whose decode resolved CF `coordinates` aux coordinates (2-D
    *    lat/lon columns) keeps THOSE — file-carried geography wins over
    *    the derived mapping (r20);
    *  - R2 bbox predicate + parameter projection (Catalyst pushes both
    *    into the scan when the input is a parquet source);
    *  - R11 time key formatting;
    *  - null cell drop (nodata handling, xarray parity).
    */
  def cubeToLong(cube: DataFrame, cfg: IngestConfig): DataFrame = {
    val (lonInv, latInv) = Geo.inverseCols(col("x"), col("y"))
    val (x0, y0, x1, y1) = cfg.bbox
    // a curvilinear cube that resolved CF `coordinates` aux coordinates
    // already carries true geographic lon/lat columns (NetCdf.decodeCube)
    // — file-carried geography beats anything derived here, and the
    // `withColumn` below would otherwise clobber it with projection
    // meters and bbox-filter degrees against meters (r20). PER COLUMN
    // and PER ROW (coalesce): a cube may resolve only one aux coordinate
    // (the other keeps the derived mapping), and a multi-parameter union
    // of aux and non-aux cubes carries nulls in the aux columns for the
    // non-aux rows (Fetch unions by name with missing-column fill).
    val derivedLon =
      when(col("collection").startsWith("harmonie"), lonInv).otherwise(col("x"))
    val derivedLat =
      when(col("collection").startsWith("harmonie"), latInv).otherwise(col("y"))
    val lonExpr =
      if (cube.columns.contains("lon")) coalesce(col("lon"), derivedLon)
      else derivedLon
    val latExpr =
      if (cube.columns.contains("lat")) coalesce(col("lat"), derivedLat)
      else derivedLat
    cube
      .filter(col("value").isNotNull)
      .filter(col("parameter").isin(cfg.parameters: _*))
      .withColumn("lon", lonExpr)
      .withColumn("lat", latExpr)
      .filter(col("lon").between(x0, x1) && col("lat").between(y0, y1))
      .withColumn("time_key", date_format(col("time"), Manifest.TimeKeyFormat))
      .select("collection", "parameter", "time_key", "lon", "lat", "value")
  }

  /** R3+R10+R12: time-partitioned overwrite sink. Dynamic partition
    * overwrite truncates exactly the (collection, parameter, time_key)
    * partitions being rewritten — new data replaces old atomically per
    * partition, and a failed fetch for one parameter never deletes another
    * parameter's output (the ordering guarantee the reference enforces by
    * hand at ingestor.py:192-199). */
  def writeCube(longDf: DataFrame, outPath: String): Unit =
    longDf.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("collection", "parameter", "time_key")
      .parquet(outPath)

  /** R13+R14 manifest: {time_key → public URL} per (collection, parameter),
    * serialized as a JSON object exactly like forecasts.json
    * (ingestor.py:116-118, 219-220). O(partitions), not O(cells). */
  def manifest(longDf: DataFrame, cfg: IngestConfig): DataFrame =
    longDf
      .select(col("collection"), col("parameter"), col("time_key"))
      .distinct()
      .withColumn("url", format_string(
        "https://%s/%s/%s/%s/%s.tif",
        lit(cfg.bucket), lit(cfg.prefix), col("collection"), col("parameter"), col("time_key")))
      .groupBy(col("collection"), col("parameter"))
      .agg(to_json(map_from_entries(
        array_sort(collect_list(struct(col("time_key"), col("url"))))))
        .as("forecasts_json"))
      .orderBy(col("collection"), col("parameter"))

  /** Full pipeline: staged cube → long format → partitioned write →
    * manifest (returned; caller serializes next to the data). */
  def ingest(cube: DataFrame, cfg: IngestConfig, outPath: String): DataFrame = {
    // materialize once: the sink AND the manifest consume longDf, and
    // without this the reproject + filter chain runs twice over every
    // cell. (Manifest stays over THIS batch's rows, not a read-back of
    // outPath — dynamic overwrite preserves other parameters' old
    // partitions there, which must not leak into this batch's manifest.)
    val longDf = Materialize.stage(cubeToLong(cube, cfg))
    writeCube(longDf, outPath)
    manifest(longDf, cfg)
  }
}
