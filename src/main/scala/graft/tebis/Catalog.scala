package graft.tebis

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.FsUtil

/** Time-series catalog metadata (reference TimeSeries create,
  * csv_extractor.py:107-112). */
case class TimeSeriesMeta(externalId: String, name: String, description: String)

/** Catalog operations (S12/S13, csv_extractor.py:53-75,151-153).
  *
  * The reference snapshots the whole catalog into a driver dict once and
  * mutates it per created series. Spark-native shape: the catalog is a
  * small dimension table; "which incoming series are missing?" is a
  * broadcast LEFT ANTI join (no shuffle of the big side), and the upsert is
  * a union of the newly created rows back into the dimension. At 100 TB the
  * fact side (headers extracted from files) stays distributed; only the
  * catalog — bounded by #series, not #datapoints — is broadcast.
  */
object Catalog {
  val AutoDescription = "Auto-generated time series, external ID not found"

  /** Reads the catalog's columns by name with the declared schema, so no
    * footer-inference job runs; column order and extra columns on disk do
    * not matter. */
  def load(spark: SparkSession, path: String): Dataset[TimeSeriesMeta] = {
    val enc = Encoders.product[TimeSeriesMeta]
    spark.read.schema(enc.schema).parquet(path).as(enc)
  }

  /** Writes the catalog through [[graft.util.FsUtil.replaceDir]]: the
    * write job runs into a temp directory while `path` is intact, so a
    * plan that reads `path` (the upsert's union with the existing
    * snapshot) needs no barrier, and a failed write leaves the previous
    * catalog as it was. The temp copy is O(series), not O(datapoints);
    * the two renames are the only window in which `path` is absent. */
  def save(catalog: Dataset[TimeSeriesMeta], path: String): Unit = {
    val live = new Path(path)
    val fs = FsUtil.fsOf(catalog.sparkSession, live)
    FsUtil.replaceDir(fs, live)(tmp => catalog.coalesce(1).write.parquet(tmp.toString))
  }

  /** Headers not present in the catalog, deduplicated to the FIRST
    * occurrence per externalId (the reference creates a series on first
    * sight and skips later columns with the same id,
    * csv_extractor.py:151-153). `headers` columns: fileOrd (the file's
    * DISCOVERY order — numeric filename-token rank, not lexicographic
    * path), externalId, name, colIndex.
    */
  def missing(headers: DataFrame, catalog: Dataset[TimeSeriesMeta]): Dataset[TimeSeriesMeta] = {
    val spark = headers.sparkSession
    import spark.implicits._
    headers
      .groupBy($"externalId")
      .agg(min_by(struct($"name"), struct($"fileOrd", $"colIndex")).getField("name").as("name"))
      .join(broadcast(catalog.select($"externalId")), Seq("externalId"), "left_anti")
      .select($"externalId", $"name", lit(AutoDescription).as("description"))
      .as[TimeSeriesMeta]
  }

  /** Catalog after creating the missing series (upsert-by-union; existing
    * rows win, matching the reference's `if external_id not in existing`).
    */
  def upsert(catalog: Dataset[TimeSeriesMeta], created: Dataset[TimeSeriesMeta]): Dataset[TimeSeriesMeta] = {
    val spark = catalog.sparkSession
    import spark.implicits._
    catalog.unionByName(
      created.join(broadcast(catalog.select("externalId")), Seq("externalId"), "left_anti")
        .select($"externalId", $"name", $"description").as[TimeSeriesMeta])
  }
}
