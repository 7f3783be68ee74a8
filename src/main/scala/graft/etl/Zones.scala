package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Medallion-zone path conventions + IO, implemented ONCE (the reference
  * copy-pastes `write_to_gcs`/`move_blob` 4×, SURVEY §2.12).
  *
  * Zone layout mirrors the reference's date-partitioned lake
  * (main.py:41-46; spark_jobs/playback_pipeline.py:254-262):
  * `{root}/00_landing_zone/{y}/{m}/{d}/…` → clean CSV → curated Parquet →
  * a local-parquet "warehouse" standing in for BigQuery (no egress).
  *
  * Scale note: directory date-partitioning keeps per-day jobs reading only
  * their own prefix; at cluster scale the same layout becomes Hive-style
  * partition pruning by swapping the path scheme for `date=` partitions —
  * the write API below is already partition-agnostic.
  */
final case class Zones(root: String) {
  def landing(y: Int, m: Int, d: Int): String =
    s"$root/00_landing_zone/$y/$m/$d"
  def clean(y: Int, m: Int, d: Int, table: String): String =
    s"$root/01_clean_zone/$y/$m/$d/$table"
  def curated(y: Int, m: Int, d: Int, table: String): String =
    s"$root/02_curated_zone/$y/$m/$d/$table"
  def warehouse(table: String): String =
    s"$root/warehouse/$table"
}

object Zones {

  /** K1 — clean-zone CSV sink, idempotent overwrite, header row
    * (reference: spark_jobs/playback_pipeline.py:66-88). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** S2 — clean-zone CSV scan with header + schema inference
    * (reference: spark_jobs/playback_pipeline_curated.py:173). */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** K2 — curated-zone Parquet sink, idempotent overwrite
    * (reference: spark_jobs/playback_pipeline_curated.py:64-86). */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** S3 — curated Parquet scan
    * (reference: spark_jobs/playback_pipeline_curated.py:190). */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** K3 — the reference's single-file naming convention: the job writes one
    * `part-*` file and renames it `{y}_{m}_{d}_{table}.{ext}`
    * (reference: move_blob, spark_jobs/playback_pipeline.py:13-63,73-86).
    * Convention, not semantics: only meaningful for small outputs (caller
    * must have coalesced); distributed outputs keep their part files.
    */
  def renameSinglePartFile(spark: SparkSession, dir: String,
      targetName: String): Option[String] = {
    val fs = FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val parts = fs.globStatus(new Path(dir, "part-*"))
    if (parts == null || parts.length != 1) None
    else {
      val dst = new Path(dir, targetName)
      fs.rename(parts.head.getPath, dst)
      Some(dst.toString)
    }
  }

  /** S6 stand-in — object-store listing as discovery scan
    * (reference: bucket.list_blobs + name filter,
    * spark_jobs/playback_pipeline_curated.py:163-166): enumerate table dirs
    * under a zone date prefix on the driver.
    */
  def listTables(spark: SparkSession, datePrefix: String): Seq[String] = {
    val fs = FileSystem.get(new java.net.URI(datePrefix), spark.sparkContext.hadoopConfiguration)
    val p = new Path(datePrefix)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
  }
}
