package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Curated-zone job: CSV → Parquet conversion with an audit timestamp,
  * schema-tolerant date normalization, and the incremental anti-join delta
  * load against the warehouse
  * (reference: spark_jobs/playback_pipeline_curated.py:126-217).
  *
  * A daily table is a few dozen rows, so its cost is Spark jobs and
  * planning work, not rows; [[curateTable]] and [[publishTable]] say which
  * redundant jobs and recompiles they leave out, and why.
  *
  * Both plan every query as one partition from scan to sink, so none plans
  * an exchange. One partition matches the traffic: a day's table comes
  * from one landing document of at most 50 plays, read as one task. The
  * only input that grows with history is the warehouse's key column,
  * about 50 timestamps a day, or about 180k after ten years, which one
  * task still hashes as a small build side.
  */
object CuratedZone {

  /** P4+P5 — stamp `upload_timestamp` and move it from last to first column
    * (reference: spark_jobs/playback_pipeline_curated.py:174-175). */
  def addUploadTimestamp(df: DataFrame): DataFrame = {
    val stamped = df.withColumn("upload_timestamp", current_timestamp())
    stamped.select((stamped.columns.last +: stamped.columns.init).map(col): _*)
  }

  /** Schema-tolerant to_date normalization (reference:
    * …curated.py:192-196 — `if "album_release_date" in df.columns`). */
  def normalizeReleaseDate(df: DataFrame): DataFrame =
    if (df.columns.contains("album_release_date"))
      df.withColumn("album_release_date", to_date(col("album_release_date")))
    else df

  /** J2 — incremental delta via left-anti join on the key column, the
    * scale-native default path (reference semantics: …curated.py:89-123;
    * mechanism improved per SURVEY §4.3#4 — no collect() of the key column
    * to the driver; the anti-join shuffles on the key only, and Catalyst
    * broadcasts whichever side is small).
    * Schema-tolerant like the reference: if `key` is absent, pass through.
    */
  def deltaLoad(df: DataFrame, existing: DataFrame, key: String = "played_at"): DataFrame =
    if (!df.columns.contains(key)) df
    else df.join(existing.select(key), Seq(key), "left_anti")

  /** The reference's literal mechanism, kept as the pushdown demonstration:
    * collect the (tiny, ≤50/day) key list to the driver, format as UTC
    * microsecond strings, and filter the warehouse scan with an IN-list that
    * Catalyst pushes into the parquet reader
    * (reference: …curated.py:99-107 — documented scale hazard: only valid
    * while the daily key set is driver-sized).
    */
  def deltaLoadViaInList(df: DataFrame, existing: DataFrame,
      key: String = "played_at"): DataFrame =
    if (!df.columns.contains(key)) df
    else {
      val keys = df.select(
          date_format(col(key), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("k"))
        .collect().map(_.getString(0)).sorted.toSeq
      val dup = existing
        .where(date_format(col(key), "yyyy-MM-dd HH:mm:ss.SSSSSS").isin(keys: _*))
        .select(key)
      df.join(dup, Seq(key), "left_anti")
    }

  /** Curate one clean-zone table: CSV scan (header + inferSchema) → dedup
    * → upload_timestamp first → parquet overwrite
    * (reference: …curated.py:168-179). The stamp is one constant per query,
    * so stamping after the dedup leaves the same rows; it keeps the literal
    * out of the dedup stage, whose generated code then compiles once
    * instead of on every call. The scan is coalesced to one partition, so
    * the dedup needs no shuffle and the write is one single-stage job
    * writing one file; the other two jobs are the CSV header and
    * `inferSchema` reads.
    */
  def curateTable(spark: SparkSession, cleanPath: String, curatedPath: String): DataFrame = {
    val df = addUploadTimestamp(Zones.readCsv(spark, cleanPath).coalesce(1).dropDuplicates())
    Zones.writeParquet(df, curatedPath)
    df
  }

  /** Publish one curated table to the warehouse: parquet scan → to_date →
    * dedup → delta anti-join vs the warehouse → append iff non-empty
    * (reference: …curated.py:181-215). Returns the delta row count appended.
    *
    * The anti-join keys on played_at only, so the curated upload_timestamp
    * rides along into the warehouse exactly as in the reference. Tables
    * WITHOUT played_at (albums, artists) pass through and re-append every
    * run — a reference quirk preserved deliberately (…curated.py:95,122-123:
    * only playback gets delta protection) — so they never read the
    * warehouse. A keyed table reads only the key column, under a one-field
    * schema of the day's key type: no footer-inference job, and a
    * warehouse whose key has another type fails the scan instead of
    * silently mis-matching. Both scans are coalesced to one partition and
    * the warehouse side carries a `shuffle_hash` hint, so the dedup and the
    * anti-join plan over single-partition children: no exchange, and no
    * broadcast job. The row-count guard (K5, …curated.py:207-208) counts
    * the delta's own rows with `toRdd.count()`; the append re-runs the
    * delta uncached and writes one file. A table then costs three jobs a
    * day: the curated Parquet footer read, the count and the append.
    */
  def publishTable(spark: SparkSession, curatedPath: String,
      warehousePath: String): Long = {
    val key = "played_at"
    val df = normalizeReleaseDate(Zones.readParquet(spark, curatedPath).coalesce(1))
      .dropDuplicates()
    val fs = FileSystem.get(new java.net.URI(warehousePath), spark.sparkContext.hadoopConfiguration)
    val delta =
      if (!df.columns.contains(key) || !fs.exists(new Path(warehousePath))) df
      else deltaLoad(df, spark.read.schema(StructType(Seq(df.schema(key))))
        .parquet(warehousePath).coalesce(1).hint("shuffle_hash"), key)
    val n = delta.queryExecution.toRdd.count()
    if (n > 0) delta.write.mode("append").parquet(warehousePath)
    n
  }
}
