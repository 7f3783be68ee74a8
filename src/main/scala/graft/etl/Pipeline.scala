package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.ingest.Fixture

/** End-to-end pipeline orchestration over a local zone root — the three
  * reference entry points chained (SURVEY §3): ingestion (fixture) →
  * clean-zone job → curated-zone job → warehouse delta append.
  *
  * Returns per-table delta row counts appended to the warehouse.
  */
object Pipeline {

  val tables: Seq[String] = Seq("playback_hist", "albums", "artists")

  def run(spark: SparkSession, zones: Zones, y: Int, m: Int, d: Int): Map[String, Long] = {
    // 1. ingestion stand-in (main.py) — land the fixture document, unless
    //    the date already holds a landed one (a backfill replays it as is)
    val landedDoc = Paths.get(zones.landing(y, m, d), "playback_hist.json")
    val landed =
      if (Files.isRegularFile(landedDoc)) landedDoc.toString
      else Fixture.land(zones.landing(y, m, d))

    // 2. clean-zone job (playback_pipeline.py) — flatten to 3 tables, CSV
    val (playback, albums, artists) = CleanZone.run(spark, landed)
    Zones.writeCsv(playback, zones.clean(y, m, d, "playback_hist"))
    Zones.writeCsv(albums, zones.clean(y, m, d, "albums"))
    Zones.writeCsv(artists, zones.clean(y, m, d, "artists"))

    // 3. curated-zone job (playback_pipeline_curated.py) — CSV→parquet with
    //    audit stamp, then warehouse delta append per table
    tables.map { t =>
      CuratedZone.curateTable(spark, zones.clean(y, m, d, t), zones.curated(y, m, d, t))
      t -> CuratedZone.publishTable(spark, zones.curated(y, m, d, t), zones.warehouse(t))
    }.toMap
  }

  /** Backfill variant (the ad-hoc jobs, SURVEY §3.4): process every date
    * found under the landing zone instead of one day. Dates are discovered
    * from the directory layout, mirroring the blob-path walk at
    * spark_jobs/adhoc/playback_pipeline_adhoc.py:265-274.
    */
  def runBackfill(spark: SparkSession, zones: Zones): Map[(Int, Int, Int), Map[String, Long]] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(zones.root), spark.sparkContext.hadoopConfiguration)
    val landingRoot = new org.apache.hadoop.fs.Path(s"${zones.root}/00_landing_zone")
    if (!fs.exists(landingRoot)) Map.empty
    else {
      val dates = for {
        y <- fs.listStatus(landingRoot).toSeq.filter(_.isDirectory)
        m <- fs.listStatus(y.getPath).toSeq.filter(_.isDirectory)
        d <- fs.listStatus(m.getPath).toSeq.filter(_.isDirectory)
      } yield (y.getPath.getName.toInt, m.getPath.getName.toInt, d.getPath.getName.toInt)
      dates.sorted.map { case (y, m, d) =>
        (y, m, d) -> run(spark, zones, y, m, d)
      }.toMap
    }
  }

  /** Demo main: run the full pipeline twice into a temp root and print the
    * delta counts — the second run must append zero rows (idempotence via
    * the anti-join delta load). */
  def main(args: Array[String]): Unit = {
    val root = if (args.nonEmpty) args(0)
      else java.nio.file.Files.createTempDirectory("graft_zones").toString
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val zones = Zones(root)
    val first = run(spark, zones, 2024, 1, 5)
    val second = run(spark, zones, 2024, 1, 5)
    println(s"first run deltas:  $first")
    println(s"second run deltas: $second " +
      "(expect playback_hist -> 0; albums/artists re-append — reference quirk)")
    spark.stop()
  }
}
