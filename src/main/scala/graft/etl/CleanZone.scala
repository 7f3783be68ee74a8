package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Clean-zone job: flatten the nested playback JSON into three relational
  * tables (reference: spark_jobs/playback_pipeline.py:91-225,278-310),
  * each parse implemented once as a pure DataFrame => DataFrame.
  *
  * Differences from the reference are mechanism-only (SURVEY §4.3): the two
  * Python UDFs are native Column expressions ([[Functions]]), no interleaved
  * show()/count() actions re-running the lineage, and each output is
  * computed once.
  *
  * playback_hist is one keyed aggregation, not the reference's four steps
  * (dedup the tracks, explode and regroup the artists, left-join the two
  * on (played_at, id), dedup the joined rows). A daily document is ~50
  * plays, so each Spark job costs scheduling and planning time, not rows, and
  * three of the four steps' jobs were redundant: the tracks' dedup and the
  * artists' regroup shuffle on the same key, so one aggregation does both;
  * the join only re-attached a per-key bag to that key's rows, so its
  * broadcast job goes; and the rows of each key are already distinct, so
  * the post-join dedup shuffle goes.
  *
  * Every table is planned as one partition from scan to sink. The landing
  * document is one multiline JSON file, which Spark reads as one
  * unsplittable task anyway, so [[items]] coalesces it to one partition
  * before the explode. That single partition satisfies the distributions
  * that the dedups, the playback aggregation and the `played_at` sort
  * require, so no table plans an exchange: each write is one job of one
  * stage, and each table lands as one `part-` file (the K3 convention,
  * [[Zones.renameSinglePartFile]]) by construction.
  */
object CleanZone {

  /** S1 — multiline nested JSON scan (reference:
    * spark_jobs/playback_pipeline.py:264). Schema inference preserved as the
    * reference behavior; pass an explicit schema for production hardening.
    */
  def readLanding(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)

  private def items(df: DataFrame): DataFrame =
    df.coalesce(1).select(explode(col("items")).as("items")).select("items.*")

  /** albums — 9-column contract (reference: playback_pipeline.py:91-112). */
  def parseAlbums(df: DataFrame): DataFrame =
    items(df)
      .select("track.album")
      .select(
        col("album.album_type").as("album_type"),
        col("album.href").as("album_href"),
        col("album.id").as("album_id"),
        col("album.name").as("album_name"),
        col("album.release_date").as("album_release_date"),
        col("album.release_date_precision").as("album_release_date_precision"),
        col("album.total_tracks").as("total_tracks"),
        col("album.type").as("type"),
        col("album.uri").as("album_uri"))
      .withColumn("album_release_date", Functions.completeYear(col("album_release_date")))
      .dropDuplicates()

  /** artists — 5-column contract incl. the 2-level nested path
    * external_urls.spotify (reference: playback_pipeline.py:115-136). */
  def parseArtists(df: DataFrame): DataFrame =
    items(df)
      .select("track.artists")
      .select(explode(col("artists")).as("artists_exploded"))
      .select(
        col("artists_exploded.external_urls.spotify").as("artist_spotify_url"),
        col("artists_exploded.href").as("artist_href"),
        col("artists_exploded.id").as("artist_id"),
        col("artists_exploded.name").as("artist_name"),
        col("artists_exploded.uri").as("artist_uri"))
      .dropDuplicates()

  /** The 15-column playback_hist output contract, exact order
    * (reference: playback_pipeline.py:289-307; SURVEY §1.5). */
  val outputCols: Seq[String] = Seq(
    "played_at", "duration_ms", "duration_s", "duration_min",
    "track_href", "track_id", "track_name", "track_uri",
    "artist_names", "artist_ids", "popularity",
    "album_id", "album_name", "album_release_date", "album_uri")

  /** playback_hist — one keyed aggregation over the items, grouped by the
    * play key (`played_at`, `track.id`), then the global played_at sort
    * (reference: playback_pipeline.py:161-225,278-307).
    *
    * Per key, `flatten(collect_list(track.artists))` is the artist bag: it
    * sees every item of the key, so an exactly duplicated item doubles the
    * bag just as the reference's explode + regroup does. `collect_set` of
    * the other 13 output columns, exploded, yields the key's distinct rows,
    * which is what the reference's dedup → join → dedup leaves. The bag is
    * null wherever the reference's left join finds no match: a null
    * played_at or track.id, or no artists at all (explode drops null and
    * empty arrays).
    * The names and ids are still regexed out of the bag's JSON text
    * ([[Functions.valuesFromKey]], SURVEY §2.9 F9).
    */
  def playbackHistory(df: DataFrame): DataFrame = {
    val track = (f: String) => col(s"track.$f")
    val row = struct(
      col("played_at"),
      track("duration_ms").as("duration_ms"),
      Functions.durationSeconds(track("duration_ms")).as("duration_s"),
      Functions.durationMinutes(track("duration_ms")).as("duration_min"),
      track("href").as("track_href"),
      track("id").as("track_id"),
      track("name").as("track_name"),
      track("uri").as("track_uri"),
      track("popularity").as("popularity"),
      track("album.id").as("album_id"),
      track("album.name").as("album_name"),
      Functions.completeYear(track("album.release_date")).as("album_release_date"),
      track("album.uri").as("album_uri"))
    val bag = col("bag")
    val fromBag = (key: String) => Functions.valuesFromKey(col("bagged_artists"), key)
    val bagged = when(col("played_at").isNotNull && col("track_id").isNotNull && size(bag) > 0,
      to_json(transform(bag, a => named_struct(
        lit("artist_name"), a("name"), lit("artist_id"), a("id"), lit("artist_uri"), a("uri")))))
    items(df)
      .groupBy(col("played_at"), track("id").as("track_id"))
      .agg(flatten(collect_list(track("artists"))).as("bag"), collect_set(row).as("rows"))
      .select(explode(col("rows")).as("row"), bagged.as("bagged_artists"))
      .select(outputCols.map {
        case "artist_names" => fromBag("artist_name").as("artist_names")
        case "artist_ids" => fromBag("artist_id").as("artist_ids")
        case c => col(s"row.$c").as(c)
      }: _*)
      .orderBy("played_at")
  }

  /** Full clean-zone job over one landing document: returns the three
    * output tables (playback_hist, albums, artists). */
  def run(spark: SparkSession, landingJsonPath: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val df = readLanding(spark, landingJsonPath)
    (playbackHistory(df), parseAlbums(df), parseArtists(df))
  }
}
