package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ingest.Fixture

/** The clean zone's one-aggregation playback_hist against the reference's
  * four-step formulation, kept here as the oracle.
  */
class CleanZoneSpec extends SparkSpec {
  import LandingDocs._

  /** The reference's playback_hist plan (playback_pipeline.py:161-225,
    * 278-307): dedup the flattened tracks, explode and regroup the artists
    * into a JSON bag per (played_at, id), left-join the two on that key,
    * project the 15 output columns, dedup, sort.
    */
  private object FourStep {
    private def items(df: DataFrame): DataFrame =
      df.select(explode(col("items")).as("items")).select("items.*")

    def bagArtists(df: DataFrame): DataFrame =
      items(df)
        .select(col("played_at"), col("track.id").as("id"),
          explode(col("track.artists")).as("artists_exploded"))
        .select(
          col("played_at"), col("id"),
          col("artists_exploded.name").as("artist_name"),
          col("artists_exploded.id").as("artist_id"),
          col("artists_exploded.uri").as("artist_uri"))
        .groupBy(col("played_at"), col("id"))
        .agg(to_json(collect_list(struct(
          col("artist_name"), col("artist_id"), col("artist_uri")))).as("bagged_artists"))
        .withColumn("artist_names", Functions.valuesFromKey(col("bagged_artists"), "artist_name"))
        .withColumn("artist_ids", Functions.valuesFromKey(col("bagged_artists"), "artist_id"))

    def parseTracks(df: DataFrame): DataFrame =
      items(df)
        .select(
          col("played_at"),
          col("track.album").as("album"),
          col("track.artists").as("artists"),
          col("track.duration_ms").as("duration_ms"),
          col("track.href").as("track_href"),
          col("track.id").as("track_id"),
          col("track.name").as("track_name"),
          col("track.popularity").as("popularity"),
          col("track.type").as("type"),
          col("track.uri").as("track_uri"))
        .select(col("*"),
          col("album.id").as("album_id"),
          col("album.name").as("album_name"),
          col("album.release_date").as("album_release_date"),
          col("album.uri").as("album_uri"))
        .drop("album")
        .withColumn("duration_s", Functions.durationSeconds(col("duration_ms")))
        .withColumn("duration_min", Functions.durationMinutes(col("duration_ms")))
        .withColumn("album_release_date", Functions.completeYear(col("album_release_date")))
        .dropDuplicates()

    def playbackHistory(df: DataFrame): DataFrame = {
      val tracks = parseTracks(df)
      val bagged = bagArtists(df)
      tracks.join(bagged,
          tracks("played_at") === bagged("played_at") &&
            tracks("track_id") === bagged("id"), "left")
        .select(tracks("*") +: Seq(
          bagged("artist_names"), bagged("artist_ids"), bagged("bagged_artists")): _*)
        .select(CleanZone.outputCols.map(col): _*)
        .dropDuplicates()
        .orderBy("played_at")
    }
  }

  private def landed(items: Seq[String]): DataFrame =
    CleanZone.readLanding(spark,
      land(Files.createTempDirectory("graft_clean_spec").toString, items))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def assertEquivalent(df: DataFrame): Array[Row] = {
    val fused = CleanZone.playbackHistory(df)
    val oracle = FourStep.playbackHistory(df)
    assert(fused.schema.map(f => f.name -> f.dataType) === oracle.schema.map(f => f.name -> f.dataType))
    assert(sortedRows(fused) === sortedRows(oracle))
    val rows = fused.collect()
    val playedAt = rows.map(r => Option(r.getAs[String]("played_at")))
    assert(playedAt.toSeq === playedAt.sorted.toSeq, "rows leave sorted by played_at")
    rows
  }

  private val bare = album("al1", "1974")
  private val full = album("al2", "2020-03-15")
  private val a1 = artist("ar1", "Solo Artist")
  private val a2 = artist("ar2", "Guest Artist")
  private val quoted = artist("ar3", "The \"Quoted\" Band")

  test("fused playback_hist matches the four-step oracle on the landing fixture") {
    val df = CleanZone.readLanding(spark,
      Fixture.land(Files.createTempDirectory("graft_clean_spec").toString))
    assert(assertEquivalent(df).length === 3)
  }

  test("fused playback_hist matches the four-step oracle on duplicate, null, empty and quoted inputs") {
    val t = (s: String) => Some(s"2024-02-01T$s.000Z")
    val items = Seq(
      // exact-duplicate items: one row, doubled bag
      item(t("10:00:00"), Some("tr1"), Some(Seq(a1, a2)), bare),
      item(t("10:00:00"), Some("tr1"), Some(Seq(a1, a2)), bare),
      // same key, different popularity: two rows sharing one bag of both items' artists
      item(t("10:05:00"), Some("tr1"), Some(Seq(a1)), bare, popularity = 50),
      item(t("10:05:00"), Some("tr1"), Some(Seq(a2)), bare, popularity = 51),
      // null track.id, null played_at: the reference's join never matches
      item(t("11:00:00"), None, Some(Seq(a1)), full),
      item(t("11:00:00"), None, Some(Seq(a2)), full, popularity = 7),
      item(None, Some("tr2"), Some(Seq(a2)), full),
      // null and empty artists arrays: no bag
      item(t("12:00:00"), Some("tr3"), None, full),
      item(t("12:30:00"), Some("tr4"), Some(Seq.empty), bare),
      // an artist name with a '"': the regex-over-JSON quirk truncates it
      item(t("13:00:00"), Some("tr5"), Some(Seq(quoted, a1)), full),
      // one played_at, two different tracks
      item(t("14:00:00"), Some("tr6"), Some(Seq(a1)), bare, durationMs = 123456),
      item(t("14:00:00"), Some("tr7"), Some(Seq(a2)), album("al3", "2001")))
    val rows = assertEquivalent(landed(items))
    assert(rows.length === 11)

    val byTrack = (id: String) => rows.filter(_.getAs[String]("track_id") == id)
    val doubled = byTrack("tr1").filter(_.getAs[String]("played_at") == "2024-02-01T10:00:00.000Z")
    assert(doubled.map(_.getAs[String]("artist_names")).toSeq
      === Seq("Solo Artist, Guest Artist, Solo Artist, Guest Artist"))
    assert(byTrack("tr1").filter(_.getAs[String]("played_at") == "2024-02-01T10:05:00.000Z")
      .map(_.getAs[String]("artist_ids")).toSeq === Seq("ar1, ar2", "ar1, ar2"))
    assert(rows.filter(_.getAs[String]("track_id") == null)
      .forall(_.getAs[String]("artist_names") == null))
    assert(byTrack("tr2").map(_.getAs[String]("artist_names")).toSeq === Seq(null))
    assert(byTrack("tr3").map(_.getAs[String]("artist_names")).toSeq === Seq(null))
    assert(byTrack("tr4").map(_.getAs[String]("artist_ids")).toSeq === Seq(null))
    assert(byTrack("tr5").map(_.getAs[String]("artist_names")).toSeq
      === Seq("The \\, Solo Artist"))
    assert(byTrack("tr7").map(_.getAs[String]("album_release_date")).toSeq === Seq("2001-12-31"))
  }
}
