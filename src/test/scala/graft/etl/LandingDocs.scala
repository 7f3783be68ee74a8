package graft.etl

import java.nio.file.{Files, Paths}

/** Landing documents for the etl specs, in the shape of
  * [[graft.ingest.Fixture.playbackHistJson]] but with every field the
  * tests vary: a `None` key or artist list is written as JSON `null`.
  */
object LandingDocs {

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def opt(s: Option[String]): String = s.map(str).getOrElse("null")

  def artist(id: String, name: String): String =
    s"""{"external_urls": {"spotify": ${str(s"https://open.spotify.test/artist/$id")}},
       | "href": ${str(s"https://api.spotify.test/v1/artists/$id")},
       | "id": ${str(id)}, "name": ${str(name)}, "uri": ${str(s"spotify:artist:$id")}}""".stripMargin

  def album(id: String, releaseDate: String): String =
    s"""{"album_type": "album", "artists": [{"id": "ar0"}],
       | "href": ${str(s"https://api.spotify.test/v1/albums/$id")}, "id": ${str(id)},
       | "name": ${str(s"Album $id")}, "release_date": ${str(releaseDate)},
       | "release_date_precision": ${str(if (releaseDate.length == 4) "year" else "day")},
       | "total_tracks": 10, "type": "album", "uri": ${str(s"spotify:album:$id")}}""".stripMargin

  def item(playedAt: Option[String], trackId: Option[String], artists: Option[Seq[String]],
      albumJson: String, durationMs: Long = 200000, popularity: Int = 50): String = {
    val name = trackId.getOrElse("untitled")
    s"""{"played_at": ${opt(playedAt)},
       | "track": {"album": $albumJson,
       |  "artists": ${artists.map(_.mkString("[", ", ", "]")).getOrElse("null")},
       |  "duration_ms": $durationMs, "href": ${str(s"https://api.spotify.test/v1/tracks/$name")},
       |  "id": ${opt(trackId)}, "name": ${str(s"Song $name")}, "popularity": $popularity,
       |  "type": "track", "uri": ${str(s"spotify:track:$name")}}}""".stripMargin
  }

  def doc(items: Seq[String]): String = items.mkString("{\"items\": [", ", ", "]}")

  /** Writes `doc(items)` as `{dir}/playback_hist.json` and returns its path. */
  def land(dir: String, items: Seq[String]): String = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "playback_hist.json"), doc(items)).toString
  }
}
