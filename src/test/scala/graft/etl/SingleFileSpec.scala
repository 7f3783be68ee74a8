package graft.etl

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The reference's single-file convention (K3, `move_blob`): every clean and
  * curated table of a day is one `part-` file, and each warehouse append adds
  * one. The zone queries are planned as one partition, so this holds by
  * construction; the spec pins it over two landed days.
  */
class SingleFileSpec extends SparkSpec {

  private def partFiles(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator.asScala.map(_.getFileName.toString).filter(_.startsWith("part-")).toSeq.sorted
    finally s.close()
  }

  private def landDay(z: Zones, d: Int): Unit = {
    val a = LandingDocs.artist(s"ar$d", s"Artist $d")
    val b = LandingDocs.artist("ar0", "Shared Artist")
    val album = LandingDocs.album(s"al$d", "2001")
    LandingDocs.land(z.landing(2024, 4, d), Seq(
      LandingDocs.item(Some(f"2024-04-$d%02dT08:00:00.000Z"), Some(s"tr$d"), Some(Seq(a, b)), album),
      LandingDocs.item(Some(f"2024-04-$d%02dT08:00:00.000Z"), Some(s"tr$d"), Some(Seq(a, b)), album),
      LandingDocs.item(Some(f"2024-04-$d%02dT09:30:00.000Z"), Some("tr0"), Some(Seq(b)),
        LandingDocs.album("al0", "1999")),
      LandingDocs.item(Some(f"2024-04-$d%02dT11:00:00.000Z"), Some(s"tr${d}b"), Some(Seq(a)), album)))
  }

  test("each day writes one part file per clean and curated table, and one per warehouse append") {
    val z = Zones(Files.createTempDirectory("graft_single_file").toString)
    for (d <- 1 to 2) {
      landDay(z, d)
      val deltas = Pipeline.run(spark, z, 2024, 4, d)
      Pipeline.tables.foreach { t =>
        assert(partFiles(z.clean(2024, 4, d, t)).size === 1, s"clean $t, day $d")
        assert(partFiles(z.curated(2024, 4, d, t)).size === 1, s"curated $t, day $d")
        assert(deltas(t) > 0, s"day $d appends no $t row")
        assert(partFiles(z.warehouse(t)).size === d, s"warehouse $t after day $d")
      }
    }
    for (d <- 1 to 2; t <- Pipeline.tables) {
      val target = s"2024_4_${d}_$t.csv"
      assert(Zones.renameSinglePartFile(spark, z.clean(2024, 4, d, t), target).isDefined, s"$t, day $d")
      assert(Files.isRegularFile(Paths.get(z.clean(2024, 4, d, t), target)))
    }
  }
}
