package graft.etl

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Warehouse publish: the empty-delta guard, the key-type check of the
  * key-column read, and keyless tables leaving the warehouse unread.
  */
class PublishSpec extends SparkSpec {

  private lazy val zones = {
    val z = Zones(Files.createTempDirectory("graft_publish_spec").toString)
    Pipeline.run(spark, z, 2024, 1, 5)
    z
  }
  private def curated(t: String) = zones.curated(2024, 1, 5, t)

  private def files(dir: String): Seq[String] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(_.toString).toSeq.sorted
    finally s.close()
  }

  test("re-publishing a day appends no playback_hist row and writes no warehouse file") {
    val wh = zones.warehouse("playback_hist")
    val before = files(wh)
    assert(CuratedZone.publishTable(spark, curated("playback_hist"), wh) === 0L)
    assert(files(wh) === before)
    assert(Zones.readParquet(spark, wh).count() === 3)
  }

  test("a warehouse whose played_at type differs from the day's fails the publish") {
    val wh = s"${zones.root}/warehouse_string_key/playback_hist"
    Zones.readParquet(spark, curated("playback_hist"))
      .withColumn("played_at", col("played_at").cast("string"))
      .write.parquet(wh)
    val before = files(wh)
    val e = intercept[Exception](CuratedZone.publishTable(spark, curated("playback_hist"), wh))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("PARQUET_COLUMN_DATA_TYPE_MISMATCH")))
    assert(files(wh) === before)
  }

  test("keyless tables append without reading the warehouse") {
    val wh = s"${zones.root}/warehouse_unreadable/albums"
    Files.createDirectories(Paths.get(wh))
    Files.writeString(Paths.get(wh, "part-00000-unreadable.parquet"), "not parquet")
    assert(CuratedZone.publishTable(spark, curated("albums"), wh) === 2L)
  }
}
