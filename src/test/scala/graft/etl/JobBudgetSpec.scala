package graft.etl

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec
import graft.ingest.Fixture

/** Job budget of one warm pipeline day: the Spark jobs that the ten zone
  * calls of day two submit (`CleanZone.run`, `Zones.writeCsv` ×3,
  * `CuratedZone.curateTable` ×3, `CuratedZone.publishTable` ×3). A daily
  * batch of ~50 plays is bound by per-job planning and scheduling overhead, so
  * the job count is the cost that matters.
  */
class JobBudgetSpec extends SparkSpec {
  import JobBudgetSpec._

  private def day(z: Zones, landed: String, d: Int): Unit = {
    val (playback, albums, artists) = CleanZone.run(spark, landed)
    Zones.writeCsv(playback, z.clean(2024, 3, d, "playback_hist"))
    Zones.writeCsv(albums, z.clean(2024, 3, d, "albums"))
    Zones.writeCsv(artists, z.clean(2024, 3, d, "artists"))
    Pipeline.tables.foreach(t => CuratedZone.curateTable(spark, z.clean(2024, 3, d, t), z.curated(2024, 3, d, t)))
    Pipeline.tables.foreach(t => CuratedZone.publishTable(spark, z.curated(2024, 3, d, t), z.warehouse(t)))
  }

  test(s"day two of the pipeline runs at most $Budget Spark jobs") {
    val z = Zones(Files.createTempDirectory("graft_job_budget").toString)
    day(z, Fixture.land(z.landing(2024, 3, 1)), 1)
    val a = LandingDocs.artist("ar9", "Day Two Artist")
    val day2 = LandingDocs.land(z.landing(2024, 3, 2), Seq(
      LandingDocs.item(Some("2024-03-02T08:00:00.000Z"), Some("tr9"), Some(Seq(a)),
        LandingDocs.album("al9", "1999")),
      LandingDocs.item(Some("2024-03-02T09:00:00.000Z"), Some("tr8"), Some(Seq(a)),
        LandingDocs.album("al9", "1999"))))

    val sc = spark.sparkContext
    val counter = new JobCounter
    sc.addSparkListener(counter)
    try {
      sc.setLocalProperty(PhaseKey, "count")
      day(z, day2, 2)
      sc.setLocalProperty(PhaseKey, "end")
      spark.range(1).count()
      // listener events arrive in order: the marker job's start comes last
      assert(counter.ended.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
    } finally {
      sc.setLocalProperty(PhaseKey, null)
      sc.removeSparkListener(counter)
    }
    val jobs = counter.jobs.get
    info(s"day two ran $jobs Spark jobs")
    assert(jobs > 0)
    assert(jobs <= Budget)
  }
}

object JobBudgetSpec {
  /** Day two measured 38 jobs in the fused clean zone and the trimmed
    * publish, and 47 before them; the bound leaves two jobs of slack. */
  val Budget = 40
  private val PhaseKey = "graft.spec.jobBudgetPhase"

  private final class JobCounter extends SparkListener {
    val jobs = new AtomicInteger
    val ended = new CountDownLatch(1)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).map(_.getProperty(PhaseKey)) match {
        case Some("count") => jobs.incrementAndGet()
        case Some("end") => ended.countDown()
        case _ =>
      }
  }
}
