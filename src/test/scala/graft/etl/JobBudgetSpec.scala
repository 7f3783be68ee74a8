package graft.etl

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import graft.SparkSpec
import graft.ingest.Fixture

/** Job budget of one warm pipeline day: the Spark jobs that the ten zone
  * calls of day two submit (`CleanZone.run`, `Zones.writeCsv` ×3,
  * `CuratedZone.curateTable` ×3, `CuratedZone.publishTable` ×3). A daily
  * batch of ~50 plays is bound by per-job planning and scheduling overhead, so
  * the job count is the cost that matters. Every zone query is planned as one
  * partition, so no job may shuffle: each has one stage, and no task writes
  * shuffle bytes.
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

  /** Runs day one, then day two under the counting listener. */
  private lazy val counted: JobCounter = {
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
    counter
  }

  test(s"day two of the pipeline runs at most $Budget Spark jobs") {
    val jobs = counted.stagesPerJob.size
    info(s"day two ran $jobs Spark jobs")
    assert(jobs > 0)
    assert(jobs <= Budget)
  }

  test("every Spark job of day two is one stage that writes no shuffle bytes") {
    val multiStage = counted.stagesPerJob.asScala.filter(_._2 != 1)
    assert(multiStage.isEmpty, "(job -> stages)")
    assert(counted.shuffleWriteBytes.get === 0L)
  }
}

object JobBudgetSpec {
  /** Day two measured 22 jobs with every zone query planned as one
    * partition, 38 with the shuffles they had before, and 47 before the
    * clean-zone fusion and publish trim; the bound leaves two jobs of
    * slack. */
  val Budget = 24
  private val PhaseKey = "graft.spec.jobBudgetPhase"

  private final class JobCounter extends SparkListener {
    val ended = new CountDownLatch(1)
    val stagesPerJob = new ConcurrentHashMap[Int, Int]
    private val countedStages = ConcurrentHashMap.newKeySet[Int]
    val shuffleWriteBytes = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).map(_.getProperty(PhaseKey)) match {
        case Some("count") =>
          stagesPerJob.put(e.jobId, e.stageIds.size)
          e.stageIds.foreach(countedStages.add)
        case Some("end") => ended.countDown()
        case _ =>
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (countedStages.contains(e.stageId) && e.taskMetrics != null)
        shuffleWriteBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
  }
}
