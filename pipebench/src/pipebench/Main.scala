package pipebench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.PipebenchShim
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.etl.{CleanZone, CuratedZone, Pipeline, Zones}

/** The benchmark's JVM side: runs one workload as a closed loop with one
  * client, and writes what it measured as JSON for `run.py`.
  *
  * A pass is a fixed amount of work: every day of the landing zone in date
  * order into a fresh warehouse, or every query of the mix once. Set-up starts
  * a session three times (the median is reported), loads the inputs and runs
  * one cold warm-up pass. `--settle N` more untimed passes let the JIT reach a
  * steady state. Timed passes follow until `--seconds` is spent. With
  * `--trace 1` they alternate untraced and traced, so the run measures its own
  * tracing overhead.
  *
  * Usage: `pipebench.Main --workload W --data DIR --work DIR --seconds S
  * --trace 0|1 --out FILE [--settle N] [--queries q1,q2,...]`
  */
object Main {
  val Cores = 4

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = new Json
    val code = try { run(a, out); 0 }
    catch { case e: Throwable => e.printStackTrace(); 1 }
    Files.writeString(Paths.get(a("out")), out.result)
    // everything is written and every query stopped; skip the shutdown hooks
    Runtime.getRuntime.halt(code)
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The repository module a query belongs to: the package of the object
    * whose `queries` map defines it (`graft.ops.CoreOps` -> `ops`). */
  def moduleOf(fn: AnyRef): String =
    fn.getClass.getName.stripPrefix("graft.").takeWhile(c => c != '.' && c != '$')

  /** Heap in use after a full GC. Spark's cleaner frees blocks of collected
    * RDDs and broadcasts only after a first GC, so collect twice. */
  private def heapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  private def run(a: Map[String, String], out: Json): Unit = {
    val workload = a("workload")
    val data = a("data")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    out.str("workload", workload)

    var spark: SparkSession = null
    val trace = new Trace(l => spark.sparkContext.setLocalProperty(Trace.LayerProp, l))
    val wl: Workload =
      if (workload.startsWith("pipeline")) new PipelineWorkload(data, work, trace)
      else new QueryWorkload(data, work, trace, a("queries").split(",").toSeq)

    wl match {
      case q: QueryWorkload =>
        val o = new Json
        q.ops.foreach(n => SparkEntry.oracleSql.get(n).foreach(o.str(n, _)))
        out.raw("oracles", o.result)
      case _ =>
    }

    // set-up: three session starts (the first pays for class loading), the
    // input load, then one warm-up pass
    val sessionS = (1 to 3).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(work)
      (System.nanoTime() - t0) / 1e9
    }
    out.nums("session_s", sessionS)
    val w0 = System.nanoTime()
    wl.load(spark)
    out.num("load_s", (System.nanoTime() - w0) / 1e9)
    val warm = wl.pass(spark, "warm", check = true, wl.warmOps)
    out.num("warmup_s", warm.wallS)
    out.raw("warm", warm.json)

    // untimed passes that let the JIT settle before the timed ones
    val settle = (1 to a.getOrElse("settle", "0").toInt).map { i =>
      val r = wl.pass(spark, s"s$i", check = false)
      r.settle = true
      r
    }
    val passes = mutable.ArrayBuffer.empty[PassResult]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // traced: untraced, traced, untraced, so the overhead is not warm-up drift
    val minPasses = if (traced) 3 else 1
    while (passes.size < minPasses || elapsed < seconds) {
      val tracedPass = traced && passes.size % 2 == 1
      val id = s"p${passes.size + 1}"
      if (tracedPass) {
        PipebenchShim.drain(spark)
        trace.reset()
        spark.sparkContext.addSparkListener(trace.sparkListener)
        spark.streams.addListener(trace.streamListener)
        trace.enabled = true
      }
      val r = wl.pass(spark, id, check = false)
      r.traced = tracedPass
      if (tracedPass) {
        trace.enabled = false
        PipebenchShim.drain(spark)
        spark.sparkContext.removeSparkListener(trace.sparkListener)
        spark.streams.removeListener(trace.streamListener)
        r.counters = counterJson(trace)
      }
      r.heapMb = heapMb()
      passes += r
    }
    out.num("timed_s", elapsed)
    out.raw("passes", (settle ++ passes).map(_.json).mkString("[", ",", "]"))
    if (traced) {
      val w = new java.io.PrintWriter(a("out") + ".spans.jsonl")
      trace.recorded.foreach { s =>
        val j = new Json
        j.num("id", s.id); j.str("name", s.name); j.num("start_ns", s.startNs)
        j.num("end_ns", s.endNs); j.num("parent", s.parent); j.str("run", s.runId)
        w.println(j.result)
      }
      w.close()
    }
  }

  private def counterJson(t: Trace): String = {
    val j = new Json
    t.counters.forEach { (layer, c) =>
      val l = new Json
      l.num("jobs", c.jobs); l.num("tasks", c.tasks); l.num("task_run_s", c.taskRunMs / 1e3)
      l.num("task_cpu_s", c.taskCpuNs / 1e9); l.num("shuffle_write_bytes", c.shuffleWriteBytes)
      l.num("spill_bytes", c.spillBytes); l.num("gc_s", c.gcMs / 1e3)
      j.raw(layer, l.result)
    }
    val s = new Json
    t.streams.synchronized {
      s.num("batches", t.streams.batches); s.num("add_batch_s", t.streams.addBatchMs / 1e3)
      s.num("state_commit_s", t.streams.stateCommitMs / 1e3)
      s.num("state_rows", t.streams.stateRows.values.sum)
    }
    j.raw("stream_progress", s.result)
    j.result
  }
}

/** One op of a pass: a day or a query. */
final class OpResult(val name: String, val seconds: Double, val error: Option[String],
    val detail: Json)

final class PassResult(val id: String, val wallS: Double, val ops: Seq[OpResult]) {
  var traced = false
  var settle = false
  var heapMb = 0.0
  var counters = "{}"
  def json: String = {
    val j = new Json
    j.str("id", id); j.num("wall_s", wallS); j.bool("traced", traced); j.bool("settle", settle)
    j.num("heap_mb", heapMb)
    j.raw("counters", counters)
    j.raw("ops", ops.map { o =>
      val oj = new Json
      oj.str("name", o.name); oj.num("s", o.seconds)
      o.error.foreach(oj.str("error", _))
      oj.raw("detail", o.detail.result)
      oj.result
    }.mkString("[", ",", "]"))
    j.result
  }
}

trait Workload {
  def trace: Trace
  /** Touches the inputs once a session is up (counted in set-up). */
  def load(spark: SparkSession): Unit
  def ops: Seq[String]
  /** Runs one op; `check` marks the warm-up pass, whose outputs are kept
    * for the full output check. */
  def op(spark: SparkSession, passId: String, name: String, check: Boolean): Json
  /** The ops of the warm-up pass. */
  def warmOps: Seq[String] = ops

  def pass(spark: SparkSession, id: String, check: Boolean,
      passOps: Seq[String] = ops): PassResult = {
    val t0 = System.nanoTime()
    trace.setRun(id)
    val results = trace.span("pass") {
      passOps.map { name =>
        trace.setRun(s"$id/$name")
        val s0 = System.nanoTime()
        val (detail, err) =
          try (trace.span("op")(op(spark, id, name, check)), None)
          catch { case e: Throwable =>
            (new Json, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
          }
        new OpResult(name, (System.nanoTime() - s0) / 1e9, err, detail)
      }
    }
    new PassResult(id, (System.nanoTime() - t0) / 1e9, results)
  }
}

/** The reference's daily job, called layer by layer: clean zone (build the
  * three frames, write them as CSV), curated zone, warehouse publish. Each
  * pass writes into its own zone root, so every pass starts from an empty
  * warehouse and does the same work. */
final class PipelineWorkload(data: String, work: String, val trace: Trace) extends Workload {
  private val landing = s"$data/landing"
  /** `y/m/d` of every landed day, in date order. */
  val ops: Seq[String] = {
    def sub(f: File) = Option(f.listFiles).getOrElse(Array.empty[File]).filter(_.isDirectory).toSeq
    (for (y <- sub(new File(landing)); m <- sub(y); d <- sub(m))
      yield (y.getName.toInt, m.getName.toInt, d.getName.toInt)).sorted
      .map { case (y, m, d) => s"$y/$m/$d" }
  }
  require(ops.nonEmpty, s"no landing documents under $landing")
  /** Every day runs the same code, so one day warms it all up. */
  override def warmOps: Seq[String] = ops.take(1)

  def load(spark: SparkSession): Unit = ops.foreach { d =>
    require(new File(s"$landing/$d/playback_hist.json").isFile, s"missing landing day $d")
  }

  def op(spark: SparkSession, passId: String, day: String, check: Boolean): Json = {
    val Array(y, m, d) = day.split("/").map(_.toInt)
    val z = Zones(s"$work/zones/$passId")
    val (playback, albums, artists) =
      trace.span("etl.clean.build")(CleanZone.run(spark, s"$landing/$day/playback_hist.json"))
    trace.span("etl.clean.write") {
      Zones.writeCsv(playback, z.clean(y, m, d, "playback_hist"))
      Zones.writeCsv(albums, z.clean(y, m, d, "albums"))
      Zones.writeCsv(artists, z.clean(y, m, d, "artists"))
    }
    trace.span("etl.curate") {
      Pipeline.tables.foreach(t => CuratedZone.curateTable(spark, z.clean(y, m, d, t), z.curated(y, m, d, t)))
    }
    val appended = trace.span("etl.publish") {
      Pipeline.tables.map(t => t -> CuratedZone.publishTable(spark, z.curated(y, m, d, t), z.warehouse(t)))
    }
    val j = new Json
    appended.foreach { case (t, n) => j.num(t, n) }
    val r = new Json
    r.raw("appended", j.result)
    r.str("root", z.root)
    r
  }
}

/** A fixed mix of `SparkEntry.queries`, each timed as build (the query
  * function), plan (`executedPlan`) and execution (`toRdd.count`), under the
  * name of the module that defines it. The warm-up pass also writes every
  * result for the oracle check. */
final class QueryWorkload(data: String, work: String, val trace: Trace,
    val ops: Seq[String]) extends Workload {
  private val fns = ops.map(q => q -> SparkEntry.queries.getOrElse(q,
    throw new IllegalArgumentException(s"unknown query $q"))).toMap

  def load(spark: SparkSession): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").foreach(t => graft.Tables.table(spark, data, t).schema)

  def op(spark: SparkSession, passId: String, q: String, check: Boolean): Json = {
    val m = Main.moduleOf(fns(q))
    val r = new Json
    r.str("module", m)
    if (check) {
      fns(q)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$work/results/$q")
    } else {
      val df: DataFrame = trace.span(s"$m.build")(fns(q)(spark, data))
      trace.span(s"$m.plan")(df.queryExecution.executedPlan)
      r.num("rows", trace.span(s"$m.exec")(df.queryExecution.toRdd.count()))
    }
    r
  }
}

/** A minimal JSON object writer (no dependency beyond the JDK). */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[String]
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def raw(k: String, v: String): Unit = fields += s"${q(k)}:$v"
  def str(k: String, v: String): Unit = raw(k, q(v))
  def num(k: String, v: Double): Unit = raw(k, if (v.isNaN || v.isInfinite) "null" else v.toString)
  def num(k: String, v: Long): Unit = raw(k, v.toString)
  def nums(k: String, v: Seq[Double]): Unit = raw(k, v.mkString("[", ",", "]"))
  def bool(k: String, v: Boolean): Unit = raw(k, v.toString)
  def result: String = fields.mkString("{", ",", "}")
}
