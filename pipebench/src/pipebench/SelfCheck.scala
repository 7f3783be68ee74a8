package pipebench

import org.apache.spark.PipebenchShim

/** Checks that [[Trace]] gives each layer exactly the jobs and tasks that
  * were submitted under it: from the harness thread, from a thread started
  * inside the layer, from a nested layer, and with no layer open. Prints one
  * line per layer and exits non-zero on a mismatch. */
object SelfCheck {
  def main(args: Array[String]): Unit = {
    val spark = Main.session(args.headOption.getOrElse(System.getProperty("java.io.tmpdir")))
    val sc = spark.sparkContext
    val trace = new Trace(l => sc.setLocalProperty(Trace.LayerProp, l))
    sc.addSparkListener(trace.sparkListener)
    trace.enabled = true
    trace.setRun("check")
    trace.span("a")(sc.parallelize(1 to 100, 3).count())
    trace.span("b") {
      val t = new Thread(() => sc.parallelize(1 to 10, 2).count())
      t.start()
      t.join()
    }
    trace.span("outer")(trace.span("inner")(sc.parallelize(1 to 10, 4).map(_ % 2)
      .distinct(2).count()))
    sc.parallelize(1 to 10, 5).count()
    PipebenchShim.drain(spark)
    // (layer, jobs, tasks): distinct() adds a shuffle stage of 2 tasks
    val want = Seq(("a", 1, 3), ("b", 1, 2), ("inner", 1, 6), (Trace.NoLayer, 1, 5))
    var ok = trace.counters.keySet.size == want.size
    want.foreach { case (layer, jobs, tasks) =>
      val c = Option(trace.counters.get(layer)).getOrElse(new LayerCounters)
      val good = c.jobs == jobs && c.tasks == tasks
      ok &&= good
      println(s"${if (good) "ok  " else "FAIL"} layer $layer: ${c.jobs} jobs, ${c.tasks} tasks " +
        s"(want $jobs, $tasks)")
    }
    val spans = trace.recorded.map(s => s.name -> s).toMap
    val nested = spans("inner").parent == spans("outer").id && spans("outer").parent == -1
    println(s"${if (nested) "ok  " else "FAIL"} span parents: inner under outer, outer a root")
    ok &&= nested && spans.values.forall(s => s.runId == "check" && s.endNs >= s.startNs)
    spark.stop()
    System.exit(if (ok) 0 else 1)
  }
}
