package pipebench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that was open when this one started (-1 for a root); every span of one
  * day or query shares its `runId`. Times are `System.nanoTime`. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, runId: String)

/** Counters that Spark's task metrics give for the work done under one layer. */
final class LayerCounters {
  var jobs = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
}

/** Spans kept in memory, plus listeners that attribute Spark's work to the
  * layer call that was open when it was submitted.
  *
  * The open layer travels to Spark as the job-local property
  * [[Trace.LayerProp]]; threads that Spark or a query start from the calling
  * thread inherit it. A job that carries no layer (one submitted from a pool
  * thread made earlier) goes to the innermost layer open on the harness
  * thread, so no job is lost.
  */
final class Trace(setProp: String => Unit) {
  /** Off: [[span]] is a plain call and the listeners are not registered. */
  var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, Long, String)] = Nil
  private var nextId = 0
  @volatile private var openLayer = Trace.NoLayer
  private var runId = ""

  val counters = new ConcurrentHashMap[String, LayerCounters]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()

  def recorded: Seq[Span] = spans.toSeq
  def setRun(id: String): Unit = runId = id

  /** Times `body` as span `name`; the span is also the open layer for the
    * jobs `body` submits. With tracing off this is a plain call. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val outer = openLayer
      stack = (id, System.nanoTime(), runId) :: stack
      openLayer = name
      setProp(name)
      try body
      finally {
        val (_, start, run) = stack.head
        spans += Span(id, name, start, System.nanoTime(), parent, run)
        stack = stack.tail
        openLayer = outer
        setProp(outer)
      }
    }

  private def layerOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Trace.LayerProp)))
      .filter(_ != Trace.NoLayer).getOrElse(openLayer)

  private def of(layer: String): LayerCounters =
    counters.computeIfAbsent(layer, _ => new LayerCounters)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val layer = layerOf(e.properties)
      e.stageIds.foreach(s => stageLayer.put(s, layer))
      of(layer).synchronized(of(layer).jobs += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = of(Option(stageLayer.get(e.stageId)).getOrElse(openLayer))
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
          c.gcMs += m.jvmGCTime
        }
      }
    }
  }

  /** Clears the counters before a traced pass. */
  def reset(): Unit = {
    counters.clear()
    stageLayer.clear()
    streams.synchronized {
      streams.batches = 0; streams.addBatchMs = 0; streams.stateCommitMs = 0
      streams.stateRows.clear()
    }
  }

  /** Micro-batch totals from `StreamingQueryProgress`. `stateRows` keeps each
    * query's largest state (rows summed over its stateful operators). */
  object streams {
    var batches = 0L
    var addBatchMs = 0L
    var stateCommitMs = 0L
    val stateRows = mutable.Map.empty[java.util.UUID, Long]
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      streams.synchronized {
        val p = e.progress
        streams.batches += 1
        streams.addBatchMs += Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L)
        streams.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
        val rows = p.stateOperators.map(_.numRowsTotal).sum
        streams.stateRows(p.id) = math.max(rows, streams.stateRows.getOrElse(p.id, 0L))
      }
  }
}

object Trace {
  val LayerProp = "pipebench.layer"
  val NoLayer = "harness"
}
