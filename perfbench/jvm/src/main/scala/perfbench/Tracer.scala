package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder. A span has a name, a layer, start and end
  * (microseconds since the run started), a parent and a request id (the
  * top-level span it belongs to). Spans come only from the benchmark's own
  * code and from Spark's public listeners:
  *
  *   - `span` wraps a public engine call; it also tags the calling
  *     thread's Spark jobs through a local property, so the job listener
  *     can hang each job under the call that ran it;
  *   - jobs (with stage, task, byte and GC totals) from a SparkListener;
  *   - streaming triggers and their phases from a StreamingQueryListener
  *     (`durationMs` of each progress report);
  *   - SQL actions from a QueryExecutionListener.
  *
  * When tracing is off every method is a pass-through and no listener is
  * registered, so untraced runs measure the engine alone.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val t0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis()
  private val lines = new ConcurrentLinkedQueue[String]()
  private val ids = new AtomicLong(0L)
  // (current span, its request) of the calling thread
  private val current = new ThreadLocal[(Long, Long)] {
    override def initialValue(): (Long, Long) = (0L, 0L)
  }

  def nowUs(): Long = (System.nanoTime() - t0) / 1000L
  private def epochUs(ms: Long): Long = (ms - epoch0) * 1000L

  def emit(id: Long, parent: Long, req: Long, name: String, layer: String,
      start: Long, end: Long, attrs: Seq[(String, Double)] = Nil): Unit =
    if (on) {
      val n = Main.json.createObjectNode()
      n.put("id", id).put("parent", parent).put("req", req).put("name", name).put("layer", layer)
        .put("start_us", start).put("end_us", end)
      val at = n.putObject("attrs")
      attrs.foreach { case (k, v) => at.put(k, v) }
      lines.add(Main.json.writeValueAsString(n))
    }

  /** Time `f` as a span under the thread's current span. */
  def span[T](name: String, layer: String, attrs: Seq[(String, Double)] = Nil)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val (parent, req0) = current.get
      val req = if (req0 == 0L) id else req0
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(Tracer.SpanKey)
      current.set((id, req))
      sc.setLocalProperty(Tracer.SpanKey, s"$id:$req")
      val start = nowUs()
      try f
      finally {
        val end = nowUs()
        current.set((parent, req0))
        sc.setLocalProperty(Tracer.SpanKey, prevProp)
        emit(id, parent, req, name, layer, start, end, attrs)
      }
    }

  /** A run phase (setup, measure, check): a root span of layer `phase`
    * that is nobody's parent, so request trees stay per call.
    */
  def phase[T](name: String)(f: => T): T = {
    val start = nowUs()
    try f finally if (on) emit(ids.incrementAndGet(), 0L, 0L, name, "phase", start, nowUs())
  }

  /** A span recorded after the fact (a handler call timed by its caller). */
  def record(name: String, layer: String, start: Long, end: Long,
      attrs: Seq[(String, Double)] = Nil): Unit =
    if (on) {
      val id = ids.incrementAndGet()
      val (parent, req0) = current.get
      emit(id, parent, if (req0 == 0L) id else req0, name, layer, start, end, attrs)
    }

  private object Jobs extends SparkListener {
    final class J(val start: Long, val parent: Long, val req: Long, val stream: Boolean) {
      var stages, tasks = 0
      var taskMs, inBytes, inRecords, shuffleW, spill, gcMs = 0.0
    }
    private val jobs = mutable.HashMap.empty[Int, J]
    private val stageJob = mutable.HashMap.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      val tag = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).map(_.split(':'))
      val stream = props.exists(p => p.getProperty("sql.streaming.queryId") != null)
      jobs(e.jobId) = new J(epochUs(e.time), tag.fold(0L)(_(0).toLong),
        tag.fold(0L)(_(1).toLong), stream)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.taskMs += m.executorRunTime
          j.inBytes += m.inputMetrics.bytesRead
          j.inRecords += m.inputMetrics.recordsRead
          j.shuffleW += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.gcMs += m.jvmGCTime
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.remove(e.jobId).foreach { j =>
        emit(ids.incrementAndGet(), j.parent, j.req, "job",
          if (j.stream) "stream.job" else "spark", j.start, epochUs(e.time),
          Seq("stages" -> j.stages, "tasks" -> j.tasks, "task_ms" -> j.taskMs,
            "input_bytes" -> j.inBytes, "input_records" -> j.inRecords,
            "shuffle_write_bytes" -> j.shuffleW,
            "spill_bytes" -> j.spill, "gc_ms" -> j.gcMs))
      }
    }
  }

  private object Triggers extends StreamingQueryListener {
    // the order MicroBatchExecution runs a trigger's phases in
    private val phases =
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val start = epochUs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val total = d.getOrElse("triggerExecution", 0L)
      val id = ids.incrementAndGet()
      emit(id, 0L, id, "trigger", "stream", start, start + total * 1000L,
        Seq("rows" -> p.numInputRows.toDouble, "batch" -> p.batchId.toDouble))
      var at = start
      phases.foreach { ph =>
        d.get(ph).foreach { ms =>
          emit(ids.incrementAndGet(), id, id, ph, "stream", at, at + ms * 1000L)
          at += ms * 1000L
        }
      }
    }
  }

  private object Actions extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val end = nowUs()
      emit(ids.incrementAndGet(), 0L, 0L, funcName, "sql.action", end - durationNs / 1000L, end)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (on) {
    spark.sparkContext.addSparkListener(Jobs)
    spark.streams.addListener(Triggers)
    spark.listenerManager.register(Actions)
  }

  /** Wait for the listeners to see every event, then write the spans. */
  def finish(path: String): Unit = if (on) {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext, 60000L)
    val out = lines.asScala.mkString("", "\n", "\n")
    Files.write(Paths.get(path), out.getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
