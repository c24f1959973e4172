package perfbench

import java.io.File

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  *
  * {{{
  * perfbench.Main --workload <name> --input <generated.json> --data <dir>
  *   --work <dir> --trace <0|1> --out <result.json> --spans <spans.jsonl>
  *   [--golden <query goldens.json>]
  * }}}
  *
  * The engine sees only the generated inputs (and the copied test tables
  * under `--data`); every scratch path lives under `--work`. How much
  * work a run does is fixed by the generated inputs.
  */
final case class Args(workload: String, input: JsonNode, data: String, work: String,
    trace: Boolean, out: String, spans: String, golden: String) {
  def dir(name: String): String = {
    val d = new File(work, name)
    d.mkdirs()
    d.getAbsolutePath
  }
}

object Main {
  val Cores = 4
  val json = new ObjectMapper()

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(m("workload"), json.readTree(new File(m("input"))),
      m("data"), m("work"), m("trace") == "1", m("out"), m("spans"),
      m.getOrElse("golden", ""))
    val spark = session(a)
    val tracer = new Tracer(spark, a.trace)
    val rec = new Recorder
    a.workload match {
      case "pubsub_delivery" => PubSub.run(spark, a, tracer, rec)
      case "log_replay" => LogReplay.run(spark, a, tracer, rec)
      case "query_pack" => QueryPack.run(spark, a, tracer, rec)
      case "query_golden" => QueryPack.golden(spark, a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    rec.value("peak_rss_mb", peakRssMb())
    rec.value("heap_retained_mb", retainedHeapMb())
    tracer.finish(a.spans)
    rec.write(a.out)
    spark.stop()
  }

  def session(a: Args): SparkSession = {
    val b = graft.EngineSession.builder(s"local[$Cores]", Cores.toString)
      .appName(s"perfbench-${a.workload}")
      .config("spark.local.dir", a.dir("spark-local"))
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .config(graft.operators.ArtifactStore.ConfKey, new File(a.work, "artifacts").getAbsolutePath)
    // memo reads never pass as execution: every ledger query runs for real
    if (a.workload.startsWith("query_")) b.config("spark.graft.report.passthrough", "true")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Peak resident set (VmHWM) of this JVM, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Heap still in use after a full collection once the workload's own
    * objects are unreachable: what the engine and Spark keep.
    */
  def retainedHeapMb(): Double = {
    // Spark's ContextCleaner drops unreferenced broadcasts and shuffles
    // asynchronously after a collection; collect again once it has
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300L) }
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** The timed phase of a run: a `measure` phase span, and the JVM's GC
    * time within it as `jvm_gc_ms`.
    */
  def measure[T](tr: Tracer, rec: Recorder)(f: => T): T = {
    val gc0 = gcMillis()
    try tr.phase("measure")(f)
    finally rec.value("jvm_gc_ms", gcMillis() - gc0)
  }

  def gcMillis(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
  }

  def ms(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e6

  /** Wall time of `f` in milliseconds, with its result. */
  def timed[T](f: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, ms(t, System.nanoTime()))
  }

  /** Delete a scratch directory tree. */
  def rmrf(path: String): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new File(path))
    ()
  }
}
