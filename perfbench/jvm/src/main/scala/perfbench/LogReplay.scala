package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.model.{Event, EventRow}
import graft.sources.{EventLog, ScanOptions, Tables}
import graft.sourcing.{AggregateRoot, RepositoryFactory}

/** State of one user aggregate: events applied, value total in cents, and
  * the last event folded.
  */
final case class UserState(count: Int, cents: Long, lastType: String, lastId: String)

final class UserAggregate(id: String) extends AggregateRoot[UserState](id, UserState(0, 0L, "", "")) {
  override protected def applyEvent(e: EventRow): Unit = state = LogReplay.step(state, e)
  def act(eventType: String, value: Double): Unit = recordEvent(eventType, LogReplay.payload(value))
}

/** `log_replay`: the sf0.1 `events` table staged as `aggregate.user.<id>`
  * topics in the bucketed EventLog layout, then one closed-loop client
  * running a seeded sequence of `getById` (70%), ranged/typed/limited
  * `getEvents` (20%) and `save` of 1-3 events (10%) on Zipf-skewed keys,
  * ending with `foldAll`. Every read is checked against the benchmark's
  * own in-memory model of the log, which also absorbs every save.
  *
  * op = one client call. pass = one timed `foldAll` (after an untimed one).
  */
object LogReplay {
  val Buckets = 16
  // timed set-ups, after one untimed one that warms the JIT and the session
  private val SetupRepeats = 5
  private val Prefix = "aggregate.user."

  def payload(value: Double): String = s"""{"v":$value}"""
  private def cents(payload: String): Long =
    math.round(payload.substring(5, payload.length - 1).toDouble * 100)
  def step(s: UserState, e: EventRow): UserState =
    UserState(s.count + 1, s.cents + cents(e.payload), e.`type`, e.id)

  private final case class Ev(id: String, tpe: String, us: Long, payload: String)
  private def micros(ts: java.sql.Timestamp): Long = ts.getTime * 1000L + (ts.getNanos / 1000) % 1000
  // the model's own fold, apart from the engine's rehydrate path
  private def fold(evs: Seq[Ev]): UserState =
    evs.foldLeft(UserState(0, 0L, "", "")) { (s, e) =>
      UserState(s.count + 1, s.cents + cents(e.payload), e.tpe, e.id)
    }
  /** The engine's inclusive millisecond bound, as the log's scan casts it. */
  private def boundMicros(ms: Long): Long = (ms / 1000.0 * 1000000L).toLong

  def run(spark: SparkSession, a: Args, tr: Tracer, rec: Recorder): Unit = {
    import spark.implicits._
    val staged = Tables.events(spark, s"${a.data}/sf0.1").select(
      concat(lit("e"), lpad(col("event_id").cast("string"), 7, "0")).as("id"),
      col("event_type").as("type"),
      concat(lit(Prefix), col("user_id").cast("string")).as("topic"),
      col("ts").as("timestamp"),
      lit(Event.DefaultSchemaVersion).as("schemaVersion"),
      concat(lit("{\"v\":"), col("value").cast("string"), lit("}")).as("payload"),
      typedLit(Map.empty[String, String]).as("metadata"))

    // the benchmark's model of the log: topic -> events in (ts, id) order
    val model = mutable.HashMap.empty[String, Vector[Ev]]
    staged.select("id", "type", "topic", "timestamp", "payload").as[(String, String, String, java.sql.Timestamp, String)]
      .collect().groupBy(_._3).foreach { case (topic, rows) =>
        model(topic) = rows.map(r => Ev(r._1, r._2, micros(r._4), r._5)).toVector.sortBy(e => (e.us, e.id))
      }
    val users = model.keys.map(_.stripPrefix(Prefix)).toArray.sortBy(_.toLong)
    val allUs = model.valuesIterator.flatMap(_.map(_.us))
    val (minMs, maxMs) = allUs.foldLeft((Long.MaxValue, Long.MinValue)) { case ((lo, hi), us) =>
      (lo.min(us / 1000L), hi.max(us / 1000L))
    }

    val log = tr.phase("setup") {
      val logs = (0 to SetupRepeats).map { i =>
        val path = a.dir(s"log-$i")
        Main.rmrf(path)
        val (log, t) = Main.timed {
          val log = EventLog.bucketed(spark, path, Buckets)
          log.appendDF(staged)
          log
        }
        if (i > 0) rec.sample("setup_s", t / 1000.0)
        if (i < SetupRepeats) Main.rmrf(path)
        log
      }
      logs.last
    }
    val repo = new RepositoryFactory(log).createRepository[UserAggregate](id => new UserAggregate(id), "user")

    def runOp(op: com.fasterxml.jackson.databind.JsonNode, timed: Boolean): Unit = {
      val id = users(op.get(1).asInt)
      val topic = Prefix + id
      val kind = op.get(0).asText
      def sample(name: String, v: Double): Unit = if (timed) rec.sample(name, v)
      val error: Option[String] =
        try kind match {
          case "get" =>
            val (got, t) = Main.timed(tr.span("getById", "sourcing") { repo.getById(id) })
            sample("op_ms", t); sample("get_ms", t)
            sample("rows_returned", got.map(_.getVersion).getOrElse(0).toDouble)
            val expected = fold(model(topic))
            val seen = got.map(g => (g.getState, g.getVersion))
            if (seen.contains((expected, expected.count))) None
            else Some(s"getById($id) = $seen, model says $expected")
          case "scan" =>
            val from = minMs + (op.get(2).asDouble * (maxMs - minMs)).toLong
            val to = minMs + (op.get(3).asDouble * (maxMs - minMs)).toLong
            val types = op.get(4).elements.asScala.map(_.asText).toSeq
            val limit = op.get(5).asInt
            val (got, t) = Main.timed(tr.span("getEvents", "sources") {
              log.getEventsTyped(topic, ScanOptions(Some(from), Some(to), types, Some(limit))).collect()
            })
            sample("op_ms", t); sample("scan_ms", t)
            sample("rows_returned", got.length.toDouble)
            val (lo, hi) = (boundMicros(from), boundMicros(to))
            val expected = model(topic).filter(e => e.us >= lo && e.us <= hi && types.contains(e.tpe))
              .take(limit).map(_.id)
            if (got.map(_.id).toSeq == expected) None
            else Some(s"getEvents($topic) returned ${got.length} events, model says ${expected.size}")
          case "save" =>
            val agg = new UserAggregate(id)
            op.get(2).elements.asScala.foreach(e => agg.act(e.get(0).asText, e.get(1).asDouble))
            val events = agg.getUncommittedEvents.map(_.copy(topic = topic))
            val (_, t) = Main.timed(tr.span("save", "sourcing") { repo.save(agg) })
            sample("op_ms", t); sample("save_ms", t)
            model(topic) = (model(topic) ++ events.map(e => Ev(e.id, e.`type`, micros(e.timestamp), e.payload)))
              .sortBy(e => (e.us, e.id))
            None
        } catch { case e: Exception => Some(s"$kind($id) threw $e") }
      rec.op(error.isEmpty, error.getOrElse(""))
    }

    // a fixed op count, so every commit does the same work per run
    val ops = a.input.get("ops").elements.asScala.toIndexedSeq
    val warm = a.input.get("warmup_ops").asInt
    tr.phase("warmup")(ops.take(warm).foreach(runOp(_, timed = false)))
    Main.measure(tr, rec)(ops.drop(warm).foreach(runOp(_, timed = true)))

    val expected = model.map { case (topic, evs) =>
      val s = fold(evs)
      (topic.stripPrefix(Prefix), s.count, s.cents, s.lastId)
    }.toSet
    def foldAll(): Unit = {
      val got = repo.foldAll(spark)(a => (a.id, a.getState.count, a.getState.cents, a.getState.lastId)).collect()
      rec.op(got.toSet == expected && got.length == expected.size,
        s"foldAll returned ${got.length} aggregates (${(got.toSet -- expected).size} differ from the model)")
    }
    tr.phase("pass") {
      tr.span("foldAll.warm", "sourcing")(foldAll())
      (1 to a.input.get("fold_repeats").asInt).foreach { _ =>
        val (_, t) = Main.timed(tr.span("foldAll", "sourcing")(foldAll()))
        rec.sample("pass_s", t / 1000.0)
      }
    }
    rec.value("log_files_end", countFiles(new java.io.File(log.path)).toDouble)
  }

  private def countFiles(d: java.io.File): Int =
    Option(d.listFiles).toSeq.flatten.map { f =>
      if (f.isDirectory) countFiles(f) else if (f.getName.endsWith(".parquet")) 1 else 0
    }.sum
}
