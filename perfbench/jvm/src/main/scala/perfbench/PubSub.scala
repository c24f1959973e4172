package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.broker.{EventBroker, SubscriptionOptions, TopicOptions}
import graft.dlq.InMemoryDeadLetterQueue
import graft.model.{Event, EventRow}
import graft.schema.SchemaRegistry
import graft.streaming.StreamingSubscription

/** `pubsub_delivery`: one open-loop producer publishes seeded batches
  * through `Topic.publishBatch` at a fixed call rate over three topics;
  * two callback subscribers (one type-filtered) and one ordered streaming
  * subscription receive them. The streaming handler fails a seeded set of
  * events on every attempt, so they land in the DLQ, and after the drain
  * each DLQ entry is re-dispatched with `retryDeadLetterEvent`.
  *
  * op = one timed publish call, from when it was due to its return. pass =
  * a new subscriber catching up on the streamed topic's whole history
  * (`receiveHistoricalEvents`, AvailableNow). Live delivery latency (due
  * time to the streaming handler's first attempt, per event) is recorded
  * for the traced layer table: a run holds only ~27 streamed calls, too
  * few for a steady figure.
  */
object PubSub {
  private final case class Call(atMs: Double, topic: String, warmup: Boolean, events: Array[EventRow])

  // timed set-ups, after one untimed one that warms the JIT and the session
  private val SetupRepeats = 5
  private val PassRepeats = 3
  private val DrainTimeoutMs = 60000L

  def run(spark: SparkSession, a: Args, tr: Tracer, rec: Recorder): Unit = {
    val in = a.input
    def strings(field: String) = in.get(field).elements.asScala.map(_.asText).toSeq
    val topics = strings("topics")
    val streamTopic = in.get("stream_topic").asText
    val filteredType = in.get("filtered_type").asText
    val zero = new Timestamp(0L)
    val calls = in.get("calls").elements.asScala.map { c =>
      val topic = c.get("topic").asText
      Call(c.get("at_ms").asDouble, topic, c.get("warmup").asBoolean, c.get("events").elements.asScala.map { e =>
        EventRow(e.get(0).asText, e.get(1).asText, topic, zero,
          Event.DefaultSchemaVersion, e.get(2).asText, Map.empty)
      }.toArray)
    }.toArray
    val failIds = strings("fail_ids").toSet
    val allIds = calls.flatMap(_.events.map(_.id)).toSet
    val typedIds = calls.flatMap(_.events.filter(_.`type` == filteredType).map(_.id)).toSet
    val scheduledMs: Map[String, Double] = calls.filter(_.topic == streamTopic)
      .flatMap(c => c.events.map(_.id -> c.atMs)).toMap

    // what the subscribers saw
    val firstAttemptNs = new ConcurrentHashMap[String, java.lang.Long]()
    val handlerCalls = new AtomicLong(0L)
    val retrying = new AtomicBoolean(false)
    val redelivered = ConcurrentHashMap.newKeySet[String]()
    val seenAll = ConcurrentHashMap.newKeySet[String]()
    val seenTyped = ConcurrentHashMap.newKeySet[String]()
    val fanoutNs = new ThreadLocal[Array[Long]] {
      override def initialValue(): Array[Long] = Array(0L, 0L)
    }

    val streamHandler: EventRow => Unit = { e =>
      val start = tr.nowUs()
      handlerCalls.incrementAndGet()
      try {
        if (retrying.get) redelivered.add(e.id)
        else {
          firstAttemptNs.putIfAbsent(e.id, System.nanoTime())
          if (failIds.contains(e.id)) throw new RuntimeException(s"seeded failure of ${e.id}")
        }
      } finally tr.record("handler", "stream.handler", start, tr.nowUs())
    }
    def callback(seen: java.util.Set[String]): EventRow => Unit = { e =>
      val t = System.nanoTime()
      seen.add(e.id)
      val acc = fanoutNs.get
      acc(0) += System.nanoTime() - t
      acc(1) += 1
    }

    def setupOnce(i: Int): (EventBroker, StreamingSubscription) = {
      val dlq = new InMemoryDeadLetterQueue
      val broker = new EventBroker(spark, a.dir(s"log-$i"), dlq)
      val registry = new SchemaRegistry
      registry.registerSchema(in.get("schema_type").asText, in.get("schema").asText,
        Event.DefaultSchemaVersion)
      topics.foreach { t =>
        val topic = broker.createTopic(t, TopicOptions(schemaRegistry = Some(registry)))
        // a broker with history: a streaming subscription started on a log
        // with no file yet fails its first batch (see the benchmark README)
        topic.publishBatch(Seq(EventRow(s"history-$i-$t", "history", t,
          new Timestamp(System.currentTimeMillis()), Event.DefaultSchemaVersion, "{}", Map.empty)))
        broker.subscribe(t, callback(seenAll), SubscriptionOptions(name = Some("all")))
        broker.subscribe(t, callback(seenTyped),
          SubscriptionOptions(name = Some("typed"), eventTypes = Seq(filteredType)))
      }
      val sub = broker.subscribeStreaming(streamTopic, a.dir(s"ckpt-$i"), streamHandler,
        SubscriptionOptions(name = Some("ordered"), maxRetries = 3, retryDelayMillis = 0L))
      awaitWaiting(sub.start())
      (broker, sub)
    }

    val (broker, sub) = tr.phase("setup") {
      val runs = (0 to SetupRepeats).map { i =>
        val (bs, t) = Main.timed(setupOnce(i))
        if (i > 0) rec.sample("setup_s", t / 1000.0)
        if (i < SetupRepeats) bs._2.stop()
        bs
      }
      runs.last
    }
    val dlq = broker.dlq.asInstanceOf[InMemoryDeadLetterQueue]

    // Warm-up calls go back to back; the timed ones follow an open-loop
    // schedule. A timed call's latency runs from when it was due, so a
    // stall also delays the calls queued behind it.
    var t0 = 0L
    def publish(c: Call): Unit = {
      val target = if (c.warmup) System.nanoTime() else t0 + (c.atMs * 1e6).toLong
      var now = System.nanoTime()
      while (now < target) { LockSupport.parkNanos(target - now); now = System.nanoTime() }
      val stamp = new Timestamp(System.currentTimeMillis())
      val rows = c.events.map(_.copy(timestamp = stamp))
      val topic = broker.getTopic(c.topic).get
      val error =
        try {
          tr.span("publishBatch", "broker", Seq("events" -> rows.length,
            "streamed" -> (if (c.topic == streamTopic) 1.0 else 0.0))) {
            val acc = fanoutNs.get
            acc(0) = 0L; acc(1) = 0L
            topic.publishBatch(rows.toSeq)
            val end = tr.nowUs()
            tr.record("fanout", "broker.fanout", end - acc(0) / 1000L, end, Seq("calls" -> acc(1)))
          }
          None
        } catch { case e: Exception => Some(s"publishBatch ${c.topic}: $e") }
      rec.op(error.isEmpty, error.getOrElse(""))
      if (!c.warmup) {
        rec.sample("generator_lag_ms", Main.ms(target, now))
        if (error.isEmpty) rec.sample("op_ms", Main.ms(target, System.nanoTime()))
      }
    }
    val (warmup, timed) = calls.partition(_.warmup)
    tr.phase("warmup")(warmup.foreach(publish))
    t0 = System.nanoTime() + 100000000L - (timed.head.atMs * 1e6).toLong
    Main.measure(tr, rec)(timed.foreach(publish))
    rec.value("backlog_end_events", (scheduledMs.size - firstAttemptNs.size).toDouble)
    val deadline = System.currentTimeMillis() + DrainTimeoutMs
    while ((firstAttemptNs.size < scheduledMs.size || dlq.size < failIds.size) &&
        System.currentTimeMillis() < deadline) Thread.sleep(2L)
    sub.stop()

    val timedIds = timed.filter(_.topic == streamTopic).flatMap(_.events.map(_.id)).toSet
    scheduledMs.foreach { case (id, at) =>
      Option(firstAttemptNs.get(id)) match {
        case Some(ns) =>
          rec.op(ok = true, "")
          if (timedIds.contains(id)) rec.sample("deliver_ms", Main.ms(t0, ns) - at)
        case None => rec.op(ok = false, s"event $id never reached the streaming subscriber")
      }
    }
    rec.value("distinct_delivered", firstAttemptNs.size.toDouble)
    rec.value("handler_calls", handlerCalls.get.toDouble)

    checkSet(rec, "callback (all types)", allIds, seenAll.asScala.toSet)
    checkSet(rec, s"callback ($filteredType)", typedIds, seenTyped.asScala.toSet)
    val entries = dlq.getEvents(None, None, None)
    rec.value("dlq_entries", entries.size.toDouble)
    checkSet(rec, "DLQ", failIds, entries.map(_.event.id).toSet)
    entries.foreach(e => rec.op(e.subscription == "ordered",
      s"DLQ entry ${e.event.id} names subscription ${e.subscription}"))

    retrying.set(true)
    var retryFailed = 0
    tr.phase("retry") {
      entries.foreach { e =>
        val (ok, t) = Main.timed(tr.span("retryDeadLetterEvent", "dlq") {
          broker.retryDeadLetterEvent(e.event.id)
        })
        rec.sample("retry_ms", t)
        rec.op(ok, s"retryDeadLetterEvent(${e.event.id}) returned false")
        if (!ok) retryFailed += 1
      }
    }
    rec.value("retry_failed", retryFailed.toDouble)
    checkSet(rec, "DLQ re-dispatch", failIds, redelivered.asScala.toSet)
    rec.op(dlq.size == 0, s"${dlq.size} DLQ entries left after re-dispatch")

    tr.phase("pass") {
      (1 to PassRepeats).foreach { i =>
        val seen = ConcurrentHashMap.newKeySet[String]()
        val catchUp = broker.subscribeStreaming(streamTopic, a.dir(s"ckpt-catchup-$i"),
          e => { seen.add(e.id); () },
          SubscriptionOptions(name = Some(s"catchup-$i"), receiveHistoricalEvents = true))
        val (_, t) = Main.timed(tr.span("catchUp", "stream") { catchUp.runAvailable() })
        rec.sample("pass_s", t / 1000.0)
        // the whole topic: every live event plus the set-up's history event
        checkSet(rec, s"catch-up $i", scheduledMs.keySet + s"history-$SetupRepeats-$streamTopic",
          seen.asScala.toSet)
      }
    }
  }

  /** Every expected id seen (at least once), and nothing unexpected. */
  private def checkSet(rec: Recorder, what: String, expected: Set[String], seen: Set[String]): Unit = {
    rec.attempts(expected.size.toLong)
    val missing = expected -- seen
    val extra = seen -- expected
    if (missing.nonEmpty) rec.fail(s"$what: ${missing.size} missing, e.g. ${missing.take(3)}", missing.size)
    if (extra.nonEmpty) rec.fail(s"$what: ${extra.size} unexpected, e.g. ${extra.take(3)}", extra.size)
  }

  /** Block until a fresh streaming query has finished initialising and is
    * polling its source.
    */
  private def awaitWaiting(q: StreamingQuery): Unit = {
    val deadline = System.currentTimeMillis() + 60000L
    while (q.isActive && q.status.message != "Waiting for data to arrive" &&
        System.currentTimeMillis() < deadline) Thread.sleep(2L)
    q.exception.foreach(e => throw e)
  }
}
