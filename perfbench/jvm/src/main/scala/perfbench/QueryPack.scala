package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.operators.{ArtifactStore, CacheRegistry, ResultMemo}

/** `query_pack`: a fixed cross-section of `SparkEntry.queries` at sf0.01,
  * each timed as construction plus a noop-sink execution, in a seeded
  * order per pass. The first pass runs against an empty artifact store in
  * a fresh JVM (cold); after untimed warm-up passes, the timed passes are
  * warm. A final untimed pass
  * checks each query's row count and content hash against the goldens.
  *
  * op = one warm query. pass = one warm pass. Set-up = the cold pass: it
  * is the work (artifact builds, cached hubs, first planning) that every
  * warm pass stands on.
  */
object QueryPack {
  private def sfDir(a: Args) = s"${a.data}/sf0.01"

  private def runQuery(spark: SparkSession, a: Args, tr: Tracer, rec: Recorder,
      name: String, warm: Boolean, index: Int = -1): Double = {
    val t = System.nanoTime()
    tr.span("query", "queries", Seq("q" -> index.toDouble)) {
      val (df, c) = Main.timed(tr.span("construct", "queries") { SparkEntry.queries(name)(spark, sfDir(a)) })
      val (_, x) = Main.timed(tr.span("execute", "queries") {
        df.write.format("noop").mode("overwrite").save()
      })
      if (warm) { rec.sample("construct_ms", c); rec.sample("execute_ms", x) }
    }
    Main.ms(t, System.nanoTime())
  }

  def run(spark: SparkSession, a: Args, tr: Tracer, rec: Recorder): Unit = {
    val names = a.input.get("queries").elements.asScala.map(_.asText).toIndexedSeq
    val orders = a.input.get("orders").elements.asScala
      .map(_.elements.asScala.map(_.asInt).toIndexedSeq).toIndexedSeq
    val golden = Golden.load(a.golden)
    val broken = scala.collection.mutable.Set.empty[String]

    def pass(order: Seq[Int], warm: Boolean): Double = {
      val t = System.nanoTime()
      order.filterNot(i => broken(names(i))).foreach { i =>
        val name = names(i)
        val builds = ArtifactStore.totalBuilds
        try {
          val q = runQuery(spark, a, tr, rec, name, warm, i)
          rec.op(ok = true, "")
          if (warm) rec.sample("op_ms", q)
          else if (ArtifactStore.totalBuilds > builds) rec.sample("build_query_ms", q)
          if (warm && ArtifactStore.totalBuilds > builds) rec.sample("warm_builds", 1)
        } catch {
          case e: Exception =>
            broken += name
            rec.op(ok = false, s"$name threw $e")
        }
      }
      Main.ms(t, System.nanoTime()) / 1000.0
    }

    // set-up: the cold pass, on an empty store and caches
    val (builds0, touches0) = (ArtifactStore.totalBuilds, ResultMemo.reportTouches)
    tr.phase("setup") { rec.sample("setup_s", pass(orders.head, warm = false)) }
    rec.value("store_builds", (ArtifactStore.totalBuilds - builds0).toDouble)

    // the JIT keeps speeding the queries up over the first warm passes;
    // the timed pass count is fixed, so every commit does the same work
    val warmup = a.input.get("warmup_passes").asInt
    tr.phase("warmup")((1 to warmup).foreach(p => pass(orders(p), warm = false)))
    Main.measure(tr, rec)(orders.drop(1 + warmup).foreach(o => rec.sample("pass_s", pass(o, warm = true))))
    rec.value("memo_report_touches", (ResultMemo.reportTouches - touches0).toDouble)
    rec.value("cache_registry_size", CacheRegistry.size.toDouble)
    rec.value("cache_cached_bytes",
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)

    tr.phase("check") {
      names.filterNot(broken).foreach { name =>
        val got = Golden.of(SparkEntry.queries(name)(spark, sfDir(a)))
        val want = golden.get(name)
        rec.op(want.contains(got), s"$name: got $got, golden ${want.getOrElse("missing")}")
      }
    }
  }

  /** The golden row count and content hash of every query of
    * `SparkEntry.queries`, as one JSON object in `<out>.golden`.
    */
  def golden(spark: SparkSession, a: Args): Unit = {
    val root = Main.json.createObjectNode()
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val g = Golden.of(SparkEntry.queries(name)(spark, sfDir(a)))
      System.err.println(s"[golden] $name $g")
      root.putObject(name).put("rows", g.rows).put("hash", g.hash)
    }
    Main.json.writeValue(new java.io.File(a.out + ".golden"), root)
  }
}

/** A query result's fingerprint: row count and an order-insensitive
  * content hash (sum of per-row digests) over a canonical rendering of
  * each row. Doubles are rendered to 9 significant digits, so a result
  * that differs only in float summation order keeps its hash.
  */
final case class Golden(rows: Long, hash: String) {
  override def toString: String = s"rows=$rows hash=$hash"
}

object Golden {
  def of(df: DataFrame): Golden = {
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val rows = df.collect()
    val sum = rows.foldLeft(digest(schema)) { (acc, r) => acc + digest(render(r)) }
    Golden(rows.length.toLong, f"$sum%016x")
  }

  private def digest(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  private def render(v: Any): String = v match {
    case null => "␀"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case bytes: Array[Byte] => bytes.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toString

  def load(path: String): Map[String, Golden] = {
    val node = Main.json.readTree(new java.io.File(path))
    node.fields.asScala.map { e =>
      e.getKey -> Golden(e.getValue.get("rows").asLong, e.getValue.get("hash").asText)
    }.toMap
  }
}
