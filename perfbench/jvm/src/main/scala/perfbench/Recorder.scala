package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

/** What one run hands back to `run.py`: raw samples (percentiles are taken
  * there), single measured values, engine counters and the op ledger
  * (attempted / failed, with the first failure messages).
  */
final class Recorder {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val values = mutable.LinkedHashMap.empty[String, Double]
  private val errors = mutable.ArrayBuffer.empty[String]
  private val attempted = new AtomicLong(0L)
  private val failed = new AtomicLong(0L)

  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v
  }

  def value(name: String, v: Double): Unit = synchronized { values(name) = v }

  /** One op attempted; `ok = false` counts it failed with a reason. */
  def op(ok: Boolean, what: => String): Unit = {
    attempted.incrementAndGet()
    if (!ok) fail(what)
  }

  /** `n` failures beyond the op count (e.g. missing deliveries). */
  def fail(what: String, n: Int = 1): Unit = {
    failed.addAndGet(n.toLong)
    synchronized { if (errors.size < 20) errors += what }
  }

  def attempts(n: Long): Unit = { attempted.addAndGet(n); () }

  def write(path: String): Unit = synchronized {
    val root = Main.json.createObjectNode()
    root.put("attempted", attempted.get).put("failed", failed.get)
    val errs = root.putArray("errors")
    errors.foreach(e => errs.add(e))
    val s = root.putObject("samples")
    samples.foreach { case (k, vs) => val arr = s.putArray(k); vs.foreach(v => arr.add(v)) }
    val v = root.putObject("values")
    values.foreach { case (k, x) => v.put(k, x) }
    Main.json.writeValue(new java.io.File(path), root)
  }
}
