package perfbench

import scala.collection.mutable.ArrayBuffer

/** Operation latencies and output checks of one run. Every operation and
  * every check is one attempt; a thrown operation or a failed check is one
  * failure. */
final class Recorder {
  private val latencies = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  /** Time spent in, and number of, era-ledger calls. */
  var ledgerNs = 0L
  var ledgerCalls = 0L
  val failures = ArrayBuffer.empty[String]

  def add(kind: String, seconds: Double): Unit = synchronized {
    latencies.getOrElseUpdate(kind, ArrayBuffer.empty) += seconds
  }

  def samples(kind: String): Seq[Double] = synchronized {
    latencies.get(kind).map(_.toSeq).getOrElse(Nil)
  }

  /** Time `f` as one operation of `kind`; a throw is recorded, not raised. */
  def op[A](kind: String)(f: => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = f
      add(kind, (System.nanoTime() - t0) / 1e9)
      Some(r)
    } catch {
      case e: Exception =>
        fail(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) fail(s"check failed: $what $detail")
  }

  private def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
    System.err.println(s"[perfbench] $msg")
  }

  /** Forget latencies (after warm-up); attempts and failures are kept. */
  def clearLatencies(): Unit = synchronized { latencies.clear(); ledgerNs = 0; ledgerCalls = 0 }
}

object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
