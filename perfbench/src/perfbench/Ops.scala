package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Hooks run around every timed call, outside its stopwatch. */
trait Probe {
  def begin(kind: String, round: Int): Unit
  def end(kind: String, round: Int): Unit
}

object Probe {
  val Off: Probe = new Probe {
    def begin(kind: String, round: Int): Unit = ()
    def end(kind: String, round: Int): Unit = ()
  }
}

/** Per-kind accounting of the timed operations. Every timed call runs in
  * its own guard: a call that throws counts as failed, its elapsed time
  * is dropped, and the first error of each kind is kept for the report —
  * so an operation that dies early can never read as a fast one. A call
  * may also be given a contract check, run after its stopwatch stops; a
  * result that breaks it fails the call the same way. */
final class Ops(kinds: Seq[String], probe: Probe = Probe.Off) {

  final class Kind(val name: String) {
    var attempted = 0
    var failed = 0
    val seconds: ArrayBuffer[Double] = ArrayBuffer.empty
    var firstError: Option[String] = None
  }

  val kind: Map[String, Kind] = kinds.map(k => k -> new Kind(k)).toMap

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU nanoseconds spent inside successful timed calls. */
  var cpuNanos = 0L

  /** Wall-clock instant (ms) the first timed call started, 0 before. */
  var firstStartMs = 0L

  def run[A](name: String, round: Int)(f: => A): Option[A] = checked(name, round)(f)(_ => None)

  /** [[run]] with a contract check: `broken(result)` names what the
    * result breaks, or None. It runs off the clock. */
  def checked[A](name: String, round: Int)(f: => A)(broken: A => Option[String]): Option[A] = {
    val k = kind(name)
    k.attempted += 1
    probe.begin(name, round)
    if (firstStartMs == 0L) firstStartMs = System.currentTimeMillis()
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val out =
      try {
        val r = f
        Right((r, (System.nanoTime() - t0) / 1e9, os.getProcessCpuTime - c0))
      } catch {
        case NonFatal(e) => Left(e.toString)
      }
    probe.end(name, round)
    val verdict = out.flatMap { case done @ (r, _, _) =>
      (try broken(r) catch { case NonFatal(e) => Some(e.toString) }).toLeft(done)
    }
    verdict match {
      case Right((r, secs, cpu)) =>
        k.seconds += secs
        cpuNanos += cpu
        System.err.println(f"perfbench: $name%-10s round $round%3d $secs%8.3f s")
        Some(r)
      case Left(err) =>
        k.failed += 1
        System.err.println(s"perfbench: $name round $round FAILED: ${err.take(200)}")
        if (k.firstError.isEmpty) k.firstError = Some(err.take(500))
        None
    }
  }

  def attempted: Int = kind.values.map(_.attempted).sum
  def failed: Int = kind.values.map(_.failed).sum
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
