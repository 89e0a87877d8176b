package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One timed operation that ran and whose output checked out. */
final case class OpSample(k: Int, wallS: Double, cpuS: Double, clips: Long)

/** What an operation hands back: the check of its output, run by the loop
  * OUTSIDE the timed bracket. It returns the problems it found (empty when
  * the output is correct). */
final case class Checked(clips: Long, check: () => Seq[String])

/** The measurement loop: warm-up until operation times stop falling, then a
  * timed window. An operation that throws, or whose check fails, is counted
  * as failed and leaves no timing sample — a failure is never a time. */
final class Loop(
    cpuNanos: () => Long,
    clock: () => Long = () => System.nanoTime(),
    log: String => Unit = _ => ()) {

  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer[String]()

  /** Runs operation `k` once: the op body is timed (wall and process CPU);
    * its check runs afterwards, untimed. */
  def once(k: Int)(op: => Checked): Option[OpSample] = {
    attempted += 1
    val c0 = cpuNanos(); val t0 = clock()
    val outcome = try Right(op) catch { case NonFatal(e) => Left(e) }
    val t1 = clock(); val c1 = cpuNanos()
    val problems = outcome match {
      case Left(e) => Seq(s"threw ${e.getClass.getName}: ${e.getMessage}")
      case Right(c) => try c.check() catch {
        case NonFatal(e) => Seq(s"check threw ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    if (problems.nonEmpty) {
      failed += 1
      failures += s"op $k: ${problems.take(5).mkString("; ")}"
      log(s"op $k FAILED: ${problems.take(5).mkString("; ")}")
      None
    } else {
      val s = OpSample(k, (t1 - t0) / 1e9, (c1 - c0) / 1e9, outcome.toOption.get.clips)
      log(f"op $k: ${s.wallS}%.3f s wall, ${s.cpuS}%.2f s cpu")
      Some(s)
    }
  }

  /** Warm-up: at least `minOps` operations, then more while the latest one
    * is still faster than every earlier one by over `fallFrac`; at most
    * `maxOps` operations or `maxSeconds`. Returns the warm-up samples (the
    * first is the cold operation). */
  def warmUp(minOps: Int, maxOps: Int, maxSeconds: Double, fallFrac: Double = 0.03)(
      op: Int => Checked): Seq[OpSample] = {
    val out = ArrayBuffer[OpSample]()
    val t0 = clock()
    var k = 0
    def falling: Boolean = out.length < 2 ||
      out.last.wallS < (1.0 - fallFrac) * out.init.map(_.wallS).min
    while (k < maxOps && (k < minOps || falling) &&
        (k < minOps || (clock() - t0) / 1e9 < maxSeconds)) {
      once(k)(op(k)).foreach(out += _)
      k += 1
    }
    out.toSeq
  }

  /** The timed window: operations back to back until `seconds` have passed
    * since the window opened and at least `minOps` succeeded (at most
    * `maxAttempts` tries). Operation numbers continue from `firstK`. */
  def window(seconds: Double, minOps: Int, firstK: Int, maxAttempts: Int = 1000)(
      op: Int => Checked): Seq[OpSample] = {
    val out = ArrayBuffer[OpSample]()
    val t0 = clock()
    var k = firstK
    var tries = 0
    while (tries < maxAttempts && ((clock() - t0) / 1e9 < seconds || out.length < minOps)) {
      once(k)(op(k)).foreach(out += _)
      k += 1; tries += 1
    }
    out.toSeq
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples beyond it, as
    * (percentile, value); None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.length < 11) None
    else {
      val s = xs.sorted; val n = s.length
      val p = math.floor(100.0 * (n - 10) / n).toInt
      // nearest rank; at most n - 10 samples at or below it
      val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
      Some(p -> s(rank - 1))
    }
}
