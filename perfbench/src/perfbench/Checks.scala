package perfbench

import graft.rules.Drift
import org.apache.datasketches.kll.KllSketch

/** Output checks of one operation, made on per-operation aggregates outside
  * the timed bracket. Each returns the problems found (empty when right). */
object Checks {

  val DriftRule: Drift = Expected.Rules.collectFirst { case d: Drift => d }.get

  /** Allowed distance between the engine's sketch-based KS statistic and
    * the exact one: the KLL rank-error bound of each of the two sketches. */
  val KsBand: Double = 2 * KllSketch.getNormalizedRankError(DriftRule.sketchK, false)

  /** Exact two-sample Kolmogorov–Smirnov statistic; 0 when a side is empty
    * (the engine's convention: an empty partition cannot evidence drift). */
  def ks(a0: Array[Double], b0: Array[Double]): Double = {
    if (a0.isEmpty || b0.isEmpty) return 0.0
    val a = a0.sorted; val b = b0.sorted
    var i = 0; var j = 0; var d = 0.0
    while (i < a.length && j < b.length) {
      val x = math.min(a(i), b(j))
      while (i < a.length && a(i) <= x) i += 1
      while (j < b.length && b(j) <= x) j += 1
      d = math.max(d, math.abs(i.toDouble / a.length - j.toDouble / b.length))
    }
    d
  }

  /** Exact KS per partition value between current and baseline values. */
  def exactKs(cur: Map[String, Array[Double]], base: Map[String, Array[Double]]): Map[String, Double] =
    cur.map { case (p, xs) => p -> ks(xs, base.getOrElse(p, Array.empty)) }

  /** One engine verdict row. */
  final case class Verdict(pv: String, rule: String, pass: Boolean, count: Long)

  /** The verdict grid must hold exactly the expected (partition, rule) rows
    * with the expected counts; drift must fire where the exact KS statistic
    * is above the threshold by more than the sketch band, and must not fire
    * where it is below by more than the band. */
  def verdicts(exp: Expected, ks: Map[String, Double], got: Seq[Verdict]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    val byKey = got.groupBy(v => (v.pv, v.rule))
    byKey.collect { case (k, vs) if vs.length > 1 => problems += s"verdict $k appears ${vs.length} times" }
    val expectedKeys = exp.grid.keySet ++ exp.grid.keySet.map(_._1).map(_ -> Expected.DriftId)
    (expectedKeys -- byKey.keySet).foreach(k => problems += s"verdict $k missing")
    (byKey.keySet -- expectedKeys).foreach(k => problems += s"unexpected verdict $k")
    for ((k, vs) <- byKey if expectedKeys(k); v = vs.head) {
      if (k._2 == Expected.DriftId) {
        val exact = ks.getOrElse(k._1, 0.0)
        val max = DriftRule.maxKs
        val fired = v.count > 0
        if (v.count > 1 || v.pass == fired) problems += s"drift verdict $k inconsistent: $v"
        else if (exact > max + KsBand && !fired) problems += f"drift missed at $k: exact ks=$exact%.4f"
        else if (exact < max - KsBand && fired) problems += f"drift false alarm at $k: exact ks=$exact%.4f"
      } else {
        val want = exp.grid(k)
        val wantPass = k._2 == Expected.Distinct || want == 0
        if (v.count != want || v.pass != wantPass)
          problems += s"verdict $k: got (pass=${v.pass}, ${v.count}), want (pass=$wantPass, $want)"
      }
    }
    problems.result()
  }

  /** Violation rows written, per (rule, observed) for pcm_equality and per
    * rule otherwise, against the planted counts; drift rows must equal the
    * drift verdict count. */
  def violations(exp: Expected, got: Map[(String, String), Long], driftFired: Long): Seq[String] = {
    val perRule = got.toSeq.groupMapReduce(_._1._1)(_._2)(_ + _)
    val want = exp.ruleCounts.filter(_._2 > 0) ++
      (if (driftFired > 0) Map(Expected.DriftId -> driftFired) else Map.empty)
    val problems = Seq.newBuilder[String]
    for (r <- want.keySet ++ perRule.keySet) {
      val (g, w) = (perRule.getOrElse(r, 0L), want.getOrElse(r, 0L))
      if (g != w) problems += s"rule $r: $g violation rows, want $w"
    }
    val pn = got.getOrElse((Expected.Pcm, "new"), 0L)
    val pc = got.getOrElse((Expected.Pcm, "changed"), 0L)
    if (pn != exp.pcmNew || pc != exp.pcmChanged)
      problems += s"pcm_equality new/changed $pn/$pc, want ${exp.pcmNew}/${exp.pcmChanged}"
    problems.result()
  }
}
