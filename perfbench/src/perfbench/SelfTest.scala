package perfbench

/** The benchmark's own tests, no Spark needed:
  *   - a throwing operation and a wrong output both count as failed and
  *     leave no timing sample;
  *   - the planted-residue model reproduces graft.Main's known-good totals
  *     at n = 100000 (2501 violations, pcm_equality new=400 changed=750);
  *   - the exact KS statistic.
  * Prints one line per test; exits 1 when any fails. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    var bad = 0
    def test(name: String)(ok: => Boolean): Unit = {
      val r = try ok catch { case e: Throwable => println(s"  $e"); false }
      println(s"${if (r) "ok  " else "FAIL"} $name")
      if (!r) bad += 1
    }

    test("a throwing op and a wrong output are failures, not times") {
      var t = 0L
      val loop = new Loop(() => 0L, clock = () => { t += 1000000000L; t })
      val samples = loop.window(seconds = 0, minOps = 3, firstK = 0, maxAttempts = 5) {
        case 1 => throw new RuntimeException("boom")
        case 3 => Checked(10, () => Seq("wrong count"))
        case _ => Checked(10, () => Nil)
      }
      loop.attempted == 5 && loop.failed == 2 && samples.map(_.k) == Seq(0, 2, 4) &&
        loop.failures.length == 2
    }

    test("a check that throws is a failure") {
      val loop = new Loop(() => 0L)
      val s = loop.once(0)(Checked(1, () => throw new IllegalStateException("bad read")))
      s.isEmpty && loop.failed == 1
    }

    test("warm-up stops once op times stop falling") {
      var t = 0L
      val walls = Iterator(9.0, 6.0, 5.0, 5.1, 5.0, 5.0, 5.0, 5.0)
      val loop = new Loop(() => 0L, clock = () => t)
      val warm = loop.warmUp(minOps = 2, maxOps = 8, maxSeconds = 1000) { _ =>
        t += (walls.next() * 1e9).toLong; Checked(1, () => Nil)
      }
      warm.map(_.wallS) == Seq(9.0, 6.0, 5.0, 5.1)
    }

    test("planted-residue model matches graft.Main at n=100000") {
      val w = Window(0, 100000)
      val e = Expected.of(w, w, w, Corpus.orphans(w), bidirectional = true)
      // graft.Main's 2501 includes the one drifted partition (codec=alaw)
      e.violations + 1 == 2501 && e.pcmNew == 400 && e.pcmChanged == 750
    }

    test("model: id-duplicates attribute to the min partition value") {
      val w = Window(2000, 2000)
      val e = Expected.of(w, w, w, 2, bidirectional = true)
      e.grid(("codec=alaw", Expected.Unique)) == 2 && e.ruleCounts(Expected.Unique) == 2
    }

    test("exact KS") {
      Checks.ks(Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0)) == 0.0 &&
        Checks.ks(Array(1.0, 2.0), Array(3.0, 4.0)) == 1.0 &&
        math.abs(Checks.ks(Array(1.0, 2.0, 3.0, 4.0), Array(3.0, 4.0)) - 0.5) < 1e-12
    }

    if (bad > 0) sys.exit(1)
  }
}
