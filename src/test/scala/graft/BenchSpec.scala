package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's draw accounting, without Spark: a query that throws is
  * reported as failed, never as a time. */
class BenchSpec extends AnyFunSuite {
  private val calm = () => 0L

  test("a throwing query gets no time and is reported under failed") {
    var calls = 0
    val (best, redraws) = Bench.bestDraw(reps = 2, cleanJ = 200) { () =>
      Bench.draw("q_throws", calm) { calls += 1; throw new IllegalStateException("boom") }
    }
    assert(best.isLeft && redraws == 0 && calls == 2)

    val line = Bench.report(Seq("q_ok" -> Right(1.5), "q_throws" -> best), 0L, redraws, "sf")
    assert(line.contains(""""queries":{"q_ok":1.500}"""))
    assert(line.contains(""""failed":["q_throws"]"""))
    assert(line.contains(""""value":1.500"""))
    assert(line.contains(
      """"errors":{"q_throws":{"class":"java.lang.IllegalStateException","message":"boom"}}"""))

    // the message is a JSON string even when it holds quotes and line breaks
    val odd = Bench.report(Seq("q_odd" -> Left(new RuntimeException("no \"x\"\nat y"))), 0L, 0, "sf")
    assert(odd.contains("\"q_odd\":{\"class\":\"java.lang.RuntimeException\"," +
      "\"message\":\"no \\\"x\\\"\\u000aat y\"}"))
  }

  test("only successful draws compete for the best time") {
    val outcomes = Iterator[() => Unit](() => throw new RuntimeException("x"), () => ())
    val (best, _) = Bench.bestDraw(reps = 2, cleanJ = 200) { () =>
      val next = outcomes.next()
      Bench.draw("q_flaky", calm)(next())
    }
    assert(best.isRight)
    val line = Bench.report(Seq("q_flaky" -> best), 0L, 0, "sf")
    assert(line.contains(""""failed":[],"errors":{}"""))
  }

  test("stormy draws are redrawn, and a clean draw beats a faster stormy one") {
    val draws = Iterator((Right(1.0), 500L), (Right(2.0), 500L), (Right(3.0), 10L))
    val (best, redraws) = Bench.bestDraw(reps = 2, cleanJ = 200)(() => draws.next())
    assert(best.contains(3.0) && redraws == 1)
  }
}
