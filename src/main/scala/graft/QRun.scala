package graft

import graft.engine.RunTrace

/** Dev utility: run selected contract queries against an sf dir, print
  * wall time + row count + job and stage counts (+ optional formatted plan
  * with -explain, and the RunTrace's per-job/stage breakdown with -jobs;
  * `-jobs q28_clips_verdicts` is the engine run's stage profile). The
  * corpus and its sketch exports are materialized once before the first
  * draw, un-timed, as Bench and Verify do. Like Bench, a draw times the
  * whole plan into Spark's `noop` sink; the row count is taken after it,
  * un-timed.
  *
  * Usage: graft.QRun <sfDir> [-explain] [-jobs] q15_dedup_tokenset q16_ngram_jaccard ...
  */
object QRun {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val explain = args.contains("-explain")
    val out = if (args.contains("-jobs")) Some(System.out) else None
    val names = args.tail.filterNot(_.startsWith("-"))
    val spark = SparkProfile.session("graft-qrun")
    SparkEntry.prepare(spark, sfDir)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // mirror Bench's draw semantics for the engine queries: drop the
      // memoized report so a repeated q28 actually re-runs the engine
      // (warm-JVM draws are otherwise memo reads and time nothing)
      if (name == "q28_clips_verdicts") SparkEntry.releaseReport(sfDir)
      val t0 = System.nanoTime()
      val (df, trace) = RunTrace.capture(spark, out = out) {
        val df = fn(spark, sfDir)
        if (explain) df.explain("formatted")
        df.write.format("noop").mode("overwrite").save()
        df
      }
      val w = (System.nanoTime() - t0) / 1e9
      val n = df.count()
      println(f"[qrun] $name rows=$n wall=$w%.2fs jobs=${trace.jobs} stages=${trace.stages}")
    }
    spark.stop()
  }
}
