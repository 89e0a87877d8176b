package graft

import org.apache.spark.sql.SparkSession

/** Dev utility: run selected contract queries against an sf dir, print
  * wall time + row count (+ optional formatted plan with -explain, and the
  * JobTimeline's per-job/stage breakdown with -jobs; `-jobs
  * q28_clips_verdicts` is the engine run's stage profile).
  *
  * Usage: graft.QRun <sfDir> [-explain] [-jobs] q15_dedup_tokenset q16_ngram_jaccard ...
  */
object QRun {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val explain = args.contains("-explain")
    val names = args.tail.filterNot(_.startsWith("-"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIR", "/dev/shm/spark-local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val timeline = JobTimeline.attach(spark.sparkContext,
      if (args.contains("-jobs")) Some(System.out) else None)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // mirror Bench's draw semantics for the engine queries: drop the
      // memoized report so a repeated q28 actually re-runs the engine
      // (warm-JVM draws are otherwise memo reads and time nothing)
      if (name == "q28_clips_verdicts") SparkEntry.releaseReport(sfDir)
      val j0 = timeline.jobs; val s0 = timeline.stages
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      if (explain) df.explain("formatted")
      val n = df.count()
      val w = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.ListenerBusFlush.flush(spark.sparkContext)
      println(f"[qrun] $name rows=$n wall=$w%.2fs jobs=${timeline.jobs - j0} stages=${timeline.stages - s0}")
    }
    spark.stop()
  }
}
