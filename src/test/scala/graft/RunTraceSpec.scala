package graft

import graft.engine.{JobScope, RunTrace}
import java.io.{ByteArrayOutputStream, PrintStream}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The run trace scoped to a job group sees exactly that group's jobs and
  * stages, while another group runs beside it on the same session. */
class RunTraceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("a group-scoped RunTrace counts and prints exactly its group's jobs and stages") {
    val sc = spark.sparkContext
    val g = "trace-g"
    // a plain listener: the jobs started in `g`, and the completed stages
    // of those jobs
    val gJobs = ConcurrentHashMap.newKeySet[Int]()
    val gStages = ConcurrentHashMap.newKeySet[Int]()
    val gDone = ConcurrentHashMap.newKeySet[Int]()
    val plain = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == g) {
          gJobs.add(e.jobId); e.stageIds.foreach(gStages.add(_))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (gStages.contains(e.stageInfo.stageId)) gDone.add(e.stageInfo.stageId)
    }
    sc.addSparkListener(plain)
    val stop = new AtomicBoolean(false)
    // the other group: shuffle jobs on their own thread for as long as the
    // traced run lasts
    val other = new Thread(() => JobScope(sc, "other", Some("trace-other")) {
      while (!stop.get()) sc.parallelize(1 to 400, 4).map(i => (i % 7, i)).reduceByKey(_ + _).count()
    })
    val buf = new ByteArrayOutputStream()
    val printed = new PrintStream(buf, true)
    try {
      other.start()
      val (_, trace) = RunTrace.capture(spark, Some(g), Some(printed)) {
        JobScope(sc, "count") { sc.parallelize(1 to 100, 4).count() }
        JobScope(sc, "shuffle") {
          sc.parallelize(1 to 400, 4).map(i => (i % 5, i)).reduceByKey(_ + _).collect()
        }
        JobScope(sc, "sql") { spark.range(0, 1000, 1, 4).groupBy("id").count().collect() }
      }
      stop.set(true)
      other.join()
      assert(trace.jobs == gJobs.size && trace.jobs >= 3, s"jobs: ${trace.jobs} vs ${gJobs.size}")
      assert(trace.stages == gDone.size && trace.stages > trace.jobs,
        s"stages: ${trace.stages} vs ${gDone.size}")
      assert(trace.metrics.tasks > 0)
      val jobLines = buf.toString.linesIterator.filter(_.startsWith("[job]")).toSeq
      val phases = jobLines.flatMap(l => "what=(\\S+)".r.findFirstMatchIn(l).map(_.group(1))).toSet
      assert(phases == Set("graft:count", "graft:shuffle", "graft:sql"), s"phases: $phases")
      // a start and an end line per job
      assert(jobLines.size == 2 * gJobs.size, jobLines.mkString("\n"))
    } finally {
      stop.set(true)
      other.join()
      sc.removeSparkListener(plain)
    }
  }
}
