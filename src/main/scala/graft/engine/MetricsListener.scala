package graft.engine

import java.util.concurrent.atomic.LongAdder
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Task-level totals for one engine run — the Spark-metrics half of the
  * reference's observability (its Micrometer counters,
  * `service/SourceSystemDataCheckerService.java:41-66`, count
  * new/changed/unchanged per batch; a distributed engine additionally needs
  * the COST of the batch, which only task metrics can give). */
final case class RunMetrics(
    tasks: Long,
    recordsRead: Long,
    bytesRead: Long,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    executorRunTimeMs: Long,
    spilledBytes: Long)

/** SparkListener accumulating task metrics while attached. When `jobGroup`
  * is set, only tasks belonging to jobs submitted under that job group are
  * counted (job-start events carry the group; their stage ids scope the
  * task-end events) — so two engine runs sharing one SparkSession each see
  * ONLY their own tasks. Thread-safe (listener bus delivery + LongAdder). */
final class MetricsListener(jobGroup: Option[String] = None) extends SparkListener {
  private val tasks = new LongAdder
  private val recordsRead = new LongAdder
  private val bytesRead = new LongAdder
  private val sRead = new LongAdder
  private val sWrite = new LongAdder
  private val runTime = new LongAdder
  private val spill = new LongAdder
  private val ownStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val g = Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (jobGroup.forall(_ == g)) j.stageIds.foreach(ownStages.add(_))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    if (jobGroup.isEmpty || ownStages.contains(t.stageId)) {
      tasks.increment()
      val m = t.taskMetrics
      if (m != null) {
        recordsRead.add(m.inputMetrics.recordsRead)
        bytesRead.add(m.inputMetrics.bytesRead)
        sRead.add(m.shuffleReadMetrics.totalBytesRead)
        sWrite.add(m.shuffleWriteMetrics.bytesWritten)
        runTime.add(m.executorRunTime)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  def snapshot: RunMetrics = RunMetrics(
    tasks.sum(), recordsRead.sum(), bytesRead.sum(),
    sRead.sum(), sWrite.sum(), runTime.sum(), spill.sum())
}

object MetricsListener {
  /** Run `body` with a fresh listener attached; returns (result, totals).
    * When `jobGroup` is set, the calling thread's jobs are tagged with that
    * group for the duration of `body` (Spark propagates the tag to
    * AQE-stage and broadcast-build jobs via captured local properties), and
    * the listener counts ONLY that group's tasks — concurrent runs on the
    * same session no longer pollute each other's lineage metrics; the
    * caller's own group and description are back in place on return. The
    * listener bus is drained before the snapshot so late task-end events
    * are counted. */
  def capture[T](spark: SparkSession, jobGroup: Option[String] = None)(body: => T): (T, RunMetrics) = {
    val l = new MetricsListener(jobGroup)
    val sc = spark.sparkContext
    def measured: (T, RunMetrics) = {
      val r = body
      org.apache.spark.graft.ListenerBusFlush.flush(sc)
      (r, l.snapshot)
    }
    sc.addSparkListener(l)
    try jobGroup.fold(measured)(g => JobScope.inGroup(sc, g)(measured))
    finally sc.removeSparkListener(l)
  }
}
