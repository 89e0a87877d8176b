package graft.engine

import java.io.PrintStream
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.scheduler._
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

/** The one listener of a run: its task totals ([[metrics]], the lineage
  * columns), its job and completed-stage counts, and, when given a sink,
  * one line per event —
  *
  *   - `[job]` at submission: its `graft:*` description (see [[JobScope]])
  *     and `gap`, the wall time since the previous job ended — the
  *     DRIVER-SERIAL term (planning, collect processing, commit protocol)
  *     that caps scaling efficiency; the sum of gaps plus the durations of
  *     jobs whose stages have ≲cores tasks is the measured S in
  *     T(W) = S + P/cores(W);
  *   - `[job]` at its end, with its duration;
  *   - `[stg]` per completed stage: wall, task time, GC, CPU, shuffle,
  *     input and spill — where a run burns its task CPU;
  *   - `[tsk]` per task that ran longer than 200 ms.
  *
  * When `jobGroup` is set, it sees only the jobs submitted under that job
  * group and their stages and tasks (job-start events carry the group;
  * their stage ids scope the stage and task events) — so two engine runs
  * sharing one SparkSession each see ONLY their own work. Thread-safe
  * (listener bus delivery + concurrent counters). */
final class RunTrace(jobGroup: Option[String] = None, out: Option[PrintStream] = None)
    extends SparkListener {
  private val epochNs = System.nanoTime()
  @volatile private var lastJobEndNs = epochNs
  private val submitNs = new ConcurrentHashMap[Int, Long]()
  private val ownStages = ConcurrentHashMap.newKeySet[Int]()
  private val jobCount = new LongAdder
  private val stageCount = new LongAdder
  private val tasks = new LongAdder
  private val recordsRead = new LongAdder
  private val bytesRead = new LongAdder
  private val sRead = new LongAdder
  private val sWrite = new LongAdder
  private val runTime = new LongAdder
  private val spill = new LongAdder

  def jobs: Long = jobCount.sum()
  def stages: Long = stageCount.sum()
  def metrics: RunMetrics = RunMetrics(
    tasks.sum(), recordsRead.sum(), bytesRead.sum(),
    sRead.sum(), sWrite.sum(), runTime.sum(), spill.sum())

  private def emit(line: => String): Unit = out.foreach(_.println(line))
  private def own(stageId: Int): Boolean = jobGroup.isEmpty || ownStages.contains(stageId)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    if (jobGroup.forall(g => props.exists(_.getProperty("spark.jobGroup.id") == g))) {
      e.stageIds.foreach(ownStages.add(_))
      jobCount.increment()
      val now = System.nanoTime()
      submitNs.put(e.jobId, now)
      val what = props.flatMap(p => Option(p.getProperty("spark.job.description"))
        .orElse(Option(p.getProperty("callSite.short")))).getOrElse("?")
      emit(f"[job] id=${e.jobId}%4d start=+${(now - epochNs) / 1e9}%8.2fs " +
        f"gap=${math.max(0L, now - lastJobEndNs) / 1e9}%6.3fs stages=${e.stageIds.size}%d " +
        f"what=$what%s")
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(submitNs.remove(e.jobId)).foreach { start =>
      val now = System.nanoTime()
      lastJobEndNs = now
      emit(f"[job] id=${e.jobId}%4d end=+${(now - epochNs) / 1e9}%8.2fs " +
        f"dur=${(now - start) / 1e9}%6.3fs")
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    if (own(si.stageId)) {
      stageCount.increment()
      val m = si.taskMetrics
      val wall = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1000.0
      emit(f"[stg] id=${si.stageId}%4d tasks=${si.numTasks}%-4d wall=$wall%6.2fs " +
        f"run=${m.executorRunTime / 1000.0}%8.1fcs gc=${m.jvmGCTime / 1000.0}%6.1fcs " +
        f"cpu=${m.executorCpuTime / 1e9}%8.1fcs deser=${m.executorDeserializeTime / 1000.0}%6.1fcs " +
        f"sRead=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
        f"fetchWait=${m.shuffleReadMetrics.fetchWaitTime / 1000.0}%6.1fcs " +
        f"sWrite=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
        f"wWait=${m.shuffleWriteMetrics.writeTime / 1e9}%6.1fcs " +
        f"in=${m.inputMetrics.bytesRead / 1e6}%8.1fMB spill=${m.diskBytesSpilled / 1e6}%6.1fMB " +
        si.name.take(80))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (own(e.stageId)) {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      recordsRead.add(m.inputMetrics.recordsRead)
      bytesRead.add(m.inputMetrics.bytesRead)
      sRead.add(m.shuffleReadMetrics.totalBytesRead)
      sWrite.add(m.shuffleWriteMetrics.bytesWritten)
      runTime.add(m.executorRunTime)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      if (m.executorRunTime > 200)
        emit(f"[tsk] stg=${e.stageId}%4d exec=${e.taskInfo.executorId}%-3s " +
          f"run=${m.executorRunTime}%6dms cpu=${m.executorCpuTime / 1000000}%6dms " +
          f"gc=${m.jvmGCTime}%5dms sw=${m.shuffleWriteMetrics.writeTime / 1000000}%6dms " +
          f"swB=${m.shuffleWriteMetrics.bytesWritten / 1048576}%5dMB")
    }
  }
}

object RunTrace {
  /** Run `body` with a fresh trace attached; returns (result, trace). When
    * `jobGroup` is set, the calling thread's jobs are tagged with that
    * group for the duration of `body` (Spark propagates the tag to
    * AQE-stage and broadcast-build jobs via captured local properties), and
    * the trace sees ONLY that group's work — concurrent runs on the same
    * session no longer pollute each other's lineage metrics; the caller's
    * own group and description are back in place on return. The listener
    * bus is drained before the trace is detached, so late task-end events
    * are counted. */
  def capture[T](spark: SparkSession, jobGroup: Option[String] = None,
      out: Option[PrintStream] = None)(body: => T): (T, RunTrace) = {
    val trace = new RunTrace(jobGroup, out)
    val sc = spark.sparkContext
    def measured: T = {
      val r = body
      org.apache.spark.graft.ListenerBusFlush.flush(sc)
      r
    }
    sc.addSparkListener(trace)
    try (jobGroup.fold(measured)(g => JobScope.inGroup(sc, g)(measured)), trace)
    finally sc.removeSparkListener(trace)
  }
}
