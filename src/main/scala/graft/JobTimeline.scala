package graft

import java.io.PrintStream
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Job/stage timeline of a harness run (`QRun -jobs`, ClusterBench under
  * SPARK_GRAFT_STAGEDUMP=1): counts jobs and completed stages, and when
  * given a sink prints one line per event —
  *
  *   - `[job]` at submission: its `graft:*` description (see
  *     `graft.engine.JobScope`) and `gap`, the wall time since the previous
  *     job ended — the DRIVER-SERIAL term (planning, collect processing,
  *     commit protocol) that caps scaling efficiency; the sum of gaps plus
  *     the durations of jobs whose stages have ≲cores tasks is the measured
  *     S in T(W) = S + P/cores(W);
  *   - `[job]` at its end, with its duration;
  *   - `[stg]` per completed stage: wall, task time, GC, CPU, shuffle,
  *     input and spill — where a run burns its task CPU;
  *   - `[tsk]` per task that ran longer than 200 ms.
  *
  * Totals the engine stores with each run come from
  * `graft.engine.MetricsListener`; this view is diagnostic only. */
final class JobTimeline(out: Option[PrintStream]) extends SparkListener {
  private val epochNs = System.nanoTime()
  @volatile private var lastJobEndNs = epochNs
  private val submitNs = new ConcurrentHashMap[Int, Long]()
  private val jobCount = new AtomicInteger
  private val stageCount = new AtomicInteger

  def jobs: Int = jobCount.get()
  def stages: Int = stageCount.get()

  private def emit(line: => String): Unit = out.foreach(_.println(line))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobCount.incrementAndGet()
    val now = System.nanoTime()
    submitNs.put(e.jobId, now)
    val what = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))
        .orElse(Option(p.getProperty("callSite.short")))).getOrElse("?")
    emit(f"[job] id=${e.jobId}%4d start=+${(now - epochNs) / 1e9}%8.2fs " +
      f"gap=${math.max(0L, now - lastJobEndNs) / 1e9}%6.3fs stages=${e.stageIds.size}%d " +
      f"what=$what%s")
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val now = System.nanoTime()
    lastJobEndNs = now
    val dur = Option(submitNs.remove(e.jobId)).map(s => (now - s) / 1e9).getOrElse(-1.0)
    emit(f"[job] id=${e.jobId}%4d end=+${(now - epochNs) / 1e9}%8.2fs dur=$dur%6.3fs")
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stageCount.incrementAndGet()
    val si = e.stageInfo; val m = si.taskMetrics
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

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics; val ti = e.taskInfo
    if (m != null && m.executorRunTime > 200)
      emit(f"[tsk] stg=${e.stageId}%4d exec=${ti.executorId}%-3s " +
        f"run=${m.executorRunTime}%6dms cpu=${m.executorCpuTime / 1000000}%6dms " +
        f"gc=${m.jvmGCTime}%5dms sw=${m.shuffleWriteMetrics.writeTime / 1000000}%6dms " +
        f"swB=${m.shuffleWriteMetrics.bytesWritten / 1048576}%5dMB")
  }
}

object JobTimeline {
  /** A timeline attached to `sc`'s listener bus; prints to `out` if set. */
  def attach(sc: SparkContext, out: Option[PrintStream]): JobTimeline = {
    val t = new JobTimeline(out)
    sc.addSparkListener(t)
    t
  }
}
