package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.storage.RDDBlockId
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** A span of the benchmark's own code around a call into one layer. Times
  * are epoch milliseconds with sub-millisecond digits. */
final case class Span(id: Int, parent: Int, name: String, start: Double, var end: Double = Double.NaN)

/** A Spark job as the benchmark's listener saw it. */
final case class JobRec(id: Int, tag: String, start: Double, var end: Double, stages: Seq[Int])

/** Spans kept in memory and written once, when the run ends. Disabled, it
  * records nothing and costs one branch per call. */
final class Tracer(val runId: String, var enabled: Boolean) {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans = ArrayBuffer[Span]()
  private var open = List.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.length, open.headOption.map(_.id).getOrElse(-1), name, nowMs)
      spans += s; open = s :: open
      try body finally { s.end = nowMs; open = open.tail }
    }

  /** Writes the spans and the jobs (each a child of the innermost span open
    * when it was submitted) as JSON lines. */
  def write(path: java.nio.file.Path, jobs: Seq[JobRec]): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = ArrayBuffer[String]()
    spans.foreach { s =>
      lines += f"""{"run":${q(runId)},"kind":"span","id":${s.id},"parent":${s.parent},"name":${q(s.name)},"start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}"""
    }
    jobs.foreach { j =>
      val parent = spans.filter(s => s.start <= j.start && j.start <= s.end)
        .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(-1)
      lines += f"""{"run":${q(runId)},"kind":"job","id":"job-${j.id}","parent":$parent,"name":${q(j.tag)},"start_ms":${j.start}%.3f,"end_ms":${j.end}%.3f,"stages":${j.stages.length}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Running totals of the Spark layers below the engine. */
final case class SparkTotals(
    stages: Long, tasks: Long, executorCpuNs: Long, gcMs: Long,
    inputBytes: Long, inputRecords: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long,
    codegenCompiles: Long, codegenNs: Long) {
  def -(o: SparkTotals): SparkTotals = SparkTotals(
    stages - o.stages, tasks - o.tasks, executorCpuNs - o.executorCpuNs, gcMs - o.gcMs,
    inputBytes - o.inputBytes, inputRecords - o.inputRecords,
    shuffleReadBytes - o.shuffleReadBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, codegenCompiles - o.codegenCompiles, codegenNs - o.codegenNs)
}

/** The benchmark's listener over the program's jobs: job intervals with
  * their `graft:*` description tag, task metrics, and the block manager's
  * cached-block bytes (peak since the last [[resetPeak]]). */
final class JobListener extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private var stages, tasks, cpuNs, gcMs, inB, inR, shR, shW, spill = 0L
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var cached = 0L
  @volatile private var peak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val d = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .filter(t => t.startsWith("graft:") || t.startsWith("bench:")).getOrElse("untagged")
    jobs.put(e.jobId, JobRec(e.jobId, d, e.time.toDouble, Double.NaN, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = t.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime; gcMs += m.jvmGCTime
      inB += m.inputMetrics.bytesRead; inR += m.inputMetrics.recordsRead
      shR += m.shuffleReadMetrics.totalBytesRead; shW += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isInstanceOf[RDDBlockId]) {
      val key = b.blockManagerId.toString + "/" + b.blockId.name
      val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      val before = Option(blocks.put(key, now)).map(_.longValue).getOrElse(0L)
      cached += now - before
      peak = math.max(peak, cached)
    }
  }

  def totals: SparkTotals = synchronized {
    SparkTotals(stages, tasks, cpuNs, gcMs, inB, inR, shR, shW, spill,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
  }
  def resetPeak(): Unit = synchronized { peak = cached }
  def cachePeakBytes: Long = peak
  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
  def jobsIn(fromMs: Double, toMs: Double): Seq[JobRec] =
    allJobs.filter(j => j.start >= fromMs - 1 && j.start <= toMs + 1)
}

object Intervals {
  /** Length of the union of [start, end] intervals clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) { if (!curB.isNaN) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

}
