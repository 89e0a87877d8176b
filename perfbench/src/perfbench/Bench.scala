package perfbench

import graft.audio.Audio
import graft.engine.ValidationEngine
import graft.rules.{Drift, Referential}
import graft.synth.ClipSynth
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The benchmark's entry point: one workload per run, one JVM, one client.
  *
  *   perfbench.Bench --workload bulk_validate|small_batches --seed N
  *     --seconds S --trace 0|1 --work DIR --traces DIR
  *     [--bulk-clips N] [--inject throw@K,wrong@K]
  *
  * Prints `# ` note lines, then one JSON result line. */
object Bench {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def long(k: String, d: Long): Long = m.get(k).map(_.toLong).getOrElse(d)
  }

  def note(s: String): Unit = println(s"# $s")

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs(): Long = osBean.getProcessCpuTime

  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** The `graft.KernelProbe.work` standard candle: ns per synthesized,
    * encoded, decoded and SNR-checked row, one thread, median of 3. */
  def candleNs(): Double = {
    graft.KernelProbe.work(1500, 3, "all")
    Stats.median((0 until 3).map { r =>
      val t0 = System.nanoTime()
      graft.KernelProbe.work(1500, 7 + r, "all")
      (System.nanoTime() - t0).toDouble / 1500
    })
  }

  private var spark: SparkSession = null

  /** Waits until the listener bus has delivered every pending event. */
  private def flush(sc: org.apache.spark.SparkContext): Unit =
    org.apache.spark.graft.ListenerBusFlush.flush(sc)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)
    val work = Paths.get(a("work")).toAbsolutePath
    val code =
      try run(a, work)
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally {
        if (spark != null) spark.stop()
        Workload.rm(work)
      }
    sys.exit(code)
  }

  def run(a: Args, work: Path): Int = {
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val inject = a.m.getOrElse("inject", "").split(",").filter(_.nonEmpty)
      .map(_.split("@")).map(x => x(0) -> x(1).toInt).toMap
    Files.createDirectories(work)

    val runId = f"$workloadName-s$seed-t${if (traced) 1 else 0}-${System.currentTimeMillis()}%d"
    val tracer = new Tracer(runId, traced)
    val listener = if (traced) Some(new JobListener) else None

    val w: Workload = workloadName match {
      case "bulk_validate" =>
        new BulkValidate(work, Window(Corpus.startFor(seed, 1), a.long("bulk-clips", 32000L)))
      case "small_batches" =>
        new SmallBatches(work, Window(Corpus.startFor(seed, 2), 24000L),
          seed, nBatches = 16)
      case other => sys.error(s"unknown workload $other")
    }

    val sparkConf = Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> work.resolve("spark-local").toString,
      "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString)
    def session(): SparkSession = {
      val b = SparkSession.builder().appName("perfbench")
      sparkConf.foreach { case (k, v) => b.config(k, v) }
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      listener.foreach(s.sparkContext.addSparkListener)
      s
    }
    note(s"run $runId workload=$workloadName seed=$seed seconds=$seconds trace=${if (traced) 1 else 0}")
    note("spark " + sparkConf.filterNot(_._1.endsWith(".dir")).map { case (k, v) => s"$k=$v" }.mkString(" ") +
      s" heap_max_mb=${Runtime.getRuntime.maxMemory() / (1 << 20)} jvm=${ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.filter(_.toString.startsWith("-XX")).mkString(" ")}")

    val candleBefore = candleNs()

    // ---- set-up: once, in the cold JVM, as a one-shot spark-submit pays it
    val setupS = tracer.span("setup") {
      val t0 = System.nanoTime()
      spark = w.setup(() => session(), tracer)
      (System.nanoTime() - t0) / 1e9
    }
    note(f"setup_s: $setupS%.3f")
    tracer.span("prepare-checks")(w.prepareChecks())

    // ---- the operation as the loop runs it
    val layerOf = mutable.Map[Int, Map[String, Double]]()
    def op(k: Int): Checked = {
      if (inject.get("throw").contains(k)) throw new IllegalStateException(s"injected failure in op $k")
      val on = tracer.enabled
      val t0 = tracer.nowMs
      val before = listener.map(_.totals)
      listener.foreach(_.resetPeak())
      val c = tracer.span(s"op-$k")(w.op(k, inject.get("wrong").contains(k), tracer))
      val t1 = tracer.nowMs
      Checked(c.clips, () => {
        // the op's own Spark totals, taken before the check runs jobs of its own
        val after = listener.filter(_ => on).map { l => flush(spark.sparkContext); (l.totals, l.cachePeakBytes) }
        val problems = c.check()
        for (l <- listener; (totals, peak) <- after)
          layerOf(k) = opLayers(l, totals - before.get, peak, t0, t1, c.clips) ++ w.layer(k).values
        problems
      })
    }
    val loop = new Loop(() => processCpuNs(), log = s => note(s))
    // warm-up: on while op times still fall, capped so the whole run fits its
    // budget (the drift note below shows any leftover). Batches keep speeding
    // up for a few ops after the cold one. The cold bulk pass alone reaches
    // the bulk cap, and the pass after it is still about 4% slower than the
    // next (median of 20 runs); a warm pass in every untraced run would not
    // fit the run budget. Traced runs, which are few, warm with one more
    // pass, so their ABBA overhead comparison starts warm.
    val bulk = workloadName == "bulk_validate"
    val warm = loop.warmUp(minOps = if (bulk && traced) 2 else 1, maxOps = 6,
      maxSeconds = if (bulk) 12 else 18)(op)
    // traced runs interleave traced and untraced operations in ABBA order
    // (traced, untraced, untraced, traced), so the tracing overhead is
    // measured in the same JVM and window, and a trend across the window
    // cancels out of it
    val untraced = mutable.Set[Int]()
    val firstTimed = loop.attempted
    val timed = loop.window(seconds, minOps = if (traced) 4 else 2, firstK = firstTimed) { k =>
      val off = traced && Set(1, 2).contains((k - firstTimed) % 4)
      if (off) { untraced += k; tracer.enabled = false; listener.foreach(spark.sparkContext.removeSparkListener) }
      try op(k)
      finally if (off) { tracer.enabled = true; listener.foreach(spark.sparkContext.addSparkListener) }
    }
    val rssMb = vmHwmMb()
    val candleAfter = candleNs()

    val walls = timed.map(_.wallS)
    val correct = loop.failed == 0 && timed.nonEmpty
    note(f"warm-up: ${warm.map(s => f"${s.wallS}%.3f").mkString(" ")} s; cold op ${warm.headOption.map(_.wallS).getOrElse(Double.NaN)}%.3f s")
    if (walls.length >= 2) {
      val h = walls.length / 2
      note(f"drift: median of second half / first half of ${walls.length} timed ops = ${Stats.median(walls.drop(walls.length - h)) / Stats.median(walls.take(h))}%.4f")
    }
    Stats.tail(walls).foreach { case (p, v) => note(f"tail: p$p = $v%.4f s over ${walls.length} ops") }
    note(f"candle ns/row before=$candleBefore%.1f after=$candleAfter%.1f")
    loop.failures.foreach(f => note(s"failure: $f"))

    val metrics: Seq[(String, Double, String)] =
      if (timed.isEmpty || (traced && timed.forall(s => untraced(s.k)))) Nil
      else if (!traced) {
        val clips = timed.map(_.clips).sum.toDouble
        Seq(
          ("clips_per_s", clips / timed.map(_.wallS).sum, "clips/s"),
          ("op_p50_s", Stats.median(walls), "s"),
          ("cpu_ms_per_clip", timed.map(_.cpuS).sum * 1000 / clips, "ms"),
          ("peak_rss_mb", rssMb, "MB"),
          ("setup_s", setupS, "s"))
      } else {
        val l = listener.get
        val tracedOps = timed.filterNot(s => untraced(s.k))
        val perOp = tracedOps.flatMap(s => layerOf.get(s.k))
        val keys = perOp.flatMap(_.keys).distinct
        def med(key: String) = Stats.median(perOp.map(_.getOrElse(key, 0.0)))
        val opWall = Stats.median(tracedOps.map(_.wallS))
        note(f"layer shares of a traced op (median wall $opWall%.3f s):")
        keys.filter(k => k.startsWith("tag:") || k == "spark.driver_gap_s").sortBy(k => -med(k)).foreach { k =>
          note(f"  ${k.stripPrefix("tag:")}%-28s ${med(k)}%8.3f s  ${100 * med(k) / opWall}%5.1f%%")
        }
        val offWalls = timed.filter(s => untraced(s.k)).map(_.wallS)
        val offWall = if (offWalls.isEmpty) Double.NaN else Stats.median(offWalls)
        val overhead = opWall - offWall
        note(f"trace overhead: traced op_p50 $opWall%.4f s - untraced op_p50 $offWall%.4f s = $overhead%.4f s")
        val fn = engineFns(spark, w, tracer)
        val run = Seq(
          ("engine.cold_op_s", warm.headOption.map(_.wallS).getOrElse(Double.NaN), "s"),
          ("store.ingest_s", w.ingestS, "s"),
          ("store.bytes_per_user_byte", bytesPerUserByte(spark, w), "ratio"),
          ("synth.rows_per_s", synthRate(spark, w.setupWindow), "rows/s"),
          ("trace.overhead_op_s", overhead, "s")) ++ fn ++ kernels()
        flush(spark.sparkContext)
        tracer.write(Paths.get(a("traces")).resolve(s"$runId.jsonl"), l.allJobs)
        note(s"spans written: ${Paths.get(a("traces")).resolve(s"$runId.jsonl")}")
        LayerMetrics.all.map { case (name, unit) =>
          run.find(_._1 == name).map(x => (name, x._2, unit))
            .getOrElse((name, if (perOp.isEmpty) Double.NaN else med(name), unit))
        }
      }

    println(resultJson(correct, loop.attempted, loop.failed, metrics))
    if (metrics.isEmpty) 1 else 0
  }

  /** Per-operation layer metrics from the listener (traced runs only). */
  def opLayers(l: JobListener, d: SparkTotals, cachePeakBytes: Long, t0: Double, t1: Double,
      clips: Long): Map[String, Double] = {
    val jobs = l.jobsIn(t0, t1)
    val wall = (t1 - t0) / 1000
    def cover(js: Seq[JobRec]) =
      Intervals.covered(js.map(j => (j.start, if (j.end.isNaN) t1 else j.end)), t0, t1) / 1000
    val tags = jobs.groupBy(_.tag).map { case (t, js) => s"tag:$t" -> cover(js) }
    def tag(t: String) = tags.getOrElse(s"tag:$t", 0.0)
    def count(t: String) = jobs.count(_.tag == t).toDouble
    val mb = 1.0 / (1 << 20)
    tags ++ Map(
      "spark.jobs" -> jobs.length.toDouble,
      "spark.stages" -> d.stages.toDouble,
      "spark.tasks" -> d.tasks.toDouble,
      "spark.driver_gap_s" -> (wall - cover(jobs)),
      "spark.codegen_compiles" -> d.codegenCompiles.toDouble,
      "spark.codegen_compile_s" -> d.codegenNs / 1e9,
      "spark.executor_cpu_s" -> d.executorCpuNs / 1e9,
      "spark.gc_s" -> d.gcMs / 1e3,
      "spark.input_mb" -> d.inputBytes * mb,
      "spark.shuffle_write_mb" -> d.shuffleWriteBytes * mb,
      "spark.shuffle_read_mb" -> d.shuffleReadBytes * mb,
      "spark.spill_mb" -> d.spillBytes * mb,
      "spark.input_rows_per_clip" -> d.inputRecords.toDouble / clips,
      "spark.cache_peak_mb" -> cachePeakBytes * mb,
      "engine.payload_hash_scan_s" -> tag("graft:payload-hash-scan"),
      "engine.baseline_hash_scan_s" -> tag("graft:baseline-hash-scan"),
      "engine.stats_collect_s" -> tag("graft:stats-collect"),
      "engine.pcm_counts_s" -> tag("graft:pcm-counts"),
      "engine.meta_counts_s" -> tag("graft:meta-counts"),
      "engine.pcm_counts_jobs" -> count("graft:pcm-counts"),
      "engine.meta_counts_jobs" -> count("graft:meta-counts"),
      "runner.baseline_stats_s" -> tag("graft:baseline-stats"),
      "runner.append_violations_s" -> tag("graft:append-violations"),
      "runner.append_verdicts_s" -> tag("graft:append-verdicts"),
      "runner.append_lineage_s" -> tag("graft:append-lineage"))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The engine's public functions, each timed alone on the workload's
    * inputs, every output column consumed by a no-op sink. */
  def engineFns(spark: SparkSession, w: Workload, tracer: Tracer): Seq[(String, Double, String)] = {
    val in = w.fnInputs
    val drift = in.rules.collectFirst { case d: Drift => d }.get
    val ref = in.rules.collectFirst { case r: Referential => r }.get
    def timed(name: String)(dfs: => Seq[DataFrame]): (String, Double, String) =
      Workload.withDescription(spark, s"bench:fn-$name") {
        tracer.span(s"engine.fn.$name") {
          val t0 = System.nanoTime()
          dfs.foreach(noop)
          (s"engine.fn.${name}_s", (System.nanoTime() - t0) / 1e9, "s")
        }
      }
    val cur = ValidationEngine.statsPass(in.clips, Seq(drift), in.cfg).persist()
    val base = ValidationEngine.statsPass(in.baseline, Seq(drift), in.cfg).persist()
    cur.count(); base.count()
    val out = Seq(
      timed("dedup_events_meta")(Seq(ValidationEngine.dedupEventsMeta(in.clips))),
      timed("stats_pass")(Seq(ValidationEngine.statsPass(in.clips, in.rules, in.cfg))),
      timed("key_counts")(Seq(ValidationEngine.keyCounts(in.clips, "clip_id", in.cfg, Map.empty))),
      timed("referential")(ValidationEngine.referentialViolations(in.clips, in.transcripts, ref, in.cfg)),
      timed("classify")(Seq(ValidationEngine.classifyAgainstBaseline(in.clips, in.baseline, in.cfg))),
      timed("drift")(Seq(ValidationEngine.driftViolations(cur, base, drift, in.cfg))))
    cur.unpersist(true); base.unpersist(true)
    out
  }

  @volatile private var blackhole = 0.0

  /** Hot kernels on fixed inputs, one thread: median ns per call. */
  def kernels(): Seq[(String, Double, String)] = {
    var sink = 0.0
    def ns(iters: Int)(f: => Double): Double = {
      (0 until iters * 3).foreach(_ => sink += f)
      Stats.median((0 until 5).map { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < iters) { sink += f; i += 1 }
        (System.nanoTime() - t0).toDouble / iters
      })
    }
    val pcm = ClipSynth.baselineRow(177) // pcm_s16le; currentRow(177) is its corrupted copy
    val pcmCur = ClipSynth.currentRow(177).bytes
    val ulaw = ClipSynth.baselineRow(8).bytes
    val ulawBad = ulaw.clone()
    (ulawBad.length / 4 until ulawBad.length / 4 + 128).foreach(j => ulawBad(j) = (ulawBad(j) ^ 0x5A).toByte)
    val xs = Array.tabulate(1 << 16)(i => Audio.unit(i.toLong, 1) * 2000)
    val r = Seq(
      ("kernel.pcm_allclose_ns", ns(20000)(if (Audio.pcmAllclose(pcm.codec, pcm.bytes, pcmCur)) 1 else 0), "ns"),
      ("kernel.g711_decode_snr_ns", ns(20000)(Audio.snrDbCoded("ulaw", ulaw, ulawBad)), "ns"),
      ("kernel.kll_update_ns", {
        val k = KllDoublesSketch.newHeapInstance(Checks.DriftRule.sketchK)
        var j = 0
        ns(200000) { k.update(xs(j & 0xFFFF)); j += 1; 0.0 }
      }, "ns"))
    blackhole = sink // a volatile write keeps the kernel results live
    r
  }

  /** Rows per second of ClipSynth current clips generated at local[N] into
    * a no-op sink over the set-up window. */
  def synthRate(spark: SparkSession, w: Window): Double = {
    val t0 = System.nanoTime()
    noop(Corpus.clips(spark, w).toDF())
    w.n / ((System.nanoTime() - t0) / 1e9)
  }

  /** Bytes the input store holds on disk per byte of user data (binary and
    * string lengths, 4 bytes per int). */
  def bytesPerUserByte(spark: SparkSession, w: Workload): Double = {
    val dir = w.inputStoreDir
    val disk = Files.walk(dir).filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum().toDouble
    val tables = Files.list(dir).toArray.map(_.asInstanceOf[Path].getFileName.toString)
      .filter(t => w.inputStore.exists(t))
    val user = tables.map { t =>
      val df = w.inputStore.read(spark, t)
      val sizes = df.schema.fields.map { f =>
        f.dataType match {
          case org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.BinaryType =>
            coalesce(octet_length(col(f.name)), lit(0)).cast("long")
          case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.DoubleType => lit(8L)
          case _ => lit(4L)
        }
      }
      df.select(sizes.reduce(_ + _).as("b")).agg(sum("b")).collect()(0).getLong(0)
    }.sum.toDouble
    disk / user
  }

  def resultJson(correct: Boolean, attempted: Int, failed: Int, ms: Seq[(String, Double, String)]): String = {
    def num(x: Double) = if (x.isNaN || x.isInfinite) "null" else x.toString
    val m = ms.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$m}}"""
  }
}

/** The per-layer metrics a traced run prints, in BENCHMARK.json's order. */
object LayerMetrics {
  val all: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.driver_gap_s" -> "s",
    "spark.codegen_compiles" -> "count", "spark.codegen_compile_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.input_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.input_rows_per_clip" -> "rows/clip", "spark.cache_peak_mb" -> "MB",
    "engine.payload_hash_scan_s" -> "s", "engine.baseline_hash_scan_s" -> "s",
    "engine.stats_collect_s" -> "s", "engine.pcm_counts_s" -> "s", "engine.meta_counts_s" -> "s",
    "engine.pcm_counts_jobs" -> "count", "engine.meta_counts_jobs" -> "count",
    "engine.fn.dedup_events_meta_s" -> "s", "engine.fn.stats_pass_s" -> "s",
    "engine.fn.key_counts_s" -> "s", "engine.fn.referential_s" -> "s",
    "engine.fn.classify_s" -> "s", "engine.fn.drift_s" -> "s",
    "engine.violations" -> "count", "engine.pcm_new" -> "count", "engine.pcm_changed" -> "count",
    "engine.cold_op_s" -> "s",
    "runner.baseline_stats_s" -> "s", "runner.append_violations_s" -> "s",
    "runner.append_verdicts_s" -> "s", "runner.append_lineage_s" -> "s",
    "store.ingest_s" -> "s", "store.append_s" -> "s", "store.read_s" -> "s",
    "store.snapshots_per_op" -> "count", "store.bytes_per_user_byte" -> "ratio",
    "synth.rows_per_s" -> "rows/s",
    "kernel.pcm_allclose_ns" -> "ns", "kernel.g711_decode_snr_ns" -> "ns", "kernel.kll_update_ns" -> "ns",
    "trace.overhead_op_s" -> "s")
}
