package graft

import graft.engine.{CheckpointedRunner, EngineConfig, RunTrace, SnapshotStore}
import graft.rules.Rule
import org.apache.spark.sql.SparkSession

/** Scaling measurement on a TRUE multi-executor cluster in one box:
  * `local-cluster[W, 1, mem]` spawns W separate single-core executor JVMs
  * (each with its own JIT, GC, and memory manager) — the faithful
  * in-sandbox analog of W executors that single-JVM `local[W]` is not
  * (measured there: shared-JIT recompile storms + futex contention made
  * 4× threads run SLOWER; see BENCH/BASELINE.md).
  *
  * Usage: graft.ClusterBench prep [nRows] [workDir]
  *        graft.ClusterBench <workers> [nRows] [workDir] [fast|full] [memMB]
  * Requires SPARK_HOME=/opt/spark (worker JVMs are launched from the
  * distribution) and the packaged jar (shipped to executors via
  * spark.jars). Emits one JSON line per measurement: cold + steady-state.
  *
  * Spark settings come at launch as `-Dspark.*` properties, which win over
  * the session's own (see [[SparkProfile]]): `-Dspark.sql.shuffle.partitions`
  * replaces the fixed 32, and `-Dspark.executor.extraJavaOptions` sizes the
  * executor JVMs — on a real cluster each executor is container-capped to
  * its core slice and JVM ergonomics (GC/JIT thread counts) follow, which
  * e.g. `-XX:ActiveProcessorCount=1` reproduces on one bare box. The JSON
  * line's `exec_opts` is the executor options the session ran with: the
  * launch value, behind the module and IPv6 options Spark puts first.
  */
object ClusterBench {

  /** Cores per executor JVM (default 1). The north rule varies the
    * EXECUTOR count N → 4N; production executors are multi-core, and a
    * multi-core executor JVM also gets sane compiler/GC thread ergonomics
    * (a 1-core-capped JVM runs a single HotSpot compiler thread, which the
    * r4 diagnosis caught in futex storms while chewing huge codegen
    * methods). */
  private val coresPerExec = sys.env.getOrElse("SPARK_GRAFT_EXEC_CORES", "1").toInt

  /** Host-level stall attribution (VM co-tenancy evidence): the
    * /proc/stat `cpu` line's fields — user nice system idle iowait irq
    * softirq steal ... — in jiffies summed over all host CPUs (100 Hz per
    * CPU); zeros when unreadable. Steal is the hypervisor taking our vCPU:
    * a slow pass WITH a big steal delta is external, one WITHOUT is the
    * app's to explain. */
  def cpuStat(): Array[Long] = {
    try {
      val l = scala.io.Source.fromFile("/proc/stat").getLines().next()
      l.split("\\s+").drop(1).map(_.toLong)
    } catch { case _: Throwable => Array.fill(10)(0L) }
  }
  /** Index of the steal field in [[cpuStat]]. */
  val Steal = 7

  private def session(workers: Int, memMb: Int): SparkSession = {
    val jar = new java.io.File(
      "target/scala-2.13/sourcesystemdatacheckerspark_2.13-0.1.0.jar").getAbsolutePath
    val s = SparkProfile.session(s"graft-cluster-$workers",
      "spark.master" -> s"local-cluster[$workers,$coresPerExec,$memMb]",
      // same fixed partitioning across cluster sizes: identical plan,
      // different executor count — the thing the north rule varies
      "spark.sql.shuffle.partitions" -> "32",
      "spark.jars" -> jar,
      "spark.executor.memory" -> s"${memMb}m")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("prep")
    val n = args.drop(1).headOption.map(_.toLong).getOrElse(800000L)
    val workDir = args.drop(2).headOption.getOrElse("/dev/shm/graft-cluster")
    val profile = args.drop(3).headOption.getOrElse("full")
    if (profile != "full" && profile != "fast") {
      System.err.println(s"unknown profile '$profile': expected full or fast")
      sys.exit(2)
    }
    val memMb = args.drop(4).headOption.map(_.toInt).getOrElse(4096)
    val store = new SnapshotStore(s"$workDir/state")

    if (mode == "prep") {
      val spark = SparkProfile.session("graft-cluster-prep")
      spark.sparkContext.setLogLevel("ERROR")
      // write the corpus hash-clustered by clip_id as graft.Main does — the
      // Iceberg bucket(clip_id, N) layout the production design assumes,
      // which lets every validation run's diff join go exchange-free
      if (!store.exists("clips")) {
        def put(table: String, df: org.apache.spark.sql.DataFrame): Unit =
          store.appendClustered(table, df, "clip_id", Main.Buckets)
        put("baseline_clips", graft.synth.ClipSynth.baseline(spark, n).toDF())
        put("transcripts", graft.synth.ClipSynth.transcripts(spark, n).toDF())
        put("clips", graft.synth.ClipSynth.clips(spark, n).toDF())
      }
      println(s"""{"prep":"ok","n":$n,"buckets":${Main.Buckets}}""")
      spark.stop()
      return
    }

    val workers = mode.toInt
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    val spark = session(workers, memMb)
    // SPARK_GRAFT_SETTLE_S: force every executor JVM fully up (including
    // -XX:+AlwaysPreTouch heap faulting) and let the host's load-triggered
    // steal echo decay BEFORE the warmup storm gate samples it — the
    // pretouch burst belongs to executor launch, not the measured regime.
    sys.env.get("SPARK_GRAFT_SETTLE_S").map(_.toInt).filter(_ > 0).foreach { s =>
      spark.range(workers.toLong * coresPerExec * 4)
        .repartition(workers * coresPerExec * 4).count()
      Thread.sleep(s * 1000L)
    }
    val snapshotId = store.currentSnapshotId("clips").get
    val cfg = EngineConfig(fullDecodeVerify = profile == "full")

    def loadAvg(): String = {
      try scala.io.Source.fromFile("/proc/loadavg").getLines().next().split(" ").head
      catch { case _: Throwable => "-1" }
    }
    // SPARK_GRAFT_STAGEDUMP=1: the per-job/stage timeline on stderr — the
    // diagnostic view for "where does W8 burn 2x the task CPU of W2"
    if (sys.env.get("SPARK_GRAFT_STAGEDUMP").contains("1"))
      spark.sparkContext.addSparkListener(new RunTrace(out = Some(System.err)))
    // Optional JIT warmup against a SMALL corpus before the measured
    // passes: whole-stage codegen sources are cached by plan shape, not
    // data size, so one pass over a 100k-row store compiles the exact same
    // generated methods the big measured pass will run — at ~1/64 the
    // data cost. Turns the "cold pass" from a full-size run into seconds,
    // so a scaling cell fits inside a short hypervisor-calm window.
    //
    // The warmup doubles as an IN-BAND storm gate: an idle 30 s /proc/stat
    // probe is blind to co-tenant burstiness (steal only accrues while our
    // vCPUs are runnable, and storms surge within minutes of a calm probe —
    // both measured r5), but the warmup pass lights up every executor, so
    // its own steal delta samples the host under exactly the load the
    // measured pass will apply. With SPARK_GRAFT_ABORT_STEAL_J set, a
    // stormy warmup aborts the cell (exit 3) BEFORE the expensive measured
    // pass, so harvest time is spent on draws that can be clean.
    val warmupS = sys.env.get("SPARK_GRAFT_WARMUP_DIR").filter(_.nonEmpty).map { wd =>
      val wstore = new SnapshotStore(s"$wd/state")
      val wsid = wstore.currentSnapshotId("clips").get
      val wout = new SnapshotStore(s"$workDir/out-warmup-${System.nanoTime()}")
      val s0 = cpuStat()
      val t0 = System.nanoTime()
      new CheckpointedRunner(wstore, wout).runResumable(spark, wsid, Rule.standardPack, cfg).count()
      val t = (System.nanoTime() - t0) / 1e9
      val s1 = cpuStat()
      val stealJ = if (s0.length > Steal && s1.length > Steal) s1(Steal) - s0(Steal) else -1L
      System.err.println(f"[ClusterBench] warmup pass on $wd: $t%.1fs steal_j=$stealJ")
      sys.env.get("SPARK_GRAFT_ABORT_STEAL_J").map(_.toLong).filter(stealJ > _).foreach { th =>
        println(s"""{"workers":$workers,"n":$n,"profile":"$profile","aborted":"warmup_steal","warmup_s":${f"$t%.1f"},"warmup_steal_j":$stealJ,"threshold_j":$th}""")
        spark.stop()
        sys.exit(3)
      }
      t
    }
    // Standard-candle host-speed calibration: the hypervisor's DELIVERED
    // per-core speed on this box drifts >2x on minute timescales with a
    // near-zero steal counter (measured r5: adjacent fixed-work cells 3
    // minutes apart differed 2.4x) — wall times from different cells are
    // not comparable without an in-band reference. A fixed single-thread
    // burst of the engine's own audio kernel runs immediately before and
    // after each measured pass; its wall time IS the host's momentary
    // speed, so cross-cell ratios can be normalized by candle ratio.
    val candleRows = sys.env.getOrElse("SPARK_GRAFT_CANDLE_ROWS", "20000").toLong
    def candle(): Double = {
      if (candleRows <= 0) return -1.0
      val t0 = System.nanoTime()
      KernelProbe.work(candleRows, 7, "all")
      (System.nanoTime() - t0) / 1e9
    }
    if (candleRows > 0) candle() // JIT the candle itself before first use
    def onePass(): (Double, String) = {
      val s0 = cpuStat(); val l0 = loadAvg()
      val out = new SnapshotStore(s"$workDir/out-$workers-${System.nanoTime()}")
      val runner = new CheckpointedRunner(store, out)
      val c0 = candle()
      val t0 = System.nanoTime()
      runner.runResumable(spark, snapshotId, Rule.standardPack, cfg).count()
      val t = (System.nanoTime() - t0) / 1e9
      val c1 = candle()
      val s1 = cpuStat()
      def d(i: Int) = if (s0.length > i && s1.length > i) s1(i) - s0(i) else -1L
      val stat = s"""{"t":${f"$t%.1f"},"steal_j":${d(Steal)},"iowait_j":${d(4)},""" +
        s""""idle_j":${d(3)},"busy_j":${d(0) + d(1) + d(2)},"load0":$l0,"load1":${loadAvg()},""" +
        s""""candle_pre_s":${f"$c0%.2f"},"candle_post_s":${f"$c1%.2f"}}"""
      (t, stat)
    }
    val results = (1 to passes).map(_ => onePass())
    val times = results.map(_._1)
    // best post-warmup pass; with a single configured pass the cold pass IS
    // the steady value (no empty .min crash)
    val steady = if (times.size > 1) times.drop(1).min else times.head
    val all = times.map(t => f"$t%.1f").mkString("[", ",", "]")
    val stats = results.map(_._2).mkString("[", ",", "]")
    val execOpts = spark.conf.getOption("spark.executor.extraJavaOptions").getOrElse("")
    val warm = warmupS.map(w => f""""warmup_s":$w%.1f,""").getOrElse("")
    println(f"""{"workers":$workers,"n":$n,"profile":"$profile",$warm"cold_s":${times.head}%.1f,"validate_s":$steady%.1f,"passes":$all,"pass_stats":$stats,"clips_per_sec":${n / steady}%.0f,"exec_opts":"$execOpts"}""")
    spark.stop()
  }
}
