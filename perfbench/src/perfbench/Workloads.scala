package perfbench

import graft.engine.{CheckpointedRunner, EngineConfig, SnapshotStore, ValidationEngine}
import graft.model.ClipRecord
import graft.rules.{Drift, Referential, Rule}
import graft.synth.ClipSynth
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-operation counts and times the benchmark measures itself (no
  * listener needed): store calls, snapshots written, violations. */
final class OpLayer {
  val values: mutable.Map[String, Double] = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  def time[T](key: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally values(key) += (System.nanoTime() - t0) / 1e9
  }
}

/** The inputs engine.fn.* timings run on: current clips, baseline and
  * transcripts, as the workload feeds them to the engine. */
final case class FnInputs(clips: DataFrame, baseline: DataFrame, transcripts: DataFrame,
    rules: Seq[Rule], cfg: EngineConfig)

trait Workload {
  def name: String
  /** Rows a set-up synthesizes (for synth.rows_per_s). */
  def setupWindow: Window
  /** The set-up: session start, synthesis, clustered ingest, and whatever
    * else the operations need. Returns the session. */
  def setup(session: () => SparkSession, tracer: Tracer): SparkSession
  /** Expected outputs, computed after set-up (untimed). */
  def prepareChecks(): Unit
  /** One operation; `corrupt` tampers with its output (failure-path test). */
  def op(k: Int, corrupt: Boolean, tracer: Tracer): Checked
  val layers: mutable.Map[Int, OpLayer] = mutable.Map()
  def layer(k: Int): OpLayer = layers.getOrElseUpdate(k, new OpLayer)
  def inputStore: SnapshotStore
  def inputStoreDir: Path
  def fnInputs: FnInputs
  /** Seconds the set-up spent in `SnapshotStore.appendClustered`. */
  var ingestS: Double = 0.0
}

object Workload {
  val Buckets = 64 // graft.Main's default clustering (SPARK_GRAFT_BUCKETS)

  def rm(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  /** (codec partition value, dur_ms) pairs of a frame, grouped. */
  def dursByPv(df: DataFrame): Map[String, Array[Double]] =
    df.select(concat(lit("codec="), col("codec")), col("dur_ms").cast("double")).collect()
      .groupMap(_.getString(0))(_.getDouble(1))

  def ingest(store: SnapshotStore, tracer: Tracer, t: String, df: DataFrame): Double =
    tracer.span(s"store.appendClustered:$t") {
      val t0 = System.nanoTime()
      store.appendClustered(t, df, "clip_id", Buckets)
      (System.nanoTime() - t0) / 1e9
    }

  /** Verdict rows of a frame with the engine's verdict schema. */
  def verdictRows(df: DataFrame): Seq[Checks.Verdict] = df
    .select("partition_values", "rule_id", "pass", "violation_count").collect().toSeq
    .map(r => Checks.Verdict(r.getString(0), r.getString(1), r.getBoolean(2), r.getLong(3)))

  def violationCounts(df: DataFrame): Map[(String, String), Long] = df
    .groupBy(col("rule_id"), when(col("rule_id") === Expected.Pcm, col("observed")).as("o"))
    .count().collect()
    .map(r => (r.getString(0), Option(r.getString(1)).getOrElse("")) -> r.getLong(2)).toMap

  def withDescription[T](spark: SparkSession, d: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(d)
    try body finally sc.setJobDescription(prev)
  }
}

/** `bulk_validate`: one `CheckpointedRunner.runResumable` pass of the
  * standard pack over an N-clip window stored clustered on clip_id, into a
  * fresh output store per pass. */
final class BulkValidate(work: Path, val window: Window) extends Workload {
  import Workload._
  val name = "bulk_validate"
  def setupWindow: Window = window
  private var spark: SparkSession = _
  private var store: SnapshotStore = _
  private var storeDir: Path = _
  private var snapshot = 0L
  private var expected: Expected = _
  private var ks: Map[String, Double] = Map.empty
  private val rules = Rule.standardPack

  def setup(session: () => SparkSession, tracer: Tracer): SparkSession = {
    spark = tracer.span("session")(session())
    storeDir = work.resolve("in")
    store = new SnapshotStore(storeDir.toString)
    // graft.Main's ingest order: baseline, transcripts, then the clips
    ingestS = Seq(
      ingest(store, tracer, "baseline_clips", Corpus.baseline(spark, window).toDF()),
      ingest(store, tracer, "transcripts", Corpus.transcripts(spark, window).toDF()),
      ingest(store, tracer, "clips", Corpus.clips(spark, window).toDF())).sum
    snapshot = store.currentSnapshotId("clips").get
    spark
  }

  def prepareChecks(): Unit = {
    expected = Expected.of(window, window, window, Corpus.orphans(window), bidirectional = true)
    // drift is judged against the exact KS over the deduplicated current
    // events and the baseline. A planted exact copy repeats every metadata
    // column of the row it copies; an id-duplicate carries its own dur_ms
    // and transcript, so metadata identity separates the two.
    val cur = store.read(spark, "clips")
      .select(col("codec"), col("dur_ms"), col("clip_id"), col("sr_hz"), col("transcript")).distinct()
    ks = Checks.exactKs(dursByPv(cur), dursByPv(store.read(spark, "baseline_clips")))
  }

  def op(k: Int, corrupt: Boolean, tracer: Tracer): Checked = {
    val outDir = work.resolve(s"out-$k")
    val out = new SnapshotStore(outDir.toString)
    val runner = new CheckpointedRunner(store, out)
    tracer.span("runner.runResumable") {
      runner.runResumable(spark, snapshot, rules).collect()
    }
    if (corrupt) out.append(runner.ViolationsTable, spark.range(1).select(
      lit("clip-injected").as("clip_id"), lit(Expected.Pcm).as("rule_id"),
      lit("changed").as("observed"), lit("unchanged").as("expected")))
    Checked(window.n, () => try {
      val verdicts = verdictRows(out.read(spark, runner.VerdictsTable))
      val vio = violationCounts(out.read(spark, runner.ViolationsTable))
      val drifted = verdicts.filter(_.rule == Expected.DriftId).map(_.count).sum
      val l = layer(k).values
      l("store.snapshots_per_op") = Seq(runner.LineageTable, runner.VerdictsTable,
        runner.ViolationsTable, runner.BaselineStatsTable).map(out.snapshots(_).length).sum
      l("engine.violations") = vio.values.sum
      l("engine.pcm_new") = vio.getOrElse((Expected.Pcm, "new"), 0L).toDouble
      l("engine.pcm_changed") = vio.getOrElse((Expected.Pcm, "changed"), 0L).toDouble
      Checks.verdicts(expected, ks, verdicts) ++ Checks.violations(expected, vio, drifted)
    } finally rm(outDir))
  }

  def inputStore: SnapshotStore = store
  def inputStoreDir: Path = storeDir
  def fnInputs: FnInputs = {
    val colocated = (store.clusteringIfColocated("clips"), store.clusteringIfColocated("baseline_clips")) match {
      case (Some(a), Some(b)) => a == b
      case _ => false
    }
    FnInputs(store.read(spark, "clips"), store.read(spark, "baseline_clips"),
      store.read(spark, "transcripts"), rules, EngineConfig(colocatedInputs = colocated))
  }
}

/** `small_batches`: 500-clip batches through `ValidationEngine.run` against
  * a stored clustered baseline and transcripts, one client, closed loop;
  * each batch's violations and verdicts appended to an output store. */
final class SmallBatches(work: Path, val baseWindow: Window, seed: Long, nBatches: Int)
    extends Workload {
  import Workload._
  val name = "small_batches"
  val BatchSize = 500
  def setupWindow: Window = baseWindow
  private var spark: SparkSession = _
  private var store: SnapshotStore = _
  private var storeDir: Path = _
  private var out: SnapshotStore = _
  private var outDir: Path = _
  private var sketches: DataFrame = _
  /** Resume-mode rules: referential runs child→parent only. */
  private val rules = Rule.standardPack.map {
    case r: Referential => r.copy(bidirectional = false)
    case r => r
  }
  private val cfg = EngineConfig()

  final case class Batch(window: Window, df: DataFrame, records: Array[ClipRecord]) {
    lazy val expected: Expected =
      Expected.of(window, baseWindow, baseWindow, Corpus.orphans(baseWindow), bidirectional = false)
    var ks: Map[String, Double] = Map.empty
  }
  private var batches: IndexedSeq[Batch] = IndexedSeq.empty

  /** Batch windows in the seed's order: a permutation of the baseline
    * window's 500-clip slots. */
  private def batchWindows: IndexedSeq[Window] = {
    val slots = (0L until baseWindow.n / BatchSize).toArray
    val rnd = new scala.util.Random(seed)
    rnd.shuffle(slots.toSeq).take(nBatches)
      .map(s => Window(baseWindow.start + s * BatchSize, BatchSize)).toIndexedSeq
  }

  def setup(session: () => SparkSession, tracer: Tracer): SparkSession = {
    spark = tracer.span("session")(session())
    storeDir = work.resolve("state"); outDir = work.resolve("out")
    store = new SnapshotStore(storeDir.toString)
    out = new SnapshotStore(outDir.toString)
    ingestS = Seq(
      ingest(store, tracer, "baseline_clips", Corpus.baseline(spark, baseWindow).toDF()),
      ingest(store, tracer, "transcripts", Corpus.transcripts(spark, baseWindow).toDF())).sum
    // the baseline's drift sketches, computed once and kept as stored state
    sketches = tracer.span("sketches") {
      val drift = rules.collect { case d: Drift => d }
      val s = ValidationEngine.statsPass(store.read(spark, "baseline_clips"), drift, cfg)
      spark.createDataFrame(s.collect().toSeq.asJava, s.schema)
    }
    batches = tracer.span("batches") {
      val wins = batchWindows
      val enc = Encoders.product[ClipRecord]
      val size = BatchSize // a local: the closure must not capture the workload
      val rows = spark.createDataset(wins.map(_.start))(Encoders.scalaLong)
        .repartition(spark.sparkContext.defaultParallelism)
        .flatMap(s => (s until s + size).map(ClipSynth.currentRow))(enc)
        .collect().groupBy(r => wins.find(_.contains(r.clip_id.stripPrefix("clip-").toLong)).get)
      wins.map { w =>
        val recs = rows(w).sortBy(_.clip_id)
        Batch(w, spark.createDataset(recs.toSeq)(enc).toDF(), recs)
      }
    }
    spark
  }

  def prepareChecks(): Unit = {
    val base = dursByPv(store.read(spark, "baseline_clips"))
    batches.foreach { b =>
      // the batch's deduplicated events: exact copies collapse on identity
      val events = b.records.distinctBy(r =>
        (r.clip_id, r.sr_hz, r.dur_ms, r.codec, r.transcript, r.bytes.toSeq))
      val cur = events.groupMap(r => "codec=" + r.codec)(_.dur_ms.toDouble)
      b.ks = Checks.exactKs(cur, base)
      b.expected
    }
  }

  def op(k: Int, corrupt: Boolean, tracer: Tracer): Checked = {
    val b = batches(k % batches.length)
    val l = layer(k)
    val (baseline, transcripts) = tracer.span("store.read")(l.time("store.read_s") {
      (store.read(spark, "baseline_clips"), store.read(spark, "transcripts"))
    })
    val rep = tracer.span("engine.run") {
      ValidationEngine.run(spark, b.df, transcripts, baseline, rules, cfg, Some(sketches))
    }
    val violations =
      if (corrupt) rep.violations.filter(col("rule_id") =!= Expected.Pcm) else rep.violations
    val (vId, dId) = tracer.span("store.append")(l.time("store.append_s") {
      (withDescription(spark, "bench:append-violations") {
        out.append("violations", violations.withColumn("batch_id", lit(k)))
      }, withDescription(spark, "bench:append-verdicts") {
        out.append("verdicts", rep.verdicts.withColumn("batch_id", lit(k)))
      })
    })
    rep.unpersist()
    Checked(BatchSize, () => {
      def snap(t: String, id: Long) =
        spark.read.parquet(outDir.resolve(t).resolve(s"snap-$id").toString)
      val verdicts = verdictRows(snap("verdicts", dId))
      val vio = violationCounts(snap("violations", vId))
      val drifted = verdicts.filter(_.rule == Expected.DriftId).map(_.count).sum
      l.values("store.snapshots_per_op") = 2
      l.values("engine.violations") = vio.values.sum
      l.values("engine.pcm_new") = vio.getOrElse((Expected.Pcm, "new"), 0L).toDouble
      l.values("engine.pcm_changed") = vio.getOrElse((Expected.Pcm, "changed"), 0L).toDouble
      Checks.verdicts(b.expected, b.ks, verdicts) ++ Checks.violations(b.expected, vio, drifted)
    })
  }

  def inputStore: SnapshotStore = store
  def inputStoreDir: Path = storeDir
  def fnInputs: FnInputs = FnInputs(batches.head.df, store.read(spark, "baseline_clips"),
    store.read(spark, "transcripts"), rules, cfg)
}
