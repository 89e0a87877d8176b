package graft

import graft.engine.{CheckpointedRunner, EngineConfig, SnapshotStore}
import graft.rules.Rule
import graft.synth.ClipSynth
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Resume/lineage semantics (reference analog: `last_checked` bookkeeping,
  * SpecimenRepository.java:35-40) and snapshot-store behavior. */
class CheckpointSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("snapshot store: append-only snapshots, pinned reads") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-snap").toString
    val store = new SnapshotStore(root)
    val s0 = store.append("t", Seq((1, "a")).toDF("k", "v"))
    val s1 = store.append("t", Seq((2, "b")).toDF("k", "v"))
    assert(s0 == 0 && s1 == 1)
    assert(store.read(spark, "t", Some(0)).count() == 1)
    assert(store.read(spark, "t", Some(1)).count() == 2)
    assert(store.read(spark, "t").count() == 2)
    assert(store.currentSnapshotId("t").contains(1L))
  }

  test("snapshot store: concurrent appenders never lose or overwrite a snapshot") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // the reference gets this from Postgres transactions
    // (repository/SpecimenRepository.java:35-40); here the claim-id rename
    // loop must survive a TOCTOU race (DirectoryNotEmptyException path)
    val root = Files.createTempDirectory("graft-snap-race").toString
    val store = new SnapshotStore(root)
    val writers = 6
    val ids = Await.result(
      Future.sequence((0 until writers).map(w => Future {
        store.append("t", Seq((w, s"w$w")).toDF("k", "v"))
      })), 120.seconds)
    assert(ids.toSet.size == writers, s"claimed ids must be distinct: $ids")
    assert(ids.toSet == (0L until writers.toLong).toSet)
    // every writer's row is present exactly once at the final snapshot
    val rows = store.read(spark, "t").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(rows == (0 until writers).map(w => (w, s"w$w")).toSet)
    assert(store.snapshots("t").size == writers)
  }

  test("runResumable: full run then no-op resume; lineage covers all partitions") {
    val root = Files.createTempDirectory("graft-ckpt").toString
    val store = new SnapshotStore(s"$root/state")
    val out = new SnapshotStore(s"$root/out")
    val n = 2000L
    store.append("baseline_clips", ClipSynth.baseline(spark, n).toDF())
    store.append("transcripts", ClipSynth.transcripts(spark, n).toDF())
    val snap = store.append("clips", ClipSynth.clips(spark, n).toDF())

    val runner = new CheckpointedRunner(store, out)
    val lineage1 = runner.runResumable(spark, snap, Rule.standardPack, EngineConfig(saltBuckets = 4))
    val pvs = lineage1.select("partition_values").collect().map(_.getString(0)).toSet
    assert(pvs == Set("codec=pcm_s16le", "codec=ulaw", "codec=alaw", "table=transcripts"))

    val vioCount1 = out.read(spark, runner.ViolationsTable).count()
    assert(vioCount1 > 0)

    // observability: lineage rows carry the run's Spark task metrics
    // (reference analog: the Micrometer batch counters,
    // SourceSystemDataCheckerService.java:41-66)
    val metricsRow = lineage1
      .select("tasks", "records_read", "shuffle_write_bytes", "executor_run_ms").head()
    assert(metricsRow.getLong(0) > 0, "tasks")
    assert(metricsRow.getLong(1) > 0, "records_read")
    assert(metricsRow.getLong(2) > 0, "shuffle_write_bytes")
    assert(metricsRow.getLong(3) > 0, "executor_run_ms")

    // resume: everything checkpointed → no new work, no new output rows
    val lineage2 = runner.runResumable(spark, snap, Rule.standardPack, EngineConfig(saltBuckets = 4))
    assert(lineage2.count() == lineage1.count()) // same lineage table, no new rows for snapshot
    assert(out.read(spark, runner.ViolationsTable).count() == vioCount1)
    assert(out.snapshots(runner.ViolationsTable).size == 1) // no second append
  }

  test("resume on orphan-free data is a no-op (no fabricated orphan violations)") {
    // regression: with NO orphan transcripts in the data, the orphan
    // pseudo-partition used to get no lineage row, so a resume re-ran the
    // orphan anti-join over an empty pending set and flagged EVERY
    // transcript as an orphan
    val root = Files.createTempDirectory("graft-ckpt-noorph").toString
    val store = new SnapshotStore(s"$root/state")
    val out = new SnapshotStore(s"$root/out")
    val n = 2000L
    store.append("baseline_clips", ClipSynth.baseline(spark, n).toDF())
    store.append("transcripts",
      ClipSynth.transcripts(spark, n).toDF().filter(!col("clip_id").startsWith("orphan-")))
    val snap = store.append("clips", ClipSynth.clips(spark, n).toDF())

    val runner = new CheckpointedRunner(store, out)
    val lineage1 = runner.runResumable(spark, snap, Rule.standardPack, EngineConfig(saltBuckets = 4))
    // the orphan pseudo-partition is checkpointed even with ZERO violations
    assert(lineage1.filter(col("partition_values") === "table=transcripts").count() == 1)
    val vio1 = out.read(spark, runner.ViolationsTable).count()
    runner.runResumable(spark, snap, Rule.standardPack, EngineConfig(saltBuckets = 4))
    assert(out.read(spark, runner.ViolationsTable).count() == vio1)
    assert(out.snapshots(runner.ViolationsTable).size == 1) // no second append
  }

  test("crash recovery: outputs without a lineage row are invisible to committed readers") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ckpt-crash").toString
    val store = new SnapshotStore(s"$root/state")
    val out = new SnapshotStore(s"$root/out")
    val n = 2000L
    store.append("baseline_clips", ClipSynth.baseline(spark, n).toDF())
    store.append("transcripts", ClipSynth.transcripts(spark, n).toDF())
    val snap = store.append("clips", ClipSynth.clips(spark, n).toDF())
    val runner = new CheckpointedRunner(store, out)
    runner.runResumable(spark, snap, Rule.standardPack, EngineConfig(saltBuckets = 4))
    val committed = runner.committedOutput(spark, runner.ViolationsTable).count()
    assert(committed > 0)
    // simulate a crash AFTER the violations append but BEFORE lineage:
    // stray rows under a run_id that never reaches the lineage table
    out.append(runner.ViolationsTable,
      Seq(("ghost", "rule", "x", "y", "pv", snap, "crashed-run"))
        .toDF("clip_id", "rule_id", "observed", "expected", "_pv", "snapshot_id", "run_id"))
    assert(out.read(spark, runner.ViolationsTable).count() == committed + 1)
    assert(runner.committedOutput(spark, runner.ViolationsTable).count() == committed)
  }

  test("baseline drift sketches persist on first run and later runs never re-scan the baseline") {
    import org.apache.spark.sql.SparkSession
    class CountingStore(root: String) extends SnapshotStore(root) {
      val reads = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      override def read(spark: SparkSession, table: String,
          snapshot: Option[Long] = None): org.apache.spark.sql.DataFrame = {
        reads.merge(table, 1, (a, b) => a + b)
        super.read(spark, table, snapshot)
      }
    }
    val root = Files.createTempDirectory("graft-ckpt-basestats").toString
    val store = new CountingStore(s"$root/state")
    val out = new SnapshotStore(s"$root/out")
    val n = 2000L
    store.append("baseline_clips", ClipSynth.baseline(spark, n).toDF())
    store.append("transcripts", ClipSynth.transcripts(spark, n).toDF())
    val snap1 = store.append("clips", ClipSynth.clips(spark, n).toDF())
    // drift-bearing pack WITHOUT pcm: the baseline is then needed for the
    // drift sketches ONLY, so a reused sketch ⇒ zero baseline reads
    val rules = Rule.standardPack.filterNot(_.isInstanceOf[graft.rules.PcmEquality])
    val runner = new CheckpointedRunner(store, out)
    runner.runResumable(spark, snap1, rules, EngineConfig(saltBuckets = 4))
    assert(out.exists(runner.BaselineStatsTable), "first run must persist the sketches")
    def driftFails() = runner.committedOutput(spark, runner.VerdictsTable)
      .filter(col("rule_id") === "drift:dur_ms" && !col("pass"))
      .select("partition_values").distinct()
      .collect().map(_.getString(0)).toSet
    val drift1 = driftFails()
    assert(drift1 == Set("codec=alaw"))

    store.append("clips", ClipSynth.clips(spark, n).toDF()) // new snapshot → real work
    val snap2 = store.currentSnapshotId("clips").get
    store.reads.clear()
    runner.runResumable(spark, snap2, rules, EngineConfig(saltBuckets = 4))
    assert(store.reads.getOrDefault("baseline_clips", 0) == 0,
      s"resumed run re-scanned the baseline: ${store.reads}")
    assert(out.snapshots(runner.BaselineStatsTable).size == 1, "no sketch re-append")
    assert(driftFails() == Set("codec=alaw"), "drift verdicts unchanged off stored sketches")
  }

  test("first run's lineage metrics include the baseline sketch scan; a sketch-reusing run's do not") {
    val root = Files.createTempDirectory("graft-ckpt-basemetrics").toString
    val store = new SnapshotStore(s"$root/state")
    val n = 2000L
    store.append("baseline_clips", ClipSynth.baseline(spark, n).toDF())
    store.append("transcripts", ClipSynth.transcripts(spark, n).toDF())
    val snap = store.append("clips", ClipSynth.clips(spark, n).toDF())
    val rules = Rule.standardPack.filterNot(_.isInstanceOf[graft.rules.PcmEquality])
    // run 1 (fresh out-store): computes + persists the baseline drift
    // sketches — that full-baseline scan is the most expensive thing a
    // first run does at scale, so it MUST land in this run's lineage
    val out1 = new SnapshotStore(s"$root/out1")
    val runner1 = new CheckpointedRunner(store, out1)
    val lin1 = runner1.runResumable(spark, snap, rules, EngineConfig(saltBuckets = 4))
    // run 2: identical inputs/rules, but the out-store is pre-seeded with
    // run 1's sketches — the only plan difference is the absent baseline
    // scan, so the records_read delta isolates exactly that scan
    val out2 = new SnapshotStore(s"$root/out2")
    out2.append(runner1.BaselineStatsTable, out1.read(spark, runner1.BaselineStatsTable))
    val runner2 = new CheckpointedRunner(store, out2)
    val lin2 = runner2.runResumable(spark, snap, rules, EngineConfig(saltBuckets = 4))
    val r1 = lin1.select("records_read").head().getLong(0)
    val r2 = lin2.select("records_read").head().getLong(0)
    val baseRows = store.read(spark, "baseline_clips").count()
    assert(r1 >= r2 + baseRows / 2,
      s"first run's records_read=$r1 must exceed the sketch-reusing run's $r2 " +
        s"by ~the baseline scan ($baseRows rows)")
  }

  test("adding a drift rule appends a new sketch generation without fanning out drift rows") {
    // regression (fan-out): the stored-sketch lookup filtered only on
    // base_snapshot_id, so a second generation appended for the SAME
    // baseline (here: a drift rule on a column whose sketch wasn't stored)
    // read back 2+ sketch rows per partition value and the drift left-outer
    // join duplicated every drift violation
    val root = Files.createTempDirectory("graft-ckpt-gen").toString
    val store = new SnapshotStore(s"$root/state")
    val out = new SnapshotStore(s"$root/out")
    val n = 2000L
    store.append("baseline_clips", ClipSynth.baseline(spark, n).toDF())
    store.append("transcripts", ClipSynth.transcripts(spark, n).toDF())
    val snap1 = store.append("clips", ClipSynth.clips(spark, n).toDF())
    val rules1 = Rule.standardPack.filterNot(_.isInstanceOf[graft.rules.PcmEquality])
    val runner = new CheckpointedRunner(store, out)
    runner.runResumable(spark, snap1, rules1, EngineConfig(saltBuckets = 4))

    val snap2 = store.append("clips", ClipSynth.clips(spark, n).toDF())
    val rules2 = rules1 :+ graft.rules.Drift("sr_hz", maxKs = 0.9)
    runner.runResumable(spark, snap2, rules2, EngineConfig(saltBuckets = 4))
    // the new rule's sketch column forced a second generation...
    assert(out.snapshots(runner.BaselineStatsTable).size == 2)
    // ...and drift evaluation read back exactly ONE sketch row per
    // partition value: at most one violation row per (partition, rule)
    // (a drift violation row carries its partition value as clip_id)
    val driftVio = runner.committedOutput(spark, runner.ViolationsTable)
      .filter(col("snapshot_id") === snap2 && col("rule_id").startsWith("drift"))
    val fannedOut = driftVio.groupBy(col("clip_id"), col("rule_id"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1).count()
    assert(fannedOut == 0, "duplicate drift violation rows — sketch generations fanned out")
    // drift semantics unchanged: dur_ms drift still fires on alaw only
    val durFails = driftVio.filter(col("rule_id") === "drift:dur_ms")
      .select("clip_id").distinct().collect().map(_.getString(0)).toSet
    assert(durFails == Set("codec=alaw"))
  }

  test("concurrent streaming window queries on one session do not race each other's confs") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = "/root/testdata/sf0.001"
    val partsBefore = spark.conf.get("spark.sql.shuffle.partitions")
    // two concurrent runs with DIFFERENT state-partition settings: the
    // query-scoped conf (isolated child session) means neither clobbers the
    // other — the old mutate-then-restore pattern raced here
    val f1 = Future(graft.streaming.StreamOps
      .hourlyEventCounts(spark, s"$dir/events.parquet", statePartitions = Some(2))
      .orderBy("hour_start", "event_type").collect())
    val f2 = Future(graft.streaming.StreamOps
      .hourlyEventCounts(spark, s"$dir/events.parquet", statePartitions = Some(7))
      .orderBy("hour_start", "event_type").collect())
    val (r1, r2) = (Await.result(f1, 300.seconds), Await.result(f2, 300.seconds))
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(27,10)")).cast("double").as("sum_value"))
      .orderBy("hour_start", "event_type").collect()
    assert(r1.toSeq == batch.toSeq)
    assert(r2.toSeq == batch.toSeq)
    // the caller's session conf is untouched
    assert(spark.conf.get("spark.sql.shuffle.partitions") == partsBefore)
  }

  test("concurrent runs on one session report only their own task metrics (job-group scoping)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def mkRunner(n: Long) = {
      val root = Files.createTempDirectory(s"graft-ckpt-conc$n").toString
      val store = new SnapshotStore(s"$root/state")
      val out = new SnapshotStore(s"$root/out")
      store.append("baseline_clips", ClipSynth.baseline(spark, n).toDF())
      store.append("transcripts", ClipSynth.transcripts(spark, n).toDF())
      val snap = store.append("clips", ClipSynth.clips(spark, n).toDF())
      (new CheckpointedRunner(store, out), snap)
    }
    val (smallR, smallSnap) = mkRunner(2000L)
    val (bigR, bigSnap) = mkRunner(20000L)
    val fSmall = Future(
      smallR.runResumable(spark, smallSnap, Rule.standardPack, EngineConfig(saltBuckets = 4)))
    val fBig = Future(
      bigR.runResumable(spark, bigSnap, Rule.standardPack, EngineConfig(saltBuckets = 4)))
    val (lSmall, lBig) = (Await.result(fSmall, 300.seconds), Await.result(fBig, 300.seconds))
    val small = lSmall.select("records_read", "tasks").head()
    val big = lBig.select("records_read", "tasks").head()
    // un-scoped listeners would attribute the 10×-bigger run's tasks to the
    // small run too; with job-group scoping the small run's totals stay
    // near its own input volume (~12k file records incl. baseline re-reads)
    assert(small.getLong(0) > 0 && big.getLong(0) > 0)
    assert(small.getLong(0) < 40000L,
      s"small run's records_read=${small.getLong(0)} polluted by the concurrent big run")
    assert(small.getLong(0) < big.getLong(0))
  }

  test("streaming windowed aggregation equals the batch plan on the same input") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamOps.hourlyEventCounts(spark, s"$dir/events.parquet")
      .orderBy("hour_start", "event_type").collect()
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(27,10)")).cast("double").as("sum_value"))
      .orderBy("hour_start", "event_type").collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("clustered store: bucketed read-back, exchange-free co-located diff join") {
    val root = Files.createTempDirectory("graft-clustered").toString
    val store = new SnapshotStore(s"$root/state")
    val n = 3000L
    val snapB =
      store.appendClustered("baseline_clips", ClipSynth.baseline(spark, n).toDF(), "clip_id", 4)
    val snap = store.appendClustered("clips", ClipSynth.clips(spark, n).toDF(), "clip_id", 4)
    assert(store.clusteringOf("clips", snap).contains(("clip_id", 4)))
    assert(store.clusteringIfColocated("clips", Some(snap)).isDefined &&
      store.clusteringIfColocated("baseline_clips").isDefined)
    assert(store.clusteringOf("baseline_clips", snapB).contains(("clip_id", 4)))

    // read-back is row-identical to a plain (unclustered) append of the same data
    val plain = new SnapshotStore(s"$root/plain")
    plain.append("clips", ClipSynth.clips(spark, n).toDF())
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.withColumn("bytes", xxhash64(col("bytes")))
        .collect().map(_.toString).sorted.toSeq
    assert(canon(store.read(spark, "clips")) == canon(plain.read(spark, "clips")))

    // the full-decode diff join over co-located snapshots plans with NO
    // exchange: the storage layout already co-partitioned both sides
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // at test scale Spark would auto-broadcast the tiny baseline; force
      // the join shape a 10^12-row run gets (both sides too big to ship)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = graft.engine.ValidationEngine.classifyAgainstBaseline(
        store.read(spark, "clips"), store.read(spark, "baseline_clips"),
        EngineConfig(fullDecodeVerify = true, colocatedInputs = true,
          broadcastThresholdBytes = 1))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"co-located diff join must not shuffle:\n$plan")
      assert(joined.count() == store.read(spark, "clips").count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)

    // a second (plain) append demotes the table to the union read path
    import spark.implicits._
    val before = store.read(spark, "clips").count()
    store.append("clips", Seq(("zz", Array[Byte](1), 16000, 10, "pcm_s16le", "t"))
      .toDF("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"))
    assert(store.clusteringIfColocated("clips").isEmpty)
    assert(store.read(spark, "clips").count() == before + 1)
  }

  test("co-location needs both tables clustered on clip_id with one bucket count") {
    val n = 500L
    def colocated(key: String, baseBuckets: Int): Boolean = {
      val root = Files.createTempDirectory(s"graft-coloc-key-$key").toString
      val store = new SnapshotStore(s"$root/state")
      store.appendClustered("baseline_clips", ClipSynth.baseline(spark, n).toDF(), key, baseBuckets)
      val snap = store.appendClustered("clips", ClipSynth.clips(spark, n).toDF(), key, 4)
      new CheckpointedRunner(store, new SnapshotStore(s"$root/out"))
        .configFor(snap, EngineConfig()).colocatedInputs
    }
    assert(colocated("clip_id", 4))
    // same (key, numBuckets) on both sides, but not the diff join's key
    assert(!colocated("codec", 4))
    assert(!colocated("clip_id", 8))
  }

  test("metadata dedup over a clustered store shuffles on its fingerprint, not the bucket layout") {
    val root = Files.createTempDirectory("graft-clustered-dedup").toString
    val store = new SnapshotStore(s"$root/state")
    val n = 2000L
    store.appendClustered("clips", ClipSynth.clips(spark, n).toDF(), "clip_id", 16)
    val meta = graft.engine.ValidationEngine.dedupEventsMeta(store.read(spark, "clips"))
    // clip_id buckets already satisfy a group-by over every column; the
    // dedup must still shuffle, or 16 buckets become 16 tasks per stage
    // of every metadata branch downstream
    val plan = meta.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange hashpartitioning(_fp1"), plan)
    assert(meta.count() == TestOracle.expected(n.toInt).events.size)
  }

  /** One `runResumable` of the standard pack over 2000 clips into a fresh
    * out-store, with `spark.sql.adaptive.advisoryPartitionSizeInBytes` set
    * to `advisory` ("1b" keeps every upstream partition: the un-sized
    * output). Returns the out-store's root directory. */
  private def sizedRun(advisory: String, emptyBaseline: Boolean): String = {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val root = Files.createTempDirectory(s"graft-sized-$advisory").toString
    val store = new SnapshotStore(s"$root/state")
    val n = 2000L
    val base = ClipSynth.baseline(spark, n).toDF()
    store.append("baseline_clips", if (emptyBaseline) base.limit(0) else base)
    store.append("transcripts", ClipSynth.transcripts(spark, n).toDF())
    val snap = store.append("clips", ClipSynth.clips(spark, n).toDF())
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, advisory)
      new CheckpointedRunner(store, new SnapshotStore(s"$root/out"))
        .runResumable(spark, snap, Rule.standardPack, EngineConfig(saltBuckets = 4))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    s"$root/out"
  }

  private val outputTables = Seq("violations", "verdicts", "lineage", "baseline_stats")

  /** `part-*` files in the table's first snapshot. */
  private def partFiles(out: String, table: String): Int =
    Files.list(Paths.get(out, table, "snap-0")).iterator().asScala
      .count(_.getFileName.toString.startsWith("part-"))

  /** The table's first snapshot without its run id; a drift violation's
    * KS estimate is normalized (KLL is insertion-order-sensitive in the
    * third decimal). */
  private def outputRows(out: String, table: String): DataFrame = {
    val df = spark.read.parquet(Paths.get(out, table, "snap-0").toString).drop("run_id")
    if (!df.columns.contains("observed")) df
    else df.withColumn("observed",
      when(col("rule_id").startsWith("drift:"), lit("drifted")).otherwise(col("observed")))
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("runResumable writes one part file per output snapshot at the default advisory size") {
    val sized = sizedRun("64MB", emptyBaseline = false)
    val unsized = sizedRun("1b", emptyBaseline = false)
    outputTables.foreach(t => assert(partFiles(sized, t) == 1, t))
    assert(partFiles(unsized, "violations") > 1, "the un-sized union has several partitions")
    Seq("violations", "verdicts").foreach(t =>
      assert(sameRows(outputRows(sized, t), outputRows(unsized, t)), t))
  }

  test("violations split by the advisory size, never beyond the un-sized partitions") {
    // empty baseline: every clip is new, so the pcm branch alone holds
    // ~2000 violation rows, ~150 KB in the cache
    val sized = sizedRun("32k", emptyBaseline = true)
    val unsized = sizedRun("1b", emptyBaseline = true)
    val (files, unsizedFiles) = (partFiles(sized, "violations"), partFiles(unsized, "violations"))
    assert(files > 1 && files <= unsizedFiles, s"sized $files, un-sized $unsizedFiles")
    assert(sameRows(outputRows(sized, "violations"), outputRows(unsized, "violations")))
  }

  test("runResumable: clustered corpus yields outcomes identical to unclustered") {
    val n = 2500L
    def outputs(clustered: Boolean): (Seq[String], Seq[String]) = {
      val root = Files.createTempDirectory(s"graft-coloc-$clustered").toString
      val store = new SnapshotStore(s"$root/state")
      val out = new SnapshotStore(s"$root/out")
      def put(t: String, df: org.apache.spark.sql.DataFrame): Long =
        if (clustered) store.appendClustered(t, df, "clip_id", 4) else store.append(t, df)
      put("baseline_clips", ClipSynth.baseline(spark, n).toDF())
      put("transcripts", ClipSynth.transcripts(spark, n).toDF())
      val snap = put("clips", ClipSynth.clips(spark, n).toDF())
      val runner = new CheckpointedRunner(store, out)
      runner.runResumable(spark, snap, Rule.standardPack,
        EngineConfig(saltBuckets = 4, fullDecodeVerify = true))
      // KLL quantile sketches are insertion-order-sensitive, so the KS
      // *estimate* legitimately wiggles in the 3rd decimal across storage
      // layouts (partitioning = insertion grouping); the drift verdict must
      // still agree, so only the numeric detail is normalized here.
      val v = runner.committedOutput(spark, runner.ViolationsTable)
        .withColumn("observed",
          when(col("rule_id").startsWith("drift:"), lit("drifted")).otherwise(col("observed")))
        .select("clip_id", "rule_id", "observed", "expected")
        .collect().map(_.toString).sorted.toSeq
      val g = runner.committedOutput(spark, runner.VerdictsTable)
        .select("partition_values", "rule_id", "pass", "violation_count")
        .collect().map(_.toString).sorted.toSeq
      (v, g)
    }
    val (vc, gc) = outputs(clustered = true)
    val (vp, gp) = outputs(clustered = false)
    assert(vc == vp, "violations must not depend on the storage layout")
    assert(gc == gp, "verdicts must not depend on the storage layout")
    assert(vc.nonEmpty && gc.nonEmpty)
  }
}
