package graft.engine

import graft.rules.{Drift, Referential, Rule}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Resumable, lineage-emitting execution of a rule pack against a pinned
  * snapshot.
  *
  * Resume unit = (snapshot_id, partition_values): a partition whose lineage
  * row already exists for the pinned snapshot is skipped entirely — the
  * engine's analog of the reference only bumping `last_checked` after a
  * batch fully classified (SourceSystemDataCheckerService.java:62-66;
  * SpecimenRepository.java:35-40).
  *
  * Commit protocol: every run gets a fresh `run_id`; verdicts and
  * violations are appended first carrying that run_id, the lineage rows
  * (same run_id) are appended LAST. Lineage presence is the commit marker:
  * a crash between the output appends and the lineage append leaves
  * orphan output rows whose run_id never appears in lineage — readers use
  * [[committedOutput]] to filter them out, so re-running after a crash is
  * idempotent for consumers (no double counting).
  */
final class CheckpointedRunner(store: SnapshotStore, outStore: SnapshotStore) {

  val LineageTable = "lineage"
  val VerdictsTable = "verdicts"
  val ViolationsTable = "violations"
  val BaselineStatsTable = "baseline_stats"

  /** Baseline drift sketches, persisted-once: the first run against a given
    * baseline snapshot computes the KLL sketch pass over the baseline table
    * and stores the (tiny, per-partition) sketch rows; every later run
    * reads the stored sketches instead of re-scanning the full baseline —
    * at 10^12 rows that re-scan would be a full-table pass per run for the
    * drift rule alone. Reference analog: the checker reads STORED state, it
    * does not recompute it per batch (SpecimenRepository.java:26-33).
    * Invalidation: rows are keyed by the baseline table's snapshot id; a
    * new baseline snapshot (or a drift rule on a column whose sketch isn't
    * stored) triggers recompute + append.
    *
    * Each append is one GENERATION (`gen_id` + the `sketch_cols` it
    * computed), and the read-back selects exactly the latest generation
    * covering all needed columns: without that, a second append for the
    * same baseline snapshot (drift rule added later, or two first runs
    * racing) would read back 2+ sketch rows per partition value, and the
    * drift left-outer join would fan out — duplicate drift violations and
    * inflated lineage violation_count. */
  private def baselineStatsFor(
      spark: SparkSession, driftRules: Seq[Drift], cfg: EngineConfig): Option[DataFrame] = {
    if (driftRules.isEmpty) return None
    val baseSnap = store.currentSnapshotId("baseline_clips").getOrElse(-1L)
    val needed = driftRules.map(d => s"kll_${d.column}")
    def stored: Option[DataFrame] =
      if (!outStore.exists(BaselineStatsTable)) None
      else {
        val all = outStore.read(spark, BaselineStatsTable)
          .filter(col("base_snapshot_id") === baseSnap)
        if (!Seq("gen_id", "sketch_cols").forall(all.columns.contains) ||
            !needed.forall(all.columns.contains)) None
        else {
          val covering = needed.foldLeft(all.filter(col("gen_id").isNotNull)) {
            (df, c) => df.filter(array_contains(col("sketch_cols"), c))
          }
          val latest = covering.agg(max("gen_id")).collect()(0)
          if (latest.isNullAt(0)) None
          else Some(covering.filter(col("gen_id") === latest.getLong(0)))
        }
      }
    stored.orElse {
      // one sketch row per partition value: one partition, so one file
      outStore.append(BaselineStatsTable,
        ValidationEngine.statsPass(store.read(spark, "baseline_clips"), driftRules, cfg)
          .withColumn("base_snapshot_id", lit(baseSnap))
          .withColumn("gen_id", lit(System.nanoTime()))
          .withColumn("sketch_cols", array(needed.map(lit): _*))
          .coalesce(1))
      stored // single source of truth: read back what the store committed
    }
  }

  def donePartitions(spark: SparkSession, snapshotId: Long): Set[String] =
    if (!outStore.exists(LineageTable)) Set.empty
    else outStore.read(spark, LineageTable)
      .filter(col("snapshot_id") === snapshotId)
      .select("partition_values").distinct()
      .collect().map(_.getString(0)).toSet

  /** Verdicts/violations filtered to COMMITTED runs only: rows whose
    * (snapshot_id, run_id) pair has a lineage row. Un-committed appends
    * from a crashed run never surface. */
  def committedOutput(spark: SparkSession, table: String): DataFrame = {
    val out = outStore.read(spark, table)
    if (!outStore.exists(LineageTable)) return out.limit(0)
    val committed = outStore.read(spark, LineageTable)
      .select(col("snapshot_id"), col("run_id")).distinct()
    out.join(broadcast(committed), Seq("snapshot_id", "run_id"), "left_semi")
  }

  /** `cfg` for a run over clips snapshot `snapshotId`, with
    * `colocatedInputs` set when clustered storage (the Iceberg
    * bucket-partition emulation) co-locates the diff join: the pinned clips
    * snapshot and the baseline must BOTH be clustered on `clip_id`, the
    * join key, with the SAME bucket count. Co-located, the payload diff
    * join never moves the multi-KB payloads; at 10^12 rows a shuffle would
    * re-move every one of them per run. Any other layout — a different
    * bucket count (e.g. changed between corpus generations) or another
    * clustering key — is NOT co-located on the join key, and flagging it
    * would drop the shuffle_hash hint and let Catalyst plan a sort-merge
    * join with an exchange + sort of the payload rows — exactly the
    * pathology the hint exists to avoid. */
  def configFor(snapshotId: Long, cfg: EngineConfig): EngineConfig =
    (store.clusteringIfColocated("clips", Some(snapshotId)),
        store.clusteringIfColocated("baseline_clips")) match {
      case (Some(a @ ("clip_id", _)), Some(b)) if a == b => cfg.copy(colocatedInputs = true)
      case _ => cfg
    }

  /** Run `rules` over the pinned clips snapshot, skipping finished
    * partitions. Returns the lineage rows for the pinned snapshot (the
    * pre-existing rows on a no-op resume). */
  def runResumable(
      spark: SparkSession,
      snapshotId: Long,
      rules: Seq[Rule],
      cfg: EngineConfig = EngineConfig()): DataFrame = {

    val clips = store.read(spark, "clips", Some(snapshotId))
    val transcripts = store.read(spark, "transcripts")
    val cfg0 = configFor(snapshotId, cfg)

    val done = donePartitions(spark, snapshotId)
    val pending =
      if (done.isEmpty) clips else clips.filter(!ValidationEngine.pvCol.isin(done.toSeq: _*))

    // The orphan (parent-without-child) direction of a Referential rule is
    // only well-defined against the FULL child table: running it over a
    // pending subset would flag every already-validated clip's transcript
    // as an orphan. It therefore runs exactly once, on the initial
    // (done-empty) pass — whose verdict grid checkpoints the
    // "table=<parent>" pseudo-partition even with zero violations — and is
    // disabled on every resume.
    val effRules = if (done.isEmpty) rules
    else rules.map { case r: Referential => r.copy(bidirectional = false); case r => r }

    if (done.nonEmpty && pending.isEmpty) {
      // no-op resume: every data partition checkpointed — return existing
      // lineage (idempotent: the result is "the state after this run")
      return outStore.read(spark, LineageTable).filter(col("snapshot_id") === snapshotId)
    }

    val runId = java.util.UUID.randomUUID().toString
    val t0 = System.nanoTime()

    // route outputs (A1/W1-W3 analog): violations first, verdicts second,
    // lineage LAST — lineage presence is the commit marker for this run_id.
    // Task metrics are captured over the WHOLE engine evaluation — the
    // baseline drift-sketch pass included: on the one run that actually
    // scans the full baseline (first run per baseline snapshot) that scan
    // is the most expensive thing the run does at 10^12 rows, so it must
    // show up in this run's lineage records_read/bytes_read — plus dedup
    // cache population, every rule branch, and the output appends, all
    // under this run's job group, so (a) the input scan + dedup exchange
    // are counted, and (b) a concurrent run on the same session
    // contributes nothing; the lineage write itself is excluded by
    // construction.
    val stamp = (df: DataFrame) => df
      .withColumn("snapshot_id", lit(snapshotId)).withColumn("run_id", lit(runId))
    // phase tags on the jobs each step submits (visible in the UI/history
    // and in the JobTimeline — the serial-term attribution)
    val sc = spark.sparkContext
    val (report, m) = MetricsListener.capture(spark, Some(runId)) {
      val baselineStats = JobScope(sc, "baseline-stats") {
        baselineStatsFor(spark, effRules.collect { case d: Drift => d }, cfg0)
      }
      val rep = JobScope(sc, "evaluate") {
        ValidationEngine.run(spark, pending, transcripts,
          store.read(spark, "baseline_clips"), effRules, cfg0, baselineStats)
      }
      JobScope(sc, "append-violations") { outStore.append(ViolationsTable, stamp(rep.violations)) }
      JobScope(sc, "append-verdicts") { outStore.append(VerdictsTable, stamp(rep.verdicts)) }
      rep
    }
    val wallMs = (System.nanoTime() - t0) / 1000000L

    val lineage = report.verdicts
      .groupBy(col("partition_values"))
      .agg(collect_set(col("rule_id")).as("rules_evaluated"),
        sum(col("violation_count")).as("violation_count"))
      .select(lit(snapshotId).as("snapshot_id"), col("partition_values"),
        col("rules_evaluated"), col("violation_count"), lit(wallMs).as("wall_ms"),
        lit(runId).as("run_id"),
        lit(m.tasks).as("tasks"), lit(m.recordsRead).as("records_read"),
        lit(m.bytesRead).as("bytes_read"),
        lit(m.shuffleReadBytes).as("shuffle_read_bytes"),
        lit(m.shuffleWriteBytes).as("shuffle_write_bytes"),
        lit(m.executorRunTimeMs).as("executor_run_ms"),
        lit(m.spilledBytes).as("spilled_bytes"))
      .coalesce(1) // one row per partition value: one file
    JobScope(sc, "append-lineage") { outStore.append(LineageTable, lineage) }
    report.unpersist()
    outStore.read(spark, LineageTable).filter(col("snapshot_id") === snapshotId)
  }
}
