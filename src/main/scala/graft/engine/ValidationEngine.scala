package graft.engine

import graft.functions.PcmFunctions
import graft.functions.PcmFunctions.pcm_allclose
import graft.model.Outcome
import graft.rules._
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.KolmogorovSmirnov
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Execution config. `saltBuckets` is the phase-1 salt width of the
  * uniqueness key count ([[ValidationEngine.keyCounts]]), which spreads a
  * hot key over that many reducers; `broadcastThresholdBytes` drives
  * explicit broadcast-vs-shuffle join selection by estimated side size
  * (north rule). The partition column is fixed (`codec`), the SNR
  * threshold comes from the [[graft.rules.PcmEquality]] rule, and output
  * frames are sized by Spark's own
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes`. */
final case class EngineConfig(
    saltBuckets: Int = 16,
    broadcastThresholdBytes: Long = 10L << 20,
    /** When true, the pcm_equality diff decodes and SNR-compares EVERY
      * matched row instead of short-circuiting byte-hash-equal pairs —
      * semantically identical (byte-equal ⇒ SNR=∞), but compute-weighted
      * like a production audio-validation profile. The default hash-first
      * path is bandwidth-bound and ~an order of magnitude cheaper. */
    fullDecodeVerify: Boolean = false,
    /** When true, the clips/baseline/transcripts inputs are hash-clustered
      * on clip_id into the same bucket layout (SnapshotStore.appendClustered
      * — the Iceberg bucket-partition emulation), so the payload diff join
      * must NOT be hinted to a shuffled hash join: an unhinted equi-join
      * over co-bucketed sorted scans plans as a sort-merge join with no
      * exchange and no sort — the multi-KB payloads never move. Set by
      * CheckpointedRunner when the pinned snapshots report co-location. */
    colocatedInputs: Boolean = false)

/** verdicts(partition_values, rule_id, pass, violation_count)
  * violations(clip_id, rule_id, observed, expected)
  * — the engine's public outputs (FIXTURES.md §2). `unpersist()` releases
  * the intermediate caches once outputs are materialized. */
final case class ValidationReport(
    verdicts: DataFrame,
    violations: DataFrame,
    private val cached: Seq[DataFrame] = Nil) {
  /** Blocking: the next batch must not start while this run's cache blocks
    * still occupy executor storage memory — async removal lets a back-to-
    * back run inherit a near-full heap and pay its predecessor's GC debt. */
  def unpersist(): Unit = cached.foreach(_.unpersist(blocking = true))
}

/** The validation engine: compiles a `Seq[Rule]` over the clips table into
  * a minimal set of Spark jobs.
  *
  * Dataflow (mirrors the reference pipeline, SURVEY.md §3.1, re-expressed
  * as Catalyst plans):
  *
  *   1. input dedup (S4, RabbitMqConsumerService.java:27)  — exact
  *      duplicate events dropped BEFORE any rule sees them;
  *   2. ONE fused aggregation (map-side partials, one exchange) computes
  *      every stats rule (null rate, min/max, HLL distinct, KLL drift
  *      sketch) per partition — the analog of the reference's single pass
  *      over the batch;
  *   3. uniqueness = salted two-phase count on the natural key (S5,
  *      SourceSystemDataCheckerService.java:42-45);
  *   4. referential = left-anti joins both directions (J4);
  *   5. pcm_equality = left-outer diff join vs baseline + 3-way classify
  *      (J2/J3, SourceSystemDataCheckerService.java:116-154);
  *   6. verdict/violation routing (A1) + per-partition lineage (W1), each
  *      output sized to one partition (so one file) per advisory partition
  *      size of its data.
  */
object ValidationEngine {

  private val PV = "_pv" // internal partition-values column on violations

  /** Verdicts, lineage and resume are keyed per codec. */
  private val PartitionCol = "codec"

  /** `codec=<value>` (`codec=null` for a NULL codec): the partition value
    * that violations, the stats pass and the resume filter all key on. */
  private[engine] def pvCol: Column =
    concat(lit(PartitionCol + "="), coalesce(col(PartitionCol).cast("string"), lit("null")))

  /** `table=<parent>`: the pseudo-partition of a referential rule's orphan
    * direction, which has no codec. */
  private def orphanPv(rule: Referential): String = s"table=${rule.parentTable}"

  /** The 128-bit payload identity: two independent xxhash64 lanes (seeds 3
    * and 4) over `bytes`, named `<prefix>1` and `<prefix>2`. */
  private def payloadLanes(prefix: String): Seq[Column] = Seq(
    xxhash64(lit(3), col("bytes")).as(s"${prefix}1"),
    xxhash64(lit(4), col("bytes")).as(s"${prefix}2"))

  /** Every column but the payload, plus its `_h1`/`_h2` lanes: the narrow
    * frame that both the diff join's cur side and the metadata dedup read. */
  private def hashPayload(df: DataFrame): DataFrame =
    df.select(df.columns.filterNot(_ == "bytes").map(col).toSeq ++ payloadLanes("_h"): _*)

  /** Metadata-only exact-duplicate removal (S4): [[dedupHashedMeta]] over
    * the [[hashPayload]] projection, so the exchange carries ~40 bytes/row
    * instead of the multi-KB audio payload. All metadata rules (stats,
    * uniqueness, referential) run off this.
    *
    * The `_fp1` fingerprint is KEPT on the output: it is a deterministic
    * function of the FULL original row (payload lanes included), and so is
    * the ideal uniqueness-salt source — spread even when a hot key's
    * duplicates are metadata-identical, yet stable under task retry (see
    * [[keyCounts]]). */
  def dedupEventsMeta(clips: DataFrame): DataFrame = dedupHashedMeta(hashPayload(clips))

  /** The metadata dedup over a [[hashPayload]] frame: `dropDuplicates()`
    * over EVERY column is an exact HashAggregate with no aggregate function
    * (a subset key would add `first()` buffers over the string columns and
    * fall back to SortAggregate), and over run()'s cached frame it reads no
    * payload.
    *
    * The repartition on `_fp1` is the dedup's one shuffle. Without it, a
    * store bucketed on clip_id already satisfies the aggregate's
    * distribution, and its bucket count becomes the task count of every
    * metadata stage and output append downstream (64 buckets: about +30%
    * wall, +50% CPU per 32k-clip pass on 4 vCPUs). `_fp1` spreads by
    * whole-row content, so no shared key or payload makes a hot reducer. */
  private def dedupHashedMeta(hm: DataFrame): DataFrame =
    hm.withColumn("_fp1", xxhash64((lit(1) +: hm.columns.map(col).toSeq): _*))
      .repartition(col("_fp1"))
      .dropDuplicates()
      .drop("_h1", "_h2")

  /** The fused per-partition stats pass: ONE aggregation on the partition
    * column for ALL stats rules, one row per partition value with a column
    * per statistic. Every aggregate here (count/sum/min/max, HLL, KLL) has a
    * map-side partial, so each map task ships one partial per partition
    * value and the hot partition (≈80% of rows share codec=pcm_s16le, see
    * ClipSynth) costs its reducer one merge per map task: a salt would only
    * multiply the partials and add a second exchange. `cfg` is not read. */
  def statsPass(events: DataFrame, rules: Seq[Rule], cfg: EngineConfig): DataFrame = {
    val aggs = scala.collection.mutable.ArrayBuffer[Column](count(lit(1)).as("n_rows"))
    rules.foreach {
      case NullRate(c, _) =>
        aggs += sum(col(c).isNull.cast("long")).as(s"nulls_$c")
      case MinMax(c, lo, hi) =>
        aggs += sum((col(c) < lo || col(c) > hi).cast("long")).as(s"oob_$c")
        aggs += min(col(c)).as(s"min_$c")
        aggs += max(col(c)).as(s"max_$c")
      case ApproxDistinct(c, _) =>
        aggs += hll_sketch_estimate(hll_sketch_agg(col(c))).as(s"dv_$c")
      case Drift(c, _, k) =>
        aggs += kll_sketch_agg_double(col(c).cast("double"), k).as(s"kll_$c")
      case _ => // uniqueness/referential/pcm run as their own (join) jobs
    }
    events
      .groupBy(col(PartitionCol))
      .agg(aggs.head, aggs.tail.toSeq: _*)
      .withColumn(PV, pvCol)
  }

  /** Explicit broadcast-vs-shuffle selection by estimated build-side size
    * (north rule; the reference always hash-builds in heap,
    * SourceSystemDataCheckerService.java:42-45 — here the choice is real).
    *
    * The shuffle path is HINTED to a shuffled hash join: Spark's default
    * sort-merge would SORT both sides, and for payload-carrying rows
    * (multi-KB audio bytes) that sort is pure waste — measured here as the
    * spill wall once the corpus outgrows execution memory (3.2M rows at 2
    * cores: the SMJ sort of 8.6 GB of payload rows dominated the run).
    * Hash-building the bounded right side per partition touches each row
    * once; partition counts sized so build chunks fit executor memory (the
    * same sizing any 100 TB deployment already does for AQE). */
  def sizeAwareJoin(left: DataFrame, right: DataFrame, usingKeys: Seq[String],
      joinType: String, thresholdBytes: Long, colocated: Boolean = false): DataFrame = {
    val rightSize = right.queryExecution.optimizedPlan.stats.sizeInBytes
    // Co-bucketed inputs: leave the join UNHINTED — Catalyst sees matching
    // HashPartitioning(key, n) on both bucketed scans and plans a
    // sort-merge join with no exchange (and, with trusted SORTED BY
    // metadata, no sort). A shuffle_hash hint here would re-shuffle what
    // the storage layout already co-located.
    val r =
      if (rightSize <= thresholdBytes) broadcast(right)
      else if (colocated) right
      else right.hint("shuffle_hash")
    left.join(r, usingKeys, joinType)
  }

  // ------------------------------------------------------------ rule jobs

  /** Row-level violations for ALL null-rate / min-max rules in ONE fused
    * scan: each rule contributes a nullable violation struct per row, the
    * non-null ones explode. N rules = N scan stages before; 1 stage now —
    * part of shrinking the engine's serial (driver-scheduling) term, which
    * both bounds q28's floor and caps small-corpus scaling efficiency. */
  private def rowLevelViolations(events: DataFrame, rules: Seq[Rule]): Seq[DataFrame] = {
    val emitters: Seq[Column] = rules.collect {
      case r @ NullRate(c, _) =>
        when(col(c).isNull, struct(lit(r.ruleId).as("rule_id"),
          lit("NULL").as("observed"), lit("not null").as("expected")))
      case r @ MinMax(c, lo, hi) =>
        when(col(c) < lo || col(c) > hi, struct(lit(r.ruleId).as("rule_id"),
          col(c).cast("string").as("observed"), lit(s"[$lo, $hi]").as("expected")))
    }
    if (emitters.isEmpty) Nil
    else Seq(events
      .select(col("clip_id"), pvCol.as(PV),
        filter(array(emitters: _*), e => e.isNotNull).as("_emits"))
      .filter(size(col("_emits")) > 0)
      .select(col("clip_id"), col(PV), explode(col("_emits")).as("_e"))
      .select(col("clip_id"), col("_e.rule_id").as("rule_id"),
        col("_e.observed").as("observed"), col("_e.expected").as("expected"), col(PV)))
  }

  /** Partition-value ordinal column: partition values are metadata-scale
    * and known up front (the stats pass emits one row per value), so min-PV
    * attribution can run as `min(ordinal)` — a fixed-width aggregate that
    * stays inside HashAggregate — instead of a separate string-min job over
    * the violating rows (string aggregation buffers force SortAggregate).
    * The ordinal IS the lexicographic rank, so min(ordinal) ≡ min(pv). */
  private def pvOrdinalCol(pvOrdinals: Map[String, Int]): Column =
    if (pvOrdinals.isEmpty) lit(null).cast("int")
    else element_at(
      map(pvOrdinals.toSeq.flatMap { case (pv, i) => Seq(lit(pv), lit(i)) }: _*), pvCol)

  private def pvDecodeCol(ord: Column, pvOrdinals: Map[String, Int]): Column =
    if (pvOrdinals.isEmpty) lit(null).cast("string")
    else element_at(
      map(pvOrdinals.toSeq.flatMap { case (pv, i) => Seq(lit(i), lit(pv)) }: _*), ord)

  /** Per-key multiplicity + min partition ordinal in ONE salted two-phase
    * aggregation (phase 1 spreads hot keys via the row-content salt; both
    * aggregates are mergeable and fixed-width). Output: (_key, _n, _o) for
    * EVERY key — the uniqueness rule filters _n > 1, and the bidirectional
    * referential rule reuses the same rows as its child key set, so the two
    * rules share one scan + shuffle instead of running three.
    *
    * Phase-1 salt requirements: (a) spread even when a hot key's duplicates
    * are metadata-identical (a key-derived salt degenerates to one
    * reducer), and (b) DETERMINISTIC per row — a row-random surrogate
    * (monotonically_increasing_id) is re-evaluated on fetch-failure /
    * cache-eviction retries and can route rows to different reducers than
    * the original attempt, losing or double-counting per-(key,salt)
    * partials. The full-row fingerprint `_fp1` (kept by [[dedupEventsMeta]])
    * satisfies both: it covers the payload lanes (differs across post-dedup
    * rows even when visible metadata is identical) and is a pure function of row
    * content. Inputs without it fall back to hashing every visible column —
    * still deterministic, spread whenever rows differ anywhere. A NULL key
    * is a group of its own, so duplicated NULL keys still surface.
    *
    * Unlike [[statsPass]], this aggregation keeps its salt: on near-unique
    * keys Spark may skip the map-side partial aggregation, and then the
    * salt is what spreads a hot key's rows. */
  def keyCounts(events: DataFrame, keyCol: String, cfg: EngineConfig,
      pvOrdinals: Map[String, Int]): DataFrame = {
    val saltSrc: Column =
      if (events.columns.contains("_fp1")) col("_fp1")
      else xxhash64(events.columns.map(col): _*)
    events
      .select(col(keyCol).as("_key"), pmod(saltSrc, lit(cfg.saltBuckets)).as("_salt"),
        pvOrdinalCol(pvOrdinals).as("_o"))
      .groupBy(col("_key"), col("_salt"))
      .agg(count(lit(1)).as("_c"), min(col("_o")).as("_o"))
      .groupBy(col("_key"))
      .agg(sum("_c").as("_n"), min("_o").as("_o"))
  }

  /** Uniqueness violations off a precomputed [[keyCounts]] frame: no
    * attribution join — multiplicity and min-PV rode the aggregation. */
  private def uniquenessFromKeyCounts(kc: DataFrame, rule: Uniqueness,
      pvOrdinals: Map[String, Int]): DataFrame =
    kc.filter(col("_n") > 1)
      .select(col("_key").as("clip_id"), lit(rule.ruleId).as("rule_id"),
        col("_n").cast("string").as("observed"), lit("1").as("expected"),
        pvDecodeCol(col("_o"), pvOrdinals).as(PV))

  /** Referential presence both directions via anti-joins (J4 analog).
    * `childKeys` lets the caller supply an already-aggregated distinct key
    * set (e.g. the uniqueness rule's [[keyCounts]]) for the orphan
    * direction, avoiding a second full-events distinct. */
  def referentialViolations(events: DataFrame, parent: DataFrame, rule: Referential,
      cfg: EngineConfig, childKeys: Option[DataFrame] = None): Seq[DataFrame] = {
    val parentKeys = parent.select(col(rule.parentColumn).as(rule.childColumn)).distinct()
    val missing = sizeAwareJoin(events.select(col(rule.childColumn), pvCol.as(PV)),
        parentKeys, Seq(rule.childColumn), "left_anti", cfg.broadcastThresholdBytes)
      .select(col(rule.childColumn).as("clip_id"), lit(rule.ruleId).as("rule_id"),
        lit(s"no ${rule.parentTable} row").as("observed"), lit("present").as("expected"), col(PV))
    if (!rule.bidirectional) Seq(missing)
    else {
      val ck = childKeys.getOrElse(events.select(col(rule.childColumn)).distinct())
      val orphans = sizeAwareJoin(parentKeys, ck, Seq(rule.childColumn),
          "left_anti", cfg.broadcastThresholdBytes)
        .select(col(rule.childColumn).as("clip_id"), lit(rule.ruleId).as("rule_id"),
          lit(s"orphan ${rule.parentTable} row").as("observed"),
          lit("clip present").as("expected"), lit(orphanPv(rule)).as(PV))
      Seq(missing, orphans)
    }
  }

  /** Baseline-side hash projection, exposed so run() can materialize it
    * concurrently with the cur-side payload scan (the two scans are the
    * pcm branch's serial head otherwise). */
  private[engine] def baselineHashProjection(baseline: DataFrame): DataFrame =
    baseline.select((col("clip_id") +: payloadLanes("_bh")) :+ col("transcript").as("_bt"): _*)

  /** The core 3-way diff classify (J2/J3): left-outer join current events
    * against the baseline snapshot on the natural key; absent ⇒ new,
    * payload-different (PCM SNR < threshold OR transcript ≠) ⇒ changed,
    * else unchanged. Only new/changed become violations — exactly the
    * reference's routing.
    *
    * Scale design: the diff join ships 128-bit payload *hashes*, not the
    * multi-KB audio payloads — the wide shuffle shrinks ~50×. Hash-equal ⇒
    * byte-equal ⇒ unchanged (the reference's byte-equality fast path).
    * Only hash-mismatched rows ("suspects", typically ≪1%) pay the decode:
    * a second, suspect-filtered join re-fetches both payloads and runs the
    * SNR ≥ `rule.minSnrDb` allclose. AQE turns the suspect joins into
    * broadcasts at runtime when the suspect set is small.
    *
    * Standalone, the threshold is the [[PcmEquality]] default; run() passes
    * its rule and the shared hash frames to [[classify]], and keeps the
    * `_h1`/`_h2` lanes that classify leaves on its hash-first output. */
  def classifyAgainstBaseline(events: DataFrame, baseline: DataFrame, cfg: EngineConfig): DataFrame =
    classify(events, baseline, cfg, PcmEquality(), identity, None, None).drop("_h1", "_h2")

  private def classify(events: DataFrame, baseline: DataFrame, cfg: EngineConfig,
      rule: PcmEquality, cacheHook: DataFrame => DataFrame,
      hashedCur: Option[DataFrame], hashedBase: Option[DataFrame]): DataFrame = {
    if (cfg.fullDecodeVerify) return classifyFullDecode(events, baseline, cfg, rule.minSnrDb)
    // cur side: either the shared pre-hashed narrow frame (run() computes
    // it in ONE payload scan that also feeds the metadata dedup), or an
    // inline hash projection consumed exactly ONCE by the diff join.
    // Suspect payloads are re-fetched from the raw tables below, not from
    // here.
    val cur = hashedCur.getOrElse(hashPayload(events))
    val base = hashedBase.getOrElse(baselineHashProjection(baseline))
    // `pre` — the widest shuffle in the system — is persisted (narrow:
    // hashes only, no payload) so its consumers (suspect derivation and
    // the final join) pay the exchange exactly ONCE.
    val pre = cacheHook(
      sizeAwareJoin(cur, base, Seq("clip_id"), "left_outer", cfg.broadcastThresholdBytes,
          colocated = cfg.colocatedInputs)
        .withColumn("_prelim",
          when(col("_bh1").isNull, Outcome.New)
            .when(!(col("transcript") <=> col("_bt")), Outcome.Changed)
            .when(col("_h1") === col("_bh1") && col("_h2") === col("_bh2"), Outcome.Unchanged)
            .otherwise(lit("_suspect"))))

    // derived from the `pre` CACHE on each use — a filter over cached
    // narrow rows; no own persist (one less materialization job) and no
    // distinct (semi joins are duplicate-insensitive)
    val suspectIds = pre.filter(col("_prelim") === "_suspect").select("clip_id")
    // suspect payloads re-fetched and hashed AFTER the semi join: the diff
    // lanes are recomputed for ~|suspects| rows only, instead of re-hashing
    // every payload in the corpus a second time (the r3 plan's cost).
    val curPay = events.select(col("clip_id"), col("codec"), col("bytes"))
      .join(suspectIds, Seq("clip_id"), "left_semi")
      .select(Seq(col("clip_id"), col("codec"), col("bytes")) ++ payloadLanes("_h"): _*)
      .dropDuplicates("clip_id", "_h1", "_h2")
    val basePay = baseline.select(col("clip_id"), col("bytes").as("_bb"))
      .join(suspectIds, Seq("clip_id"), "left_semi")
    val resolved = curPay.join(basePay, Seq("clip_id"))
      .select(col("clip_id"), col("_h1"), col("_h2"),
        pcm_allclose(col("codec"), col("_bb"), col("bytes"), rule.minSnrDb).as("_pcm_ok"))

    val out = pre.join(resolved, Seq("clip_id", "_h1", "_h2"), "left_outer")
      .withColumn("outcome",
        when(col("_prelim") =!= "_suspect", col("_prelim"))
          .when(col("_pcm_ok"), Outcome.Unchanged)
          .otherwise(Outcome.Changed))
    out.drop("_bh1", "_bh2", "_bt", "_prelim", "_pcm_ok")
  }

  /** PCM branch works on the RAW (un-deduped) clips: classifying an exact
    * duplicate yields an identical violation row, so dedup happens on the
    * tiny violations output instead of paying a second full-payload shuffle
    * before the diff join. The dedup key is the event's full identity —
    * every metadata column plus its payload identity (the 128-bit hash
    * lanes the diff already computed, or the bytes themselves in
    * full-decode mode) — so no extra full-row fingerprint pass over the
    * multi-KB payloads is needed (r3 hashed every payload twice more for
    * exactly this dedup). */
  private def pcmViolations(rawClips: DataFrame, baseline: DataFrame, rule: PcmEquality,
      cfg: EngineConfig, cacheHook: DataFrame => DataFrame,
      hashedCur: DataFrame, hashedBase: Option[DataFrame]): DataFrame = {
    val metaCols = rawClips.columns.filterNot(_ == "bytes").toSeq
    val dedupKey =
      if (cfg.fullDecodeVerify) metaCols :+ "bytes"
      else metaCols ++ Seq("_h1", "_h2")
    classify(rawClips, baseline, cfg, rule, cacheHook, Some(hashedCur), hashedBase)
      .filter(col("outcome") =!= Outcome.Unchanged)
      .dropDuplicates(dedupKey)
      .select(col("clip_id"), lit(rule.ruleId).as("rule_id"),
        col("outcome").as("observed"), lit(Outcome.Unchanged).as("expected"), pvCol.as(PV))
  }

  /** Full-decode classify: the payloads ride the join and every matched row
    * runs decode + SNR (the north rule's per-row invariant evaluated
    * literally). Used when `cfg.fullDecodeVerify` — compute-weighted, so it
    * scales with cores where the hash-first path saturates memory
    * bandwidth. */
  private def classifyFullDecode(events: DataFrame, baseline: DataFrame,
      cfg: EngineConfig, minSnrDb: Double): DataFrame = {
    val base = baseline.select(col("clip_id"),
      col("bytes").as("_bb"), col("transcript").as("_bt"))
    sizeAwareJoin(events, base, Seq("clip_id"), "left_outer", cfg.broadcastThresholdBytes,
        colocated = cfg.colocatedInputs)
      .withColumn("outcome",
        when(col("_bb").isNull, Outcome.New)
          .when(!PcmFunctions.pcm_snr_db(col("codec"), col("_bb"), col("bytes"))
            .geq(minSnrDb) || !(col("transcript") <=> col("_bt")), Outcome.Changed)
          .otherwise(Outcome.Unchanged))
      .drop("_bb", "_bt")
  }

  /** Kolmogorov–Smirnov distance between two DataSketches `KllDoublesSketch`
    * images — what Spark's `kll_sketch_agg_double` emits and what older runs
    * stored in `baseline_stats` — or 0 when either side is empty: an empty
    * partition cannot evidence drift. */
  private[graft] def ksDelta(a: Array[Byte], b: Array[Byte]): Double = {
    val sa = KllDoublesSketch.heapify(Memory.wrap(a))
    val sb = KllDoublesSketch.heapify(Memory.wrap(b))
    if (sa.isEmpty || sb.isEmpty) 0.0 else KolmogorovSmirnov.computeKSDelta(sa, sb)
  }

  /** Drift: KS distance between current and baseline KLL sketches per
    * partition. One violation row per drifted partition. */
  def driftViolations(curStats: DataFrame, baseStats: DataFrame, rule: Drift,
      cfg: EngineConfig): DataFrame = {
    val ks = udf((a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) 0.0 else ksDelta(a, b))
    val c = rule.column
    curStats.select(col(PV), col(s"kll_$c").as("_cur"))
      .join(baseStats.select(col(PV), col(s"kll_$c").as("_base")), Seq(PV), "left_outer")
      .withColumn("_ks", ks(col("_cur"), col("_base")))
      .filter(col("_ks") > rule.maxKs)
      .select(col(PV).as("clip_id"), lit(rule.ruleId).as("rule_id"),
        format_string("ks=%.4f", col("_ks")).as("observed"),
        lit(s"ks<=${rule.maxKs}").as("expected"), col(PV))
  }

  // --------------------------------------------------------------- driver

  /** `df` narrowed to one partition per
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (64 MB by default)
    * of `bytes`, at least one, so its write leaves one file per advisory
    * share of data instead of one per upstream partition. `coalesce` adds
    * no shuffle and never raises the partition count. */
  private def sizedTo(df: DataFrame, bytes: BigInt): DataFrame = {
    val target = df.sparkSession.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    df.coalesce(((bytes + target - 1) / target).max(1).min(Int.MaxValue).toInt)
  }

  /** What a persisted frame holds in the cache once every partition is
    * materialized (before that: the plan estimate). A fresh projection is
    * planned against the cache, so its estimate is the cached size. */
  private def cachedBytes(df: DataFrame): BigInt =
    df.select("*").queryExecution.optimizedPlan.stats.sizeInBytes

  /** Compile + evaluate the rule pack. The violations DataFrame is computed
    * and persisted inside this call (the verdict grid needs its counts);
    * `baselineStats` may be a persisted sketch table from a previous run —
    * when provided, the `baseline` table is never touched for drift (and,
    * being by-name, never even *read* unless a pcm rule needs payloads). */
  def run(
      spark: SparkSession,
      clips: DataFrame,
      transcripts: DataFrame,
      baseline: => DataFrame,
      rules: Seq[Rule],
      cfg: EngineConfig = EngineConfig(),
      baselineStats: Option[DataFrame] = None): ValidationReport = {

    lazy val baselineDf = baseline
    // dedup+reuse: a frame that several branches read is persisted once
    // instead of recomputing its shuffle per consumer. At cluster scale this
    // becomes "write it to a scratch table" — same pattern, different
    // storage tier.
    val extraCaches = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val cacheHook: DataFrame => DataFrame = df => { val p = df.persist(); extraCaches += p; p }

    // ---- ONE payload scan for the whole run (hash-first mode): the
    // 128-bit payload-hash lanes computed here feed BOTH the pcm diff
    // join's cur side and the metadata dedup, which previously
    // each scanned + hashed every multi-KB payload themselves — the single
    // heaviest duplicated work in the run. Materialized SYNCHRONOUSLY
    // (one count job) before the branch fan-out: the pcm future and the
    // meta chain would otherwise race the cold cache and both compute the
    // scan. In full-decode mode the pcm branch reads the raw payloads, so
    // the dedup is the frame's only reader and it stays uncached.
    val payloadHash: DataFrame =
      if (cfg.fullDecodeVerify) hashPayload(clips) else cacheHook(hashPayload(clips))
    // the baseline-side hash projection is narrow too (clip_id + 2 hash
    // lanes + transcript) — persist it and scan it CONCURRENTLY with the
    // cur-side scan below: the two payload scans were the pcm branch's
    // serial head (~the two most expensive stages of the run, back to back).
    // Built ONLY when a pcm rule exists: `baseline` is by-name precisely so
    // a run with stored drift sketches and no pcm rule never reads it.
    val hashedBase: Option[DataFrame] =
      if (cfg.fullDecodeVerify || !rules.exists(_.isInstanceOf[PcmEquality])) None
      else Some(cacheHook(baselineHashProjection(baselineDf)))

    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    // the job group does not cross into pooled threads on its own — scopes
    // opened there carry it, so a CheckpointedRunner's per-run metrics
    // still see the pooled jobs
    val sc = spark.sparkContext
    val jobGroup = JobScope.group(sc)
    // both single-scan materializations run in parallel (baseline on a
    // pooled thread, clips on this one) BEFORE the branch fan-out: the pcm
    // future and the meta chain would otherwise race the cold caches and
    // compute the scans twice
    val baseScanF: Future[Unit] = hashedBase match {
      case None => Future.successful(())
      case Some(b) => Future { JobScope(sc, "baseline-hash-scan", jobGroup) { b.count(); () } }
    }
    if (!cfg.fullDecodeVerify) JobScope(sc, "payload-hash-scan") { payloadHash.count() }

    // ---- the pcm branch reads ONLY the shared payload-hash frames (or, in
    // full-decode mode, the raw clips) + baseline tables — nothing it needs
    // waits on the dedup/stats caches — so its (dominant) evaluation is
    // launched concurrently below while this thread populates the metadata
    // caches and evaluates the metadata branches: branch-level pipelining
    // that hides the whole metadata chain behind the payload diff join.
    val pcmBranches: Seq[DataFrame] =
      rules.collect { case p: PcmEquality =>
        pcmViolations(clips, baselineDf, p, cfg, cacheHook, payloadHash, hashedBase) }
    val pcmUnion = pcmBranches.reduceOption(_ unionByName _).map(df => df.persist())
    def branchCounts(df: DataFrame): Map[(String, String), Long] = df
      .groupBy(col(PV), col("rule_id")).agg(count(lit(1)).as("violation_count"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val pcmCountsF: Future[Map[(String, String), Long]] = pcmUnion match {
      case None => Future.successful(Map.empty)
      case Some(u) => Future {
        // the baseline-hash cache must be fully populated before any action
        // touches plans containing it (cold-cache race, as above)
        Await.result(baseScanF, scala.concurrent.duration.Duration.Inf)
        JobScope(sc, "pcm-counts", jobGroup) { branchCounts(u) }
      }
    }

    val eventsMeta = dedupHashedMeta(payloadHash).persist()

    val stats = statsPass(eventsMeta, rules, cfg).persist() // rows = #partitions (tiny)
    // Materialize the stats pass FIRST: this single job populates BOTH the
    // eventsMeta cache (before the branch fan-out — concurrently scheduled
    // branch stages would otherwise each recompute the dedup shuffle) and
    // the stats cache, and its rows are needed driver-side anyway (verdict
    // thresholds + the partition-value ordinal domain). Replaces the
    // separate count() populate job of earlier rounds.
    val statsByPv: Map[String, Row] =
      JobScope(sc, "stats-collect") { stats.collect().map(r => r.getAs[String](PV) -> r).toMap }
    // lexicographic ranks over the (metadata-scale) partition-value domain;
    // lets min-PV attribution run as a fixed-width min(ordinal) aggregate
    val pvOrdinals: Map[String, Int] =
      statsByPv.keySet.toSeq.sorted.zipWithIndex.toMap

    val driftRules = rules.collect { case d: Drift => d }
    val baseStats =
      if (driftRules.isEmpty) None
      else Some(baselineStats.getOrElse(statsPass(baselineDf, driftRules, cfg)))

    // one keyCounts aggregation per distinct uniqueness column, shared with
    // the orphan direction of any bidirectional referential rule on the
    // same column (persisted only when actually consumed twice)
    val refRules = rules.collect { case r: Referential => r }
    val keyCountsByCol: Map[String, DataFrame] =
      rules.collect { case u: Uniqueness => u.column }.distinct.map { c =>
        val kc = keyCounts(eventsMeta, c, cfg, pvOrdinals)
        val shared = refRules.exists(r => r.bidirectional && r.childColumn == c)
        c -> (if (shared) cacheHook(kc) else kc)
      }.toMap

    val metaBranches: Seq[DataFrame] =
      rowLevelViolations(eventsMeta, rules) ++
      rules.collect { case u: Uniqueness =>
        uniquenessFromKeyCounts(keyCountsByCol(u.column), u, pvOrdinals) } ++
      refRules.map { r =>
        val ck = keyCountsByCol.get(r.childColumn)
          .map(_.select(col("_key").as(r.childColumn)))
        referentialViolations(eventsMeta, transcripts, r, cfg, ck)
      }.flatten ++
      driftRules.map(d => driftViolations(stats, baseStats.get, d, cfg))

    val emptyViolations = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType.fromDDL(
      s"clip_id STRING, rule_id STRING, observed STRING, expected STRING, $PV STRING"))
    // violations are the SMALL output (only failing rows): every branch is
    // persisted so its consumers (violation counts here, the caller's
    // violations write, lineage) run the expensive rule branches exactly
    // once. Branches are counted as CONCURRENT jobs below (the scheduler
    // back-fills executors across them, guide §2.6): counted as one union
    // they materialized ~15 exchange stages back to back, a pure
    // driver-latency tail that ran AFTER the pcm branch had already
    // finished — measured as the longest serial span of the whole run.
    val metaBranchesP = metaBranches.map(_.persist())
    val metaUnion = metaBranchesP.reduceOption(_ unionByName _)
    val allViolations = (pcmUnion.toSeq ++ metaUnion.toSeq)
      .foldLeft(emptyViolations)(_ unionByName _)

    // ---- verdict grid (A1): every (partition, rule) pair gets a row, pass
    // unless violations (or a stats threshold) say otherwise.
    //
    // Assembled DRIVER-SIDE from BOUNDED collects — the per-(pv, rule)
    // violation counts and the per-partition stats rows. The grid is
    // metadata-scale by construction (≤ partition-spec cardinality × rule
    // count, the same bound as the reference's per-partition lineage), and
    // the distributed formulation it replaces cost ~7 tiny AQE-scheduled
    // exchange/broadcast stages of pure driver latency per run — a direct
    // bite out of the serial term that caps small-corpus scaling.
    val metaCounts: Map[(String, String), Long] = {
      // one concurrent counting job per persisted branch: independent
      // branch DAGs materialize their stages in parallel instead of as one
      // union's sequential AQE chain; per-branch sums add up to the union's
      // counts because the union is bag semantics (unionByName, no
      // distinct). Each count also populates its branch's cache, so the
      // caller's violations output replays no rule work.
      val fs = metaBranchesP.map(b => Future {
        JobScope(sc, "meta-counts", jobGroup) { branchCounts(b) }
      })
      fs.map(Await.result(_, scala.concurrent.duration.Duration.Inf))
        .flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
    }
    val pcmCounts = Await.result(pcmCountsF, scala.concurrent.duration.Duration.Inf)
    val vCounts: Map[(String, String), Long] =
      (metaCounts.toSeq ++ pcmCounts.toSeq).groupMapReduce(_._1)(_._2)(_ + _)

    // The orphan-direction pseudo-partition ("table=<parent>") is included
    // UNCONDITIONALLY whenever a bidirectional Referential rule ran — not
    // only when it produced violations — so the resume checkpoint records
    // that the orphan pass happened even on clean data (a lineage row with
    // violation_count = 0). Without this, a clean re-run would re-execute
    // the orphan anti-join against an empty pending set and fabricate
    // violations for every transcript.
    val pseudoPvs = rules.collect {
      case r: Referential if r.bidirectional => orphanPv(r)
    }
    val partitions =
      (statsByPv.keySet ++ vCounts.keysIterator.map(_._1) ++ pseudoPvs).toSeq.sorted

    // threshold rules judged from the stats row, not the violation count
    def statPass(pv: String, r: Rule): Option[Boolean] = r match {
      case NullRate(c, maxRate) => statsByPv.get(pv).map { s =>
        s.getAs[Long](s"nulls_$c") <= maxRate * s.getAs[Long]("n_rows")
      }
      case ApproxDistinct(c, minD) => statsByPv.get(pv).map { s =>
        s.getAs[Long](s"dv_$c") >= minD
      }
      case _ => None
    }
    val verdictRows: java.util.List[Row] =
      (for { pv <- partitions; r <- rules } yield {
        val vc = vCounts.getOrElse((pv, r.ruleId), 0L)
        Row(pv, r.ruleId, statPass(pv, r).getOrElse(vc == 0L), vc)
      }).asJava
    val verdictSchema = StructType.fromDDL("partition_values STRING NOT NULL, " +
      "rule_id STRING NOT NULL, pass BOOLEAN NOT NULL, violation_count BIGINT NOT NULL")

    // Sized from the materialized caches of the counted branches, not from
    // `allViolations`' plan: its fold starts at the RDD-backed empty frame,
    // whose estimate is spark.sql.defaultSizeInBytes. The grid holds one
    // row per (partition, rule), so it is one partition.
    val violationBytes = (pcmUnion.toSeq ++ metaBranchesP).map(cachedBytes).sum
    ValidationReport(
      verdicts = spark.createDataFrame(verdictRows, verdictSchema).coalesce(1),
      violations = sizedTo(allViolations.drop(PV), violationBytes),
      cached = Seq(eventsMeta, stats) ++ pcmUnion.toSeq ++ metaBranchesP ++ extraCaches.toSeq)
  }
}
