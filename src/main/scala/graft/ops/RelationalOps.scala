package graft.ops

import graft.model.Outcome
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic relational operators distilled from the reference pipeline
  * (SURVEY.md §2) — the payload-agnostic versions of what the engine
  * specializes for audio. */
object RelationalOps {

  // Join strategy note (r6 A/B, guide §3.1): these diff joins carry NARROW
  // metadata rows, so they are deliberately left UNHINTED — AQE converts
  // the planned sort-merge join to a broadcast join at runtime whenever the
  // baseline/parents side's ACTUAL post-shuffle size fits (estimates are
  // inflated and would mis-trigger a static hint), and a measured
  // shuffle_hash hint variant was strictly slower because the hint survives
  // AQE replanning and blocks exactly that conversion. The engine's
  // sizeAwareJoin keeps its explicit shuffle_hash because ITS rows carry
  // multi-KB payloads where the sort-merge sort is the known pathology.

  /** The reference's core left-outer diff join + 3-way classify (J2/J3,
    * SourceSystemDataCheckerService.java:116-146) over arbitrary key and
    * payload columns: absent in baseline ⇒ new; any payload column
    * null-safely different ⇒ changed; else unchanged. */
  def diffClassify(incoming: DataFrame, baseline: DataFrame,
      keyCols: Seq[String], payloadCols: Seq[String]): DataFrame = {
    // presence = join-existence marker, NOT payload nullness: a baseline row
    // whose payload columns are all NULL must still classify as present
    // (reference semantics: absent row vs attribute equality are distinct,
    // SourceSystemDataCheckerService.java:132 vs :141-146)
    val base = baseline.select(
      (keyCols.map(col) ++ payloadCols.map(c => col(c).as(s"_base_$c"))) :+
        lit(true).as("_present"): _*)
    val changed = payloadCols.map(c => !(col(c) <=> col(s"_base_$c"))).reduce(_ || _)
    incoming.join(base, keyCols, "left_outer")
      .withColumn("outcome",
        when(col("_present").isNull, Outcome.New)
          .when(changed, Outcome.Changed)
          .otherwise(Outcome.Unchanged))
      .drop(payloadCols.map(c => s"_base_$c") :+ "_present": _*)
  }

  /** Composed change predicate (J3 OR J4, the reference's full
    * `specimenIsChanged`: payload deep-inequality OR relationship-set
    * inequality, SourceSystemDataCheckerService.java:141-154): classify
    * incoming vs baseline where "changed" additionally fires when the SET
    * of related child keys differs (additions AND removals). Null/missing
    * child sets normalize to empty (the reference's null-container→empty
    * Jackson config, ApplicationConfiguration.java:26-31). `incomingRel` /
    * `baselineRel` are (parent key cols…, relCol) link tables. */
  def diffClassifyWithRelSet(incoming: DataFrame, baseline: DataFrame,
      keyCols: Seq[String], payloadCols: Seq[String],
      incomingRel: DataFrame, baselineRel: DataFrame, relCol: String): DataFrame = {
    // The child-key SET is compared via an order-insensitive signature —
    // (distinct count, XOR of [[setLanes]]' two 64-bit value hashes) —
    // instead of a materialized sorted array: `collect_set` is a
    // TypedImperative aggregate (ObjectHashAggregate, sort-based past the
    // 128-key fallback threshold) whose partial set buffers ride the
    // aggregation exchange on each side, while the signature stays in
    // fixed-width whole-stage-codegen HashAggregates end to end. Sets are
    // equal ⇔ signatures are equal, up to a collision in BOTH XOR lanes at
    // once; null child keys are excluded exactly as collect_set dropped
    // them, and a missing set normalizes to (0, 0, 0) as the empty array did.
    val sigCols = Seq("_rel_n", "_rel_h0", "_rel_h1")
    def withSig(df: DataFrame, rel: DataFrame): DataFrame = {
      // ONE exchange for both aggregation levels: hash-partitioning by the
      // parent key alone already clusters (key, value) — Catalyst accepts a
      // subset partitioning for both the distinct and the per-key rollup,
      // so neither grouping adds its own exchange
      val sigs = rel
        .select(keyCols.map(col) :+ col(relCol).cast("string").as("_rv"): _*)
        .filter(col("_rv").isNotNull)
        .repartition(keyCols.map(col): _*)
        .distinct()
        .groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("_rel_n"),
          setLanes(col("_rv")).zipWithIndex.map { case (h, i) => bit_xor(h).as(s"_rel_h$i") }: _*)
      sigCols.foldLeft(df.join(sigs, keyCols, "left_outer"))(
        (d, c) => d.withColumn(c, coalesce(col(c), lit(0L))))
    }
    diffClassify(withSig(incoming, incomingRel), withSig(baseline, baselineRel),
        keyCols, payloadCols ++ sigCols)
      .drop(sigCols: _*)
  }

  /** The two 64-bit hash lanes of a set signature: xxhash64 under its
    * default seed, and under the independent seed xxhash64(7). XOR is
    * linear, so ~65 values suffice to craft two equal-size sets whose
    * one-lane XORs collide (OpsSpec does); both lanes must collide to
    * equate two different sets. */
  private def setLanes(v: Column): Seq[Column] = Seq(xxhash64(v), xxhash64(lit(7), v))

  /** Nested two-level diff routing (J5, the reference's
    * `filterChangedAndNewMedia` over unchanged specimens,
    * SourceSystemDataCheckerService.java:156-191): children classify
    * 3-way against their own baseline, then route on the PARENT's outcome:
    *
    *   - parent new/changed        → route "parent" (the child rides the
    *     parent's event — reference: whole event to name-usage, :87-92);
    *   - parent unchanged, child new/changed → route "child" (the
    *     media-only channel, :94-98);
    *   - both unchanged            → route "none" (state touch only).
    *
    * `parentOutcomes` must carry `parentKeyCols` + "outcome"; `children` /
    * `baselineChildren` carry `parentKeyCols` + `childKeyCols` + payload. */
  def nestedDiffClassify(parentOutcomes: DataFrame, children: DataFrame,
      baselineChildren: DataFrame, parentKeyCols: Seq[String],
      childKeyCols: Seq[String], childPayloadCols: Seq[String]): DataFrame = {
    val parents = parentOutcomes.select(
      (parentKeyCols.map(col) :+ col("outcome").as("_parent_outcome")): _*)
    val childClass = diffClassify(
      children, baselineChildren.drop(parentKeyCols.filterNot(childKeyCols.contains): _*),
      childKeyCols, childPayloadCols)
    childClass.join(parents, parentKeyCols, "left_outer")
      .withColumn("route",
        when(col("_parent_outcome").isNotNull && col("_parent_outcome") =!= Outcome.Unchanged,
          "parent")
          .when(col("outcome") =!= Outcome.Unchanged, "child")
          .otherwise("none"))
      .drop("_parent_outcome")
  }

  /** Set-equality check per group (J4, SourceSystemDataCheckerService.java:
    * 148-154): for each key, is the set of `valueCol` under condition A the
    * same as under condition B? Detects additions AND removals. */
  def setEqualityByKey(df: DataFrame, keyCol: String, valueCol: String,
      condA: Column, condB: Column): DataFrame = {
    // Set equality via order-insensitive signatures — per side, (distinct
    // non-null value count, XOR of [[setLanes]]' two 64-bit value hashes)
    // — instead of two materialized sorted `collect_set` arrays:
    // collect_set is a TypedImperative aggregate (ObjectHashAggregate,
    // sort-based past the 128-key fallback threshold) whose partial set
    // buffers ride the aggregation exchange, while the signature plan is
    // fixed-width whole-stage-codegen HashAggregate end to end. Phase 1
    // flags each (key, value) group's side membership; phase 2
    // counts/hash-XORs the flags. Sets are equal ⇔ counts AND both XOR
    // lanes match (up to a collision in both lanes at once); null values
    // are excluded exactly as collect_set dropped them.
    val inA = max(when(condA && col(valueCol).isNotNull, 1).otherwise(0))
    val inB = max(when(condB && col(valueCol).isNotNull, 1).otherwise(0))
    // `<flag>_h<i>`: lane i's XOR over the values flagged into one side
    def xorLanes(flag: String): Seq[Column] = setLanes(col("_v")).zipWithIndex.map {
      case (h, i) => bit_xor(when(col(flag) === 1, h).otherwise(lit(0L))).as(s"${flag}_h$i")
    }
    // one exchange for both levels: partitioning by the key alone clusters
    // (key, value) too, so the flag aggregation and the per-key rollup both
    // run on the same hash partitioning
    df.repartition(col(keyCol))
      .groupBy(col(keyCol), col(valueCol).as("_v"))
      .agg(inA.as("_fa"), inB.as("_fb"))
      .groupBy(col(keyCol))
      .agg(
        sum(col("_fa")).cast("int").as("n_a"),
        (sum(col("_fb")).cast("int").as("n_b") +: (xorLanes("_fa") ++ xorLanes("_fb"))): _*)
      // the aggregates are never null (every key has ≥1 group row); the
      // coalesces only restore the non-nullable schema the size()/===
      // formulation had
      .select(col(keyCol),
        coalesce(col("n_a"), lit(0)).as("n_a"),
        coalesce(col("n_b"), lit(0)).as("n_b"),
        coalesce(col("n_a") === col("n_b") && col("_fa_h0") === col("_fb_h0") &&
          col("_fa_h1") === col("_fb_h1"), lit(false)).as("sets_equal"))
  }

  /** Compound-key state lookup with semi-join scope reduction (L1/L2): the
    * state side is first pruned to the batch's distinct scope values — the
    * Spark analog of the reference pushing `source_system_id IN (…)` into
    * its state query alongside the natural-key `IN` list
    * (SpecimenRepository.java:28-32) — then joined on the full compound
    * key. The scope set is tiny by construction (it came from one batch),
    * so it broadcasts; at 10^12-row state this turns the state scan into a
    * partition-prunable semi-join instead of a full-table read.
    * joinType "left_anti" = presence check, "left_outer" = enrichment. */
  def scopedKeyLookup(batch: DataFrame, state: DataFrame, keyCols: Seq[String],
      scopeCols: Seq[String], joinType: String): DataFrame = {
    val scopes = batch.select(scopeCols.map(col): _*).distinct()
    val pruned = state.join(broadcast(scopes), scopeCols, "left_semi")
    batch.join(pruned, keyCols, joinType)
  }

  /** Deterministic top-k (total order via tiebreak columns). */
  def topK(df: DataFrame, k: Int, ordering: Column*): DataFrame =
    df.orderBy(ordering: _*).limit(k)

  /** Latest row per key by `orderCol` desc (deterministic via tiebreaks). */
  def latestPerKey(df: DataFrame, keyCol: String, ordering: Column*): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(ordering: _*)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }
}
