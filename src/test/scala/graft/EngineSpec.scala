package graft

import graft.engine.{EngineConfig, ValidationEngine}
import graft.rules._
import graft.synth.ClipSynth
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EngineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val N = 4000

  private lazy val exp = TestOracle.expected(N)
  private lazy val report = {
    val clips = ClipSynth.clips(spark, N).toDF()
    val transcripts = ClipSynth.transcripts(spark, N).toDF()
    val baseline = ClipSynth.baseline(spark, N).toDF()
    ValidationEngine.run(spark, clips, transcripts, baseline, Rule.standardPack,
      EngineConfig(saltBuckets = 4))
  }
  private lazy val violations = report.violations.collect()
    .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))

  private def byRule(ruleId: String) = violations.filter(_._2 == ruleId)

  test("exact duplicate events are removed before rules (S4)") {
    assert(exp.events.size < N) // plants guarantee some exact dups
  }

  test("null-rate violations match oracle") {
    assert(byRule("null_rate:sr_hz").map(_._1).sorted.toSeq == exp.nullSrRows.sorted)
    assert(byRule("null_rate:transcript").map(_._1).sorted.toSeq == exp.nullTranscriptRows.sorted)
  }

  test("min/max violations match oracle (with observed values)") {
    val got = byRule("min_max:dur_ms").map(v => (v._1, v._3.toInt)).sorted.toSeq
    assert(got == exp.oobRows.sorted)
  }

  test("uniqueness violations carry observed multiplicity (S5/PK)") {
    val got = byRule("uniqueness:clip_id").map(v => v._1 -> v._3.toLong).toMap
    assert(got == exp.dupKeys)
    assert(got.nonEmpty)
  }

  test("referential: clips without transcript rows (missing direction)") {
    val got = byRule("referential:clip_id->transcripts.clip_id")
      .filter(_._3.startsWith("no "))
      .map(_._1).sorted.toSeq
    assert(got == exp.missingTranscriptRows.sorted)
    assert(got.nonEmpty)
  }

  test("referential: orphan transcript rows (reverse direction)") {
    val got = byRule("referential:clip_id->transcripts.clip_id")
      .filter(_._3.startsWith("orphan"))
      .map(_._1).toSet
    assert(got == exp.orphanTranscriptKeys)
    assert(got.nonEmpty)
  }

  test("pcm-equality classifies new/changed exactly like the oracle (J2/J3)") {
    val got = byRule("pcm_equality").groupBy(_._3).map { case (k, v) => k -> v.size.toLong }
    assert(got.getOrElse("new", 0L) == exp.outcomes.getOrElse("new", 0L))
    assert(got.getOrElse("changed", 0L) == exp.outcomes.getOrElse("changed", 0L))
    assert(got.getOrElse("new", 0L) > 0 && got.getOrElse("changed", 0L) > 0)
  }

  test("drift fires on the shifted alaw partition only") {
    val got = byRule("drift:dur_ms").map(_._1).toSet
    assert(got == Set("codec=alaw"))
  }

  test("verdict grid is total and consistent with violations") {
    val verdicts = report.verdicts.collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2), r.getLong(3)))
    val partitions = verdicts.map(_._1).distinct
    assert(partitions.toSet.contains("codec=pcm_s16le"))
    // total: one row per (partition, rule)
    assert(verdicts.length == partitions.length * Rule.standardPack.size)
    assert(verdicts.map(v => (v._1, v._2)).distinct.length == verdicts.length)
    // consistent: fail ⇔ violations (for count-based rules with 0 threshold)
    verdicts.foreach { case (pv, rule, pass, cnt) =>
      if (cnt > 0) assert(!pass, s"$pv/$rule has $cnt violations but passes")
    }
    // unchanged-only partitions pass pcm_equality
    val passCount = verdicts.count(_._3)
    assert(passCount > 0)
  }

  test("full-decode verify mode classifies identically to the hash-first path") {
    val clips = ClipSynth.clips(spark, 1000).toDF()
    val baseline = ClipSynth.baseline(spark, 1000).toDF()
    def outcomes(cfg: EngineConfig) = ValidationEngine
      .classifyAgainstBaseline(clips.dropDuplicates(), baseline, cfg)
      .groupBy("outcome").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(outcomes(EngineConfig(fullDecodeVerify = true)) ==
      outcomes(EngineConfig(fullDecodeVerify = false)))
  }

  test("uniqueness: duplicated NULL keys still surface (null-safe attribution join)") {
    import spark.implicits._
    val df = Seq(
      (Option.empty[String], "t1", 100, 8000, "pcm_s16le"),
      (Option.empty[String], "t2", 200, 8000, "alaw"),
      (Some("a"), "t3", 300, 8000, "ulaw"),
      (Some("a"), "t4", 300, 8000, "ulaw"),
      (Some("b"), "t5", 300, 8000, "alaw"))
      .toDF("clip_id", "transcript", "dur_ms", "sr_hz", "codec")
      .withColumn("bytes", encode(col("transcript"), "UTF-8"))
    val rep = ValidationEngine.run(spark, df, df, df, Seq(Uniqueness("clip_id")),
      EngineConfig(saltBuckets = 4))
    val out = rep.violations.collect().map(r => (Option(r.getString(0)), r.getString(2))).toSet
    val perPv = rep.verdicts.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    rep.unpersist()
    // min-PV attribution now rides the keyCounts aggregation instead of a
    // join, and grouping keeps NULL keys together: the NULL-key group reports
    // once (multiplicity 2), and each group is counted under its smallest
    // partition value: NULL → alaw, "a" → ulaw
    assert(out == Set((None, "2"), (Some("a"), "2")))
    assert(perPv == Map("codec=alaw" -> 1L, "codec=pcm_s16le" -> 0L, "codec=ulaw" -> 1L))
  }

  test("run: full-decode verify returns the same verdicts and violations as hash-first") {
    val clips = ClipSynth.clips(spark, 1000).toDF()
    val transcripts = ClipSynth.transcripts(spark, 1000).toDF()
    val baseline = ClipSynth.baseline(spark, 1000).toDF()
    def outputs(cfg: EngineConfig): (Seq[String], Seq[String]) = {
      val rep = ValidationEngine.run(spark, clips, transcripts, baseline, Rule.standardPack, cfg)
      // KLL sketches are insertion-order-sensitive, so only the drift
      // verdict is compared, not the third decimal of its KS estimate
      val v = rep.violations
        .withColumn("observed",
          when(col("rule_id").startsWith("drift:"), lit("drifted")).otherwise(col("observed")))
        .collect().map(_.toString).sorted.toSeq
      val g = rep.verdicts.collect().map(_.toString).sorted.toSeq
      rep.unpersist()
      (v, g)
    }
    val (vFull, gFull) = outputs(EngineConfig(saltBuckets = 4, fullDecodeVerify = true))
    val (vHash, gHash) = outputs(EngineConfig(saltBuckets = 4))
    assert(vFull == vHash)
    assert(gFull == gHash)
    assert(vHash.exists(_.contains("pcm_equality")) && gHash.nonEmpty)
  }

  test("stats pass: one aggregation behind exactly one exchange, one row per partition") {
    val clips = ClipSynth.clips(spark, N).toDF()
    val stats = ValidationEngine.statsPass(clips, Rule.standardPack, EngineConfig(saltBuckets = 4))
    val plan = stats.queryExecution.executedPlan.toString
    assert("""\bExchange\b""".r.findAllIn(plan).size == 1, plan)
    assert(stats.columns.toSeq == Seq("codec", "n_rows", "nulls_sr_hz", "nulls_transcript",
      "oob_dur_ms", "min_dur_ms", "max_dur_ms", "dv_sr_hz", "kll_dur_ms", "_pv"))
    val rows = stats.collect().map(r => r.getAs[String]("_pv") -> r).toMap
    val byCodec = clips.groupBy("codec").count().collect()
      .map(r => s"codec=${r.getString(0)}" -> r.getLong(1)).toMap
    assert(rows.map { case (pv, r) => pv -> r.getAs[Long]("n_rows") } == byCodec)
    val durs = clips.groupBy("codec").agg(min("dur_ms"), max("dur_ms")).collect()
      .map(r => s"codec=${r.getString(0)}" -> (r.getInt(1), r.getInt(2))).toMap
    assert(rows.map { case (pv, r) =>
      pv -> (r.getAs[Int]("min_dur_ms"), r.getAs[Int]("max_dur_ms")) } == durs)
  }

  test("uniqueness salt: a 10^4-copy hot key spreads evenly and deterministically") {
    import spark.implicits._
    // 10^4 events share ONE clip_id with IDENTICAL metadata, differing only
    // in payload bytes — the worst case for any key- or metadata-derived
    // salt (all rows would land on one reducer). The fingerprint salt kept
    // by dedupEventsMeta must (a) spread them ~uniformly and (b) be a pure
    // function of row content, so task retries re-derive the same routing.
    val hot = spark.range(10000).select(
      lit("hot").as("clip_id"),
      encode(concat(lit("payload-"), col("id").cast("string")), "UTF-8").as("bytes"),
      lit(8000).as("sr_hz"), lit(300).as("dur_ms"),
      lit("pcm_s16le").as("codec"), lit("t").as("transcript"))
    val meta = ValidationEngine.dedupEventsMeta(hot)
    val buckets = 16
    val counts = meta.groupBy(pmod(col("_fp1"), lit(buckets)).as("b"))
      .count().collect().map(r => r.getLong(1))
    assert(counts.length == buckets, s"only ${counts.length}/$buckets buckets hit")
    assert(counts.max <= 2 * counts.min,
      s"imbalanced salt buckets: min=${counts.min} max=${counts.max}")
    // the reverted content(key)-derived salt fails this: every row in ONE bucket
    val keySalt = meta.groupBy(pmod(xxhash64(col("clip_id")), lit(buckets))).count().count()
    assert(keySalt == 1, "key-derived salt must collapse (this documents why it was replaced)")
    // determinism: the salt is a pure function of row content — identical
    // across recomputations over a reordered/repartitioned upstream
    val m1 = ValidationEngine.dedupEventsMeta(hot.orderBy(rand(1)).repartition(7))
      .select(col("_fp1"), pmod(col("_fp1"), lit(buckets))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m2 = ValidationEngine.dedupEventsMeta(hot.repartition(3))
      .select(col("_fp1"), pmod(col("_fp1"), lit(buckets))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m1 == m2)
  }

  test("dedup keeps exactly one row per group even under a nondeterministic upstream") {
    import org.apache.spark.sql.functions.rand
    // the old min(monotonic-id) + semi-join plan could keep 0 or 2 rows when
    // the two join sides re-evaluated ids over a reordered input; the
    // single-pass dedup must be immune to upstream order
    val clips = ClipSynth.clips(spark, 2000).toDF().orderBy(rand(7)).repartition(11)
    val deduped = ValidationEngine.dedupEventsMeta(clips)
    assert(deduped.count() == TestOracle.expected(2000).events.size)
    // survivors are exactly the distinct full rows
    assert(deduped.distinct().count() == deduped.count())
  }

  test("dedup: rows differing only in bytes stay distinct, fully equal rows collapse") {
    import spark.implicits._
    val df = Seq("p1", "p1", "p1", "p2").map(p => ("c1", "t", 300, 8000, "pcm_s16le", p))
      .toDF("clip_id", "transcript", "dur_ms", "sr_hz", "codec", "payload")
      .withColumn("bytes", encode(col("payload"), "UTF-8")).drop("payload")
    val meta = ValidationEngine.dedupEventsMeta(df)
    assert(meta.count() == 2)
    // one survivor per payload: the kept fingerprint still tells them apart
    assert(meta.select("_fp1").distinct().count() == 2)
    assert(meta.columns.toSeq == df.columns.filterNot(_ == "bytes").toSeq :+ "_fp1")
  }

  test("classification is invariant under repartitioning (determinism)") {
    val clips = ClipSynth.clips(spark, 1000).toDF().repartition(7)
    val baseline = ClipSynth.baseline(spark, 1000).toDF().repartition(3)
    val out = ValidationEngine
      .classifyAgainstBaseline(clips.dropDuplicates(), baseline, EngineConfig())
      .groupBy("outcome").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exp1k = TestOracle.expected(1000)
    assert(out == exp1k.outcomes)
  }
}
