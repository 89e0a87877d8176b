package perfbench

import graft.audio.Audio
import graft.model.{ClipRecord, TranscriptRow}
import graft.rules.Rule
import graft.synth.ClipSynth
import org.apache.spark.sql.{Dataset, SparkSession}

/** A window of corpus indices [start, start + n). The generator's planted
  * duplicates sit at i % 500 == 499 and copy row i - 1 (FIXTURES.md §3), so
  * windows start and end on multiples of 500: a duplicate and the row it
  * copies then always fall in the same window. */
final case class Window(start: Long, n: Long) {
  require(start % 500 == 0 && n % 500 == 0 && start >= 0 && n > 0, s"bad window [$start, +$n)")
  def end: Long = start + n
  def contains(i: Long): Boolean = i >= start && i < end
  def indices: Iterator[Long] = Iterator.iterate(start)(_ + 1).take(n.toInt)
}

/** Inputs of a window, built from `graft.synth.ClipSynth`'s row functions
  * (whose own seed 42 stays fixed): the workload seed only picks WHICH
  * window of the corpus a run validates. */
object Corpus {
  def clips(spark: SparkSession, w: Window): Dataset[ClipRecord] = {
    import spark.implicits._
    spark.range(w.start, w.end, 1, spark.sparkContext.defaultParallelism)
      .mapPartitions(_.map(i => ClipSynth.currentRow(i)))
  }

  def baseline(spark: SparkSession, w: Window): Dataset[ClipRecord] = {
    import spark.implicits._
    spark.range(w.start, w.end, 1, spark.sparkContext.defaultParallelism)
      .filter(i => ClipSynth.inBaseline(i))
      .mapPartitions(_.map(i => ClipSynth.baselineRow(i)))
  }

  /** Transcript rows of the window plus `orphans(w)` rows with no clip. */
  def transcripts(spark: SparkSession, w: Window): Dataset[TranscriptRow] = {
    import spark.implicits._
    val present = spark.range(w.start, w.end, 1, spark.sparkContext.defaultParallelism)
      .filter(i => ClipSynth.hasTranscriptRow(i))
      .mapPartitions(_.map(i => transcriptRow(ClipSynth.clipId(i))))
    val first = w.start / 1000
    val orph = spark.range(first, first + orphans(w), 1, 1)
      .mapPartitions(_.map(j => transcriptRow(f"orphan-$j%09d")))
    present.union(orph)
  }

  def orphans(w: Window): Long = math.max(1L, w.n / 1000)

  private def transcriptRow(id: String) = TranscriptRow(id, ClipSynth.transcriptOf(Audio.clipKey(id)))

  /** Window start picked by the workload seed: a multiple of 2000 below 10^9. */
  def startFor(seed: Long, salt: Long): Long =
    java.lang.Math.floorMod(Audio.splitmix64(seed * 0x9E3779B97F4A7C15L + salt), 500000L) * 2000L
}

/** What the standard rule pack must report for a set of current clips,
  * derived from the generator's planted residues alone (FIXTURES.md §3).
  *
  * `grid` holds the expected violation count of every (partition, rule)
  * verdict row except drift, whose outcome is judged from the exact KS
  * statistic (see [[Checks.verdicts]]); `ruleCounts` the expected number of
  * violation rows per rule (drift excluded); `pcmNew`/`pcmChanged` the
  * pcm_equality split. */
final case class Expected(
    grid: Map[(String, String), Long],
    ruleCounts: Map[String, Long],
    pcmNew: Long,
    pcmChanged: Long) {
  def violations: Long = ruleCounts.values.sum
}

object Expected {
  val Rules: Seq[Rule] = Rule.standardPack
  private def ruleId(prefix: String): String = Rules.map(_.ruleId).find(_.startsWith(prefix)).get
  val NullSr: String = ruleId("null_rate:sr_hz")
  val NullTranscript: String = ruleId("null_rate:transcript")
  val MinMaxDur: String = ruleId("min_max:")
  val Distinct: String = ruleId("approx_distinct:")
  val Unique: String = ruleId("uniqueness:")
  val Ref: String = ruleId("referential:")
  val DriftId: String = ruleId("drift:")
  val Pcm: String = ruleId("pcm_equality")

  private def pv(i: Long) = "codec=" + ClipSynth.codecOf(i)

  /** @param cur the current clips (one batch or the whole bulk window)
    * @param base the window whose rows the baseline holds
    * @param trans the window whose transcript rows exist, plus `orphanRows`
    * @param bidirectional whether the referential rule also checks orphans */
  def of(cur: Window, base: Window, trans: Window, orphanRows: Long,
      bidirectional: Boolean): Expected = {
    val counts = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    var pcmNew = 0L; var pcmChanged = 0L
    // the row of index i when i % 2000 == 1499 is an exact copy of i - 1 and
    // is dropped by input dedup before any rule but pcm_equality sees it
    // (pcm dedups its own violations on the full event identity)
    def isCopy(i: Long) = i % 2000 == 1499 && cur.contains(i - 1)
    // i % 1000 == 999 carries i - 1's clip_id with its own payload
    def keyIndex(i: Long) = if (i % 1000 == 999) i - 1 else i
    for (i <- cur.indices if !isCopy(i)) {
      val p = pv(i)
      if (i % 400 == 13) counts((p, NullSr)) += 1
      if (i % 400 == 213) counts((p, NullTranscript)) += 1
      if (i % 500 == 77) counts((p, MinMaxDur)) += 1
      val k = keyIndex(i)
      if (k != i && cur.contains(k)) {
        val owner = Seq(p, pv(k)).min // min partition value of the key's rows
        counts((owner, Unique)) += 1
      }
      if (!(trans.contains(k) && ClipSynth.hasTranscriptRow(k))) counts((p, Ref)) += 1
      if (!(base.contains(k) && ClipSynth.inBaseline(k))) { counts((p, Pcm)) += 1; pcmNew += 1 }
      else if (i % 400 == 213 || i % 500 == 277 || i % 500 == 177 || k != i) {
        counts((p, Pcm)) += 1; pcmChanged += 1
      }
    }
    val partitions = cur.indices.filterNot(isCopy).map(pv).toSet ++
      (if (bidirectional) Set("table=transcripts") else Set.empty[String])
    if (bidirectional) {
      // transcript keys no current clip carries: planted orphans, plus the
      // indices whose own clip_id never occurs among the clips (copies and
      // id-duplicates carry another index's id)
      val unseen = trans.indices.count(j => ClipSynth.hasTranscriptRow(j) &&
        (!cur.contains(j) || j % 2000 == 1499 || j % 1000 == 999))
      counts(("table=transcripts", Ref)) += orphanRows + unseen
    }
    val grid = (for (p <- partitions; r <- Rules if r.ruleId != DriftId)
      yield (p, r.ruleId) -> counts((p, r.ruleId))).toMap
    val ruleCounts = grid.toSeq.groupMapReduce(_._1._2)(_._2)(_ + _)
    Expected(grid, ruleCounts, pcmNew, pcmChanged)
  }
}
