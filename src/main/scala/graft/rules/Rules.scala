package graft.rules

/** The rule ADT — constraints as *data*, compiled by the engine into as few
  * Spark jobs as possible (stats rules fuse into one aggregation pass).
  *
  * Reference analogs (SURVEY.md §1.3): not-null DDL columns → [[NullRate]];
  * schema min/max bounds → [[MinMax]]; PK + batch `toMap` duplicate-key
  * throw (SourceSystemDataCheckerService.java:42-45) → [[Uniqueness]];
  * media-URI set membership (J4) → [[Referential]]; `original_data` deep
  * equality (J3) → [[PcmEquality]]; "changed vs stored baseline"
  * generalized to distributions → [[Drift]].
  */
sealed trait Rule {
  /** Stable id carried on verdicts/violations, e.g. "null_rate:sr_hz". */
  def ruleId: String
}

/** Fraction of NULLs in `column` must be ≤ `maxRate` per partition.
  * Violations list the offending rows. */
final case class NullRate(column: String, maxRate: Double = 0.0) extends Rule {
  val ruleId = s"null_rate:$column"
}

/** Numeric `column` must lie in [lo, hi]. */
final case class MinMax(column: String, lo: Double, hi: Double) extends Rule {
  val ruleId = s"min_max:$column"
}

/** Approx-distinct (HLL) cardinality of `column` must be ≥ `minDistinct`
  * per partition — a sanity floor (e.g. "sr_hz takes >1 value"). */
final case class ApproxDistinct(column: String, minDistinct: Long = 1) extends Rule {
  val ruleId = s"approx_distinct:$column"
}

/** `column` must be unique table-wide. Evaluated as one hash aggregate on
  * the column, whose map-side partial folds a hot key to one row per map
  * task; each duplicated key yields one violation carrying the observed
  * multiplicity. */
final case class Uniqueness(column: String) extends Rule {
  val ruleId = s"uniqueness:$column"
}

/** Every `childColumn` value must exist in the companion table's
  * `parentColumn` (clip→transcript presence), and — when `bidirectional` —
  * every parent key must exist in the child (orphan detection; the
  * reference's "removed media ER" direction,
  * SourceSystemDataCheckerService.java:148-154). */
final case class Referential(
    childColumn: String,
    parentTable: String,
    parentColumn: String,
    bidirectional: Boolean = true) extends Rule {
  val ruleId = s"referential:$childColumn->$parentTable.$parentColumn"
}

/** KS distance between the current partition's KLL sketch of `column` and
  * the baseline snapshot's sketch must be ≤ `maxKs`. */
final case class Drift(column: String, maxKs: Double = 0.05, sketchK: Int = 200) extends Rule {
  val ruleId = s"drift:$column"
}

/** Per-row diff vs the baseline snapshot: decoded-PCM allclose at
  * SNR ≥ `minSnrDb` AND exact transcript equality. Rows classify into
  * new / changed / unchanged (the reference's core 3-way routing,
  * SourceSystemDataCheckerService.java:122-139); new+changed become
  * violations, unchanged feed the pass verdict. */
final case class PcmEquality(minSnrDb: Double = 30.0) extends Rule {
  val ruleId = "pcm_equality"
}

object Rule {
  /** The standard pack for the clips table (FIXTURES.md §1 constraints). */
  def standardPack: Seq[Rule] = Seq(
    NullRate("sr_hz"),
    NullRate("transcript"),
    MinMax("dur_ms", 200, 30000),
    ApproxDistinct("sr_hz", 2),
    Uniqueness("clip_id"),
    Referential("clip_id", "transcripts", "clip_id"),
    Drift("dur_ms", maxKs = 0.05),
    PcmEquality(30.0)
  )
}
