package graft.model

/** Core data model of the validation engine.
  *
  * Mirrors (behaviorally, not structurally) the reference's domain types:
  *   - `ClipRecord` ↔ the incoming event payload
  *     (reference: domain/specimen/DigitalSpecimenEvent.java:9-15)
  *   - `Outcome`    ↔ the new/changed/unchanged routing
  *
  * The output tables (violations, verdicts, lineage) have no case class:
  * `ValidationEngine` declares the violation and verdict schemas as DDL,
  * and `CheckpointedRunner` projects the lineage rows from the verdicts.
  *
  * Schema of `ClipRecord` is authoritative from BASELINE.json `input_hint`:
  * (clip_id:string, bytes:binary, sr_hz:int32, dur_ms:int32, codec:string,
  *  transcript:string).
  */
final case class ClipRecord(
    clip_id: String,
    bytes: Array[Byte],
    sr_hz: Integer,      // boxed: null plantable (null-rate rule)
    dur_ms: Integer,
    codec: String,
    transcript: String
)

final case class TranscriptRow(clip_id: String, transcript: String)

/** Outcome of the 3-way diff classification — the reference's core routing
  * (service/SourceSystemDataCheckerService.java:122-139). */
object Outcome {
  val New = "new"
  val Changed = "changed"
  val Unchanged = "unchanged"
}
