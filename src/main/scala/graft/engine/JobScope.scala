package graft.engine

import org.apache.spark.SparkContext

/** The one owner of the labels a Spark job carries: its `graft:<phase>`
  * description (the key the UI, `graft.JobTimeline` and trace readers
  * attribute jobs by) and the run's job group (the key
  * [[MetricsListener]] scopes a run's task metrics by). A scope sets them
  * on the calling thread for the duration of `body` and puts the thread's
  * previous values back on exit, so nested scopes, callers carrying
  * labels of their own, and reused pool threads all get their labels back.
  *
  * Labels are thread-local (a new thread copies its creator's once; a
  * reused pool thread keeps whatever it last held), so work handed to
  * another thread takes the caller's group along explicitly: read it with
  * [[group]] on the caller and pass it to the scope opened on the worker. */
object JobScope {
  private val Description = "spark.job.description"
  private val GroupId = "spark.jobGroup.id"
  private val InterruptOnCancel = "spark.job.interruptOnCancel"

  /** The calling thread's job group. */
  def group(sc: SparkContext): Option[String] = Option(sc.getLocalProperty(GroupId))

  /** Jobs of `body` are described `graft:<phase>`; the thread's job group
    * is left as it is. */
  def apply[T](sc: SparkContext, phase: String)(body: => T): T =
    labelled(sc, Seq(Description -> s"graft:$phase"))(body)

  /** Jobs of `body` are described `graft:<phase>` and run in job group
    * `group` exactly — none when empty, whatever the thread held before. */
  def apply[T](sc: SparkContext, phase: String, group: Option[String])(body: => T): T =
    labelled(sc, (Description -> s"graft:$phase") +: groupLabels(group))(body)

  /** Jobs of `body` run in job group `id`; the description is left as it
    * is. */
  def inGroup[T](sc: SparkContext, id: String)(body: => T): T =
    labelled(sc, groupLabels(Some(id)))(body)

  private def groupLabels(group: Option[String]): Seq[(String, String)] =
    Seq(GroupId -> group.orNull, InterruptOnCancel -> group.map(_ => "false").orNull)

  // a null value removes the property, so restoring an absent label
  // leaves it absent
  private def labelled[T](sc: SparkContext, labels: Seq[(String, String)])(body: => T): T = {
    val prev = labels.map { case (k, _) => k -> sc.getLocalProperty(k) }
    labels.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    try body finally prev.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }
}
