package graft

import graft.engine.{CheckpointedRunner, EngineConfig, JobScope, SnapshotStore, ValidationEngine}
import graft.rules.Rule
import graft.synth.ClipSynth
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** Job labels: every scope puts the thread's previous description, job
  * group and interrupt flag back, and work on pooled threads runs in the
  * caller's group. */
class JobScopeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val Desc = "spark.job.description"
  private val Group = "spark.jobGroup.id"
  private val Interrupt = "spark.job.interruptOnCancel"

  private def labels(sc: SparkContext): (String, String, String) =
    (sc.getLocalProperty(Desc), sc.getLocalProperty(Group), sc.getLocalProperty(Interrupt))

  /** `body` with the calling thread labelled as a caller of the engine
    * would label it; the thread's labels are cleared again afterwards. */
  private def asCaller[T](sc: SparkContext, desc: String, group: Option[String])(body: => T): T = {
    sc.setLocalProperty(Desc, desc)
    group.foreach { g => sc.setLocalProperty(Group, g); sc.setLocalProperty(Interrupt, "true") }
    try body finally Seq(Desc, Group, Interrupt).foreach(sc.setLocalProperty(_, null))
  }

  /** (description, group) of every job started while `body` ran. */
  private def jobLabels[T](sc: SparkContext)(body: => T): (T, Seq[(String, String)]) = {
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((e.properties.getProperty(Desc), e.properties.getProperty(Group)))
    }
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.graft.ListenerBusFlush.flush(sc)
      (r, seen.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }

  test("nested scopes restore the outer description and group") {
    val sc = spark.sparkContext
    asCaller(sc, "caller", Some("caller-group")) {
      JobScope.inGroup(sc, "run-1") {
        assert(labels(sc) == (("caller", "run-1", "false")))
        JobScope(sc, "outer") {
          assert(labels(sc) == (("graft:outer", "run-1", "false")))
          JobScope(sc, "inner", Some("run-2")) {
            assert(labels(sc) == (("graft:inner", "run-2", "false")))
            JobScope(sc, "ungrouped", None) {
              assert(labels(sc) == (("graft:ungrouped", null, null)))
            }
            assert(labels(sc) == (("graft:inner", "run-2", "false")))
          }
          assert(labels(sc) == (("graft:outer", "run-1", "false")))
        }
        assert(labels(sc) == (("caller", "run-1", "false")))
      }
      assert(labels(sc) == (("caller", "caller-group", "true")))
    }
  }

  test("a scope on a pooled thread runs its jobs in the caller's group and restores the thread's labels") {
    val sc = spark.sparkContext
    // one worker thread: the thread that holds the earlier labels is the
    // one every later Future runs on
    val pool = Executors.newSingleThreadExecutor()
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def onPool[T](body: => T): T = Await.result(Future(body), 60.seconds)
    try {
      onPool { Seq(Desc -> "pool-desc", Group -> "pool-group", Interrupt -> "true")
        .foreach { case (k, v) => sc.setLocalProperty(k, v) } }
      val callerGroup = JobScope.inGroup(sc, "caller-run")(JobScope.group(sc))
      assert(callerGroup.contains("caller-run"))
      val (after, seen) = jobLabels(sc) {
        onPool {
          JobScope(sc, "pooled", callerGroup) { sc.parallelize(1 to 4, 2).count() }
          JobScope(sc, "pooled-ungrouped", None) { sc.parallelize(1 to 4, 2).count() }
          labels(sc)
        }
      }
      assert(seen.toSet == Set(("graft:pooled", "caller-run"), ("graft:pooled-ungrouped", null)))
      assert(after == (("pool-desc", "pool-group", "true")))
      onPool(Seq(Desc, Group, Interrupt).foreach(sc.setLocalProperty(_, null)))
    } finally pool.shutdown()
  }

  test("runResumable leaves the calling thread's description and group as they were") {
    val sc = spark.sparkContext
    val root = Files.createTempDirectory("graft-jobscope").toString
    val store = new SnapshotStore(s"$root/state")
    val n = 2000L
    store.append("baseline_clips", ClipSynth.baseline(spark, n).toDF())
    store.append("transcripts", ClipSynth.transcripts(spark, n).toDF())
    val snap = store.append("clips", ClipSynth.clips(spark, n).toDF())
    val runner = new CheckpointedRunner(store, new SnapshotStore(s"$root/out"))
    // a caller with a description but no group of its own: the run's group
    // must not outlive the run, nor take the description with it
    asCaller(sc, "caller-desc", None) {
      val (_, seen) = jobLabels(sc) {
        runner.runResumable(spark, snap, Rule.standardPack, EngineConfig(saltBuckets = 4))
      }
      assert(labels(sc) == (("caller-desc", null, null)))
      val runGroups = seen.filter(j => j._1 != null && j._1.startsWith("graft:") &&
        j._1 != "graft:append-lineage").map(_._2).toSet
      assert(runGroups.size == 1 && runGroups.head != null, s"run jobs' groups: $runGroups")
    }
  }

  test("a bare ValidationEngine.run leaves the calling thread's labels as they were") {
    val sc = spark.sparkContext
    val n = 2000L
    asCaller(sc, "caller-desc", Some("caller-group")) {
      val (report, seen) = jobLabels(sc) {
        ValidationEngine.run(spark, ClipSynth.clips(spark, n).toDF(),
          ClipSynth.transcripts(spark, n).toDF(), ClipSynth.baseline(spark, n).toDF(),
          Rule.standardPack, EngineConfig(saltBuckets = 4))
      }
      try {
        assert(labels(sc) == (("caller-desc", "caller-group", "true")))
        // the counting jobs on pooled threads ran in the caller's group too
        val pooled = seen.filter(j => j._1 == "graft:meta-counts" || j._1 == "graft:pcm-counts")
        assert(pooled.nonEmpty && pooled.forall(_._2 == "caller-group"), s"pooled jobs: $pooled")
      } finally report.unpersist()
    }
  }
}
