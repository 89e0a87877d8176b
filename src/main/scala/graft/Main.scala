package graft

import graft.engine.{CheckpointedRunner, EngineConfig, SnapshotStore}
import graft.rules.Rule
import graft.synth.ClipSynth

/** spark-submit entry point: synthesize (or reuse) the snapshot-versioned
  * clips corpus, run the standard rule pack resumably, print the verdict
  * summary. Running it twice demonstrates checkpoint resume (second run is
  * a no-op — every partition's lineage row already exists). Spark runs
  * under SparkProfile; spark-submit's `--master` and `--conf` win over it.
  *
  * Usage: graft.Main [workDir] [nRows] [--fresh]
  */
object Main {
  /** Hash buckets the synthesized corpus is clustered into by clip_id. */
  val Buckets = 64

  def main(args: Array[String]): Unit = {
    val workDir = args.headOption.getOrElse("/tmp/graft-demo")
    val n = args.drop(1).headOption.map(_.toLong).getOrElse(100000L)
    val fresh = args.contains("--fresh")

    val spark = SparkProfile.session("graft-validation-engine")

    if (fresh) {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(workDir)).deleteRecursively()
    }

    val store = new SnapshotStore(s"$workDir/state")
    val outStore = new SnapshotStore(s"$workDir/out")

    // snapshot 0 = baseline-ish tables; clips appended as snapshot-pinned input,
    // hash-clustered by clip_id into Buckets buckets (Iceberg bucket-partition
    // emulation) so the payload diff join runs exchange-free
    if (!store.exists("clips")) {
      println(s"[main] synthesizing corpus n=$n under $workDir (buckets=$Buckets) ...")
      def put(t: String, df: org.apache.spark.sql.DataFrame): Unit =
        store.appendClustered(t, df, "clip_id", Buckets)
      put("baseline_clips", ClipSynth.baseline(spark, n).toDF())
      put("transcripts", ClipSynth.transcripts(spark, n).toDF())
      put("clips", ClipSynth.clips(spark, n).toDF())
    } else println(s"[main] reusing corpus under $workDir")

    val snapshotId = store.currentSnapshotId("clips").get
    val runner = new CheckpointedRunner(store, outStore)
    val done = runner.donePartitions(spark, snapshotId)
    println(s"[main] snapshot=$snapshotId alreadyDone=${done.mkString(",")}")

    val t0 = System.nanoTime()
    val lineage = runner.runResumable(spark, snapshotId, Rule.standardPack, EngineConfig())
    val rows = lineage.collect()
    val secs = (System.nanoTime() - t0) / 1e9
    if (rows.length == done.size) println(s"[main] resume no-op: all partitions checkpointed for snapshot $snapshotId")
    else {
      println(f"[main] validated snapshot $snapshotId in $secs%.1fs (${n / secs}%.0f clips/s)")
      println("[main] lineage:")
      rows.foreach(r => println(s"  $r"))
      println("[main] verdicts:")
      outStore.read(spark, runner.VerdictsTable)
        .filter(org.apache.spark.sql.functions.col("snapshot_id") === snapshotId)
        .orderBy("partition_values", "rule_id")
        .collect().foreach(r => println(s"  $r"))
      val vio = outStore.read(spark, runner.ViolationsTable)
      println(s"[main] total violations: ${vio.count()}")
      vio.groupBy("rule_id").count().orderBy("rule_id").collect()
        .foreach(r => println(s"  $r"))
    }
    spark.stop()
  }
}
