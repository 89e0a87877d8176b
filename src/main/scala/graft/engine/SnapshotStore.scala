package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Snapshot-versioned table store over Parquet directories.
  *
  * The production design targets Iceberg (snapshot ids, appends, time
  * travel via `VERSION AS OF`); Iceberg's runtime jar is not available in
  * this sandbox, so this class emulates the *contract* the engine needs —
  * monotonically increasing snapshot ids, append-only snapshots, reads
  * pinned to a snapshot id — behind an interface an Iceberg catalog can
  * replace verbatim (`spark.read.option("snapshot-id", …).table(…)`).
  *
  * Layout: `root/<table>/snap-<id>/` parquet per append; `_snapshots` text
  * manifest, one id per line. A read at snapshot s = union of snap-0..s
  * (Iceberg append semantics).
  *
  * Reference analog: the Postgres state tables the checker re-reads every
  * batch (repository/SpecimenRepository.java:26-33) — externalized state,
  * no stream state store, which is exactly why runs are resumable.
  */
class SnapshotStore(root: String) {

  private def tableDir(table: String) = Paths.get(root, table)
  private def manifest(table: String) = tableDir(table).resolve("_snapshots")
  private def clusteringManifest(table: String) = tableDir(table).resolve("_clustering")

  def snapshots(table: String): Seq[Long] = {
    val m = manifest(table)
    if (!Files.exists(m)) Seq.empty
    else Files.readAllLines(m).asScala.toSeq.filter(_.nonEmpty).map(_.toLong).distinct.sorted
  }

  def currentSnapshotId(table: String): Option[Long] = snapshots(table).lastOption

  /** Append `df` as a new snapshot; returns the new snapshot id.
    *
    * Concurrency/crash safety: the parquet lands in a private temp dir
    * first, then an atomic directory rename claims the next free snapshot
    * id (rename onto an existing dir fails, so two concurrent writers can
    * never overwrite each other — the loser retries with the next id); the
    * manifest line is written only after the rename, so a crash mid-append
    * leaves at most an unreferenced temp/snap dir, never a manifest entry
    * pointing at missing or partial data. */
  def append(table: String, df: DataFrame): Long = {
    Files.createDirectories(tableDir(table))
    val tmp = tableDir(table).resolve(s".tmp-${java.util.UUID.randomUUID()}")
    df.write.mode("overwrite").parquet(tmp.toString)
    claimSnapshot(table, tmp)
  }

  /** Append `df` hash-CLUSTERED by `key` into `numBuckets` bucket files,
    * each sorted by `key` — the emulation of an Iceberg `bucket(key, N)`
    * partition spec. Reads of a clustered snapshot come back as a bucketed
    * catalog table, so Catalyst plans equi-joins and aggregations on `key`
    * between co-clustered snapshots with NO exchange (the storage-
    * partitioned-join a real Iceberg deployment gets from the same spec).
    * At 10^12 rows this is the difference between a diff join that
    * re-shuffles every multi-KB payload per run and one that never moves
    * them: the one-time clustering shuffle is paid at ingest, amortized
    * over every later validation run.
    *
    * `df.repartition(numBuckets, key)` uses the same murmur3-pmod mapping
    * as the bucket-file assignment, so every bucket lands in exactly one
    * task → exactly one file per bucket → the SORTED BY metadata is
    * trusted at scan time (no per-task re-sort before a merge join). */
  def appendClustered(table: String, df: DataFrame, key: String, numBuckets: Int): Long = {
    require(numBuckets > 0, s"numBuckets must be positive: $numBuckets")
    Files.createDirectories(tableDir(table))
    val tmp = tableDir(table).resolve(s".tmp-${java.util.UUID.randomUUID()}")
    val tmpName = s"graft_clustered_tmp_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val spark = df.sparkSession
    try {
      df.repartition(numBuckets, org.apache.spark.sql.functions.col(key))
        .write.mode("overwrite")
        .bucketBy(numBuckets, key).sortBy(key)
        .option("path", tmp.toString)
        .saveAsTable(tmpName) // bucketBy requires the table API; external (path given)
    } finally {
      if (spark.catalog.tableExists(tmpName)) spark.sql(s"DROP TABLE $tmpName")
    }
    val id = claimSnapshot(table, tmp)
    Files.write(clusteringManifest(table), s"$id $key $numBuckets\n".getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    id
  }

  /** (key, numBuckets) the snapshot was clustered with, if any. */
  def clusteringOf(table: String, id: Long): Option[(String, Int)] = {
    val m = clusteringManifest(table)
    if (!Files.exists(m)) None
    else Files.readAllLines(m).asScala.toSeq.map(_.split(" "))
      .collectFirst { case Array(i, k, n) if i.toLong == id => (k, n.toInt) }
  }

  /** The (key, numBuckets) clustering a [[read]] at `snapshot` comes back
    * bucketed with — defined only when the read covers exactly one snapshot
    * and that snapshot was clustered. Callers deciding whether TWO tables
    * can join exchange-free must compare these specs, not just their
    * presence: co-location requires the same key AND the same bucket count
    * on both sides. */
  def clusteringIfColocated(table: String, snapshot: Option[Long] = None): Option[(String, Int)] = {
    val ids = snapshots(table)
    if (ids.isEmpty) return None
    val upTo = snapshot.getOrElse(ids.last)
    val covered = ids.filter(_ <= upTo)
    if (covered.lengthCompare(1) == 0) clusteringOf(table, covered.head) else None
  }

  private def claimSnapshot(table: String, tmp: java.nio.file.Path): Long = {
    var id = currentSnapshotId(table).getOrElse(-1L) + 1L
    var claimed = false
    var attempts = 0
    while (!claimed) {
      try {
        Files.move(tmp, tableDir(table).resolve(s"snap-$id"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        claimed = true
      } catch {
        // A plain Files.move's target-exists check is non-atomic (TOCTOU):
        // a racing writer that passes the check loses the underlying
        // rename(2) with ENOTEMPTY — surfaced as DirectoryNotEmptyException
        // OR (observed on this kernel's UnixCopyFile.move path) a generic
        // FileSystemException with reason "Directory not empty" — not
        // FileAlreadyExistsException. All mean "id taken, try the next
        // one". ATOMIC_MOVE guarantees rename semantics (snap dirs are
        // never empty, so a loser can never silently replace a claim).
        case e: java.nio.file.FileSystemException
            if e.isInstanceOf[java.nio.file.FileAlreadyExistsException] ||
               e.isInstanceOf[java.nio.file.DirectoryNotEmptyException] ||
               Option(e.getReason).exists(r =>
                 r.contains("Directory not empty") || r.contains("File exists")) =>
          attempts += 1
          if (attempts > 10000) throw e // persistent-fault backstop
          id += 1
      }
    }
    Files.write(manifest(table), s"$id\n".getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    id
  }

  /** Read the table as of `snapshot` (default: current). Append semantics:
    * state at s = union of all appends ≤ s. */
  def read(spark: SparkSession, table: String, snapshot: Option[Long] = None): DataFrame = {
    val ids = snapshots(table)
    require(ids.nonEmpty, s"table $table has no snapshots")
    val upTo = snapshot.getOrElse(ids.last)
    val covered = ids.filter(_ <= upTo)
    // Single clustered snapshot → bucketed catalog scan, so downstream
    // equi-joins / aggregations on the cluster key plan without exchanges.
    // Multi-snapshot reads fall back to the plain union (a Union's output
    // partitioning is unknown to Catalyst anyway, so nothing is lost).
    if (covered.lengthCompare(1) == 0) clusteringOf(table, covered.head) match {
      case Some((key, n)) => return bucketedTable(spark, table, covered.head, key, n)
      case None =>
    }
    val dirs = covered.map(i => tableDir(table).resolve(s"snap-$i").toString)
    // mergeSchema: snapshots appended by different engine versions may
    // carry different column sets (e.g. the lineage table gaining metric
    // columns). Default parquet inference samples ONE file, so new columns
    // could silently vanish on a mixed-era store; merged reads surface
    // every column, with nulls where an old snapshot lacks it.
    spark.read.option("mergeSchema", "true").parquet(dirs: _*)
  }

  /** Register (once per session) and return the bucketed external-table
    * view of a clustered snapshot. The catalog entry is metadata-only —
    * exactly what an Iceberg catalog would hand Spark for a
    * `bucket(key, N)`-partitioned table — and its name is deterministic in
    * (store root, table, snapshot) so repeated reads reuse it. */
  private def bucketedTable(
      spark: SparkSession, table: String, id: Long, key: String, n: Int): DataFrame = {
    val dir = tableDir(table).resolve(s"snap-$id")
    // catalog name keyed on a 128-bit digest of the FULL root path: the
    // former 32-bit String.hashCode could collide across the many store
    // roots one session sees (per-test temp dirs, warmup/out stores), and a
    // collision with matching table/snapshot would silently serve the other
    // store's LOCATION. SHA-256 truncated to 32 hex digits (MD5 is absent
    // on FIPS-mode JVMs).
    val rootDigest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(root.getBytes("UTF-8")).take(16).map("%02x".format(_)).mkString
    val name = s"graft_bk_${rootDigest}_" +
      s"${table.replaceAll("[^A-Za-z0-9_]", "_")}_$id"
    if (!spark.catalog.tableExists(name)) {
      val schema = spark.read.parquet(dir.toString).schema
      spark.sql(
        s"CREATE TABLE IF NOT EXISTS $name (${schema.toDDL}) USING parquet " +
          s"CLUSTERED BY ($key) SORTED BY ($key) INTO $n BUCKETS LOCATION '$dir'")
    }
    spark.table(name)
  }

  def exists(table: String): Boolean = Files.exists(manifest(table))
}
