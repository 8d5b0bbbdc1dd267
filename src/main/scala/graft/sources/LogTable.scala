package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PRODUCTION storage story the log-model scaladocs reference: offsets
  * are assigned once at ingest (streaming or Broker.produce) and then
  * MATERIALIZED as a parquet table partitioned by part_id — so every batch
  * query reads them as data instead of recomputing the assignment window.
  *
  * This is the Spark mapping of the reference's on-disk hierarchy
  * (topic dir → partition dir → segments, `topic.rs:21-26`): directory
  * partitioning plays the partition dirs, `maxRecordsPerFile` plays
  * segment rotation, and parquet row-group stats play the sparse index
  * (SURVEY §1.3) — consume-style predicates prune partitions AND skip
  * row groups with zero custom code.
  */
object LogTable {

  /** Rotation analog: records per parquet file within a partition dir. */
  val RecordsPerFile = 4096

  def materialize(log: DataFrame, path: String,
                  recordsPerFile: Int = RecordsPerFile): Unit =
    log.write.mode("overwrite")
      .partitionBy("part_id")
      .option("maxRecordsPerFile", recordsPerFile.toLong)
      .parquet(path)

  /** Consume-style pruned scan: `WHERE part_id = p AND msg_offset >= o`
    * hits only one partition directory (partition pruning) and skips row
    * groups below the offset (parquet min/max stats) — the Spark analog of
    * the reference's segment floor-seek (`partition.rs:144-165`). */
  def scanFrom(spark: SparkSession, path: String, partId: Long,
               fromOffset: Long): DataFrame =
    spark.read.parquet(path)
      .filter(col("part_id") === partId && col("msg_offset") >= fromOffset)

  /** Bump when toLog/withSegments SEMANTICS change — the materialized
    * cache below would otherwise serve stale offsets across builds. */
  private val SemanticsVersion = 1

  /** Materialize the sfDir's log once per machine (marker-checked) and
    * return its path — the production read path: offsets as DATA, not a
    * recompute. Benched as `consumer_lag_materialized`. The cache key
    * includes a fingerprint of the input files (size + mtime, statted
    * through the Hadoop FS, so a `file:` or remote sfDir is fingerprinted
    * too), so REGENERATED testdata at the same path invalidates the
    * snapshot instead of silently serving stale offsets. */
  def ensureMaterialized(spark: SparkSession, sfDir: String): String =
    ensureSnapshot(spark, sfDir, "logtable", Seq("part_id")) {
      graft.model.LogModel.toLog(graft.model.LogModel.events(spark, sfDir))
    }

  /** The TOPIC-dimensioned snapshot (topic dir → partition dir, exactly
    * the reference's on-disk hierarchy `topic.rs:21-26`): offsets assigned
    * per (topic, part_id) by `toTopicLog`, stored partitioned by both —
    * topic-filtered consumers prune whole topic directories. Read path of
    * `consumer_lag_multi_topic_materialized`. */
  def ensureMaterializedTopicLog(spark: SparkSession, sfDir: String): String =
    ensureSnapshot(spark, sfDir, "topiclog", Seq("topic", "part_id")) {
      graft.model.LogModel.toTopicLog(graft.model.LogModel.events(spark, sfDir))
    }

  private def ensureSnapshot(spark: SparkSession, sfDir: String,
                             variant: String, partitionCols: Seq[String])(
      build: => DataFrame): String = synchronized {
    val tag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val fp = Tables.fingerprint(spark, s"$sfDir/events.parquet")
    val prefix = s"graft_${variant}_v$SemanticsVersion${tag}_"
    val path = new Path(tmpRoot, s"$prefix$fp")
    // executors write the snapshot through fs.defaultFS, so its marker
    // and its siblings are read through that filesystem, not the driver's
    // local disk
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new Path(path, "_SUCCESS"))) {
      build.write.mode("overwrite")
        .partitionBy(partitionCols: _*)
        .option("maxRecordsPerFile", RecordsPerFile.toLong)
        .parquet(path.toString)
      // a regenerated input strands the previous fingerprint's snapshot —
      // sweep stale siblings so tmpdir doesn't grow without bound. AFTER
      // the new snapshot's _SUCCESS exists, never before (r17 data-plane
      // review #6): sweeping first and then failing the build (disk full,
      // kill mid-write) left the machine with NO working snapshot.
      snapshots(fs, Seq(prefix)).filter(_.getName != path.getName)
        .foreach(fs.delete(_, true))
    }
    path.toString
  }

  /** The snapshot directory: the JVM's tmpdir, on the default FS. */
  private def tmpRoot: Path = new Path(System.getProperty("java.io.tmpdir"))

  /** The snapshots under any of `prefixes`, listed through `fs`. The
    * prefixes hold only letters, digits and '_', so none globs. */
  private def snapshots(fs: FileSystem, prefixes: Seq[String]): Seq[Path] =
    prefixes.flatMap(p =>
      Option(fs.globStatus(new Path(tmpRoot, s"$p*"))).toSeq.flatten)
      .map(_.getPath)

  /** Delete this sfDir's materialized snapshot(s) so the next
    * [[ensureMaterialized]]/[[ensureMaterializedTopicLog]] call
    * REBUILDS — the bench's artifact-row cache-dropper (r17): the
    * snapshots are once-per-MACHINE, so without a dedicated artifact row
    * whichever materialized-lag query ran first on a fresh machine (the
    * driver's environment, every round) silently paid the build inside
    * its own timing — the exact cold-start asymmetry the r9 protocol
    * charges as `artifact_*` rows everywhere else. `variant` scopes the
    * drop ("logtable" / "topiclog"; empty = both) so one artifact row's
    * trials don't destroy the sibling row's freshly built snapshot. The
    * match includes [[ensureSnapshot]]'s FULL prefix with its trailing
    * separator — an unterminated prefix would over-match sibling sfDirs
    * (dropping `/data/sf1` must not delete `/data/sf10`'s snapshots)
    * and future double-digit semantics versions (r17 review #5). The
    * snapshots are found through `spark`'s default filesystem, where
    * [[ensureSnapshot]] wrote them. */
  def dropSnapshots(spark: SparkSession, sfDir: String, variant: String): Unit =
    dropIn(spark.sessionState.newHadoopConf(), sfDir, variant)

  /** [[dropSnapshots]] through the active session's filesystem, or the
    * process default's when no session is active (a caller may drop
    * before it builds one). */
  def dropSnapshots(sfDir: String, variant: String = ""): Unit =
    SparkSession.getActiveSession match {
      case Some(s) => dropSnapshots(s, sfDir, variant)
      case None => dropIn(new Configuration(), sfDir, variant)
    }

  private def dropIn(conf: Configuration, sfDir: String,
                     variant: String): Unit = synchronized {
    val tag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    val variants =
      if (variant.isEmpty) Seq("logtable", "topiclog") else Seq(variant)
    val fs = tmpRoot.getFileSystem(conf)
    snapshots(fs, variants.map(v => s"graft_${v}_v$SemanticsVersion${tag}_"))
      .foreach(fs.delete(_, true))
  }

  /** Read a materialized log back with the canonical column types (the
    * partition-dir column comes back as INT; the log model uses LONG).
    * The schema is inferred once per snapshot ([[Tables.readParquet]]). */
  def readLog(spark: SparkSession, path: String): DataFrame =
    Tables.readParquet(spark, path)
      .withColumn("part_id", col("part_id").cast("long"))
}
