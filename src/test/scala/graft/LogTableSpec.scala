package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.LogModel
import graft.sources.LogTable

/** A local filesystem under its own scheme, rooted at the directory in
  * `fs.rootedfs.root`: `rootedfs:/a/b` is `<root>/a/b`. Set as the
  * default FS it stands in for a cluster's shared filesystem, where the
  * same absolute path on the driver's local disk holds nothing. Statuses
  * are plain and carry the rooted path back. */
class RootedTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  private var root = ""
  override def initialize(uri: java.net.URI,
                          conf: org.apache.hadoop.conf.Configuration): Unit = {
    root = conf.get("fs.rootedfs.root")
    super.initialize(uri, conf)
  }
  override def getUri: java.net.URI = java.net.URI.create("rootedfs:///")
  override def getScheme: String = "rootedfs"
  override def pathToFile(path: Path): java.io.File =
    new java.io.File(root, super.pathToFile(path).getPath)
  private def plain(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime,
      makeQualified(new Path(st.getPath.toUri.getPath.stripPrefix(root))))
  override def getFileStatus(f: Path): FileStatus =
    plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(plain)
}

/** The materialized-log storage path: partition pruning + predicate
  * pushdown must actually show up in the physical plan (this is the scan
  * shape every consume-style query gets at 100 TB). */
class LogTableSpec extends AnyFunSuite {

  lazy val spark = Testing.spark

  val sf = "/root/testdata/sf0.001"

  private lazy val tablePath: String = {
    val dir = Files.createTempDirectory("flyq-logtable").toString
    LogTable.materialize(
      LogModel.toLog(LogModel.events(spark, sf)), dir, recordsPerFile = 64)
    dir
  }

  test("consume scan prunes partitions and pushes the offset predicate") {
    val scan = LogTable.scanFrom(spark, tablePath, partId = 1L, fromOffset = 50L)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(2000))
    assert(plan.contains("part_id"), "partition filter on part_id missing")
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(msg_offset,50)"),
      "offset predicate not pushed to parquet:\n" + plan.take(2000))
  }

  test("materialized scan returns the same rows as the derived log") {
    val expected = LogModel.toLog(LogModel.events(spark, sf))
      .filter(col("part_id") === 1L && col("msg_offset") >= 50L)
      .select(col("event_id"), col("msg_offset"))
    val got = LogTable.scanFrom(spark, tablePath, 1L, 50L)
      .select(col("event_id"), col("msg_offset"))
    assert(got.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(got).count() === 0)
    assert(got.count() > 0)
  }

  test("a file: URI sfDir is fingerprinted: rewriting events rebuilds the snapshot") {
    // a java.io.File stat of a URI finds no file, so the fingerprint was
    // constant and a regenerated input got the stale snapshot's offsets
    val dir = Files.createTempDirectory("flyq-logtable-uri")
    val sfUri = dir.toUri.toString.stripSuffix("/")
    assert(sfUri.startsWith("file:"))
    val ev = LogModel.events(spark, sf).orderBy("event_id")
    def writeEvents(n: Int): Unit =
      ev.limit(n).write.mode("overwrite").parquet(s"$dir/events.parquet")
    try {
      writeEvents(600)
      val first = LogTable.ensureMaterialized(spark, sfUri)
      assert(LogTable.readLog(spark, first).count() === 600)
      writeEvents(400)
      val second = LogTable.ensureMaterialized(spark, sfUri)
      assert(second !== first, "snapshot not rebuilt for a rewritten input")
      assert(LogTable.readLog(spark, second).count() === 400)
    } finally LogTable.dropSnapshots(sfUri)
  }

  test("a non-local default FS: the snapshot is found where executors " +
      "wrote it, and stale siblings are swept there") {
    val root = Files.createTempDirectory("flyq-rootedfs").toString
    val s = spark.newSession()
    s.conf.set("fs.rootedfs.impl", classOf[RootedTestFs].getName)
    s.conf.set("fs.rootedfs.root", root)
    s.conf.set("fs.defaultFS", "rootedfs:///")
    // the input stays on the local disk, named by a file: URI
    val dir = Files.createTempDirectory("flyq-logtable-rooted")
    val sfUri = dir.toUri.toString.stripSuffix("/")
    val ev = LogModel.events(spark, sf).orderBy("event_id")
    def writeEvents(n: Int): Unit =
      ev.limit(n).write.mode("overwrite").parquet(s"$dir/events.parquet")
    def success(path: String) = new java.io.File(s"$root$path/_SUCCESS")
    try {
      writeEvents(600)
      val first = LogTable.ensureMaterialized(s, sfUri)
      assert(success(first).isFile, s"snapshot not under the rooted FS: $first")
      assert(!new java.io.File(first).exists(),
        "the snapshot landed on the driver's local disk")
      val built = success(first).lastModified()
      Thread.sleep(20)
      assert(LogTable.ensureMaterialized(s, sfUri) === first)
      assert(success(first).lastModified() === built,
        "the second call rebuilt a snapshot that was there")
      assert(LogTable.readLog(s, first).count() === 600)
      writeEvents(400)
      val second = LogTable.ensureMaterialized(s, sfUri)
      assert(second !== first)
      assert(success(second).isFile)
      assert(!new java.io.File(s"$root$first").exists(),
        "the stale snapshot was not swept")
      LogTable.dropSnapshots(s, sfUri, "")
      assert(!new java.io.File(s"$root$second").exists())
    } finally LogTable.dropSnapshots(s, sfUri, "")
  }

  test("rotation analog: multiple files per partition directory") {
    val files = new java.io.File(s"$tablePath/part_id=1")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files > 1, "expected maxRecordsPerFile to roll multiple files")
  }
}
