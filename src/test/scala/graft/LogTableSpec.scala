package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.LogModel
import graft.sources.LogTable

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

  test("rotation analog: multiple files per partition directory") {
    val files = new java.io.File(s"$tablePath/part_id=1")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files > 1, "expected maxRecordsPerFile to roll multiple files")
  }
}
