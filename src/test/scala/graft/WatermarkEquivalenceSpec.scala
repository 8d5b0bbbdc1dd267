package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.LogModel

/** The watermark and lag rows read [[LogModel.countWatermarks]] (low = 0,
  * high = n − 1, log_end = n over keyed events) instead of deriving
  * offsets. That is only sound if the counts give exactly what the
  * offset derivation gives: the triple [[LogModel.watermarks]] computes
  * over [[LogModel.toLog]], and the per-(topic, partition) triple over
  * [[LogModel.toTopicLog]] — including no row at all for a partition
  * that received no records. */
class WatermarkEquivalenceSpec extends AnyFunSuite {

  lazy val spark = Testing.spark

  private val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def fromOffsets(log: DataFrame, groupCols: Seq[String]): DataFrame =
    log.groupBy(groupCols.map(col): _*).agg(
      min("msg_offset").as("low_off"), max("msg_offset").as("high_off"),
      (max("msg_offset") + 1).as("log_end_off"))

  private def assertSame(events: DataFrame, n: Int): Set[Long] = {
    val counted = rows(LogModel.countWatermarks(LogModel.keyed(events, n)))
    assert(counted === rows(LogModel.watermarks(LogModel.toLog(events, n))))
    assert(counted.nonEmpty)
    counted.map(_.getLong(0)).toSet
  }

  test("count-derived watermarks equal watermarks(toLog(events))") {
    for (sf <- sfs) {
      val parts = assertSame(LogModel.events(spark, sf), LogModel.NumPartitions)
      assert(parts === (0L until LogModel.NumPartitions.toLong).toSet, sf)
    }
  }

  test("the same holds at the composite partition count n = 6") {
    val n = graft.operators.BrokerOps.CompositePartitionCount.toInt
    for (sf <- sfs)
      assert(assertSame(LogModel.events(spark, sf), n) ===
        (0L until n.toLong).toSet, sf)
  }

  test("a partition that receives no records has no row in either form") {
    val empty = 2L
    val ev = LogModel.events(spark, sfs.head).filter(
      pmod(LogModel.portableHash(col("user_id")),
        lit(LogModel.NumPartitions.toLong)) =!= empty)
    val parts = assertSame(ev, LogModel.NumPartitions)
    assert(!parts.contains(empty))
    assert(parts.size === LogModel.NumPartitions - 1)
  }

  test("topic-keyed watermarks equal the ones derived from toTopicLog") {
    val groups = Seq("topic", "part_id")
    for (sf <- sfs) {
      val ev = LogModel.events(spark, sf)
      val counted =
        rows(LogModel.countWatermarks(LogModel.keyedTopics(ev), groups))
      assert(counted === rows(fromOffsets(LogModel.toTopicLog(ev), groups)), sf)
      assert(counted.map(_.getString(0)).toSet ===
        Set("activity", "clicks", "purchases"), sf)
    }
  }
}
