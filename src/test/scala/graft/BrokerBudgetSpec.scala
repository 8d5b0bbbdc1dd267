package graft

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Structural budget of the broker rows, in load-invariant counts (plan
  * nodes and Spark jobs, not seconds):
  *
  *  - rows whose output needs only per-partition counts plan no offset
  *    derivation (no GroupedPrefix, no range exchange);
  *  - a GroupedPrefix whose prefix column nobody reads is optimized away;
  *  - loading an unchanged table runs no schema-inference job, and a
  *    rewritten one is re-inferred. */
class BrokerBudgetSpec extends AnyFunSuite {

  lazy val spark = Testing.spark

  val sf = "/root/testdata/sf0.001"

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  private def prefixNodes(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case g: graft.plans.GroupedPrefix => g
    }.size

  /** Spark jobs `body` launches on this thread (tagged by job group, so
    * stray jobs of other threads do not count). */
  private def jobsOf(body: => Unit): Int = {
    val group = s"budget-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
          j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "budget probe")
    try {
      body
      Thread.sleep(500) // let the job events reach the listener
      jobs.get()
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("count-derived rows plan no GroupedPrefix and no range exchange") {
    val countRows = Seq("watermarks", "consumer_lag", "lag_alerts",
      "commit_offset_state", "consumer_lag_multi_topic",
      "consumer_lag_topic_filter")
    countRows.foreach { name =>
      val df = query(name)
      assert(prefixNodes(df) === 0, name)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("GroupedPrefix"), s"$name:\n$plan")
      assert(!plan.contains("rangepartitioning"), s"$name:\n$plan")
    }
    // only the consume side derives offsets; the segment stats derive the
    // log once (one prefix for offsets, one for segment ids)
    assert(prefixNodes(query("consume_with_group")) === 1)
    assert(prefixNodes(query("retention_filter")) === 2)
  }

  test("key_partitioner's optimized plan drops the unread offset prefix") {
    val df = query("key_partitioner")
    assert(prefixNodes(df) === 0, df.queryExecution.optimizedPlan.treeString)
    // a row that reads the prefix keeps it
    assert(prefixNodes(query("offset_assignment")) === 1)
  }

  test("a second Tables.load of an unchanged table launches no Spark job") {
    Tables.load(spark, sf, "events")
    assert(jobsOf(Tables.load(spark, sf, "events").schema) === 0)
  }

  test("a rewritten table file is re-inferred: its new column is visible") {
    val dir = Files.createTempDirectory("flyq-schema-memo")
    val target = dir.resolve("t.parquet")
    import spark.implicits._
    /** Spark writes a directory; move its one part file to `t.parquet`,
      * so a rewrite keeps the file name and changes only length/mtime. */
    def writeFile(df: DataFrame): Unit = {
      val out = dir.resolve(s"out-${System.nanoTime()}")
      df.coalesce(1).write.parquet(out.toString)
      val part = Files.list(out).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    }
    writeFile(Seq(1L, 2L).toDF("a"))
    assert(jobsOf(Tables.load(spark, dir.toString, "t").schema) > 0,
      "listener sanity: the first load infers the schema with a job")
    assert(Tables.load(spark, dir.toString, "t").columns.toSeq === Seq("a"))
    writeFile(Seq((1L, "x"), (2L, "y")).toDF("a", "b"))
    val reread = Tables.load(spark, dir.toString, "t")
    assert(reread.columns.toSeq === Seq("a", "b"))
    assert(reread.collect().map(_.getString(1)).sorted.toSeq === Seq("x", "y"))
  }
}
