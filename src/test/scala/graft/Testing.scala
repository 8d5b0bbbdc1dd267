package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object Testing {
  lazy val spark: SparkSession = {
    // local[4, 2]: maxFailures = 2, so a task may be retried ONCE — what
    // RetryDeterminismSpec needs to inject a failing-then-retried task
    // (local[4]'s maxFailures = 1 turns any task throw into a job
    // failure). Production clusters default to 4.
    val s = SparkSession.builder()
      .master("local[4, 2]")
      .appName("flyqspark-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("flyq-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
