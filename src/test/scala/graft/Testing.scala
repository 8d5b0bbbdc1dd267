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

  /** Runs `body` with parquet pages of two rows (see [[withPageRows]]). */
  def withSmallPages[T](body: => T): T = withPageRows(2)(body)

  /** Runs `body` with parquet pages of `rowsPerPage` rows, so an index
    * built from test-sized data has as many key pages per file as a
    * large one: the gate writers push a batch's keys only into an index
    * with two key pages per key in each file
    * (`PipelineStreams.ProbeStamp.pushCap`). About 40k ngram index rows
    * at sf0.1 make ~20k two-row or ~40k one-row key pages; how many a
    * file gets depends on the bucket count the spec builds with. */
  def withPageRows[T](rowsPerPage: Int)(body: => T): T = {
    val keys = Seq("parquet.page.row.count.limit",
      "parquet.page.size.row.check.min")
    val prior = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, rowsPerPage.toLong))
    try body
    finally prior.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}
