package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** Benchmark entry point: runs one workload against the library's entry points
  * and writes the raw measurements to `<work>/result.json` (plus
  * `<work>/spans.jsonl` when traced). `perfbench/run.py` builds this,
  * turns the raw numbers into metrics and runs the DuckDB output checks.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <tables dir> --work <fresh scratch dir>` */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val a = Args(kv("--workload"), kv("--seed").toLong, kv("--seconds").toDouble,
      kv("--trace") == "1", kv("--data"), kv("--work"))
    val r = new Result
    a.workload match {
      case "broker_analytics" => Analytics.run(a, r)
      case "ingest_stream" => Ingest.run(a, r)
      case w => sys.error(s"unknown workload $w")
    }
    val w = new java.io.PrintWriter(s"${a.work}/result.json", "UTF-8")
    try w.println(Json.render(r.toMap)) finally w.close()
    // the broker's accept loop and Spark's pools must not keep the JVM up
    System.exit(0)
  }
}

/** Raw measurements of one run: metric inputs keyed by metric name (a
  * list of samples or one number), output checks, and run facts. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, Any]
  val layer = mutable.LinkedHashMap.empty[String, Any]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  var attempted = 0L
  var failed = 0L

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] check $name FAILED: $detail")
  }

  def toMap: Map[String, Any] = Map("e2e" -> e2e, "layer" -> layer,
    "info" -> info, "checks" -> checks, "attempted" -> attempted,
    "failed" -> failed)
}

/** Wall seconds of a run's phases after set-up, for `info`: each mark
  * closes the phase that began at the previous one. */
final class Phases(r: Result) {
  private var last = System.nanoTime()
  private val spent = mutable.LinkedHashMap.empty[String, Double]
  r.info("phase_s") = spent

  def mark(name: String): Unit = {
    val now = System.nanoTime()
    spent(name) = Bench.seconds(last, now)
    last = now
  }
}

/** Session and measurement helpers shared by the workloads. */
object Bench {
  /** Spark cores. With the one load thread this leaves one of the 4 cores
    * to the JIT compiler, GC and listener threads. */
  val Cores = 2
  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3

  def session(work: String, rep: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse$rep")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Release every persist-once cache, then stop the session. */
  def stop(spark: SparkSession): Unit = {
    graft.operators.Dedup.clearCaches(spark)
    graft.operators.TextAnalysis.clearCaches(spark)
    graft.operators.LangModel.clearCaches(spark)
    graft.operators.Similarity.clearCaches(spark)
    graft.operators.Sampling.clearCaches(spark)
    graft.operators.Curation.clearCaches(spark)
    graft.streaming.PipelineStreams.clearCaches(spark)
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.stop()
  }

  def seconds(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Block-manager bytes (memory + disk) held by persisted data. */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      else f.length()
    walk(new java.io.File(path))
  }

  /** Order-independent digest of collected rows, for cross-pass equality. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Write `rows` as one parquet file for the DuckDB comparison. */
  def writeRows(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
                rows: Array[Row], path: String): Unit = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
      .write.parquet(path)
  }

  def writeText(path: String, text: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.print(text) finally w.close()
  }
}
