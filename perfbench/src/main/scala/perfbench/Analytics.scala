package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.perfbench.BusBridge
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.sources.LogTable

/** `broker_analytics`: a closed loop with one client over the 19 BrokerOps
  * rows of [[SparkEntry.queries]] (FlyQ's opcode surface recomputed as
  * DataFrame queries), each pass in a seed-shuffled order. After one
  * untimed warm-up pass, whole passes run until `seconds` have elapsed, at
  * least [[MinPasses]]. One operation = build the DataFrame, plan
  * it, collect its rows. */
object Analytics {
  val Queries: Seq[String] = Seq(
    "offset_assignment", "key_partitioner", "key_partitioner_xxh3",
    "key_partitioner_xxh3_n6", "round_robin", "watermarks", "consumer_lag",
    "log_compaction", "consumer_lag_materialized", "consumer_lag_multi_topic",
    "consumer_lag_multi_topic_materialized", "consumer_lag_topic_filter",
    "partition_health", "segment_assignment", "consume_from_offset",
    "consume_with_group", "commit_offset_state", "retention_filter",
    "lag_alerts")
  private val Xxh3Rows = Set("key_partitioner_xxh3", "key_partitioner_xxh3_n6")
  /** Two passes give 38 latency samples, enough for a median with ten
    * samples above it. */
  val MinPasses = 2
  /** Threads of the untimed warm-up pass. It only has to run each query
    * once, and two queries at a time overlap their driver-side planning
    * and job scheduling. */
  val WarmupThreads = 2

  final case class Op(pass: Int, name: String, startNs: Long, planNs: Long,
                      endNs: Long, ok: Boolean)

  def run(a: Main.Args, r: Result): Unit = {
    // set-up: session plus both materialized log snapshots, repeated
    val setup = mutable.ArrayBuffer.empty[Double]
    val snapshot = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (rep <- 0 until Bench.SetupReps) {
      if (spark != null) Bench.stop(spark)
      LogTable.dropSnapshots(a.data)
      val t0 = System.nanoTime()
      spark = Bench.session(a.work, rep)
      val t1 = System.nanoTime()
      LogTable.ensureMaterialized(spark, a.data)
      LogTable.ensureMaterializedTopicLog(spark, a.data)
      val t2 = System.nanoTime()
      setup += Bench.seconds(t0, t2)
      snapshot += Bench.seconds(t1, t2)
    }
    r.e2e("setup_s") = setup.toSeq
    r.info("setup_reps_s") = setup.toSeq

    val phases = new Phases(r)
    // one untimed pass: the JIT compiles the query paths before timing;
    // its results join the cross-pass equality check
    val digests = mutable.Map.empty[String, mutable.Set[String]]
    val last = mutable.Map.empty[String, (StructType, Array[Row])]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(WarmupThreads)
    try {
      Queries.map { q =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = Bench.digest(SparkEntry.queries(q)(spark, a.data).collect())
        })
      }.zip(Queries).foreach { case (f, q) =>
        digests.getOrElseUpdate(q, mutable.Set.empty) += f.get()
      }
    } finally pool.shutdown()
    phases.mark("warmup")

    // a traced run reports no end-to-end numbers; one pass of each kind is
    // its overhead baseline
    val minPasses = if (a.trace) 1 else MinPasses
    val plain = phase(spark, a, new Trace(false), "untraced", minPasses, digests, last)
    phases.mark("untraced")
    val plainWall = Bench.seconds(plain.head.startNs, plain.last.endNs)
    var all = plain
    r.e2e("latency_ms") = plain.filter(_.ok).map(o => (o.endNs - o.startNs) / 1e6)
    r.e2e("throughput_per_s") = plain.count(_.ok) / plainWall
    r.info("pass_s") = plain.groupBy(_.pass).toSeq.sortBy(_._1).map { case (_, ops) =>
      Bench.seconds(ops.head.startNs, ops.last.endNs)
    }

    if (a.trace) {
      val stats = new TaskStats
      spark.sparkContext.addSparkListener(stats)
      val trace = new Trace(true)
      val traced = phase(spark, a, trace, "traced", minPasses, digests, last)
      all = plain ++ traced
      BusBridge.drain(spark.sparkContext)
      val passes = traced.map(_.pass).distinct
      def perPass(f: TaskStats#Agg => Double, rows: String => Boolean = _ => true) =
        Bench.median(passes.map(p => f(stats.total { k =>
          k.startsWith(s"traced/$p/") && rows(k.split('/').last)
        })))
      val ok = traced.filter(_.ok)
      r.layer ++= Layers.zeros
      r.layer ++= Map(
        "sources.snapshot_build_s" -> Bench.median(snapshot.toSeq),
        "sources.input_bytes" -> perPass(_.inBytes.toDouble),
        "sources.input_records" -> perPass(_.inRecords.toDouble),
        "operators.plan_ms_mean" -> ok.map(o => (o.planNs - o.startNs) / 1e6),
        "operators.exec_ms_mean" -> ok.map(o => (o.endNs - o.planNs) / 1e6),
        "operators.jobs" -> perPass(_.jobs.toDouble),
        "operators.stages" -> perPass(_.stages.toDouble),
        "operators.tasks" -> perPass(_.tasks.toDouble),
        "operators.shuffle_write_bytes" -> perPass(_.shuffleWrite.toDouble),
        "operators.spill_bytes" -> perPass(_.spill.toDouble),
        "operators.cpu_ms" -> perPass(_.cpuNs / 1e6),
        "operators.gc_ms" -> perPass(_.gcMs.toDouble),
        "operators.cached_mb" -> Bench.cachedBytes(spark) / 1e6,
        "functions.xxh3_cpu_ms" -> perPass(_.cpuNs / 1e6, Xxh3Rows),
        "trace.overhead" ->
          (Bench.seconds(traced.head.startNs, traced.last.endNs) / traced.size) /
            (plainWall / plain.size))
      trace.write(s"${a.work}/spans.jsonl")
      phases.mark("traced")
    }
    r.attempted = all.size
    r.failed = all.count(!_.ok)

    // storage: persisted blocks plus the two on-disk log snapshots
    r.e2e("storage_mb") = (Bench.cachedBytes(spark) +
      Bench.dirBytes(LogTable.ensureMaterialized(spark, a.data)) +
      Bench.dirBytes(LogTable.ensureMaterializedTopicLog(spark, a.data))) / 1e6

    // output checks: every execution of a query gave the same rows, and
    // the last one is handed to run.py for the DuckDB twin comparison
    r.check("analytics.no_failed_operations", r.failed == 0,
      s"${r.failed} of ${r.attempted} operations failed")
    Queries.foreach { q =>
      val d = digests.getOrElse(q, mutable.Set.empty)
      r.check(s"analytics.$q.stable_across_passes", d.size == 1,
        s"${d.size} distinct results over the passes")
    }
    val outDir = s"${a.work}/results"
    last.foreach { case (q, (schema, rows)) =>
      Bench.writeRows(spark, schema, rows, s"$outDir/$q")
    }
    Bench.writeText(s"${a.work}/oracle_sql.json", Json.render(
      Queries.map(q => q -> SparkEntry.oracleSql.getOrElse(q, "")).toMap))
    r.info("results_dir") = outDir
    phases.mark("checks")
  }

  private def phase(spark: SparkSession, a: Main.Args, trace: Trace,
                    label: String, minPasses: Int,
                    digests: mutable.Map[String, mutable.Set[String]],
                    last: mutable.Map[String, (StructType, Array[Row])]): Seq[Op] = {
    val sc = spark.sparkContext
    val ops = mutable.ArrayBuffer.empty[Op]
    val results = mutable.ArrayBuffer.empty[(String, StructType, Array[Row])]
    val t0 = System.nanoTime()
    var pass = 0
    trace.span("workload", "bench", label) {
      while (pass < minPasses || Bench.seconds(t0, System.nanoTime()) < a.seconds) {
        pass += 1
        val passId = s"$label/$pass"
        val order = new scala.util.Random(a.seed * 1000003L + pass).shuffle(Queries)
        trace.span("pass", "bench", passId) {
          order.foreach { q =>
            sc.setLocalProperty(TaskStats.OpKey, s"$passId/$q")
            trace.span(q, "operators", passId) {
              val s = System.nanoTime()
              var p = s
              try {
                val df = trace.span("plan", "operators", passId) {
                  val d = SparkEntry.queries(q)(spark, a.data)
                  d.queryExecution.executedPlan
                  d
                }
                p = System.nanoTime()
                val rows = trace.span("exec", "operators", passId)(df.collect())
                ops += Op(pass, q, s, p, System.nanoTime(), ok = true)
                results += ((q, df.schema, rows))
              } catch {
                case NonFatal(e) =>
                  ops += Op(pass, q, s, p, System.nanoTime(), ok = false)
                  System.err.println(s"[perfbench] $q failed: $e")
              }
            }
          }
        }
      }
    }
    sc.setLocalProperty(TaskStats.OpKey, null)
    // digests outside the timed loop: hashing is the benchmark's own work
    results.foreach { case (q, schema, rows) =>
      digests.getOrElseUpdate(q, mutable.Set.empty) += Bench.digest(rows)
      last(q) = (schema, rows)
    }
    ops.toSeq
  }
}

/** The per-layer metric names every traced run reports. A workload that
  * does not exercise a layer reports 0 for it (no calls, no time). */
object Layers {
  val Names: Seq[String] = Seq(
    "protocol.produce_rpc_us_p50", "protocol.consume_rpc_us_p50",
    "protocol.watermark_ms_mean",
    "sources.snapshot_build_s", "sources.input_bytes", "sources.input_records",
    "sources.v2.reads_per_record",
    "operators.plan_ms_mean", "operators.exec_ms_mean", "operators.jobs",
    "operators.stages", "operators.tasks", "operators.shuffle_write_bytes",
    "operators.spill_bytes", "operators.cpu_ms", "operators.gc_ms",
    "operators.cached_mb",
    "functions.xxh3_cpu_ms",
    "streaming.drain_batches", "streaming.batch_records_mean",
    "streaming.trigger_ms_mean", "streaming.sink_write_ms_mean",
    "streaming.fixed_ms_mean", "streaming.backlog_max",
    "gen.late_ms_max", "trace.overhead")
  def zeros: Map[String, Any] = Names.map(_ -> 0.0).toMap
}
