package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-query structural profile (r17 optimization round, guide §1): for
  * each named query, wall seconds plus the counts that explain where a
  * SUB-SECOND row's time goes at sf0.1 — jobs launched (each is a
  * scheduling + codegen round-trip), stages (each an exchange boundary),
  * tasks, and shuffle bytes. A row with many jobs/stages and tiny bytes
  * is fixed-cost-bound (optimize plan shape / action count); a row with
  * few stages and large bytes is data-bound (optimize the algorithm).
  * Diagnostic main, not part of the driver contract — same family as
  * ProfilePairs/SpanStress.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.ProfileQueries [name ...]"
  */
object ProfileQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS", cpus))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shufRead = new AtomicLong(0)
    val shufWrite = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks): Unit
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
        }
      }
    })

    def mat(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count(): Unit

    // warmup (same as Bench)
    Seq("watermarks", "token_count", "embedding_topk").foreach(mat)

    // flags (e.g. -phases) are mode switches, not query names — leaving
    // them in the subset made `-phases` with no names profile NOTHING
    // (r17 advice #4)
    val subset = args.filterNot(_.startsWith("-")).toSet
    val names0 = SparkEntry.queries.keys.toSeq.sorted
    val queryNames = if (subset.isEmpty) names0 else names0.filter(subset)
    val artSelected =
      if (subset.isEmpty) Artifacts.all
      else Artifacts.all.filter(a => subset(a.name))

    println(f"${"query"}%-40s ${"sec"}%8s ${"jobs"}%5s ${"stages"}%6s " +
      f"${"tasks"}%6s ${"shufR_mb"}%9s ${"shufW_mb"}%9s")
    def profile(name: String)(body: => Unit): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0)
      shufRead.set(0); shufWrite.set(0)
      val t0 = System.nanoTime()
      try body catch { case e: Throwable =>
        println(s"$name FAILED: ${e.getClass.getSimpleName} ${e.getMessage}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // listener bus is async; drain DETERMINISTICALLY before reading —
      // a fixed sleep undercounted jobs/stages/bytes on heavy rows
      // (r17 advice #4)
      org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark)
      println(f"$name%-40s $sec%8.3f ${jobs.get}%5d ${stages.get}%6d " +
        f"${tasks.get}%6d ${shufRead.get / 1e6}%9.2f ${shufWrite.get / 1e6}%9.2f")
    }

    // artifact rows: profile the cold build (the row's own variants
    // dropped), like Bench, so a family row profiles the family build NET
    // of the shared word-set base
    artSelected.foreach { art =>
      art.drop(spark, sfDir)
      profile(art.name) { art.build(spark, sfDir) }
    }
    // re-warm all artifacts so query rows measure net of builds
    Artifacts.all.foreach { art =>
      try art.build(spark, sfDir) catch { case _: Throwable => () }
    }
    queryNames.foreach { n => profile(n)(mat(n)) }

    // -phases mode: per query, split DRIVER planning (analysis/
    // optimization/physical planning, from the QueryPlanningTracker +
    // executedPlan wall) from cluster execution, twice (2nd run = warm
    // codegen, the bench's min-of-2 shape)
    if (args.contains("-phases")) queryNames.foreach { n =>
      (1 to 2).foreach { i =>
        val df = SparkEntry.queries(n)(spark, sfDir)
        val t0 = System.nanoTime()
        df.queryExecution.executedPlan
        val tPlan = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        df.queryExecution.toRdd.count()
        val tExec = (System.nanoTime() - t1) / 1e9
        val ph = df.queryExecution.tracker.phases.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=${v.endTimeMs - v.startTimeMs}ms" }
          .mkString(" ")
        println(f"[phases] $n%-36s run$i plan=$tPlan%7.3f exec=$tExec%7.3f  $ph")
      }
    }
    spark.stop()
  }
}
