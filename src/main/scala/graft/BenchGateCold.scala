package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.PipelineStreams
import graft.streaming.PipelineStreams.{StreamDoc, StreamVec}

/** Diagnostic main (round-13 verdict #6): COLD-cache per-batch cost of
  * the six BUCKETED on-disk gate indices, at growing base scales.
  *
  * The in-JVM StreamGateScaleSpec numbers ride warmed OS block caches
  * and a warm persist-once plan; this tool splits index build and probe
  * into SEPARATE JVMs (Hive/Derby catalog pinned to a fixed warehouse so
  * bucketed-table metadata survives the process boundary) so the
  * orchestrating script can drop the OS page cache between them — the
  * probe then measures what a fresh executor reading a disk-resident
  * index actually pays per micro-batch.
  *
  * Reported per gate per batch: wall seconds AND task-level
  * `inputMetrics.bytesRead` (the purest signal — cold wall time is
  * bounded below by bytes touched, and bytes-per-batch vs index size is
  * exactly the "probe, never scan" claim under test).
  *
  * Usage:
  *   runMain graft.BenchGateCold build <sfDir> <label>   # writes gate_<g>_<label>
  *   runMain graft.BenchGateCold probe <label> [batches]
  * Env: SPARK_GRAFT_GATE_WH = warehouse root (default
  * /root/repo/.localdata/gatewh); orchestration in tools/gate_cold.sh.
  */
object BenchGateCold {

  private val SmallSf = "/root/testdata/sf0.1"

  private def session(wh: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS", cpus))
      .config("spark.sql.warehouse.dir", s"$wh/warehouse")
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$wh/metastore_db;create=true")
      .config("spark.ui.enabled", "false")
      .enableHiveSupport()
      .getOrCreate()
  }

  /** gate name -> (index writer, probe maker). Probe makers take the
    * streaming batch frame + index table, mirroring StreamGateScaleSpec
    * so the numbers are comparable. */
  private def gates(spark: SparkSession)
      : Seq[(String, (String, String) => Unit, (DataFrame, String) => DataFrame)] = Seq(
    ("emb",
      (sf, t) => { graft.operators.Similarity.writeBandIndexTable(spark, sf, t): Unit },
      (df, t) => PipelineStreams.embeddingNearDupStreamIndexed(spark, df, t)),
    ("simhash",
      (sf, t) => graft.operators.Dedup.writeSimhashIndexTable(spark, sf, t),
      (df, t) => PipelineStreams.simhashNearDupStreamIndexed(spark, df, t)),
    ("minhash",
      (sf, t) => graft.operators.Dedup.writeMinhashIndexTable(spark, sf, t),
      (df, t) => PipelineStreams.minhashNearDupStreamIndexed(spark, df, t)),
    ("ngram",
      (sf, t) => graft.operators.Dedup.writeNgramIndexTable(spark, sf, t),
      (df, t) => PipelineStreams.ngramNearDupStreamIndexed(spark, df, t)),
    ("span",
      (sf, t) => graft.operators.Curation.writeSpanIndexTable(spark, sf, t),
      (df, t) => PipelineStreams.spanDedupStreamIndexed(spark, df, t)),
    ("spanw",
      (sf, t) => graft.operators.Curation.writeSpanWinnowIndexTable(spark, sf, t),
      (df, t) => PipelineStreams.spanDedupStreamWinnowIndexed(spark, df, t)))

  private def tableBytes(spark: SparkSession, table: String): Long = {
    val loc = spark.sql(s"DESCRIBE FORMATTED $table")
      .filter(col("col_name") === "Location").select("data_type").head().getString(0)
    val dir = new java.io.File(new java.net.URI(loc))
    Option(dir.listFiles()).map(_.filter(_.isFile).map(_.length()).sum).getOrElse(0L)
  }

  def main(args: Array[String]): Unit = {
    val wh = sys.env.getOrElse("SPARK_GRAFT_GATE_WH",
      "/root/repo/.localdata/gatewh")
    new java.io.File(wh).mkdirs()
    val mode = args(0)
    val spark = session(wh)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    mode match {
      case "build" =>
        val sfDir = args(1); val label = args(2)
        gates(spark).foreach { case (g, write, _) =>
          val t = s"gate_${g}_$label"
          val t0 = System.nanoTime()
          write(sfDir, t)
          println(s"""{"built":"$t","sec":${(System.nanoTime() - t0) / 1e9},""" +
            s""""bytes":${tableBytes(spark, t)}}""")
        }

      case "probe" =>
        val label = args(1)
        val nBatches = if (args.length > 2) args(2).toInt else 3
        // batch rows come from sf0.1 regardless of index scale — the
        // batch is the fixed quantity; only the base index grows
        val batchDocs = graft.sources.Tables.load(spark, SmallSf, "documents")
          .orderBy("doc_id").limit(100)
          .select("doc_id", "lang", "text").collect()
          .map(r => StreamDoc(r.getLong(0), r.getString(1), r.getString(2),
            new java.sql.Timestamp(0L))).toSeq
        val batchVecs = graft.sources.Tables.load(spark, SmallSf, "embeddings")
          .orderBy("vec_id").limit(100)
          .select(col("vec_id"), col("embedding").cast("array<double>"))
          .collect()
          .map(r => StreamVec(r.getLong(0), r.getSeq[Double](1).toArray)).toSeq

        val bytesRead = new AtomicLong
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
            if (t.taskMetrics != null)
              bytesRead.addAndGet(t.taskMetrics.inputMetrics.bytesRead): Unit
        })
        def measured[A](body: => A): (Double, Long) = {
          org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark)
          val b0 = bytesRead.get(); val t0 = System.nanoTime()
          body
          org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark)
          ((System.nanoTime() - t0) / 1e9, bytesRead.get() - b0)
        }

        gates(spark).foreach { case (g, _, probe) =>
          val table = s"gate_${g}_$label"
          val isVec = g == "emb"
          val qname = s"cold_${g}_$label"
          val (trials, stop) =
            if (isVec) {
              val in = MemoryStream[StreamVec](spark)
              val q = probe(in.toDF(), table).writeStream.format("memory")
                .queryName(qname).outputMode("update").start()
              ((() => measured { in.addData(batchVecs); q.processAllAvailable() }),
                () => q.stop())
            } else {
              val in = MemoryStream[StreamDoc](spark)
              val q = probe(in.toDF(), table).writeStream.format("memory")
                .queryName(qname).outputMode("update").start()
              ((() => measured { in.addData(batchDocs); q.processAllAvailable() }),
                () => q.stop())
            }
          try {
            val rows = (1 to nBatches).map(_ => trials())
            val idx = tableBytes(spark, table)
            println(s"""{"gate":"$g","label":"$label","index_bytes":$idx,""" +
              rows.zipWithIndex.map { case ((s, b), i) =>
                s""""batch${i + 1}_sec":$s,"batch${i + 1}_bytes":$b"""
              }.mkString(",") + "}")
          } finally { stop(); spark.catalog.dropTempView(qname): Unit }
        }

      case other => sys.error(s"unknown mode '$other' (build|probe)")
    }
    spark.stop()
  }
}
