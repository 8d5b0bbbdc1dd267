package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.protocol.{FlyqClient, FlyqServer}
import graft.protocol.Payloads.WireMessage
import graft.sources.v2.FlyqSocketOffset
import graft.streaming.{IdempotentSink, PipelineStreams}

/** `ingest_stream`: the product path. One producer thread on one
  * [[FlyqClient]] connection writes to a loopback [[FlyqServer]]; the
  * [[graft.sources.v2.FlyqSocketSource]] stream feeds
  * [[PipelineStreams.curationIngestWriter]] (eval-holdout, quality
  * kernels, Bloom filter, n-gram near-dup probe against an index built in
  * set-up), which commits through [[IdempotentSink]].
  *
  * Each message's key is a fresh doc_id, its value the text of a
  * seed-sampled corpus document (its language in a header), its timestamp
  * the scheduled send time.
  *  - Phase A (drain): [[Backlog]] messages are produced, then the stream
  *    starts from earliest; throughput = backlog / time to commit it. An
  *    untimed drain of [[WarmupBacklog]] messages on a stream of its own
  *    first pays the JIT's cold start.
  *  - Phase B (tail): an open loop at [[RatePerS]] for [[WarmupS]] +
  *    `seconds`; latency = sink commit of a message's batch minus its
  *    scheduled send time, over the messages after the warm-up. */
object Ingest {
  val Partitions = 2
  val Backlog = 300
  val WarmupBacklog = 50
  val RatePerS = 20
  val WarmupS = 1.0
  /** Fresh keys: above every corpus doc_id. */
  val FreshBase = 1000000L

  final case class Msg(id: Long, src: Long, lang: String, text: String)

  /** One traced or untraced pass of both phases. */
  final class Round(val label: String) {
    val produced = mutable.ArrayBuffer.empty[Msg]
    val schedNs = new ConcurrentHashMap[Long, java.lang.Long]()
    val sentNs = new ConcurrentHashMap[Long, java.lang.Long]()
    val commitNs = new ConcurrentHashMap[Long, java.lang.Long]()
    val sinkMs = new ConcurrentLinkedQueue[java.lang.Double]()
    val rpcUs = new ConcurrentLinkedQueue[java.lang.Double]()
    val backlog = new ConcurrentLinkedQueue[java.lang.Long]()
    var tailIds: Seq[Long] = Nil
    var drainStartNs, drainEndNs = 0L
    var lateMsMax = 0.0
    var progress: Seq[StreamingQueryProgress] = Nil
    var drainBatches = 0L
    @volatile var phase = "drain"
    var sinkRows: Seq[(Long, Long)] = Nil
    var sinkBatch: Map[Long, Long] = Map.empty
    var drained: Set[Long] = Set.empty
  }

  def run(a: Main.Args, r: Result): Unit = {
    // set-up: session, broker, n-gram gate index; repeated
    val setup = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var server: FlyqServer = null
    var index = ""
    var brokerPort = 0
    for (rep <- 0 until Bench.SetupReps) {
      if (server != null) server.stop()
      if (spark != null) Bench.stop(spark)
      val t0 = System.nanoTime()
      spark = Bench.session(a.work, rep)
      server = new FlyqServer(s"${a.work}/broker$rep", numPartitions = Partitions)
      brokerPort = server.start()
      index = s"perfbench_ngram_idx_$rep"
      graft.operators.Dedup.writeNgramIndexTable(spark, a.data, index)
      setup += Bench.seconds(t0, System.nanoTime())
    }
    r.e2e("setup_s") = setup.toSeq
    r.info("setup_reps_s") = setup.toSeq
    val phases = new Phases(r)

    val corpus = graft.sources.Tables.load(spark, a.data, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(row => (row.getLong(0), row.getString(1), row.getString(2)))
    val rnd = new scala.util.Random(a.seed)
    var nextId = FreshBase
    def sample(): Msg = {
      val (src, lang, text) = corpus(rnd.nextInt(corpus.length))
      nextId += 1
      Msg(nextId, src, lang, text)
    }

    val warm = round(spark, brokerPort, index, a, new Round("warmup"),
      new Trace(false), sample _, None, WarmupBacklog, tailSeconds = 0.0)
    phases.mark("warmup")
    val plain = round(spark, brokerPort, index, a, new Round("untraced"),
      new Trace(false), sample _, None, Backlog, WarmupS + a.seconds)
    phases.mark("untraced")
    val drainS = Bench.seconds(plain.drainStartNs, plain.drainEndNs)
    r.info("drain_s") = drainS
    r.e2e("throughput_per_s") = Backlog / drainS
    r.e2e("tail_messages") = plain.tailIds.map(id =>
      Seq(plain.schedNs.get(id).longValue, plain.sentNs.get(id).longValue,
        commitOf(plain, id)))
    var rounds = Seq(warm, plain)

    if (a.trace) {
      val stats = new TaskStats
      spark.sparkContext.addSparkListener(stats)
      val trace = new Trace(true)
      val traced = round(spark, brokerPort, index, a, new Round("traced"),
        trace, sample _, Some(stats), Backlog, WarmupS + a.seconds)
      rounds :+= traced
      BusBridge.drain(spark.sparkContext)
      val drain = stats.total(_ == "traced/drain")
      val batches = traced.progress.filter(_.numInputRows > 0)
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val committed = batches.map(records).sum
      r.layer ++= Layers.zeros
      r.layer ++= Map(
        "protocol.produce_rpc_us_p50" -> traced.rpcUs.asScala.map(_.doubleValue).toSeq,
        "protocol.consume_rpc_us_p50" -> consumeWalk(brokerPort, s"docs_${traced.label}"),
        "protocol.watermark_ms_mean" -> batches.map(dur(_, "latestOffset")),
        "sources.input_bytes" -> drain.inBytes.toDouble,
        "sources.input_records" -> drain.inRecords.toDouble,
        "sources.v2.reads_per_record" ->
          batches.map(_.numInputRows).sum.toDouble / math.max(1L, committed),
        "operators.jobs" -> drain.jobs.toDouble,
        "operators.stages" -> drain.stages.toDouble,
        "operators.tasks" -> drain.tasks.toDouble,
        "operators.shuffle_write_bytes" -> drain.shuffleWrite.toDouble,
        "operators.spill_bytes" -> drain.spill.toDouble,
        "operators.cpu_ms" -> drain.cpuNs / 1e6,
        "operators.gc_ms" -> drain.gcMs.toDouble,
        "operators.cached_mb" -> Bench.cachedBytes(spark) / 1e6,
        "streaming.drain_batches" -> traced.drainBatches.toDouble,
        "streaming.batch_records_mean" -> batches.map(records(_).toDouble),
        "streaming.trigger_ms_mean" -> batches.map(dur(_, "triggerExecution")),
        "streaming.sink_write_ms_mean" -> traced.sinkMs.asScala.map(_.doubleValue).toSeq,
        "streaming.fixed_ms_mean" -> batches.map(p =>
          Seq("walCommit", "commitOffsets", "queryPlanning", "latestOffset")
            .map(dur(p, _)).sum),
        "streaming.backlog_max" ->
          traced.backlog.asScala.map(_.longValue).maxOption.getOrElse(0L).toDouble,
        "gen.late_ms_max" -> traced.lateMsMax,
        // steady-state tail batches, traced over untraced (the drain batch
        // of the first round also pays JIT warm-up, so it is no baseline)
        "trace.overhead" -> tailTriggerMs(traced) / tailTriggerMs(plain))
      trace.write(s"${a.work}/spans.jsonl")
    }
    r.attempted = rounds.map(_.produced.size.toLong).sum
    phases.mark("traced")

    r.e2e("storage_mb") = (Bench.cachedBytes(spark) +
      Bench.dirBytes(s"${a.work}/broker${Bench.SetupReps - 1}") +
      Bench.dirBytes(s"${a.work}/warehouse${Bench.SetupReps - 1}") +
      rounds.map(x => Bench.dirBytes(s"${a.work}/sink_${x.label}")).sum) / 1e6

    checks(spark, a, index, rounds, r)
    phases.mark("checks")
    server.stop()
  }

  private def tailTriggerMs(x: Round): Double = {
    val tail = x.progress.filter(p => p.numInputRows > 0 && !x.drained(p.batchId))
    tail.map(_.durationMs.get("triggerExecution").doubleValue).sum / math.max(1, tail.size)
  }

  /** Records a batch committed: the source's end minus start offsets. */
  private def records(p: StreamingQueryProgress): Long =
    p.sources.map { s =>
      val end = FlyqSocketOffset.fromJson(s.endOffset).nextOffsets
      val start = Option(s.startOffset).map(FlyqSocketOffset.fromJson(_).nextOffsets)
        .getOrElse(Map.empty[Long, Long])
      end.map { case (part, n) => n - start.getOrElse(part, 0L) }.sum
    }.sum

  /** Commit time of the batch holding `id`, or -1 if it never landed. */
  private def commitOf(x: Round, id: Long): Long =
    x.sinkBatch.get(id).flatMap(b => Option(x.commitNs.get(b)))
      .map(_.longValue).getOrElse(-1L)

  private def round(spark: SparkSession, port: Int, index: String,
                    a: Main.Args, x: Round, trace: Trace, sample: () => Msg,
                    stats: Option[TaskStats], backlog: Int,
                    tailSeconds: Double): Round = {
    val topic = s"docs_${x.label}"
    val out = s"${a.work}/sink_${x.label}"
    val nanoAtWall = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val sampler = if (trace.enabled) Some(new FlyqClient("127.0.0.1", port)) else None
    val listener = new Progress(e => sampler.foreach { c =>
      // broker backlog at this progress event: log end minus committed
      val ends = e.progress.sources.headOption
        .map(s => FlyqSocketOffset.fromJson(s.endOffset).nextOffsets)
        .getOrElse(Map.empty[Long, Long])
      val behind = (0 until Partitions).map { p =>
        c.watermark(topic, p.toLong).fold(_ => 0L, _.logEndOffset) -
          ends.getOrElse(p.toLong, 0L)
      }.sum
      x.backlog.add(behind)
    })
    spark.streams.addListener(listener)

    val docs = spark.readStream.format("graft.sources.v2.FlyqSocketSource")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("topic", topic).option("partitions", Partitions.toString)
      .option("startingOffsets", "earliest").load()
      .select(
        col("mkey").cast("string").cast("long").as("doc_id"),
        expr("filter(headers, h -> h.hkey = 'lang')[0].hvalue")
          .cast("string").as("lang"),
        col("mvalue").cast("string").as("text"),
        timestamp_millis(col("ts_ms")).as("event_ts"))
    val writer = PipelineStreams.curationIngestWriter(spark, docs, index, a.data) {
      (df: DataFrame, id: Long) =>
        val s = System.nanoTime()
        IdempotentSink.write(df, id, out)
        val e = System.nanoTime()
        x.commitNs.put(id, e)
        x.sinkMs.add((e - s) / 1e6)
        trace.record(Span(trace.newId(), -id - 1, s"${x.label}/${x.phase}",
          "sink_write", "streaming", s, e))
    }

    val client = new FlyqClient("127.0.0.1", port)
    def produce(m: Msg, tsMs: Long): Unit = {
      val t = System.nanoTime()
      client.produce(topic, WireMessage(tsMs, Some(m.id.toString.getBytes("UTF-8")),
        m.text.getBytes("UTF-8"), Seq("lang" -> m.lang.getBytes("UTF-8"))))
        .fold(err => sys.error(s"produce failed: $err"), identity)
      val e = System.nanoTime()
      x.rpcUs.add((e - t) / 1e3)
      x.sentNs.put(m.id, e)
      x.produced.synchronized(x.produced += m)
    }

    // Phase A: backlog, then drain it from earliest
    (0 until backlog).foreach { _ =>
      val m = sample()
      x.schedNs.put(m.id, System.nanoTime())
      produce(m, System.currentTimeMillis())
    }
    val drainWall0 = System.currentTimeMillis()
    x.drainStartNs = System.nanoTime()
    val q = writer.option("checkpointLocation", s"${a.work}/ckpt_${x.label}").start()
    val drainPass = trace.newId()
    q.processAllAvailable()
    x.drainEndNs = x.commitNs.asScala.values.map(_.longValue).max
    x.drainBatches = x.commitNs.size.toLong
    stats.foreach(_.window(s"${x.label}/drain", drainWall0, System.currentTimeMillis()))
    trace.record(Span(drainPass, 0L, x.label + "/drain", "pass", "bench",
      x.drainStartNs, x.drainEndNs))
    x.drained = x.commitNs.keySet.asScala.map(_.longValue).toSet
    x.phase = "tail"

    // Phase B: open loop at a fixed rate, warm-up first
    val n = (tailSeconds * RatePerS).toInt
    val warm = (WarmupS * RatePerS).toInt
    val periodNs = 1e9 / RatePerS
    val tailIds = mutable.ArrayBuffer.empty[Long]
    val t0 = System.nanoTime() + 20000000L
    val wall0 = System.currentTimeMillis() + 20
    val tailPass = trace.newId()
    val gen = new Thread(() => {
      var i = 0
      while (i < n) {
        val sched = t0 + (i * periodNs).toLong
        var now = System.nanoTime()
        while (now < sched) {
          java.util.concurrent.locks.LockSupport.parkNanos(sched - now)
          now = System.nanoTime()
        }
        x.lateMsMax = math.max(x.lateMsMax, (now - sched) / 1e6)
        val m = sample()
        x.schedNs.put(m.id, sched)
        produce(m, wall0 + (i * 1000L) / RatePerS)
        if (i >= warm) tailIds += m.id
        i += 1
      }
    }, "perfbench-producer")
    gen.start()
    gen.join()
    q.processAllAvailable()
    val tailEnd = System.nanoTime()
    q.stop()
    client.close()
    // deliver the last progress events before detaching their listener
    BusBridge.drain(spark.sparkContext)
    spark.streams.removeListener(listener)
    sampler.foreach(_.close())
    x.tailIds = tailIds.toSeq
    x.progress = listener.events.asScala.toSeq

    // map every committed doc to its batch (the sink's batch_id column)
    val sink = IdempotentSink.committed(spark, out).select("doc_id", "batch_id")
      .collect().map(row => row.getLong(0) -> row.get(1).toString.toLong)
    x.sinkRows = sink.toSeq
    x.sinkBatch = sink.toMap

    if (trace.enabled) {
      trace.record(Span(tailPass, 0L, x.label + "/tail", "pass", "bench", t0, tailEnd))
      // a span per micro-batch, from its progress event, under its phase
      x.progress.foreach { p =>
        val start = nanoAtWall + java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
        val end = start + p.durationMs.get("triggerExecution").longValue * 1000000L
        val (parent, pass) =
          if (x.drained(p.batchId)) (drainPass, x.label + "/drain")
          else (tailPass, x.label + "/tail")
        trace.record(Span(-p.batchId - 1, parent, pass, s"batch", "streaming",
          start, end))
      }
    }
    x
  }

  private def checks(spark: SparkSession, a: Main.Args, index: String,
                     rounds: Seq[Round], r: Result): Unit = {
    import spark.implicits._
    rounds.foreach { x =>
      val ids = x.sinkRows.map(_._1)
      val produced = x.produced.map(_.id).toSet
      r.check(s"ingest.${x.label}.sink_exactly_once",
        ids.size == produced.size && ids.toSet == produced,
        s"sink holds ${ids.size} rows (${ids.distinct.size} distinct doc_ids) " +
          s"for ${produced.size} produced")
    }
    val x = rounds.last
    val msgs = x.produced.toSeq.toDF()
    val sink = IdempotentSink.committed(spark, s"${a.work}/sink_${x.label}")
    // per-doc decisions with their source document, for run.py's
    // quality_filter oracle comparison
    sink.select("doc_id", "pass_quality", "drop_reason")
      .join(msgs.select(col("id").as("doc_id"), col("src").as("src_doc_id")),
        "doc_id")
      .coalesce(1).write.parquet(s"${a.work}/decisions")
    Bench.writeText(s"${a.work}/oracle_sql.json", Json.render(Map(
      "quality_filter" -> graft.SparkEntry.oracleSql("quality_filter"))))
    // drop_reason must equal a one-shot batch evaluation of the same docs
    val batch = msgs.select(col("id").as("doc_id"), col("lang"), col("text"),
      timestamp_millis(lit(0L)).as("event_ts"))
    val baseKeys = graft.sources.Tables.load(spark, a.data, "documents")
      .select(graft.operators.Curation.wordSetHash(col("text")).as("th"))
    val bloom = graft.operators.Curation.bloomLiteral(baseKeys, "th",
      PipelineStreams.GateMaxBloomBytes)
    val expected = PipelineStreams.curationIngestBatch(spark, batch,
        spark.table(index), bloom, pushed = false)
      .select(col("doc_id"), col("drop_reason").as("expected"))
    val differ = sink.select("doc_id", "drop_reason")
      .join(expected, Seq("doc_id"), "full_outer")
      .filter(!(col("drop_reason") <=> col("expected"))).count()
    r.check("ingest.drop_reason_matches_batch_evaluation", differ == 0,
      s"$differ docs differ from a one-shot batch evaluation")
  }

  /** Time a [[FlyqClient.consume]] walk over the topic: the source's read
    * path, one RPC per record. */
  private def consumeWalk(port: Int, topic: String): Seq[Double] = {
    val c = new FlyqClient("127.0.0.1", port)
    try (0 until Partitions).flatMap { p =>
      val end = c.watermark(topic, p.toLong).fold(e => sys.error(e), _.logEndOffset)
      var off = 0L
      val out = mutable.ArrayBuffer.empty[Double]
      while (off < end) {
        val t = System.nanoTime()
        val resp = c.consume(topic, p.toLong, off).fold(e => sys.error(e), identity)
        out += (System.nanoTime() - t) / 1e3
        off = resp.offset + 1
      }
      out
    } finally c.close()
  }
}
