package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.PipelineStreams
import graft.streaming.PipelineStreams.{StreamDoc, StreamVec}

/** Round-8 verdict #4: the streaming ingest gates were ARGUED flat but
  * never stress-measured. This spec replays the same micro-batch against
  * a 10x base corpus and asserts per-batch wall time stays batch-sized,
  * not base-sized — the property the persist-once static indices buy
  * (a stream-static join re-executes its static subtree every batch; an
  * unpersisted base index would re-tokenize/re-hash the whole corpus
  * per batch and scale 10x here).
  *
  * The 10x base is built in-Spark with the tools/gen_sf1.py recipe
  * (per-replica letter cipher for documents, dimension permutation for
  * embeddings) so per-replica structure is preserved while cross-replica
  * collisions collapse to chance. Stopword exemption is not needed: the
  * gates under test never evaluate quality rules.
  *
  * Timing discipline: batch 1 pays query construction AND the
  * persist-once index build (charged to setup, same as the batch
  * family's pair artifacts); the assertion is on min over batches 2-3.
  * The bound is 4x small-base time with a 2 s absolute floor — linear
  * behavior would read ~10x, co-tenant noise won't cover 4x of a
  * sub-second measurement twice. */
class StreamGateScaleSpec extends AnyFunSuite {
  private lazy val spark = Testing.spark
  import spark.implicits._

  private val smallSf = "/root/testdata/sf0.1"
  private val Reps = 10
  private val IdStride = 10000000L

  /** 10x replica base dir (documents + embeddings), built once. */
  private lazy val bigSf: String = {
    val dir = "/tmp/graft_gate_sf1"
    val done = new java.io.File(s"$dir/_DONE")
    if (!done.exists()) {
      new java.io.File(dir).mkdirs()
      val lower = "abcdefghijklmnopqrstuvwxyz"
      val docs = graft.sources.Tables.load(spark, smallSf, "documents")
      val docReps = (0 until Reps).map { k =>
        val shifted = docs.withColumn("doc_id", col("doc_id") + k * IdStride)
        if (k == 0) shifted
        else {
          val rng = new scala.util.Random(7000 + k)
          val perm = rng.shuffle(lower.toList).mkString
          shifted.withColumn("text",
            translate(col("text"), lower + lower.toUpperCase,
              perm + perm.toUpperCase))
        }
      }
      docReps.reduce(_ unionByName _).coalesce(4)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val emb = graft.sources.Tables.load(spark, smallSf, "embeddings")
      val dim = graft.operators.Similarity.Dim
      val embReps = (0 until Reps).map { k =>
        val shifted = emb.withColumn("vec_id", col("vec_id") + k * IdStride)
        if (k == 0) shifted
        else {
          val rng = new scala.util.Random(1000 + k)
          val perm = rng.shuffle((0 until dim).toList)
          shifted.withColumn("embedding",
            array(perm.map(p => element_at(col("embedding"), p + 1)): _*))
        }
      }
      embReps.reduce(_ unionByName _).coalesce(4)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      done.createNewFile()
    }
    dir
  }

  private lazy val batchDocs: Seq[StreamDoc] =
    graft.sources.Tables.load(spark, smallSf, "documents")
      .orderBy("doc_id").limit(100)
      .select("doc_id", "lang", "text").collect()
      .map(r => StreamDoc(r.getLong(0), r.getString(1), r.getString(2),
        new java.sql.Timestamp(0L))).toSeq

  private lazy val batchVecs: Seq[StreamVec] =
    graft.sources.Tables.load(spark, smallSf, "embeddings")
      .orderBy("vec_id").limit(100)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => StreamVec(r.getLong(0), r.getSeq[Double](1).toArray)).toSeq

  /** Start the gate over a memory stream, feed `feedN` batches, return
    * min wall-seconds over batches 2..feedN (batch 1 = setup). */
  private def docGateBatchSeconds(name: String, mode: String,
                                  mk: DataFrame => DataFrame): Double = {
    val input = MemoryStream[StreamDoc](spark)
    val q = mk(input.toDF()).writeStream.format("memory")
      .queryName(name).outputMode(mode).start()
    try {
      input.addData(batchDocs); q.processAllAvailable()
      (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        input.addData(batchDocs); q.processAllAvailable()
        (System.nanoTime() - t0) / 1e9
      }.min
    } finally { q.stop(); spark.catalog.dropTempView(name) }
  }

  private def vecGateBatchSeconds(name: String,
                                  mk: DataFrame => DataFrame): Double = {
    val input = MemoryStream[StreamVec](spark)
    val q = mk(input.toDF()).writeStream.format("memory")
      .queryName(name).outputMode("update").start()
    try {
      input.addData(batchVecs); q.processAllAvailable()
      (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        input.addData(batchVecs); q.processAllAvailable()
        (System.nanoTime() - t0) / 1e9
      }.min
    } finally { q.stop(); spark.catalog.dropTempView(name) }
  }

  private def assertFlat(gate: String, tSmall: Double, tBig: Double): Unit =
    // 3 s floor: a co-tenant burst on a busy test box must not flake a
    // sub-second measurement, while linear-in-base behavior on the
    // band-index gates still reads far above it (~5 s+)
    assert(tBig <= math.max(3.0, 4.0 * tSmall),
      f"$gate per-batch time grew ${tBig / tSmall}%.1fx at a 10x base " +
        f"($tSmall%.2fs -> $tBig%.2fs) — static side re-executing per batch?")

  /** One trigger of a foreachBatch gate writer over `docs` (doc_id,
    * lang, text): the doc ids its sink received, the sink frame's plan
    * and the job description the sink ran under. */
  private def writerBatch(docs: DataFrame,
      writer: (DataFrame, (DataFrame, Long) => Unit) =>
        DataStreamWriter[Row]): (Set[Long], String, String) = {
    val input = MemoryStream[StreamDoc](spark)
    @volatile var got = (Set.empty[Long], "", "")
    val q = writer(input.toDF(), (df, _) => {
        val plan = df.queryExecution.executedPlan.toString
        got = (df.select("doc_id").collect().map(_.getLong(0)).toSet, plan,
          spark.sparkContext.getLocalProperty("spark.job.description"))
      })
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("gs_writer").toString)
      .start()
    try {
      input.addData(docs.select("doc_id", "lang", "text").collect()
        .map(r => StreamDoc(r.getLong(0), r.getString(1), r.getString(2),
          new java.sql.Timestamp(0L))).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    got
  }

  /** The writer form's contract on a bucketed index: the same flagged
    * doc set as the indexed probe, no Exchange on the base side, and the
    * sink job named after the gate. */
  private def assertWriterForm(gate: String, flagged: Set[Long],
                               got: (Set[Long], String, String)): Unit = {
    val (ids, plan, desc) = got
    assert(ids === flagged)
    assert(plan.contains("SortMergeJoin"), plan.take(2000))
    assert("Exchange hashpartitioning\\(band_j".r.findAllIn(plan).length === 1,
      s"expected ONLY the batch side to exchange:\n${plan.take(2000)}")
    assert(plan.contains("Bucketed: true"), plan.take(2000))
    assert(desc === s"$gate gate: sink write")
  }

  test("embedding near-dup gate: per-batch time flat at a 10x base") {
    val s = vecGateBatchSeconds("gs_emb_s",
      PipelineStreams.embeddingNearDupStream(spark, _, smallSf))
    val b = vecGateBatchSeconds("gs_emb_b",
      PipelineStreams.embeddingNearDupStream(spark, _, bigSf))
    info(f"small=$s%.3fs big=$b%.3fs")
    assertFlat("embeddingNearDupStream", s, b)
  }

  test("simhash near-dup gate: per-batch time flat at a 10x base") {
    val s = docGateBatchSeconds("gs_sim_s", "update",
      PipelineStreams.simhashNearDupStream(spark, _, smallSf))
    val b = docGateBatchSeconds("gs_sim_b", "update",
      PipelineStreams.simhashNearDupStream(spark, _, bigSf))
    info(f"small=$s%.3fs big=$b%.3fs")
    assertFlat("simhashNearDupStream", s, b)
  }

  test("minhash near-dup gate: per-batch time flat at a 10x base") {
    val s = docGateBatchSeconds("gs_mh_s", "update",
      PipelineStreams.minhashNearDupStream(spark, _, smallSf))
    val b = docGateBatchSeconds("gs_mh_b", "update",
      PipelineStreams.minhashNearDupStream(spark, _, bigSf))
    info(f"small=$s%.3fs big=$b%.3fs")
    assertFlat("minhashNearDupStream", s, b)
  }

  test("ngram near-dup gate: per-batch time flat at a 10x base") {
    val s = docGateBatchSeconds("gs_ng_s", "update",
      PipelineStreams.ngramNearDupStream(spark, _, smallSf))
    val b = docGateBatchSeconds("gs_ng_b", "update",
      PipelineStreams.ngramNearDupStream(spark, _, bigSf))
    info(f"small=$s%.3fs big=$b%.3fs")
    assertFlat("ngramNearDupStream", s, b)
  }

  test("line-dedup gate: per-batch time flat at a 10x base") {
    val s = docGateBatchSeconds("gs_line_s", "update",
      PipelineStreams.lineDedupStream(spark, _, smallSf))
    val b = docGateBatchSeconds("gs_line_b", "update",
      PipelineStreams.lineDedupStream(spark, _, bigSf))
    info(f"small=$s%.3fs big=$b%.3fs")
    assertFlat("lineDedupStream", s, b)
  }

  test("span-dedup gate: per-batch time flat at a 10x base") {
    val s = docGateBatchSeconds("gs_span_s", "update",
      PipelineStreams.spanDedupStream(spark, _, smallSf))
    val b = docGateBatchSeconds("gs_span_b", "update",
      PipelineStreams.spanDedupStream(spark, _, bigSf))
    info(f"small=$s%.3fs big=$b%.3fs")
    assertFlat("spanDedupStream", s, b)
  }

  test("tfidf featurizer gate: per-batch time flat at a 10x base") {
    val s = docGateBatchSeconds("gs_tfidf_s", "append",
      PipelineStreams.tfidfFeatureStream(spark, _, smallSf))
    val b = docGateBatchSeconds("gs_tfidf_b", "append",
      PipelineStreams.tfidfFeatureStream(spark, _, bigSf))
    info(f"small=$s%.3fs big=$b%.3fs")
    assertFlat("tfidfFeatureStream", s, b)
  }

  test("bloom dedup gate: per-batch time flat at a 10x base") {
    val s = docGateBatchSeconds("gs_bloom_s", "append",
      PipelineStreams.bloomGateStream(spark, _, smallSf))
    val b = docGateBatchSeconds("gs_bloom_b", "append",
      PipelineStreams.bloomGateStream(spark, _, bigSf))
    info(f"small=$s%.3fs big=$b%.3fs")
    assertFlat("bloomGateStream", s, b)
  }

  test("bucketed band-index gate: same answers, no Exchange/Sort on the base side") {
    import graft.operators.Similarity
    val table = "gs_band_index"
    Similarity.writeBandIndexTable(spark, smallSf, table, nBuckets = 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // the gate transformations are stream-agnostic — run both variants
      // on the same batch frame and compare full answers
      val probe = graft.sources.Tables.load(spark, smallSf, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") % 7 === 0)
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getLong(3))).toSet
      val mem = PipelineStreams.embeddingNearDupStream(spark, probe, smallSf)
      val idx = PipelineStreams
        .embeddingNearDupStreamIndexed(spark, probe, table)
      assert(rows(idx) === rows(mem))
      assert(rows(idx).nonEmpty)
      // forbid broadcast so the plan must prove the bucketed layout: the
      // base side joins pre-partitioned AND pre-sorted (paid at write
      // time) — only the probe side exchanges, per micro-batch
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = PipelineStreams
        .embeddingNearDupStreamIndexed(spark, probe, table)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      val exchanges = "Exchange hashpartitioning\\(band_j".r
        .findAllIn(plan).length
      assert(exchanges === 1,
        s"expected ONLY the probe side to exchange, found $exchanges:\n" +
          plan.take(2000))
      assert(plan.contains("Bucketed: true"), plan.take(2000))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("bucketed span-index gate: same answers, no Exchange/Sort on the base side") {
    import graft.operators.Curation
    val table = "gs_span_index"
    Curation.writeSpanIndexTable(spark, smallSf, table, nBuckets = 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      val probe = graft.sources.Tables.load(spark, smallSf, "documents")
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 11 === 0)
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      val mem = PipelineStreams.spanDedupStream(spark, probe, smallSf)
      val idx = PipelineStreams.spanDedupStreamIndexed(spark, probe, table)
      assert(rows(idx) === rows(mem))
      assert(rows(idx).nonEmpty)
      // forbid broadcast so the plan must prove the bucketed layout: the
      // base side joins pre-partitioned AND pre-sorted (paid at write
      // time) — only the probe side exchanges, per micro-batch
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = PipelineStreams.spanDedupStreamIndexed(spark, probe, table)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      val exchanges = "Exchange hashpartitioning\\(h#".r
        .findAllIn(plan).length
      assert(exchanges === 1,
        s"expected ONLY the probe side to exchange on h, found $exchanges:\n" +
          plan.take(2000))
      assert(plan.contains("Bucketed: true"), plan.take(2000))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("winnowed span gate: per-batch time flat at a 10x base") {
    val s = docGateBatchSeconds("gs_winnow_s", "update",
      PipelineStreams.spanDedupStreamWinnow(spark, _, smallSf))
    val b = docGateBatchSeconds("gs_winnow_b", "update",
      PipelineStreams.spanDedupStreamWinnow(spark, _, bigSf))
    info(f"small=$s%.3fs big=$b%.3fs")
    assertFlat("spanDedupStreamWinnow", s, b)
  }

  test("bucketed winnow-index gate: index answers = in-memory answers, " +
      "flags within the full span gate, no base-side Exchange") {
    import graft.operators.Curation
    val table = "gs_span_winnow_index"
    Curation.writeSpanWinnowIndexTable(spark, smallSf, table, nBuckets = 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      val probe = graft.sources.Tables.load(spark, smallSf, "documents")
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 11 === 0)
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val mem = PipelineStreams.spanDedupStreamWinnow(spark, probe, smallSf)
      val idx = PipelineStreams
        .spanDedupStreamWinnowIndexed(spark, probe, table)
      assert(rows(idx) === rows(mem))
      assert(rows(idx).nonEmpty)
      // a doc with a matching winnowed fingerprint shares a real window
      // with the base, so the FULL span gate must flag it too (the
      // winnow set is a subset of the window set on both sides)
      val fullFlagged = PipelineStreams
        .spanDedupStream(spark, probe, smallSf)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val winnowFlagged = rows(idx).map(_._1)
      assert(winnowFlagged.subsetOf(fullFlagged),
        s"winnow-only flags: ${winnowFlagged -- fullFlagged}")
      // forbid broadcast so the plan must prove the bucketed layout
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = PipelineStreams
        .spanDedupStreamWinnowIndexed(spark, probe, table)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      val exchanges = "Exchange hashpartitioning\\(f#".r
        .findAllIn(plan).length
      assert(exchanges === 1,
        s"expected ONLY the probe side to exchange on f, found $exchanges:\n" +
          plan.take(2000))
      assert(plan.contains("Bucketed: true"), plan.take(2000))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  // ---- round-12: bucketed on-disk variants of the three signature
  // gates that previously had only the persist-once in-memory layout
  // (the family's own argument — SURVEY §7.9 — says the static side
  // leaves memory at true 100 TB). Same contract as the band/span
  // index tests above: answer-equal to the in-memory gate, and zero
  // base-side Exchange/Sort in the probe join.

  test("bucketed simhash-index gate: same answers, no Exchange/Sort on the base side") {
    import graft.operators.Dedup
    val table = "gs_simhash_index"
    Dedup.writeSimhashIndexTable(spark, smallSf, table, nBuckets = 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      val probe = graft.sources.Tables.load(spark, smallSf, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
        .filter(col("doc_id") % 11 === 0)
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
      val mem = PipelineStreams.simhashNearDupStream(spark, probe, smallSf)
      val idx = PipelineStreams
        .simhashNearDupStreamIndexed(spark, probe, table)
      assert(rows(idx) === rows(mem))
      assert(rows(idx).nonEmpty)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = PipelineStreams
        .simhashNearDupStreamIndexed(spark, probe, table)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      val exchanges = "Exchange hashpartitioning\\(combo_j".r
        .findAllIn(plan).length
      assert(exchanges === 1,
        s"expected ONLY the probe side to exchange, found $exchanges:\n" +
          plan.take(2000))
      assert(plan.contains("Bucketed: true"), plan.take(2000))
      // the banding contract: a probe must refuse an index written under
      // a different banding descriptor
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES" +
        "('graft.banding' = 'simhash:other')")
      intercept[IllegalArgumentException] {
        PipelineStreams.simhashNearDupStreamIndexed(spark, probe, table)
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("bucketed minhash-index gate: same answers, no Exchange/Sort on the base side") {
    import graft.operators.Dedup
    val table = "gs_minhash_index"
    Dedup.writeMinhashIndexTable(spark, smallSf, table, nBuckets = 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      val probe = graft.sources.Tables.load(spark, smallSf, "documents")
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 11 === 0)
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getLong(3))).toSet
      val mem = PipelineStreams.minhashNearDupStream(spark, probe, smallSf)
      val idx = PipelineStreams
        .minhashNearDupStreamIndexed(spark, probe, table)
      assert(rows(idx) === rows(mem))
      assert(rows(idx).nonEmpty)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = PipelineStreams
        .minhashNearDupStreamIndexed(spark, probe, table)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      val exchanges = "Exchange hashpartitioning\\(band_j".r
        .findAllIn(plan).length
      assert(exchanges === 1,
        s"expected ONLY the probe side to exchange, found $exchanges:\n" +
          plan.take(2000))
      assert(plan.contains("Bucketed: true"), plan.take(2000))
      // the foreachBatch writer form, on the same batch
      assertWriterForm("minhash", rows(idx).map(_._1), writerBatch(
        graft.sources.Tables.load(spark, smallSf, "documents")
          .filter(col("doc_id") % 11 === 0),
        PipelineStreams.minhashNearDupWriter(spark, _, table)(_)))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("bucketed ngram-index gate: same answers, no Exchange/Sort on the base side") {
    import graft.operators.Dedup
    val table = "gs_ngram_index"
    Dedup.writeNgramIndexTable(spark, smallSf, table, nBuckets = 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      val probe = graft.sources.Tables.load(spark, smallSf, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
        .filter(col("doc_id") % 11 === 0)
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getLong(3))).toSet
      val mem = PipelineStreams.ngramNearDupStream(spark, probe, smallSf)
      val idx = PipelineStreams
        .ngramNearDupStreamIndexed(spark, probe, table)
      assert(rows(idx) === rows(mem))
      assert(rows(idx).nonEmpty)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = PipelineStreams
        .ngramNearDupStreamIndexed(spark, probe, table)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      val exchanges = "Exchange hashpartitioning\\(band_j".r
        .findAllIn(plan).length
      assert(exchanges === 1,
        s"expected ONLY the probe side to exchange, found $exchanges:\n" +
          plan.take(2000))
      assert(plan.contains("Bucketed: true"), plan.take(2000))
      // the foreachBatch writer form, on the same batch
      assertWriterForm("ngram", rows(idx).map(_._1),
        writerBatch(probe, PipelineStreams.ngramNearDupWriter(spark, _, table)(_)))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("DSIR importance gate: per-batch time flat at a 10x base") {
    val s = docGateBatchSeconds("gs_dsir_s", "update",
      PipelineStreams.importanceWeightStream(spark, _, smallSf))
    val b = docGateBatchSeconds("gs_dsir_b", "update",
      PipelineStreams.importanceWeightStream(spark, _, bigSf))
    info(f"small=$s%.3fs big=$b%.3fs")
    assertFlat("importanceWeightStream", s, b)
  }
}
