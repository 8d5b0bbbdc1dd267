package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.streaming.PipelineStreams

/** Round-15 (r14 verdict #4): pushed-vs-plain gate probe selection is
  * MEASURED at index build time, not hand-picked per family. The layout
  * statistic (`Dedup.measureKeyLayout`'s runs per file) must separate
  * the two regimes the r14 single-run gate table measured: ngram/minhash
  * key layouts where the pushed IN prunes to the pages the keys touch
  * (pushdown won, on an index with many more key pages per file than
  * the batch has keys — the `graft.key_pages` / `graft.key_files` stamps
  * the writers cap each batch by), and the simhash layout where a short key interleaved under 20
  * combo_j runs defeats page pruning (pushed read 91 MB / 30.7 s vs
  * plain 2 MB / 1.5 s — built, measured, removed). */
class ProbeFormSpec extends AnyFunSuite {
  private lazy val spark = Testing.spark
  private val sf = "/root/testdata/sf0.1"
  private val sf01 = sf.replace("sf0.1", "sf0.01")

  private def keyRuns(table: String): Double =
    spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .collectFirst {
        case r if r.getString(0) == "graft.key_runs" =>
          r.getString(1).toDouble
      }.get

  test("probe-form stamp: ngram/minhash layouts measure pushed, simhash plain") {
    val builds = Seq[(String, String => Unit, String)](
      ("pf_ngram", t => Dedup.writeNgramIndexTable(spark, sf, t, 8), "pushed"),
      ("pf_minhash", t => Dedup.writeMinhashIndexTable(spark, sf, t, 8), "pushed"),
      ("pf_simhash", t => Dedup.writeSimhashIndexTable(spark, sf, t, 8), "plain"))
    try {
      builds.foreach { case (t, build, want) =>
        build(t)
        val runs = keyRuns(t)
        info(f"$t: key_runs=$runs%.2f form=${Dedup.gateProbeForm(spark, t).get}")
        assert(Dedup.gateProbeForm(spark, t) === Some(want),
          f"$t measured key_runs=$runs%.2f")
      }
    } finally builds.foreach { case (t, _, _) =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("a degenerate ngram key layout stamps plain and routes the auto " +
      "writer off the pushed path") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.PipelineStreams.StreamDoc
    import spark.implicits._
    val good = "pf_auto_good"
    val bad = "pf_auto_bad"
    // both indexes get the many small pages per file a large index has
    // (one-row pages: ~1.2k per file here, for a ~400-key batch), so the
    // key-page cap lets the good one push and only the key layout
    // routes the bad one off the pushed path
    Testing.withPageRows(1)(Dedup.writeNgramIndexTable(spark, sf, good, 8))
    // the silent-degradation case the stamp exists to catch: same
    // banding, same bucketing, but the file sort no longer places pkey
    // in tight runs (sorted by base_id — each doc's band rows adjacent,
    // keys scattered through every file)
    Testing.withPageRows(1) {
      Dedup.ngramGateIndex(spark, sf).write.mode("overwrite")
        .bucketBy(8, "band_j", "pkey").sortBy("base_id")
        .saveAsTable(bad)
    }
    spark.sql(s"ALTER TABLE $bad SET TBLPROPERTIES" +
      s"('graft.banding' = '${Dedup.NgramBanding}')")
    val (badRuns, badForm) = Dedup.stampProbeStats(spark, bad, "pkey")
    try {
      info(f"degenerate layout: key_runs=$badRuns%.2f form=$badForm")
      assert(badForm === "plain", f"key_runs=$badRuns%.2f")
      assert(Dedup.gateProbeForm(spark, good) === Some("pushed"))

      // the auto writer obeys the stamp: pushed plan on the good index,
      // no pushed key filter on the degenerate one — same answers
      def runAuto(table: String): (Set[Long], String) = {
        val input = MemoryStream[StreamDoc](spark)
        var plan = ""
        var ids = Set.empty[Long]
        val q = PipelineStreams.ngramNearDupWriter(
            spark, input.toDF(), table) { (df, _) =>
            plan = df.queryExecution.executedPlan.toString
            ids = df.select("doc_id").collect().map(_.getLong(0)).toSet
          }
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory(s"pf_$table").toString)
          .start()
        try {
          val probe = graft.sources.Tables.load(spark, sf, "documents")
            .filter(col("doc_id") % 101 === 0)
            .select("doc_id", "lang", "text")
            .collect().map(r => StreamDoc(r.getLong(0), r.getString(1),
              r.getString(2), new java.sql.Timestamp(0L)))
          input.addData(probe.toIndexedSeq: _*)
          q.processAllAvailable()
        } finally q.stop()
        (ids, plan)
      }
      val (goodIds, goodPlan) = runAuto(good)
      val (badIds, badPlan) = runAuto(bad)
      assert(goodPlan.contains("PushedFilters: [In(pkey"),
        goodPlan.take(2000))
      assert(!badPlan.contains("PushedFilters: [In(pkey"),
        badPlan.take(2000))
      assert(goodIds === badIds)
      assert(goodIds.nonEmpty)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $good")
      spark.sql(s"DROP TABLE IF EXISTS $bad")
    }
  }

  test("an unstamped (pre-r15) index fails fast with the rebuild hint") {
    import spark.implicits._
    val table = "pf_unstamped"
    Dedup.ngramGateIndex(spark, sf).limit(100).write.mode("overwrite")
      .bucketBy(4, "band_j", "pkey").sortBy("band_j", "pkey")
      .saveAsTable(table)
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES" +
      s"('graft.banding' = '${Dedup.NgramBanding}')")
    try {
      val e = intercept[IllegalArgumentException] {
        PipelineStreams.ngramNearDupWriter(spark,
          org.apache.spark.sql.execution.streaming.runtime
            .MemoryStream[graft.streaming.PipelineStreams.StreamDoc](spark)
            .toDF(), table)((_, _) => ())
      }
      assert(e.getMessage.contains("graft.probe_form"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table"): Unit
  }

  test("an index stamped before key pages existed fails fast with the " +
      "rebuild hint") {
    import graft.streaming.PipelineStreams.StreamDoc
    import spark.implicits._
    val table = "pf_no_key_pages"
    Dedup.writeNgramIndexTable(spark, sf01, table, 4)
    spark.sql(s"ALTER TABLE $table UNSET TBLPROPERTIES ('graft.key_pages')")
    try {
      val stream = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[StreamDoc](spark).toDF()
      val batch = graft.sources.Tables.load(spark, sf01, "documents")
        .select("doc_id", "lang", "text")
      for (build <- Seq[() => Any](
          () => PipelineStreams.ngramNearDupWriter(spark, stream, table)(
            (_, _) => ()),
          () => PipelineStreams.ngramNearDupPushedWriter(spark, stream,
            table)((_, _) => ()),
          () => PipelineStreams.ngramNearDupBatchPushed(spark, batch, table))) {
        val e = intercept[IllegalArgumentException](build())
        assert(e.getMessage.contains("graft.key_pages"))
        assert(e.getMessage.contains("rebuild"))
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $table"): Unit
  }

  test("gate jobs name their step and form; the key collect runs only " +
      "where the index has pages to skip") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.PipelineStreams.StreamDoc
    import spark.implicits._
    val onePage = "pf_jobs_one_page"
    val manyPages = "pf_jobs_many_pages"
    // one bucket: a handful of one-page files, under 2 × 8 key pages
    // per file
    Dedup.writeNgramIndexTable(spark, sf01, onePage, 1)
    Testing.withSmallPages(Dedup.writeNgramIndexTable(spark, sf01, manyPages, 4))
    info(Seq(onePage, manyPages).map(t =>
      s"$t: ${PipelineStreams.probeStamp(spark, t)}").mkString(", "))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    val docs = graft.sources.Tables.load(spark, sf01, "documents")
      .filter(col("doc_id") < 5).select("doc_id", "lang", "text").collect()
      .map(r => StreamDoc(r.getLong(0), r.getString(1), r.getString(2),
        new java.sql.Timestamp(0L)))
    // the descriptions of one writer batch's jobs, and the sink's own
    def runBatch(table: String): (Seq[String], String) = {
      seen.clear()
      val input = MemoryStream[StreamDoc](spark)
      var sinkDesc = ""
      val q = PipelineStreams.ngramNearDupWriter(spark, input.toDF(), table) {
          (df, _) =>
            sinkDesc = spark.sparkContext.getLocalProperty("spark.job.description")
            df.collect(): Unit
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"pf_$table").toString)
        .start()
      try {
        input.addData(docs.toIndexedSeq: _*)
        q.processAllAvailable()
      } finally q.stop()
      // listener events arrive in order: once the sentinel job is seen,
      // every job of the batch has been
      spark.sparkContext.setJobDescription("pf sentinel")
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.contains("pf sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains("pf sentinel"))
      (scala.jdk.CollectionConverters.IterableHasAsScala(seen).asScala.toSeq,
        sinkDesc)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (oneJobs, oneSink) = runBatch(onePage)
      val (manyJobs, manySink) = runBatch(manyPages)
      val collect = "gate key collect: pkey (pushed)"
      assert(oneSink === "ngram gate: sink write (plain)")
      assert(!oneJobs.contains(collect), oneJobs)
      assert(manySink === "ngram gate: sink write (pushed)")
      assert(manyJobs.contains(collect), manyJobs)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      Seq(onePage, manyPages).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("pushed writer restores the session IN-pushdown threshold after " +
      "the batch drains (no net session-conf change)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.PipelineStreams.StreamDoc
    import spark.implicits._
    val table = "pf_restore"
    Testing.withSmallPages(Dedup.writeNgramIndexTable(spark, sf, table, 8))
    val key = "spark.sql.parquet.pushdown.inFilterThreshold"
    // pin a known prior (the direct-API tests elsewhere may have left it
    // raised — the scope must restore to WHATEVER was set before) and
    // forget any sticky direct floor a sibling suite's direct-API calls
    // left on the shared session (the floor is session-lifetime by
    // contract; this test is about the scope's own restore)
    PipelineStreams.resetPushFloor(spark)
    spark.conf.set(key, "10")
    try {
      val input = MemoryStream[StreamDoc](spark)
      var sawRaised = false
      val q = PipelineStreams.ngramNearDupPushedWriter(
          spark, input.toDF(), table) { (df, _) =>
          df.collect(): Unit // the action runs inside the scope
          sawRaised = spark.conf.get(key).toInt > PipelineStreams.PushChunk
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("pf_restore").toString)
        .start()
      try {
        val doc = graft.sources.Tables.load(spark, sf, "documents")
          .select("doc_id", "lang", "text").head()
        input.addData(StreamDoc(doc.getLong(0), doc.getString(1),
          doc.getString(2), new java.sql.Timestamp(0L)))
        q.processAllAvailable()
      } finally q.stop()
      assert(sawRaised, "threshold was not raised during the batch")
      assert(spark.conf.get(key) === "10",
        "threshold not restored after the pushed batch drained")
    } finally {
      spark.conf.unset(key)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("measureKeyRuns is split-proof: a session forcing tiny scan splits " +
      "measures the same runs/file as the default (r15 advice #1)") {
    val table = "pf_splits"
    Dedup.writeNgramIndexTable(spark, sf, table, 8)
    val mpb = "spark.sql.files.maxPartitionBytes"
    try {
      val base = Dedup.measureKeyLayout(spark, table, "pkey")._1
      // force every index file to split into many scan partitions: the
      // old per-split fold counted each split as a file and restarted a
      // run at each boundary, deflating the statistic toward 1 and
      // stamping borderline layouts 'pushed'
      spark.conf.set(mpb, "16384")
      val underSplits = Dedup.measureKeyLayout(spark, table, "pkey")._1
      assert(underSplits === base,
        s"runs/file must not depend on scan splitting: $underSplits vs $base")
      // the internal pin restores the session's own setting
      assert(spark.conf.get(mpb) === "16384")
    } finally {
      spark.conf.unset(mpb)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("an index keyed on an unordered type fails the stamp loudly " +
      "instead of measuring vacuous 'no descent evidence' (r15 verdict #6)") {
    import spark.implicits._
    val table = "pf_unordered"
    Seq((Seq(1L, 2L), "x"), (Seq(3L), "y")).toDF("arr_key", "v")
      .write.mode("overwrite").saveAsTable(table)
    try {
      val e = intercept[IllegalArgumentException] {
        Dedup.stampProbeStats(spark, table, "arr_key")
      }
      assert(e.getMessage.contains("arr_key"))
      assert(e.getMessage.contains(table))
      assert(e.getMessage.contains("array<bigint>"))
      // nothing was stamped: the optimistic 'pushed' verdict must not
      // exist for a layout parquet cannot page-prune
      assert(Dedup.gateProbeForm(spark, table).isEmpty)
    } finally spark.sql(s"DROP TABLE IF EXISTS $table"): Unit
  }

  test("direct pushed API inside a scoped stream keeps its documented " +
      "leave-raised behavior — scope-out must not clobber it (r15 advice #3)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.PipelineStreams.StreamDoc
    import spark.implicits._
    val table = "pf_direct_in_scope"
    Dedup.writeNgramIndexTable(spark, sf, table, 8)
    val key = "spark.sql.parquet.pushdown.inFilterThreshold"
    PipelineStreams.resetPushFloor(spark)
    spark.conf.set(key, "10")
    try {
      val input = MemoryStream[StreamDoc](spark)
      val q = PipelineStreams.ngramNearDupPushedWriter(
          spark, input.toDF(), table) { (df, _) =>
          df.collect(): Unit
          // a user mixing the forms: a DIRECT pushed probe fires on the
          // user's own thread while the writer's batch is in flight —
          // the advice's exact interleaving. Its raise must survive the
          // scope-out. (pushKeysIntoScan is the primitive every direct
          // *BatchPushed form raises through, driven with a non-empty
          // key set so the raise definitely happens; the separate
          // thread is what makes it a DIRECT raise rather than the
          // writer's own restorable one.)
          val t = new Thread(() =>
            PipelineStreams.pushKeysIntoScan(spark, spark.table(table),
              "pkey", Array[Any]("probe-key")).count(): Unit)
          t.start(); t.join()
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("pf_direct").toString)
        .start()
      try {
        val doc = graft.sources.Tables.load(spark, sf, "documents")
          .select("doc_id", "lang", "text").head()
        input.addData(StreamDoc(doc.getLong(0), doc.getString(1),
          doc.getString(2), new java.sql.Timestamp(0L)))
        q.processAllAvailable()
      } finally q.stop()
      // before the fix: scope-out restored the captured prior ("10"),
      // silently degrading the direct plan's pushed IN to parquet's
      // min/max-only FilterApi.in;
      // now the scope's recorded prior is rewritten by the direct raise
      assert(spark.conf.get(key).toInt > PipelineStreams.PushChunk,
        "direct raise was clobbered by the enclosing scope's restore")
    } finally {
      PipelineStreams.resetPushFloor(spark)
      spark.conf.unset(key)
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("spark.graft.pushdown.chunk is validated with an error naming the conf") {
    for (bogus <- Seq("abc", "0", "-5")) {
      spark.conf.set(PipelineStreams.PushChunkConf, bogus)
      try {
        val e = intercept[IllegalArgumentException] {
          PipelineStreams.configuredChunk(spark)
        }
        assert(e.getMessage.contains(PipelineStreams.PushChunkConf), bogus)
        assert(e.getMessage.contains(bogus))
      } finally spark.conf.unset(PipelineStreams.PushChunkConf)
    }
    assert(PipelineStreams.configuredChunk(spark) ===
      PipelineStreams.PushChunk)
  }
}
