package graft.streaming

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout,
  OutputMode, StreamingQueryListener}

import graft.operators.{Curation, TextAnalysis}

/** Streaming twins of the training-data-pipeline operators: the batch
  * dedup/sampling semantics applied to an unbounded document stream.
  *
  * Scale posture: exact dedup keeps ONE state entry per distinct content
  * hash inside the watermark horizon (state is bounded by time, not
  * stream length — the standard production shape for streaming dedup);
  * stratified sampling is a stateless per-row hash predicate after a
  * stream-static broadcast join, so it adds no state at all.
  */
object PipelineStreams {

  /** Kept for callers of the per-module teardown: releases every
    * artifact of `spark`, the gates' static base indices included
    * ([[graft.Artifacts.clear]]). */
  def clearCaches(spark: SparkSession): Unit = graft.Artifacts.clear(spark)

  /** Typed row for document streams (tests / MemoryStream drivers). */
  case class StreamDoc(doc_id: Long, lang: String, text: String,
                       event_ts: java.sql.Timestamp)

  /** Typed row for event streams (tests / MemoryStream drivers). */
  case class StreamEvent(event_id: Long, user_id: Long,
                         ts: java.sql.Timestamp, value: Double)

  /** Typed row for embedding streams (tests / MemoryStream drivers). */
  case class StreamVec(doc_id: Long, embedding: Array[Double])

  /** Streaming exact dedup: same content identity as the batch
    * `dedup_exact` (sha256 of the canonically normalized text), with
    * duplicates suppressed inside the event-time watermark horizon via
    * `dropDuplicatesWithinWatermark` — re-emission after the horizon is
    * the documented trade for bounded state (a batch `dedup_exact` pass
    * downstream reconciles the tail, the usual lambda-style split).
    *
    * `docs` must carry an `event_ts` timestamp column (used only to bound
    * state) plus `doc_id`/`text`. */
  def exactDedupStream(docs: DataFrame, horizon: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_hash", sha2(TextAnalysis.normText(col("text")), 256))
      .withWatermark("event_ts", horizon)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Streaming stratified sample: the deterministic hash-mod decision of
    * `Sampling.stratifiedSample` applied to a document stream. The rate
    * plan is computed ONCE from a reference corpus (a batch table — the
    * mix you are steering toward) and broadcast into the stream as a
    * stream-static join; the decision itself is the same salted md5
    * bucket predicate, so a document sampled in a re-run, a backfill, or
    * the batch path is sampled here too. */
  def stratifiedSampleStream(spark: SparkSession, docs: DataFrame,
                             planSfDir: String): DataFrame =
    graft.operators.Sampling.applySampleDecision(
      docs, graft.operators.Sampling.samplePlan(spark, planSfDir))

  /** Streaming quality gate: the batch `quality_filter` rules as a
    * stateless per-row predicate on a document stream — the ingest-time
    * shape (filter at the firehose, before anything is stored). Same
    * integer-exact thresholds and the same one-pass kernels as the batch
    * op, so a doc passes here iff it passes the batch filter. Emits the
    * rule flags so downstream can route rejects for audit instead of
    * dropping them. */
  def qualityFilterStream(docs: DataFrame): DataFrame =
    graft.operators.Curation.qualityFlags(docs)
      .withColumn("is_kept", col("pass_word_count") && col("pass_word_len") &&
        col("pass_stopword") && col("pass_repetition"))
      .drop("toks", "chars_only")

  /** Streaming schema-on-read: the `json_props_rollup` parse as an
    * ingest gate — each event's JSON payload is parsed ONCE with the
    * same DDL schema + PERMISSIVE corrupt-record column as the batch
    * query, and every row is tagged `ok` / `missing_key` / `bad` so the
    * sink can route dead letters instead of dropping them (the
    * dead-letter-queue shape). Stateless — no watermark, no state store;
    * the parse is a per-row transform at ingest speed, and at production
    * rates the only cost is the same per-row Jackson work the batch side
    * pays. */
  def jsonParseStream(events: DataFrame): DataFrame =
    events
      .withColumn("j", from_json(col("props"), "k LONG, _bad STRING",
        Map("columnNameOfCorruptRecord" -> "_bad")))
      .withColumn("parse_status",
        when(col("j._bad").isNotNull, lit("bad"))
          .when(col("j.k").isNull, lit("missing_key"))
          .otherwise(lit("ok")))
      .select(col("event_id"), col("event_type"), col("j.k").as("k"),
        col("parse_status"))

  /** Continuous heavy terms: the Misra-Gries sketch as a streaming
    * aggregation — per-language frequent tokens over an UNBOUNDED stream
    * with O(k) state per language, no watermark needed (that bounded
    * state is the entire point of sketching: the exact per-term count
    * would grow with the vocabulary forever). The mergeable-summaries
    * property is what makes the sketch legal here — each micro-batch's
    * partial summaries merge into the state-store buffer exactly like
    * map-side partials merge in batch, so the deterministic guarantee
    * (every term above N/(k+1) of the mass seen so far is present,
    * counts short by at most that threshold) holds at every emission.
    * Update mode: each batch re-emits the affected languages' current
    * sketch rows. */
  def heavyTermsStream(docs: DataFrame,
                       k: Int = graft.operators.TextAnalysis.HeavyK): DataFrame =
    docs
      .select(col("lang"),
        explode(graft.operators.TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy("lang")
      .agg(graft.functions.HeavyHitters.misra_gries(
        struct(col("term"), lit(1L)), k).as("sketch"))
      .select(col("lang"), explode(col("sketch")).as("e"))
      .select(col("lang"), col("e.term").as("term"), col("e.est").as("est"))

  /** Streaming TF-IDF featurization — the STATELESS form of the batch
    * `tfidf_vectors`: the D-row idf model (trained once on a base
    * corpus) ships as a literal array in the plan (D = 256 longs — the
    * bloom-gate trade), each incoming doc's tokens fold to buckets
    * in-row, and the feature summary is computed per ROW with no
    * aggregation, no state, no shuffle — featurization at ingest runs at
    * stream scan speed. Per-doc `nnz`/`l1_micro` equal the batch op's
    * exactly (Σ over tokens of the bucket idf ≡ Σ over buckets of
    * tf·idf; spec-pinned). */
  def tfidfFeatureStream(spark: SparkSession, docs: DataFrame,
                         baseSfDir: String): DataFrame = {
    import graft.operators.{Dedup, TextAnalysis}
    val idf = TextAnalysis.tfidfIdfArray(spark, baseSfDir)
    val idfCol = array(idf.map(lit(_)): _*)
    val toks = TextAnalysis.tokens(col("text"))
    val buckets = transform(toks,
      t => Dedup.hash32(t) % TextAnalysis.TfidfBuckets)
    docs.select(col("doc_id"),
      size(array_distinct(buckets)).cast("long").as("nnz"),
      aggregate(buckets, lit(0L),
        (acc, b) => acc + element_at(idfCol, (b + 1).cast("int")))
        .as("l1_micro"))
  }

  /** Streaming PII scrub: stateless per-row redaction with the batch
    * patterns and scrub order ([[graft.operators.Curation.scrubPii]]
    * applied to the raw `text` column) — the other mandatory ingest-time
    * gate. No state, no shuffle; runs at stream scan speed. */
  def piiScrubStream(docs: DataFrame): DataFrame =
    graft.operators.Curation.scrubPii(docs, "text")
      .drop("scrubbed")

  /** Streaming decontamination (report form): per-doc count of word
    * 5-grams shared with the eval holdout of a reference corpus. The
    * eval gram set is a batch table broadcast into the stream
    * (stream-static join, like the sample plan); the gram kernel and
    * hash are the batch op's, so a doc flagged in a backfill is flagged
    * here too. Uses the stream's one allowed aggregation (per-doc hit
    * count, update mode); for a stateless pass/drop gate use
    * [[decontaminateGateStream]]. */
  def decontaminateStream(spark: SparkSession, docs: DataFrame,
                          planSfDir: String): DataFrame = {
    import graft.operators.Curation._
    val evalGrams = graft.sources.Tables.load(spark, planSfDir, "documents")
      .filter(Curation.isEvalId(col("doc_id")))
      .select(explode(graft.functions.TextHashes.word_grams_hashed(
        TextAnalysis.tokens(col("text")), DecontamGramLen)).as("g"))
      .distinct()
    docs
      .select(col("doc_id"), explode(graft.functions.TextHashes
        .word_grams_hashed(TextAnalysis.tokens(col("text")),
          DecontamGramLen)).as("g"))
      .join(broadcast(evalGrams), Seq("g"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_eval_grams_hit"))
  }

  /** Streaming SEMANTIC decontamination: incoming (doc_id, embedding)
    * rows scored against the BROADCAST eval-holdout vectors of a
    * reference corpus with the batch op's sequential-fold cosine —
    * paraphrase-shaped eval leakage flagged at ingest time, where the
    * n-gram gate is blind. Same split rule, threshold, and arithmetic as
    * [[graft.operators.Curation.semanticDecontaminate]], so a vector
    * flagged in a backfill is flagged here too.
    *
    * Shape: stream-static broadcast join on a constant key (the
    * supported equi form of the |batch|·|eval| nested loop; the eval
    * side is a holdout sliver by construction) + the stream's one
    * aggregation (per-doc count/max, update mode). */
  def semanticDecontaminateStream(spark: SparkSession, vecs: DataFrame,
                                  planSfDir: String): DataFrame = {
    import graft.operators.Curation._
    import graft.functions.VectorOps
    val ev = graft.sources.Tables.load(spark, planSfDir, "embeddings")
      .filter(Curation.isEvalId(col("vec_id")))
      .select(col("embedding").cast("array<double>").as("qv"))
      .withColumn("qn2", VectorOps.norm2_seq(col("qv")))
      .withColumn("jk", lit(1))
    vecs
      .select(col("doc_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n2", VectorOps.norm2_seq(col("v")))
      .withColumn("jk", lit(1))
      // LEFT join (r17 lifecycle review #9): with an EMPTY eval holdout
      // (tiny/misconfigured corpus) an inner join emits zero rows — no
      // doc ever gets its is_clean decision and the pipeline silently
      // stalls. Left-preserved rows carry null cos → 0 hits → clean,
      // which is the correct answer against an empty holdout; with a
      // non-empty holdout every row matches jk=1 and the plan is
      // identical to the inner form.
      .join(broadcast(ev), Seq("jk"), "left")
      .withColumn("cos", VectorOps.dot_seq(col("v"), col("qv"))
        / (sqrt(col("n2")) * sqrt(col("qn2"))))
      .groupBy("doc_id")
      .agg(count(when(col("cos") >= SemDecontamCosine, lit(1)))
          .as("n_eval_sem_hits"),
        round(max(col("cos")), 6).as("max_eval_cos"))
      .withColumn("is_clean", col("n_eval_sem_hits") === 0)
  }

  /** Streaming EMBEDDING near-dup detection against a STATIC base corpus
    * — the vector-space member of the ingest-gate family (the
    * paraphrase-shaped dups [[simhashNearDupStream]]'s literal
    * fingerprints miss): each incoming vector is normalized and banded
    * with the SAME shared [[graft.operators.Similarity.nearDupBandKeys]]
    * frame as the batch `embedding_near_dup` (band count and the
    * adaptive planes-per-band derived from the BASE corpus size, fixed
    * at stream build), equi-joined stream-static against the base band
    * index, and exact-cosine-verified at the batch threshold.
    *
    * Output: (vec_id, n_collisions, max_cos, example_base_vec).
    * `n_collisions` counts (base vec, band) collision EVIDENCE — same
    * contract as [[simhashNearDupStream]] (distinct aggregation is
    * unsupported on streams); any row means "this vector has a base
    * near-dup", which is the gate decision.
    *
    * Scale: the static index is [[graft.operators.Similarity
    * .NearDupBands]] rows per base vector carrying the base vector once
    * per band (so the verify needs no second probe of the base); each
    * micro-batch probes the index equi on (band_j, bkey) — candidates ≈
    * bands·|batch|·target-bucket, never |batch|·|base|. */
  def embeddingNearDupStream(spark: SparkSession, vecs0: DataFrame,
                             baseSfDir: String): DataFrame = {
    import graft.operators.Similarity
    import graft.functions.VectorOps
    // accept the StreamVec shape (doc_id) or the embeddings-table shape
    val vecs = if (vecs0.columns.contains("vec_id")) vecs0
               else vecs0.withColumnRenamed("doc_id", "vec_id")
    val baseRaw = graft.sources.Tables.load(spark, baseSfDir, "embeddings")
    val planes = Similarity.nearDupPlanesPerBand(
      baseRaw.select(col("vec_id")).count())
    // persist-once: without it every micro-batch re-reads and re-hashes
    // the whole base corpus (stream-static joins re-execute the static
    // subtree per batch) — per-batch cost must be probe-sized, not
    // base-sized
    val base = graft.Artifacts.cached(
        spark, baseSfDir, "gate_band_index", "embeddings") {
      Similarity.nearDupBandKeys(Similarity.normVectors(baseRaw), planes)
        .select(col("vec_id").as("base_id"), col("v").as("bv"),
          col("n2").as("bn2"), col("band_j"), col("bkey"))
    }
    nearDupProbe(vecs, base, planes)
  }

  /** The shared probe: band the incoming vectors, equi-join the base
    * band index, cosine-verify, roll up per vec. One definition for the
    * in-memory and bucketed-table index variants. */
  private def nearDupProbe(vecs: DataFrame, base: DataFrame,
                           planes: Int): DataFrame = {
    import graft.operators.Similarity
    import graft.functions.VectorOps
    Similarity.nearDupBandKeys(Similarity.normVectors(vecs), planes)
      .join(base, Seq("band_j", "bkey"))
      .filter(col("vec_id") =!= col("base_id"))
      .withColumn("cos", VectorOps.dot_seq(col("v"), col("bv"))
        / (sqrt(col("n2")) * sqrt(col("bn2"))))
      .filter(col("cos") >= Similarity.NearDupCosine)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_collisions"),
        round(max("cos"), 6).as("max_cos"),
        min("base_id").as("example_base_vec"))
  }

  /** [[embeddingNearDupStream]] against a BUCKETED on-disk band index
    * ([[graft.operators.Similarity.writeBandIndexTable]]) — the layout
    * for a base corpus that outgrows executor memory: the static side
    * joins with no Exchange per micro-batch (bucketed on the join key;
    * only the batch itself shuffles, though the base side is still
    * sorted per batch — see [[graft.operators.Dedup]]'s gate index
    * writer), and the planes the index was banded with come from the
    * table property, so the probe cannot silently band differently from
    * the index. */
  def embeddingNearDupStreamIndexed(spark: SparkSession, vecs0: DataFrame,
                                    indexTable: String): DataFrame = {
    val vecs = if (vecs0.columns.contains("vec_id")) vecs0
               else vecs0.withColumnRenamed("doc_id", "vec_id")
    nearDupProbe(vecs, spark.table(indexTable),
      graft.operators.Similarity.bandIndexPlanes(spark, indexTable))
  }

  /** Streaming SimHash near-dup detection against a STATIC base corpus —
    * the ingest-time shape of `dedup_simhash_pairs` (the batch analog of
    * `incremental_dedup`'s near-dup layer, but with Hamming semantics):
    * each incoming doc is fingerprinted (narrow, the batch kernel),
    * exploded to its 20 block-triple keys, and equi-joined stream-static
    * against the base corpus's exploded key index; survivors of the
    * Hamming ≤ [[graft.operators.Dedup.SimHammingMax]] verify are rolled
    * up per doc (the stream's one allowed aggregation, update mode —
    * same trade as [[decontaminateStream]]).
    *
    * Output: (doc_id, n_collisions, example_base_doc). `n_collisions`
    * counts (base doc, block triple) collision EVIDENCE — a base doc
    * colliding on several triples counts several times (distinct
    * aggregation is unsupported on streams); any row at all means "this
    * doc has a near-dup in the base", which is the gate decision, and
    * the batch pair query gives exact multiplicities downstream.
    *
    * Scale: the static index is 20 rows per base doc; the join is equi on
    * (combo_j, combo_key), so each micro-batch probes, never scans, the
    * base. */
  def simhashNearDupStream(spark: SparkSession, docs: DataFrame,
                           baseSfDir: String): DataFrame = {
    import graft.operators.Dedup
    // persist-once (same rationale as embeddingNearDupStream): the base
    // fingerprint+block-key index computes once per (session, base), not
    // once per micro-batch — and the fingerprints themselves come from
    // the shared [[Dedup.cachedSimhash]] artifact (r11), so a session
    // running both the batch pair query and this gate pays the corpus
    // tokenize+hash pass ONCE, not once per surface
    val base = graft.Artifacts.cached(spark, baseSfDir, "gate_simhash_index")(
      Dedup.simhashGateIndex(spark, baseSfDir))
    simhashProbe(docs, base)
  }

  /** The shared SimHash probe: fingerprint + block-key the incoming
    * docs, equi-join the base index, Hamming-verify, roll up per doc.
    * One definition for the in-memory and bucketed-table variants. */
  private def simhashProbe(docs: DataFrame, base: DataFrame): DataFrame = {
    import graft.operators.Dedup
    Dedup.simhashBlockKeys(Dedup.withSimhash64(docs))
      .select(col("doc_id"), col("sh_lo"), col("sh_hi"),
        col("combo_j"), col("combo_key"))
      .join(base, Seq("combo_j", "combo_key"))
      .filter(Dedup.hamming64(col("sh_lo"), col("sh_hi"),
        col("base_lo"), col("base_hi")) <= Dedup.SimHammingMax)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_collisions"),
        min("base_id").as("example_base_doc"))
  }

  /** [[simhashNearDupStream]] against a BUCKETED on-disk block-key index
    * ([[graft.operators.Dedup.writeSimhashIndexTable]]) — the layout for
    * a base corpus that outgrows executor memory: no base-side Exchange
    * per micro-batch (paid at write time; the base side is still sorted
    * per batch), and the banding descriptor in the table properties
    * must match this build's constants, so a probe cannot block
    * differently from the index. */
  def simhashNearDupStreamIndexed(spark: SparkSession, docs: DataFrame,
                                  indexTable: String): DataFrame = {
    requireBanding(spark, indexTable, graft.operators.Dedup.SimhashBanding)
    simhashProbe(docs, spark.table(indexTable))
  }

  /** Fail fast when an index table was banded under different constants
    * than this probe build — a silent mismatch would band probes into
    * buckets the index never wrote, missing every collision. */
  private def requireBanding(spark: SparkSession, table: String,
                             expected: String): Unit = {
    val got = graft.operators.Dedup.gateIndexBanding(spark, table)
    require(got == expected,
      s"gate index '$table' was built with banding '$got' but this probe " +
        s"expects '$expected' — rebuild the index with the current build")
  }

  /** Streaming word-set MinHash near-dup detection against a STATIC
    * base corpus — the ingest-time shape of `dedup_minhash_pairs`,
    * closing the near-dup gate family (word sets / gram sets / simhash
    * bits / embeddings all have batch AND ingest forms). Incoming docs
    * are word-hashed with the batch kernels and banded with the SHARED
    * [[graft.operators.Dedup.bandsOf]]; the base index bands ONE
    * representative per distinct word set ([[graft.operators.Dedup
    * .wordSetIds]], the batch build's collapse rule) — copy clusters
    * hold one banded row set, and the flag decision is unchanged.
    * The batch size-ratio prune and the round-then-threshold Jaccard
    * verify are mirrored exactly.
    *
    * Output: (doc_id, n_collisions, max_jaccard, example_base_doc) —
    * the [[ngramNearDupStream]] contract. */
  def minhashNearDupStream(spark: SparkSession, docs: DataFrame,
                           baseSfDir: String): DataFrame = {
    import graft.operators.Dedup
    val base = graft.Artifacts.cached(spark, baseSfDir, "gate_minhash_index")(
      Dedup.minhashGateIndex(spark, baseSfDir))
    minhashProbe(docs, base)
  }

  /** The shared word-set MinHash probe: word-hash + band the incoming
    * docs, equi-join the base rep index, size-ratio prune,
    * Jaccard-verify, roll up per doc. One definition for the in-memory
    * and bucketed-table variants. */
  private def minhashProbe(docs: DataFrame, base: DataFrame): DataFrame = {
    import graft.operators.Dedup
    docs.select(col("doc_id"),
        array_distinct(TextAnalysis.tokens(col("text"))).as("ws"))
      .withColumn("hws", graft.functions.TextHashes.hash32_array(col("ws")))
      .withColumn("nw", size(col("hws")).cast("long"))
      .filter(col("nw") >= Dedup.MinWords)
      .select(col("doc_id"), col("nw"), col("hws"))
      .transform(Dedup.bandsOf(_))
      .join(base, Seq("band_j", "band_key"))
      .filter(least(col("nw"), col("base_nw")) * 10 >=
        greatest(col("nw"), col("base_nw")) * 9)
      .withColumn("jacc", round(graft.functions.TextHashes.jaccard_long(
        col("hws"), col("base_hws")), 6))
      .filter(col("jacc") >= Dedup.JaccardThreshold)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_collisions"),
        max("jacc").as("max_jaccard"),
        min("base_id").as("example_base_doc"))
  }

  /** [[minhashNearDupStream]] against a BUCKETED on-disk band index
    * ([[graft.operators.Dedup.writeMinhashIndexTable]]): no base-side
    * Exchange per micro-batch (the base side is still sorted per batch),
    * banding-descriptor-checked. */
  def minhashNearDupStreamIndexed(spark: SparkSession, docs: DataFrame,
                                  indexTable: String): DataFrame = {
    requireBanding(spark, indexTable, graft.operators.Dedup.MinhashBanding)
    minhashProbe(docs, spark.table(indexTable))
  }

  /** foreachBatch form of [[minhashNearDupStreamIndexed]]: catalog
    * resolution and the banding check are paid once at construction,
    * and each micro-batch's flag frame goes to `sink` (see
    * [[gateWriter]]). */
  def minhashNearDupWriter(spark: SparkSession, docs: DataFrame,
      indexTable: String)(sink: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] = {
    requireBanding(spark, indexTable, graft.operators.Dedup.MinhashBanding)
    val base = spark.table(indexTable)
    gateWriter(spark, docs, "minhash", sink)(minhashProbe(_, base))
  }

  /** Wire a per-batch gate probe as a streaming sink: each micro-batch's
    * probe frame goes to `sink` under the job description
    * `<gate> gate: sink write`, so a listener can tell the gate's jobs
    * apart. Returns the writer — the caller sets checkpoint/trigger and
    * starts. Note the contract shift vs the stream-static forms: flags
    * are PER BATCH (each doc decided once, when it arrives), not
    * cumulative update-mode state — the gate decision is the same, the
    * counts reset. */
  private def gateWriter(spark: SparkSession, docs: DataFrame, gate: String,
      sink: (DataFrame, Long) => Unit, broadcasts: Seq[Broadcast[_]] = Nil)(
      probe: DataFrame => DataFrame): DataStreamWriter[Row] = {
    // the queries this writer has run; a writer may be started again,
    // e.g. to resume from its checkpoint, so each query gets its own hook
    val queries = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    docs.writeStream.foreachBatch { (b: Dataset[Row], id: Long) =>
      val sc = spark.sparkContext
      val query = sc.getLocalProperty(StreamExecution.QUERY_ID_KEY)
      if (broadcasts.nonEmpty && query != null && queries.add(query))
        docs.sparkSession.streams.addListener(
          new UnpersistOnStop(docs.sparkSession, query, broadcasts))
      // restored afterwards: the streaming engine's per-batch description
      val prior = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"$gate gate: sink write")
      try sink(probe(b.toDF()), id) finally sc.setJobDescription(prior)
    }
  }

  /** When the query `query` terminates, drops the executors' copies of
    * `broadcasts` and removes itself. The driver keeps each value, so a
    * later query of the same writer re-sends it rather than failing;
    * the driver's copy goes when the writer is garbage-collected. */
  private final class UnpersistOnStop(spark: SparkSession, query: String,
      broadcasts: Seq[Broadcast[_]]) extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      if (e.id.toString == query) {
        broadcasts.foreach(_.unpersist(blocking = false))
        spark.streams.removeListener(this)
      }
  }

  /** Streaming char-3-gram Jaccard near-dup detection against a STATIC
    * base corpus — the ingest-time shape of `ngram_jaccard`, completing
    * the gate family (exact / simhash / embedding / line / span /
    * winnow-span / bloom / and now gram-set Jaccard). Each incoming doc
    * is gram-hashed with the batch kernels (narrow), banded with the
    * SHARED [[graft.operators.Dedup.ngramBandKeys]], and equi-joined
    * stream-static against the base corpus's banded REP index (the r11
    * collapse: base copies share one rep, so the index holds one banded
    * row set per distinct (lang, length, gram set) — the flag decision
    * is unchanged because a stream doc is a near-dup of a member iff it
    * is of the member's rep); survivors of the round-then-threshold
    * Jaccard verify (mirroring the batch rule exactly) roll up per doc.
    *
    * Output: (doc_id, n_collisions, max_jaccard, example_base_doc).
    * `n_collisions` counts (rep, band) collision EVIDENCE — same
    * contract as [[simhashNearDupStream]] (distinct aggregation is
    * unsupported on streams); any row means "this doc has a base
    * near-dup", the gate decision.
    *
    * Scale: the static index is ≤ NgramNumBands rows per distinct base
    * set, and the join is equi on (band_j, pkey). Every micro-batch still
    * reads the whole index: the stream-static join re-executes its
    * static side per batch (here a scan of the persisted index). The
    * foreachBatch writers ([[ngramNearDupWriter]],
    * [[curationIngestWriter]]) look a small index up instead. */
  def ngramNearDupStream(spark: SparkSession, docs: DataFrame,
                         baseSfDir: String): DataFrame = {
    import graft.operators.Dedup
    val base = graft.Artifacts.cached(spark, baseSfDir, "gate_ngram_index")(
      Dedup.ngramGateIndex(spark, baseSfDir))
    ngramProbe(docs, base)
  }

  /** The shared gram-set probe: gram-hash + band the incoming docs,
    * equi-join the base rep index on (band_j, pkey) — the (lang,
    * length) constraints ride INSIDE pkey
    * ([[graft.operators.Dedup.ngramProbeKey]]) so the join key set
    * matches the bucketed index layout exactly — Jaccard-verify, roll
    * up per doc. One definition for the in-memory and bucketed-table
    * variants. */
  private def ngramProbe(docs: DataFrame, base: DataFrame): DataFrame = {
    import graft.operators.Dedup
    withNgramGrams(docs.select(col("doc_id"), col("lang"), col("text")))
      .filter(col("n_chars_norm") >= Dedup.NgramMinChars)
      // hgs rides the band explode since r18 — rename, don't duplicate
      .transform(Dedup.ngramBandKeys(_))
      .withColumnRenamed("hgs", "stream_hgs")
      .withColumn("pkey", Dedup.ngramProbeKey(
        col("lang"), col("n_chars_norm"), col("band_key")))
      .join(base, Seq("band_j", "pkey"))
      .withColumn("jacc", round(graft.functions.TextHashes.jaccard_long(
        col("stream_hgs"), col("base_hgs")), 6))
      .filter(col("jacc") >= Dedup.NgramJaccardThreshold)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_collisions"),
        max("jacc").as("max_jaccard"),
        min("base_id").as("example_base_doc"))
  }

  /** Adds a doc's gram set as both n-gram gate forms read it: `ntext`,
    * the normalized text, `n_chars_norm`, its length, and `hgs`, its
    * distinct char-3-gram hashes. The docs [[ngramProbe]] and
    * [[withNgramNearDup]] compare are the ones this defines. Needs
    * `text`. */
  private def withNgramGrams(docs: DataFrame): DataFrame = {
    import graft.functions.TextHashes
    docs.withColumn("ntext", TextAnalysis.normText(col("text")))
      .withColumn("n_chars_norm", length(col("ntext")).cast("long"))
      .withColumn("hgs", TextHashes.hash32_array(
        TextHashes.char_grams_distinct(col("ntext"), 3)))
  }

  /** [[ngramNearDupStream]] against a BUCKETED on-disk band index
    * ([[graft.operators.Dedup.writeNgramIndexTable]]): no base-side
    * Exchange per micro-batch (the base side is still scanned and sorted
    * per batch), banding-descriptor-checked. */
  def ngramNearDupStreamIndexed(spark: SparkSession, docs: DataFrame,
                                indexTable: String): DataFrame = {
    requireBanding(spark, indexTable, graft.operators.Dedup.NgramBanding)
    ngramProbe(docs, spark.table(indexTable))
  }

  /** foreachBatch form of [[ngramNearDupStreamIndexed]], with the same
    * output: (doc_id, n_collisions, max_jaccard, example_base_doc) per
    * flagged doc. The index is sized once, at construction
    * ([[ngramIndex]]). An index under the broadcast threshold is
    * collected into a broadcast band map and each micro-batch is one
    * projection: a per-doc lookup that neither joins, shuffles nor reads
    * the index ([[withNgramNearDup]]). A larger index keeps the bucketed
    * join.
    *
    * The sink sees the batch's partitioning: in the lookup form, one
    * partition per stream source partition, as any narrow streaming
    * query; in the join form, the shuffle's (one, for a small batch). A
    * file sink therefore writes a file per source partition per batch
    * in the lookup form.
    * The sink job is named `ngram gate: sink write` ([[gateWriter]]). */
  def ngramNearDupWriter(spark: SparkSession, docs: DataFrame,
      indexTable: String)(sink: (DataFrame, Long) => Unit)
      : DataStreamWriter[Row] = {
    requireBanding(spark, indexTable, graft.operators.Dedup.NgramBanding)
    val index = ngramIndex(spark, spark.table(indexTable))
    gateWriter(spark, docs, "ngram", sink, index.lookup.toSeq) { b =>
      index.lookup match {
        // the filter sits above a one-element explode: pushed down through
        // the projections, it would evaluate the hashing and the lookup a
        // second time
        case Some(bands) =>
          withNgramNearDup(b, bands)
            .select(col("doc_id"), explode(array(col("near"))).as("near"))
            .filter(col("near").isNotNull)
            .select(col("doc_id"), col("near.*"))
        case None => ngramProbe(b, index.base)
      }
    }
  }

  /** An n-gram gate index as a writer probes it: the table's frame, and
    * its broadcast band map when the index fits under
    * `spark.sql.autoBroadcastJoinThreshold` (else the bucketed join). */
  private final case class NgramIndex(base: DataFrame,
      lookup: Option[Broadcast[graft.functions.TextHashes.NgramBandMap]])

  /** Sizes `base` by the test the planner uses to broadcast a join side:
    * its optimized-plan `sizeInBytes` against
    * `spark.sql.autoBroadcastJoinThreshold`. For an index table that is
    * the bytes of its files on disk (compressed parquet), not the size
    * of the map the driver builds from it, which is usually larger, as
    * the planner's hashed relation usually is than its file scan. The
    * collect is bounded by `spark.driver.maxResultSize`, as a broadcast
    * join's is. */
  private def ngramIndex(spark: SparkSession, base: DataFrame): NgramIndex = {
    val size = base.queryExecution.optimizedPlan.stats.sizeInBytes
    NgramIndex(base,
      if (size > spark.sessionState.conf.autoBroadcastJoinThreshold) None
      else Some(spark.sparkContext.broadcast(
        graft.operators.Dedup.ngramBandMap(base))))
  }

  /** Adds `near`, a doc's n-gram near-dup evidence from a broadcast band
    * map: (n_collisions, max_jaccard, example_base_doc), or null where
    * [[ngramProbe]] would emit no row. The doc is normalized, gram-hashed
    * and banded by the same Column code the join form explodes, and
    * [[graft.functions.TextHashes.NgramNearDup]] verifies its candidates
    * with the join form's rounded-Jaccard rule. Needs `lang` and `text`;
    * any `ntext`, `n_chars_norm` or `hgs` the frame has is replaced and
    * dropped. */
  private def withNgramNearDup(docs: DataFrame,
      bands: Broadcast[graft.functions.TextHashes.NgramBandMap]): DataFrame = {
    import graft.operators.Dedup
    import graft.functions.TextHashes
    // one column per stage, as ngramProbe's, so each is computed once
    withNgramGrams(docs)
      .withColumn("ng_sigs", Dedup.ngramSigs(col("hgs")))
      .withColumn("near", when(col("n_chars_norm") >= Dedup.NgramMinChars,
        TextHashes.ngram_near_dup(
          Dedup.ngramProbeKeys(col("lang"), col("n_chars_norm"),
            col("ng_sigs")),
          col("hgs"), bands, Dedup.NgramJaccardThreshold)))
      .drop("ntext", "n_chars_norm", "hgs", "ng_sigs")
  }

  /** Streaming line (span) dedup against a STATIC base corpus — the
    * ingest-time shape of the batch `line_dedup`: boilerplate chunks are
    * learned ONCE from the base corpus (chunks shared by ≥
    * [[graft.operators.Curation.LineDupMinDocs]] base docs), and every
    * incoming doc's chunks are scrubbed against that set. Chunks
    * equi-join on their md5 hash (stream-static, the static side is the
    * boilerplate sliver); the per-doc rebuild is the stream's one
    * allowed aggregation (update mode), reassembling surviving chunks in
    * order exactly like the batch op, so `kept_hash` here equals the
    * batch `kept_hash` for the same text whenever the base corpus's
    * boilerplate set contains the corpus-wide duplicates.
    *
    * Chunks NEW in the stream are not deduped against each other (that
    * would need unbounded chunk state); the batch pass downstream
    * reconciles stream-vs-stream spans — the same lambda split as
    * [[exactDedupStream]]'s horizon trade. */
  def lineDedupStream(spark: SparkSession, docs: DataFrame,
                      baseSfDir: String): DataFrame = {
    import graft.operators.Curation
    // persist-once: the boilerplate SLIVER is small, but learning it
    // re-chunks the whole base corpus — that must happen once per
    // (session, base), not once per micro-batch
    val boiler = graft.Artifacts.cached(spark, baseSfDir, "gate_boiler_sliver") {
      Curation.chunkFrame(
          graft.sources.Tables.load(spark, baseSfDir, "documents")
            .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks")))
        .groupBy("h").agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= Curation.LineDupMinDocs)
        .select("h")
    }
    Curation.rebuildKept(
        Curation.chunkFrame(docs.select(col("doc_id"),
            TextAnalysis.tokens(col("text")).as("toks")))
          .join(broadcast(boiler), Seq("h"), "left_anti"))
      .select(col("doc_id"), col("n_kept_chunks"),
        Curation.keptWords(col("kept_text")).as("n_kept_words"),
        md5(col("kept_text")).as("kept_hash"))
  }

  /** Streaming exact-substring (span) detection against a STATIC base
    * corpus — the ingest-time shape of the batch `span_dedup`: flags any
    * incoming doc that shares a run of ≥
    * [[graft.operators.Curation.SpanWindowWords]] tokens with ANY base
    * document at ANY alignment (the near-copy / contamination check
    * line-grid dedup misses when the shared run straddles shifted chunk
    * boundaries). The base's sliding-window hash index is learned ONCE
    * per (session, base) — distinct window hash → representative base
    * doc — and each micro-batch's docs explode to their own windows and
    * equi-join it on the 32-byte hash.
    *
    * Output: (doc_id, n_windows, n_dup_windows, first_pos, last_pos,
    * example_base_doc). Maximal-span merging (gaps-and-islands) needs a
    * sort-based window function, which streaming aggregation cannot
    * express — the gate reports window counts and the matched extent,
    * which is the keep/drop evidence; the batch `span_dedup` downstream
    * gives exact span geometry. Stream-vs-stream shared runs are
    * likewise the batch pass's job (the same lambda split as
    * [[exactDedupStream]]).
    *
    * Scale: the index is one row per DISTINCT base window hash — the
    * largest static index in the gate family (corpus-token-sized, the
    * reason it is persist-once and joined, never broadcast); the join is
    * equi on `h`, so each micro-batch probes, never scans, the base. */
  def spanDedupStream(spark: SparkSession, docs: DataFrame,
                      baseSfDir: String): DataFrame = {
    import graft.operators.Curation
    val base = graft.Artifacts.cached(spark, baseSfDir, "gate_span_index") {
      Curation.spanWindows(
          graft.sources.Tables.load(spark, baseSfDir, "documents")
            .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks")))
        .groupBy("h").agg(min("doc_id").as("base_id"))
    }
    spanProbe(docs, base)
  }

  /** [[spanDedupStream]] against a DISK-resident base index written by
    * [[graft.operators.Curation.writeSpanIndexTable]] — the layout for a
    * base corpus whose window-hash index outgrows executor memory (it is
    * the LARGEST static index in the gate family: one row per distinct
    * base window hash ≈ one per base token). The table is bucketed on
    * `h`, so the per-micro-batch probe joins it with NO Exchange on the
    * base side — the index shuffle was paid once at write time; only the
    * batch shuffles. No table property is needed (unlike the band
    * index's adaptive plane count, the window width is the compile-time
    * [[graft.operators.Curation.SpanWindowWords]], shared by index
    * writer and probe by construction). */
  def spanDedupStreamIndexed(spark: SparkSession, docs: DataFrame,
                             indexTable: String): DataFrame =
    spanProbe(docs, spark.table(indexTable))

  /** WINNOWED span gate — the 100 TB form of [[spanDedupStream]]: both
    * the base index and the incoming docs select winnowed fingerprints
    * (minimum over every [[graft.operators.Curation.WinnowK]]
    * consecutive window hashes), so the static index carries
    * ~2/(K+1) of the full gate's rows and each micro-batch explodes
    * ~2/(K+1) of its window count — at the documented cost of the
    * detection floor rising from W to W+K−1 shared tokens (shorter
    * shared runs may not surface; the winnowing guarantee makes
    * ≥ W+K−1 certain at any alignment). Output per flagged doc:
    * (doc_id, n_windows, n_fp, n_dup_fp, example_base_doc). */
  def spanDedupStreamWinnow(spark: SparkSession, docs: DataFrame,
                            baseSfDir: String): DataFrame = {
    import graft.operators.Curation
    val base = graft.Artifacts.cached(
        spark, baseSfDir, "gate_span_winnow_index") {
      Curation.winnowFingerprints(
          graft.sources.Tables.load(spark, baseSfDir, "documents")
            .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks")))
        .select(col("doc_id"), explode(col("fps")).as("f"))
        .groupBy("f").agg(min("doc_id").as("base_id"))
    }
    winnowProbe(docs, base)
  }

  /** [[spanDedupStreamWinnow]] against the DISK-resident bucketed index
    * written by
    * [[graft.operators.Curation.writeSpanWinnowIndexTable]] — the
    * layout for a base whose WINNOWED fingerprint set still outgrows
    * executor memory. Bucketed+sorted on `f`: probes join with no
    * Exchange on the base side (plan-asserted in StreamGateScaleSpec);
    * the base side is still sorted per batch, since Spark's bucketed
    * scan reports no ordering for a bucket spread over several files. */
  def spanDedupStreamWinnowIndexed(spark: SparkSession, docs: DataFrame,
                                   indexTable: String): DataFrame =
    winnowProbe(docs, spark.table(indexTable))

  /** Shared probe body of the winnowed span-gate variants: per-doc
    * winnowed fingerprints in-row (the compiled
    * [[graft.functions.TextHashes.WinnowFps]] kernel), exploded with
    * the per-doc counts carried through (a post-explode self-join
    * would be an unsupported stream-stream join), equi-joined to the
    * base fingerprint index, rolled up per doc. */
  private def winnowProbe(docs: DataFrame, base: DataFrame): DataFrame = {
    import graft.operators.Curation
    val fp = Curation.winnowFingerprints(
      docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks")))
    fp
      .select(col("doc_id"), col("n_windows"),
        size(col("fps")).cast("long").as("n_fp"),
        explode(col("fps")).as("f"))
      .join(base, Seq("f"))
      .groupBy("doc_id")
      .agg(max("n_windows").as("n_windows"), max("n_fp").as("n_fp"),
        count(lit(1)).as("n_dup_fp"),
        min("base_id").as("example_base_doc"))
  }

  /** Shared probe body of the two span-gate variants: explode the
    * incoming docs' sliding windows (per-doc n_windows carried through
    * the explode — a post-explode self-join would be an unsupported
    * stream-stream join), equi-join the base index on `h`, roll up per
    * doc. */
  private def spanProbe(docs: DataFrame, base: DataFrame): DataFrame = {
    import graft.operators.Curation
    val W = Curation.SpanWindowWords
    // tokenize in its OWN projection, then derive n_windows from the
    // bound column — one regex split per row by construction, not by
    // grace of codegen subexpression elimination (round-9 advice)
    val toks = docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        greatest(size(col("toks")) - (W - 1), lit(0))
          .cast("long").as("n_windows"),
        col("toks"))
    Curation.spanWindows(toks)
      .join(base, Seq("h"))
      .groupBy("doc_id")
      .agg(max("n_windows").as("n_windows"),
        count(lit(1)).as("n_dup_windows"),
        min("pos").as("first_pos"), max("pos").as("last_pos"),
        min("base_id").as("example_base_doc"))
  }

  /** Hard cap on the eval gram literal [[decontaminateGateStream]] will
    * embed in its plan: 1M longs ≈ 8 MB — the most a per-row literal-set
    * probe should ever carry. Above it the gate refuses and points the
    * caller at the join-based [[decontaminateStream]]. */
  val GateMaxEvalGrams: Int = 1000000

  /** The gate form of decontamination: pass through only stream docs with
    * NO eval-gram overlap. The eval holdout is benchmark-sized by
    * construction, so its gram hashes are collected ONCE at query
    * construction and checked per row (`arrays_overlap` against a
    * literal set) — fully stateless, append-mode, no join and no
    * aggregation state in the stream at all. Guarded: a holdout whose
    * gram set exceeds [[GateMaxEvalGrams]] would make every row scan a
    * multi-MB plan literal, so the gate fails fast with a pointer to the
    * broadcast-join form instead of silently degrading. */
  def decontaminateGateStream(spark: SparkSession, docs: DataFrame,
                              planSfDir: String,
                              maxEvalGrams: Int = GateMaxEvalGrams): DataFrame = {
    import spark.implicits._
    import graft.operators.Curation._
    val evalGrams: Array[Long] =
      graft.sources.Tables.load(spark, planSfDir, "documents")
        .filter(Curation.isEvalId(col("doc_id")))
        .select(explode(graft.functions.TextHashes.word_grams_hashed(
          TextAnalysis.tokens(col("text")), DecontamGramLen)).as("g"))
        .distinct().limit(maxEvalGrams + 1).as[Long].collect()
    require(evalGrams.length <= maxEvalGrams,
      s"decontaminateGateStream: eval holdout produced more than " +
        s"$maxEvalGrams distinct gram hashes; embedding that as a plan " +
        s"literal would bloat every task. Use decontaminateStream " +
        s"(broadcast-join form) for large holdouts.")
    docs
      .withColumn("hg", graft.functions.TextHashes.word_grams_hashed(
        TextAnalysis.tokens(col("text")), DecontamGramLen))
      .filter(!arrays_overlap(col("hg"),
        typedLit(evalGrams.toSeq)))
      .drop("hg")
  }

  /** Streaming bigram-LM quality scoring against a model trained ONCE on
    * a static reference corpus ([[graft.operators.LangModel.lmModel]]) —
    * the CCNet shape: the LM is fit to the corpus you trust, the stream
    * is the corpus you're filtering. Incoming docs explode to bigram
    * occurrences, stream-static join the (broadcast, bigram-type-sized)
    * model, and roll up per doc (the stream's one allowed aggregation,
    * update mode — same trade as [[decontaminateStream]]).
    *
    * Bigrams the reference model never saw score the flat
    * [[OovMicroNats]] penalty (a left join's null), so novel-transition
    * word salad is pushed below the pass threshold instead of silently
    * dropped from the sum. Flags use the same integer-exact threshold as
    * the batch op. */
  val OovMicroNats: Long = -10000000L // -10 nats, well below any MLE bigram

  def lmScoreStream(spark: SparkSession, docs: DataFrame,
                    modelSfDir: String): DataFrame = {
    import graft.operators.LangModel
    val lp = LangModel.lmModel(spark, modelSfDir)
    val toks = docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val scored = toks
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(LangModel.bigramsOf(col("toks"))).as("bg"))
      .join(broadcast(lp), Seq("bg"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("lp_micro"), lit(OovMicroNats))).as("lm_micro_sum"))
    // Sub-bigram docs have no transitions to score: route them around
    // the rollup with an explicit decision row (n_bigrams = 0 →
    // pass_lm = false, the conservative gate answer) instead of letting
    // the explode swallow them — an ingest gate must emit a decision
    // for EVERY doc (round-7 advice, already enforced by
    // [[importanceWeightStream]] below; r17 lifecycle review #7).
    val short = toks
      .filter(size(col("toks")) < 2)
      .select(col("doc_id"), lit(0L).as("n_bigrams"),
        lit(0L).as("lm_micro_sum"))
    scored.unionByName(short)
      .withColumn("pass_lm", col("n_bigrams") > 0 &&
        col("lm_micro_sum") >= lit(LangModel.PassAvgMicroNats) * col("n_bigrams"))
  }

  /** Salt for the streaming DSIR Bernoulli draw — distinct from the
    * batch Gumbel salt so the two draws are uncorrelated. */
  val DsirStreamSalt = "dsir_stream|"

  /** Streaming DSIR importance weighting: score incoming documents
    * against the ratio table trained ONCE on the base corpus
    * ([[graft.operators.Sampling.dsirRatioTable]], bucket-bounded and
    * broadcast) — train-once, score-forever, the deployment shape of
    * importance resampling. Each doc gets its integer micro-nat log
    * importance weight plus a deterministic KEEP decision.
    *
    * The batch op's Gumbel TOP-K needs the whole corpus; a stream keeps
    * each doc independently with probability min(1, e^w) instead —
    * Bernoulli importance sampling, decided integer-exactly as
    * w_micro > floor(ln(u)·10⁶) with u from a salted hash (u < e^w ⟺
    * ln u < w; target-typical docs with w ≥ 0 always pass, off-target
    * docs pass with exponentially-decaying probability). Features absent
    * from the trained table (hash buckets unseen in the base corpus —
    * vanishingly rare at scale since the table saturates its
    * [[graft.operators.Sampling.DsirBuckets]] buckets) carry no
    * evidence: lr coalesces to 0, unlike the LM stream's OOV penalty,
    * because an unseen BUCKET is a hashing artifact, not a fluency
    * signal. Stateless per doc after the groupBy rollup. */
  def importanceWeightStream(spark: SparkSession, docs: DataFrame,
                             modelSfDir: String): DataFrame = {
    import graft.operators.{Sampling, Dedup, LangModel}
    val lr = Sampling.dsirRatioTable(spark, modelSfDir)
    val toks = docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val scored = toks
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        explode(LangModel.bigramsOf(col("toks"))).as("bg"))
      .select(col("doc_id"),
        (Dedup.hash32(col("bg")) % Sampling.DsirBuckets).as("f"))
      .join(broadcast(lr), Seq("f"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"),
        sum(coalesce(col("lr_micro"), lit(0L))).as("w_micro"))
    // Sub-bigram docs carry no evidence, same as unseen buckets: w = 0,
    // which the Bernoulli rule always keeps — matching the batch DSIR
    // w_micro=0 semantics. Routed around the rollup (the bigram explode
    // would drop them entirely — round-7 advice: an ingest gate must emit
    // a decision for EVERY doc, not silently swallow short ones).
    val short = toks
      .filter(size(col("toks")) < 2)
      .select(col("doc_id"), lit(0L).as("n_feats"), lit(0L).as("w_micro"))
    scored.unionByName(short)
      .withColumn("ln_u_micro",
        floor(log((Dedup.hash32(concat(lit(DsirStreamSalt), col("doc_id")))
            .cast("double") + 0.5d) / 4294967296.0d) * LangModel.LmMicro)
          .cast("long"))
      .withColumn("keep", col("w_micro") > col("ln_u_micro"))
  }

  /** Hard cap on the bloom literal [[bloomGateStream]] embeds (the shared
    * [[graft.operators.Curation.MaxBloomBytes]]): 32 MB of filter bits
    * covers ~27M base keys at the 1% default fpp. Above it the gate
    * refuses and points at the stream-static join form
    * ([[simhashNearDupStream]]-style exact probe) — a bigger literal
    * would bloat every task binary. */
  val GateMaxBloomBytes: Int = graft.operators.Curation.MaxBloomBytes

  /** Streaming ingest dedup gate: flag stream docs whose canonical
    * bag-of-words hash ([[graft.operators.Curation.wordSetHash]]) is
    * PROBABLY already in the accepted base corpus. The base's key set is
    * folded once into a bloom filter and checked per row with Catalyst's
    * `BloomFilterMightContain` — fully stateless, append-mode, no join
    * and no state in the stream at all.
    *
    * The bloom answers "maybe" with ~[[graft.operators.Curation.BloomFpp]]
    * false positives, so the gate EMITS `maybe_dup` rather than dropping:
    * route flagged docs to the exact downstream check (the batch
    * [[graft.operators.Curation.bloomDedup]] confirms against the real
    * key table); pass-through docs are definitively clean (a bloom never
    * false-negatives). */
  def bloomGateStream(spark: SparkSession, docs: DataFrame,
                      baseSfDir: String,
                      maxBloomBytes: Int = GateMaxBloomBytes): DataFrame = {
    import graft.operators.Curation
    val baseKeys = graft.sources.Tables.load(spark, baseSfDir, "documents")
      .select(Curation.wordSetHash(col("text")).as("th"))
    // shared construction (Curation.bloomLiteral) — one home for the
    // serialize-and-wrap logic and the literal-size refusal; the probe
    // Column references `th` unresolved, so it binds to the stream frame
    Curation.bloomLiteral(baseKeys, "th", maxBloomBytes) match {
      case None => docs.withColumn("maybe_dup", lit(false))
      case Some(probe) =>
        docs.withColumn("th", Curation.wordSetHash(col("text")))
          .withColumn("maybe_dup", probe)
          .drop("th")
    }
  }

  /** Streaming sessionization: the batch `sessionize` 30-minute
    * inactivity gap applied to a live event stream via Spark's NATIVE
    * `session_window` (merging session state, watermark-bounded — the
    * engine evicts a session once the watermark passes its close, so
    * state is inactivity-bounded, not stream-length-bounded). Emits one
    * row per CLOSED session in append mode — the batch query reports
    * per-user totals; this emits each session as it finalizes. */
  def sessionizeStream(events: DataFrame, gap: String = "30 minutes",
                       watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum("value").as("session_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("session_value"))

  /** Live rate-anomaly gate: hourly event counts on the stream flagged
    * against HISTORICAL per-type moments (the batch
    * [[graft.operators.Relational.hourlyMoments]] table, broadcast) with
    * the same integer-exact z-test as the batch `hourly_anomalies` —
    * the monitor's push form (the numeric sibling of the reference's
    * threshold alerts, `monitor.rs:54-85`): traffic spikes/drops surface
    * as each live hour's count updates, without rescanning history.
    *
    * State: one windowed count per (type, open hour), watermark-evicted;
    * the moments side is a K-row broadcast. Update mode (counts refine
    * until the watermark closes the hour). */
  def anomalyGateStream(spark: SparkSession, events: DataFrame,
                        historySfDir: String,
                        watermark: String = "10 minutes"): DataFrame = {
    import graft.operators.Relational
    val moments = Relational.hourlyMoments(spark, historySfDir)
    events
      .withWatermark("ts", watermark)
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"))
      // LEFT join: an event type with NO history is the most anomalous
      // traffic there is — an inner join would silently drop it
      .join(broadcast(moments), Seq("event_type"), "left")
      .select(col("event_type"), col("window.start").as("hour"),
        col("n_events"),
        when(col("n_hours").isNull, lit(true))
          .otherwise(Relational.anomalyFlag(col("n_events"), col("n_hours"),
            col("s"), col("q"))).as("is_anomaly"))
  }

  /** Streaming funnel: the batch `event_funnel` state machine as
    * arbitrary stateful processing (`flatMapGroupsWithState`, the
    * `KeyValueGroupedDataset` custom-state surface) — per-user state is
    * (stage, last-step ts, anchor ts), and a row is EMITTED the moment a
    * user advances a stage, so the downstream sees conversions live
    * instead of recounting the corpus.
    *
    * Same rules as the batch fold: strict chronological order between
    * steps, every step within [[graft.operators.Relational.FunnelWindow]]
    * of the first signup. Events are sorted within each micro-batch;
    * CROSS-batch out-of-order arrival is the documented trade (per-user
    * event time is near-monotone at the source, and the batch funnel
    * reconciles exactly — the usual lambda split). State is
    * update-forever by default; pair with an idle timeout upstream if
    * user cardinality is unbounded. */
  case class FunnelEvent(event_id: Long, user_id: Long,
                         ts: java.sql.Timestamp, event_type: String)
  case class FunnelState(stage: Int, t: Long, t1: Long)
  case class FunnelHit(user_id: Long, step_idx: Int, step: String,
                       ts: java.sql.Timestamp)

  def funnelStream(events: Dataset[FunnelEvent]): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    import graft.operators.Relational.FunnelSteps
    val windowMs = graft.operators.Relational.FunnelWindowMs
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user, rows, state) =>
          var st = state.getOption.getOrElse(FunnelState(0, 0L, 0L))
          val hits = scala.collection.mutable.ArrayBuffer.empty[FunnelHit]
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val ts = e.ts.getTime
            if (st.stage < FunnelSteps.length &&
                e.event_type == FunnelSteps(st.stage) &&
                (st.stage == 0 || (ts > st.t && ts <= st.t1 + windowMs))) {
              val anchor = if (st.stage == 0) ts else st.t1
              st = FunnelState(st.stage + 1, ts, anchor)
              hits += FunnelHit(user, st.stage,
                FunnelSteps(st.stage - 1), e.ts)
            }
          }
          state.update(st)
          hits.iterator
      }
  }

  /** Stream-stream click→purchase attribution: purchases join clicks of
    * the SAME user whose event time falls in the [[attributionHorizon]]
    * before the purchase — Spark's watermarked interval join, the
    * streaming shape of the batch `asof_click_purchase`. Both sides need
    * event-time columns; watermarks bound the join state (clicks are
    * retained only while a matching purchase could still arrive).
    *
    * Emits ALL candidate (purchase, click) attributions in the window —
    * a stream-stream join cannot pick "the latest" without a second
    * (update-mode) max_by rollup downstream, while the batch as-of query
    * answers exact last-click attribution; this emits the evidence
    * stream. */
  def clickAttributionStream(clicks: DataFrame, purchases: DataFrame,
                             attributionHorizon: String = "1 hour",
                             watermark: String = "10 minutes"): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"), col("value").as("click_value"))
      .withWatermark("click_ts", watermark)
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    p.join(c,
      col("c_user") === col("user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $attributionHorizon"))
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        (unix_millis(col("purchase_ts")) - unix_millis(col("click_ts")))
          .as("ms_since_click"), col("click_value"))
  }

  /** Composite INGEST-TIME curation gate — the production firehose
    * shape, composing this library's streaming gates into the batch
    * [[graft.operators.Curation.curateCorpus]] decision chain per
    * micro-batch (foreachBatch):
    *
    *  1. eval-holdout check (the same deterministic doc-id hash as the
    *     batch ops — a contaminated doc must never reach training),
    *  2. quality rules (the stateless batch kernels, integer-exact),
    *  3. exact-dup evidence vs the base corpus (broadcast Bloom over
    *     the base word-set hashes, built ONCE at construction —
    *     `maybe_dup`, FPR-bounded),
    *  4. near-dup evidence vs the base corpus. The n-gram index is sized
    *     once, at construction, as in [[ngramNearDupWriter]]: under
    *     `spark.sql.autoBroadcastJoinThreshold` it becomes a broadcast
    *     band map, and the whole micro-batch is one projection that
    *     reads the batch once and never the index. Above it, the batch's
    *     band rows join the bucketed index (no base-side Exchange, but
    *     every batch scans and sorts the index) and the evidence joins
    *     back on `doc_id`. As in [[ngramNearDupWriter]], the sink sees
    *     one partition per source partition in the lookup form and the
    *     shuffle's in the join form.
    *
    * Output per doc: the evidence flags + the first-match
    * `drop_reason` ('eval_holdout' > 'quality' > 'duplicate' >
    * 'near_duplicate' > 'kept') — curateCorpus's precedence over the
    * evidence available at ingest. Sampling and n-gram eval
    * decontamination stay downstream in the batch pass (their plans
    * need corpus-wide state) — the standard lambda split every gate in
    * this file documents. */
  def curationIngestWriter(spark: SparkSession, docs: DataFrame,
      ngramIndexTable: String, baseSfDir: String,
      maxBloomBytes: Int = GateMaxBloomBytes)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    import graft.operators.Curation
    requireBanding(spark, ngramIndexTable, graft.operators.Dedup.NgramBanding)
    // built ONCE at construction: the n-gram index's probe form, and the
    // base corpus's Bloom literal
    val index = ngramIndex(spark, spark.table(ngramIndexTable))
    val baseKeys = graft.sources.Tables.load(spark, baseSfDir, "documents")
      .select(Curation.wordSetHash(col("text")).as("th"))
    val bloomProbe = Curation.bloomLiteral(baseKeys, "th", maxBloomBytes)
    gateWriter(spark, docs, "curation", sink, index.lookup.toSeq)(
      curationIngest(_, index, bloomProbe))
  }

  /** One micro-batch of [[curationIngestWriter]] — split out so specs
    * can drive it as a plain batch function. Each call sizes `ngramBase`
    * (and collects it when it is small), as the writer does once. The
    * frame is lazy and may run any number of times, so the call's band
    * map broadcast is left to the context cleaner, which drops it once
    * the frame is unreachable. `pushed`
    * has no effect: the benchmark's ingest check is its only caller that
    * passes it, and the next change to the benchmark drops the argument. */
  private[graft] def curationIngestBatch(
      spark: SparkSession, batch: DataFrame, ngramBase: DataFrame,
      bloomProbe: Option[Column], pushed: Boolean = false): DataFrame =
    curationIngest(batch, ngramIndex(spark, ngramBase), bloomProbe)

  private def curationIngest(batch: DataFrame, index: NgramIndex,
                             bloomProbe: Option[Column]): DataFrame = {
    import graft.operators.Curation
    val flagged = Curation.qualityFlags(batch)
      .withColumn("pass_quality", col("pass_word_count") &&
        col("pass_word_len") && col("pass_stopword") &&
        col("pass_repetition"))
      .withColumn("is_eval", Curation.isEvalId(col("doc_id")))
      .drop("toks", "chars_only")
    val withDup = bloomProbe match {
      case None => flagged.withColumn("maybe_dup", lit(false))
      case Some(p) => flagged
        .withColumn("th", Curation.wordSetHash(col("text")))
        .withColumn("maybe_dup", p)
        .drop("th")
    }
    val withNear = index.lookup match {
      case Some(bands) => withNgramNearDup(withDup, bands)
        .withColumn("is_near_dup", col("near").isNotNull)
        .withColumn("max_jaccard", col("near.max_jaccard"))
        .withColumn("example_base_doc", col("near.example_base_doc"))
      case None =>
        val near = ngramProbe(batch, index.base).select(col("doc_id"),
          lit(true).as("near_flag"), col("max_jaccard"),
          col("example_base_doc"))
        withDup.join(near, Seq("doc_id"), "left")
          .withColumn("is_near_dup", coalesce(col("near_flag"), lit(false)))
    }
    withNear
      .withColumn("drop_reason",
        when(col("is_eval"), lit("eval_holdout"))
          .when(!col("pass_quality"), lit("quality"))
          .when(col("maybe_dup"), lit("duplicate"))
          .when(col("is_near_dup"), lit("near_duplicate"))
          .otherwise(lit("kept")))
      .withColumn("final_kept", col("drop_reason") === "kept")
      .select(col("doc_id"), col("pass_quality"), col("is_eval"),
        col("maybe_dup"), col("is_near_dup"), col("max_jaccard"),
        col("example_base_doc"), col("final_kept"), col("drop_reason"))
  }
}
