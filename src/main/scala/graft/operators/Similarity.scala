package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors):
  * brute-force cosine top-k as the exact baseline, and a sign-random-
  * projection LSH variant as the scale path.
  *
  * Float parity with the DuckDB oracle: vectors are cast to double FIRST
  * (so products are exact doubles, not float32-rounded), and the dot
  * product is a sequential left-to-right fold — Spark's `aggregate` and
  * DuckDB's `list_sum(list_transform(generate_series…))` both reduce in
  * array order, verified bit-identical on this data.
  *
  * Scale posture (100 TB): top-k keeps the query set broadcast-small and
  * scans the corpus once (cost Q×N — the honest exact baseline; at real
  * scale you shard the corpus and mergesort per-query top-k, which is what
  * the partition-local window below already expresses). The LSH variant
  * bounds candidates to same-bucket vectors: an equi-join on the bucket id,
  * cost Σ bucket², tunable by the number of hyperplanes.
  */
object Similarity {

  val Dim = 64
  /** Query set: every 100th vector — below the fixed id bound. */
  val QueryMod = 100
  /** Fixed-size cap on the query set: queries are the multiples of
    * [[QueryMod]] below QueryMod·QueryCap. An ANN query set is an
    * EXTERNAL workload, not a corpus fraction — without the cap the
    * exact ground-truth scan is Q·N with Q ∝ N (measured 43x at a 10x
    * stress scale). The bound (2000) covers every vec_id at the oracle
    * SFs, so sf0.01/sf0.1 results are unchanged. */
  val QueryCap = 20
  /** vec_id membership test for the query set. */
  def isQueryVec(c: Column): Column =
    c % QueryMod === 0 && c < lit(QueryMod.toLong * QueryCap)
  val TopK = 10
  /** Hyperplanes for the LSH variant (4 planes → 16 buckets). */
  val NumPlanes = 4

  private def emb(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Tables.load(spark, sfDir, "embeddings")

  /** Sequential-fold dot product — the imperative kernel
    * (graft.functions.VectorOps) with the same left-to-right double fold
    * as the declarative aggregate/transform form and the oracle. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorOps.dot_seq(a, b)

  /** vec_id, v (double array), n2 (squared norm) from any frame with an
    * `embedding` column — shared by the batch operators and the
    * streaming ingest gate so normalization cannot drift. */
  def normVectors(d: DataFrame): DataFrame =
    d.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n2", graft.functions.VectorOps.norm2_seq(col("v")))

  /** vec_id, v (double array), n2 (squared norm). */
  private def vectors(spark: SparkSession, sfDir: String): DataFrame =
    normVectors(emb(spark, sfDir))

  private def rankTopK(scored: DataFrame): DataFrame =
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id")))
        .cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("vec_id"), col("rank"),
        round(col("cos"), 6).as("cos_sim"))

  /** Exact cosine top-k: broadcast the query subset, scan the corpus once,
    * per-query top-k via partition-local window (ranking uses the unrounded
    * cosine; ties broken by vec_id).
    *
    * Session-scoped persist-once (r18): the exact table is the RECALL
    * GROUND TRUTH — evaluated by three bench rows (its own query,
    * ann_recall, ann_recall_trained), each evaluation the full corpus×Q
    * scoring scan, while the result is Q×k rows. Charged as its own
    * bench row `artifact_exact_topk`; the production shape (compute the
    * ground-truth table once, evaluate every method against it). Eager
    * (count at build) — recallTable joins it twice, and a lazy cold
    * cache would race both subtrees into duplicate evaluation. */
  def embeddingTopK(spark: SparkSession, sfDir: String): DataFrame =
    cached(spark, sfDir, "topk") {
      val built = embeddingTopKUncached(spark, sfDir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      built.count()
      built
    }

  private def embeddingTopKUncached(spark: SparkSession,
                                    sfDir: String): DataFrame = {
    val n = vectors(spark, sfDir)
    val q = n.filter(isQueryVec(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
    val scored = n.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2"))))
    rankTopK(scored)
  }

  /** LSH bucket id: sign bits of the projections onto NumPlanes
    * deterministic hyperplanes (Knuth-hashed flat index → [-0.5, 0.5)),
    * computed by the imperative kernel with the same arithmetic as the
    * oracle's generate_series form. */
  private def bucketOf(v: Column): Column =
    graft.functions.VectorOps.srp_bucket(v, NumPlanes, Dim)

  /** Cosine near-duplicate threshold for [[embeddingNearDup]]. */
  val NearDupCosine = 0.35

  /** Independent SRP bands OR'd for near-dup candidates (the MinHash-band
    * discipline applied to embeddings): a pair is a candidate if it
    * collides in ANY band, so recall is 1-(1-p^P)^Bands for per-plane
    * agreement p = 1-θ/π, instead of the single-band p^P cliff. */
  val NearDupBands = 4
  /** Target expected bucket size per band. Planes-per-band grows as
    * ceil(log2(N / target)) so per-band candidate cost stays ≈ N·target —
    * LINEAR in corpus size (a fixed plane count means a fixed bucket
    * count, i.e. Σ bucket² ≈ N²/2^planes: measured 69x at a 10x stress
    * scale before this sizing). */
  val NearDupTargetBucket = 32L

  /** Adaptive planes-per-band: max(NumPlanes, ceil(log2(n/target))) —
    * equals the [[NumPlanes]] constant for n ≤ 512, which covers the
    * oracle SF (sf0.01 has 500 vectors), so the static DuckDB twin stays
    * exact where it runs. */
  def nearDupPlanesPerBand(n: Long): Int = {
    val cells = math.max(1L, (n + NearDupTargetBucket - 1) / NearDupTargetBucket)
    math.max(NumPlanes, 64 - java.lang.Long.numberOfLeadingZeros(cells - 1))
  }

  /** Embedding-cosine near-dup detection: candidate pairs restricted to
    * same-band-bucket vectors (equi-join on (band, bucket), distinct
    * pair, exact cosine verify at ≥ [[NearDupCosine]]). Deterministic on
    * both engines, so the oracle sees the identical candidate set.
    *
    * Scale shape: [[NearDupBands]] independent bands of
    * [[nearDupPlanesPerBand]] planes each — candidate cost is
    * Bands · Σ bucket² ≈ Bands · N · [[NearDupTargetBucket]], linear in
    * N because the plane count grows with log2(N). The verify joins pull
    * vectors by vec_id AFTER the distinct, so band keys (not 64-double
    * vectors) are the join currency — the same discipline as
    * [[graft.operators.Dedup]]'s MinHash bands. Recall at the 0.35
    * design point is tuned by Bands (production: 8–16 bands; the
    * planted high-cosine clusters this detects sit near recall 1). */
  /** vec_id, v, n2 + one row per (band_j, bkey) band key — the shared
    * candidate index for the batch near-dup and the streaming ingest
    * gate ([[graft.streaming.PipelineStreams.embeddingNearDupStream]]),
    * one definition so the two cannot drift. */
  def nearDupBandKeys(normed: DataFrame, planes: Int): DataFrame = {
    val bandKeys = array((0 until NearDupBands).map { j =>
      graft.functions.VectorOps.srp_bucket(col("v"), planes, Dim, j * planes)
    }: _*)
    normed.withColumn("bks", bandKeys)
      .select(col("vec_id"), col("v"), col("n2"),
        posexplode(col("bks")).as(Seq("band_j", "bkey")))
  }

  /** Materialize the near-dup band-key index as a BUCKETED table — the
    * layout for a base corpus that outgrows executor memory (the
    * persist-once in-memory index the streaming gate uses by default
    * stops fitting long before 100 TB). Bucketed+sorted on the join key
    * (band_j, bkey), so a probe joins it with NO Exchange and NO Sort on
    * the base side — the shuffle was paid once at write time; per
    * micro-batch only the batch itself shuffles
    * ([[graft.streaming.PipelineStreams.embeddingNearDupStreamIndexed]],
    * plan-asserted in StreamGateScaleSpec). The planes-per-band the
    * index was built with rides along as a table property so probes
    * cannot silently band differently. Returns `planes`. */
  def writeBandIndexTable(spark: SparkSession, sfDir: String,
                          table: String, nBuckets: Int = 16): Int = {
    val planes = nearDupPlanesPerBand(
      emb(spark, sfDir).select(col("vec_id")).count())
    nearDupBandKeys(vectors(spark, sfDir), planes)
      .select(col("vec_id").as("base_id"), col("v").as("bv"),
        col("n2").as("bn2"), col("band_j"), col("bkey"))
      .write.mode("overwrite")
      .bucketBy(nBuckets, "band_j", "bkey").sortBy("band_j", "bkey")
      .saveAsTable(table)
    spark.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES('graft.planes' = '$planes')")
    planes
  }

  /** The planes-per-band a [[writeBandIndexTable]] table was built with. */
  def bandIndexPlanes(spark: SparkSession, table: String): Int =
    spark.sql(s"SHOW TBLPROPERTIES $table('graft.planes')")
      .select("value").head().getString(0).toInt

  def embeddingNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val n = vectors(spark, sfDir)
    val planes = nearDupPlanesPerBand(
      emb(spark, sfDir).select(col("vec_id")).count())
    // Band rows CARRY (v, n2) into the self-join — the streaming gate's
    // nearDupProbe shape — so the join's shuffle/sort is the band-key
    // index itself: corpus × Bands rows, LINEAR in N. The r12 form
    // dropped the payloads here and re-joined them per CANDIDATE (two
    // SortMergeJoins sorting ~Bands·N·bucket rows each dragging a
    // 64-double vector) — at the 100x stress decade those sorts spilled
    // the disk to exhaustion (sf10 run, SURVEY §7.13). The cosine now
    // verifies INLINE in the streamed join output (whole-stage codegen,
    // never materialized); a pair colliding in k bands is verified k
    // times (k ≤ Bands, each one 64-mult dot — cheap) and the distinct
    // runs on the verified SURVIVOR sliver instead of the candidate set.
    val e = nearDupBandKeys(n, planes)
    e.as("x").join(e.as("y"),
        col("x.band_j") === col("y.band_j") &&
          col("x.bkey") === col("y.bkey") &&
          col("x.vec_id") < col("y.vec_id"))
      .withColumn("cos",
        dot(col("x.v"), col("y.v")) / (sqrt(col("x.n2")) * sqrt(col("y.n2"))))
      .filter(col("cos") >= NearDupCosine)
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        round(col("cos"), 6).as("cos_sim"))
      .distinct()
  }

  /** Measured recall of the banded SRP near-dup detector against
    * POOL-EXHAUSTIVE ground truth, reported per cosine bucket — the
    * embedding leg of the recall-gate programme (word: minhash_recall,
    * pooled; gram: ngram_recall, block-exhaustive; simhash: exact by
    * pigeonhole, no measurement needed). Truth: every pair touching the
    * FIXED [[isQueryVec]] pool (20 ids at any corpus size — the
    * established linearization) with raw cosine at-or-above
    * [[NearDupCosine]], computed exhaustively (pool × corpus = 20·N dot
    * products, linear). The per-bucket shape IS the SRP S-curve:
    * boundary-cosine pairs are caught with prob 1-(1-p^P)^B for
    * per-plane agreement p = 1-θ/π, which is LOW near the threshold by
    * design (candidates, not guarantees — production tunes Bands up for
    * recall); the bucket rows make that tradeoff a measured table
    * instead of a Scaladoc claim. Theory calibration (which needs acos —
    * not bit-specified across engines) lives in PipelineSpec, not the
    * oracle row: the row itself is exact integer/rounded arithmetic. */
  /** The pool-exhaustive truth frame of [[nearDupRecall]]: every pair
    * touching the fixed pool with raw cosine ≥ the threshold, filtered
    * RAW and rounded after (the detector's boundary call), deduped for
    * the pool×pool overlap. Shared with the PipelineSpec calibration. */
  private[graft] def nearDupPoolTruth(spark: SparkSession,
                                      sfDir: String): DataFrame = {
    val n = vectors(spark, sfDir)
    val q = n.filter(isQueryVec(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("n2").as("qn2"))
    // corpus streams, the FIXED pool broadcasts (the embedding_topk
    // shape) — writing it the other way round planned the corpus as a
    // nested-loop build side, which PlanBudgetSpec rightly rejects
    n.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cos_raw",
        dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .filter(col("cos_raw") >= NearDupCosine)
      .select(least(col("q_id"), col("vec_id")).as("vec_a"),
        greatest(col("q_id"), col("vec_id")).as("vec_b"),
        round(col("cos_raw"), 6).as("cos"))
      .distinct() // both endpoints in pool → the pair arrives twice
  }

  def nearDupRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val truth = nearDupPoolTruth(spark, sfDir)
    val nd = embeddingNearDup(spark, sfDir)
      .select(col("vec_a"), col("vec_b"), lit(1L).as("caught"))
    truth.join(nd, Seq("vec_a", "vec_b"), "left")
      .groupBy(floor(col("cos") * lit(20)).cast("long").as("cos_bucket"))
      .agg(count(lit(1)).cast("long").as("n_truth"),
        sum(coalesce(col("caught"), lit(0L))).cast("long").as("n_caught"))
      .select(col("cos_bucket"), col("n_truth"), col("n_caught"),
        round(col("n_caught") / col("n_truth").cast("double"), 6)
          .as("recall"))
  }

  /** Centroid set for the IVF variant: every 100th vector starting at 50
    * (disjoint from the query set), below the fixed id bound. At real
    * scale these come from k-means; a deterministic subsample keeps the
    * oracle exact. */
  val CentroidMod = 100
  val CentroidRem = 50
  /** Fixed centroid-count cap, mirroring [[QueryCap]]: C candidates per
    * assignment stay bounded, so cell assignment is C·N (linear in N),
    * never (N/100)·N. Production sizing picks C from k-means (√N-ish);
    * the deterministic variant pins C so the oracle twin stays exact.
    * The bound covers every vec_id at the oracle SFs — unchanged there. */
  val CentroidCap = 20
  /** vec_id membership test for the centroid set. */
  def isCentroidVec(c: Column): Column =
    c % CentroidMod === CentroidRem &&
      c < lit(CentroidMod.toLong * CentroidCap)

  /** IVF approximate top-k: vectors are assigned to their nearest centroid
    * cell (cosine argmax, N×C scoring with a broadcast centroid list — C
    * is fixed, so linear in N), and each query searches only its own cell.
    * The coarse-quantizer analog of [[embeddingAnnLsh]]; both bound
    * candidates by an equi-join on a cell id.
    *
    * The centroid assignment is session-scoped persist-once (same
    * pattern and staleness fingerprint as Dedup's signature tables): the
    * N×C scoring + per-vec window is the query's dominant stage, and
    * without the persist BOTH the probe side and the broadcast query side
    * recompute it. */
  private[graft] def cellAssignment(spark: SparkSession, sfDir: String): DataFrame =
    cached(spark, sfDir, "cell") {
      val n = vectors(spark, sfDir)
      val cents = n.filter(isCentroidVec(col("vec_id")))
        .select(col("vec_id").as("c_id"), col("v").as("cv"),
          col("n2").as("cn2"))
      // argmax via window, NOT max_by: a max_by whose value struct
      // carries the vector array has an immutable agg buffer, so both
      // aggregate stages fall back to SortAggregate — measured 2×
      // slower than this single window sort at sf0.1
      n.join(broadcast(cents))
        .withColumn("ccos",
          dot(col("v"), col("cv")) / (sqrt(col("n2")) * sqrt(col("cn2"))))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("c_id"))))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("v"), col("n2"), col("c_id").as("cell"))
    }

  def embeddingAnnIvf(spark: SparkSession, sfDir: String): DataFrame =
    cached(spark, sfDir, "ann_ivf")(embeddingAnnIvfUncached(spark, sfDir))

  private def embeddingAnnIvfUncached(spark: SparkSession,
                                      sfDir: String): DataFrame = {
    val assigned = cellAssignment(spark, sfDir)
    // query side renames its cell column — q derives from `assigned`, so
    // joining on same-named columns would lean on analyzer self-join
    // disambiguation (and log trivially-true-predicate WARNs)
    val q = assigned.filter(isQueryVec(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("n2").as("qn2"), col("cell").as("q_cell"))
    val scored = assigned.join(broadcast(q),
        col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2"))))
    rankTopK(scored)
  }

  /** Probe count for the multi-probe IVF variant — the standard
    * recall-vs-candidates knob (FAISS `nprobe`). */
  val IvfProbes = 2

  /** Multi-probe IVF ANN: corpus vectors stay in their top-1 cell (the
    * persist-once [[cellAssignment]] artifact is reused untouched); each
    * QUERY probes its [[IvfProbes]] nearest cells, because a query near a
    * cell boundary usually has true neighbors in the runner-up cell.
    *
    * Scale: probe fan-out multiplies only the BROADCAST query table
    * (Q·P rows) — the corpus side still joins equi on its single cell id,
    * and each candidate matches exactly one probe row (its own cell), so
    * no dedup step exists. Candidate cost is P× single-probe, corpus
    * scan cost unchanged. recall@k is provably ≥ single-probe at every k
    * (candidate superset + rank monotonicity; asserted in PipelineSpec
    * and measured by `ann_recall`'s ivf2 rows). */
  def embeddingAnnIvfMultiprobe(spark: SparkSession,
                                sfDir: String): DataFrame =
    cached(spark, sfDir, "ann_ivf2")(
      embeddingAnnIvfMultiprobeUncached(spark, sfDir))

  private def embeddingAnnIvfMultiprobeUncached(spark: SparkSession,
                                                sfDir: String): DataFrame = {
    val n = vectors(spark, sfDir)
    val cents = n.filter(isCentroidVec(col("vec_id")))
      .select(col("vec_id").as("c_id"), col("v").as("cv"),
        col("n2").as("cn2"))
    val probes = n.filter(isQueryVec(col("vec_id")))
      .join(broadcast(cents))
      .withColumn("ccos",
        dot(col("v"), col("cv")) / (sqrt(col("n2")) * sqrt(col("cn2"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("c_id"))))
      .filter(col("rn") <= IvfProbes)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("n2").as("qn2"), col("c_id").as("q_cell"))
    val scored = cellAssignment(spark, sfDir).join(broadcast(probes),
        col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2"))))
    rankTopK(scored)
  }

  /** Embedding-level dedup keep policy: connected components over the
    * verified cosine near-dup pairs (the embedding twin of
    * `dedup_components` — same generalized union-find/fixpoint machinery,
    * [[graft.operators.Dedup.componentsOf]]), so semantic-duplicate
    * CHAINS collapse to one kept vector per component (min vec_id).
    * The full embedding table is only touched by the singleton-stamping
    * left join. */
  def embeddingDedupKeep(spark: SparkSession, sfDir: String): DataFrame =
    emb(spark, sfDir).select(col("vec_id"))
      .join(embeddingComponents(spark, sfDir), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("comp"), col("vec_id")).as("component_id"))
      .withColumn("is_kept", col("component_id") === col("vec_id"))

  /** Session-scoped persist-once of the embedding near-dup CONNECTED
    * COMPONENTS table (r18): both embedding_dedup_keep and
    * curate_embeddings ran the banded near-dup pipeline + the components
    * fixpoint end-to-end; one materialization per (session, corpus),
    * charged as its own bench row `artifact_embedding_components`.
    * Built eagerly under its own registry entry's lock. */
  private[graft] def embeddingComponents(spark: SparkSession,
                                         sfDir: String): DataFrame =
    cached(spark, sfDir, "ncomp") {
      val pairs = embeddingNearDup(spark, sfDir).select("vec_a", "vec_b")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // componentsOf fully materializes before returning, so the pairs
      // frame is released as soon as it does — in a finally, so a failing
      // action cannot strand the persisted pair table outside every cache
      // registry (r17 operators review #5)
      val comp =
        try graft.operators.Dedup
          .componentsOf(spark, pairs, pairs.count()).toDF("vec_id", "comp")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        finally pairs.unpersist(blocking = false)
      comp.count()
      comp
    }

  /** Every persist-once entry in this file keys on the embeddings
    * table's fingerprint.
    *
    * The ANN methods each persist ONE top-k result table (r18): every
    * method pipeline was evaluated TWICE per bench run (its own declared
    * row plus ann_recall's union leg) and pq a third time in
    * ann_recall_trained's detail — each evaluation a full corpus probe
    * pass. The result is a queries×TopK sliver (Q·k rows at ANY corpus
    * size), so the cache stores nothing data-proportional; charged as the
    * bench row `artifact_ann_methods`. */
  private def cached[T](spark: SparkSession, sfDir: String,
                        variant: String)(build: => T): T =
    graft.Artifacts.cached(spark, sfDir, variant, "embeddings")(build)

  /** Kept for callers of the per-module teardown: releases every
    * artifact of `spark` ([[graft.Artifacts.clear]]). */
  def clearCaches(spark: SparkSession): Unit = graft.Artifacts.clear(spark)

  /** Materialize every method sliver eagerly (count only when cold, so a
    * warm path pays zero extra actions) — the bench's
    * `artifact_ann_methods` build row, mirroring [[Dedup.wordSetBase]]. */
  private[graft] def annMethodsBase(spark: SparkSession,
                                    sfDir: String): Unit =
    RecallMethods.foreach { m =>
      if (!graft.Artifacts.warm(spark, sfDir, s"ann_$m", "embeddings"))
        annMethod(spark, sfDir, m).count(): Unit
    }

  // ---- k-means refinement (semantic clustering over embeddings) ----

  /** Component quantization scale (2^20) for the centroid accumulator:
    * per-dim sums are taken over floor(v[k]·2^20) INTEGERS, so the
    * cross-row aggregation — the one place a float sum's order would
    * differ between Spark's partial aggregation and the oracle's scan —
    * is exact and order-independent. The centroid dim is then the ratio
    * of two exact integers (one double division, identical on both
    * engines); everything after runs through the same sequential-fold
    * dot/norm kernels as every other embedding op. Quantization error is
    * ≤ 2^-20 per component — three orders below the testdata's float32
    * input resolution. */
  val KmQuantScale = 1048576L

  /** One Lloyd iteration of k-means over the embedding corpus, seeded by
    * the deterministic IVF cells ([[cellAssignment]]): recompute each
    * cell's mean centroid, reassign every vector to its nearest new
    * centroid (cosine argmax, ties to the lower cell id). The semantic-
    * clustering primitive (SemDeDup-style corpus organization) expressed
    * so the oracle can replay it exactly — see [[KmQuantScale]].
    *
    * Scale: one partial-aggregable groupBy(cell) with Dim integer sums
    * (K·Dim cells×dims output — centroid-table-sized), centroids
    * broadcast back for the N×K rescore (same shape as the IVF
    * assignment), per-vec argmax via a K-row window partition. Iterating
    * = repeating this stage; nothing is driver-resident but the K×Dim
    * centroid table. */
  /** One Lloyd step: (vec_id, v, n2, cell) → the same shape reassigned
    * to the recomputed mean centroids, plus the winning `ccos`. */
  private def lloydStep(assigned: DataFrame): DataFrame = {
    val qv = assigned.withColumn("qv",
      transform(col("v"), x => floor(x * lit(KmQuantScale.toDouble))))
    val sums = qv.groupBy("cell").agg(
      count(lit(1)).as("n"),
      (1 to Dim).map(k => sum(element_at(col("qv"), k)).as(s"s$k")): _*)
    val cents = sums.select(
        col("cell").as("c_id"),
        array((1 to Dim).map(k =>
          col(s"s$k") / (col("n") * lit(KmQuantScale.toDouble))): _*).as("cv"))
      .withColumn("cn2", graft.functions.VectorOps.norm2_seq(col("cv")))
    // window argmax, same rationale as cellAssignment (max_by with an
    // array-carrying struct buffer degrades to SortAggregate)
    assigned.select(col("vec_id"), col("v"), col("n2"), col("cell"))
      .join(broadcast(cents))
      .withColumn("ccos",
        dot(col("v"), col("cv")) / (sqrt(col("n2")) * sqrt(col("cn2"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("c_id"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("n2"),
        col("c_id").as("cell"), col("ccos"))
  }

  /** (seed assignment, refined assignment) → the reported per-vec row. */
  private def kmeansPresent(assigned: DataFrame,
                            refined: DataFrame): DataFrame =
    assigned.select(col("vec_id"), col("cell").as("cell0"))
      .join(refined.select(col("vec_id"), col("cell").as("cell1"),
        col("ccos")), Seq("vec_id"))
      .select(col("vec_id"), col("cell0"), col("cell1"),
        (col("cell0") =!= col("cell1")).as("moved"),
        round(col("ccos"), 6).as("cos_to_centroid"))

  def kmeansRefine(spark: SparkSession, sfDir: String): DataFrame =
    kmeansIterate(spark, sfDir, iters = 1)

  /** Lloyd iterations for [[kmeansIterate]]. */
  val KmIters = 3

  /** [[KmIters]] Lloyd iterations from the IVF seed assignment — the
    * converging form of [[kmeansRefine]]: iterating IS repeating the one
    * aggregate-and-rescore stage, nothing else changes (the scale
    * argument — per iteration, one K-bounded integer aggregation plus a
    * broadcast rescore). Output matches kmeans_refine's shape with
    * `cell1` = the final-iteration cell. */
  def kmeansIterate(spark: SparkSession, sfDir: String,
                    iters: Int = KmIters): DataFrame = {
    val assigned = cellAssignment(spark, sfDir)
    // Persist-once per (input, iters): each Lloyd step's output feeds the
    // NEXT step twice (the centroid aggregation and the rescore join), so
    // an unpersisted chain re-evaluates step i 2^(iters-i) times — the
    // iterative-algorithm shape MLlib also handles with per-iteration
    // persist + materialize + unpersist-superseded. The final assignment
    // stays persisted and is shared by kmeans_refine / cluster_purity /
    // curate_embeddings (same consumers-of-one-artifact scheme as
    // Dedup.verifiedPairs). The Lloyd chain runs SPARK ACTIONS (one
    // count per iteration) under this entry's lock only.
    val refined = cached(spark, sfDir, s"kmeans_it$iters") {
      var cur = assigned
      // a mid-chain failure (executor loss, OOM on the count) must not
      // strand persisted intermediates outside every cache registry —
      // release whatever this attempt pinned before rethrowing (r17
      // operators review #4; trainPqCodebooks already does this)
      try (1 to iters).foreach { _ =>
        val next = lloydStep(cur)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try next.count() // materialize before dropping the superseded frame
        catch { case t: Throwable =>
          next.unpersist(blocking = false); throw t
        }
        if (cur ne assigned) cur.unpersist(blocking = false)
        cur = next
      } catch { case t: Throwable =>
        if (cur ne assigned) cur.unpersist(blocking = false)
        throw t
      }
      cur
    }
    kmeansPresent(assigned, refined)
  }

  /** Clustering-quality evaluation: label purity of the refined k-means
    * cells ([[kmeansRefine]]) against the embeddings' ground-truth
    * `label` column — per cell: size, distinct labels, the majority label
    * (ties to the lower label) and its share. The measurement row for the
    * clustering family, like `ann_recall` is for the ANN family.
    *
    * Scale: two partial-aggregable groupBys over (cell, label) — a
    * label-cardinality-bounded table — after the refine assignment. */
  def clusterPurity(spark: SparkSession, sfDir: String): DataFrame = {
    val assign = kmeansRefine(spark, sfDir)
      .select(col("vec_id"), col("cell1").as("cell"))
    val lab = emb(spark, sfDir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val cl = assign.join(lab, Seq("vec_id"))
      .groupBy("cell", "label").agg(count(lit(1)).as("n"))
    // sizes + majority as WINDOWS over the one aggregated (cell, label)
    // table — a groupBy-and-join-back would re-evaluate the whole refine
    // chain per consumer (the top_terms round-5 lesson); the window input
    // is label-cardinality-bounded per cell, never corpus-sized
    val w = Window.partitionBy("cell")
    cl.withColumn("n_vecs", sum("n").over(w))
      .withColumn("n_labels", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(
        w.orderBy(col("n").desc, col("label"))))
      .filter(col("rn") === 1)
      .select(col("cell"), col("n_vecs"), col("n_labels"),
        col("label").as("majority_label"), col("n").as("n_majority"),
        round(col("n") / col("n_vecs").cast("double"), 6).as("purity"))
  }

  /** The vector-side `curate_corpus`: one per-vector decision frame
    * composing the embedding pipeline — near-dup keep policy
    * ([[embeddingDedupKeep]]), refined cluster ([[kmeansRefine]]), and
    * SQ8 reconstruction quality ([[embeddingSq]]) — the frame an
    * embedding store ships to its index builder (keep? which shard/
    * cluster? safe to store compressed?).
    *
    * Scale: three vec_id-keyed equi-joins of already-scale-audited
    * components; the composition adds no new shuffle shape. */
  val CurateSqMinCos = 0.99

  def curateEmbeddings(spark: SparkSession, sfDir: String): DataFrame =
    embeddingDedupKeep(spark, sfDir)
      .select(col("vec_id"), col("component_id"), col("is_kept"))
      .join(kmeansRefine(spark, sfDir)
        .select(col("vec_id"), col("cell1").as("cluster")), Seq("vec_id"))
      .join(embeddingSq(spark, sfDir)
        .select(col("vec_id"), col("recon_cos")), Seq("vec_id"))
      .withColumn("sq_ok", col("recon_cos") >= CurateSqMinCos)
      .withColumn("final_kept", col("is_kept") && col("sq_ok"))

  // ---- Scalar quantization (SQ8 — the 4× in-memory compression) ----

  /** Int8 scalar quantization of the embedding corpus with a measured
    * reconstruction quality row per vector: per-dim global [min, max]
    * (min/max are EXACT order-independent aggregations — no float-sum
    * issue), each component encoded to floor((x−mn)/(mx−mn)·255) in
    * [0, 255], decoded at the bucket midpoint, and the decoded vector
    * scored against the original by cosine. The standard 4×-compression
    * layout (FAISS SQ8) next to [[embeddingAnnPq]]'s 32×; the emitted
    * recon_cos distribution is the accept/reject evidence for switching
    * a corpus to the compressed layout.
    *
    * Scale: ONE partial-aggregable aggregation for the 2×Dim bounds
    * (broadcast back as a 1-row frame), then a single narrow per-row
    * pass; every per-row double op is the same sequential-fold kernel
    * arithmetic as the rest of the embedding family. */
  val SqLevels = 256

  def embeddingSq(spark: SparkSession, sfDir: String): DataFrame = {
    val n = vectors(spark, sfDir)
    val bounds = n.agg(
      array((1 to Dim).map(k => min(element_at(col("v"), k))): _*).as("mn"),
      array((1 to Dim).map(k => max(element_at(col("v"), k))): _*).as("mx"))
    n.join(broadcast(bounds))
      // encode truncates u·256 (clamped to 255: only the exact max hits
      // 256), so the 256 buckets are UNIFORM width (mx−mn)/256 and the
      // decode's (c+0.5)/256 midpoint is the true bucket midpoint —
      // a ×255 encode against a /256 decode would skew every
      // reconstruction systematically low
      .withColumn("codes",
        zip_with(col("v"), zip_with(col("mn"), col("mx"),
            (a, b) => struct(a.as("mn"), b.as("mx"))),
          (x, b) => when(b("mx") === b("mn"), lit(0L))
            .otherwise(least(lit(SqLevels - 1), greatest(lit(0),
              floor((x - b("mn")) / (b("mx") - b("mn")) * SqLevels))))))
      .withColumn("recon",
        zip_with(col("codes"), zip_with(col("mn"), col("mx"),
            (a, b) => struct(a.as("mn"), b.as("mx"))),
          (c, b) => b("mn") + (c.cast("double") + 0.5) *
            (b("mx") - b("mn")) / SqLevels))
      .withColumn("recon_cos",
        round(dot(col("v"), col("recon")) /
          (sqrt(col("n2")) * sqrt(graft.functions.VectorOps
            .norm2_seq(col("recon")))), 6))
      .select(col("vec_id"),
        element_at(col("codes"), 1).cast("long").as("code_0"),
        element_at(col("codes"), Dim).cast("long").as(s"code_${Dim - 1}"),
        col("recon_cos"))
  }

  // ---- Product quantization (IVF+PQ — the 100 TB memory path) ----
  /** 8 subspaces × 8 dims, 16 codewords each: a 64-float vector compresses
    * to 8 small integers (256 B → 8 B per vector at billions of rows — the
    * reason IVF+PQ is the standard billion-scale ANN layout). Codebooks
    * are deterministic synthetic points (same Knuth-hash unit as the SRP
    * planes, seeded apart) so the oracle twin is exact; production swaps
    * in k-means codebooks without touching the plan. */
  val PqSubspaces = 8
  val PqSubDim: Int = Dim / PqSubspaces
  val PqCodebookSize = 16
  val PqSeed = 100003L

  /** IVF+PQ approximate top-k: candidates come from the query's IVF cell
    * (equi-join, like [[embeddingAnnIvf]]), but the probe side carries
    * ONLY (vec_id, cell, 8 PQ codes, reconstructed norm) — the raw
    * vectors are projected away after encoding, so at scale the search
    * structure is ~1/30 the corpus size and usually memory-resident.
    * Scoring is asymmetric (ADC): the raw query vector against each
    * candidate's codeword reconstruction; ranking on the unrounded
    * approximate cosine with vec_id tie-break. */
  def embeddingAnnPq(spark: SparkSession, sfDir: String,
                     book: Option[Array[Double]] = None): DataFrame =
    // only the synthetic-book (None) variant is multi-consumer; an
    // explicit book (the trained path) has ann_recall_trained as its
    // sole consumer, and a sole-consumer cache would blind the bench's
    // per-query regression guard
    book match {
      case None =>
        cached(spark, sfDir, "ann_pq")(
          embeddingAnnPqUncached(spark, sfDir, None))
      case some => embeddingAnnPqUncached(spark, sfDir, some)
    }

  private def embeddingAnnPqUncached(spark: SparkSession, sfDir: String,
                                     book: Option[Array[Double]]): DataFrame = {
    val assigned = cellAssignment(spark, sfDir)
    val coded = assigned
      .withColumn("codes", graft.functions.VectorOps.pq_encode(
        col("v"), PqSubspaces, PqCodebookSize, PqSubDim, PqSeed, book))
      .withColumn("rn2", graft.functions.VectorOps.pq_recon_n2(
        col("codes"), PqSubspaces, PqCodebookSize, PqSubDim, PqSeed, book))
      .select(col("vec_id"), col("cell"), col("codes"), col("rn2"))
    val q = assigned.filter(isQueryVec(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("n2").as("qn2"), col("cell").as("q_cell"))
    val scored = coded.join(broadcast(q),
        col("cell") === col("q_cell") && col("vec_id") =!= col("q_id"))
      .withColumn("cos", graft.functions.VectorOps.pq_adc_dot(
        col("qv"), col("codes"), PqSubspaces, PqCodebookSize, PqSubDim, PqSeed,
        book)
        / (sqrt(col("qn2")) * sqrt(col("rn2"))))
    rankTopK(scored)
  }

  /** The synthetic codebook as an explicit flat array — passing
    * `Some(syntheticPqBook)` to [[embeddingAnnPq]] must be bit-identical
    * to passing `None` (pinned by spec), proving the trained-book path is
    * a pure codebook swap with no plan or arithmetic change. */
  def syntheticPqBook: Array[Double] = {
    val b = new Array[Double](PqSubspaces * PqCodebookSize * PqSubDim)
    for (m <- 0 until PqSubspaces; k <- 0 until PqCodebookSize;
         d <- 0 until PqSubDim)
      b((m * PqCodebookSize + k) * PqSubDim + d) =
        graft.functions.VectorOps.pqCodeword(PqSeed, PqCodebookSize, PqSubDim,
          m, k, d)
    b
  }

  /** Lloyd's k-means PQ codebooks over the corpus subvectors — the
    * production replacement for the synthetic codebook (round-5 verdict
    * #4; Jégou et al.'s PQ trains exactly this way, public knowledge).
    *
    * Distributed shape: each iteration is ONE corpus pass — the
    * assignment step reuses the [[graft.functions.VectorOps.PqEncode]]
    * kernel with the current book (nearest codeword per subspace), the
    * update step is a partial-aggregable groupBy over
    * (subspace, code, dim) summing QUANTIZED subvector components — at
    * most numSub × numCodewords × subDim = 1024 groups, collected to
    * the driver to form the next book (the classic tiny-model /
    * big-data k-means split; at 100 TB you train on a bounded sample,
    * which is what `sampleMod` expresses). Deterministic init from the
    * quantized synthetic book + fixed iteration count; empty clusters
    * keep their previous codeword.
    *
    * INTEGER-EXACT (round-12): every codeword is a dyadic rational
    * qb/2^20 ([[KmQuantScale]], the kmeans_refine discipline). The
    * update sums floor(x·2^20) longs (exact, order-independent — the
    * only cross-row float aggregation the old avg(x) form had) and the
    * new codeword is the TRUNCATING long division sum/n (Java `Long./`
    * and DuckDB `//` both truncate toward zero), so the trained book —
    * and therefore the ADC top-k lists — are deterministic and
    * replayable by the DuckDB oracle's unrolled training CTEs. The
    * assignment step needs no change: it is per-row sequential double
    * arithmetic against dyadic-exact codewords, the already-replayable
    * kernel form. */
  /** Lloyd iterations for the trained book — shared with the oracle's
    * unrolled training CTEs so the two cannot drift. */
  val PqTrainIters = 6

  def trainPqCodebooks(spark: SparkSession, sfDir: String,
                       iters: Int = PqTrainIters,
                       sampleMod: Int = 1): Array[Double] = {
    val S = KmQuantScale
    var book = syntheticPqBook.map(x => math.floor(x * S) / S)
    val vecs = vectors(spark, sfDir)
      .filter(col("vec_id") % sampleMod === 0)
      .select(col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      for (_ <- 1 to iters) {
        val updates = vecs
          .withColumn("codes", graft.functions.VectorOps.pq_encode(
            col("v"), PqSubspaces, PqCodebookSize, PqSubDim, PqSeed,
            Some(book)))
          .select(col("v"), posexplode(col("codes")).as(Seq("m", "code")))
          .select(col("m"), col("code"),
            posexplode(slice(col("v"), col("m") * PqSubDim + 1,
              lit(PqSubDim))).as(Seq("d", "x")))
          .groupBy("m", "code", "d").agg(
            sum(floor(col("x") * lit(S.toDouble)).cast("long")).as("s"),
            count(lit(1)).as("n"))
          .collect()
        val next = book.clone()
        updates.foreach { r =>
          val m = r.getInt(0); val k = r.getLong(1).toInt; val d = r.getInt(2)
          next((m * PqCodebookSize + k) * PqSubDim + d) =
            (r.getLong(3) / r.getLong(4)).toDouble / S
        }
        book = next
      }
      book
    } finally vecs.unpersist(blocking = false)
  }

  /** Session-scoped cache of the TRAINED codebook (a 1 KB driver-side
    * array, but 6 corpus passes to build) — one training per
    * (session, input fingerprint), shared by `embedding_ann_pq_trained`
    * and `ann_recall_trained` so the bench charges the Lloyd chain once.
    * The array is plain driver memory: nothing is persisted
    * cluster-side. */
  def trainedBook(spark: SparkSession, sfDir: String): Array[Double] =
    cached(spark, sfDir, "pq_book")(trainPqCodebooks(spark, sfDir))

  /** [[embeddingAnnPq]] with k-means-trained codebooks — the production
    * configuration as a benched, rows-only-verified query (round-7
    * verdict #3: the trained path was spec-only; now its cost and recall
    * are measured numbers). Same plan as the synthetic row — the book is
    * a pure constant swap (pinned by PipelineSpec). */
  def embeddingAnnPqTrained(spark: SparkSession, sfDir: String): DataFrame =
    embeddingAnnPq(spark, sfDir, Some(trainedBook(spark, sfDir)))

  /** Recall cut-offs measured by [[annRecall]] (shared with the oracle
    * SQL generator). */
  val RecallKs: Seq[Int] = Seq(1, 5, 10)
  val RecallMethods: Seq[String] = Seq("ivf", "ivf2", "lsh", "pq")

  /** Recall@k of every approximate method against [[embeddingTopK]]'s
    * exact ground truth — the measurement that turns the ANN family's
    * hash-green "plan parity" rows into a quality number (round-5 verdict
    * #1). recall@k = |approx∩exact within rank ≤ k| / |exact within
    * rank ≤ k|, pooled over all queries.
    *
    * Pure relational over the four result sets: the exact baseline is the
    * denominator, each method's top-k joins it on (q_id, vec_id), and a
    * tiny (method × k) literal grid keeps methods that find NOTHING at a
    * cut-off visible as recall 0 instead of a missing row. Scale: the
    * result sets are Q×k-sized (queries × 10), so everything after the
    * sub-queries is sliver-sized; the grid joins are broadcast literals. */
  /** Method name → ANN result builder. [[RecallMethods]] keys BOTH the
    * oracle grid (OracleSql generates the DuckDB rows from it) and this
    * dispatch, so the two sides cannot silently drift (r17 operators
    * review #7) — an unmapped method fails loudly here instead of
    * producing a grid the Spark side lacks. */
  private def annMethod(spark: SparkSession, sfDir: String,
                        method: String): DataFrame = method match {
    case "lsh" => embeddingAnnLsh(spark, sfDir)
    case "ivf" => embeddingAnnIvf(spark, sfDir)
    case "ivf2" => embeddingAnnIvfMultiprobe(spark, sfDir)
    case "pq" => embeddingAnnPq(spark, sfDir)
    case other => throw new IllegalArgumentException(
      s"RecallMethods lists '$other' but annMethod has no builder for it")
  }

  def annRecall(spark: SparkSession, sfDir: String): DataFrame =
    recallTable(spark, sfDir,
      RecallMethods.map(m => m -> annMethod(spark, sfDir, m)))

  /** The trained-codebook quality claim as a margin: at the HEADLINE
    * k (max of [[RecallKs]]) trained-PQ recall must sit within this of
    * the synthetic-codebook recall (practically it sits above — training
    * helps; the margin absorbs tie-break noise). The claim is made only
    * at the largest k: with a handful of queries at test SFs, small-k
    * recall moves in 1/n_exact = 0.1-0.2 steps, so a retrained codebook
    * can legitimately shift it by multiples of the margin — a "verdict"
    * there would measure granularity, not quality. The verdict also
    * tolerates one hit (1/n_exact) of granularity at the claim k,
    * a vanishing allowance at production query counts. */
  val TrainedRecallMargin = 0.02

  /** Recall of the TRAINED-codebook PQ against the same exact baseline
    * as the synthetic row. The k-means book is float-trained, so DuckDB
    * cannot replay the trained recall VALUE — the query-facing row
    * therefore carries what it CAN recompute (the synthetic-pq recall,
    * identical arithmetic to the green `ann_recall` pq rows) plus the
    * measured verdict that trained recall ≥ pq recall −
    * [[TrainedRecallMargin]], pinned TRUE by the oracle (the sketch-row
    * pattern from round 9). Raw per-method recalls live in
    * [[annRecallTrainedDetail]] for the spec and ad-hoc comparison. */
  def annRecallTrained(spark: SparkSession, sfDir: String): DataFrame = {
    val d = annRecallTrainedDetail(spark, sfDir)
    val pq = d.filter(col("method") === "pq")
      .select(col("k"), col("n_exact"), col("n_hit").as("pq_n_hit"),
        col("recall").as("pq_recall"))
    val t = d.filter(col("method") === "pq_t")
      .select(col("k"), col("recall").as("t_recall"))
    pq.join(t, Seq("k"))
      .select(col("k"), col("n_exact"), col("pq_n_hit"), col("pq_recall"),
        // 'na' (not NULL) below the claim k: a NULL boolean round-trips
        // as None vs NaN through the two engines' comparison paths and
        // hash-mismatches even when both sides agree
        when(col("k") === lit(RecallKs.max.toLong),
          when(col("t_recall") >= col("pq_recall") - TrainedRecallMargin
            - lit(1.0) / col("n_exact"), "true").otherwise("false"))
          .otherwise("na")
          .as("trained_within_margin"))
  }

  /** Full per-method recall table for the trained-vs-synthetic pair —
    * trained values are codebook-dependent; spec-only. */
  def annRecallTrainedDetail(spark: SparkSession, sfDir: String): DataFrame =
    recallTable(spark, sfDir, Seq(
      "pq" -> embeddingAnnPq(spark, sfDir),
      "pq_t" -> embeddingAnnPqTrained(spark, sfDir)))

  private def recallTable(spark: SparkSession, sfDir: String,
                          methodSets: Seq[(String, DataFrame)]): DataFrame = {
    import spark.implicits._
    val exact = embeddingTopK(spark, sfDir)
      .select(col("q_id"), col("vec_id"), col("rank").as("e_rank"))
    val approx = methodSets
      .map { case (m, d) =>
        d.select(lit(m).as("method"), col("q_id"), col("vec_id"),
          col("rank").as("a_rank"))
      }.reduce(_ union _)
    val ks = broadcast(RecallKs.toDF("k").select(col("k").cast("long").as("k")))
    val hits = approx.join(exact, Seq("q_id", "vec_id"))
      .join(ks, col("a_rank") <= col("k") && col("e_rank") <= col("k"))
      .groupBy("method", "k").agg(count(lit(1)).as("n_hit"))
    val denom = exact.join(ks, col("e_rank") <= col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_exact"))
    val grid = methodSets.map(_._1).toDF("method").crossJoin(ks)
    grid.join(hits, Seq("method", "k"), "left")
      .join(denom, Seq("k"))
      .select(col("method"), col("k"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"), col("n_exact"),
        round(coalesce(col("n_hit"), lit(0L)) / col("n_exact"), 6)
          .as("recall"))
  }

  /** Approximate top-k: candidates restricted to the query's LSH bucket
    * (equi-join on bucket id — never Q×N), then exact cosine within. */
  def embeddingAnnLsh(spark: SparkSession, sfDir: String): DataFrame =
    cached(spark, sfDir, "ann_lsh")(embeddingAnnLshUncached(spark, sfDir))

  private def embeddingAnnLshUncached(spark: SparkSession,
                                      sfDir: String): DataFrame = {
    val b = vectors(spark, sfDir).withColumn("bucket", bucketOf(col("v")))
    val q = b.filter(isQueryVec(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("n2").as("qn2"), col("bucket").as("q_bucket"))
    val scored = b.join(broadcast(q),
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        dot(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2"))))
    rankTopK(scored)
  }
}
