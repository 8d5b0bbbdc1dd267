package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis.tokens

/** Corpus-composition operators for a training-data pipeline: mix
  * planning (what share each stratum should contribute) and deterministic
  * stratified downsampling (applying those rates reproducibly).
  *
  * Scale posture (100 TB):
  *  - the plan is ONE partial-aggregable groupBy over a low-cardinality
  *    stratum key (languages/sources number in the dozens), so the shuffle
  *    carries per-stratum partial sums, never rows;
  *  - the sampling decision is a pure per-row hash predicate joined with
  *    the broadcast plan table — the corpus is never shuffled, the filter
  *    runs at scan speed, and the SAME decision reproduces on re-runs,
  *    across engines, and across retries (hash-mod sampling, the standard
  *    reproducible alternative to rand()-based Bernoulli sampling).
  *
  * Hash portability: the sampling hash is [[Dedup.hash32]] (first 8 md5
  * hex chars), bit-identical in Spark and the DuckDB oracle.
  */
object Sampling {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Tables.load(spark, sfDir, "documents")

  /** Salt namespacing the sampling hash — reusing the raw doc_id hash in
    * another sampler would correlate the two samples. Shared with the
    * generated oracle SQL. */
  val SampleSalt = "strat|"

  /** Sampling-rate resolution: rates are applied as integer bucket
    * thresholds out of this many buckets (floor(rate·10⁴) exact on both
    * engines — the double division producing `rate` is the same IEEE
    * operation on the same integer inputs in Spark and DuckDB). */
  val SampleBuckets = 10000

  /** Per-language training-mix plan: document/token counts, corpus
    * shares, and the deterministic downsampling rate that would equalize
    * DOCUMENT counts across languages (rate = min(1, target/n_docs) with
    * target = total/n_languages — the dominant language is downsampled,
    * minority languages are kept whole; the standard first step of
    * rebalancing a web corpus).
    *
    * Session-scoped persist-once (r18): the one corpus tokenize pass
    * behind this tiny per-language table was evaluated by THREE bench
    * rows (its own query, stratified_sample via [[samplePlan]], and the
    * curation decision build). One materialization per (session, sfDir),
    * charged as its own bench row `artifact_source_mix` with a
    * variant-scoped drop — the production shape: the mix plan is
    * published once per corpus snapshot and every sampler reads it. */
  def sourceMixPlan(spark: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.cached(spark, sfDir, "source_mix")(
      sourceMixPlanUncached(spark, sfDir))

  private def sourceMixPlanUncached(spark: SparkSession,
                                    sfDir: String): DataFrame = {
    val perLang = docs(spark, sfDir)
      .withColumn("n_toks", size(tokens(col("text"))).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
    // corpus totals via a broadcast 1-row aggregate instead of a global
    // window: same values, but no single-partition WindowExec (and no
    // bench-tail WARN) even on the tiny per-language frame
    val totals = perLang.agg(
      sum("n_docs").as("tot_docs"), sum("n_tokens").as("tot_tokens"),
      count(lit(1)).as("n_langs"))
    perLang.crossJoin(broadcast(totals))
      .withColumn("doc_share",
        round(col("n_docs").cast("double") / col("tot_docs"), 6))
      .withColumn("tok_share",
        round(col("n_tokens").cast("double") / col("tot_tokens"), 6))
      .withColumn("rate_raw",
        least(lit(1.0d),
          (col("tot_docs").cast("double") / col("n_langs")) / col("n_docs")))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        col("doc_share"), col("tok_share"),
        round(col("rate_raw"), 6).as("sample_rate"))
  }

  /** The plan reduced to its decision columns: (lang, keep_below) with
    * keep_below = floor(rate·buckets). ONE definition shared by the batch
    * and streaming samplers so the threshold rule cannot drift. */
  def samplePlan(spark: SparkSession, sfDir: String): DataFrame =
    sourceMixPlan(spark, sfDir)
      .select(col("lang"),
        floor(col("sample_rate") * SampleBuckets).cast("long").as("keep_below"))

  /** Apply the deterministic decision to any doc frame (batch or stream):
    * stable salted hash bucket in [0, buckets), kept iff bucket <
    * keep_below for the row's language. Adds bucket/keep_below/sampled.
    *
    * LEFT join (r17 operators review #1): the streaming caller applies a
    * plan trained on a separate reference corpus, so a doc in a language
    * the plan has never seen must still get its decision row — an inner
    * join silently dropped it (neither sampled=true nor false). The
    * default is KEEP (keep_below = the full bucket range): an unseen
    * language has zero reference docs, and the plan's balancing rate
    * (tot/n_langs)/n_docs → capped at 1 as n_docs → 0, so keep-all IS
    * the plan's own limit. Batch callers build the plan from the same
    * corpus (every lang present), where left ≡ inner. */
  def applySampleDecision(docRows: DataFrame, plan: DataFrame): DataFrame =
    docRows
      .withColumn("bucket",
        Dedup.hash32(concat(lit(SampleSalt), col("doc_id"))) % SampleBuckets)
      .join(broadcast(plan), Seq("lang"), "left")
      .withColumn("keep_below",
        coalesce(col("keep_below"), lit(SampleBuckets.toLong)))
      .withColumn("sampled", col("bucket") < col("keep_below"))

  /** Deterministic stratified sample applying [[sourceMixPlan]]'s rates:
    * every document gets a stable hash bucket in [0, 10⁴) and is kept iff
    * bucket < floor(rate·10⁴) for its language. Per-doc decision output so
    * the oracle checks the whole decision, not just survivor counts. */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame =
    applySampleDecision(docs(spark, sfDir), samplePlan(spark, sfDir))
      .select(col("doc_id"), col("lang"), col("bucket"), col("sampled"))

  /** Token budget per training shard — sized so every testdata SF packs
    * several shards per language; shared with the generated oracle SQL. */
  val ShardTokenBudget = 2000L

  /** Pack documents into fixed-token-budget training shards, per language:
    * shard_id = floor(cumulative tokens of preceding docs / budget) in
    * (lang, doc_id) order — exactly the broker's segment-rotation rule
    * (`partition.rs:117-127`) applied to the pipeline domain, and computed
    * by the same scale-safe two-phase prefix operator
    * ([[graft.plans.OrderedIndex]]): no per-language window funnel, full
    * task parallelism, O(tasks × languages) driver prefix-sum. The output
    * is the writer's plan — at production scale it feeds
    * `repartition(shard_id)` + `write` to produce size-balanced training
    * files. */
  def shardPack(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
    graft.plans.OrderedIndex.withExclusivePrefix(
        d, Seq("lang"), Seq("doc_id"), Some("n_tokens"), "tokens_before")
      .withColumn("shard_id",
        floor(col("tokens_before") / lit(ShardTokenBudget)).cast("long"))
  }

  /** Execute [[shardPack]]'s plan: write the curated corpus to
    * `outDir/lang=<l>/shard_id=<s>/` with EXACTLY ONE parquet file per
    * shard — the size-balanced training-file layout the packer exists to
    * produce (each shard ≈ [[ShardTokenBudget]] tokens, the unit a data
    * loader streams).
    *
    * Scale: one hash repartition on the (lang, shard_id) write key —
    * every shard's rows land in exactly one task, so `partitionBy`
    * emits one file per shard directory with NO small-file spray (the
    * default path would write up-to-#tasks files per shard) and no
    * single-writer funnel: distinct shards write in parallel. Returns
    * the (lang, shard_id, n_docs, n_tokens) manifest. */
  def writeShards(spark: SparkSession, sfDir: String,
                  outDir: String): DataFrame = {
    val packed = shardPack(spark, sfDir)
      .join(docs(spark, sfDir).select(col("doc_id"), col("text")),
        Seq("doc_id"))
    packed
      .repartition(col("lang"), col("shard_id"))
      .write.mode("overwrite")
      .partitionBy("lang", "shard_id")
      .parquet(outDir)
    spark.read.parquet(outDir)
      // partition-dir type inference reads shard_id back as INT
      .withColumn("shard_id", col("shard_id").cast("long"))
      .groupBy("lang", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
  }

  /** Salt for the deterministic training-order permutation (versioned so
    * a reshuffle is an explicit salt bump, reproducible forever after). */
  val OrderSalt = "order_v1|"

  /** Deterministic global training-order shuffle: every document gets a
    * stable position in a seeded permutation of the whole corpus — the
    * data-ordering step before a training run (fixed seed → the exact
    * epoch order reproduces across reruns, backfills, and engines).
    *
    * Scale: ordering by a salted hash is a RANGE shuffle, and the dense
    * position comes from the same two-phase prefix operator as offset
    * assignment ([[graft.plans.OrderedIndex]], no group columns = one
    * global sequence) — full task parallelism, O(tasks) driver
    * prefix-sum, NO single-partition row_number funnel. At production
    * scale the positions feed `floor(pos / batch)` microbatch ids or the
    * shard writer directly. */
  def trainingOrder(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
      .select(col("doc_id"),
        Dedup.hash32(concat(lit(OrderSalt), col("doc_id"))).as("shuffle_key"))
    graft.plans.OrderedIndex.withExclusivePrefix(
      d, Seq(), Seq("shuffle_key", "doc_id"), None, "shuffle_pos")
  }

  /** Fixed sequence length for [[sequencePack]] (tokens per training
    * sequence, the model's context window in this toy geometry) and the
    * per-document EOS separator cost — shared with the oracle SQL. */
  val SeqLen = 512L
  val SeqSepTokens = 1L

  /** GPT-style sequence packing: concatenate the corpus (one EOS
    * separator after each document) and chunk the token stream into
    * fixed-[[SeqLen]] training sequences — the zero-padding packing used
    * for LLM pretraining (documents SPAN sequence boundaries; only the
    * final sequence has tail padding). The per-doc output is the data
    * loader's manifest: global token offset, first/last sequence id, the
    * offset inside the first sequence, and how many sequences the doc
    * spans. Deterministic in doc_id order; compose with [[trainingOrder]]
    * upstream when a seeded shuffle should drive the concatenation order.
    *
    * This is NOT [[shardPack]]: shards are per-language FILE units a
    * loader streams (docs never split); sequences are global SAMPLE units
    * the model consumes (docs split at exact token boundaries).
    *
    * Scale: the global exclusive prefix comes from the same two-phase
    * [[graft.plans.OrderedIndex]] operator as offset assignment — a range
    * exchange on doc_id plus an O(tasks) driver prefix-sum, no
    * single-partition window funnel; everything after the prefix is
    * per-row integer arithmetic at scan speed. */
  def sequencePack(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
      .select(col("doc_id"),
        (size(tokens(col("text"))).cast("long") + SeqSepTokens)
          .as("n_tok_sep"))
    graft.plans.OrderedIndex.withExclusivePrefix(
        d, Seq(), Seq("doc_id"), Some("n_tok_sep"), "tokens_before")
      .withColumn("first_seq", floor(col("tokens_before") / SeqLen))
      .withColumn("last_seq",
        floor((col("tokens_before") + col("n_tok_sep") - 1) / SeqLen))
      .select(col("doc_id"), col("n_tok_sep"), col("tokens_before"),
        col("first_seq"),
        (col("tokens_before") % SeqLen).as("seq_offset"),
        (col("last_seq") - col("first_seq") + 1).as("seqs_spanned"))
  }

  /** Context-window chunk size and stride, in whitespace tokens. Stride <
    * window → consecutive chunks overlap by window − stride tokens (the
    * standard eval/embedding chunking so no span longer than the overlap
    * is ever split across every chunk containing it). Oracle SQL is
    * generated from these same constants. */
  val ChunkWindow = 64
  val ChunkStride = 48

  /** Fixed-window overlapping chunking of each document's token stream —
    * the chunk manifest an embedding/eval pipeline consumes (RAG
    * indexing, long-doc eval): one row per (doc, window start), with the
    * chunk's exact token span and an md5 fingerprint of its joined tokens
    * (exact-dedup-ready at chunk granularity).
    *
    * Chunks start at 0, stride, 2·stride, … while the start is inside
    * the document; the final chunk is the natural tail (n − start
    * tokens, ≤ window) — no padding, no dropped remainder, so
    * Σ n_chunk_tokens is reconstructible and deterministic.
    *
    * This is NOT [[sequencePack]]: packing concatenates the corpus and
    * splits at global boundaries for pretraining (docs span sequences);
    * chunking stays inside each document and overlaps windows for
    * retrieval/eval (sequences never cross docs).
    *
    * Scale: zero shuffle — a projection plus one Generate per doc
    * (ceil(n/stride) rows), everything codegen'd integer arithmetic and
    * narrow string ops at scan speed; at 100 TB this is a pure map. */
  def chunkWindows(spark: SparkSession, sfDir: String): DataFrame = {
    val w = lit(ChunkWindow.toLong); val s = ChunkStride.toLong
    docs(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      // n_tokens ≥ 1 always (split never yields an empty array), so the
      // sequence is non-empty and every doc emits ≥ 1 chunk
      .withColumn("tok_start",
        explode(sequence(lit(0L), col("n_tokens") - 1, lit(s))))
      .withColumn("chunk_idx", floor(col("tok_start") / s).cast("long"))
      .withColumn("n_chunk_tokens",
        least(w, col("n_tokens") - col("tok_start")))
      .withColumn("chunk_md5",
        md5(array_join(
          slice(col("toks"), (col("tok_start") + 1).cast("int"),
            lit(ChunkWindow)), " ")))
      .select("doc_id", "chunk_idx", "tok_start", "n_chunk_tokens",
        "chunk_md5")
  }

  /** Per-language top-k documents by composite quality score (the
    * "curate the best docs per stratum" sampler): reuses the
    * [[graft.functions.TopK]] bounded aggregate, so map-side combine caps
    * every task's shuffle contribution at k rows per language — no
    * low-cardinality window funnel (same scale argument as
    * `order_priority_rank`). quality_score is the round-6 value already
    * hash-proven identical across engines by `text_stats`, so ranking on
    * (score desc, doc_id asc) is parity-safe. */
  val QualityTopK = 5

  def qualityTopkSample(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.textStats(spark, sfDir)
      .groupBy("lang")
      .agg(graft.functions.TopK.top_k_structs(
        struct(
          // a NULL score (empty text → 0/0 → NULL on both engines) must
          // rank LAST like the oracle's ORDER BY ... DESC (DuckDB defaults
          // NULLS LAST), but the struct's natural ordering puts NULL
          // first-ascending — so sort on a null-coalesced key and carry
          // the real score as payload
          coalesce(-col("quality_score"), lit(Double.PositiveInfinity))
            .as("neg_qs"),
          col("doc_id").as("doc_id"),
          col("quality_score").as("qs")), QualityTopK).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("qrank"),
        col("s.doc_id").as("doc_id"),
        col("s.qs").cast("double").as("quality_score"))

  // ---- DSIR importance resampling (shared with the oracle SQL) ----
  /** Hashed-bigram feature-space size (DSIR hashes n-grams into a fixed
    * bucket count so the two distribution estimates are bounded-size
    * regardless of corpus vocabulary). */
  val DsirBuckets = 4096
  /** Resample size — how many documents the Gumbel top-k draw keeps. */
  val DsirK = 150
  /** Salt namespacing the Gumbel-uniform hash (correlating it with the
    * stratified sampler's hash would couple the two draws). */
  val DsirSalt = "dsir|"

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023):
    * estimate bag-of-hashed-bigram distributions for a TARGET corpus and
    * for the raw base corpus, weight every document by its log importance
    * ratio Σ_f [ln p̂_target(f) − ln p̂_base(f)], and draw a
    * without-replacement sample of [[DsirK]] docs proportional to the
    * weights via the Gumbel-top-k trick. The standard method for tilting
    * a web-scale crawl toward a quality/domain target without a trained
    * classifier. The target here is the corpus' own LM-quality pass set
    * ([[LangModel.lmBigramScore]]'s `pass_lm`) — the paper's
    * "high-quality reference corpus" role; bigram features are the
    * paper's n=2 hashed n-grams, built from the SAME
    * [[LangModel.bigramsOf]] gram rule as the LM so the two feature
    * spaces cannot drift.
    *
    * Smoothing: Laplace +1 over the OCCUPIED base support (denominator
    * N + V with V = distinct base features), not the full hash space —
    * with a +B denominator the target/base inflation mismatch puts a
    * per-token constant into every ratio and the weights degenerate into
    * a document-LENGTH ranking; with +V the distortion is
    * O(V/N) per token and the ratio measures distribution similarity.
    *
    * Exactness discipline (the [[LangModel]] scheme): each FEATURE's
    * smoothed log-prob is quantized once to integer micro-nats
    * (floor(ln·10⁶)); per-doc weights are exact integer sums of the
    * per-feature ratio, order-independent under any aggregation
    * schedule. The Gumbel key is also integer micro-nats from a
    * deterministic salted-hash uniform — floor(−ln(−ln((h+0.5)/2³²))·10⁶)
    * — so the draw reproduces across engines, retries, and reruns; the
    * final selection is an integer (key, doc_id) top-k.
    *
    * Scale posture (100 TB): both distribution estimates are
    * partial-aggregable groupBys whose shuffle carries at most
    * [[DsirBuckets]] rows; the ratio table is feature-space-sized and
    * broadcast into the bigram-occurrence stream; the per-doc rollup is a
    * partial-aggregable integer sum; and the top-k is
    * TakeOrderedAndProject — per-task top-[[DsirK]], driver merges
    * tasks×k rows. No corpus-sized sort, nothing collected. */
  /** One row per hashed-bigram occurrence: (doc_id, pass_lm, f). The
    * bigram rule is [[LangModel.bigramsOf]], the target flag is the LM
    * pass set — shared by the ratio estimate and the weight pass. */
  private def dsirOcc(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.LangModel.bigramsOf
    val pass = LangModel.lmBigramScore(spark, sfDir)
      .select(col("doc_id"), col("pass_lm"))
    docs(spark, sfDir)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(bigramsOf(col("toks"))).as("bg"))
      .select(col("doc_id"), (Dedup.hash32(col("bg")) % DsirBuckets).as("f"))
      .join(pass, Seq("doc_id"))
  }

  /** Kept for callers of the per-module teardown: releases every
    * artifact of `spark` ([[graft.Artifacts.clear]]). */
  def clearCaches(spark: SparkSession): Unit = graft.Artifacts.clear(spark)

  /** The trained DSIR artifact: (f, lr_micro) — per-feature integer
    * micro-nat log ratio ln p̂_target(f) − ln p̂_base(f), smoothed over
    * the occupied base support. Bounded by [[DsirBuckets]] rows, so it
    * broadcasts; [[importanceSample]] consumes it in-plan and the
    * streaming twin scores an unbounded stream against it (train-once,
    * score-forever — the production deployment shape).
    *
    * Persist-once registry entry: the streaming
    * scorer re-executes its static subtree per micro-batch, and the batch
    * `importance_sample` consumes the table too; training (two corpus
    * groupBys) must run once per (session, base). */
  def dsirRatioTable(spark: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.cached(spark, sfDir, "dsir_ratio")(
      dsirRatioTableUncached(spark, sfDir))

  private def dsirRatioTableUncached(spark: SparkSession,
                                     sfDir: String): DataFrame = {
    import graft.operators.LangModel.LmMicro
    // ONE aggregation pass (r17, guide §2.3 "aggregate before you
    // shuffle" / §2.4): the old shape evaluated the occurrence subtree —
    // corpus scan + bigram explode + LM-pass join — FOUR times (base
    // counts, target counts, totals, support; 26 jobs for a 3 MB-shuffle
    // build in the r17 structural profile). Both counts are one
    // conditional aggregate per feature, and the totals/support are exact
    // functions OF that per-feature table: nb = Σcb, nt = Σct (a doc's
    // pass_lm is constant across its occurrences, so counting pass rows
    // equals the old filtered count), v = |{f}|. Values are integer-exact
    // identical; the occurrence pipeline now runs once.
    val occ = dsirOcc(spark, sfDir)
    val perF = occ.groupBy("f").agg(
      count(lit(1)).as("cb"),
      count(when(col("pass_lm"), 1)).as("ct"))
    val totals = perF.agg(
      sum(col("cb")).as("nb"), sum(col("ct")).as("nt"),
      count(lit(1)).as("v"))
    perF.crossJoin(broadcast(totals))
      .select(col("f"),
        (floor(log((col("ct") + 1).cast("double") /
            (col("nt") + col("v"))) * LmMicro) -
          floor(log((col("cb") + 1).cast("double") /
            (col("nb") + col("v"))) * LmMicro)).cast("long").as("lr_micro"))
  }

  def importanceSample(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.LangModel.LmMicro
    val d = docs(spark, sfDir)
    val pass = LangModel.lmBigramScore(spark, sfDir)
      .select(col("doc_id"), col("pass_lm"))
    // lr is bounded by DsirBuckets rows — AQE broadcasts it into the
    // occurrence stream, so the weight pass is scan + map-side-combine
    val w = dsirOcc(spark, sfDir).join(dsirRatioTable(spark, sfDir), Seq("f"))
      .groupBy("doc_id").agg(sum("lr_micro").as("w_micro"))
    d.select(col("doc_id"))
      .join(pass, Seq("doc_id"))
      .join(w, Seq("doc_id"), "left")
      .withColumn("w_micro", coalesce(col("w_micro"), lit(0L)))
      .withColumn("key_micro", col("w_micro") +
        floor(-log(-log(
            (Dedup.hash32(concat(lit(DsirSalt), col("doc_id")))
              .cast("double") + 0.5d) / 4294967296.0d)) * LmMicro)
          .cast("long"))
      .orderBy(col("key_micro").desc, col("doc_id"))
      .limit(DsirK)
      .select(col("doc_id"), col("pass_lm"), col("w_micro"), col("key_micro"))
  }
}
