package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CCNet-style statistical language-model quality scoring: train a
  * bigram LM on the corpus itself, score every document by its average
  * per-bigram log-probability, and flag the tail. Low average log-prob =
  * the document's word transitions are unusual for the corpus =
  * gibberish / boilerplate / wrong-language candidates.
  *
  * Float discipline: ln() is NOT bit-identical across engines (JVM
  * Math.log vs DuckDB's libm differ at the ulp level — measured on this
  * container for the BM25/tf-idf work, see TextAnalysis.topTerms). So
  * each bigram TYPE's log-prob is quantized ONCE to integer micro-nats
  * (floor(ln(cb/cu)·1e6)) and everything downstream — per-doc sums, the
  * pass flag's threshold comparison — is exact integer arithmetic,
  * order-independent under any aggregation schedule. The only residual
  * cross-engine risk is a ulp difference landing exactly on a 1e-6 floor
  * boundary (~1e-13 per bigram type).
  *
  * Scale posture (100 TB): the model is bigram-TYPE-sized (vocab²-bounded,
  * ≪ corpus — web-scale corpora yield ~10⁸ types from ~10¹² tokens), built
  * with one partial-aggregable groupBy; the context rollup is vocab-sized.
  * Scoring joins the per-occurrence stream against the model on the bigram
  * key — broadcast when the model fits, plain equi-shuffle when it
  * doesn't — and the per-doc rollup is partial-aggregable integer sums.
  * Nothing is ever collected to the driver.
  */
object LangModel {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Tables.load(spark, sfDir, "documents")

  /** Micro-nat quantization factor for per-bigram-type log-probs. */
  val LmMicro = 1000000L
  /** Pass threshold: average bigram log-prob ≥ -3.4 nats (ln(1/31) ≈
    * -3.43 is the uniform-transition floor on the 31-term testdata vocab,
    * so docs with typical transitions clear it and uniform word salad
    * doesn't), evaluated integer-exactly as
    * lm_micro_sum ≥ [[PassAvgMicroNats]] · n_bigrams. */
  val PassAvgMicroNats = -3400000L

  /** The "w1 w2" bigram array of a token-array column — ONE definition
    * shared by the batch scorer, the model builder, and the streaming
    * twin so the gram rule cannot drift. */
  def bigramsOf(toks: Column): Column =
    transform(sequence(lit(0), size(toks) - 2),
      i => concat(element_at(toks, i + 1), lit(" "),
        element_at(toks, i + 2)))

  /** One row per bigram occurrence: (doc_id, bg = "w1 w2"). */
  private def bigramOccurrences(d: DataFrame): DataFrame =
    d.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(bigramsOf(col("toks"))).as("bg"))

  /** The trained model: (bg, lp_micro) — MLE log P(w2|w1) per bigram
    * TYPE, quantized to integer micro-nats. cb ≥ 1 by construction when
    * scoring the training corpus itself, so no smoothing term is needed;
    * a stream scored against this model handles unseen bigrams with the
    * OOV penalty instead ([[graft.streaming.PipelineStreams.lmScoreStream]]).
    *
    * Session-scoped persist-once (the [[Dedup.verifiedPairs]] scheme):
    * the model build is the query tree's SECOND full corpus tokenize +
    * explode — without the persist the batch scorer scans the corpus
    * twice per run, and the streaming gate rebuilds the model per
    * restart. Multi-consumer by design (batch query, stream gate, every
    * bench repeat). */
  def lmModel(spark: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.cached(spark, sfDir, "lm_model") {
      val model = bigramOccurrences(docs(spark, sfDir))
        .groupBy("bg").agg(count(lit(1)).as("cb"))
        .withColumn("w1", split(col("bg"), " ").getItem(0))
      val ctx = model.groupBy("w1").agg(sum("cb").as("cu"))
      model.join(ctx, Seq("w1"))
        .select(col("bg"),
          floor(log(col("cb").cast("double") / col("cu")) * LmMicro)
            .as("lp_micro"))
    }

  /** Kept for callers of the per-module teardown: releases every
    * artifact of `spark` ([[graft.Artifacts.clear]]). */
  def clearCaches(spark: SparkSession): Unit = graft.Artifacts.clear(spark)

  /** Per-doc LM score table, session-scoped persist-once (r18): six
    * bench rows evaluate this subtree — its own query, lm_quality_buckets,
    * quality_signals, the DSIR ratio build, and importance_sample
    * (twice: the pass flags and the occurrence stream) — and each
    * evaluation is a full corpus tokenize + bigram explode + model join.
    * The scored table is the classic trained-scorer artifact (score the
    * corpus once, route every consumer through the table), charged as
    * its own bench row `artifact_lm_scores` with a variant-scoped drop. */
  def lmBigramScore(spark: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.cached(spark, sfDir, "lm_scores")(
      lmBigramScoreUncached(spark, sfDir))

  private def lmBigramScoreUncached(spark: SparkSession,
                                    sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val bgs = bigramOccurrences(d)
    val lp = lmModel(spark, sfDir)
    // no broadcast hint: AQE broadcasts the model when it's small (it is
    // here), and a web-scale model (~10⁸ types) must be allowed to take
    // the plain equi-shuffle instead of an OOM-forcing hint
    val perDoc = bgs.join(lp, Seq("bg"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("lp_micro").as("lm_micro_sum"))
    d.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_micro_sum"), lit(0L)).as("lm_micro_sum"))
      .withColumn("lm_avg_nats",
        round(col("lm_micro_sum").cast("double") / LmMicro /
          when(col("n_bigrams") === 0, lit(null))
            .otherwise(col("n_bigrams")), 6))
      .withColumn("pass_lm", col("n_bigrams") > 0 &&
        col("lm_micro_sum") >= lit(PassAvgMicroNats) * col("n_bigrams"))
  }

  /** CCNet-style per-language quality buckets (Wenzek et al. 2019): each
    * language's documents split into head / middle / tail TERCILES of the
    * LM score distribution — the standard curriculum for choosing how
    * much of each quality band enters training.
    *
    * Exactness: the per-doc score is quantized to an INTEGER
    * (avg micro-nats × 1000, floor division on the NEGATED non-negative
    * sum — `div`/`//` truncation only provably agrees cross-engine on
    * non-negative operands); tercile boundaries are cut on the
    * cumulative histogram with 3·cum ≥ k·n cross-multiplication, and
    * bucket assignment is integer comparison against the boundary
    * values. No float feeds any decision.
    *
    * Scale shape: the corpus side is ONE partial-aggregable groupBy on
    * (lang, score_q) — the shuffle carries the score HISTOGRAM, whose
    * size is bounded by distinct quantized scores, not rows. The
    * cumulative window runs over that bounded grid (the
    * hourly_anomalies moments pattern), thresholds broadcast back, and
    * the final bucket label is a scan-speed predicate. No corpus-sized
    * sort, no low-cardinality window funnel. */
  def lmQualityBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = lmBigramScore(spark, sfDir)
      .join(docs(spark, sfDir).select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .withColumn("score_q", when(col("n_bigrams") > 0,
        -expr("(-lm_micro_sum) * 1000 div n_bigrams")))
      .select(col("doc_id"), col("lang"), col("score_q"))
    val hist = s.filter(col("score_q").isNotNull)
      .groupBy("lang", "score_q").agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum", sum("c").over(
        Window.partitionBy("lang").orderBy("score_q")))
      .withColumn("n", sum("c").over(Window.partitionBy("lang")))
    val th = cum.groupBy("lang").agg(
      min(when(col("cum") * 3 >= col("n"), col("score_q"))).as("t1"),
      min(when(col("cum") * 3 >= col("n") * 2, col("score_q"))).as("t2"))
    s.join(broadcast(th), Seq("lang"), "left")
      .withColumn("bucket",
        when(col("score_q").isNull, lit("unscored"))
          .when(col("score_q") <= col("t1"), lit("tail"))
          .when(col("score_q") <= col("t2"), lit("middle"))
          .otherwise(lit("head")))
      .select(col("doc_id"), col("lang"), col("score_q"), col("bucket"))
  }
}
