package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over `documents`:
  * normalization, token counting, quality scoring, language ID,
  * fingerprinting. All are narrow per-row transforms (no shuffle except the
  * final aggregations) built from codegen'd `functions._` — at 100 TB these
  * run at scan speed inside WholeStageCodegen.
  */
object TextAnalysis {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Tables.load(spark, sfDir, "documents")

  /** Canonical normalization shared by every text operator (and the
    * DuckDB oracle): collapse whitespace, trim, lowercase. */
  def normText(c: Column): Column =
    // explicit class, not \s: Java's \s matches vertical tab but DuckDB's
    // RE2 \s does not — the shared normalization must collapse the same
    // characters on both engines or every text-derived hash diverges
    lower(trim(regexp_replace(c, "[ \\t\\n\\r\\f]+", " ")))

  /** Whitespace tokens of the normalized text. */
  def tokens(c: Column): Column = split(normText(c), " ")

  /** Per-document stats + a composite quality score (length, word length,
    * punctuation/digit ratios, distinct-word ratio) — the usual cheap
    * pre-training quality filters. Ratios rounded to 6 for oracle parity. */
  def textStats(spark: SparkSession, sfDir: String): DataFrame = {
    val t = tokens(col("text"))
    docs(spark, sfDir)
      .withColumn("n_chars_norm", length(normText(col("text"))).cast("long"))
      .withColumn("n_words", size(t).cast("long"))
      .withColumn("n_distinct_words", size(array_distinct(t)).cast("long"))
      .withColumn("avg_word_len",
        round((col("n_chars_norm") - (col("n_words") - 1)).cast("double")
          / col("n_words"), 6))
      .withColumn("punct_ratio",
        round(((length(col("text")) -
          length(regexp_replace(col("text"), "[\\.,;:!\\?'\"]", ""))).cast("double"))
          / length(col("text")), 6))
      .withColumn("distinct_ratio",
        round(col("n_distinct_words").cast("double") / col("n_words"), 6))
      .withColumn("quality_score",
        round(least(col("n_words").cast("double") / 100d, lit(1d)) * 0.4
          + col("distinct_ratio") * 0.4
          + (lit(1d) - col("punct_ratio")) * 0.2, 6))
      .select(col("doc_id"), col("lang"), col("n_chars_norm"), col("n_words"),
        col("n_distinct_words"), col("avg_word_len"), col("punct_ratio"),
        col("distinct_ratio"), col("quality_score"))
  }

  /** Unicode plants prepended per doc by [[normalizeText]], selected by
    * doc_id % 4 (shared with the oracle SQL): decomposed e+COMBINING ACUTE
    * and A+COMBINING RING (NFC composes them — the char count shrinks),
    * precomposed É plus the ﬁ ligature (NFC preserves both: canonical
    * composition is not NFKC compatibility folding), and the empty plant
    * for the untouched-ASCII case. */
  val NormPlants: Seq[String] =
    Seq("Cafe\u0301 ", "A\u030Arhus ", "\u00C9lan \uFB01n ", "")

  /** Unicode text normalization — the canonicalization pass a multi-source
    * corpus needs BEFORE any hash-based dedup (the same word arrives
    * precomposed from one crawl and decomposed from another; without NFC
    * every downstream fingerprint silently treats them as different text):
    * NFC-compose, unicode-aware lowercase, fold every non-letter/non-digit
    * run (unicode classes, not ASCII) to one space, trim. The synthetic
    * corpus is pure-ASCII word salad, so (as with `pii_scrub`'s planted
    * PII) deterministic unicode plants are prepended identically on both
    * engines; the md5 of the fully-normalized text is the verified output.
    *
    * Plan: single scan, zero shuffles — the NFC kernel ([[TextHashes
    * .NfcNormalize]], with an isNormalized fast path so already-NFC text
    * is not rewritten) and codegen'd lower/regexp/md5 run per row at scan
    * speed. At 100 TB this is embarrassingly parallel. */
  def normalizeText(spark: SparkSession, sfDir: String): DataFrame = {
    val plant = element_at(
      array(NormPlants.map(lit): _*),
      (col("doc_id") % NormPlants.size + 1).cast("int"))
    docs(spark, sfDir)
      .withColumn("raw", concat(plant, col("text")))
      .withColumn("nf", graft.functions.TextHashes.nfc(col("raw")))
      .withColumn("folded",
        trim(regexp_replace(lower(col("nf")), "[^\\p{L}\\p{N}]+", " ")))
      .select(col("doc_id"),
        length(col("raw")).cast("long").as("n_chars_raw"),
        length(col("nf")).cast("long").as("n_chars_nfc"),
        length(col("folded")).cast("long").as("n_chars_norm"),
        md5(col("folded")).as("norm_md5"))
  }

  /** Token counting two ways: whitespace words and a BPE-ish regex
    * tokenization (letter runs / digit runs / single punctuation), plus a
    * crude byte-per-token estimate. */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .withColumn("n_ws_tokens", size(tokens(col("text"))).cast("long"))
      // One-pass state-machine kernel, not regexp_count: the pattern's
      // classes are disjoint, so greedy alternation ≡ run-length counting
      // (each maximal a-z / digit run = 1, other non-space code point
      // = 1), and the regex scan WAS this row's whole cost at the 100x
      // decade (pure per-doc scan, no shuffle). Value-identical to
      // |regexp_extract_all(ntext, '[a-z]+|[0-9]+|[^a-z0-9 ]')| on both
      // engines — spec-pinned against the regexp form in TextHashesSpec.
      .withColumn("n_bpe_tokens",
        graft.functions.TextHashes.bpe_count(normText(col("text"))))
      .withColumn("bytes_per_token",
        round(octet_length(col("text")).cast("double") / col("n_bpe_tokens"), 6))
      .select(col("doc_id"), col("n_ws_tokens"), col("n_bpe_tokens"),
        col("bytes_per_token"))

  /** Stopword tables for the n-gram/stopword language-ID heuristic.
    * Deliberately tiny and public-knowledge (most-frequent function words). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "with"),
    "de" -> Seq("der", "die", "und", "das", "ist", "mit", "von", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "dans", "que"),
    "es" -> Seq("el", "la", "los", "que", "es", "con", "por", "una"))

  /** Language ID: count stopword-token occurrences per language, argmax
    * with deterministic tie-break (max hits, then language code asc; 'und'
    * on zero hits). Mirrors the oracle SQL expression-for-expression. */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val langs = stopwords.keys.toSeq.sorted
    val hitsArr = graft.functions.TextHashes.stopword_hits(
      tokens(col("text")), langs.map(stopwords))
    val scored = docs(spark, sfDir)
      .withColumn("hits_all", hitsArr)
      .select(col("*") +: langs.zipWithIndex.map { case (lang, i) =>
        element_at(col("hits_all"), i + 1).as(s"hits_$lang")
      }: _*)
    val mx = greatest(langs.map(l => col(s"hits_$l")): _*)
    val pred = langs.foldRight(lit("und")) { (l, acc) =>
      when(col(s"hits_$l") === col("mx"), lit(l)).otherwise(acc)
    }
    scored
      .withColumn("mx", mx)
      .withColumn("pred_lang", when(col("mx") > 0, pred).otherwise(lit("und")))
      .select(col("doc_id"), col("lang"), col("pred_lang"),
        col("mx").as("stopword_hits"))
  }

  /** Language-ID accuracy rollup (grouped agreement with the labeled
    * `lang` column) — the aggregate the driver can oracle-check. */
  def langIdEval(spark: SparkSession, sfDir: String): DataFrame =
    langId(spark, sfDir)
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n_docs"))

  /** Session-scoped persist-once of the (doc_id, term, term_count) table —
    * THE inverted-index artifact: the token explode over the corpus is the
    * most expensive scan in the text family, and every term-statistics
    * consumer (per-doc top-k AND corpus doc-freq below, any future BM25 /
    * posting-list op) derives from this one materialization per
    * (session, sfDir). Same scheme and fingerprinted cache key as
    * [[Dedup.verifiedPairs]]. This is a
    * MULTI-consumer cache (two aggregation branches in `top_terms` alone),
    * not the sole-consumer kind that would blind the bench's per-query
    * regression guard. */
  def termCounts(spark: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.cached(spark, sfDir, "term_counts")(
      // Data-proportional explicit repartition on the grouping key
      // (r13 verdict #4): the repartition IS the aggregation's exchange
      // (hash partitioning on the full grouping key satisfies the agg's
      // required distribution — no second shuffle), sized from the
      // backing table instead of the cpus-pinned session default that
      // degraded the 100x run to sort spill. At sf0.1 the sizing floors
      // at the session default, so small-scale plans are unchanged.
      {
        val wide = Dedup.buildShufflePartitions(spark, sfDir)
        // NO spreadIfNarrow (r17 A/B): the tokenize+explode kernel here is
        // too cheap to beat the extra exchange (0.65 → 0.75 s same-window)
        docs(spark, sfDir)
          .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
          .repartition(wide, col("doc_id"), col("term"))
          .groupBy("doc_id", "term")
          .agg(count(lit(1)).as("term_count"))
          // The WIDE partition count is for the aggregation (sort/spill
          // safety on the exploded input); the CACHED artifact must not
          // inherit it — at the 100x decade the 1.6k-partition cache made
          // every consumer pay ~1.6k task launches per pass (tfidf_vectors
          // 5.1 -> 10.7 s, vocab_coverage 2.7 -> 5.9 s in the sf10 gate).
          // coalesce(wide/8) folds the post-agg output (~1/20 the exploded
          // volume) into consumer-sized partitions WITHOUT a new shuffle
          // and without changing the map-side spill profile; at small
          // scale wide == the session floor and the coalesce is identity.
          .coalesce(math.max(spark.sessionState.conf.numShufflePartitions,
            wide / 8))
      })

  // ---- hashed TF-IDF featurization ----
  /** Feature-hashing dimension: terms fold into a FIXED bucket count, so
    * the idf table is D rows (broadcastable at any corpus size) instead
    * of vocab-sized — the hashing-trick trade every large-scale text
    * featurizer makes (collisions merge rare terms; idf comes from the
    * bucket's pooled document frequency). */
  val TfidfBuckets = 256L

  /** Hashed TF-IDF featurization — text → fixed-dimension weighted
    * vector, the bridge from the posting-list family into the vector
    * family (hash-bucket tf × bucket idf; weights in integer micro-nats
    * so per-doc sums are order-independent, the LM discipline). Output is
    * the per-doc feature summary (nnz, L1 mass, argmax feature with
    * low-bucket tie-break) — integer-exact except the idf quantization,
    * which both engines compute as floor(ln((N+1)/(df+1))·1e6)+1e6 from
    * identical integer inputs.
    *
    * Scale: one pass over the persist-once [[termCounts]] artifact into
    * a (doc, bucket) partial-aggregable rollup (≤ D rows per doc reach
    * the exchange), a D-row idf table broadcast back, and one final
    * per-doc aggregate. The corpus is never joined against a vocab-sized
    * side. */
  def hashedTfidf(spark: SparkSession, sfDir: String): DataFrame = {
    val tc = termCounts(spark, sfDir)
    val db = tc
      .withColumn("bucket", Dedup.hash32(col("term")) % TfidfBuckets)
      .groupBy("doc_id", "bucket")
      .agg(sum("term_count").cast("long").as("tf"))
    val bdf = db.groupBy("bucket").agg(count(lit(1)).as("bdf"))
    val n = docs(spark, sfDir).agg(count(lit(1)).as("n_docs"))
    val idf = bdf.crossJoin(broadcast(n))
      .withColumn("idf_micro",
        (floor(log((col("n_docs") + 1).cast("double") /
          (col("bdf") + 1).cast("double")) * graft.operators.LangModel.LmMicro)
          + graft.operators.LangModel.LmMicro).cast("long"))
      .select("bucket", "idf_micro")
    db.join(broadcast(idf), Seq("bucket"))
      .withColumn("w_micro", col("tf") * col("idf_micro"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("nnz"),
        sum("w_micro").cast("long").as("l1_micro"),
        max(struct(col("w_micro"), (-col("bucket")).as("nb"))).as("top"))
      .select(col("doc_id"), col("nnz"), col("l1_micro"),
        (-col("top.nb")).cast("long").as("top_bucket"),
        col("top.w_micro").as("top_w_micro"))
  }

  /** The D-element idf table as a plain array (index = bucket), for the
    * STATELESS streaming featurizer: D is fixed and small, so the whole
    * idf model ships as a literal in the plan (the bloom-gate trade).
    * Buckets no base doc touched get the unseen-bucket idf
    * (floor(ln(N+1)·1e6)+1e6, i.e. df = 0) rather than a hole. */
  def tfidfIdfArray(spark: SparkSession, sfDir: String): Array[Long] = {
    val n = docs(spark, sfDir).count()
    val unseen =
      math.floor(math.log((n + 1).toDouble) *
        graft.operators.LangModel.LmMicro).toLong +
        graft.operators.LangModel.LmMicro
    val arr = Array.fill(TfidfBuckets.toInt)(unseen)
    termCounts(spark, sfDir)
      .withColumn("bucket", Dedup.hash32(col("term")) % TfidfBuckets)
      .select(col("doc_id"), col("bucket")).distinct()
      .groupBy("bucket").agg(count(lit(1)).as("bdf"))
      .collect() // D-bounded (≤ 256 rows)
      .foreach { r =>
        val bdf = r.getAs[Long]("bdf")
        arr(r.getAs[Long]("bucket").toInt) =
          math.floor(math.log((n + 1).toDouble / (bdf + 1)) *
            graft.operators.LangModel.LmMicro).toLong +
            graft.operators.LangModel.LmMicro
      }
    arr
  }

  /** Counter budget for the Misra-Gries heavy-terms sketch, and the
    * deterministic weight skew planted into the token stream. The
    * synthetic corpus is near-UNIFORM over a ~31-term vocabulary — with
    * any k ≥ vocab the sketch never evicts (vacuous guarantee) and with
    * any eviction-forcing k no term clears the support threshold (vacuous
    * again). So, like `pii_scrub`'s planted PII, the stream is skewed
    * identically on both sides: terms whose hash32 ≡ 0 (mod
    * [[HeavySkewMod]]) carry [[HeavySkewBoost]]× weight. At k=12 the ~4
    * boosted terms (~13% of the weighted mass each) are TRUE heavy
    * hitters over the N/13 ≈ 7.7% threshold while 31 > 12 keeps eviction
    * — and therefore real underestimates — active. */
  val HeavyK = 12
  val HeavySkewMod = 7
  val HeavySkewBoost = 10L

  /** Misra-Gries heavy-terms report — the third sketch family (HLL
    * counts distincts, GK ranks quantiles, MG finds frequent items),
    * verified the same way as `approx_value_percentiles`: the sketch runs
    * next to the exact answer and the output row reports the measured
    * guarantee verdict per language — every true heavy hitter (weight
    * > N/(k+1), integer-exact cross-multiplication) must be caught, with
    * underestimates bounded by the threshold.
    *
    * Scale: the sketch side is ONE partial-aggregable pass over the
    * persist-once inverted index with O(k) state per task — at 100 TB
    * that is the only affordable shape, and the exact side (a full
    * (lang, term) aggregation) exists purely as the benchmark-scale
    * measurement companion, same as the exact percentiles column.
    *
    * The query-facing projection keeps only the columns DuckDB can
    * recompute (exact corpus statistics) or whose value the MG guarantee
    * PINS (every true heavy is caught; undercounts ≤ ⌊N/(k+1)⌋) — so the
    * oracle states the guarantee as literal truth and a hash mismatch
    * means the sketch broke it. Sketch CONTENTS (item list, per-item
    * estimates) stay arrival-order dependent and live in
    * [[approxHeavyTermsDetail]] for the spec. */
  def approxHeavyTerms(spark: SparkSession, sfDir: String): DataFrame =
    approxHeavyTermsDetail(spark, sfDir)
      .select(col("lang"), col("n_tokens"), col("support_threshold"),
        col("n_true_heavy"), col("all_caught"),
        (coalesce(col("max_underestimate"), lit(0L)) <=
          col("support_threshold")).as("underest_bounded"))

  /** Full MG diagnostics (sketch size, caught count, max underestimate) —
    * arrival-order-dependent columns the oracle cannot pin; spec-only. */
  def approxHeavyTermsDetail(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.HeavyHitters
    val lt = termCounts(spark, sfDir)
      .join(docs(spark, sfDir).select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .withColumn("w", col("term_count") *
        when(Dedup.hash32(col("term")) % HeavySkewMod === 0,
          lit(HeavySkewBoost)).otherwise(lit(1L)))
    val sk = lt.groupBy("lang")
      .agg(HeavyHitters.misra_gries(
        struct(col("term"), col("w")), HeavyK).as("sketch"))
    val skx = sk.select(col("lang"), explode(col("sketch")).as("e"))
      .select(col("lang"), col("e.term").as("term"), col("e.est").as("est"))
    val exact = lt.groupBy("lang", "term")
      .agg(sum("w").as("cnt"))
    val tot = exact.groupBy("lang").agg(sum("cnt").as("n_tokens"))
    val heavyRollup = exact.join(tot, Seq("lang"))
      // true heavy hitter: cnt·(k+1) > N — integer-exact on both engines
      .filter(col("cnt") * (HeavyK + 1) > col("n_tokens"))
      .join(skx, Seq("lang", "term"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_true_heavy"),
        count(col("est")).as("n_caught"),
        max(col("cnt") - coalesce(col("est"), lit(0L)))
          .as("max_underestimate"))
    tot
      .join(sk.select(col("lang"),
        size(col("sketch")).cast("long").as("n_sketch_items")), Seq("lang"))
      .join(heavyRollup, Seq("lang"), "left")
      .select(col("lang"), col("n_tokens"),
        expr(s"n_tokens div ${HeavyK + 1}").as("support_threshold"),
        col("n_sketch_items"),
        coalesce(col("n_true_heavy"), lit(0L)).as("n_true_heavy"),
        coalesce(col("n_caught"), lit(0L)).as("n_caught"),
        col("max_underestimate"),
        (coalesce(col("n_true_heavy"), lit(0L)) ===
          coalesce(col("n_caught"), lit(0L))).as("all_caught"))
  }

  /** Kept for callers of the per-module teardown: releases every
    * artifact of `spark` ([[graft.Artifacts.clear]]). */
  def clearCaches(spark: SparkSession): Unit = graft.Artifacts.clear(spark)

  /** Per-document top-k distinctive terms — the inverted-index-shaped
    * workload (term statistics over the corpus): the persist-once
    * [[termCounts]] artifact → corpus document frequency → bounded top-k
    * per doc via the partial-aggregable [[graft.functions.TopK]] aggregate.
    *
    * Ranking is (term_count desc, doc_freq asc, term asc) — integer-exact
    * on both engines. A true tf·idf double score is deliberately NOT
    * emitted: ln() is not bit-identical across engines (measured: 4/5550
    * one-ulp differences between JVM Math.log and DuckDB's libm ln over
    * the ln(N/df) input domain on this container), so ranking or rounding
    * on it could diverge at ulp boundaries; the integer ordering is the
    * ordering tf·idf induces whenever term counts differ (idf is monotone
    * decreasing in df), with the rarest-in-corpus term preferred on tied
    * counts — exactly tf-idf's tiebreak direction.
    *
    * Scale: both groupBys are partial-aggregable; the df side is
    * vocab-sized (real corpora: millions of rows, not corpus-sized) and
    * AQE broadcast-joins it when small; the top-k aggregate caps each
    * task's shuffle contribution at k rows per document. The token explode
    * runs ONCE — round-5 verdict: deriving both branches from the plain
    * frame re-evaluated it per branch (column pruning made the two
    * exchanges non-identical, so AQE stage reuse could not fire); both
    * branches now read the persisted artifact instead. */
  val TopTermsK = 3

  def topTerms(spark: SparkSession, sfDir: String): DataFrame = {
    val tc = termCounts(spark, sfDir)
    val nP = Dedup.buildShufflePartitions(spark, sfDir)
    val df = tc.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    // The sf10 decade's worst text row (78x) was THIS query, not its
    // artifact: the doc_freq attach sort-merge-sorted the whole inverted
    // index by term, and the final agg exchanged it again, both at
    // cpus-pinned width. Three changes, each measured-shape (r13 verdict
    // #4): the index side is explicitly repartitioned at the
    // data-proportional width; the doc_freq side joins as a SHUFFLE_HASH
    // build (vocab-sized — the index stream is never sorted, the
    // verify-join discipline from the pairs build); and the top-k agg is
    // fed by an explicit doc_id repartition at the same width, so the
    // aggregation itself needs no further exchange. Small scales floor at
    // the session default: plans unchanged.
    tc.repartition(nP, col("term"))
      .join(df.hint("SHUFFLE_HASH"), Seq("term"))
      .repartition(nP, col("doc_id"))
      .groupBy("doc_id")
      .agg(graft.functions.TopK.top_k_structs(
        struct((-col("term_count")).as("neg_cnt"),
          col("doc_freq").as("doc_freq"), col("term").as("term")),
        TopTermsK).as("top"))
      .select(col("doc_id"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("term_rank"),
        col("s.term").as("term"), (-col("s.neg_cnt")).as("term_count"),
        col("s.doc_freq").as("doc_freq"))
  }

  /** Claimed relative-error ceiling for [[approxUserCount]]'s verdict
    * column: HLL++ at rsd 0.02 is 5σ inside 0.10, and the sketch is
    * hash-order deterministic (register max is commutative), so the
    * verdict cannot flap run-to-run. */
  val HllRelErrBound = 0.10

  /** Sketch coverage: HLL++ approximate distinct users per event type
    * next to the exact count. DuckDB cannot reproduce Spark's sketch
    * VALUE, so the query-facing row carries the exact count plus the
    * measured guarantee verdict (relative error ≤ [[HllRelErrBound]]) —
    * the oracle recomputes the exact side and states the verdict as
    * literal truth, making the row hash-checkable; the raw approx value
    * lives in [[approxUserCountDetail]] for the spec. At 100 TB the
    * approx column is a partial-aggregable sketch merge while exact
    * needs a full shuffle. */
  def approxUserCount(spark: SparkSession, sfDir: String): DataFrame =
    approxUserCountDetail(spark, sfDir)
      .select(col("event_type"), col("exact_users"),
        (col("rel_err") <= HllRelErrBound).as("within_bound"))

  /** HLL diagnostics (raw approx value, measured rel_err) — spec-only. */
  def approxUserCountDetail(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Tables.load(spark, sfDir, "events")
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("exact_users"),
        approx_count_distinct("user_id", 0.02).as("approx_users"))
      .withColumn("rel_err",
        round(abs(col("approx_users") - col("exact_users"))
          .cast("double") / col("exact_users"), 4))

  /** Quantile targets for [[approxValuePercentiles]]. */
  val PercentileQs: Seq[Double] = Seq(0.5, 0.9, 0.99)
  /** Rank half-width of the guarantee envelope: the sketch value must lie
    * between the EXACT percentiles at q ∓ 0.02. The sketch's own rank
    * error at accuracy 10000 is 1e-4 — two orders inside the claim — and
    * percentile-as-a-function-of-q is monotone, so the verdict is a hard
    * guarantee, not an empirical observation. */
  val PercentileEnvQ = 0.02
  /** Envelope rank targets, clamped to [0, 1]. */
  def percentileEnvLo: Seq[Double] = PercentileQs.map(q => (q - PercentileEnvQ).max(0.0))
  def percentileEnvHi: Seq[Double] = PercentileQs.map(q => (q + PercentileEnvQ).min(1.0))

  /** Second sketch family (after HLL): Greenwald-Khanna-style approximate
    * percentiles verified against the exact ones, per event type. DuckDB
    * cannot reproduce Spark's sketch VALUE, so the query-facing row
    * carries what it CAN recompute — the exact percentile and the exact
    * [q−ε, q+ε] value envelope — plus the measured verdict that the
    * sketch value sits inside that envelope (the sketch's rank
    * guarantee). A hash mismatch therefore means either a wrong exact
    * percentile or a broken sketch guarantee. Raw sketch values live in
    * [[approxValuePercentilesDetail]] for the spec. At 100 TB the sketch
    * is a partial-aggregable bounded-memory merge; the exact columns need
    * the full per-group value multiset. */
  def approxValuePercentiles(spark: SparkSession, sfDir: String): DataFrame =
    approxValuePercentilesDetail(spark, sfDir)
      .select(col("event_type"), col("q"), col("exact_value"),
        col("env_lo"), col("env_hi"), col("within_envelope"))

  /** GK diagnostics (raw sketch value next to the envelope) — spec-only.
    * The envelope test compares UNROUNDED doubles; the reported bounds
    * are rounded for cross-engine display stability. */
  def approxValuePercentilesDetail(spark: SparkSession,
                                   sfDir: String): DataFrame = {
    val qArr = PercentileQs.map(_.toString).mkString(", ")
    val loArr = percentileEnvLo.map(_.toString).mkString(", ")
    val hiArr = percentileEnvHi.map(_.toString).mkString(", ")
    graft.sources.Tables.load(spark, sfDir, "events")
      .groupBy("event_type")
      .agg(
        expr(s"percentile(value, array($qArr))").as("exact_p"),
        expr(s"percentile(value, array($loArr))").as("lo_p"),
        expr(s"percentile(value, array($hiArr))").as("hi_p"),
        expr(s"approx_percentile(value, array($qArr), 10000)").as("approx_p"))
      .select(col("event_type"),
        explode(arrays_zip(
          typedLit(PercentileQs).as("q"),
          col("exact_p"), col("lo_p"), col("hi_p"),
          col("approx_p"))).as("z"))
      .select(col("event_type"), col("z.q").as("q"),
        round(col("z.exact_p"), 6).as("exact_value"),
        round(col("z.lo_p"), 6).as("env_lo"),
        round(col("z.hi_p"), 6).as("env_hi"),
        (col("z.approx_p") >= col("z.lo_p") &&
          col("z.approx_p") <= col("z.hi_p")).as("within_envelope"),
        round(col("z.approx_p"), 6).as("approx_value"))
  }

  /** Vocabulary size for [[vocabCoverage]] — the corpus' top-V terms by
    * total occurrences (ties broken lexicographically, integer-exact on
    * both engines). Small on the word-salad testdata (31 distinct terms)
    * so coverage actually varies; at real scale V is the tokenizer-vocab
    * budget (tens of thousands). */
  val VocabSize = 10
  /** Pass when vocab term occurrences cover ≥ 1/3 of the doc's tokens,
    * evaluated integer-exactly as hits·3 ≥ n_words. */
  val VocabCovDen = 3L

  /** Vocabulary coverage per document: what fraction of a doc's token
    * occurrences fall inside the corpus' top-[[VocabSize]] vocabulary —
    * the tokenizer-fit signal a training pipeline uses to drop documents
    * a fixed vocab would shred into rare-token soup.
    *
    * Scale: both sides derive from the persist-once [[termCounts]]
    * inverted-index artifact. The vocabulary is a vocab-sized partial
    * aggregation capped by a distributed TakeOrdered (never a
    * single-partition window), broadcast to the per-doc side; the only
    * corpus-sized exchange is the doc_id rollup, which is
    * partial-aggregable.
    *
    * Persist-once per (session, sfDir) (r18): TWO bench rows evaluate
    * this frame per run (its own query and quality_signals' vocab leg),
    * each evaluation a corpus-sized rollup over termCounts. Charged as
    * its own bench row `artifact_vocab_coverage` with a variant-scoped
    * drop, same protocol as the LM scores table. */
  def vocabCoverage(spark: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.cached(spark, sfDir, "vocab_cov")(
      vocabCoverageUncached(spark, sfDir))

  private def vocabCoverageUncached(spark: SparkSession,
                                    sfDir: String): DataFrame = {
    val tc = termCounts(spark, sfDir)
    val vocab = tc.groupBy("term")
      .agg(sum("term_count").as("tf"))
      .orderBy(col("tf").desc, col("term").asc)
      .limit(VocabSize)
      .select(col("term"), lit(true).as("in_vocab"))
    tc.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(sum("term_count").as("n_words"),
        coalesce(sum(when(col("in_vocab"), col("term_count"))), lit(0L))
          .as("vocab_hits"))
      .select(col("doc_id"), col("n_words"), col("vocab_hits"),
        (col("n_words") - col("vocab_hits")).as("oov_words"),
        round(col("vocab_hits") / col("n_words").cast("double"), 6)
          .as("vocab_coverage"),
        (col("vocab_hits") * VocabCovDen >= col("n_words")).as("pass_vocab"))
  }
}
