package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis.{normText, tokens}

/** Corpus-curation operators for a training-data pipeline over
  * `documents`: Gopher-style quality filtering, eval-set decontamination,
  * PII scrubbing, and incremental (batch-vs-corpus) deduplication.
  *
  * Scale posture (100 TB):
  *  - quality_filter and pii_scrub are narrow per-row transforms (one
  *    imperative kernel per doc for the repetition rule, codegen'd
  *    regexps for PII) — they run at scan speed with zero shuffles.
  *  - decontaminate joins the corpus's exploded n-gram hashes against the
  *    EVAL set's distinct gram hashes. The eval holdout is a fixed small
  *    set by construction (benchmarks, not corpus-sized), so its gram
  *    table is broadcast — the corpus side never shuffles.
  *  - incremental_dedup reuses the persist-once verified-pairs table
  *    ([[Dedup.verifiedPairs]]); in production the base corpus's
  *    signature table is the persisted artifact and only the incoming
  *    batch computes signatures fresh — the band join is equi on
  *    (band_j, band_key), Σ bucket² not |batch|·|base|.
  *
  * Every rule/threshold below is evaluated INTEGER-exactly on both
  * engines (ratio r ≥ p/q rewritten as r_num * q ≥ p * r_den), so the
  * keep/drop decisions cannot drift across Spark and the DuckDB oracle.
  * Outputs surface the raw integer counts; where a ratio is emitted at
  * all (the `quality_repetition` display fracs) it is a rounded double
  * DIVISION of exact integers — bit-identical cross-engine — and never
  * feeds a decision.
  */
object Curation {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Tables.load(spark, sfDir, "documents")

  // ---- quality-filter rules (Gopher-style, calibrated on the testdata
  //      so each rule has both passes and fails at small SF) ----
  /** Word-count bounds: 30 ≤ n_words ≤ 100000. */
  val QfMinWords = 30L
  val QfMaxWords = 100000L
  /** Mean word length in [3, 10] chars (chars-only = n_chars_norm minus
    * the n_words-1 separating spaces; integer-exact as
    * 3·n_words ≤ chars_only ≤ 10·n_words). */
  val QfMinAvgLen = 3L
  val QfMaxAvgLen = 10L
  /** Stopword ratio ≥ 1/50 (= 0.02): hits·50 ≥ n_words. */
  val QfStopDen = 50L
  /** Repetition: most-frequent-token share ≤ 1/5 (= 0.2):
    * max_tok_freq·5 ≤ n_words. */
  val QfRepDen = 5L

  /** Union of every language's stopword table (membership only). */
  val allStopwords: Seq[String] =
    TextAnalysis.stopwords.values.flatten.toSeq.distinct.sorted

  // ---- decontamination ----
  /** Contamination gram length: word 5-grams (the usual eval-overlap
    * unit — long enough that chance collisions are rare). */
  val DecontamGramLen = 5
  /** Eval-holdout split: hash32(doc_id) % 10 == 0 (~10%) — restricted to
    * the fixed id pool below [[DecontamEvalIdBound]]. */
  val DecontamEvalMod = 10L
  /** The eval holdout is drawn from a FIXED id range — a real eval
    * benchmark is a fixed artifact, so corpus growth adds TRAIN docs,
    * not eval docs. Without this bound the holdout is a fixed FRACTION
    * of the corpus and every |train|·|eval| decontamination pass goes
    * quadratic (measured 126x at a 10x stress scale); with it, the eval
    * sliver (and its broadcast) is benchmark-sized at any corpus size.
    * 5000 covers every doc/vec id at the oracle SFs (sf0.01/sf0.1), so
    * results there are unchanged; the bound binds only beyond that. */
  val DecontamEvalIdBound = 5000L

  /** The ONE eval-membership predicate (hash-mod inside the fixed id
    * pool), shared by batch, streaming, and the oracle twins. */
  def isEvalId(c: Column): Column =
    docHash(c) % DecontamEvalMod === 0 && c < DecontamEvalIdBound

  /** Incoming-batch split for incremental dedup:
    * hash32(doc_id) % 5 == 0 (~20%). */
  val IncrBatchMod = 5L

  /** Deterministic doc split hash — md5-based 32-bit hash of the decimal
    * doc_id, the same value as the oracle's
    * CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8) AS BIGINT). */
  def docHash(c: Column): Column = Dedup.hash32(c.cast("string"))

  /** Add the four quality-rule flag columns (plus their measured inputs)
    * to any doc frame — ONE definition shared by the batch filter, the
    * streaming gate, and the composed pipeline so the rules cannot
    * drift. Narrow projection; the repetition rule uses the one-pass
    * [[graft.functions.TextHashes.MaxCount]] kernel instead of an
    * explode → groupBy → max chain. */
  def qualityFlags(d: DataFrame): DataFrame =
    d.withColumn("toks", tokens(col("text")))
      .withColumn("n_chars_norm", length(normText(col("text"))).cast("long"))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("chars_only", col("n_chars_norm") - (col("n_words") - 1))
      .withColumn("stop_hits", element_at(
        graft.functions.TextHashes.stopword_hits(col("toks"),
          Seq(allStopwords)), 1))
      .withColumn("max_tok_freq",
        graft.functions.TextHashes.max_count(col("toks")))
      .withColumn("pass_word_count",
        col("n_words") >= QfMinWords && col("n_words") <= QfMaxWords)
      .withColumn("pass_word_len",
        col("chars_only") >= col("n_words") * QfMinAvgLen &&
          col("chars_only") <= col("n_words") * QfMaxAvgLen)
      .withColumn("pass_stopword", col("stop_hits") * QfStopDen >= col("n_words"))
      .withColumn("pass_repetition", col("max_tok_freq") * QfRepDen <= col("n_words"))

  /** Gopher-style quality filter: four cheap rules per document —
    * word-count bounds, mean-word-length bounds, minimum stopword ratio,
    * maximum single-token repetition share — each reported as its own
    * flag plus the combined keep decision. Zero shuffles.
    *
    * Persist-once per (session, sfDir) (r18): TWO bench rows evaluate
    * this corpus kernel pass per run (its own query and quality_signals'
    * gopher leg). Charged as its own bench row `artifact_quality_flags`
    * with a variant-scoped drop. The composed decision build
    * ([[curateCorpus]]) keeps its direct [[qualityFlags]] pass — it needs
    * the full doc columns for sampling, and is itself once-per-session. */
  def qualityFilter(spark: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.cached(spark, sfDir, "quality_flags")(
      qualityFilterUncached(spark, sfDir))

  private def qualityFilterUncached(spark: SparkSession,
                                    sfDir: String): DataFrame =
    qualityFlags(docs(spark, sfDir))
      .withColumn("n_failed", (lit(4)
        - col("pass_word_count").cast("int") - col("pass_word_len").cast("int")
        - col("pass_stopword").cast("int") - col("pass_repetition").cast("int"))
        .cast("long"))
      .withColumn("is_kept", col("n_failed") === 0)
      .select(col("doc_id"), col("n_words"), col("stop_hits"),
        col("max_tok_freq"), col("pass_word_count"), col("pass_word_len"),
        col("pass_stopword"), col("pass_repetition"), col("n_failed"),
        col("is_kept"))

  /** Eval-set decontamination: deterministic ~10% eval holdout by doc-id
    * hash; a TRAIN document is contaminated if it shares any word 5-gram
    * with any EVAL document. Output is one row per train doc with the
    * count of distinct eval-overlapping grams and the keep decision.
    *
    * Grams are hashed to 32-bit longs ([[graft.functions.TextHashes
    * .WordGramsHashed]], one pass per doc) so the join currency is a
    * fixed-width key; the eval gram set is explicitly broadcast — at any
    * corpus scale the holdout stays benchmark-sized, so the train side
    * is a map-side hash probe with NO shuffle of corpus data.
    *
    * Session-scoped persist-once (r18): the corpus tokenize + 5-gram
    * pass behind the flags table was evaluated TWICE per session (the
    * decontaminate row itself and the curation decision build). One
    * materialization per (session, sfDir), charged as its own bench row
    * `artifact_decontam` with a variant-scoped drop — the production
    * shape: contamination flags are published once per (corpus, holdout)
    * pair and every consumer reads the table. */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.cached(spark, sfDir, "decontam")(
      decontaminateUncached(spark, sfDir))

  private def decontaminateUncached(spark: SparkSession,
                                    sfDir: String): DataFrame = {
    val base = docs(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("is_eval", isEvalId(col("doc_id")))
      .withColumn("hg", graft.functions.TextHashes.word_grams_hashed(
        col("toks"), DecontamGramLen))
    val evalGrams = base.filter(col("is_eval"))
      .select(explode(col("hg")).as("g")).distinct()
    val hits = base.filter(!col("is_eval"))
      .select(col("doc_id"), explode(col("hg")).as("g"))
      .join(broadcast(evalGrams), Seq("g"))
      .groupBy("doc_id")
      // per-doc grams are already distinct, so this counts distinct
      // shared grams
      .agg(count(lit(1)).as("hits"))
    base.filter(!col("is_eval")).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("hits"), lit(0L)).as("n_eval_grams_hit"))
      .withColumn("is_clean", col("n_eval_grams_hit") === 0)
  }

  // ---- semantic (embedding-level) decontamination ----
  /** Cosine threshold for semantic eval overlap — the embedding near-dup
    * design point (0.35, the same operating point as
    * [[Similarity.NearDupCosine]]); at sf0.01 it flags ~10% of train
    * docs, a different (paraphrase-shaped) population than the literal
    * 5-gram layer catches. */
  val SemDecontamCosine = 0.35

  /** Embedding-level decontamination — the SEMANTIC companion of the
    * n-gram [[decontaminate]]: a train document is flagged when its
    * embedding's cosine against ANY eval-holdout embedding reaches
    * [[SemDecontamCosine]] (paraphrased eval leakage that shares no
    * literal 5-gram). Same doc-id-hash holdout as the gram layer, so the
    * two gates compose over one split; `embeddings.vec_id` IS the
    * document id (the testdata tables are 1:1 by construction).
    *
    * Scale shape: the eval sliver (vectors + norms) is BROADCAST — the
    * corpus side is one scan through a broadcast nested-loop with the
    * sequential-fold dot kernel, then a partial-aggregable per-doc
    * count/max. No corpus shuffle beyond the per-doc aggregate; cost is
    * |corpus|·|eval| — the honest exact form while the holdout is
    * benchmark-sized (the LSH-bucketed join is the recall<1 path if a
    * holdout ever outgrows broadcast). */
  def semanticDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.VectorOps
    val n = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id").as("doc_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("n2", VectorOps.norm2_seq(col("v")))
      .withColumn("is_eval", isEvalId(col("doc_id")))
    val ev = n.filter(col("is_eval"))
      .select(col("v").as("qv"), col("n2").as("qn2"))
      .withColumn("jk", lit(1))
    // LEFT join on a constant key, not crossJoin (r17 operators review
    // #2): with an EMPTY eval holdout (tiny/custom sfDir where no doc id
    // lands in the eval split) the cross join emits zero rows and every
    // train doc VANISHES from the output — the n-gram twin above reports
    // them all-clean via exactly this left+coalesce shape. Unmatched
    // rows carry null cos → 0 hits → is_clean=true; with a non-empty
    // holdout every row matches jk=1 and the plan is the same broadcast
    // nested loop as before.
    n.filter(!col("is_eval"))
      .withColumn("jk", lit(1))
      .join(broadcast(ev), Seq("jk"), "left")
      .withColumn("cos", VectorOps.dot_seq(col("v"), col("qv"))
        / (sqrt(col("n2")) * sqrt(col("qn2"))))
      .groupBy("doc_id")
      .agg(count(when(col("cos") >= SemDecontamCosine, lit(1)))
          .as("n_eval_sem_hits"),
        round(max(col("cos")), 6).as("max_eval_cos"))
      .withColumn("is_clean", col("n_eval_sem_hits") === 0)
      .select(col("doc_id"), col("n_eval_sem_hits"), col("max_eval_cos"),
        col("is_clean"))
  }

  // ---- PII scrubbing ----
  /** Detection patterns — deliberately simple, RE2-compatible (the oracle
    * runs them in DuckDB) and Java-compatible with identical semantics. */
  val EmailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhonePattern = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val IpPattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** The synthetic corpus contains no PII (pure word salad), so the
    * benched query plants deterministic PII in ~75% of docs (by doc-id
    * hash: bucket 0 → email, 1 → phone, 2 → IPv4, 3 → untouched), built
    * identically by the oracle SQL. [[scrubPii]] itself is the generic
    * operator over any string column. */
  def withPlantedPii(d: DataFrame): DataFrame = {
    val b = docHash(col("doc_id")) % 4
    d.withColumn("aug_text",
      when(b === 0, concat(col("text"), lit(" contact u"),
        col("doc_id").cast("string"), lit("@example.com now")))
        .when(b === 1, concat(col("text"), lit(" call 555-"),
          lpad((col("doc_id") * 7 % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((col("doc_id") * 13 % 10000).cast("string"), 4, "0"),
          lit(" today")))
        .when(b === 2, concat(col("text"), lit(" host 10."),
          (col("doc_id") % 256).cast("string"), lit("."),
          (col("doc_id") * 3 % 256).cast("string"), lit("."),
          (col("doc_id") * 5 % 256).cast("string"), lit(" up")))
        .otherwise(col("text")))
  }

  /** Count + redact emails, then IPv4s, then phone numbers (fixed order,
    * mirrored in the oracle). Counts follow the REDACTION basis (r17
    * operators review #6): each pattern counts on the text as it stands
    * when its redaction pass runs — emails on the input, IPs after email
    * redaction, phones after both — so every n_* equals the number of
    * tokens its pass actually replaced. Counting all three on the raw
    * input over-counted nested matches (a phone embedded in an email's
    * local part was counted yet never redacted, so n_pii disagreed with
    * the scrubbed payload). The scrubbed text is surfaced as md5 +
    * length so the oracle verifies the full redacted payload without
    * hauling it through the compare. */
  def scrubPii(d: DataFrame, textCol: String): DataFrame = {
    val afterEmail = regexp_replace(col(textCol), EmailPattern, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, IpPattern, "<IP>")
    d.withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(EmailPattern), lit(0))).cast("long"))
      .withColumn("n_ips",
        size(regexp_extract_all(afterEmail, lit(IpPattern), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(afterIp, lit(PhonePattern), lit(0))).cast("long"))
      .withColumn("scrubbed", regexp_replace(afterIp, PhonePattern, "<PHONE>"))
      .withColumn("n_pii", col("n_emails") + col("n_ips") + col("n_phones"))
      .withColumn("scrub_len", length(col("scrubbed")).cast("long"))
      .withColumn("scrub_hash", md5(col("scrubbed")))
  }

  def piiScrub(spark: SparkSession, sfDir: String): DataFrame =
    scrubPii(withPlantedPii(docs(spark, sfDir)), "aug_text")
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        col("n_pii"), col("scrub_len"), col("scrub_hash"))

  /** Incremental dedup: treat a deterministic ~20% of the corpus as the
    * incoming batch and the rest as the already-accepted base. A batch
    * doc is rejected if (a) its exact content hash exists in the base, or
    * (b) it has a verified MinHash near-dup (jaccard ≥ 0.9) in the base.
    * Intra-batch duplicates are deliberately NOT rejected here — that is
    * the regular dedup family's job on the accepted batch.
    *
    * Reuses [[Dedup.verifiedPairs]] (persist-once): the near layer is a
    * split predicate over the already-verified pair table, exactly the
    * production shape where the base signature table is a persisted
    * artifact and each ingest batch only adds its own signatures. */
  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val withSplit = docs(spark, sfDir)
      .select(col("doc_id"), sha2(normText(col("text")), 256).as("th"))
      .withColumn("in_batch", docHash(col("doc_id")) % IncrBatchMod === 0)
    val batch = withSplit.filter(col("in_batch"))
    val baseHashes = withSplit.filter(!col("in_batch"))
      .select(col("th")).distinct()
    val exactDup = batch.join(baseHashes, Seq("th"))
      .select(col("doc_id")).distinct().withColumn("exact_dup", lit(true))
    val pairs = Dedup.verifiedPairs(spark, sfDir)
      .withColumn("a_in_batch", docHash(col("doc_a")) % IncrBatchMod === 0)
      .withColumn("b_in_batch", docHash(col("doc_b")) % IncrBatchMod === 0)
    val nearDup = pairs.filter(col("a_in_batch") && !col("b_in_batch"))
      .select(col("doc_a").as("doc_id"))
      .union(pairs.filter(col("b_in_batch") && !col("a_in_batch"))
        .select(col("doc_b").as("doc_id")))
      .distinct().withColumn("near_dup", lit(true))
    batch.select(col("doc_id"))
      .join(exactDup, Seq("doc_id"), "left")
      .join(nearDup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_dup"), lit(false)).as("is_exact_dup"),
        coalesce(col("near_dup"), lit(false)).as("is_near_dup"))
      .withColumn("is_accepted", !col("is_exact_dup") && !col("is_near_dup"))
  }

  /** False-positive rate for the batch-side bloom prefilter. */
  val BloomFpp = 0.01

  /** Bloom-prefiltered membership flag — the 100 TB shape for "which of
    * these batch keys already exist in the huge base". The batch's key
    * set is folded into a driver-built bloom filter (batch-sized — the
    * SMALL side by definition of incremental ingest), shipped as a
    * literal, and the corpus-sized BASE scan is prefiltered map-side with
    * Catalyst's native `BloomFilterMightContain` (codegen'd, the same
    * expression AQE runtime filters inject). Only surviving base keys
    * (true matches + fpp·|base| false positives) reach the exchange; the
    * exact join on the full key then removes the false positives, so the
    * RESULT is exact — the bloom changes shuffle bytes, never answers.
    * Two driver actions run on the batch side (count + bloom build);
    * both touch only the small side.
    *
    * Returns `batch` + `flagCol` (true = the key exists in `base`).
    * NULL keys flag false (a null equi-join key matches nothing; the
    * bloom build skips nulls) — supply a sentinel upstream if null must
    * mean something.
    *
    * Reference analog: the same decide-membership-before-touching-data
    * role as the sparse segment index probe on reads
    * (`segment.rs:156-179`). */
  /** Hard default cap on a bloom plan literal: 32 MB of filter bits
    * covers ~27M keys at the 1% default fpp; anything bigger belongs in
    * a join, not in every task's plan. */
  val MaxBloomBytes: Int = 32 << 20

  /** Build a `might_contain(<bloom literal>, xxhash64(keyCol))` Column
    * over `keys` — THE one home of bloom-literal construction (batch
    * prefilter + streaming gate). Returns None when `keys` is empty
    * (BloomFilterAggregate yields NULL there and stat.bloomFilter NPEs
    * deserializing it; an empty key set matches nothing anyway).
    * Refuses to embed a literal above `maxBytes`. */
  def bloomLiteral(keys: DataFrame, keyCol: String,
                   maxBytes: Int = MaxBloomBytes): Option[Column] = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.Bridge
    val hashed = keys.select(xxhash64(col(keyCol)).as("h"))
    val nKeys = hashed.count()
    if (nKeys == 0) return None
    val bloom = hashed.stat.bloomFilter("h", nKeys, BloomFpp)
    val bytes = {
      val b = new java.io.ByteArrayOutputStream(); bloom.writeTo(b)
      b.toByteArray
    }
    require(bytes.length <= maxBytes,
      s"bloomLiteral: filter for $nKeys keys is ${bytes.length} bytes " +
        s"(> $maxBytes); embedding it as a plan literal would bloat every " +
        s"task. Use a join against the key table for key sets this large.")
    Some(Bridge.column(BloomFilterMightContain(
      Literal.create(bytes, org.apache.spark.sql.types.BinaryType),
      Bridge.expression(xxhash64(col(keyCol))))))
  }

  def bloomSemiFlag(batch: DataFrame, base: DataFrame, key: String,
                    flagCol: String): DataFrame =
    bloomLiteral(batch, key) match {
      case None => batch.withColumn(flagCol, lit(false))
      case Some(mightContain) =>
        val candidates = base.filter(mightContain)
          .select(col(key)).distinct()
          .withColumn(flagCol, lit(true))
        batch.join(candidates, Seq(key), "left")
          .withColumn(flagCol, coalesce(col(flagCol), lit(false)))
    }

  /** Bag-of-words canonical signature: sha256 over the sorted distinct
    * word set — the aggressive-canonicalization exact-dedup key under
    * which word-shuffled near-identical documents collide (the corpus has
    * no byte-identical duplicates, but it HAS word-shuffle duplicates —
    * the same family the MinHash smoke tests pin). */
  def wordSetHash(text: Column): Column =
    sha2(array_join(array_sort(array_distinct(tokens(text))), " "), 256)

  /** Bloom-prefiltered incremental dedup on the [[wordSetHash]] canonical
    * key: same batch/base split as [[incrementalDedup]], answered with
    * [[bloomSemiFlag]] so the base side never shuffles more than true
    * duplicates + the bloom's false-positive sliver. */
  def bloomDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val withSplit = docs(spark, sfDir)
      .select(col("doc_id"), wordSetHash(col("text")).as("th"))
      .withColumn("in_batch", docHash(col("doc_id")) % IncrBatchMod === 0)
    bloomSemiFlag(
      withSplit.filter(col("in_batch")).select("doc_id", "th"),
      withSplit.filter(!col("in_batch")).select("doc_id", "th"),
      "th", "is_exact_dup")
      .select(col("doc_id"), col("is_exact_dup"))
  }

  /** The whole curation pipeline as ONE per-doc decision: eval-holdout
    * exclusion → quality rules → decontamination → near-dup keep-first →
    * stratified sampling, with the first failing stage as the drop
    * reason (fixed precedence, mirrored in the oracle's CASE).
    *
    * Plan shape (the 100 TB composition): quality flags, the eval split,
    * and the sample bucket are all narrow expressions fused into a
    * SINGLE corpus scan, and the sample plan is a broadcast join — the
    * only other inputs are two SMALL derived sets joined by doc_id (the
    * near-dup drop list from the persist-once pair table and the
    * contaminated-doc list, both slivers of the corpus by construction).
    * The corpus is never shuffled by this query except those two
    * doc_id joins, which AQE broadcasts at real-world sizes. */
  /** Session-scoped persist-once (r18): the decision frame is evaluated
    * by TWO bench rows (curate_corpus itself and curation_report's
    * funnel aggregation), and the build composes four sub-pipelines
    * (quality flags, sample plan, near-dup drop list, decontamination).
    * One materialization per (session, sfDir), charged as its own bench
    * row `artifact_curate_decision` with a variant-scoped drop — the
    * production shape: a curation run publishes ONE decision table and
    * every report reads it. */
  def curateCorpus(spark: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.cached(spark, sfDir, "curate_decision")(
      curateCorpusUncached(spark, sfDir))

  private def curateCorpusUncached(spark: SparkSession,
                                   sfDir: String): DataFrame = {
    val flagged = qualityFlags(docs(spark, sfDir))
      .withColumn("pass_quality", col("pass_word_count") &&
        col("pass_word_len") && col("pass_stopword") && col("pass_repetition"))
      .withColumn("is_eval", isEvalId(col("doc_id")))
    val sampled = Sampling.applySampleDecision(
      flagged, Sampling.samplePlan(spark, sfDir))
    val dupDrop = Dedup.verifiedPairs(spark, sfDir)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("dup", lit(true))
    val contam = decontaminate(spark, sfDir)
      .filter(!col("is_clean")).select(col("doc_id"))
      .withColumn("contam", lit(true))
    sampled
      .join(dupDrop, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("is_contaminated", coalesce(col("contam"), lit(false)))
      .withColumn("is_duplicate", coalesce(col("dup"), lit(false)))
      .withColumn("drop_reason",
        when(col("is_eval"), lit("eval_holdout"))
          .when(!col("pass_quality"), lit("quality"))
          .when(col("is_contaminated"), lit("contaminated"))
          .when(col("is_duplicate"), lit("duplicate"))
          .when(!col("sampled"), lit("sampled_out"))
          .otherwise(lit("kept")))
      .withColumn("final_kept", col("drop_reason") === "kept")
      .select(col("doc_id"), col("pass_quality"), col("is_eval"),
        col("is_contaminated"), col("is_duplicate"),
        col("sampled").as("is_sampled"), col("final_kept"), col("drop_reason"))
  }

  /** The master per-document quality verdict: every quality family's
    * pass flag in one frame — Gopher length/stopword/repetition rules
    * ([[qualityFilter]]), the bigram-repetition pair
    * ([[qualityRepetition]]), statistical-LM scoring
    * ([[graft.operators.LangModel.lmBigramScore]]), and vocabulary
    * coverage ([[graft.operators.TextAnalysis.vocabCoverage]]) — plus
    * the failed-family count and the all-pass verdict. The production
    * shape: signals computed independently, one doc_id-keyed join per
    * family, routed downstream as a single decision row.
    *
    * Scale: four doc_id equi-joins of already-scale-audited per-doc
    * frames; no new shuffle shape. */
  def qualitySignals(spark: SparkSession, sfDir: String): DataFrame = {
    val gopher = qualityFilter(spark, sfDir)
      .select(col("doc_id"), (col("n_failed") === 0).as("pass_gopher"))
    val rep = qualityRepetition(spark, sfDir)
      .select(col("doc_id"), col("pass_repetition").as("pass_rep_grams"))
    val lm = graft.operators.LangModel.lmBigramScore(spark, sfDir)
      .select(col("doc_id"), col("pass_lm"))
    val vocab = graft.operators.TextAnalysis.vocabCoverage(spark, sfDir)
      .select(col("doc_id"), col("pass_vocab"))
    gopher.join(rep, Seq("doc_id")).join(lm, Seq("doc_id"))
      .join(vocab, Seq("doc_id"))
      .withColumn("n_failed_families", (lit(4)
        - col("pass_gopher").cast("int") - col("pass_rep_grams").cast("int")
        - col("pass_lm").cast("int") - col("pass_vocab").cast("int"))
        .cast("long"))
      .withColumn("is_high_quality", col("n_failed_families") === 0)
  }

  /** The curation DASHBOARD row: per drop-reason document counts and
    * corpus shares from the composed [[curateCorpus]] decision — the
    * one-glance funnel report a curation run publishes. Shares are
    * display ratios of exact integers (reason count / corpus count). */
  def curationReport(spark: SparkSession, sfDir: String): DataFrame = {
    val decided = curateCorpus(spark, sfDir)
    val counts = decided.groupBy("drop_reason")
      .agg(count(lit(1)).as("n_docs"))
    // corpus total via the 1-row broadcast totals join — a
    // Window.partitionBy(lit(1)) sum is constant-folded to an EMPTY
    // partition spec by the optimizer, i.e. a single-partition global
    // WindowExec (the warning in every bench log)
    val tot = counts.agg(sum("n_docs").cast("long").as("n_total"))
    counts.crossJoin(broadcast(tot))
      .select(col("drop_reason"), col("n_docs"),
        round(col("n_docs") / col("n_total").cast("double"), 6).as("share"))
  }

  // ----- Gopher repetition rules (beyond the single-token max_count) -----

  /** Most-frequent-bigram share threshold: top_bigram_count/n_bigrams
    * ≤ 18% (Gopher's top-2-gram rule), evaluated integer-exactly as
    * `top·100 ≤ 18·n`. */
  val RepTopBigramPct = 18L
  /** Duplicate-5-gram occupancy threshold: occurrences of 5-grams that
    * repeat within the doc ≤ 30% of all 5-gram occurrences (Gopher's
    * dup-5-gram rule), evaluated as `occ·100 ≤ 30·n`. */
  val RepDup5GramPct = 30L

  /** Gopher-style REPETITION quality signals per document: the most
    * frequent word bigram and its share of all bigram slots, and the
    * share of 5-gram occurrences that are within-doc repeats. Both flags
    * are integer-exact (`·100` cross-multiplication); the display ratios
    * are double divisions of exact integers, identical on both engines.
    *
    * Scale: the whole query is ONE corpus scan — the
    * [[graft.functions.TextHashes.repetition_stats]] kernel counts both
    * gram families per row, so no gram ever reaches an exchange (the
    * oracle's explode → groupBy → window chain would shuffle ~n_words
    * rows per document, ~100× the corpus bytes at 5-gram width). */
  /** Persist-once per (session, sfDir) (r18): TWO bench rows evaluate
    * this corpus kernel pass per run (its own query and quality_signals'
    * repetition leg). Charged as its own bench row
    * `artifact_rep_signals` with a variant-scoped drop. */
  def qualityRepetition(spark: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.cached(spark, sfDir, "rep_signals")(
      qualityRepetitionUncached(spark, sfDir))

  private def qualityRepetitionUncached(spark: SparkSession,
                                        sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.TextHashes.repetition_stats(
          TextAnalysis.tokens(col("text"))).as("rs"))
      .select(col("doc_id"), col("rs.n_bigrams").as("n_bigrams"),
        col("rs.top_bigram").as("top_bigram"),
        col("rs.top_bigram_count").as("top_bigram_count"),
        col("rs.n_5grams").as("n_5grams"),
        col("rs.dup_5gram_occ").as("dup_5gram_occ"))
      .withColumn("top_bigram_frac",
        round(col("top_bigram_count") /
          when(col("n_bigrams") === 0, lit(null))
            .otherwise(col("n_bigrams")).cast("double"), 6))
      .withColumn("dup_5gram_frac",
        round(col("dup_5gram_occ") /
          when(col("n_5grams") === 0, lit(null))
            .otherwise(col("n_5grams")).cast("double"), 6))
      .withColumn("pass_repetition",
        !(col("top_bigram_count") * 100 > lit(RepTopBigramPct) * col("n_bigrams")) &&
          !(col("dup_5gram_occ") * 100 > lit(RepDup5GramPct) * col("n_5grams")))

  // ----- C4-style cross-corpus span (line) dedup -----

  /** "Line" granularity for corpus-level span dedup: the synthetic docs
    * are single-line word salad, so fixed 5-word non-overlapping chunks
    * stand in for C4's newline-delimited lines. */
  val LineChunkWords = 5
  /** A chunk is boilerplate when it appears in ≥ 2 distinct documents. */
  val LineDupMinDocs = 2L

  /** C4-style repeated-span removal: split every document into
    * [[LineChunkWords]]-word chunks, count DISTINCT documents per chunk
    * across the corpus, drop every chunk that [[LineDupMinDocs]]-or-more
    * documents share, and reassemble the surviving text in order. The
    * output verifies the full reconstruction (md5 of the kept text), the
    * chunk accounting, and the surviving word count — all integer/string
    * exact.
    *
    * Scale: chunks join on their md5 hash, never the chunk text (the
    * shuffle carries 32-byte keys, not spans); the distinct-doc count is
    * partial-aggregable; the boilerplate set is a sliver of the chunk
    * space (only cross-doc repeats) so the anti-join's build side is
    * small; reassembly groups by doc_id — each group is one document's
    * own chunks, never corpus-sized. */
  /** (doc_id, chunk_id, chunk, h) rows: the [[LineChunkWords]]-word
    * non-overlapping chunks of a `(doc_id, toks)` frame, hashed — the ONE
    * home of the chunking rule, shared by [[lineDedup]], the streaming
    * twin ([[graft.streaming.PipelineStreams.lineDedupStream]]), and
    * (via generated SQL constants) the oracle. */
  def chunkFrame(toks: DataFrame): DataFrame = {
    val C = LineChunkWords
    toks
      .select(col("doc_id"), posexplode(
        transform(
          sequence(lit(0L), ((size(col("toks")) + C - 1) / C).cast("long") - 1),
          j => concat_ws(" ", slice(col("toks"), (j * C + 1).cast("int"), lit(C)))))
        .as(Seq("chunk_id", "chunk")))
      .withColumn("h", md5(col("chunk")))
  }

  /** Per-doc ordered reassembly of surviving chunk rows:
    * (doc_id, n_kept_chunks, kept_text). */
  def rebuildKept(kept: DataFrame): DataFrame = kept
    .groupBy("doc_id")
    .agg(count(lit(1)).as("n_kept_chunks"),
      array_join(transform(
        array_sort(collect_list(struct(col("chunk_id"), col("chunk")))),
        s => s("chunk")), " ").as("kept_text"))

  /** Word count of a reassembled text, with the empty-text guard (a NULL
    * or empty rebuild is zero words — `split("")` would report one). */
  def keptWords(keptText: Column): Column =
    when(keptText.isNull || keptText === "", lit(0L))
      .otherwise(size(split(keptText, " ")).cast("long"))

  def lineDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = docs(spark, sfDir)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val chunks = chunkFrame(toks)
    val boiler = chunks.groupBy("h")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= LineDupMinDocs)
      .select("h")
    val kept = rebuildKept(chunks.join(boiler, Seq("h"), "left_anti"))
    // total chunk count is pure arithmetic on the token array — no third
    // evaluation of the chunk explode
    toks.select(col("doc_id"),
        ((size(col("toks")) + LineChunkWords - 1) / LineChunkWords)
          .cast("long").as("n_chunks"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        (col("n_chunks") - coalesce(col("n_kept_chunks"), lit(0L)))
          .as("n_dup_chunks"),
        keptWords(col("kept_text")).as("n_kept_words"),
        md5(coalesce(col("kept_text"), lit(""))).as("kept_hash"))
  }

  // ----- sliding-window exact substring (span) dedup -----

  /** Sliding-window width for exact substring dedup. Two documents that
    * share ANY [[SpanWindowWords]]-token run are caught at EVERY
    * alignment — unlike [[lineDedup]]'s fixed chunk grid, which misses a
    * shared run that straddles a chunk boundary shifted between the two
    * docs. This is the hashed-shingle equivalent of suffix-array
    * ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better" — public paper; they use 50 BPE
    * tokens at web scale): exact for shared runs ≥ W, blind below W by
    * definition. 8 words here so the synthetic docs (tens-to-hundreds of
    * words) exercise both matched and unmatched spans. */
  val SpanWindowWords = 8
  /** A window is duplicated when ≥ 2 DISTINCT docs contain it (within-doc
    * repetition is `quality_repetition`'s job, not dedup's). */
  val SpanDupMinDocs = 2L
  /** Keep a doc while duplicated-span coverage ≤ 50% of its tokens. */
  val SpanDupMaxPct = 50L

  /** (…, pos, h) sliding windows: pos is the 1-based token index of
    * the window start, h = md5 of the space-joined W tokens — hashed AT
    * the explode so the shuffle carries 32-byte keys, never span text.
    * Docs shorter than W emit no windows (the `when` guard: Spark's
    * `sequence(1, n)` would count DOWN for n < 1). Every input column
    * except `toks` rides along, so a caller (the streaming gate) can
    * attach per-doc context without a post-explode self-join — which on
    * a stream would be an unsupported stream-stream join. */
  def spanWindows(toks: DataFrame): DataFrame = {
    val W = SpanWindowWords
    val nw = size(col("toks")) - (W - 1)
    val carried = toks.columns.filterNot(_ == "toks").map(col).toSeq
    toks
      .select(carried :+ posexplode(
        when(nw >= 1, transform(sequence(lit(1), nw),
          j => md5(concat_ws(" ", slice(col("toks"), j, lit(W))))))
          .otherwise(array().cast("array<string>")))
        .as(Seq("i", "h")): _*)
      .select(carried :+ (col("i") + 1).cast("long").as("pos")
        :+ col("h"): _*)
  }

  /** Exact substring dedup report: which docs share ≥ W-token runs with
    * other docs, where, and how much of each doc those runs cover.
    *
    * Shape: explode hashed sliding windows → global duplicated-window set
    * (count DISTINCT docs per hash ≥ [[SpanDupMinDocs]]) → semi-join back
    * → merge each doc's duplicated windows into MAXIMAL spans (classic
    * gaps-and-islands: a window starting after the previous window's
    * coverage ends opens a new span) → per-doc accounting. Output is
    * integer-exact everywhere (counts and positions; the display frac is
    * a rounded division of exact integers).
    *
    * Scale: windows are one row per token position — linear in corpus
    * token count, hashed at the source (32-byte shuffle keys). The
    * duplicated-hash set is partial-aggregable and a sliver of the window
    * space (only cross-doc repeats survive the HAVING), so the semi-join
    * build side is small. The islands window function partitions by
    * doc_id — per-doc state only, never corpus-wide. At 100 TB the W-gram
    * hash table is the only big intermediate; it is exactly the layout
    * MinHash banding already shuffles, and a stride-k variant (hash every
    * k-th window, catch runs ≥ W+k−1) divides it by k without changing
    * this plan. */
  /** Maximal duplicated spans per doc — (doc_id, island, s, e, nwin),
    * shared by [[spanDedup]] (accounting) and [[spanScrub]] (executable
    * removal). One evaluation of the window explode and ONE shuffle:
    * cross-doc duplication of a window hash is decided by an analytic
    * window over `h` — a hash occurs in ≥ [[SpanDupMinDocs]] (= 2)
    * distinct docs iff `min(doc_id) ≠ max(doc_id)` within the hash's
    * partition — then the surviving occurrences merge per doc by
    * gaps-and-islands.
    *
    * Skew posture (the round-9 verdict's one 100 TB blocker): NO
    * per-hash occurrence buffer exists anywhere in this plan. The
    * previous shape collected each hash's full occurrence list into one
    * aggregation buffer (`collect_list` per `h`) — a boilerplate W-gram
    * shared by millions of docs ("all rights reserved…" class) would
    * build a multi-GB buffer on a single reducer. Here the only per-hash
    * state is the two O(1) min/max registers, and the row buffer the
    * window operator holds per hash group is
    * `ExternalAppendOnlyUnsafeRowArray` — it SPILLS to disk past
    * `spark.sql.windowExec.buffer.spill.threshold` rows, so a hot hash
    * costs one task time and local disk, never executor memory
    * (ScaleGuardSpec plants a boilerplate gram into most docs and
    * asserts the plan shape + unchanged answers). The groupBy +
    * semi-join-back alternative evaluates the corpus-scale window
    * kernel twice (left-semi pushdown through the repartition defeats
    * exchange reuse — measured); this is one kernel pass, one exchange,
    * one sort, no joins. */
  def dupSpans(toks: DataFrame): DataFrame = {
    val W = SpanWindowWords
    // min≠max decides "≥ 2 distinct docs" with O(1) state; a different
    // threshold would need dense_rank over an ordered window instead
    require(SpanDupMinDocs == 2L,
      s"dupSpans min/max duplication test assumes SpanDupMinDocs == 2")
    val byH = Window.partitionBy("h")
    val dup = spanWindows(toks)
      .withColumn("mn", min("doc_id").over(byH))
      .withColumn("mx", max("doc_id").over(byH))
      .filter(col("mn") =!= col("mx")) // ⟺ ≥ SpanDupMinDocs (= 2) docs
      .select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    dup
      .withColumn("brk",
        when(col("pos") > lag("pos", 1).over(byDoc) + W, 1).otherwise(0))
      .withColumn("island", sum("brk").over(byDoc))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("s"), max("pos").as("e"), count(lit(1)).as("nwin"))
  }

  /** Kept for callers of the per-module teardown: releases every
    * artifact of `spark` ([[graft.Artifacts.clear]]). */
  def clearCaches(spark: SparkSession): Unit = graft.Artifacts.clear(spark)

  /** Session-scoped persist-once of the [[dupSpans]] result — the
    * classic big-build/small-artifact shape: building it is the corpus
    * window explode + shuffle (the span family's dominant stage), but
    * the result is a SLIVER (only docs with duplicated spans, one row
    * per maximal island). `span_dedup` and `span_scrub` share it, so the
    * second consumer pays a cache read, not a second corpus pass. Same
    * fingerprint-evicting registry contract as Dedup's signature
    * tables. */
  def cachedDupSpans(spark: SparkSession, sfDir: String): DataFrame =
    graft.Artifacts.cached(spark, sfDir, "dup_spans")(
      dupSpans(docs(spark, sfDir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))))

  def spanDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val W = SpanWindowWords
    val toks = docs(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    val perDoc = cachedDupSpans(spark, sfDir).groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + W).as("n_dup_tokens"),
        sum("nwin").as("n_dup_windows"))
    toks
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        greatest(size(col("toks")) - (W - 1), lit(0)).cast("long")
          .as("n_windows"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        round(coalesce(col("n_dup_tokens"), lit(0L)) / col("n_tokens"), 6)
          .as("dup_token_frac"),
        (coalesce(col("n_dup_tokens"), lit(0L)) * 100 <=
          lit(SpanDupMaxPct) * col("n_tokens")).as("pass_span"))
  }

  // ----- winnowed span fingerprints (the 100 TB span-dedup path) -----

  /** Winnowing window: from each run of [[WinnowK]] consecutive
    * window-hashes, the minimum is selected as a fingerprint (Schleimer,
    * Wilkerson & Aiken 2003, "Winnowing: Local Algorithms for Document
    * Fingerprinting" — public paper). GUARANTEE: two docs sharing any
    * run of ≥ [[SpanWindowWords]] + WinnowK − 1 tokens select at least
    * one IDENTICAL fingerprint, at ANY alignment offset — unlike naive
    * stride-k sampling on both sides, which only matches runs whose
    * offsets agree mod k. Expected density ≈ 2/(WinnowK+1), so the
    * cross-doc shuffle carries ~40 % of the window hashes at K=4 (and
    * 1/K of them at large K) while full [[spanDedup]] shuffles all of
    * them — the knob that keeps exact-substring dedup affordable at
    * 100 TB, at the cost of the detection floor rising from W to
    * W+K−1 tokens. */
  val WinnowK = 4

  /** Per-doc winnowed fingerprint SET, computed entirely in-row: the
    * window-hash array and its sliding minima never leave the scan
    * stage; only the distinct selected fingerprints (the ~2/(K+1)
    * sliver) are exploded for the cross-doc join. One compiled O(n)
    * pass per doc ([[graft.functions.TextHashes.WinnowFps]]: md5 per
    * window + monotonic-deque sliding min). Input: (doc_id, toks).
    * Output: (doc_id, n_windows, fps: array<string>). */
  def winnowFingerprints(toks: DataFrame): DataFrame = {
    val W = SpanWindowWords
    toks
      .select(col("doc_id"),
        greatest(size(col("toks")) - (W - 1), lit(0)).cast("long")
          .as("n_windows"),
        graft.functions.TextHashes.winnow_fps(col("toks"), W, WinnowK)
          .as("fps"))
  }

  /** The declarative (built-in-functions-only) twin of
    * [[winnowFingerprints]] — the round-9 shipping form, kept as the
    * equivalence oracle for the compiled kernel (CurationSpec asserts
    * value-identity per doc). Interpreted higher-order functions make it
    * ~10× the kernel's cost; not used on any query path. */
  private[graft] def winnowFingerprintsDeclarative(toks: DataFrame): DataFrame = {
    val W = SpanWindowWords
    val K = WinnowK
    val nw = size(col("toks")) - (W - 1)
    val hs = when(nw >= 1, transform(sequence(lit(1), nw),
        j => md5(concat_ws(" ", slice(col("toks"), j, lit(W))))))
      .otherwise(array().cast("array<string>"))
    // the sliding-min references the hash array once per selection — if
    // that reference is the O(n)-md5 EXPRESSION, CollapseProject inlines
    // it into the lambda and the plan re-builds the whole array per
    // selection index (O(n²) md5s per doc — measured 258 s at sf0.1).
    // Binding it as a single-element transform's LAMBDA VARIABLE forces
    // one evaluation per row.
    val fps = element_at(transform(array(hs), hsv =>
      when(size(hsv) < K,
        // shorter than one winnowing window: keep every hash (the
        // paper's boundary rule — a doc must not go unfingerprinted)
        array_distinct(hsv))
        .otherwise(array_distinct(transform(
          sequence(lit(1), size(hsv) - (K - 1)),
          i => array_min(slice(hsv, i, lit(K))))))), 1)
    toks
      .select(col("doc_id"),
        greatest(size(col("toks")) - (W - 1), lit(0)).cast("long")
          .as("n_windows"),
        fps.as("fps"))
  }

  /** Winnowed cross-doc span detection — the scale form of
    * [[spanDedup]]: per-doc fingerprint counts plus how many of the
    * doc's fingerprints are shared with ≥ [[SpanDupMinDocs]]−1 other
    * docs. Detection floor: shared runs ≥ W+K−1 tokens (guaranteed by
    * winnowing); shorter shared runs may or may not surface.
    *
    * Scale: everything before the explode is in-row at scan speed; the
    * exploded fingerprint table is ~2/(K+1) of the full window table
    * and shuffles 32-byte hashes; the duplicated-fingerprint rollup is
    * the same skew-safe min/max-window shape as [[dupSpans]] — no
    * per-fingerprint occurrence buffer anywhere (a boilerplate
    * fingerprint shared by millions of docs spills through the window
    * operator's disk-backed row buffer instead of materializing one
    * giant list on one reducer). The fingerprint kernel runs once below
    * the window exchange for the dup side and once at scan speed for
    * the per-doc stats side — recompute CPU traded against an extra
    * corpus-scale shuffle of the fps arrays, the right side of that
    * trade once the kernel is compiled. */
  def spanDedupWinnow(spark: SparkSession, sfDir: String): DataFrame =
    spanDedupWinnowFrom(docs(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("toks")))

  /** [[spanDedupWinnow]] over an arbitrary (doc_id, toks) frame — the
    * operator body, shared with the skew-plant stress harness
    * ([[graft.SpanStress]]) so the measured path IS the query path. */
  private[graft] def spanDedupWinnowFrom(toks: DataFrame): DataFrame = {
    require(SpanDupMinDocs == 2L,
      s"spanDedupWinnow min/max duplication test assumes SpanDupMinDocs == 2")
    val fp = winnowFingerprints(toks)
    val byF = Window.partitionBy("f")
    val dup = fp.select(col("doc_id"), explode(col("fps")).as("f"))
      .withColumn("mn", min("doc_id").over(byF))
      .withColumn("mx", max("doc_id").over(byF))
      .filter(col("mn") =!= col("mx"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_fp"))
    fp
      .select(col("doc_id"), col("n_windows"),
        size(col("fps")).cast("long").as("n_fp"))
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"), col("n_fp"),
        coalesce(col("n_dup_fp"), lit(0L)).as("n_dup_fp"),
        round(coalesce(col("n_dup_fp"), lit(0L)) /
          when(col("n_fp") === 0, lit(null)).otherwise(col("n_fp"))
            .cast("double"), 6).as("dup_fp_frac"))
  }

  /** Materialize the base corpus's distinct-window-hash index as a
    * BUCKETED table for the streaming span gate
    * ([[graft.streaming.PipelineStreams.spanDedupStreamIndexed]]) — the
    * layout for a base whose index outgrows executor memory. One row per
    * distinct window hash (≈ one per base token — the gate family's
    * largest static index), bucketed+sorted on the join key `h` so a
    * probe joins with NO Exchange and NO Sort on the base side; the
    * shuffle was paid once here. Same design as
    * [[graft.operators.Similarity.writeBandIndexTable]]. */
  def writeSpanIndexTable(spark: SparkSession, sfDir: String,
                          table: String, nBuckets: Int = 16): Unit =
    spanWindows(docs(spark, sfDir)
        .select(col("doc_id"), tokens(col("text")).as("toks")))
      .groupBy("h").agg(min("doc_id").as("base_id"))
      .write.mode("overwrite")
      .bucketBy(nBuckets, "h").sortBy("h")
      .saveAsTable(table)

  /** The WINNOWED on-disk span index — ~2/([[WinnowK]]+1) the rows of
    * [[writeSpanIndexTable]] (one per distinct SELECTED fingerprint
    * instead of one per distinct window hash), with the documented
    * detection floor rising from W to W+K−1 shared tokens. This is the
    * 100 TB layout for the streaming span gate: the full index is the
    * gate family's largest static artifact (≈ one row per base corpus
    * token); winnowing divides both its build shuffle and its on-disk
    * footprint by ~(K+1)/2 while keeping the alignment-safe guarantee
    * (both sides select the minimum over every K consecutive hashes, so
    * any shared ≥ W+K−1-token run selects an identical fingerprint at
    * SOME position — Schleimer et al. 2003). Bucketed+sorted on `f`, so
    * probes join with no base-side Exchange or Sort. */
  def writeSpanWinnowIndexTable(spark: SparkSession, sfDir: String,
                                table: String, nBuckets: Int = 16): Unit =
    winnowFingerprints(docs(spark, sfDir)
        .select(col("doc_id"), tokens(col("text")).as("toks")))
      .select(col("doc_id"), explode(col("fps")).as("f"))
      .groupBy("f").agg(min("doc_id").as("base_id"))
      .write.mode("overwrite")
      .bucketBy(nBuckets, "f").sortBy("f")
      .saveAsTable(table)

  /** Executable span removal — the reconstruction counterpart of
    * [[spanDedup]], symmetric to [[lineDedup]]'s kept_hash but at
    * arbitrary alignment: every token position covered by a maximal
    * duplicated span is dropped, the survivors reassemble in order, and
    * the full rebuild is verified by md5 (so a single off-by-one in the
    * island arithmetic fails the hash, not just a count).
    *
    * Scale: the covered-position explode is bounded by corpus tokens
    * (spans are disjoint per doc, so Σ(e−s+W) ≤ n_tokens); the token
    * explode is one row per corpus token; the anti-join is equi on
    * (doc_id, pos); the rebuild groups by doc_id — each group one doc's
    * own tokens, never corpus-sized. Same posture as [[lineDedup]]. */
  def spanScrub(spark: SparkSession, sfDir: String): DataFrame =
    spanRebuild(
      docs(spark, sfDir)
        .select(col("doc_id"), tokens(col("text")).as("toks")),
      cachedDupSpans(spark, sfDir))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        size(col("kept_toks")).cast("long").as("n_kept_tokens"),
        md5(array_join(col("kept_toks"), " ")).as("kept_hash"))

  /** Test seam: [[spanRebuild]] end-to-end over an in-memory toks frame
    * (spans computed fresh, kept text returned verbatim) — the property
    * suite cross-checks the rebuilt STRING against a plain-Scala
    * reference, catching island off-by-ones at both ends. */
  private[graft] def spanScrubToks(toks: DataFrame): DataFrame =
    spanRebuild(toks, dupSpans(toks))
      .select(col("doc_id"), array_join(col("kept_toks"), " ").as("kept_text"))

  /** Shared rebuild core of [[spanScrub]]: every token position covered
    * by a maximal duplicated span is dropped and the survivors
    * reassemble in order. Output columns: (doc_id, toks, n_dup_tokens,
    * kept_toks). */
  private def spanRebuild(toks: DataFrame, spans: DataFrame): DataFrame = {
    val W = SpanWindowWords
    // spans per doc as an ARRAY (sliver-sized right side of one equi
    // join), then the kept text is rebuilt per row by slicing the doc's
    // own token array along the COMPLEMENT ranges of its sorted span
    // list — no token explode, no rebuild shuffle, and O(tokens + spans)
    // per doc (a per-token exists() over the span array would be
    // O(tokens × spans), quadratic for a pathological doc that
    // alternates duplicated and fresh runs). The exploded
    // tokPos ⟕ coveredPos formulation measured 3.4 s at sf0.1 (a 2M-row
    // anti-join plus a collect_list rebuild) vs scan speed for this.
    val spansPerDoc = spans
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("s"), col("e")))).as("sp"),
        sum(col("e") - col("s") + W).as("n_dup_tokens"))
    // kept range i (0-based, n_spans+1 of them): starts after span i-1's
    // coverage (e + W − 1 is its last covered position) and ends before
    // span i starts; the tail range runs to the end of the doc. Maximal
    // islands are disjoint and array_sort orders them by s, so the
    // ranges are well-formed; empty ranges slice to length 0.
    val keptRanges = transform(sequence(lit(0), size(col("sp"))), i =>
      struct(
        when(i === 0, lit(1L))
          .otherwise(element_at(col("sp"), i)("e") + W).as("lo"),
        when(i < size(col("sp")), element_at(col("sp"), i + 1)("s") - 1)
          .otherwise(size(col("toks")).cast("long")).as("hi")))
    toks
      .join(spansPerDoc, Seq("doc_id"), "left")
      .withColumn("kept_toks", when(col("sp").isNull, col("toks"))
        .otherwise(flatten(transform(keptRanges, r =>
          slice(col("toks"), r("lo").cast("int"),
            greatest(r("hi") - r("lo") + 1, lit(0L)).cast("int"))))))
  }
}
