package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Artifacts
import graft.operators.TextAnalysis.{normText, tokens}

/** Deduplication family for a training-data pipeline over `documents`:
  * exact (content hash), MinHash+LSH near-dup, SimHash fingerprinting,
  * blocked n-gram Jaccard, and mod-p k-gram document fingerprinting.
  *
  * Scale posture (100 TB):
  *  - every operator shuffles only by hash keys (content hash, LSH band
  *    bucket, blocking key) — there is NO all-pairs crossJoin anywhere;
  *    candidate generation is equi-join on band/block keys, so cost is
  *    Σ bucket² not N². Hot buckets are an AQE skew-join case.
  *  - signatures (minhash/simhash) are narrow per-row transforms that run
  *    inside WholeStageCodegen at scan speed; in production you'd persist
  *    the signature table once and reuse it across dedup runs.
  *
  * Hash portability: every hash must be bit-identical in Spark and the
  * DuckDB oracle, so word/gram hashes are the first 8 hex chars of md5
  * (`conv(hex,16,10)` / `CAST('0x'||hex AS BIGINT)` — both engines get the
  * same 32-bit value), and the MinHash family is (a*h + b) mod P over that.
  */
object Dedup {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Tables.load(spark, sfDir, "documents")

  /** 32-bit portable string hash: first 8 md5 hex chars as an integer.
    * SQL twin: CAST('0x' || substr(md5(x), 1, 8) AS BIGINT). */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  // ---- MinHash parameters (shared with the generated oracle SQL) ----
  val NumHashes = 16
  val BandSize = 4
  val NumBands: Int = NumHashes / BandSize

  /** The per-coordinate permutation is mix32((mix32(h XOR K) + K) mod
    * 2^32) with K = mixKey(i) — Mueller's two-round avalanche mixer
    * (public domain, multiplier 0x45d9f3b) applied twice with the key
    * re-injected between applications. Replaced the 2-independent linear
    * family (a·h+b) mod P in r12 after `ngram_recall` MEASURED that
    * family's minwise bias against exhaustive ground truth: ~6pp below
    * the true Jaccard per coordinate, compounding to 0.81 observed
    * banding recall where the 8×2 design predicts 0.90 (2-independence
    * does not give minwise independence — the classic Pătraşcu–Thorup
    * separation, reproduced empirically here). A single-mix variant
    * removed the mean bias but left per-family spread (−12σ/+9σ for the
    * two 16-key families at sf0.1); the double-mix holds both within
    * ~1.5σ at every tested SF. All intermediates < 2^59, so the
    * identical arithmetic is exact in DuckDB BIGINTs
    * ([[graft.OracleSql]] generates the SQL twin from these constants). */
  val MixMultiplier = 73244475L // 0x45d9f3b
  /** Key-derivation multiplier (Knuth's 2654435761 = golden ratio · 2^32). */
  val MixKeyDeriv = 2654435761L
  def mix32(z0: Long): Long = {
    var z = z0
    z = ((z ^ (z >>> 16)) * MixMultiplier) & 0xFFFFFFFFL
    z = ((z ^ (z >>> 16)) * MixMultiplier) & 0xFFFFFFFFL
    z ^ (z >>> 16)
  }
  /** Coordinate i's key (families index disjoint i ranges). */
  def mixKey(i: Int): Long = mix32((MixKeyDeriv * (i + 1)) & 0xFFFFFFFFL)
  /** Verified-Jaccard near-dup threshold. */
  val JaccardThreshold = 0.9

  // ---- n-gram variant banding (threshold 0.5 → more, smaller bands) ----
  /** 8 bands of 2 rows over the same 16-hash family: candidate recall at
    * s=0.5 is 1-(1-0.5²)⁸ ≈ 0.90, and ≈ 1.0 at the s≥0.8 the word-shuffle
    * duplicates actually sit at. */
  val NgramBandSize = 2
  val NgramNumBands: Int = NumHashes / NgramBandSize
  val NgramJaccardThreshold = 0.5

  /** Minimum sizes below which a document has an EMPTY shingle/word set —
    * round-3 advice: empty sets make MinHashSigs NULL, concat_ws then
    * collapses every band_key to "" (one hot bucket duplicated per band, a
    * Σ bucket² blowup) and their 0/0 jaccard is NaN, which passes ≥-filters
    * under NaN-is-greatest semantics on BOTH engines. Filtered out up
    * front, mirrored in the generated oracle SQL (shared constants). */
  val NgramMinChars = 3 // a 3-gram needs ≥3 normalized chars
  val MinWords = 1

  /** doc_id + distinct word set + per-word 32-bit hashes (one imperative
    * pass — graft.functions.TextHashes — instead of an interpreted
    * per-element HOF lambda; values identical). */
  private[graft] def docWords(spark: SparkSession, sfDir: String): DataFrame =
    // NO spreadIfNarrow here (r17 A/B): the tokenize+md5 kernel is cheap
    // relative to the pairs builds' join stages, and the added exchange +
    // 32-partition persisted base measured SLOWER on the same window
    // (artifact_minhash_pairs 4.67 → 5.34 s, simhash_fingerprint 0.30 →
    // 0.43 s) — the same pre-partitioned-cache effect as the r14 band_key
    // bisect. The spread stays where the kernel dominates (ngramDocs,
    // docFingerprint).
    docs(spark, sfDir).select(
      col("doc_id"), col("lang"),
      normText(col("text")).as("ntext"),
      array_distinct(tokens(col("text"))).as("ws"))
      .withColumn("hws", graft.functions.TextHashes.hash32_array(col("ws")))

  /** (doc_id, nw, hws, set_id) — the word-set frame with the MinHash
    * collapse key (md5 over the sorted hash set; 128-bit because a
    * fingerprint collision would wrongly merge sets). Shared by the
    * batch pair build and the streaming gate's collapsed base index so
    * the collapse rule cannot drift. */
  private[graft] def wordSetIds(spark: SparkSession, sfDir: String): DataFrame =
    docWords(spark, sfDir)
      .select(col("doc_id"), size(col("hws")).cast("long").as("nw"),
        col("hws"))
      .filter(col("nw") >= MinWords) // empty set → NULL sigs hot bucket
      .withColumn("set_id", md5(concat_ws(",",
        transform(array_sort(col("hws")), x => x.cast("string")))))

  /** Exact dedup: sha256 over normalized text; keep-first by doc_id within
    * each hash group. Per-doc output so the oracle checks the whole
    * decision, not just survivor counts. Scale: one shuffle by 256-bit
    * content hash — uniform keys, no skew. */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .withColumn("text_hash", sha2(normText(col("text")), 256))
      .withColumn("group_size",
        count(lit(1)).over(Window.partitionBy("text_hash")).cast("long"))
      .withColumn("is_kept",
        row_number().over(
          Window.partitionBy("text_hash").orderBy("doc_id")) === 1)
      .select(col("doc_id"), col("text_hash"), col("group_size"),
        col("is_kept"))

  /** (doc_id, nw, band_j, band_key) — one row per LSH band; nw (distinct
    * word count) rides along for the size-ratio prune. The whole k-hash
    * signature is ONE expression (TextHashes.minhash_sigs) computing all
    * mins in a single pass over the word hashes. */
  private[graft] def bandsOf(base: DataFrame, familyOffset: Int = 0): DataFrame = {
    val sig = base.withColumn("sigs",
      graft.functions.TextHashes.minhash_sigs(col("hws"),
        (0 until NumHashes).map(i => mixKey(familyOffset + i))))
    val keys = array((0 until NumBands).map { j =>
      struct(lit(j).as("band_j"),
        concat_ws("_", (0 until BandSize).map(r =>
          element_at(col("sigs"), j * BandSize + r + 1)): _*)
          .as("band_key"))
    }: _*)
    // ride-along style (like simhashBlockKeys/ngramBandKeys, r11): all
    // input columns survive the explode so the streaming gate can keep
    // hws next to its band keys; batch callers project the slim shape
    // afterwards and column pruning pushes it below the Generate
    sig.withColumn("k", explode(keys))
      .withColumn("band_j", col("k.band_j"))
      .withColumn("band_key", col("k.band_key"))
      .drop("k", "sigs")
  }

  /** Compressed on-disk bytes of a backing table — the cheap (fs metadata
    * only) input-size measure the data-proportional shuffle sizing keys
    * off. Summed through the path's Hadoop FS, so a `file:`, s3a or hdfs
    * table sizes like a bare local path. A missing table is 0 bytes. */
  private[graft] def inputBytes(spark: SparkSession, sfDir: String,
                                table: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$sfDir/$table.parquet")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    try fs.getContentSummary(p).getLength
    catch { case _: java.io.FileNotFoundException => 0L }
  }

  /** Source-compressed bytes per shuffle partition for the big artifact
    * builds. The constant is set from the r13 sf10 measurement, not
    * guessed: the inverted-index / band-explode shuffles expand the
    * compressed source ~40–70x (term and band rows per text byte), and
    * the sweep showed 512 partitions over the 59 MB sf10 documents table
    * (≈ 115 KB source bytes each → ~5–8 MB shuffle partitions) fixing the
    * spill band (`partition_health` 24x→5.8x, `ngram_jaccard` 58x→29x)
    * where cpus-pinned 32 put ~100 MB through every sort. 128 KB lands
    * the same decade. */
  val BuildBytesPerPartition = 128L * 1024

  /** Data-proportional partition count for a build's wide exchanges:
    * never below the session's configured shuffle partitions (so small
    * scales keep today's plans and floors exactly — the measured 2–5x
    * small-query tax of a GLOBAL 512 default was why r13 shipped the env
    * knob instead), growing linearly with the backing table's size above
    * that, capped at 4096 (at real cluster scale the cap is the point
    * where per-partition size, not count, should be retuned). This is the
    * per-operator replacement for the `SPARK_GRAFT_INITIAL_PARTITIONS`
    * env knob: the operator sizes its own shuffles from its own measured
    * input, per the r13 verdict's follow-through item. */
  private[graft] def buildShufflePartitions(
      spark: SparkSession, sfDir: String,
      table: String = "documents"): Int = {
    val floor = spark.sessionState.conf.numShufflePartitions
    val sized = inputBytes(spark, sfDir, table) / BuildBytesPerPartition + 1
    math.max(floor, math.min(4096L, sized).toInt)
  }

  /** Family-independent collapsed word-set base shared by BOTH MinHash
    * family builds (r17 verdict #3: the two families re-ran the
    * tokenize+hash+collapse subtree end-to-end — build it once, band
    * twice). `wsall` = per-doc word sets with the collapse key;
    * `wsreps` = one row per DISTINCT set. Persist-once registry entries;
    * the bench charges the base as its own artifact row
    * (`artifact_minhash_base`) and drops ONLY the family variants
    * between pairs-row trials. */
  private[graft] def wordSetAll(spark: SparkSession, sfDir: String): DataFrame =
    Artifacts.cached(spark, sfDir, "wsall")(wordSetIds(spark, sfDir))

  private[graft] def wordSetReps(spark: SparkSession, sfDir: String): DataFrame =
    Artifacts.cached(spark, sfDir, "wsreps")(
      wordSetAll(spark, sfDir).groupBy("set_id").agg(
        min("doc_id").as("doc_id"),
        first("nw").as("nw"), // members share the set, hence nw
        min_by(col("hws"), col("doc_id")).as("hws")))

  /** Intra-group pairs: identical sets ⟺ Jaccard exactly 1.0, and
    * identical signatures always collide — every member pair is a
    * verified pair by construction, for EITHER hash family. Family-
    * independent, so cached once and unioned into both family builds. */
  private[graft] def wordSetIntraPairs(spark: SparkSession,
                                       sfDir: String): DataFrame =
    Artifacts.cached(spark, sfDir, "wsintra") {
      val members = wordSetAll(spark, sfDir)
        .select(col("set_id"), col("doc_id"))
      members.as("x").join(members.as("y"),
          col("x.set_id") === col("y.set_id") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          lit(1.0).as("jaccard"))
    }

  /** Materialize the base eagerly — persist alone is lazy, and a
    * self-join over a cold cache races both sides into computing the
    * same partitions (duplicate scans, not cache hits). The count jobs
    * run only when the entry is cold so a warm-path family build pays
    * zero extra actions. */
  private[graft] def wordSetBase(spark: SparkSession, sfDir: String): Unit =
    Seq[(String, (SparkSession, String) => DataFrame)](
      "wsall" -> wordSetAll, "wsreps" -> wordSetReps,
      "wsintra" -> wordSetIntraPairs).foreach { case (variant, frame) =>
      if (!Artifacts.warm(spark, sfDir, variant))
        frame(spark, sfDir).count(): Unit
    }

  /** Candidate pairs from LSH banding (docs sharing ≥1 band bucket),
    * verified with exact Jaccard over the distinct word sets.
    * Output: verified near-dup pairs (doc_a < doc_b, jaccard ≥ 0.9).
    *
    * Scale: the self-join is an equi-join on (band_j, band_key) — only
    * same-bucket pairs are materialized; recall at s=0.9 with 4 bands of 4
    * is 1-(1-0.9^4)^4 ≈ 0.986 (deterministic: both engines compute the same
    * signatures, hence the same candidate set).
    *
    * Persist-once per (session, sfDir): every consumer (pairs query,
    * keep/drop, connected components) shares one materialization. */
  def verifiedPairs(spark: SparkSession, sfDir: String): DataFrame =
    Artifacts.cached(spark, sfDir, "pairs")(computeMinhashPairs(spark, sfDir))

  /** Verified pairs under an INDEPENDENT second hash family (indices
    * 16..31 of the same universal family) — the pooled-truth leg of
    * [[minhashRecall]]. Same pipeline, same collapse, same verify; only
    * the mixKey family slot differs (`familyOffset = NumHashes` selects
    * mix indices 16..31 instead of 0..15), so any pair it finds and the
    * primary family misses is a primary-banding miss, not a semantics
    * difference. */
  private[graft] def verifiedPairsB(spark: SparkSession, sfDir: String): DataFrame =
    Artifacts.cached(spark, sfDir, "pairsB")(
      computeMinhashPairs(spark, sfDir, familyOffset = NumHashes))

  /** Kept for callers of the per-module teardown: releases every
    * artifact of `spark` ([[Artifacts.clear]]). */
  def clearCaches(spark: SparkSession): Unit = Artifacts.clear(spark)

  def dedupMinhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    verifiedPairs(spark, sfDir)

  private def computeMinhashPairs(spark: SparkSession, sfDir: String,
                                  familyOffset: Int = 0): DataFrame = {
    // EAGER build over ONE persisted tokenize+md5 base (sf1 stress
    // finding): the lazy composite plan evaluates the docWords subtree up
    // to FOUR times (self-join sides + both verify probes; ReuseExchange
    // recovers only the identical-exchange pair), and each evaluation
    // re-tokenizes and re-md5s the corpus — 14 parquet scans in the
    // executed plan, ~2× the whole build's cost at 10× scale. The base is
    // materialized with count() BEFORE the consuming joins: persist alone
    // is lazy, and a self-join over a cold cache races both sides into
    // computing the same partitions (duplicate scans, not cache hits).
    // The final localCheckpoint materializes the result so the
    // intermediates can be released immediately (a bare return would leave
    // the caller's first action recomputing through unpersisted lineage).
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // IDENTICAL-SET COLLAPSE (r11, measured at sf0.1: one band bucket
    // held 2,279 docs but only 1,368 distinct word-sets — boilerplate
    // copies): signatures, band keys, and Jaccard are all SET-functions
    // of hws, so docs with the same distinct-word set are
    // indistinguishable to every stage below. Band + verify run once per
    // DISTINCT set (the representative = the group's smallest doc_id;
    // any member's hws serves), and verified rep pairs expand back to
    // member pairs afterwards. Output is value-identical — intra-group
    // pairs all collide (same keys) and verify at exactly 1.0; a
    // cross-group member pair's Jaccard equals its reps' — but the
    // quadratic candidate work scales with distinct VARIANTS, not
    // copies: the classic 100 TB boilerplate cluster (millions of
    // copies of one page) costs its distinct-variant count squared plus
    // output-bounded expansion, instead of copies squared. set_id is
    // md5 over the sorted hash set (128-bit; a fingerprint collision
    // would wrongly merge sets, so the 32-bit limb hash is not enough).
    // The word-set base (`all`, `reps`) is FAMILY-INDEPENDENT and shared
    // with the second family's build via the persist-once cache (r17
    // verdict #3) — built once, banded twice. Cache-owned: NOT
    // unpersisted here.
    wordSetBase(spark, sfDir)
    val all = wordSetAll(spark, sfDir)
    val reps = wordSetReps(spark, sfDir)
    val members = all.select(col("set_id"), col("doc_id"))
    // set_id RIDES THROUGH the band explode (32 bytes per exploded row —
    // the r11 ngram build's plan discipline, adopted here in r12), so
    // the expansion needs no joins back to `reps` to recover each
    // side's group
    val base = reps.select(col("doc_id"), col("nw"), col("hws"),
      col("set_id"))
    // NOT pre-partitioned on the band key (r14 bisect): the r13 attempt
    // (`.repartition(buildShufflePartitions(...), band_j, band_key)`
    // before the persist, meant to pay the self-join's exchange once at
    // a data-proportional width) measured SLOWER at BOTH decades —
    // sf0.1 3.11 → 5.06 s, sf10 105.5 → 146.2 s (same box, three-point
    // bisect) — because the cached pre-exchange pins the join's layout
    // where ENSURE_REQUIREMENTS exchanges off the narrow cache leave AQE
    // free to size the join stages. Data-proportional sizing stays where
    // it measured a WIN (the termCounts aggregation).
    // hws RIDES THROUGH the band explode too (r18): the verify consumes
    // it IN the self-join (below), so the band table carries NumBands
    // copies of each distinct set's hash array — linear in the collapsed
    // corpus — instead of the candidate table carrying per-PAIR rows
    // (quadratic in bucket size) across two verify exchanges.
    val b = bandsOf(base, familyOffset)
      .select(col("doc_id"), col("nw"), col("set_id"),
        col("band_j"), col("band_key"), col("hws"))
      .persist(lvl)
    b.count()
    // size-ratio prune INSIDE the band join: jaccard ≥ 0.9 implies
    // 10·min(|A|,|B|) ≥ 9·max(|A|,|B|) (integer-exact, so the oracle's
    // identical condition selects the identical candidate set); at sf0.1
    // this drops ~52% of candidates before the array-intersect verify.
    //
    // VERIFY INSIDE THE BAND JOIN (r18, opt guide §2.3/§2.4 — the r12
    // "no pre-verify distinct" finding taken to its limit): the old
    // shape materialized the candidate multiset (Σ bucket² rows — 1.39M
    // at sf0.1 from 15,740 band rows, 48:1 over verified pairs) and
    // shuffled it through TWO SHUFFLE_HASH joins against the per-doc
    // hash-set frame just to attach hws — 176 MB of the build's 177 MB
    // measured shuffle, 2.2 of ~5.5 s. Computing jaccard directly on
    // the joined band rows means the quadratic candidate set lives only
    // INSIDE the join operator (streamed, filtered to the output-sized
    // survivor sliver before anything crosses an exchange); the only
    // payload shuffled is the band table itself — NumBands × the
    // collapsed corpus' hash arrays, linear, the §8 rule ("every
    // shuffle but the last operates on data linear in the input").
    // Values are identical: same candidate multiset (same join
    // condition), same per-pair jaccard (a rep's hws is the same array
    // the old per-doc frame attached), same post-filter distinct.
    try {
      // verified pairs at REPRESENTATIVE level (one per distinct set)
      val repPairs = b.as("a").join(b.as("b"),
          col("a.band_j") === col("b.band_j") &&
            col("a.band_key") === col("b.band_key") &&
            col("a.doc_id") < col("b.doc_id") &&
            least(col("a.nw"), col("b.nw")) * 10 >=
              greatest(col("a.nw"), col("b.nw")) * 9)
        .withColumn("jaccard",
          round(graft.functions.TextHashes.jaccard_long(
            col("a.hws"), col("b.hws")), 6))
        .filter(col("jaccard") >= JaccardThreshold)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.set_id").as("sid_a"), col("b.set_id").as("sid_b"),
          col("jaccard"))
        .distinct() // multi-band collisions, deduped post-verify
      // expand rep pairs to member pairs: cross the two member groups —
      // output-bounded work, one row per emitted pair
      val cross = repPairs
        .join(members.as("ma"), col("sid_a") === col("ma.set_id"))
        .join(members.as("mb"), col("sid_b") === col("mb.set_id"))
        .select(
          least(col("ma.doc_id"), col("mb.doc_id")).as("doc_a"),
          greatest(col("ma.doc_id"), col("mb.doc_id")).as("doc_b"),
          col("jaccard"))
      // intra-group pairs: family-independent, cached once in the base
      // ([[wordSetIntraPairs]]) and reused by the sibling family's build
      val intra = wordSetIntraPairs(spark, sfDir)
      // Materialize the sliver CLUSTERED BY doc_b: the pre-collapse
      // pipeline's last shuffle was the doc_b-keyed verify join, so
      // consumers doing per-doc_b work (dedup_similar_keep's distinct)
      // combined fully map-side; the expansion joins scatter that
      // clustering, measured +0.15 s on the consumer. One shuffle of
      // the output-sized table in the build restores it (and fixes the
      // union's concatenated partition count as a side effect).
      cross.unionByName(intra)
        .repartition(spark.sessionState.conf.numShufflePartitions,
          col("doc_b"))
        .localCheckpoint(true) // eager: intermediates are safe to drop
    } finally {
      // all/reps are cache-owned (shared with the sibling family build);
      // only this family's band table is build-local
      b.unpersist(blocking = false)
    }
  }

  /** Keep/drop decision from the verified pairs: a doc is dropped iff a
    * verified near-dup with a smaller doc_id exists (greedy keep-first —
    * full connected components would need iteration; keep-first is the
    * standard one-pass policy). */
  def dedupSimilarKeep(spark: SparkSession, sfDir: String): DataFrame = {
    val dropped = verifiedPairs(spark, sfDir)
      .select(col("doc_b").as("doc_id")).distinct()
    docs(spark, sfDir).select(col("doc_id"))
      .join(dropped.withColumn("dropped", lit(true)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("dropped").isNull.as("is_kept"))
  }

  /** Measured banding recall of the production MinHash family against a
    * POOLED ground truth (the IR-evaluation pooling method): truth = the
    * union of verified pairs found by the primary family and by an
    * independent second family ([[verifiedPairsB]]). Both legs verify with
    * EXACT Jaccard at the same threshold, so neither contributes a false
    * positive — a pair in truth missing from a leg is precisely a banding
    * miss of that leg. The analytic design point (4 bands × 4 rows at
    * s = 0.9 → 1-(1-0.9⁴)⁴ ≈ 0.986 per near-miss pair, 1.0 for identical
    * sets) becomes a MEASURED, oracle-hash-checked number instead of a
    * claim. Scale: both legs are the output-sized verified-pair slivers;
    * the full-outer membership join and the 1-row aggregates are free. */
  def minhashRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val a = verifiedPairs(spark, sfDir).select(col("doc_a"), col("doc_b"))
    val b = verifiedPairsB(spark, sfDir).select(col("doc_a"), col("doc_b"))
    val truth = a.unionByName(b).distinct()
    truth.agg(count(lit(1)).cast("long").as("n_truth"))
      .crossJoin(a.agg(count(lit(1)).cast("long").as("n_a")))
      .crossJoin(b.agg(count(lit(1)).cast("long").as("n_b")))
      .select(
        col("n_truth"), col("n_a"), col("n_b"),
        (col("n_truth") - col("n_a")).as("n_missed_by_a"),
        (col("n_truth") - col("n_b")).as("n_missed_by_b"),
        round(col("n_a") / col("n_truth").cast("double"), 6).as("recall_a"),
        round(col("n_b") / col("n_truth").cast("double"), 6).as("recall_b"),
        (round(col("n_a") / col("n_truth").cast("double"), 6) >= 0.95)
          .as("recall_ok"))
  }

  /** Local/distributed routing for the components/centrality driver
    * paths — TWO gates, both measured (BenchComponents, r13, 32 threads):
    *
    *  - EDGE limit (collect feasibility): the edge list must fit the
    *    driver collect — capped by [[componentsLocalLimit]] at half of
    *    `spark.driver.maxResultSize` (the forced-local 60M-edge run died
    *    on result size long before heap).
    *  - VERTEX limit (cost model): union-find/PageRank driver cost
    *    scales with DISTINCT VERTICES (LongMap size + mapping build +
    *    broadcast), not edges. Real copy-cluster pairs are DENSE — sf1's
    *    9.6M edges touch ~10^5 vertices and run local in ~3 s — while a
    *    sparse 5M-edge star set (5.25M vertices) took 29.2 s local vs
    *    13.3 s distributed (20M: 140 s vs 34 s). Routing on edges alone
    *    mis-routes one topology or the other; the vertex estimate
    *    (approx_count_distinct, one agg on the cached sliver) routes
    *    both correctly. Default 2M vertices ≈ the measured break-even.
    *
    * Both overridable per session. */
  val ComponentsLocalEdgeLimitKey = "spark.graft.components.localEdgeLimit"
  val ComponentsLocalEdgeLimitDefault = 50000000L
  val ComponentsLocalVertexLimitKey = "spark.graft.components.localVertexLimit"
  val ComponentsLocalVertexLimitDefault = 2000000L

  /** Estimated distinct endpoints of a two-long-column pair frame (HLL++,
    * ~2% err — a routing decision, not an answer). One agg job over the
    * persist-once pair sliver. */
  private def approxVertices(pairs: DataFrame): Long = {
    val c = pairs.columns
    pairs.select(explode(array(col(c(0)), col(c(1)))).as("v"))
      .agg(approx_count_distinct(col("v")).as("n")).head().getLong(0)
  }

  private def routeLocal(spark: SparkSession, pairs: DataFrame,
                         nPairs: Long): Boolean = {
    val vertexLimit = spark.conf.getOption(ComponentsLocalVertexLimitKey)
      .map(_.toLong).getOrElse(ComponentsLocalVertexLimitDefault)
    nPairs <= componentsLocalLimit(spark) &&
      approxVertices(pairs) <= vertexLimit
  }

  /** The edge count up to which the driver paths (union-find, PageRank)
    * are allowed to collect the edge list: the configured limit, further
    * capped so ~20 bytes/edge of serialized task results stays inside
    * HALF of `spark.driver.maxResultSize` — without the cap, a limit
    * raised past the result-size budget fails mid-collect (observed at
    * the sf10 stress decade: the 100x pairs set is ~60M edges, and the
    * forced-local BenchComponents run died at 1 GiB maxResultSize well
    * before the 50M-edge heap guard was the binding constraint). */
  private[graft] def componentsLocalLimit(spark: SparkSession): Long = {
    val configured = spark.conf.getOption(ComponentsLocalEdgeLimitKey)
      .map(_.toLong).getOrElse(ComponentsLocalEdgeLimitDefault)
    val maxResult = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.driver.maxResultSize", "1g"))
    if (maxResult <= 0) configured // 0 = unlimited
    else math.min(configured, maxResult / 2 / 20)
  }

  /** Connected components over the verified near-dup pairs (round-3
    * stretch #9): component_id = min doc_id transitively reachable, so
    * chains a−b, b−c keep ONE doc where greedy keep-first would keep two.
    * This is what production dedup pipelines ship.
    *
    * Scale shape — two paths chosen by the measured pair count (a cache
    * read; the pairs table is persist-once):
    *
    *  - **edge+vertex gates pass (see [[routeLocal]])**: collect the pair list and
    *    run union-find on the driver, then broadcast the doc→component map
    *    back. This is NOT a collect-the-data anti-pattern: the collected
    *    set is the verified-duplicate EDGE list, already reduced by the
    *    distributed LSH+verify pipeline to a sliver of the corpus, and an
    *    iterative distributed fixpoint over a graph this small is pure
    *    scheduler overhead (measured: 3–14 s of multi-round shuffle jobs
    *    vs <0.5 s total). GraphFrames ships the same escape hatch for the
    *    same reason.
    *  - **above the limit**: distributed min-label propagation with
    *    pointer-jumping over ONLY the pair-involved vertices, shuffle
    *    parallelism sized to the edge count, per-round persist with
    *    explicit unpersist of the superseded round (the cache-manager
    *    substitution keeps each round's plan shallow, and freeing the old
    *    round's blocks stops checkpoint debris from pressuring the block
    *    manager for the rest of the session — the round-4 bench showed
    *    exactly that debris bleeding GC pauses into unrelated queries).
    *
    * The full corpus is only touched by the final left join stamping
    * singleton components; the mapping side is broadcast when small. */
  /** The doc-level connected-components table (doc_id, comp) for
    * pair-involved ids — session-scoped persist-once (r18): BOTH
    * dedup_components and centrality_keep ran the full components
    * fixpoint per call (36.6 s each at sf10); one materialization,
    * charged as the bench row `artifact_doc_components`. */
  private[graft] def docComponents(spark: SparkSession,
                                   sfDir: String): DataFrame =
    Artifacts.cached(spark, sfDir, "doccomp") {
      val pairs = verifiedPairs(spark, sfDir).select("doc_a", "doc_b")
      val nPairs = pairs.count() // cache read: pairs is persist-once
      componentsOf(spark, pairs, nPairs).toDF("doc_id", "comp")
    }

  def dedupComponents(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir).select(col("doc_id"))
      .join(docComponents(spark, sfDir), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("component_id"))
      .withColumn("is_kept", col("component_id") === col("doc_id"))

  // ---- centrality-based canonical keeper (PageRank over the dup graph) ----
  /** Integer PageRank parameters, shared with the oracle SQL: ranks live
    * in micro-units ([[PrBase]] = 1.0), damping 0.85 as the exact
    * rational [[PrDampNum]]/[[PrDampDen]] with teleport
    * (1-d)·[[PrBase]] = [[PrTeleport]]. All updates are integer sums and
    * `div` truncations (non-negative throughout, so Spark's truncating
    * `div` and DuckDB's flooring `//` provably agree — the
    * lm_quality_buckets rule). */
  val PrBase = 1000000L
  val PrTeleport = 150000L
  val PrDampNum = 85L
  val PrDampDen = 100L
  val PrIters = 3

  /** Centrality-based canonical keeper: [[PrIters]] PageRank iterations
    * over the verified near-dup graph, then per duplicate component the
    * HIGHEST-rank doc (ties to the lower doc_id) becomes the canonical
    * representative. This upgrades the min-doc_id keep policy: the most
    * densely-connected version of a duplicated document — the one most
    * other variants point at — is the best exemplar to keep, exactly the
    * "choose the canonical URL among mirrors" rule from web curation.
    *
    * Every node of the pair graph has degree ≥ 1 by construction, so
    * there is no dangling-mass redistribution — the teleport term alone
    * closes the update. Ranks are integer micro-units end to end: the
    * per-iteration update is `teleport + (num · Σ rank div deg) div den`,
    * deterministic under any shuffle order on both engines.
    *
    * Scale shape — the SAME two-path gate as [[componentsOf]], chosen by
    * the measured pair count (a cache read; the pairs table is
    * persist-once):
    *
    *  - **edge+vertex gates pass (see [[routeLocal]])**: collect the verified
    *    EDGE list (the sliver the LSH+verify pipeline already reduced the
    *    corpus to) and run the [[PrIters]] integer iterations on primitive
    *    arrays driver-side, then broadcast (doc_id, rank, deg) back. An
    *    iterative distributed fixpoint on a graph this small is pure
    *    scheduler overhead — the join-loop plan costs ~3 shuffle stages
    *    PER ITERATION of sub-second work each (measured 8–9 s at sf0.1 vs
    *    <0.5 s on the driver), the exact pathology the components gate
    *    already documents.
    *  - **above the limit**: [[distributedPageRank]] — [[PrIters]]
    *    joins+aggregations keyed on doc ids over 2|E| directed edges,
    *    with the [[distributedComponents]] iterative-fixpoint discipline
    *    (inputs shuffled+persisted once, every round eagerly
    *    localCheckpointed, superseded rounds released).
    *
    * Either way the final window runs per component, whose size the
    * dedup semantics bound (a component is a set of near-identical
    * documents). */
  def centralityKeep(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = verifiedPairs(spark, sfDir)
    val nPairs = pairs.count() // cache read: pairs is persist-once
    val ranked: DataFrame = // (doc_id, rank, deg)
      if (routeLocal(spark, pairs.select("doc_a", "doc_b"), nPairs))
        broadcast(localPageRank(spark, pairs.select("doc_a", "doc_b")))
      else distributedPageRank(spark, pairs.select("doc_a", "doc_b"), nPairs)
    // docComponents directly, not dedupComponents: every ranked doc is
    // pair-involved by construction, so it is present in the components
    // table and the inner join below never sees the singleton-stamped
    // rows — same values, one corpus scan + join less
    val comp = docComponents(spark, sfDir)
      .select(col("doc_id"), col("comp").as("component_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component_id").orderBy(col("rank").desc, col("doc_id"))
    ranked
      .join(comp, Seq("doc_id"))
      .withColumn("is_canonical", row_number().over(w) === 1)
      .select(col("doc_id"), col("component_id"), col("deg").as("degree"),
        col("rank"), col("is_canonical"))
  }

  /** Distributed [[PrIters]]-round integer PageRank over the verified
    * pair graph, with the SAME iterative-fixpoint discipline as
    * [[distributedComponents]] (the r13 sf10 sweep measured this loop at
    * 199x/100x data — 148.6 s — against components' 54.5 s on the same
    * ~60M-edge graph, and the gap was exactly the missing discipline):
    *
    *  - the directed edge list is shuffled ONCE, keyed by `src`, with the
    *    source degree carried inline (`deg` rides the edge row), and
    *    persisted — before, `edges` and `deg` were re-derived from the
    *    pairs cache inside EVERY iteration, so each round re-ran the
    *    union + the degree aggregation + a rank⋈deg join;
    *  - every round's rank frame is an EAGER localCheckpoint at the loop's
    *    explicit partitioning (plan truncation: round N's plan references
    *    round N−1 twice — contribution probe + teleport base join — so an
    *    unchecked foldLeft grows the logical tree geometrically);
    *  - superseded rounds' checkpoint storage is released via
    *    [[org.apache.spark.sql.graftbridge.Bridge.releaseCheckpointStorage]],
    *    and the loop inputs are unpersisted once the final
    *    (doc_id, rank, deg) frame is materialized, so nothing from the
    *    loop outlives the call but the result itself (registered in
    *    [[Artifacts.holdUntilClear]] for end-of-session release, the
    *    components pattern).
    *
    * Arithmetic is bit-identical to [[localPageRank]] and the DuckDB
    * oracle: `teleport + (num · Σ rank div deg) div den` on non-negative
    * longs. Returns (doc_id, rank, deg). */
  private def distributedPageRank(spark: SparkSession, pairs: DataFrame,
                                  nPairs: Long): DataFrame = {
    // ~100k directed edges per task, capped at cluster parallelism —
    // the distributedComponents sizing, from the same measured input
    val nParts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      nPairs / 100000L + 1L)).toInt
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = pairs
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
      .repartition(nParts, col("src"))
      .persist(lvl) // read twice (deg build, deg-carrying join), then freed
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("doc_id"), col("deg"))
      .repartition(nParts, col("doc_id"))
      .persist(lvl) // read every round (teleport base) + the final join
    // The loop's sole large input: (src, dst, deg(src)) keyed by src, so
    // each round's contribution join co-locates with the rank frame's
    // repartition(doc_id) output without touching the pairs cache again.
    val edgesD = edges
      .join(deg.select(col("doc_id").as("src"), col("deg")), Seq("src"))
      .repartition(nParts, col("src"))
      .persist(lvl)
    edgesD.count() // materialize, then drop the raw edge shuffle
    edges.unpersist(blocking = false)
    var rank = deg.select(col("doc_id"), lit(PrBase).as("rank"))
      .repartition(nParts, col("doc_id"))
      .localCheckpoint(true)
    var it = 0
    while (it < PrIters) {
      val contrib = edgesD
        .join(rank, col("doc_id") === col("src"))
        .select(col("dst"), expr("rank div deg").as("give"))
        .repartition(nParts, col("dst"))
        .groupBy(col("dst").as("doc_id"))
        .agg(sum(col("give")).as("s"))
      val next = deg.select(col("doc_id"))
        .join(contrib, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit(PrTeleport) +
            expr(s"($PrDampNum * coalesce(s, 0L)) div $PrDampDen"))
            .as("rank"))
        .repartition(nParts, col("doc_id"))
        .localCheckpoint(true) // eager: materializes every partition
      // next is fully materialized; releasing the superseded round is safe
      org.apache.spark.sql.graftbridge.Bridge.releaseCheckpointStorage(rank)
      rank = next
      it += 1
    }
    // Materialize the result BEFORE unpersisting the loop inputs: the
    // caller consumes `ranked` lazily (component join + window), and a
    // live plan over an unpersisted deg would silently recompute it.
    val ranked = rank.join(deg, Seq("doc_id"))
      .repartition(nParts, col("doc_id"))
      .localCheckpoint(true)
    org.apache.spark.sql.graftbridge.Bridge.releaseCheckpointStorage(rank)
    edgesD.unpersist(blocking = false)
    deg.unpersist(blocking = false)
    Artifacts.holdUntilClear(spark, ranked)
    ranked
  }

  /** Driver twin of the distributed PageRank loop: identical integer
    * arithmetic (`/` on non-negative longs ≡ Spark `div` ≡ DuckDB `//`)
    * over primitive arrays, so both paths produce bit-identical ranks.
    * Returns (doc_id, rank, deg) for every pair-involved vertex. */
  private def localPageRank(spark: SparkSession, pairs: DataFrame): DataFrame = {
    val (as, bs) = collectEdgePairs(pairs)
    val deg = scala.collection.mutable.LongMap.empty[Long]
    var i = 0
    while (i < as.length) {
      deg(as(i)) = deg.getOrElse(as(i), 0L) + 1
      deg(bs(i)) = deg.getOrElse(bs(i), 0L) + 1
      i += 1
    }
    var rank = scala.collection.mutable.LongMap.empty[Long]
    deg.foreachKey(v => rank(v) = PrBase)
    var it = 0
    while (it < PrIters) {
      val s = scala.collection.mutable.LongMap.empty[Long]
      i = 0
      while (i < as.length) {
        val a = as(i); val b = bs(i)
        s(b) = s.getOrElse(b, 0L) + rank(a) / deg(a)
        s(a) = s.getOrElse(a, 0L) + rank(b) / deg(b)
        i += 1
      }
      val next = scala.collection.mutable.LongMap.empty[Long]
      deg.foreachKey { v =>
        next(v) = PrTeleport + PrDampNum * s.getOrElse(v, 0L) / PrDampDen
      }
      rank = next
      it += 1
    }
    val out = new Array[(Long, Long, Long)](deg.size)
    i = 0
    deg.foreachKey { v => out(i) = (v, rank(v), deg(v)); i += 1 }
    import spark.implicits._
    spark.createDataset(scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
      .toDF("doc_id", "rank", "deg")
  }

  /** Connected components (transitive-min label) over ANY verified
    * near-dup pair frame — exposed for every dedup family (word-shingle
    * MinHash here, embedding cosine in `Similarity.embeddingDedupKeep`).
    * Input: two long id columns (any names, normalized positionally);
    * `nPairs` is the frame's exact row count (callers have it from their
    * persist-once caches). Output: (doc_id, comp) for pair-involved ids
    * only — the caller stamps singletons with a left join. Both paths
    * fully materialize their result before returning, so the caller may
    * release the pairs frame afterwards. */
  def componentsOf(spark: SparkSession, pairsRaw: DataFrame,
                   nPairs: Long): DataFrame = {
    val pairs = pairsRaw.toDF("doc_a", "doc_b")
    // broadcast hint only on the bounded path — the distributed path's
    // mapping can exceed broadcast size, so let AQE decide there
    if (routeLocal(spark, pairs, nPairs)) broadcast(localComponents(spark, pairs))
    else distributedComponents(spark, pairs, nPairs)
  }

  /** Driver union-find with min-member relabeling: path-halving find,
    * union by attaching the larger root id under the smaller, so the
    * representative of every set is its minimum member — exactly the
    * transitive-min label the distributed fixpoint converges to.
    *
    * Edges arrive as per-partition PRIMITIVE long arrays packed executor-
    * side (one job, no per-partition job latency like toLocalIterator),
    * so driver heap stays two primitive longs per edge, result-size
    * capped — never boxed Rows. */
  /** Collect a two-long-column pair frame to the driver as two primitive
    * arrays, packed executor-side (one job, no per-partition job latency
    * like toLocalIterator) — driver heap stays two primitive longs per
    * edge, result-size capped, never boxed Rows. Shared by
    * the driver union-find and the driver PageRank. */
  private def collectEdgePairs(pairs: DataFrame): (Array[Long], Array[Long]) = {
    val packed: Array[(Array[Long], Array[Long])] =
      pairs.queryExecution.toRdd.mapPartitions { it =>
        val pa = new scala.collection.mutable.ArrayBuilder.ofLong
        val pb = new scala.collection.mutable.ArrayBuilder.ofLong
        it.foreach { r => pa += r.getLong(0); pb += r.getLong(1) }
        Iterator((pa.result(), pb.result()))
      }.collect()
    val total = packed.iterator.map(_._1.length).sum
    val as = new Array[Long](total); val bs = new Array[Long](total)
    var off = 0
    packed.foreach { case (pa, pb) =>
      System.arraycopy(pa, 0, as, off, pa.length)
      System.arraycopy(pb, 0, bs, off, pb.length)
      off += pa.length
    }
    (as, bs)
  }

  private def localComponents(spark: SparkSession,
                              pairs: DataFrame): DataFrame = {
    val (as, bs) = collectEdgePairs(pairs)
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) {
        val p = parent.getOrElse(r, r)
        parent(r) = parent.getOrElse(p, p) // path halving
        r = parent.getOrElse(r, r)
      }
      r
    }
    var i = 0
    while (i < as.length) {
      val ra = find(as(i)); val rb = find(bs(i))
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
      i += 1
    }
    // distinct vertices via one primitive sort + in-place dedupe
    val all = new Array[Long](as.length * 2)
    System.arraycopy(as, 0, all, 0, as.length)
    System.arraycopy(bs, 0, all, as.length, bs.length)
    java.util.Arrays.sort(all)
    var n = 0
    i = 0
    while (i < all.length) {
      if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
      i += 1
    }
    val mapping = new Array[(Long, Long)](n)
    i = 0
    while (i < n) { mapping(i) = (all(i), find(all(i))); i += 1 }
    import spark.implicits._
    spark.createDataset(scala.collection.immutable.ArraySeq.unsafeWrapArray(mapping))
      .toDF("doc_id", "comp")
  }

  /** Distributed min-label fixpoint with pointer jumping; see
    * [[dedupComponents]] for when this path is taken. */
  private def distributedComponents(
      spark: SparkSession, pairs: DataFrame, nPairs: Long): DataFrame = {
    // Size the LOOP's shuffle parallelism to the measured pair count
    // (~100k edges per task) with EXPLICIT repartition(nParts, key) on the
    // loop frames — never by mutating the session's
    // spark.sql.shuffle.partitions, which a concurrent planner on the same
    // session would silently inherit. The explicit hash partitioning also
    // co-locates the loop's joins: edges is persisted once keyed by `v`
    // and every round's label frame comes back keyed by `doc_id` at the
    // same partition count, so the neighbor join needs no fresh exchange.
    val nParts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      nPairs / 100000L + 1L)).toInt
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = pairs
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("u", "v")
      .repartition(nParts, col("v"))
      .persist(lvl) // shuffled once, read every round; released below
    // Every round is materialized AND plan-truncated with an EAGER
    // localCheckpoint, not a bare persist: each round's plan references
    // the previous round's frame THREE times (neighbor probe, self row,
    // pointer jump), so without truncation the logical tree grows ~3× per
    // round and the DRIVER dies in analysis long before any executor
    // sweats — the sf1 stress run OOM'd an 8 GB driver heap exactly here
    // at the first real 5M-edge gate crossover. localCheckpoint rebases
    // the frame on its computed RDD (partitioning preserved), which is
    // also why the convergence probe stays a narrow filter on cached
    // blocks. Superseded rounds' checkpoint storage is released via the
    // underlying RDD (Bridge.checkpointRdd — Dataset.unpersist can't
    // reach it).
    var cur = edges.repartition(nParts, col("u"))
      .groupBy("u").agg(min("v").as("mv"))
      .select(col("u").as("doc_id"), least(col("u"), col("mv")).as("comp"))
      .repartition(nParts, col("doc_id"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < 50) {
      // newcomp(u) = min(comp(u), min over neighbors v of comp(v),
      // comp(comp(u))) — the last term is pointer-jumping shortcutting
      // (labels are always component members, so following them stays
      // in-component and roughly halves rounds on chains); prev value
      // rides along so the convergence probe needs no extra join
      val next = edges.join(cur.as("cv"), col("v") === col("cv.doc_id"))
        .select(col("u"), col("cv.comp").as("vc"))
        .repartition(nParts, col("u"))
        .groupBy("u").agg(min("vc").as("nbmin"))
        .join(cur.as("cs"), col("u") === col("cs.doc_id"))
        .select(col("cs.doc_id").as("doc_id"),
          col("cs.comp").as("prev_comp"),
          least(col("cs.comp"), col("nbmin")).as("c1"))
        .as("m")
        .repartition(nParts, col("prev_comp"))
        .join(cur.as("cj"), col("m.prev_comp") === col("cj.doc_id"), "left")
        .select(col("m.doc_id").as("doc_id"), col("m.prev_comp").as("prev_comp"),
          least(col("m.c1"), coalesce(col("cj.comp"), col("m.c1"))).as("comp"))
        .repartition(nParts, col("doc_id"))
        .localCheckpoint(true) // eager: materializes every partition
      converged = next.filter(col("comp") =!= col("prev_comp")).isEmpty
      // next is fully materialized (eager checkpoint) and the probe above
      // consumed it — releasing the superseded round is safe; an
      // out-of-order release here would THROW at the next consumer, never
      // silently recompute (CacheEvictionSpec pins both directions)
      org.apache.spark.sql.graftbridge.Bridge.releaseCheckpointStorage(cur)
      cur = next
      iter += 1
    }
    edges.unpersist(blocking = false) // cur is fully materialized above
    Artifacts.holdUntilClear(spark, cur)
    cur.select("doc_id", "comp")
  }

  /** 16-bit SimHash over the distinct word set: bit j of the fingerprint is
    * the sign of Σ_words (±1 by bit j of the word hash). Shuffle-free until
    * the tiny collision-count aggregate. */
  def simhashFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    docWords(spark, sfDir)
      .withColumn("simhash", graft.functions.TextHashes.simhash16(col("hws")))
      .withColumn("n_same_fp",
        count(lit(1)).over(Window.partitionBy("simhash")).cast("long"))
      .select(col("doc_id"), col("simhash"), col("n_same_fp"))

  // ---- SimHash Hamming-distance near-dup (Manku/Google-style blocked
  //      candidate generation) ----
  /** Max Hamming distance for a near-dup pair (the classic web-dedup
    * setting: 3 of 64 bits). */
  val SimHammingMax = 3
  /** Each 32-bit fingerprint half splits into 3 blocks at these shifts
    * with these widths: bits [0,11), [11,22), [22,32). */
  val SimBlockShifts = Seq(0, 11, 22)
  val SimBlockBits = Seq(11, 11, 10)
  /** All C(6,3)=20 block triples. Pigeonhole: ≤3 differing bits leave ≥3
    * of the 6 blocks untouched, so every qualifying pair collides on at
    * least one triple. Deterministic order — the oracle SQL is generated
    * from this same list. */
  val SimBlockCombos: Seq[Seq[Int]] =
    (0 until 6).combinations(3).map(_.toSeq).toSeq

  /** Adds (sh_lo, sh_hi) to any frame with a `text` column: the 64-bit
    * SimHash as two 32-bit halves over INDEPENDENT hash families of the
    * distinct word set (md5 bytes 0-3 and 4-7) — two positive BIGINTs
    * instead of one sign-entangled 64-bit value, so the block/xor
    * arithmetic is identical on both engines. Narrow (no shuffle), so it
    * applies to streams too ([[graft.streaming.PipelineStreams]]). */
  private[graft] def withSimhash64(df: DataFrame): DataFrame =
    df.withColumn("ws", array_distinct(tokens(col("text"))))
      .filter(size(col("ws")) >= MinWords) // empty set → fp 0 hot bucket
      .withColumn("sh", graft.functions.TextHashes.simhash64(col("ws")))
      .withColumn("sh_lo", col("sh.sh_lo"))
      .withColumn("sh_hi", col("sh.sh_hi"))
      .drop("ws", "sh")

  private def simhash64(spark: SparkSession, sfDir: String): DataFrame =
    // NO spreadIfNarrow (r17 A/B): the simhash kernel is cheap — the
    // spread left the artifact build flat (0.32 → 0.39 s) and slowed the
    // checkpoint's consumer (dedup_simhash_pairs 0.42 → 0.66 s, more
    // tasks over tiny checkpoint partitions).
    withSimhash64(docs(spark, sfDir))
      .select(col("doc_id"), col("sh_lo"), col("sh_hi"))

  /** Session-scoped persist-once of the corpus SimHash fingerprints —
    * three narrow longs per doc, but a full tokenize+hash corpus pass
    * to build. The r11 identical-fingerprint collapse references the
    * member table four times (intra self-join + two expansion probes)
    * plus the rep aggregate; without the persist each reference re-runs
    * the corpus pass (measured: 6 parquet scans in the pair plan).
    * Charged as its own `artifact_simhash_fp` bench row, same
    * accounting as the MinHash signature base. */
  def cachedSimhash(spark: SparkSession, sfDir: String): DataFrame =
    Artifacts.cached(spark, sfDir, "simhash_fp")(
      // EAGER checkpoint: the pair query references this frame five
      // times; a lazily-persisted cold cache would race all five into
      // duplicate corpus passes on the first action (the documented
      // self-join-over-cold-cache trap in computeMinhashPairs)
      simhash64(spark, sfDir).localCheckpoint(true))

  /** Explodes a fingerprinted frame into its 20 (combo_j, combo_key)
    * block-triple rows (all other columns ride along) — the shared
    * candidate-index shape for the batch pair query and the streaming
    * probe. */
  private[graft] def simhashBlockKeys(fp: DataFrame): DataFrame = {
    def block(i: Int): Column = {
      val half = if (i < 3) col("sh_lo") else col("sh_hi")
      val pos = i % 3
      shiftright(half, SimBlockShifts(pos))
        .bitwiseAND((1L << SimBlockBits(pos)) - 1)
    }
    val keys = array(SimBlockCombos.zipWithIndex.map { case (c, j) =>
      struct(lit(j).as("combo_j"),
        (shiftleft(block(c(0)), 22) + shiftleft(block(c(1)), 11) +
          block(c(2))).as("combo_key"))
    }: _*)
    fp.withColumn("k", explode(keys))
      .withColumn("combo_j", col("k.combo_j"))
      .withColumn("combo_key", col("k.combo_key"))
      .drop("k")
  }

  /** Hamming distance between two (lo, hi) fingerprint pairs. */
  private[graft] def hamming64(aLo: Column, aHi: Column,
                               bLo: Column, bHi: Column): Column =
    (bit_count(aLo.bitwiseXOR(bLo)) + bit_count(aHi.bitwiseXOR(bHi)))
      .cast("long")

  /** Verified SimHash near-dup pairs (doc_a < doc_b, hamming ≤
    * [[SimHammingMax]] over the 64-bit fingerprint).
    *
    * Scale: candidates equi-join on (combo_j, combo_key) where combo_key
    * concatenates THREE blocks (~32 bits of key entropy) — the
    * Manku-style design: with 4 single 16-bit blocks the expected random
    * collisions are 4·n²/2^16 (quadratic blowup at corpus scale), with 20
    * block-triples they are 20·n²/2^33 — the key space grows with the
    * combination, not the block. 20 exploded rows per doc is the storage
    * cost, the same trade the published simhash dedup pipeline makes.
    * Residual verify is two xor+bit_count ops, integer-exact on both
    * engines. */
  def dedupSimhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    simhashPairsFrom(cachedSimhash(spark, sfDir))

  /** The collapsed pair build over an explicit (doc_id, sh_lo, sh_hi)
    * fingerprint frame — split out so the planted-corpus spec can run it
    * against a brute-force all-members twin on crafted data
    * (ScaleGuardSpec), independent of the parquet tables and the oracle.
    *
    * IDENTICAL-FINGERPRINT COLLAPSE (same r11 discipline as the
    * MinHash build): block keys and Hamming distance are functions of
    * the 128-bit fingerprint alone, so fingerprint-identical docs are
    * indistinguishable to every stage — the block-triple self-join
    * runs over one representative per DISTINCT fingerprint, and
    * verified rep pairs expand back to member pairs (intra-fingerprint
    * pairs are all Hamming 0 ≤ max by construction). A copy cluster of
    * m identical docs costs its distinct-variant count squared in the
    * join, plus output-bounded expansion — not m² join rows.
    * Plan discipline: both sides' fingerprints RIDE THROUGH the rep
    * join (simhashBlockKeys carries extra columns), so the expansion
    * needs no joins back to `reps` — and every `members` reference
    * exchanges on the same (sh_lo, sh_hi) key over an identical
    * subtree, which ReuseExchange collapses to one corpus pass (the
    * production caller passes the eagerly-checkpointed
    * [[cachedSimhash]] artifact). */
  private[graft] def simhashPairsFrom(fp: DataFrame): DataFrame = {
    val reps = fp.groupBy("sh_lo", "sh_hi")
      .agg(min("doc_id").as("doc_id"))
    val e = simhashBlockKeys(reps)
    val repPairs = e.as("a").join(e.as("b"),
        col("a.combo_j") === col("b.combo_j") &&
          col("a.combo_key") === col("b.combo_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.sh_lo").as("a_lo"), col("a.sh_hi").as("a_hi"),
        col("b.sh_lo").as("b_lo"), col("b.sh_hi").as("b_hi"),
        hamming64(col("a.sh_lo"), col("a.sh_hi"),
          col("b.sh_lo"), col("b.sh_hi")).as("hamming"))
      .filter(col("hamming") <= SimHammingMax)
      .distinct() // a rep pair may collide on several triples
    val members = fp.select(col("sh_lo"), col("sh_hi"), col("doc_id"))
    val cross = repPairs
      .join(members.as("ma"),
        col("a_lo") === col("ma.sh_lo") && col("a_hi") === col("ma.sh_hi"))
      .join(members.as("mb"),
        col("b_lo") === col("mb.sh_lo") && col("b_hi") === col("mb.sh_hi"))
      .select(least(col("ma.doc_id"), col("mb.doc_id")).as("doc_a"),
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("doc_b"),
        col("hamming"))
    val intra = members.as("x").join(members.as("y"),
        col("x.sh_lo") === col("y.sh_lo") &&
          col("x.sh_hi") === col("y.sh_hi") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(0L).as("hamming"))
    cross.unionByName(intra)
  }

  /** Character 3-gram Jaccard near-dup pairs, LSH-banded.
    *
    * Candidate generation is MinHash LSH over the hashed 3-gram set (8
    * bands of 2 from the shared 16-hash family), with (lang, normalized
    * char count) kept as residual equi-predicates — word-shuffle
    * duplicates have identical normalized length, so length equality is a
    * cheap extra prune, but it is NO LONGER the blocking key: real corpora
    * concentrate at common lengths, so an (en, ~500 chars) bucket is
    * unbounded, while an LSH band bucket only holds documents sharing two
    * specific min-grams. Join key = (band_j, band_key, lang, n_chars_norm)
    * — fully equi, so cost stays Σ bucket², never N².
    *
    * Output: pairs with 3-gram Jaccard ≥ 0.5 among LSH candidates. The
    * banding is deterministic (both engines compute identical signatures),
    * so the candidate set — and hence the output — is exactly reproducible;
    * recall vs the unblocked ideal is 1-(1-s²)⁸ (≈0.90 at s=0.5, ≈1.0 at
    * the s≥0.8 where true duplicates live). */
  /** Hashed 3-gram sets, persist-once per (session, sfDir): the gram
    * hashing (md5 per distinct gram) is the dominant cost and is consumed
    * twice inside the query (band signatures + Jaccard verify) — same
    * persist-the-signature-table pattern as [[verifiedPairs]]. */
  private[graft] def ngramDocs(spark: SparkSession, sfDir: String): DataFrame =
    Artifacts.cached(spark, sfDir, "ngrams")(
      // spreadIfNarrow (r17): char_grams_distinct + hash32 over the full
      // normalized text is the heaviest per-row kernel in the repo; the
      // single-row-group scan ran it on one task (see docWords)
      graft.sources.Tables.spreadIfNarrow(spark, sfDir, "documents",
        docs(spark, sfDir), col("doc_id")).select(
          col("doc_id"), col("lang"),
          normText(col("text")).as("ntext"))
        .withColumn("n_chars_norm", length(col("ntext")).cast("long"))
        .filter(col("n_chars_norm") >= NgramMinChars) // else empty gram set
        .withColumn("hgs", graft.functions.TextHashes.hash32_array(
          graft.functions.TextHashes.char_grams_distinct(col("ntext"), 3)))
        // collapse key for the pair build, computed once in the artifact
        .transform(withNgramSetId)
        .select(col("doc_id"), col("lang"), col("n_chars_norm"),
          col("hgs"), col("set_id")))

  /** Adds the n-gram collapse key: md5 over (lang, n_chars_norm, sorted
    * hash set). The band join constrains lang and n_chars_norm, so docs
    * sharing the gram set but differing in either were never candidates
    * and must stay in separate collapse groups. Comma-joined
    * digit/letter tokens decode uniquely, so distinct (lang, n_chars,
    * set) triples cannot alias one preimage; md5 is 128-bit because a
    * fingerprint collision would wrongly merge groups (same argument as
    * the MinHash set_id). Shared with the planted-corpus spec so the
    * tested rule IS the production rule. */
  private[graft] def withNgramSetId(df: DataFrame): DataFrame =
    df.withColumn("set_id", md5(concat_ws(",",
      col("lang"), col("n_chars_norm").cast("string"),
      concat_ws(",",
        transform(array_sort(col("hgs")), x => x.cast("string"))))))

  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    // IDENTICAL-SET COLLAPSE (r11 — third instance of the discipline,
    // after the word-set MinHash build and the SimHash fingerprints):
    // signatures, band keys, and Jaccard are SET-functions of hgs, and
    // the join's (lang, n_chars_norm) constraints are part of set_id,
    // so docs with identical (lang, n_chars_norm, gram set) are
    // indistinguishable to every stage. Band + verify one
    // representative per DISTINCT set_id; verified rep pairs expand to
    // member pairs (cross-group at the reps' exact Jaccard; intra-group
    // at exactly 1.0 — identical sets always collide and always
    // verify). A boilerplate cluster of m identical docs costs one
    // banded-join row instead of m².
    ngramPairsFrom(ngramDocs(spark, sfDir), ngramReps(spark, sfDir))
  }

  /** [[minhashRecall]]'s sibling for the n-gram family, and the stronger
    * measurement of the two: because candidate pairs REQUIRE exact
    * (lang, n_chars_norm) equality, EXHAUSTIVE ground truth is
    * block-bounded — all-pairs exact Jaccard inside each equality block,
    * no pooling approximation (at sf0.1: 2,070 blocks, max 11 reps,
    * 17.6k brute pairs). Truth lives at the REPRESENTATIVE level, where
    * the banding trials actually happen (member-level counting
    * double-weights copy-cluster expansions and correlates its misses).
    *
    * The verdict is theory-calibrated: a truth pair at Jaccard j is
    * caught by an 8-band × 2-row family with p = 1-(1-j²)⁸, so the
    * observed catch count must sit within 3σ of Σp. σ uses the
    * BLOCK-BOUND variance Σ_blocks (Σ_pairs sd)² — within a block pairs
    * share documents (hence signatures), and sd(ΣX) ≤ Σ sd(X) holds
    * under ARBITRARY correlation, while blocks partition the documents
    * so cross-block terms vanish. Both families are reported: A is
    * production, B (keys 16..31) is an independent control. This gate is
    * what caught the linear family's minwise bias and the single-mix
    * family spread (see [[MixMultiplier]]).
    *
    * All floating accumulation is floor(x·2^20) BIGINT sums — order-free,
    * so the distributed sums match DuckDB's sequential ones exactly; the
    * j² and p chains are explicit multiplications (pow() is not
    * bit-specified across engines; *, -, /, sqrt are IEEE-exact in both).
    *
    * Scale: truth costs Σ_blocks s² where s = reps per (lang, exact
    * normalized length). Above [[RecallTruthTargetReps]] reps the truth
    * is computed on a SALTED BLOCK SAMPLE — blocks where
    * hash32(lang|n_chars) mod K = 0, K = ⌈reps/target⌉ (integer
    * arithmetic, so both engines derive the same K from the same count,
    * the adaptive-planes discipline) — an unbiased recall estimate at
    * ~1/K the quadratic cost, keeping the evaluator linear while the
    * production pair build never pays any of this. At the oracle SFs
    * K = 1 (full truth). The `block_mod` column reports K. */
  val RecallTruthTargetReps = 5000L
  def ngramRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val g = ngramDocs(spark, sfDir)
    val reps = ngramReps(spark, sfDir)
    val mod = (reps.count() + RecallTruthTargetReps - 1) / RecallTruthTargetReps
    val r = reps.select(col("doc_id"), col("lang"), col("n_chars_norm"),
      col("hgs"))
      .filter(hash32(concat(col("lang"), lit("|"),
        col("n_chars_norm").cast("string"))) % lit(mod) === 0)
    val truth = r.as("x").join(r.as("y"),
        col("x.lang") === col("y.lang") &&
          col("x.n_chars_norm") === col("y.n_chars_norm") &&
          col("x.doc_id") < col("y.doc_id"))
      .withColumn("j",
        round(graft.functions.TextHashes.jaccard_long(
          col("x.hgs"), col("y.hgs")), 6))
      .filter(col("j") >= NgramJaccardThreshold)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.lang").as("lang"),
        col("x.n_chars_norm").as("n_chars_norm"), col("j"))
    val a = ngramRepPairs(g, reps)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("in_a"))
    val b = ngramRepPairs(g, reps, familyOffset = NumHashes)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("in_b"))
    val x = lit(1.0) - col("j") * col("j")
    val x2 = x * x
    val p = lit(1.0) - (x2 * x2) * (x2 * x2)
    val perPair = truth
      .join(a, Seq("doc_a", "doc_b"), "left")
      .join(b, Seq("doc_a", "doc_b"), "left")
      .select(col("lang"), col("n_chars_norm"),
        coalesce(col("in_a"), lit(0L)).as("in_a"),
        coalesce(col("in_b"), lit(0L)).as("in_b"),
        floor(p * lit(1048576.0)).cast("long").as("pfp"),
        floor(sqrt(p * (lit(1.0) - p)) * lit(1048576.0)).cast("long")
          .as("sdfp"))
    val perBlock = perPair.groupBy("lang", "n_chars_norm").agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("in_a")).cast("long").as("na"),
      sum(col("in_b")).cast("long").as("nb"),
      sum(col("pfp")).cast("long").as("pfp_sum"),
      sum(col("sdfp")).cast("long").as("sdfp_sum"))
    val bsd = col("sdfp_sum") / lit(1048576.0)
    val stats = perBlock
      .select(col("n"), col("na"), col("nb"), col("pfp_sum"),
        floor((bsd * bsd) * lit(1048576.0)).cast("long").as("vfp"))
      .agg(
        sum(col("n")).cast("long").as("n_truth"),
        sum(col("na")).cast("long").as("n_a"),
        sum(col("nb")).cast("long").as("n_b"),
        sum(col("pfp_sum")).cast("long").as("exp_fp"),
        sum(col("vfp")).cast("long").as("var_fp"))
    val expected = col("exp_fp") / lit(1048576.0)
    val sigma = sqrt(col("var_fp") / lit(1048576.0))
    stats.select(
      col("n_truth"), col("n_a"), col("n_b"),
      round(col("n_a") / col("n_truth").cast("double"), 6).as("recall_a"),
      round(col("n_b") / col("n_truth").cast("double"), 6).as("recall_b"),
      round(expected, 6).as("expected_catch"),
      round(sigma, 6).as("sigma_catch"),
      (col("n_a").cast("double") >= expected - lit(3.0) * sigma)
        .as("consistent_a"),
      (col("n_b").cast("double") >= expected - lit(3.0) * sigma)
        .as("consistent_b"),
      lit(mod).as("block_mod"))
  }

  /** One representative row per distinct collapse key. Persist-once
    * (same registry as the gram table): the rep aggregation shuffles the
    * hgs arrays, and both the pair query and the threshold sweep consume
    * it — pay it once per (session, corpus), charged to the
    * `artifact_ngram_signatures` bench row alongside the gram table. */
  private[graft] def ngramReps(spark: SparkSession, sfDir: String): DataFrame =
    Artifacts.cached(spark, sfDir, "ngram_reps")(
      repsOfNgram(ngramDocs(spark, sfDir)))

  /** The rep-table formula, shared by [[ngramReps]] and the
    * planted-corpus spec so the tested derivation IS production's. */
  private[graft] def repsOfNgram(g: DataFrame): DataFrame =
    g.groupBy("set_id").agg(
      min("doc_id").as("doc_id"),
      first("lang").as("lang"),                 // members share the key,
      first("n_chars_norm").as("n_chars_norm"), // hence lang/n_chars
      min_by(col("hgs"), col("doc_id")).as("hgs"))

  /** The collapsed n-gram pair build over explicit member (doc_id,
    * lang, n_chars_norm, hgs, set_id) and rep frames — split out so the
    * planted-corpus spec can run it against a brute-force all-members
    * twin (ScaleGuardSpec), independent of the parquet tables and the
    * oracle. Production passes the persist-once [[ngramDocs]] /
    * [[ngramReps]] artifacts (set_id and the rep aggregation computed
    * once per session). */
  /** Explodes a gram frame (needs `hgs`) into its (band_j, band_key)
    * MinHash-band rows — all other columns ride along; `sigs` and `hgs`
    * are NOT kept (callers needing the set re-join or re-select). The
    * shared candidate-index shape for the batch pair build and the
    * streaming gate, mirroring [[simhashBlockKeys]]. */
  private[graft] def ngramBandKeys(fp: DataFrame,
                                   familyOffset: Int = 0): DataFrame = {
    val sig = fp.withColumn("sigs", ngramSigs(col("hgs"), familyOffset))
    val keys = array((0 until NgramNumBands).map { j =>
      struct(lit(j).as("band_j"), ngramBandKey(col("sigs"), j).as("band_key"))
    }: _*)
    // hgs RIDES THROUGH the explode (r18, the minhash bandsOf
    // discipline): the batch verify consumes it IN the band self-join
    // and the gate index ships it next to its keys — both previously
    // re-attached it with a join back to `reps`
    sig.withColumn("k", explode(keys))
      .withColumn("band_j", col("k.band_j"))
      .withColumn("band_key", col("k.band_key"))
      .drop("k", "sigs")
  }

  /** The MinHash signature a gram set is banded by. */
  private[graft] def ngramSigs(hgs: Column, familyOffset: Int = 0): Column =
    graft.functions.TextHashes.minhash_sigs(hgs,
      (0 until NumHashes).map(i => mixKey(familyOffset + i)))

  /** Band `j`'s key of a signature: its [[NgramBandSize]] rows joined. */
  private def ngramBandKey(sigs: Column, j: Int): Column =
    concat_ws("_", (0 until NgramBandSize).map(r =>
      element_at(sigs, j * NgramBandSize + r + 1)): _*)

  /** Verified pairs at REPRESENTATIVE level (one per distinct collapse
    * group, doc ids = the groups' reps) — the sliver [[ngramPairsFrom]]
    * expands to members, and the granularity at which banding trials
    * actually happen (one Bernoulli draw per rep pair, which is why
    * [[ngramRecall]] calibrates HERE: a missed rep pair expands to
    * |ma|·|mb| member misses that are perfectly correlated, so a
    * member-level binomial σ is a fiction). */
  private[graft] def ngramRepPairs(g: DataFrame, reps: DataFrame,
                                   familyOffset: Int = 0): DataFrame = {
    // set_id RIDES THROUGH the band explode (32 bytes per exploded row —
    // same plan discipline as the SimHash collapse), so the expansion
    // needs no joins back to `reps` to recover each side's group
    // NOT the minhash-build fusion (r18 A/B at sf10): fusing the verify
    // into this self-join (hgs riding the band rows, jaccard on the
    // joined pair) measured ngram_recall 9.0 -> 34.5 s and ngram_jaccard
    // 5.7 -> 11.3 s at the 100x decade and was REVERTED. The ngram gram
    // sets are ~5x larger than the word-hash sets (one hash per distinct
    // char 3-gram), so shipping them xNgramNumBands through the band
    // exchange and the sort-merge sort costs more than the candidate
    // multiset the fusion avoids — here candidates are CHEAP relative to
    // array bytes, the opposite of the minhash build's ratio. The
    // attach-join shape keeps the arrays crossing ONE narrow exchange
    // each, exactly as the r17 comment below documents.
    val b = ngramBandKeys(reps, familyOffset)
      .select(col("doc_id"), col("lang"), col("n_chars_norm"),
        col("set_id"), col("band_j"), col("band_key"))
    val pairs = b.as("a").join(b.as("b"),
        col("a.band_j") === col("b.band_j") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.lang") === col("b.lang") &&
          col("a.n_chars_norm") === col("b.n_chars_norm") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.set_id").as("sid_a"), col("b.set_id").as("sid_b"))
    val h = reps.select(col("doc_id"), col("hgs"))
    // NO pre-verify distinct (the r12 minhash-build discipline): the
    // candidate multiset streams into the verify joins and the dedup of
    // multi-band collisions (≤ NgramNumBands rows per pair) runs AFTER
    // the jaccard filter on the survivor sliver — the deleted Exchange
    // was candidate-sized, the remaining one is output-sized
    pairs
      .join(h.as("ga"), col("doc_a") === col("ga.doc_id"))
      .join(h.as("gb"), col("doc_b") === col("gb.doc_id"))
      .withColumn("ngram_jaccard",
        round(graft.functions.TextHashes.jaccard_long(
          col("ga.hgs"), col("gb.hgs")), 6))
      .filter(col("ngram_jaccard") >= NgramJaccardThreshold)
      .select(col("doc_a"), col("doc_b"),
        col("sid_a"), col("sid_b"), col("ngram_jaccard"))
      .distinct()
  }

  private[graft] def ngramPairsFrom(g: DataFrame, reps: DataFrame,
                                    familyOffset: Int = 0): DataFrame = {
    val repPairs = ngramRepPairs(g, reps, familyOffset)
      .select(col("sid_a"), col("sid_b"), col("ngram_jaccard"))
    // expand rep pairs to member pairs — output-bounded work
    val members = g.select(col("set_id"), col("doc_id"))
    val cross = repPairs
      .join(members.as("ma"), col("sid_a") === col("ma.set_id"))
      .join(members.as("mb"), col("sid_b") === col("mb.set_id"))
      .select(least(col("ma.doc_id"), col("mb.doc_id")).as("doc_a"),
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("doc_b"),
        col("ngram_jaccard"))
    val intra = members.as("x").join(members.as("y"),
        col("x.set_id") === col("y.set_id") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(1.0).as("ngram_jaccard"))
    cross.unionByName(intra)
  }

  /** Sweep thresholds for [[dedupThresholdSweep]] — all at-or-above the
    * n-gram banding design point (0.5), so LSH candidate recall is honest
    * at every reported row (sweeping BELOW the banding target would
    * undercount silently). */
  val SweepThresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** Threshold-sensitivity measurement for the near-dup family: how many
    * verified n-gram-Jaccard pairs (and how many distinct documents)
    * survive at each candidate threshold — the tuning table you read
    * before picking a production dedup threshold (the dedup analog of
    * `ann_recall`).
    *
    * Scale: the pairs table is a near-dup SLIVER of the corpus by
    * construction, so the thresholds × pairs crossJoin and the explode
    * are bounded by |pairs|, never |corpus|. */
  def dedupThresholdSweep(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // materialize the pair SLIVER once: the sweep's two aggregate
    // branches would otherwise each re-evaluate the whole lazy pair
    // pipeline (measured 2× the pipeline per action at sf1 — the only
    // consumer where the build ran more than once per query)
    val pairs = ngramJaccard(spark, sfDir).localCheckpoint(true)
    val t = SweepThresholds.toDF("threshold")
    val j = t.crossJoin(pairs)
      .filter(col("ngram_jaccard") >= col("threshold"))
    val nPairs = j.groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
    val nDocs = j.select(col("threshold"),
        explode(array(col("doc_a"), col("doc_b"))).as("d")).distinct()
      .groupBy("threshold").agg(count(lit(1)).as("n_docs"))
    t.join(nPairs, Seq("threshold"), "left")
      .join(nDocs, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  // ---- Gate index formulas + bucketed on-disk writers (round 12) ----
  // One definition per gate base index, shared by the persist-once
  // in-memory variant (PipelineStreams caches these frames) and the
  // bucketed-table writers below — the two layouts cannot drift.

  /** The SimHash gate's base index: one row per (base doc, block
    * triple), fingerprints riding along for the Hamming verify. */
  private[graft] def simhashGateIndex(spark: SparkSession,
                                      sfDir: String): DataFrame =
    simhashBlockKeys(cachedSimhash(spark, sfDir))
      .select(col("doc_id").as("base_id"), col("sh_lo").as("base_lo"),
        col("sh_hi").as("base_hi"), col("combo_j"), col("combo_key"))

  /** The word-set MinHash gate's base index: band rows of ONE
    * representative per distinct word set (the batch build's collapse
    * rule), word-hash sets riding along for the Jaccard verify. */
  private[graft] def minhashGateIndex(spark: SparkSession,
                                      sfDir: String): DataFrame =
    // the persist-once collapsed base (r18) — the same frame the batch
    // pair builds band, so the collapse rule cannot drift and the gate
    // index build reads the cache instead of re-collapsing the corpus
    bandsOf(wordSetReps(spark, sfDir))
      .select(col("doc_id").as("base_id"), col("nw").as("base_nw"),
        col("hws").as("base_hws"), col("band_j"), col("band_key"))

  /** The gram gate's probe key: (lang, n_chars_norm, band_key) folded
    * into ONE string. The batch build constrains lang and length as
    * extra equi-join keys; on the gate they must live INSIDE the join
    * key instead — Catalyst merges post-join equality filters into the
    * join keys, and a 4-key join cannot be satisfied by a table
    * bucketed on 2 (the indexed probe would re-Exchange the whole base
    * per micro-batch). The U+0001 separator cannot appear in a lang tag, a decimal
    * length, or a band_key (digits + '_'), so the encoding is
    * injective and the tuple-equality semantics are exactly the batch
    * build's. */
  private[graft] def ngramProbeKey(lang: Column, nChars: Column,
                                   bandKey: Column): Column =
    concat_ws("\u0001", lang, nChars.cast("string"), bandKey)

  /** A doc's gate probe keys as one array, element j its band-j
    * [[ngramProbeKey]] of the signature `sigs` ([[ngramSigs]]): the keys
    * [[ngramBandKeys]] explodes, unexploded, for a per-doc lookup in an
    * [[ngramBandMap]]. */
  private[graft] def ngramProbeKeys(lang: Column, nChars: Column,
                                    sigs: Column): Column =
    array((0 until NgramNumBands).map(j =>
      ngramProbeKey(lang, nChars, ngramBandKey(sigs, j))): _*)

  /** An n-gram gate index ([[ngramGateIndex]]'s columns) collected into
    * a [[graft.functions.TextHashes.NgramBandMap]] on the driver. Every
    * rep has a row in each of the [[NgramNumBands]] bands, so its gram
    * set is read from its band-0 row alone; the rows are decoded by a
    * typed encoder, so gram sets arrive as unboxed `long[]`. */
  private[graft] def ngramBandMap(
      index: DataFrame): graft.functions.TextHashes.NgramBandMap = {
    import index.sparkSession.implicits._
    val rows = index.select(col("band_j"), col("pkey"), col("base_id"),
        when(col("band_j") === 0, col("base_hgs")))
      .as[(Int, String, Long, Array[Long])]
      .collect()
    val reps = rows.filter(_._4 != null)
    val repOf = reps.iterator.map(_._3).zipWithIndex.toMap
    def rep(id: Long): Int = repOf.getOrElse(id,
      throw new IllegalArgumentException(
        s"n-gram gate index: rep $id has no band-0 row"))
    val byBand = rows.groupBy(_._1)
    val bands = Array.tabulate(NgramNumBands)(j =>
      byBand.getOrElse(j, Array.empty[(Int, String, Long, Array[Long])])
        .groupBy(_._2)
        .map { case (k, rs) => k -> rs.map(r => rep(r._3)) })
    new graft.functions.TextHashes.NgramBandMap(bands, reps.map(_._3),
      reps.map(r => graft.functions.TextHashes.sortedDistinct(r._4)))
  }

  /** The char-3-gram gate's base index: band rows of one rep per
    * distinct (lang, length, gram set), gram sets re-attached for the
    * Jaccard verify, (lang, length) folded into the probe key. */
  private[graft] def ngramGateIndex(spark: SparkSession,
                                    sfDir: String): DataFrame = {
    val reps = ngramReps(spark, sfDir)
    // hgs rides the band explode (r18) — no attach join back to reps
    ngramBandKeys(reps)
      .select(col("doc_id").as("base_id"), col("band_j"),
        ngramProbeKey(col("lang"), col("n_chars_norm"), col("band_key"))
          .as("pkey"),
        col("hgs").as("base_hgs"))
  }

  /** Banding-scheme descriptors, written into each gate index table's
    * properties ([[writeSimhashIndexTable]] &c.) and re-checked by the
    * indexed probes — a probe compiled with different banding constants
    * than the index was built with fails FAST instead of silently
    * missing collisions (the same cannot-band-differently contract as
    * writeBandIndexTable's planes property, for constants instead of a
    * data-derived parameter). */
  private[graft] val SimhashBanding: String =
    s"simhash:shifts=${SimBlockShifts.mkString("/")};" +
      s"bits=${SimBlockBits.mkString("/")};" +
      s"combos=${SimBlockCombos.map(_.mkString("")).mkString("/")}"
  private[graft] val MinhashBanding: String =
    s"minhash:k=$NumHashes;bands=$NumBands;rows=$BandSize;" +
      s"mix=mueller2x:$MixMultiplier;kderiv=$MixKeyDeriv;minwords=$MinWords"
  private[graft] val NgramBanding: String =
    s"ngram:k=$NumHashes;bands=$NgramNumBands;rows=$NgramBandSize;" +
      s"mix=mueller2x:$MixMultiplier;kderiv=$MixKeyDeriv;" +
      s"minchars=$NgramMinChars;n=3"

  /** Bucketed+sorted on the band/block join key: the base-side shuffle
    * is paid once at write time, so an indexed probe joins with no
    * base-side Exchange per micro-batch — the layout for a base corpus
    * that outgrows executor memory (the persist-once in-memory indices
    * stop fitting long before 100 TB; SURVEY §7.9). The base side is
    * still SORTED on every micro-batch: a bucket spans several files,
    * so Spark's bucketed scan reports no output ordering. */
  private def writeGateIndex(spark: SparkSession, df: DataFrame,
                             table: String, nBuckets: Int,
                             keys: Seq[String], banding: String): Unit = {
    df.write.mode("overwrite")
      .bucketBy(nBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
    spark.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES('graft.banding' = '$banding')")
  }

  /** The banding descriptor a gate index table was written with. */
  private[graft] def gateIndexBanding(spark: SparkSession,
                                      table: String): String =
    spark.sql(s"SHOW TBLPROPERTIES $table('graft.banding')")
      .select("value").head().getString(0)

  def writeSimhashIndexTable(spark: SparkSession, sfDir: String,
                             table: String, nBuckets: Int = 16): Unit =
    writeGateIndex(spark, simhashGateIndex(spark, sfDir), table, nBuckets,
      Seq("combo_j", "combo_key"), SimhashBanding)

  def writeMinhashIndexTable(spark: SparkSession, sfDir: String,
                             table: String, nBuckets: Int = 16): Unit =
    writeGateIndex(spark, minhashGateIndex(spark, sfDir), table, nBuckets,
      Seq("band_j", "band_key"), MinhashBanding)

  def writeNgramIndexTable(spark: SparkSession, sfDir: String,
                           table: String, nBuckets: Int = 16): Unit =
    writeGateIndex(spark, ngramGateIndex(spark, sfDir), table, nBuckets,
      Seq("band_j", "pkey"), NgramBanding)

  /** Mod-p k-gram fingerprinting (Broder-style content sampling): hash all
    * distinct 5-char grams, keep those ≡ 0 (mod 8) as the document's
    * fingerprint sample; emit stable aggregates of the sample. Narrow
    * per-row transform — no shuffle at all. */
  def docFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    // deliberately NOT persist-once (unlike verifiedPairs/ngramDocs,
    // which several queries share): nothing else consumes this table, so
    // a cache would only make the bench measure a cache read and blind
    // the per-query regression guard to the md5-per-gram hot path.
    // spreadIfNarrow: the 5-gram shingle kernel is the whole query; over
    // a single-row-group file it ran as ONE task (r17 profile: 1.9 s, 2
    // tasks, 0 shuffle) — one tiny exchange buys a cores-wide kernel
    graft.sources.Tables.spreadIfNarrow(spark, sfDir, "documents",
        docs(spark, sfDir), col("doc_id")).select(
        col("doc_id"), normText(col("text")).as("ntext"))
      .withColumn("grams",
        graft.functions.TextHashes.char_grams_distinct(col("ntext"), 5))
      .withColumn("hs", graft.functions.TextHashes.hash32_array(col("grams")))
      // one-pass sample stats kernel — same values as the declarative
      // filter(h % 8 = 0) + size/array_min/array_max/aggregate chain,
      // without four more interpreted per-element lambda passes
      .withColumn("st", graft.functions.TextHashes.mod_filter_stats(col("hs"), 8))
      .select(col("doc_id"),
        size(col("grams")).cast("long").as("n_grams"),
        col("st.n_fp"), col("st.fp_min"), col("st.fp_max"), col("st.fp_sum"))
}
