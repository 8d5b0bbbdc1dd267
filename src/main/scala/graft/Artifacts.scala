package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

import graft.operators.{Curation, Dedup, LangModel, Sampling, Similarity,
  TextAnalysis}

/** The one registry of session-scoped persist-once artifacts: signature
  * tables, pair tables, models and the streaming gates' static indices.
  * Each is built at most once per (session, sfDir, variant) and input
  * fingerprint, and every consumer re-resolves it through [[cached]].
  *
  * Build discipline, the same for every entry:
  *  - one lock per entry, held across its build (which may run Spark
  *    actions), so a cold key is built exactly once and a build never
  *    blocks a lookup of another entry;
  *  - a DataFrame is persisted MEMORY_AND_DISK unless the build already
  *    persisted or checkpointed it (a second copy would double storage);
  *  - an entry is released through [[releaseFrame]], which also frees a
  *    local checkpoint's blocks (`Dataset.unpersist` cannot reach them);
  *  - the registry itself runs no Spark action: a lazy build stays lazy.
  *
  * The entry stores its input fingerprint ([[graft.sources.Tables.fingerprint]]
  * of `sfDir/table.parquet`, statted through the Hadoop FS), so a
  * rewritten input releases the stale value before the rebuild instead
  * of pinning both copies for the session's lifetime. */
object Artifacts {

  /** One slot: `value` was built from input fingerprint `fp`. Guarded by
    * its own monitor. A retired slot has left the map; a lookup that
    * raced the retirement retries on the map's current slot. */
  private final class Entry {
    var fp: String = _
    var value: Option[Any] = None
    var retired = false
  }

  private val entries =
    new ConcurrentHashMap[(SparkSession, String, String), Entry]

  /** The value for (session, sfDir, variant) built from the current
    * fingerprint of `table`, building it under the entry's lock when the
    * slot is cold or its fingerprint changed. */
  def cached[T](spark: SparkSession, sfDir: String, variant: String,
                table: String = "documents")(build: => T): T = {
    val fp = graft.sources.Tables.fingerprint(spark, s"$sfDir/$table.parquet")
    var out: Option[Any] = None
    while (out.isEmpty) {
      val e = entries.computeIfAbsent((spark, sfDir, variant), _ => new Entry)
      out = e.synchronized {
        if (e.retired) None
        else {
          if (e.fp != fp) { e.value.foreach(release); e.value = None }
          if (e.value.isEmpty) { e.value = Some(keep(build)); e.fp = fp }
          e.value
        }
      }
    }
    out.get.asInstanceOf[T]
  }

  /** Whether the entry holds a value built from the current input — for
    * the eager base builds that count only a cold entry. */
  def warm(spark: SparkSession, sfDir: String, variant: String,
           table: String = "documents"): Boolean = {
    val fp = graft.sources.Tables.fingerprint(spark, s"$sfDir/$table.parquet")
    Option(entries.get((spark, sfDir, variant)))
      .exists(e => e.synchronized(e.value.isDefined && e.fp == fp))
  }

  /** Release and forget the named variants of (session, sfDir); other
    * variants and other data directories are untouched. */
  def drop(spark: SparkSession, sfDir: String, variants: String*): Unit =
    variants.foreach(v => retire((spark, sfDir, v)))

  /** Release every entry of `spark`, and the fixpoint results held by
    * [[holdUntilClear]] — call when the session retires. */
  def clear(spark: SparkSession): Unit = {
    entries.keySet.asScala.filter(_._1 eq spark).foreach(retire)
    residue.synchronized {
      val mine = residue.filter(_._1 eq spark)
      mine.foreach { case (_, df) => releaseFrame(df) }
      residue --= mine
    }
  }

  private def retire(key: (SparkSession, String, String)): Unit =
    Option(entries.remove(key)).foreach { e =>
      e.synchronized {
        e.retired = true
        e.value.foreach(release)
        e.value = None
      }
    }

  private def keep(v: Any): Any = v match {
    case df: DataFrame @unchecked if Bridge.checkpointRdd(df).isEmpty &&
        df.storageLevel == StorageLevel.NONE =>
      df.persist(StorageLevel.MEMORY_AND_DISK)
    case other => other
  }

  private def release(v: Any): Unit = v match {
    case df: DataFrame @unchecked => releaseFrame(df)
    case _ => ()
  }

  /** Release a cached frame's storage: the CacheManager entry for
    * persisted frames, the underlying RDD blocks for localCheckpoint-built
    * ones (Dataset.unpersist cannot reach those). */
  def releaseFrame(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    Bridge.releaseCheckpointStorage(df)
  }

  /** Final frames of distributed fixpoint runs: they must stay stored
    * while their caller consumes them, so [[clear]] releases them. */
  private val residue =
    scala.collection.mutable.Buffer.empty[(SparkSession, DataFrame)]

  private[graft] def holdUntilClear(spark: SparkSession, df: DataFrame): Unit =
    residue.synchronized { residue += ((spark, df)) }

  /** One bench-charged artifact: `build` materializes it for (session,
    * sfDir); [[drop]] forgets exactly its `variants`, so the next build
    * is cold and no sibling artifact is evicted. Snapshot rows name
    * [[graft.sources.LogTable]]'s on-disk snapshot kinds instead. */
  final case class Artifact(name: String, variants: Seq[String],
                            build: (SparkSession, String) => Unit,
                            snapshot: Boolean = false) {
    def drop(spark: SparkSession, sfDir: String): Unit =
      if (snapshot) variants.foreach(graft.sources.LogTable.dropSnapshots(sfDir, _))
      else Artifacts.drop(spark, sfDir, variants: _*)
  }

  private def rows(f: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => Unit =
    (s, d) => f(s, d).queryExecution.toRdd.count(): Unit

  /** Every persist-once build, charged as its own `artifact_*` row by
    * `Bench` and `ProfileQueries` so consumers are timed net of it. */
  lazy val all: Seq[Artifact] = Seq(
    // the family-independent word-set base (tokenize + hash + collapse)
    // both MinHash family builds band
    Artifact("artifact_minhash_base", Seq("wsall", "wsreps", "wsintra"),
      Dedup.wordSetBase),
    Artifact("artifact_minhash_pairs", Seq("pairs"), rows(Dedup.verifiedPairs)),
    Artifact("artifact_minhash_pairs_b", Seq("pairsB"),
      rows(Dedup.verifiedPairsB)),
    // dedup_components and centrality_keep both read the fixpoint
    Artifact("artifact_doc_components", Seq("doccomp"),
      rows(Dedup.docComponents)),
    // the gram table plus its one-shuffle rep aggregate
    Artifact("artifact_ngram_signatures", Seq("ngrams", "ngram_reps"),
      (s, d) => { rows(Dedup.ngramDocs)(s, d); rows(Dedup.ngramReps)(s, d) }),
    Artifact("artifact_term_counts", Seq("term_counts"),
      rows(TextAnalysis.termCounts)),
    Artifact("artifact_vocab_coverage", Seq("vocab_cov"),
      rows(TextAnalysis.vocabCoverage)),
    Artifact("artifact_quality_flags", Seq("quality_flags"),
      rows(Curation.qualityFilter)),
    Artifact("artifact_rep_signals", Seq("rep_signals"),
      rows(Curation.qualityRepetition)),
    Artifact("artifact_dup_spans", Seq("dup_spans"),
      rows(Curation.cachedDupSpans)),
    Artifact("artifact_lm_model", Seq("lm_model"), rows(LangModel.lmModel)),
    Artifact("artifact_lm_scores", Seq("lm_scores"),
      rows(LangModel.lmBigramScore)),
    Artifact("artifact_dsir_ratio", Seq("dsir_ratio"),
      rows(Sampling.dsirRatioTable)),
    Artifact("artifact_source_mix", Seq("source_mix"),
      rows(Sampling.sourceMixPlan)),
    Artifact("artifact_decontam", Seq("decontam"), rows(Curation.decontaminate)),
    Artifact("artifact_curate_decision", Seq("curate_decision"),
      rows(Curation.curateCorpus)),
    Artifact("artifact_cell_assignment", Seq("cell"),
      rows(Similarity.cellAssignment)),
    // the four ANN method result slivers, each a full corpus probe pass
    Artifact("artifact_ann_methods", Similarity.RecallMethods.map("ann_" + _),
      Similarity.annMethodsBase),
    // the exact cosine top-k: the ANN family's recall ground truth
    Artifact("artifact_exact_topk", Seq("topk"), rows(Similarity.embeddingTopK)),
    Artifact("artifact_embedding_components", Seq("ncomp"),
      rows(Similarity.embeddingComponents)),
    Artifact("artifact_pq_trained_book", Seq("pq_book"),
      (s, d) => Similarity.trainedBook(s, d): Unit),
    Artifact("artifact_simhash_fp", Seq("simhash_fp"),
      rows(Dedup.cachedSimhash)),
    // the once-per-machine on-disk log snapshots: without these rows the
    // first materialized-lag query on a fresh machine pays the build
    Artifact("artifact_log_snapshot", Seq("logtable"),
      (s, d) => graft.sources.LogTable.ensureMaterialized(s, d): Unit,
      snapshot = true),
    Artifact("artifact_topic_log_snapshot", Seq("topiclog"),
      (s, d) => graft.sources.LogTable.ensureMaterializedTopicLog(s, d): Unit,
      snapshot = true))
}
