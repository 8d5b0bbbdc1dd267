package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, Sampling}

/** The r18 shared corpus-pass subtrees behind the curation decision: the
  * per-language mix plan (one corpus tokenize pass, consumed by
  * source_mix_plan, stratified_sample, and the decision build) and the
  * 5-gram contamination flags (one corpus gram pass, consumed by the
  * decontaminate row and the decision build) must each materialize ONCE
  * per (session, sfDir), and the bench's variant-scoped droppers must
  * evict one without evicting its siblings. Scratch-dir isolated —
  * parallel suites share the SparkSession and the operator caches. */
class SharedSubtreeSpec extends AnyFunSuite {

  lazy val spark = Testing.spark

  private def scratchDir(): String = {
    val dir = Files.createTempDirectory("sharedsub").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      Paths.get(s"$dir/documents.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
    dir
  }

  test("source mix plan materializes once and is reused by its consumers") {
    val dir = scratchDir()
    val plan0 = Sampling.sourceMixPlan(spark, dir)
    plan0.count()
    // repeat call and the decision build must REUSE the cache entry
    assert(Sampling.sourceMixPlan(spark, dir) eq plan0)
    Curation.curateCorpus(spark, dir).count()
    assert(Sampling.sourceMixPlan(spark, dir) eq plan0)
  }

  test("contamination flags materialize once and are reused by the decision") {
    val dir = scratchDir()
    val flags0 = Curation.decontaminate(spark, dir)
    flags0.count()
    assert(Curation.decontaminate(spark, dir) eq flags0)
    Curation.curateCorpus(spark, dir).count()
    assert(Curation.decontaminate(spark, dir) eq flags0)
  }

  test("variant-scoped drops evict one subtree without touching siblings") {
    val dir = scratchDir()
    val plan0 = Sampling.sourceMixPlan(spark, dir)
    val dsir0 = Sampling.dsirRatioTable(spark, dir)
    val flags0 = Curation.decontaminate(spark, dir)
    // dropping the dsir table keeps the mix plan, and vice versa
    Artifacts.drop(spark, dir, "dsir_ratio")
    assert(Sampling.sourceMixPlan(spark, dir) eq plan0)
    Artifacts.drop(spark, dir, "source_mix")
    assert(Sampling.sourceMixPlan(spark, dir) ne plan0)
    assert(Sampling.dsirRatioTable(spark, dir) ne dsir0)
    // dropping the contamination flags keeps the decision entry warm
    val decided0 = Curation.curateCorpus(spark, dir)
    Artifacts.drop(spark, dir, "decontam")
    assert(Curation.curateCorpus(spark, dir) eq decided0)
    assert(Curation.decontaminate(spark, dir) ne flags0)
  }

  test("quality legs materialize once and quality_signals reuses them") {
    val dir = scratchDir()
    val vocab0 = graft.operators.TextAnalysis.vocabCoverage(spark, dir)
    val gopher0 = Curation.qualityFilter(spark, dir)
    val rep0 = Curation.qualityRepetition(spark, dir)
    Curation.qualitySignals(spark, dir).count()
    assert(graft.operators.TextAnalysis.vocabCoverage(spark, dir) eq vocab0)
    assert(Curation.qualityFilter(spark, dir) eq gopher0)
    assert(Curation.qualityRepetition(spark, dir) eq rep0)
  }

  test("quality-leg variant drops evict one leg without touching siblings") {
    val dir = scratchDir()
    val tc0 = graft.operators.TextAnalysis.termCounts(spark, dir)
    val vocab0 = graft.operators.TextAnalysis.vocabCoverage(spark, dir)
    val gopher0 = Curation.qualityFilter(spark, dir)
    val rep0 = Curation.qualityRepetition(spark, dir)
    // dropping the inverted index keeps the vocab table, and vice versa
    Artifacts.drop(spark, dir, "term_counts")
    assert(graft.operators.TextAnalysis.vocabCoverage(spark, dir) eq vocab0)
    assert(graft.operators.TextAnalysis.termCounts(spark, dir) ne tc0)
    Artifacts.drop(spark, dir, "vocab_cov")
    assert(graft.operators.TextAnalysis.vocabCoverage(spark, dir) ne vocab0)
    // the two Curation kernel legs drop independently
    Artifacts.drop(spark, dir, "quality_flags")
    assert(Curation.qualityRepetition(spark, dir) eq rep0)
    assert(Curation.qualityFilter(spark, dir) ne gopher0)
    Artifacts.drop(spark, dir, "rep_signals")
    assert(Curation.qualityRepetition(spark, dir) ne rep0)
  }

  test("cached quality legs equal a fresh rebuild row-for-row") {
    val dir = scratchDir()
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().sortBy(_.getLong(0)).toSeq
    val vocab = sortedRows(graft.operators.TextAnalysis.vocabCoverage(spark, dir))
    Artifacts.drop(spark, dir, "vocab_cov")
    assert(sortedRows(graft.operators.TextAnalysis.vocabCoverage(spark, dir)) == vocab)
    val gopher = sortedRows(Curation.qualityFilter(spark, dir))
    Artifacts.drop(spark, dir, "quality_flags")
    assert(sortedRows(Curation.qualityFilter(spark, dir)) == gopher)
    val rep = sortedRows(Curation.qualityRepetition(spark, dir))
    Artifacts.drop(spark, dir, "rep_signals")
    assert(sortedRows(Curation.qualityRepetition(spark, dir)) == rep)
  }

  test("ANN method slivers materialize once and recall reuses them") {
    val dir = Files.createTempDirectory("sharedsub").toString
    for (t <- Seq("documents", "embeddings"))
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        Paths.get(s"$dir/$t.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
    val Sim = graft.operators.Similarity
    val lsh0 = Sim.embeddingAnnLsh(spark, dir)
    val pq0 = Sim.embeddingAnnPq(spark, dir)
    Sim.annRecall(spark, dir).count()
    assert(Sim.embeddingAnnLsh(spark, dir) eq lsh0)
    assert(Sim.embeddingAnnPq(spark, dir) eq pq0)
    // the trained-book path must NOT read the synthetic-pq cache entry
    assert(Sim.embeddingAnnPq(spark, dir, Some(Sim.syntheticPqBook)) ne pq0)
    // variant drop evicts one method without touching siblings, and the
    // rebuilt sliver is row-identical to the cached one
    val rows0 = pq0.collect().map(_.toString).sorted.toSeq
    Artifacts.drop(spark, dir, Sim.RecallMethods.map("ann_" + _): _*)
    val pq1 = Sim.embeddingAnnPq(spark, dir)
    assert(pq1 ne pq0)
    assert(pq1.collect().map(_.toString).sorted.toSeq == rows0)
  }

  test("cached mix plan and flags equal a fresh rebuild row-for-row") {
    val dir = scratchDir()
    val plan = Sampling.sourceMixPlan(spark, dir).collect().sortBy(_.getString(0))
    Artifacts.drop(spark, dir, "source_mix")
    val fresh = Sampling.sourceMixPlan(spark, dir).collect().sortBy(_.getString(0))
    assert(plan.toSeq == fresh.toSeq)
    val flags = Curation.decontaminate(spark, dir).collect().sortBy(_.getLong(0))
    Artifacts.drop(spark, dir, "decontam")
    val freshF = Curation.decontaminate(spark, dir).collect().sortBy(_.getLong(0))
    assert(flags.toSeq == freshF.toSeq)
  }
}
