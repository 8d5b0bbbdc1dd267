package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The r18 shared word-set base: both MinHash family builds must consume
  * ONE materialization of the family-independent tokenize+hash+collapse
  * subtree (wsall/wsreps/wsintra), and the bench's variant-scoped cache
  * dropper must evict a family's pairs table WITHOUT evicting the shared
  * base. Scratch-dir isolated — parallel suites share the SparkSession
  * and its pairs cache. */
class MinhashBaseSpec extends AnyFunSuite {

  lazy val spark = Testing.spark

  private def scratchDir(): String = {
    val dir = Files.createTempDirectory("mhbase").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      Paths.get(s"$dir/documents.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
    dir
  }

  test("both family builds share one word-set base materialization") {
    val dir = scratchDir()
    Dedup.verifiedPairs(spark, dir).count()
    val all0 = Dedup.wordSetAll(spark, dir)
    val reps0 = Dedup.wordSetReps(spark, dir)
    val intra0 = Dedup.wordSetIntraPairs(spark, dir)
    Dedup.verifiedPairsB(spark, dir).count()
    // the second family's build must have REUSED the cached base frames,
    // not rebuilt them (reference identity = same cache entry)
    assert(Dedup.wordSetAll(spark, dir) eq all0)
    assert(Dedup.wordSetReps(spark, dir) eq reps0)
    assert(Dedup.wordSetIntraPairs(spark, dir) eq intra0)
  }

  test("variant-scoped drop evicts the family table but keeps the base") {
    val dir = scratchDir()
    Dedup.verifiedPairs(spark, dir).count()
    val all0 = Dedup.wordSetAll(spark, dir)
    Artifacts.drop(spark, dir, "pairs")
    // base survives the family drop …
    assert(Dedup.wordSetAll(spark, dir) eq all0)
    // … and the family table is a fresh build, reusing that base
    val rebuilt = Dedup.verifiedPairs(spark, dir)
    rebuilt.count()
    assert(Dedup.wordSetAll(spark, dir) eq all0)
  }

  test("intra pairs: ordered, jaccard exactly 1.0") {
    val dir = scratchDir()
    val intra = Dedup.wordSetIntraPairs(spark, dir)
    val rows = intra.collect()
    assert(rows.forall(r => r.getDouble(2) == 1.0))
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
  }
}
