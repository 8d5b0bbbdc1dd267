package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}

/** Round-7 verdict #5: the session-scoped persist-once registries key by
  * (session, input fingerprint) — re-registering the SAME directory with
  * a CHANGED fingerprint (regenerated testdata) must unpersist the stale
  * entry at insert time, not leak it until session teardown. */
class CacheEvictionSpec extends AnyFunSuite {

  lazy val spark = Testing.spark

  /** Copy one table file into a fresh dir the test can mutate. */
  private def scratchDir(tables: String*): String = {
    val dir = Files.createTempDirectory("evict").toString
    tables.foreach { t =>
      Files.copy(Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        Paths.get(s"$dir/$t.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
    }
    dir
  }

  private def touch(path: String): Unit = {
    val f = new java.io.File(path)
    assert(f.setLastModified(f.lastModified() + 60000L), s"cannot touch $path")
  }

  // Both eviction tests assert on the SPECIFIC RDD ids backing the cached
  // frames (Bridge.cachedRddIds / checkpointRdd), not on global
  // persistent-RDD counts: suites share one SparkContext and run in
  // parallel, so a count delta races with unrelated unpersists — and
  // Dataset.storageLevel can't distinguish a stale entry from its
  // same-canonical-plan replacement.
  private def backingIds(df: org.apache.spark.sql.DataFrame): Set[Int] = {
    val B = org.apache.spark.sql.graftbridge.Bridge
    B.checkpointRdd(df).map(r => Set(r.id)).getOrElse(B.cachedRddIds(df))
  }

  test("Dedup.verifiedPairs: a changed documents fingerprint unpersists the stale frame") {
    val dir = scratchDir("documents")
    def live = spark.sparkContext.getPersistentRDDs
    val a = Dedup.verifiedPairs(spark, dir)
    a.count()
    // the pairs frame is eagerly localCheckpoint-backed (its storage lives
    // on the checkpoint RDD, invisible to Dataset.storageLevel) — assert
    // block storage through the bridge instead
    assert(org.apache.spark.sql.graftbridge.Bridge.checkpointRdd(a)
      .exists(_.getStorageLevel.useMemory) ||
      a.storageLevel === StorageLevel.MEMORY_AND_DISK)
    val aIds = backingIds(a)
    assert(aIds.nonEmpty && aIds.forall(live.contains))
    touch(s"$dir/documents.parquet")
    val b = Dedup.verifiedPairs(spark, dir)
    b.count()
    assert(b ne a)
    val bIds = backingIds(b)
    assert(bIds.nonEmpty && bIds.forall(live.contains))
    assert(aIds.intersect(bIds).isEmpty)
    assert(aIds.forall(!live.contains(_)),
      s"stale-fingerprint entry leaked: RDDs $aIds still persisted")
  }

  test("Curation.cachedDupSpans: fingerprint eviction + clearCaches release") {
    val dir = scratchDir("documents")
    def live = spark.sparkContext.getPersistentRDDs
    val a = graft.operators.Curation.cachedDupSpans(spark, dir)
    a.count()
    val aIds = backingIds(a)
    assert(aIds.nonEmpty && aIds.forall(live.contains))
    touch(s"$dir/documents.parquet")
    val b = graft.operators.Curation.cachedDupSpans(spark, dir)
    b.count()
    assert(b ne a)
    assert(aIds.forall(!live.contains(_)),
      s"stale-fingerprint dup-spans entry leaked: RDDs $aIds still persisted")
    val bIds = backingIds(b)
    Artifacts.clear(spark)
    // release is async (blocking = false) — poll briefly
    val deadline = System.nanoTime() + 10e9.toLong
    while (bIds.exists(live.contains) && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(bIds.forall(!live.contains(_)),
      s"clearCaches left dup-spans RDDs $bIds persisted")
  }

  test("Dedup.cachedSimhash: a checkpointed entry is stored once and " +
      "Artifacts.clear frees its checkpoint") {
    val B = org.apache.spark.sql.graftbridge.Bridge
    val dir = scratchDir("documents")
    def live = spark.sparkContext.getPersistentRDDs
    val fp = Dedup.cachedSimhash(spark, dir)
    fp.count()
    val ck = B.checkpointRdd(fp)
    assert(ck.exists(r => live.contains(r.id)),
      "cachedSimhash is not backed by a stored local checkpoint")
    // the registry must not persist a checkpoint-backed build again
    assert(B.cachedRddIds(fp).isEmpty,
      "checkpointed entry also holds an InMemoryRelation copy")
    Artifacts.clear(spark)
    val deadline = System.nanoTime() + 10e9.toLong
    while (live.contains(ck.get.id) && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(!live.contains(ck.get.id),
      s"Artifacts.clear left checkpoint RDD ${ck.get.id} stored")
  }

  test("local-checkpoint release: safe after materialize, THROWS out of order") {
    import org.apache.spark.sql.functions._
    val B = org.apache.spark.sql.graftbridge.Bridge
    // the componentsOf loop discipline: successor eagerly checkpointed
    // (all partitions materialized) BEFORE the superseded round's blocks
    // are released — consumers of the successor never re-read the base
    val base = spark.range(0, 1000, 1, 4).toDF("id").localCheckpoint(true)
    val succ = base.withColumn("x", col("id") * 2).localCheckpoint(true)
    B.releaseCheckpointStorage(base, blocking = true)
    assert(succ.count() === 1000L)
    // out-of-order release: a dependent that was NOT materialized first
    // must fail HARD at its checkpoint-block read — a silent recompute
    // here would mean the WARN we quieted was load-bearing after all
    val base2 = spark.range(0, 1000, 1, 4).toDF("id").localCheckpoint(true)
    val lateConsumer = base2.withColumn("x", col("id") * 2)
    B.releaseCheckpointStorage(base2, blocking = true)
    val e = intercept[org.apache.spark.SparkException] { lateConsumer.count() }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + msgs(t.getCause)
    assert(msgs(e).toLowerCase.contains("checkpoint"), msgs(e))
  }

  test("Similarity cell assignment: a changed embeddings fingerprint evicts the stale entry") {
    val dir = scratchDir("documents", "embeddings")
    def live = spark.sparkContext.getPersistentRDDs
    val r1 = Similarity.embeddingAnnIvf(spark, dir)
    r1.count()
    // r1's plan was resolved against the PRE-touch cache entry: its
    // InMemoryRelation's buffer RDD id identifies the stale entry exactly
    val ids1 = backingIds(r1)
    assert(ids1.nonEmpty && ids1.forall(live.contains))
    touch(s"$dir/embeddings.parquet")
    val r2 = Similarity.embeddingAnnIvf(spark, dir)
    r2.count()
    val ids2 = backingIds(r2)
    assert(ids2.nonEmpty && ids2.forall(live.contains))
    assert(ids1.intersect(ids2).isEmpty)
    // the fresh-fingerprint insert must have evicted the stale one
    assert(ids1.forall(!live.contains(_)),
      s"stale cell assignment leaked: RDDs $ids1 still persisted")
  }
}
