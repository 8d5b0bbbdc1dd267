package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** A local filesystem under its own scheme: stands in for s3a/hdfs, where
  * a `java.io.File` stat of the path finds nothing. Statuses are plain
  * (RawLocalFileSystem's own load permissions through `java.io.File` of
  * the URI, which rejects a scheme other than `file`). */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
  private def plain(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getPath)
  override def getFileStatus(f: Path): FileStatus =
    plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(plain)
}

/** The persist-once registry: one declared artifact list, one lock per
  * entry, fingerprints that follow any Hadoop filesystem, and no module
  * cache outside it. */
class ArtifactsSpec extends AnyFunSuite {

  lazy val spark = Testing.spark

  private def scratchDir(): String = {
    val dir = Files.createTempDirectory("artifacts").toString
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      Paths.get(s"$dir/documents.parquet"), StandardCopyOption.COPY_ATTRIBUTES)
    dir
  }

  private def inThread[T](pool: java.util.concurrent.ExecutorService)(
      body: => T): java.util.concurrent.Future[T] =
    pool.submit(new Callable[T] { def call(): T = body })

  test("no file under src/main/scala but Artifacts keys a map by " +
      "(SparkSession, String)") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: $root")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val keyed = """Map[\w.]*\[\s*\(\s*SparkSession\s*,\s*String""".r
    val offenders = files(root).filter(_.getName != "Artifacts.scala")
      .filter(f => keyed.findFirstIn(
        new String(Files.readAllBytes(f.toPath), "UTF-8")).isDefined)
    assert(offenders.isEmpty,
      s"module-level artifact caches outside graft.Artifacts: $offenders")
  }

  test("the artifact list names each bench row once") {
    val names = Artifacts.all.map(_.name)
    assert(names.size === 24)
    assert(names.distinct === names)
    assert(names.forall(_.startsWith("artifact_")))
  }

  test("two threads asking for one cold entry share a single build") {
    val dir = scratchDir()
    val builds = new AtomicInteger(0)
    val go = new CountDownLatch(1)
    def lookup(): DataFrame = Artifacts.cached(spark, dir, "spec_shared") {
      builds.incrementAndGet()
      Thread.sleep(300) // hold the build open while the other thread asks
      spark.range(10).toDF("id")
    }
    val pool = Executors.newFixedThreadPool(2)
    try {
      val fs = (1 to 2).map(_ => inThread(pool) { go.await(); lookup() })
      go.countDown()
      val Seq(a, b) = fs.map(_.get(60, TimeUnit.SECONDS))
      assert(a eq b)
      assert(builds.get === 1)
    } finally {
      pool.shutdownNow()
      Artifacts.drop(spark, dir, "spec_shared")
    }
  }

  test("a build held open does not block a lookup of another entry") {
    val dir = scratchDir()
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val slow = inThread(pool) {
        Artifacts.cached(spark, dir, "spec_slow") {
          entered.countDown()
          release.await()
          spark.range(5).toDF("id")
        }
      }
      assert(entered.await(30, TimeUnit.SECONDS))
      // a registry-wide monitor would park this lookup until `release`
      val other = inThread(pool) {
        Artifacts.cached(spark, dir, "spec_other")(spark.range(3).toDF("id"))
      }
      assert(other.get(30, TimeUnit.SECONDS).count() === 3L)
      assert(!slow.isDone)
      release.countDown()
      assert(slow.get(30, TimeUnit.SECONDS).count() === 5L)
    } finally {
      release.countDown()
      pool.shutdownNow()
      Artifacts.drop(spark, dir, "spec_slow", "spec_other")
    }
  }

  test("a non-file: scheme: a rewritten input evicts the entry, build " +
      "sizing sees its bytes, and the SQL views bind") {
    import graft.operators.{Curation, Dedup}
    val s = spark.newSession()
    s.conf.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    // floor of one partition, so the build sizing reads only the bytes
    s.conf.set("spark.sql.shuffle.partitions", "1")
    val dir = Files.createTempDirectory("artifacts-graftfs")
    val sf = "graftfs://" + dir.toString
    val docsDir = dir.resolve("documents.parquet")
    Files.createDirectory(docsDir)
    val src = Paths.get("/root/testdata/sf0.001/documents.parquet")
    def writeCopies(k: Int): Unit = {
      docsDir.toFile.listFiles().foreach(_.delete())
      (0 until k).foreach(i =>
        Files.copy(src, docsDir.resolve(s"part-$i.parquet")))
    }
    def live = spark.sparkContext.getPersistentRDDs
    val B = org.apache.spark.sql.graftbridge.Bridge
    try {
      writeCopies(3)
      val bytes = Dedup.inputBytes(s, sf, "documents")
      assert(bytes === 3 * Files.size(src))
      assert(Dedup.buildShufflePartitions(s, sf) ===
        (bytes / Dedup.BuildBytesPerPartition + 1).toInt)
      assert(Dedup.buildShufflePartitions(s, sf) > 1)

      val q0 = Curation.qualityFilter(s, sf)
      val n0 = q0.count()
      val ids0 = B.cachedRddIds(q0)
      assert(ids0.nonEmpty && ids0.forall(live.contains))
      assert(Curation.qualityFilter(s, sf) eq q0)
      writeCopies(2)
      val q1 = Curation.qualityFilter(s, sf)
      assert(q1 ne q0)
      assert(q1.count() * 3 === n0 * 2)
      assert(ids0.forall(!live.contains(_)),
        s"stale entry leaked on a graftfs input: RDDs $ids0 still persisted")

      GraftViews.register(s, sf, only = Set("quality_filter"))
      assert(s.catalog.tableExists("documents"))
      assert(s.sql("SELECT count(*) FROM quality_filter").head().getLong(0) ===
        q1.count())
    } finally Artifacts.clear(s)
  }
}
