package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Central loader for the driver testdata tables.
  *
  * `events.parquet` has shipped with two `ts` encodings across driver data
  * refreshes: TIMESTAMP(NANOS) (pyarrow ns — Spark's reader rejects it
  * unless nanos are read as long via
  * `spark.sql.legacy.parquet.nanosAsLong`, then we truncate to micros) and
  * TIMESTAMP(MICROS) `isAdjustedToUTC=false` (read as TIMESTAMP_NTZ).
  * Both normalize to a session-TZ TimestampType with microsecond values —
  * exactly what DuckDB yields for `CAST(ts AS TIMESTAMP)` on the same file
  * (the oracle SQL mirrors this) — so both engines see identical `ts`
  * values regardless of the file's encoding. Dispatch is on the inferred
  * schema, not the file path, so mixed-vintage directories keep working.
  */
object Tables {

  /** Estimated scan-task count for a table, using Spark's own split
    * math (FilePartition.maxSplitBytes + greedy packing) over fs
    * metadata only. Used by [[spreadIfNarrow]] to decide whether a scan
    * can feed the session's cores at all: the driver testdata ships each
    * table as ONE parquet file with ONE row group, so every scan is a
    * single task and any heavy per-row kernel right after it
    * (tokenize/shingle/hash) runs single-threaded on a 32-core session
    * (r17 profile: `doc_fingerprint` = 1.9 s on 2 tasks, zero shuffle
    * bytes).
    *
    * Stats through the table's own Hadoop FileSystem, not java.io.File
    * (r17 verdict #1): the old local stat read length 0 for any
    * hdfs://s3a:// table — slots=1 — so spreadIfNarrow ALWAYS injected a
    * full-table hash shuffle at exactly the scale where it must be a
    * no-op. Any stat/listing failure now FAILS OPEN (Int.MaxValue → the
    * spread is skipped): a missed local spread costs one slow sf0.1 row,
    * a spurious cluster-scale shuffle costs the job.
    *
    * Single-file refinement (r17 advice #2): byte-split math overcounts a
    * one-file table whose file exceeds maxSplit but holds fewer ROW GROUPS
    * than splits — only the split containing a row-group midpoint decodes
    * it, so real scan parallelism is min(splits, row groups). The footer
    * is read (driver-side, one file) only in that narrow case; multi-file
    * tables — every table at cluster scale — never pay a footer read. */
  private[graft] def estimatedScanSlots(spark: SparkSession,
                                        sfDir: String, name: String): Int =
    try {
      val hconf = spark.sessionState.newHadoopConf()
      val path = new org.apache.hadoop.fs.Path(s"$sfDir/$name.parquet")
      val fs = path.getFileSystem(hconf)
      val st = fs.getFileStatus(path)
      val files: Seq[org.apache.hadoop.fs.FileStatus] =
        if (st.isDirectory)
          fs.listStatus(path).toSeq.filter(f => f.isFile && f.getLen > 0)
        else Seq(st)
      val lens = files.map(_.getLen).filter(_ > 0)
      if (lens.isEmpty) Int.MaxValue // unreadable/empty listing: fail open
      else {
        val conf = spark.sessionState.conf
        val openCost = conf.filesOpenCostInBytes
        val defaultMax = conf.filesMaxPartitionBytes
        val minPartitionNum = conf.filesMinPartitionNum
          .getOrElse(spark.sparkContext.defaultParallelism)
        val totalBytes = lens.map(_ + openCost).sum
        val bytesPerCore = totalBytes / math.max(1, minPartitionNum)
        val maxSplit = math.min(defaultMax, math.max(openCost, bytesPerCore))
        // greedy packing over per-file split chunks, mirroring
        // FilePartition.getFilePartitions: files split into maxSplit
        // pieces, pieces packed into partitions of ≤ maxSplit (each piece
        // charged openCost)
        val pieces = lens.flatMap { len =>
          val n = math.max(1L, (len + maxSplit - 1) / maxSplit)
          (0L until n).map(i =>
            math.min(maxSplit, len - i * maxSplit) + openCost)
        }.sortBy(-_)
        var slots = 0
        var cur = 0L
        pieces.foreach { p =>
          if (cur + p > maxSplit && cur > 0) { slots += 1; cur = 0L }
          cur += p
        }
        if (cur > 0) slots += 1
        if (files.size == 1 && slots > 1) {
          val rowGroups =
            try {
              val in = org.apache.parquet.hadoop.ParquetFileReader.open(
                org.apache.parquet.hadoop.util.HadoopInputFile
                  .fromStatus(files.head, hconf))
              try in.getRowGroups.size() finally in.close()
            } catch { case scala.util.control.NonFatal(_) => slots }
          math.min(slots, math.max(1, rowGroups))
        } else slots
      }
    } catch { case scala.util.control.NonFatal(_) => Int.MaxValue }

  /** Scale-adaptive kernel spread (opt guide §2.5 "input skew: one huge
    * unsplittable file … repartition immediately after the read"): hash-
    * repartition `df` on `key` to the session's parallelism IFF the
    * backing table's estimated scan slots cannot feed the session's
    * cores. The testdata's single-file single-row-group tables make the
    * scan stage — and every codegen'd text kernel fused into it — one
    * task; one cheap exchange of the raw rows buys a cores-wide kernel
    * stage. At cluster scale the condition is false (thousands of
    * splits) and the call is an exact no-op, so no plan changes and no
    * payload shuffle are introduced where the scan already parallelizes.
    * Hash-keyed (not round-robin) so no sort-before-repartition is paid
    * and placement is deterministic under retries (guide §2.5); the
    * partition count is pinned explicitly so AQE cannot coalesce the
    * tiny exchange back down to one task. Value-identical for any
    * order-free consumer (the oracle compares sorted rows). */
  private[graft] def spreadIfNarrow(spark: SparkSession, sfDir: String,
                                    name: String, df: DataFrame,
                                    key: org.apache.spark.sql.Column): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    if (estimatedScanSlots(spark, sfDir, name) < par)
      df.repartition(par, key)
    else df
  }

  /** The inference error Spark raises for TIMESTAMP(NANOS) parquet
    * without the legacy flag (ILLEGAL_PARQUET_TYPE naming the NANOS
    * type). */
  private def isNanosVintage(e: Exception): Boolean = {
    val m = String.valueOf(e.getMessage)
    m.contains("NANOS") || m.contains("nanosAsLong")
  }

  /** Size + mtime fingerprint of every file under `path` (a file or a
    * directory, listed recursively), statted through the path's own
    * Hadoop FileSystem — never java.io.File, whose stat of an
    * s3a/hdfs/`file:` URI answers "no such file" and makes the fingerprint
    * constant. A missing path fingerprints as empty. */
  private[graft] def fingerprint(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val files = mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    try {
      val it = fs.listFiles(p, true)
      while (it.hasNext) files += it.next()
    } catch { case _: java.io.FileNotFoundException => }
    java.lang.Long.toHexString(
      files.sortBy(_.getPath.toString).foldLeft(17L)((h, f) =>
        ((h * 31 + f.getPath.getName.hashCode) * 31 + f.getLen) * 31 +
          f.getModificationTime))
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Session confs that change what parquet schema inference returns. */
  private val InferenceConfs = Seq(NanosAsLong,
    "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled", "spark.sql.caseSensitive")

  /** path → (fingerprint + inference confs, inferred schema, needs the
    * nanos flag). One entry per path: a regenerated file replaces it. */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, StructType, Boolean)]

  /** `spark.read.parquet(path)` without a schema-inference job per call:
    * Spark's parquet inference launches one job on every read, which at
    * broker-query sizes costs more than the query. The schema is inferred
    * once per input fingerprint and handed to the reader. */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame = {
    val fp = fingerprint(spark, path)
    def token = fp + InferenceConfs.map(spark.conf.getOption).mkString("|", "|", "")
    val (schema, nanos) = Option(schemaMemo.get(path)).filter(_._1 == token) match {
      case Some((_, s, n)) => (s, n)
      case None =>
        val (s, n) =
          try (spark.read.parquet(path).schema, false)
          catch {
            case e: Exception if isNanosVintage(e) =>
              spark.conf.set(NanosAsLong, "true")
              (spark.read.parquet(path).schema, true)
          }
        // keyed by the confs as they are now (after any flag flip), which
        // is how this session finds the entry on its next call
        schemaMemo.put(path, (token, s, n))
        (s, n)
    }
    // TIMESTAMP(NANOS) vintage: readable only with the legacy flag, which
    // must REMAIN set afterwards — it is consulted again at execution time
    // for this relation's decode. Setting it unconditionally on every load
    // (the old code) silently flipped how an EMBEDDING application's own
    // unrelated nanos parquet reads decode for the rest of the session
    // (LongType instead of failing loudly) — r17 data-plane review #3;
    // only a directory that actually ships nanos pays that.
    if (nanos) spark.conf.set(NanosAsLong, "true")
    spark.read.schema(schema).parquet(path)
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = readParquet(spark, s"$sfDir/$name.parquet")
    if (name == "events") df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // epoch-nanos as long. ts DIV 1000: integer division (a double
        // division would lose precision above 2^53 — epoch-nanos ~1.7e18).
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        // wall-clock micros; reinterpret in the session TZ (UTC in
        // Verify/tests) so downstream TimestampType logic is unchanged.
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
    else df
  }
}
