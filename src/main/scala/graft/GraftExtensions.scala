package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.functions.{FlyqCodec, TextHashes, TopK, VectorOps}

/** Library entry point for `spark.sql.extensions=graft.GraftExtensions`:
  * injects the [[graft.plans.GroupedPrefixStrategy]] planner strategy and
  * its [[graft.plans.PruneGroupedPrefix]] optimizer rule, and registers
  * the SQL-expressible custom functions, so a pure-SQL user gets the whole
  * surface (`SELECT simhash16(hash32_array(words)) ...`)
  * with zero Scala. [[GraftFunctions.register]] does the same for an
  * already-running session (the operators also self-register the
  * strategy at DataFrame construction, so either path works). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.plans.GroupedPrefixStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PruneGroupedPrefix)
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
  }
}

object GraftFunctions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType)
        if v >= Int.MinValue && v <= Int.MaxValue => v.toInt
    case Literal(v: Long, LongType) => throw new IllegalArgumentException(
      s"$what out of Int range: $v") // silent .toInt would wrap the value
    case other => throw new IllegalArgumentException(
      s"$what must be a literal integer, got $other")
  }

  private def longLit(e: Expression, what: String): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a literal integer, got $other")
  }

  private def fn(name: String, usage: String)(
      builder: Seq[Expression] => Expression)
      : (String, ExpressionInfo, Seq[Expression] => Expression) =
    // the full (non-deprecated) constructor: usage + empty extended fields
    (name, new ExpressionInfo("graft.GraftFunctions", null, name, usage,
      "", "", "", "", "", "", "built-in"),
      builder)

  /** Every custom function whose arguments are SQL-expressible.
    * (minhash_sigs / stopword_hits take Scala-side constant tables and
    * stay DataFrame-API-only.) */
  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("hash32_array", "hash32_array(array<string>) - md5-32 per element") {
      a => TextHashes.Hash32Array(a.head)
    },
    fn("jaccard_long", "jaccard_long(array<long>, array<long>) - exact Jaccard") {
      a => TextHashes.JaccardLong(a(0), a(1))
    },
    fn("char_grams_distinct",
      "char_grams_distinct(str, n) - distinct char n-grams") {
      a => TextHashes.CharGramsDistinct(a(0), intLit(a(1), "n"))
    },
    fn("simhash16", "simhash16(array<long>) - 16-bit SimHash") {
      a => TextHashes.SimHash16(a.head)
    },
    fn("mod_filter_stats",
      "mod_filter_stats(array<long>, mod) - count/min/max/sum of elements = 0 (mod m)") {
      a => TextHashes.ModFilterStats(a(0), intLit(a(1), "mod"))
    },
    fn("dot_seq", "dot_seq(array<float|double>, array) - dot product") {
      a => VectorOps.DotSeq(a(0), a(1))
    },
    fn("norm2_seq", "norm2_seq(array<float|double>) - squared L2 norm (self dot)") {
      a => VectorOps.Norm2Seq(a.head)
    },
    fn("srp_bucket",
      "srp_bucket(vec, numPlanes, dim) - signed-random-projection bucket") {
      a => VectorOps.SrpBucket(a(0), intLit(a(1), "numPlanes"),
        intLit(a(2), "dim"))
    },
    fn("pq_encode",
      "pq_encode(vec, numSub, numCodewords, subDim, seed) - PQ codes per subspace") {
      a => VectorOps.PqEncode(a(0), intLit(a(1), "numSub"),
        intLit(a(2), "numCodewords"), intLit(a(3), "subDim"),
        longLit(a(4), "seed"))
    },
    fn("pq_adc_dot",
      "pq_adc_dot(query, codes, numSub, numCodewords, subDim, seed) - asymmetric dot") {
      a => VectorOps.PqAdcDot(a(0), a(1), intLit(a(2), "numSub"),
        intLit(a(3), "numCodewords"), intLit(a(4), "subDim"),
        longLit(a(5), "seed"))
    },
    fn("pq_recon_n2",
      "pq_recon_n2(codes, numSub, numCodewords, subDim, seed) - reconstructed norm2") {
      a => VectorOps.PqReconN2(a.head, intLit(a(1), "numSub"),
        intLit(a(2), "numCodewords"), intLit(a(3), "subDim"),
        longLit(a(4), "seed"))
    },
    fn("flyq_decode_record", "flyq_decode_record(binary) - one StoredRecord") {
      a => FlyqCodec.FlyqDecodeRecord(a.head)
    },
    fn("flyq_decode_segment",
      "flyq_decode_segment(binary) - all records of a segment") {
      a => FlyqCodec.FlyqDecodeSegment(a.head)
    },
    fn("top_k_structs",
      "top_k_structs(struct, k) - bounded top-k aggregate (asc struct order)") {
      a => TopK.TopKStructAgg(a.head, intLit(a(1), "k"))
    },
    fn("xxh3_64", "xxh3_64(binary) - XXH3-64 (reference broker hash)") {
      a => graft.functions.Xxh3.Xxh3_64(a.head)
    },
    fn("xxh3_partition",
      "xxh3_partition(binary, n) - (xxh3_64(key) & 0xffffffff) % n, " +
        "the reference topic.rs truncate-to-u32-then-mod rule") {
      a => graft.functions.Xxh3.Xxh3Partition(a(0), longLit(a(1), "n"))
    },
    fn("winnow_fps",
      "winnow_fps(array<string>, w, k) - winnowed span fingerprints") {
      a => TextHashes.WinnowFps(a(0), intLit(a(1), "w"), intLit(a(2), "k"))
    },
    fn("hash32_array_at",
      "hash32_array_at(array<string>, off) - md5 bytes [off,off+4) per element") {
      a => TextHashes.Hash32Array(a(0), intLit(a(1), "off"))
    },
    fn("simhash_bits", "simhash_bits(array<long>, bits) - SimHash, 1-32 bits") {
      a => TextHashes.SimHashBits(a(0), intLit(a(1), "bits"))
    },
    fn("simhash64",
      "simhash64(array<string>) - struct<sh_lo,sh_hi> 64-bit SimHash") {
      a => TextHashes.SimHash64(a.head)
    },
    fn("word_grams_hashed",
      "word_grams_hashed(array<string>, n) - hashed word n-grams") {
      a => TextHashes.WordGramsHashed(a(0), intLit(a(1), "n"))
    },
    fn("max_count", "max_count(array<long>) - modal value count") {
      a => TextHashes.MaxCount(a.head)
    },
    fn("repetition_stats",
      "repetition_stats(array<string>) - bigram/5-gram repetition struct") {
      a => TextHashes.RepetitionStats(a.head)
    },
    fn("nfc", "nfc(string) - Unicode NFC normalization") {
      a => TextHashes.NfcNormalize(a.head)
    })

  /** Register into a live session (same list the extensions inject). */
  def register(spark: SparkSession): Unit = {
    graft.plans.OrderedIndex.ensureRegistered(spark)
    all.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), info, builder)
    }
  }
}

/** SQL-STRING surface for the whole query library — the first thing an
  * analyst reaches for: bind an `sfDir` once and every [[SparkEntry]]
  * query becomes a TEMP VIEW (same name as its driver-contract row), the
  * raw parquet tables become views under their TPC-H-ish names, and the
  * custom kernels register as SQL functions. After `register`, pure SQL
  * works end-to-end:
  *
  * {{{
  *   GraftViews.register(spark, "/root/testdata/sf0.01")
  *   spark.sql("SELECT * FROM span_dedup WHERE NOT pass_span").show()
  *   spark.sql("""SELECT d.doc_id, s.n_dup_tokens FROM documents d
  *                JOIN span_scrub s USING (doc_id)""").show()
  * }}}
  *
  * Views are DataFrame-backed and lazy — registering does not execute
  * the queries — but a few construct driver-side artifacts at BUILD
  * time (the trained-PQ family's Lloyd chain, idf slivers), so
  * registration of the full set costs seconds, not milliseconds; pass
  * `only` to bind a subset. */
object GraftViews {
  val TableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  def register(spark: SparkSession, sfDir: String,
               only: Set[String] = Set.empty): Unit = {
    GraftFunctions.register(spark)
    val fs = new org.apache.hadoop.fs.Path(sfDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    TableNames
      .filter(t => fs.exists(new org.apache.hadoop.fs.Path(s"$sfDir/$t.parquet")))
      .foreach(t => graft.sources.Tables.load(spark, sfDir, t)
        .createOrReplaceTempView(t))
    // per-query isolation: an sfDir missing a table family (the
    // existence filter above shows partial dirs are anticipated input)
    // must not abort registration half-way — the affected views are
    // skipped with a stderr note, everything else binds
    val failed = SparkEntry.queries
      .filter { case (n, _) => only.isEmpty || only(n) }
      .flatMap { case (n, fn) =>
        try { fn(spark, sfDir).createOrReplaceTempView(n); None }
        catch { case e: Exception =>
          System.err.println(s"[graft-views] skipped $n: ${e.getMessage}")
          Some(n)
        }
      }
    if (failed.nonEmpty)
      System.err.println(s"[graft-views] ${failed.size} view(s) not bound " +
        s"for $sfDir: ${failed.toSeq.sorted.mkString(", ")}")
  }
}
