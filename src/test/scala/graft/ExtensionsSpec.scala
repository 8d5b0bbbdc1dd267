package graft

import org.scalatest.funsuite.AnyFunSuite

/** The pure-SQL surface: GraftFunctions.register (same list
  * GraftExtensions injects via spark.sql.extensions) makes every
  * SQL-expressible custom function callable from spark.sql, and the
  * values must equal the DataFrame-API forms. */
class ExtensionsSpec extends AnyFunSuite {

  lazy val spark = Testing.spark

  test("registered SQL functions compute the same values as the Column API") {
    val s = spark.newSession() // fresh registry, shared context
    GraftFunctions.register(s)

    val r = s.sql("""
      SELECT hash32_array(array('a','b')) AS h,
             jaccard_long(array(1L,2L,3L), array(2L,3L,4L)) AS j,
             char_grams_distinct('abcd', 3) AS g,
             simhash16(array(1L,2L)) AS sh,
             dot_seq(array(1.0D,2.0D), array(3.0D,4.0D)) AS d,
             norm2_seq(array(3.0D,4.0D)) AS n
    """).head()
    assert(r.getAs[scala.collection.Seq[Long]]("h").toSeq ===
      Seq(TextHashesRef.md5_32("a"), TextHashesRef.md5_32("b")))
    assert(r.getAs[Double]("j") === 0.5) // |{2,3}| / |{1,2,3,4}|
    assert(r.getAs[scala.collection.Seq[String]]("g").toSeq === Seq("abc", "bcd"))
    assert(r.getAs[Double]("d") === 11.0)
    assert(r.getAs[Double]("n") === 25.0) // squared norm (self dot)

    // PQ functions agree with the Column-API kernels on a tiny vector
    val vec = (1 to 16).map(i => i / 16.0)
    val vecSql = vec.map(x => s"${x}D").mkString("array(", ",", ")")
    val pq = s.sql(s"""
      SELECT pq_encode($vecSql, 2, 4, 8, 7L) AS codes,
             pq_adc_dot($vecSql, pq_encode($vecSql, 2, 4, 8, 7L), 2, 4, 8, 7L) AS adc,
             pq_recon_n2(pq_encode($vecSql, 2, 4, 8, 7L), 2, 4, 8, 7L) AS rn2
    """).head()
    val codes = pq.getAs[scala.collection.Seq[Long]]("codes").toSeq
    assert(codes.length === 2)
    assert(codes.forall(c => c >= 0 && c < 4))
    // reference recompute with the shared codeword function
    val expCodes = (0 until 2).map { m =>
      (0 until 4).minBy { k =>
        (0 until 8).map { d =>
          val x = vec(m * 8 + d) - graft.functions.VectorOps.pqCodeword(7L, 4, 8, m, k, d)
          x * x
        }.sum
      }.toLong
    }
    assert(codes === expCodes)
    val expRn2 = (0 until 2).flatMap(m => (0 until 8).map(d =>
      graft.functions.VectorOps.pqCodeword(7L, 4, 8, m, expCodes(m).toInt, d)))
      .foldLeft(0d)((a, w) => a + w * w)
    assert(math.abs(pq.getAs[Double]("rn2") - expRn2) < 1e-12)

    // FLOAT arrays through the SQL surface (the stored embedding type):
    // reading float-backed ArrayData as double returns stride-garbage, so
    // the kernels must branch on the declared element type
    val f = s.sql("""
      SELECT dot_seq(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>),
                     CAST(array(3.0, 4.0) AS ARRAY<FLOAT>)) AS d,
             norm2_seq(CAST(array(3.0, 4.0) AS ARRAY<FLOAT>)) AS n
    """).head()
    assert(f.getAs[Double]("d") === 11.0)
    assert(f.getAs[Double]("n") === 25.0)

    // top-k aggregate from pure SQL: 2 smallest (v, id) structs per grp
    val rows = s.sql("""
      SELECT grp, top_k_structs(named_struct('v', v, 'id', id), 2) AS top
      FROM VALUES ('a', 3L, 1L), ('a', 1L, 2L), ('a', 2L, 3L), ('b', 9L, 4L)
           AS t(grp, v, id)
      GROUP BY grp ORDER BY grp
    """).collect()
    val a = rows(0).getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("top")
    assert(a.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(rows(1).getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("top").length === 1)

    // the decode function round-trips the byte-exact codec
    val bytes = graft.functions.FlyqCodec.encodeRecord(
      7L, "k".getBytes, "v".getBytes, 123L, null)
    val dec = s.sql(
      s"SELECT flyq_decode_record(X'${bytes.map("%02x".format(_)).mkString}') AS r")
      .select("r.msg_offset", "r.ts_ms").head()
    assert(dec.getLong(0) === 7L)
    assert(dec.getLong(1) === 123L)
  }

  test("round-10 kernels surface in SQL: xxh3, winnow, simhash64, nfc") {
    val s = spark.newSession()
    GraftFunctions.register(s)
    val r = s.sql("""
      SELECT xxh3_64(cast('a' AS binary)) AS h,
             xxh3_partition(cast('a' AS binary), 7L) AS p,
             winnow_fps(array('a','b','c','d','e','f','g','h','i','j','k'), 8, 4) AS w,
             simhash64(array('a','b')) AS sh,
             nfc('é') AS n,
             max_count(array('x', 'x', 'y')) AS mc
    """).head()
    assert(r.getAs[Long]("h") === 0xe6c632b61e964e1fL) // golden vector
    // reference rule (topic.rs:90-93): low32(0xe6c632b61e964e1f) =
    // 0x1e964e1f = 513166879; 513166879 % 7 = 1 (hand-derived literal)
    assert(r.getAs[Long]("p") === 1L)
    // 11 tokens, W=8 → 4 windows → one K=4 selection + distinct
    assert(r.getAs[scala.collection.Seq[String]]("w").nonEmpty)
    assert(r.getAs[org.apache.spark.sql.Row]("sh").length === 2)
    assert(r.getAs[String]("n") === "é") // precomposed é
    assert(r.getAs[Long]("mc") === 2L)
  }

  test("string-array kernels treat null elements as absent instead of " +
      "NPEing on hand-built SQL arrays (r17 data-plane review #2)") {
    val s = spark.newSession()
    GraftFunctions.register(s)
    // each kernel over the same array WITH a null element must equal the
    // kernel over the compacted array — the WinnowFps rule, now uniform
    val r = s.sql("""
      SELECT hash32_array(array('a', CAST(NULL AS STRING), 'b')) AS ha,
             hash32_array(array('a', 'b')) AS ha_ref,
             simhash64(array('a', CAST(NULL AS STRING), 'b')) AS sh,
             simhash64(array('a', 'b')) AS sh_ref,
             word_grams_hashed(array('a', CAST(NULL AS STRING), 'b'), 2) AS wg,
             word_grams_hashed(array('a', 'b'), 2) AS wg_ref,
             max_count(array('x', CAST(NULL AS STRING), 'x')) AS mc,
             repetition_stats(array('a', CAST(NULL AS STRING), 'b', 'a', 'b')) AS rs,
             repetition_stats(array('a', 'b', 'a', 'b')) AS rs_ref
    """).head()
    assert(r.getAs[scala.collection.Seq[Long]]("ha") ===
      r.getAs[scala.collection.Seq[Long]]("ha_ref"))
    assert(r.getAs[org.apache.spark.sql.Row]("sh") ===
      r.getAs[org.apache.spark.sql.Row]("sh_ref"))
    assert(r.getAs[scala.collection.Seq[Long]]("wg") ===
      r.getAs[scala.collection.Seq[Long]]("wg_ref"))
    assert(r.getAs[Long]("mc") === 2L)
    assert(r.getAs[org.apache.spark.sql.Row]("rs") ===
      r.getAs[org.apache.spark.sql.Row]("rs_ref"))
  }

  test("GraftViews: the query library and tables answer pure SQL strings") {
    val s = spark.newSession()
    val sf = "/root/testdata/sf0.001"
    // a subset keeps registration fast; tables always bind
    GraftViews.register(s, sf,
      only = Set("span_dedup", "consumer_lag", "quality_filter"))
    // a library view queried by SQL string
    assert(s.sql("SELECT * FROM span_dedup").count() ===
      s.sql("SELECT count(*) FROM documents").head().getLong(0))
    // views JOIN raw tables — the analyst workflow
    val j = s.sql("""
      SELECT d.doc_id, q.is_kept FROM documents d
      JOIN quality_filter q USING (doc_id)""").count()
    assert(j > 0)
    // broker-semantics view agrees with the DataFrame API
    assert(s.sql("SELECT sum(lag) FROM consumer_lag").head().getLong(0) ===
      graft.operators.BrokerOps.consumerLag(s, sf)
        .agg(org.apache.spark.sql.functions.sum("lag")).head().getLong(0))
    // the registered functions work INSIDE view queries too
    assert(s.sql("""
      SELECT count(*) FROM documents
      WHERE xxh3_partition(cast(cast(doc_id AS string) AS binary), 4L) < 4
    """).head().getLong(0) > 0)
  }

  test("graft.Sql entrypoint: scoped registration, multi-view join, functions") {
    val s = spark.newSession()
    val sf = "/root/testdata/sf0.001"
    // the documented end-user path: one SQL string joining two library
    // views and a raw table, through the same run() the main calls
    val df = graft.Sql.run(s, sf, """
      SELECT d.doc_id, q.is_kept, sp.pass_span
      FROM documents d
      JOIN quality_filter q USING (doc_id)
      JOIN span_dedup sp USING (doc_id)""")
    assert(df.count() ===
      s.sql("SELECT count(*) FROM documents").head().getLong(0))
    // registration was SCOPED to the statement: views named in the SQL
    // bound, the rest of the library did not
    assert(s.catalog.tableExists("quality_filter"))
    assert(s.catalog.tableExists("span_dedup"))
    assert(!s.catalog.tableExists("consumer_lag"))
    // registered SQL functions work through the same entrypoint
    assert(graft.Sql.run(s, sf,
      "SELECT xxh3_partition(cast('orders' AS binary), 7L) AS p")
      .head().getLong(0) === 5L) // hand-derived: low32(xxh3("orders")) % 7
  }

  test("GraftViews: a partial sfDir binds what it can, skips the rest") {
    val s = spark.newSession()
    // a dir with ONLY documents — the embedding family cannot bind
    val dir = java.nio.file.Files.createTempDirectory("graft-views-partial")
    val src = new java.io.File("/root/testdata/sf0.001/documents.parquet")
    val dst = dir.resolve("documents.parquet")
    if (src.isDirectory) {
      java.nio.file.Files.createDirectory(dst)
      src.listFiles().foreach(f => java.nio.file.Files.copy(
        f.toPath, dst.resolve(f.getName)))
    } else java.nio.file.Files.copy(src.toPath, dst)
    GraftViews.register(s, dir.toString,
      only = Set("quality_filter", "embedding_topk"))
    // the doc-family view bound and answers; the embedding view was
    // skipped without aborting registration
    assert(s.sql("SELECT count(*) FROM quality_filter").head().getLong(0) > 0)
    assert(!s.catalog.tableExists("embedding_topk"))
    assert(s.catalog.tableExists("documents"))
  }

  test("a file: URI sfDir: views bind, the artifact cache key follows a " +
      "rewritten input, and build sizing sees its bytes") {
    import graft.operators.Dedup
    // a java.io.File stat of a URI finds no file: every table was
    // skipped, the cache entry never went stale and the input measured
    // 0 bytes
    val s = spark.newSession()
    val dir = java.nio.file.Files.createTempDirectory("graft-views-uri")
    val sfUri = dir.toUri.toString.stripSuffix("/")
    assert(sfUri.startsWith("file:"))
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001",
      "documents").orderBy("doc_id")
    def writeDocs(n: Int): Unit =
      docs.limit(n).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    writeDocs(60)
    def entry(): AnyRef = Artifacts.cached(s, sfUri, "v")(new Object)
    val e0 = entry()
    assert(entry() eq e0)
    assert(Dedup.inputBytes(s, sfUri, "documents") > 0)
    GraftViews.register(s, sfUri, only = Set("quality_filter"))
    assert(s.catalog.tableExists("documents"))
    assert(s.catalog.tableExists("quality_filter"))
    assert(s.sql("SELECT count(*) FROM documents").head().getLong(0) === 60)
    writeDocs(40)
    assert(entry() ne e0, "cache entry kept for a rewritten input")
    Artifacts.clear(s)
  }

  private object TextHashesRef {
    def md5_32(s: String): Long =
      graft.functions.TextHashes.md5_32(s.getBytes("UTF-8"))
  }
}
