package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Diagnostic main (round-13 verdict #3): measure the driver union-find
  * vs the distributed min-label fixpoint in [[graft.operators.Dedup
  * .componentsOf]] on the SAME edge sets, and make the local/distributed
  * threshold a measured crossover instead of a guess.
  *
  * Edge sets: the REAL verified-pairs edges of `SPARK_GRAFT_SF_DIR`
  * (what `dedup_components` actually feeds), plus synthetic star-cluster
  * sets (one hub per cluster of ~20, the topology of near-dup copy
  * clusters — diameter 2, so the fixpoint's round count reflects label
  * funnel-in, not pathological chains) at the sizes passed as args.
  *
  * Usage: runMain graft.BenchComponents [nEdges ...]   (default 5M 10M 20M)
  * Prints one JSON line per edge set: local seconds (driver union-find),
  * distributed seconds, answer-equality, component count.
  */
object BenchComponents {

  private def starEdges(spark: SparkSession, nEdges: Long): DataFrame = {
    // clusters of 21 docs: hub = base, 20 members → 20 edges per cluster
    val nClusters = nEdges / 20 + 1
    spark.range(nClusters * 21)
      .select((col("id") / 21).cast("long").as("c"), col("id"))
      .filter(col("id") % 21 =!= 0)
      .select((col("c") * 21).as("doc_a"), col("id").as("doc_b"))
      .limit(if (nEdges > Int.MaxValue) Int.MaxValue else nEdges.toInt)
  }

  private def summarize(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), countDistinct(col("comp")),
      sum(col("comp").bitwiseXOR(col("doc_id")))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS", cpus))
      // the whole point of this tool is timing the DRIVER path at edge
      // counts past the production default — give the collect room
      .config("spark.driver.maxResultSize", "8g")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sizes = if (args.nonEmpty) args.map(_.toLong).toSeq
                else Seq(5000000L, 10000000L, 20000000L)

    def timePath(pairs: DataFrame, nPairs: Long,
                 forceDistributed: Boolean): (Double, (Long, Long, Long)) = {
      spark.conf.set(graft.operators.Dedup.ComponentsLocalEdgeLimitKey,
        if (forceDistributed) "0" else Long.MaxValue.toString)
      spark.conf.set(graft.operators.Dedup.ComponentsLocalVertexLimitKey,
        if (forceDistributed) "0" else Long.MaxValue.toString)
      // Long.MaxValue here is still capped by componentsLocalLimit's
      // maxResultSize/2/20 guard = 8g/40 ≈ 214M edges — above every set
      // this tool times, so the local path really runs local
      val t0 = System.nanoTime()
      val out = graft.operators.Dedup.componentsOf(spark, pairs, nPairs)
      val s = summarize(out)
      ((System.nanoTime() - t0) / 1e9, s)
    }

    def report(label: String, pairs: DataFrame): Unit = {
      val cached = pairs.persist() // both paths read the same input once
      val n = cached.count()
      val (tLocal, sLocal) = timePath(cached, n, forceDistributed = false)
      val (tDist, sDist) = timePath(cached, n, forceDistributed = true)
      cached.unpersist(blocking = false)
      println(s"""{"edge_set":"$label","n_edges":$n,""" +
        s""""local_sec":$tLocal,"distributed_sec":$tDist,""" +
        s""""answers_equal":${sLocal == sDist},""" +
        s""""n_components":${sLocal._2}}""")
    }

    // the real thing first: the edges dedup_components actually consumes
    val real = graft.operators.Dedup.verifiedPairs(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    report(s"verified_pairs@$sfDir", real)
    sizes.foreach(n => report(s"star$n", starEdges(spark, n)))
    Artifacts.clear(spark)
    spark.stop()
  }
}
