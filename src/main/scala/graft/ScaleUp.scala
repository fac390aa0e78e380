package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Optimization-round support tool: materialize a SCALED-UP copy of an
  * sf directory so plan behavior can be measured where the data — not
  * the per-job fixed cost — dominates (the gate SFs are too small to
  * exercise scale behavior: at sf0.1 half the suite runs FASTER at 8
  * cores than 32).
  *
  * documents/embeddings/events are replicated K times with key offsets
  * (doc_id offsets are multiples of 97 so the BM25 seed set scales with
  * the corpus, exactly as its `doc_id % 97` contract intends; each
  * replica's text gets a distinct suffix token so replicas are NEAR
  * duplicates — which is what a dedup workload at scale looks like —
  * rather than exact clones). The TPC-H tables are copied unchanged.
  * This produces a measurement INPUT, not a benchmark record: results
  * on it have no oracle and are only used for plan/scaling evidence
  * (side-record committed with the round notes).
  *
  * Usage: runMain graft.ScaleUp <srcSfDir> <dstDir> <K>
  */
object ScaleUp {
  // doc_id offset ≡ 0 (mod 97) preserves the BM25 seed contract
  private[graft] val DocOffset = 9700000L
  private val VecOffset = 1000000L
  private val EventOffset = 100000000L

  /** `k` copies of `df`, replica i with `idCol` shifted by i·offset
    * and then `tweak`ed. Every source id must sit below `offset`, or
    * two replicas would share ids. */
  private[graft] def replicate(df: DataFrame, idCol: String, offset: Long, k: Int,
      tweak: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame = {
    val top = df.agg(max(col(idCol))).head()
    require(top.isNullAt(0) || top.getAs[Number](0).longValue < offset,
      s"max($idCol) = ${top.get(0)} is not below the replica offset $offset: " +
        "replicas would collide")
    (0 until k).map(i =>
      tweak(df.withColumn(idCol, col(idCol) + lit(i * offset)), i))
      .reduce(_ unionByName _)
  }

  /** documents: replica i > 0 gets a distinct suffix token and its
    * `n_chars` recomputed; replica 0 is the source, unchanged. */
  private[graft] def replicateDocs(docs: DataFrame, k: Int): DataFrame =
    replicate(docs, "doc_id", DocOffset, k, (d, i) =>
      if (i == 0) d
      else d.withColumn("text", concat(col("text"), lit(s" r$i")))
        .withColumn("n_chars", length(col("text")).cast(docs.schema("n_chars").dataType)))

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <srcSfDir> <dstDir> <K>")
    val Array(src, dst, kStr) = args
    val k = kStr.toInt
    require(k >= 1, s"K must be >= 1, got $k")
    val spark = graft.core.Sessions.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))

    def save(df: DataFrame, table: String): Unit =
      df.repartition(32).write.mode("overwrite").parquet(s"$dst/$table.parquet")
    save(replicateDocs(spark.read.parquet(s"$src/documents.parquet"), k), "documents")
    save(replicate(spark.read.parquet(s"$src/embeddings.parquet"), "vec_id",
      VecOffset, k), "embeddings")
    save(replicate(spark.read.parquet(s"$src/events.parquet"), "event_id",
      EventOffset, k), "events")

    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
    println(s"[scaleup] $src -> $dst at K=$k done")
    spark.stop()
  }
}
