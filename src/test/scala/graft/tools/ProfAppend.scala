package graft.operators
package tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{Store, Tables}
import graft.storage.{HashIndex, IndexedStore}

/** Dev-only profiler for the store append path (test scope). Run:
  *   sbt "Test/runMain graft.operators.tools.ProfAppend <sfDir>"
  */
object ProfAppend {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[prof] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val base = new java.io.File(sys.props("java.io.tmpdir"), "graft_prof_append").getPath
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(): Unit
    }
    rmrf(new java.io.File(base))
    val li = Tables(spark, dir).lineitem
    val store = Store.fromData(li, Seq("l_orderkey", "l_linenumber"))
    val data = store.data
      .orderBy(hash(col(IndexedStore.RowId))).cache()
    val rows = data.count()
    val idxPath = s"$base/indexed"
    t("write (index build)")(IndexedStore.write(data, idxPath, HashIndex("l_orderkey", 64)))
    val batch = data.limit((rows / 5).toInt.max(1))
    val batchRows = batch.count()
    val renumbered = Store
      .fromData(batch.drop(IndexedStore.RowId), Seq("l_orderkey", "l_linenumber"))
      .data.withColumn(IndexedStore.RowId, col(IndexedStore.RowId) + rows)
    val batches = (0 until 5).map(i => renumbered
      .withColumn(IndexedStore.RowId, col(IndexedStore.RowId) + i * batchRows)
      .coalesce(1)
      .localCheckpoint(false))
    batches.foreach(_.count(): Unit)
    // phase timing of the pieces append runs
    val b0 = batches(0)
    t("stats agg on batch")(b0.agg(count(lit(1)), min(col(IndexedStore.RowId)),
      max(col(IndexedStore.RowId))).head())
    val genPath = {
      val fs = new org.apache.hadoop.fs.Path(idxPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // list the gen dir like listDataFiles does
      val root = fs.listStatus(new org.apache.hadoop.fs.Path(idxPath))
        .map(_.getPath.getName).filter(_.startsWith("gen-")).max
      s"$idxPath/$root"
    }
    t("recursive listFiles of gen dir") {
      val fs = new org.apache.hadoop.fs.Path(genPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(genPath), true)
      var n = 0
      while (it.hasNext) { it.next(); n += 1 }
      println(s"[prof]   files: $n")
    }
    batches.zipWithIndex.foreach { case (b, i) =>
      t(s"append $i")(IndexedStore.append(b, idxPath))
    }
    t("open (log-gated)")(IndexedStore.open(spark, idxPath))
    def probes(label: String): Unit = {
      val open = IndexedStore.open(spark, idxPath)
      t(label) {
        (1 to 20).foreach { k =>
          open.find(Seq(graft.core.Condition.eq("l_orderkey", k.toLong * 1000 + 1)))
            .collect(): Unit
        }
      }
    }
    probes("20 probes (log-gated)")
    probes("20 probes (log-gated, 2nd)")
    // isolate planning vs execution on the raw relations
    val genPath2 = genPath
    val fs2 = new java.io.File(new java.net.URI(
      "file:" + genPath2).getPath)
    def walk2(d: java.io.File): Seq[String] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) walk2(f) else Seq(f.getPath))
    val files = walk2(fs2).filter(p => p.contains("/__bucket=") &&
      p.endsWith(".parquet"))
    println(s"[prof] relation files: ${files.length}")
    val viaList = spark.read.option("basePath", genPath2).parquet(files: _*)
    val viaDir = spark.read.parquet(genPath2)
    def probeRaw(label: String, df: org.apache.spark.sql.DataFrame): Unit =
      t(label) {
        (1 to 20).foreach { k =>
          df.filter(col("__bucket") === pmod(hash(lit(k.toLong * 1000 + 1)), lit(64)))
            .filter(col("l_orderkey") === (k.toLong * 1000 + 1)).collect(): Unit
        }
      }
    probeRaw("raw probes explicit-files", viaList)
    probeRaw("raw probes directory", viaDir)
    probeRaw("raw probes explicit-files 2nd", viaList)
    probeRaw("raw probes directory 2nd", viaDir)
    spark.stop()
  }
}
