package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.core.{Condition, Store, Tables}
import graft.storage.{CkptFileIndex, HashIndex, IndexedStore}

/** The distributed checkpoint read ([[graft.storage.CkptFileIndex]]):
  * driver memory must scale with what a probe READS, not what the
  * store HOLDS. `lastListedFiles` records how many (path, len, mtime)
  * rows the most recent listing collected — a pruned probe must
  * collect its survivors, never the inventory — and both pruning
  * tiers (bucket partition filters, zone data filters) must arrive
  * through Catalyst's own pushdown. Results are pinned identical to
  * the source rows filtered by the same condition. */
class CkptIndexSpec extends SparkSpec {

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_ckptidx_$tag").toString + "/store"

  private def fileIndexOf(df: DataFrame): CkptFileIndex =
    df.queryExecution.optimizedPlan.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _)
          if r.location.isInstanceOf[CkptFileIndex] =>
        r.location.asInstanceOf[CkptFileIndex]
    }.getOrElse(fail("probe is not served by a CkptFileIndex — " +
      "the distributed checkpoint read did not engage"))

  /** Force the DISTRIBUTED tier (threshold 0): these tests pin the
    * huge-inventory behavior — survivors only, evaluated in the scan;
    * the small-inventory driver tier is pinned separately below. */
  private def distributedTier[A](body: => A): A = {
    spark.conf.set("graft.store.ckptFileIndex.collectThreshold", "0")
    try body
    finally spark.conf.unset("graft.store.ckptFileIndex.collectThreshold")
  }

  test("bucket probe plans from survivor rows only — never the collected inventory") {
    distributedTier {
    val path = tmp("bucket")
    val store = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
    val open = IndexedStore.open(spark, path)
    val probe = open.find(Seq(Condition.eq("c_mktsegment", "BUILDING")))
    probe.collect()
    val fi = fileIndexOf(probe)
    val inventory = fi.inputFiles.length.toLong
    val listed = fi.lastListedFiles
    assert(listed >= 0, "listFiles never ran")
    assert(listed == Bench.filesReadOf(probe).toLong,
      "planned file count diverges from files actually read")
    assert(listed < inventory,
      s"bucket pruning did not reach the file index: listed $listed of $inventory")
    // full scan still serves everything (and exactly everything)
    val all = open.find(Nil)
    all.collect()
    assert(fileIndexOf(all).lastListedFiles == inventory)
    }
  }

  test("zone probe outside every band lists zero files distributed") {
    distributedTier {
      val path = tmp("zone")
      graft.operators.StorageOps.buildZoneBands(spark, sf, path)
      def ts(s: String) = java.time.LocalDateTime.parse(s)
      val conds = Seq(Condition.between("l_shipdate",
        ts("2005-01-01T00:00:00"), ts("2006-01-01T00:00:00")))
      val probe = IndexedStore.open(spark, path).find(conds)
      assert(probe.count() == 0)
      assert(fileIndexOf(probe).lastListedFiles == 0L,
        "a provably-empty probe still planned data files")
    }
  }

  test("adaptive tier: small-inventory driver listing ≡ distributed listing") {
    val path = tmp("adaptive")
    val store = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
    val conds = Seq(Condition.eq("c_mktsegment", "AUTOMOBILE"))
    // default threshold: inventory collects once, listing is driver-side
    val viaDriver = IndexedStore.open(spark, path).find(conds)
    val rowsDriver = viaDriver.collect().toSet
    val listedDriver = fileIndexOf(viaDriver).lastListedFiles
    // forced distributed: same survivors, same rows
    val (rowsDist, listedDist) = distributedTier {
      val probe = IndexedStore.open(spark, path).find(conds)
      (probe.collect().toSet, fileIndexOf(probe).lastListedFiles)
    }
    assert(rowsDriver.nonEmpty && rowsDriver == rowsDist)
    assert(listedDriver == listedDist,
      s"tiers planned different file sets: $listedDriver vs $listedDist")
  }

  test("checkpoint-served and collected reads agree row-for-row") {
    val path = tmp("parity")
    val store = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
    val conds = Seq(Condition.eq("c_mktsegment", "MACHINERY"))
    val cols = store.data.columns.toSeq.map(org.apache.spark.sql.functions.col)
    val viaIndex = IndexedStore.find(spark, path, conds).select(cols: _*)
      .collect().toSet
    fileIndexOf(IndexedStore.open(spark, path).find(conds)) // asserts the tier engaged
    val expected = store.data.filter(Condition.all(conds)).select(cols: _*)
      .collect().toSet
    assert(viaIndex.nonEmpty && viaIndex == expected,
      "the checkpoint-served read diverges from the source rows")
  }

  test("inputFiles is bounded — a huge inventory fails loudly, never collects") {
    val path = tmp("inpbound")
    val store = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
    distributedTier {
      val probe = IndexedStore.open(spark, path).find(Nil)
      probe.collect()
      val fi = fileIndexOf(probe)
      // default cap: full diagnostic inventory still served
      assert(fi.inputFiles.length > 1, "multi-file fixture expected")
      // a cap smaller than the inventory must refuse — a silent
      // truncation would corrupt a diagnostic callers treat as exact,
      // and an unbounded collect is the 10⁷-file driver-heap hazard
      spark.conf.set("graft.store.ckptFileIndex.inputFilesMax", "1")
      try {
        val ex = intercept[IllegalStateException] { fi.inputFiles }
        assert(ex.getMessage.contains("inputFilesMax"))
      } finally spark.conf.unset("graft.store.ckptFileIndex.inputFilesMax")
    }
  }

  test("in-generation schema widening is rejected loudly at append time") {
    import org.apache.spark.sql.functions.lit
    val path = tmp("widen")
    val store = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
    // the relation samples ONE leaf footer for its schema, so a
    // widened append would silently DROP its new column on read —
    // the guard must fail the write instead
    val widened = store.data.limit(5).withColumn("extra_col", lit(1))
    val ex = intercept[IllegalArgumentException] {
      IndexedStore.append(widened, path)
    }
    assert(ex.getMessage.contains("schema widening is unsupported") &&
      ex.getMessage.contains("extra_col"), ex.getMessage)
    // narrowing (a dropped column) is the same contract violation
    val narrowed = store.data.limit(5).drop("c_name")
    val ex2 = intercept[IllegalArgumentException] {
      IndexedStore.append(narrowed, path)
    }
    assert(ex2.getMessage.contains("c_name"), ex2.getMessage)
    // a same-NAME column with a changed TYPE would poison half the
    // generation's footers — the guard compares name:type, not names
    val retyped = store.data.limit(5)
      .withColumn("c_acctbal",
        org.apache.spark.sql.functions.col("c_acctbal").cast("string"))
    val ex3 = intercept[IllegalArgumentException] {
      IndexedStore.append(retyped, path)
    }
    assert(ex3.getMessage.contains("c_acctbal"), ex3.getMessage)
  }
}
