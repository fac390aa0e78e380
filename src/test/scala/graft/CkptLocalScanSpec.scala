package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.functions._
import graft.core.{Comparison, Condition, Store, Tables, Value}
import graft.storage.{CkptLocalScan, CkptLocalScanExec, HashIndex, HilbertIndex, IndexedStore, RangeIndex, ZOrderIndex, ZOrderNIndex}

/** The driver-local probe path ([[graft.storage.CkptLocalScan]]): every
  * probe class a small pruned listing serves returns exactly the rows
  * the [[Store]] model holds, through a [[CkptLocalScanExec]] and with
  * no Spark job; above the bound, on the distributed tier and for
  * non-store relations the plan is the usual file scan. Stores are a
  * few hundred to a few thousand rows. */
class CkptLocalScanSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft_local_scan_spec").toString + "/store"

  private def customer = Tables(spark, sf).customer
  private def lineitem = Tables(spark, sf).lineitem.filter(col("l_orderkey") <= 2000)

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p.collectLeaves() ++
    p.collect { case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      leaves(a.executedPlan) }.flatten

  private def localScans(df: DataFrame): Seq[CkptLocalScanExec] =
    leaves(df.queryExecution.executedPlan).collect { case c: CkptLocalScanExec => c }

  private def fileScans(df: DataFrame): Seq[FileSourceScanExec] =
    leaves(df.queryExecution.executedPlan).collect { case f: FileSourceScanExec => f }

  /** Spark jobs `body` starts, counted by a listener on its job group. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val group = s"local-scan-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "local scan probes")
      val a = body
      (a, { org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext); jobs.get() })
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** Rows as sorted strings over the model's columns. */
  private def rows(rs: Seq[Row]): Seq[String] = rs.map(_.mkString("|")).sorted

  /** Builds the probe frame and collects it, asserting the executed
    * plan is one driver-local scan and that no job ran for either
    * step; returns the rows in `cols` order. */
  private def servedLocally(cols: Seq[String])(probe: => DataFrame): Seq[String] = {
    val ((df, out), jobs) = jobsOf {
      val df = probe.select(cols.map(col): _*)
      (df, df.collect().toSeq)
    }
    assert(localScans(df).size == 1 && fileScans(df).isEmpty,
      s"probe not served on the driver:\n${df.queryExecution.executedPlan}")
    assert(jobs == 0, s"$jobs Spark jobs for a driver-local probe")
    rows(out)
  }

  /** A local probe's rows against the model's; the jobs counted cover
    * building the probe frame as well as collecting it. */
  private def parity(h: IndexedStore.OpenStore, model: DataFrame,
      conds: Seq[Condition]): Seq[String] = {
    val cols = model.columns.toSeq
    val got = servedLocally(cols)(h.find(conds))
    assert(got == rows(model.filter(Condition.all(conds)).select(cols.map(col): _*)
      .collect().toSeq), s"local probe diverges from the model for $conds")
    got
  }

  test("hash get, eq ∧ eq and eqCol probes match the model with no job") {
    val path = tmp()
    val store = Store.fromData(customer, Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_custkey", 8),
      secondary = Seq(HashIndex("c_nationkey", 8)))
    val h = IndexedStore.open(spark, path)
    assert(parity(h, store.data, Seq(Condition.eq("c_custkey", 42L))).size == 1)
    // estimate() picks the primary key over the secondary posting
    val and = Seq(Condition.eq("c_custkey", 42L), Condition.eq("c_nationkey",
      store.data.filter(col("c_custkey") === 42L).head().getAs[Any]("c_nationkey")))
    assert(h.chooseIndex(and).contains("c_custkey"))
    assert(parity(h, store.data, and).size == 1)
    // Column-vs-Column conditions stay interpreted post-filters
    val hot = store.data.filter(col("c_custkey") === col("c_nationkey")).select("c_custkey")
      .head().getLong(0)
    assert(parity(h, store.data, Seq(Condition.eq("c_custkey", hot),
      Condition.eqCol("c_custkey", "c_nationkey"))).size == 1)
    // nation keys are below 25, so customer 42's key exceeds its own
    assert(parity(h, store.data, Seq(Condition.eq("c_custkey", 42L),
      Condition("c_custkey", Comparison.Greater(Value.column("c_nationkey"), orEqual = false))))
      .size == 1)
    // an Int literal probing the Long key hashes through the stored type
    assert(parity(h, store.data, Seq(Condition.eq("c_custkey", 42))).size == 1)
    // a key no row holds: the bucket is read, nothing comes back
    assert(parity(h, store.data, Seq(Condition.eq("c_custkey", -7L))).isEmpty)
  }

  test("range-layout equality and between probes match the model with no job") {
    val path = tmp()
    val store = Store.fromData(lineitem, Seq("l_orderkey", "l_linenumber"))
    IndexedStore.write(store.data, path, RangeIndex("l_quantity", 8))
    val h = IndexedStore.open(spark, path)
    assert(parity(h, store.data, Seq(Condition.eq("l_quantity", 17.0))).nonEmpty)
    assert(parity(h, store.data, Seq(Condition.between("l_quantity", 45.0, 47.0))).nonEmpty)
  }

  test("z-order, Hilbert and N-dim z-order probes match the model with no job") {
    val store = Store.fromData(lineitem, Seq("l_orderkey", "l_linenumber"))
    val box = Seq(Condition.between("l_quantity", 5.0, 10.0),
      Condition("l_extendedprice", Comparison.Less(Value.of(8000.0), orEqual = false)))
    Seq(ZOrderIndex("l_quantity", "l_extendedprice", 3),
        HilbertIndex("l_quantity", "l_extendedprice", 3)).foreach { idx =>
      val path = tmp()
      IndexedStore.write(store.data, path, idx)
      assert(parity(IndexedStore.open(spark, path), store.data, box).nonEmpty, s"$idx")
    }
    val path = tmp()
    IndexedStore.write(store.data, path,
      ZOrderNIndex(Seq("l_quantity", "l_extendedprice", "l_discount"), 2))
    assert(parity(IndexedStore.open(spark, path), store.data, box :+
      Condition("l_discount", Comparison.Greater(Value.of(0.05), orEqual = true))).nonEmpty)
  }

  test("a bloom-pruned probe matches the model with no job") {
    val path = tmp()
    val store = Store.fromData(customer, Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8), bloom = Seq("c_name"))
    val h = IndexedStore.open(spark, path)
    val conds = Seq(Condition.eq("c_name", "Customer#000000042"))
    // find() reads the bloom sidecar on the driver and the probe is one
    // local scan over the buckets whose filter passes: no job for either
    assert(parity(h, store.data, conds).size == 1)
    val probe = h.find(conds)
    val files = { probe.collect(); CkptLocalScan.filesRead(probe.queryExecution.executedPlan) }
    assert(files >= 1 && files < 8, s"bloom probe read $files of 8 bucket files")
  }

  test("tombstoned handle and appended-file bucket: the first probe reads the tombstones on the driver") {
    val path = tmp()
    val cust = customer
    val first = Store.fromData(cust.filter(col("c_custkey") <= 100), Seq("c_custkey"))
    IndexedStore.write(first.data, path, HashIndex("c_mktsegment", 8))
    val grown = first.insert(cust.filter(col("c_custkey") > 100))
    IndexedStore.append(grown.data.join(first.data.select(Store.RowId),
      Seq(Store.RowId), "left_anti").coalesce(1), path)
    val gone = Condition("c_custkey", Comparison.Less(Value.of(60L), orEqual = false))
    IndexedStore.delete(spark, path, Seq(gone))
    val model = grown.delete(gone).data
    // a fresh handle: the tombstone set is read inside the first
    // probe's frame construction, counted with it
    val h = IndexedStore.open(spark, path)
    val building = Seq(Condition.eq("c_mktsegment", "BUILDING"))
    val got = parity(h, model, building)
    assert(got.nonEmpty)
    val all = grown.data.filter(Condition.all(building)).count()
    assert(got.size < all, "the delete removed no BUILDING row: tombstones untested")
    // the bucket holds its checkpointed file and the appended one
    val df = h.find(building)
    df.collect()
    assert(CkptLocalScan.filesRead(df.queryExecution.executedPlan) >= 2,
      "the probed bucket read no appended file")
    assert(h.find(building).where(col("c_custkey") > 100).count() > 0,
      "no appended row came back")
  }

  test("a null rowid survives the tombstone filter on the local path") {
    val path = tmp()
    val store = Store.fromData(customer, Seq("c_custkey"))
    val orphan = store.data.filter(col("c_custkey") === 1L)
      .withColumn("c_custkey", lit(100000L))
      .withColumn(Store.RowId, lit(null).cast("long"))
    val data = store.data.unionByName(orphan)
    IndexedStore.write(data, path, HashIndex("c_mktsegment", 8))
    val victims = Condition.eq("c_nationkey", 3)
    IndexedStore.delete(spark, path, Seq(victims))
    val h = IndexedStore.open(spark, path)
    val seg = orphan.head().getAs[String]("c_mktsegment")
    val got = parity(h, data.filter(!Condition.all(Seq(victims)) ||
      col(Store.RowId).isNull), Seq(Condition.eq("c_mktsegment", seg)))
    assert(got.exists(_.contains("100000")), "the null-rowid row was dropped")
  }

  test("parents of a local scan run it through one-partition execution") {
    val path = tmp()
    val store = Store.fromData(customer, Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
    val h = IndexedStore.open(spark, path)
    val conds = Seq(Condition.eq("c_mktsegment", "MACHINERY"))
    val want = store.data.filter(Condition.all(conds)).count()
    assert(want > 2)
    val probe = h.find(conds)
    assert(probe.count() == want)
    assert(localScans(probe.groupBy().count()).size == 1)
    assert(probe.limit(2).collect().length == 2)
    assert(probe.orderBy(Store.RowId).collect().map(_.getAs[Long](Store.RowId)).toSeq ==
      store.data.filter(Condition.all(conds)).orderBy(Store.RowId).collect()
        .map(_.getAs[Long](Store.RowId)).toSeq)
    val explained = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(explained.contains("CkptLocalScan") && explained.contains("MACHINERY"),
      s"the local scan's explain omits its filters:\n$explained")
  }

  test("above the file bound, on the distributed tier and off the store, the plan is a file scan") {
    val path = tmp()
    val store = Store.fromData(customer, Seq("c_custkey"))
    // 32 bucket files: more than a local scan serves
    IndexedStore.write(store.data, path, HashIndex("c_custkey", 32),
      secondary = Seq(HashIndex("c_nationkey", 8)))
    val h = IndexedStore.open(spark, path)
    val full = h.find(Nil)
    assert(full.count() == store.data.count())
    assert(fileScans(full).nonEmpty && localScans(full).isEmpty)
    // the secondary probe's base side lists every bucket
    val sec = h.find(Seq(Condition.eq("c_nationkey", 5)))
    assert(sec.count() == store.data.filter(col("c_nationkey") === 5).count())
    assert(fileScans(sec).nonEmpty && localScans(sec).isEmpty)
    // the same get is local on the driver tier, a file scan distributed
    val get = Seq(Condition.eq("c_custkey", 42L))
    assert(localScans(h.find(get)).size == 1)
    spark.conf.set("graft.store.ckptFileIndex.collectThreshold", "0")
    try {
      val d = IndexedStore.open(spark, path).find(get)
      assert(d.collect().length == 1)
      assert(fileScans(d).nonEmpty && localScans(d).isEmpty)
    } finally spark.conf.unset("graft.store.ckptFileIndex.collectThreshold")
    // a plain parquet read in a session that opened stores
    val plain = spark.read.parquet(s"$sf/customer.parquet").filter(col("c_custkey") === 42L)
    plain.collect()
    assert(fileScans(plain).nonEmpty && localScans(plain).isEmpty)
  }
}
