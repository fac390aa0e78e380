package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Condition, Store, Tables}
import graft.storage.{CkptLocalScan, HashIndex, HilbertIndex, IndexedStore, RangeIndex, ZOrderIndex, ZOrderNIndex}

/** Layout-index behavior: pruning actually happens, selection follows
  * the estimate heuristic, tombstones and compaction preserve
  * results. */
class StorageSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft_storage_spec").toString + "/store"

  private def numFilesRead(df: DataFrame): Long = {
    df.collect()
    CkptLocalScan.filesRead(df.queryExecution.executedPlan)
  }

  /** Root paths of every file scan in the executed plan, Spark or
    * driver-local, materialized AQE query stages included. */
  private def scanPaths(df: DataFrame): Seq[String] = {
    df.collect()
    CkptLocalScan.scanReads(df.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.toString))
  }

  /** The store's current generation dir per its manifest pointer. */
  private def currentGen(path: String): java.io.File = {
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(
      new java.io.File(path, "_graft_manifest.properties"))
    try p.load(in) finally in.close()
    new java.io.File(path, p.getProperty("current"))
  }

  private def totalDataFiles(path: String): Long = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(path))
      .count(f => f.getName.endsWith(".parquet") && !f.getPath.contains("_graft_tombstones"))
  }

  test("hash layout prunes buckets on equality probe") {
    val path = tmp()
    val store = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
    val probe = IndexedStore.find(spark, path, Seq(Condition.eq("c_mktsegment", "BUILDING")))
    val expected = store.data.filter(col("c_mktsegment") === "BUILDING")
    assert(probe.select("c_custkey").except(expected.select("c_custkey")).count() == 0)
    assert(probe.count() == expected.count())
    val total = totalDataFiles(path)
    val read = numFilesRead(probe)
    assert(read < total, s"no pruning: read $read of $total files")
  }

  test("range layout prunes buckets on between probe") {
    val path = tmp()
    val store = Store.fromData(Tables(spark, sf).lineitem, Seq("l_orderkey", "l_linenumber"))
    IndexedStore.write(store.data, path, RangeIndex("l_quantity", 8))
    val probe = IndexedStore.find(spark, path,
      Seq(Condition.between("l_quantity", 45.0, 50.0)))
    val expected = store.data.filter(col("l_quantity").between(45.0, 50.0))
    assert(probe.count() == expected.count())
    val read = numFilesRead(probe)
    val total = totalDataFiles(path)
    assert(read < total, s"no pruning: read $read of $total files")
  }

  test("range layout serves one-sided probes (Less/Greater)") {
    val path = tmp()
    val store = Store.fromData(Tables(spark, sf).lineitem, Seq("l_orderkey", "l_linenumber"))
    IndexedStore.write(store.data, path, RangeIndex("l_quantity", 8))
    val less = IndexedStore.find(spark, path, Seq(graft.core.Condition("l_quantity",
      graft.core.Comparison.Less(graft.core.Value.of(5.0), orEqual = false))))
    val expectedLess = store.data.filter(col("l_quantity") < 5.0)
    assert(less.count() == expectedLess.count())
    assert(numFilesRead(less) < totalDataFiles(path))
    val greater = IndexedStore.find(spark, path, Seq(graft.core.Condition("l_quantity",
      graft.core.Comparison.Greater(graft.core.Value.of(45.0), orEqual = true))))
    assert(greater.count() == store.data.filter(col("l_quantity") >= 45.0).count())
  }

  test("index selection follows lowest estimate (reference heuristic)") {
    val path = tmp()
    val store = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey"))
    // c_custkey ndv = rows → estimate 1; c_mktsegment ndv 5 → rows/5
    IndexedStore.write(store.data, path, HashIndex("c_custkey", 8),
      statsOnly = Seq(HashIndex("c_mktsegment", 8)))
    val both = Seq(Condition.eq("c_custkey", 7L), Condition.eq("c_mktsegment", "BUILDING"))
    assert(IndexedStore.chooseIndex(path, both).contains("c_custkey"))
    val only = Seq(Condition.eq("c_mktsegment", "BUILDING"))
    assert(IndexedStore.chooseIndex(path, only).contains("c_mktsegment"))
    // column-vs-column comparisons can never use an index (cmp.rs:12-14)
    val colcol = Seq(Condition.eqCol("c_custkey", "c_nationkey"))
    assert(IndexedStore.chooseIndex(path, colcol).isEmpty)
  }

  test("secondary posting index serves probes and survives mutation") {
    val path = tmp()
    val cust = Tables(spark, sf).customer
    val store = Store.fromData(cust.filter(col("c_custkey") <= 100), Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8),
      secondary = Seq(HashIndex("c_nationkey", 8)))
    // ndv(c_nationkey) > ndv(c_mktsegment) → lower estimate → chosen
    val conds = Seq(Condition.eq("c_nationkey", 5),
      Condition.eq("c_mktsegment", "BUILDING"))
    assert(IndexedStore.chooseIndex(path, conds).contains("c_nationkey"))
    val viaIdx = IndexedStore.find(spark, path, Seq(Condition.eq("c_nationkey", 5)))
    val expected = store.data.filter(col("c_nationkey") === 5)
    assert(viaIdx.count() == expected.count())
    // append maintains postings (reference: insert feeds every index)
    val grown = store.insert(cust.filter(col("c_custkey") > 100))
    val batch = grown.data.join(store.data.select("__rowid"), Seq("__rowid"), "left_anti")
    IndexedStore.append(batch, path)
    val afterAppend = IndexedStore.find(spark, path, Seq(Condition.eq("c_nationkey", 5)))
    assert(afterAppend.count() == cust.filter(col("c_nationkey") === 5).count())
    // delete + compact rebuilds postings from survivors
    IndexedStore.delete(spark, path, Seq(Condition.eq("c_nationkey", 5)))
    assert(IndexedStore.find(spark, path, Seq(Condition.eq("c_nationkey", 5))).count() == 0)
    IndexedStore.compact(spark, path)
    assert(IndexedStore.find(spark, path, Seq(Condition.eq("c_nationkey", 5))).count() == 0)
    val others = IndexedStore.find(spark, path, Seq(Condition.eq("c_nationkey", 6)))
    assert(others.count() == cust.filter(col("c_nationkey") === 6).count())
  }

  test("covering index serves projections from postings alone") {
    val path = tmp()
    val cust = Tables(spark, sf).customer
    val store = Store.fromData(cust, Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8),
      secondary = Seq(HashIndex("c_nationkey", 8, include = Seq("c_custkey"))))
    val h = IndexedStore.open(spark, path)
    val conds = Seq(Condition.eq("c_nationkey", 5))
    val proj = Seq("__rowid", "c_custkey", "c_nationkey")
    val covered = h.findCovering(conds, proj)
    // value parity with the base-path probe
    val viaBase = h.find(conds).select(proj.map(col): _*)
    assert(covered.collect().toSet == viaBase.collect().toSet)
    assert(covered.count() > 0, "empty probe result proves nothing")
    // the ONLY files read are this index's posting files — the
    // index-only claim, asserted on the executed plan
    val scans = scanPaths(covered)
    assert(scans.nonEmpty && scans.forall(_.contains("_graft_idx_c_nationkey")),
      s"covering read touched non-posting files: $scans")
    // a projection outside the include list falls back to the base
    // path and still answers correctly
    val fb = h.findCovering(conds, Seq("__rowid", "c_name"))
    assert(scanPaths(fb).exists(!_.contains("_graft_idx_")),
      "fallback read never touched the base files")
    assert(fb.count() == viaBase.count())
    // tombstones exclude rows from covering reads exactly as from base
    IndexedStore.delete(spark, path, conds)
    // an open handle is a SNAPSHOT (its file view resolved from the
    // commit log at open): the pre-delete handle keeps serving the
    // state it opened...
    assert(h.findCovering(conds, proj).count() == viaBase.count(),
      "an open handle must serve its open-time snapshot")
    // ...and a fresh open observes the delete
    assert(IndexedStore.open(spark, path).findCovering(conds, proj).count() == 0,
      "covering read served tombstoned rows")
  }

  test("covering read prefers a covering index over a more selective bare one") {
    val path = tmp()
    val cust = Tables(spark, sf).customer
    val store = Store.fromData(cust, Seq("c_custkey"))
    // c_nationkey has the higher NDV (lower estimate); the covering
    // candidate is the LESS selective c_mktsegment index.
    IndexedStore.write(store.data, path, HashIndex("c_custkey", 8),
      secondary = Seq(
        HashIndex("c_nationkey", 8),
        HashIndex("c_mktsegment", 8, include = Seq("c_custkey", "c_nationkey"))))
    val h = IndexedStore.open(spark, path)
    val conds = Seq(Condition.eq("c_mktsegment", "BUILDING"),
      Condition.eq("c_nationkey", 5))
    // estimate() alone ranks the bare nationkey index first...
    assert(h.chooseIndex(conds).contains("c_nationkey"))
    // ...but the covering probe must route through mktsegment postings
    val covered = h.findCovering(conds, Seq("__rowid", "c_custkey"))
    val scans = scanPaths(covered)
    assert(scans.nonEmpty && scans.forall(_.contains("_graft_idx_c_mktsegment")),
      s"covering read bypassed the covering index: $scans")
    val expected = store.data.filter(
      col("c_mktsegment") === "BUILDING" && col("c_nationkey") === 5)
    assert(covered.count() == expected.count())
  }

  test("re-indexing without includes revokes covering and falls back cleanly") {
    val path = tmp()
    val cust = Tables(spark, sf).customer
    val store = Store.fromData(cust, Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8),
      secondary = Seq(HashIndex("c_nationkey", 8, include = Seq("c_custkey"))))
    // Rebucket the same column WITHOUT includes: the rewritten
    // postings no longer carry c_custkey, and the sidecar must say so.
    IndexedStore.addIndex(spark, path, HashIndex("c_nationkey", 16))
    val h = IndexedStore.open(spark, path)
    val out = h.findCovering(Seq(Condition.eq("c_nationkey", 5)),
      Seq("__rowid", "c_custkey", "c_nationkey"))
    // must FALL BACK to the base path, not crash selecting a posting
    // column that no longer exists
    assert(scanPaths(out).exists(!_.contains("_graft_idx_")),
      "stale include list still advertised covering")
    assert(out.count() ==
      store.data.filter(col("c_nationkey") === 5).count())
  }

  test("addIndex backfills postings on an existing store") {
    val path = tmp()
    val cust = Tables(spark, sf).customer
    val store = Store.fromData(cust, Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
    // before: no index on c_nationkey → probe cannot be served by one
    assert(IndexedStore.chooseIndex(path, Seq(Condition.eq("c_nationkey", 7))).isEmpty)
    IndexedStore.addIndex(spark, path, HashIndex("c_nationkey", 8))
    // after: chosen (ndv(c_nationkey)=25 beats ndv(c_mktsegment)=5),
    // served through backfilled postings, and exactly correct
    assert(IndexedStore.chooseIndex(path,
      Seq(Condition.eq("c_nationkey", 7), Condition.eq("c_mktsegment", "BUILDING")))
      .contains("c_nationkey"))
    val probe = IndexedStore.find(spark, path, Seq(Condition.eq("c_nationkey", 7)))
    assert(probe.count() == cust.filter(col("c_nationkey") === 7).count())
    // the probe reads one posting bucket, not the whole posting index
    // (the posting dir lives inside the current generation)
    def dirExists(f: java.io.File, name: String): Boolean =
      f.getName == name ||
        Option(f.listFiles()).toSeq.flatten.exists(dirExists(_, name))
    assert(dirExists(new java.io.File(path), "_graft_idx_c_nationkey"),
      "backfilled posting dir missing")
    // appends keep feeding the post-hoc index too: a REAL
    // continuation batch (fresh rowids past the store max — the
    // overlap guard rejects anything else) must surface through the
    // backfilled postings
    val more = store.insert(cust.limit(50)).data
      .join(store.data.select(IndexedStore.RowId),
        Seq(IndexedStore.RowId), "left_anti").cache()
    try {
      IndexedStore.append(more, path)
      assert(IndexedStore.find(spark, path, Seq(Condition.eq("c_nationkey", 7))).count() ==
        probe.count() + more.filter(col("c_nationkey") === 7).count())
    } finally more.unpersist(): Unit
  }

  test("manifest pointer swaps generations on compact and sweeps the old one") {
    val path = tmp()
    val store = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
    val root = new java.io.File(path)
    assert(new java.io.File(root, "_graft_manifest.properties").exists,
      "write must publish a manifest pointer")
    assert(new java.io.File(root, "gen-000001").isDirectory)
    IndexedStore.delete(spark, path, Seq(Condition.eq("c_mktsegment", "BUILDING")))
    val before = IndexedStore.find(spark, path, Seq.empty).count()
    IndexedStore.compact(spark, path)
    assert(new java.io.File(root, "gen-000002").isDirectory,
      "compact must build a fresh generation")
    assert(new java.io.File(root, "gen-000001").isDirectory,
      "immediate predecessor must be retained for live open handles")
    assert(IndexedStore.find(spark, path, Seq.empty).count() == before)
    // a second commit reclaims the older generation
    IndexedStore.compact(spark, path)
    assert(new java.io.File(root, "gen-000003").isDirectory)
    assert(!new java.io.File(root, "gen-000001").exists,
      "generation two commits old not swept")
    assert(IndexedStore.find(spark, path, Seq.empty).count() == before)
  }

  test("openAt serves a named historical generation (time travel)") {
    val path = tmp()
    val store = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
    IndexedStore.write(store.data.filter(col("c_mktsegment") =!= "BUILDING"),
      path, HashIndex("c_mktsegment", 8))
    val gens = IndexedStore.generations(path)
    assert(gens == Seq("gen-000001", "gen-000002"))
    // the historical generation still serves the curated-out segment,
    // through the same bucket-pruned index path
    val past = IndexedStore.openAt(spark, path, gens.head)
      .find(Seq(Condition.eq("c_mktsegment", "BUILDING")))
    val expected = store.data.filter(col("c_mktsegment") === "BUILDING").count()
    assert(expected > 0 && past.count() == expected)
    // the current generation (via the pointer) does not
    assert(IndexedStore.open(spark, path)
      .find(Seq(Condition.eq("c_mktsegment", "BUILDING"))).count() == 0)
    // unknown and incomplete generations are rejected loudly
    intercept[IllegalArgumentException](
      IndexedStore.openAt(spark, path, "gen-000042"))
  }

  test("retention policy bounds how many generations commits keep") {
    val path = tmp()
    val store = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
    IndexedStore.setRetention(path, 3)
    (2 to 5).foreach(_ => IndexedStore.compact(spark, path))
    // current gen-000005 + the 3 newest complete predecessors
    assert(IndexedStore.generations(path) ==
      Seq("gen-000002", "gen-000003", "gen-000004", "gen-000005"))
    // dropping the policy back to 1 takes effect at the NEXT sweep
    IndexedStore.setRetention(path, 1)
    IndexedStore.compact(spark, path)
    assert(IndexedStore.generations(path) == Seq("gen-000005", "gen-000006"))
    intercept[IllegalArgumentException](IndexedStore.setRetention(path, 0))
  }

  test("a crashed partial generation never serves reads and is swept") {
    val path = tmp()
    val store = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
    val before = IndexedStore.find(spark, path, Nil).count()
    // Simulate a compact/write that died mid-build: a half-written
    // generation dir exists but the manifest was never repointed.
    val partial = new java.io.File(path, "gen-000099")
    assert(partial.mkdirs())
    java.nio.file.Files.writeString(
      partial.toPath.resolve("garbage.parquet"), "not parquet")
    // Readers resolve the committed pointer — the wreck is invisible.
    assert(currentGen(path).getName == "gen-000001")
    assert(IndexedStore.find(spark, path, Nil).count() == before)
    // The next commit numbers PAST the wreck and sweeps it.
    IndexedStore.compact(spark, path)
    assert(currentGen(path).getName == "gen-000100")
    assert(!partial.exists, "crashed partial generation not swept")
    assert(IndexedStore.find(spark, path, Nil).count() == before)
  }

  test("probe literals hash through the stored column type") {
    val path = tmp()
    val cust = Tables(spark, sf).customer
    val store = Store.fromData(cust, Seq("c_custkey"))
    // c_custkey is BIGINT; probe with an Int literal — a raw
    // hash(lit(5)) would Murmur3 the wrong width and prune to the
    // wrong bucket, silently dropping the row.
    IndexedStore.write(store.data, path, HashIndex("c_custkey", 8),
      secondary = Seq(HashIndex("c_nationkey", 8)))
    val viaPrimary = IndexedStore.find(spark, path, Seq(Condition.eq("c_custkey", 5)))
    assert(viaPrimary.count() == 1, "Int probe against Long hash layout lost the row")
    val viaPosting = IndexedStore.find(spark, path, Seq(Condition.eq("c_nationkey", 5L)))
    assert(viaPosting.count() == cust.filter(col("c_nationkey") === 5).count(),
      "Long probe against Int posting key pruned the wrong bucket")
  }

  test("z-order layout prunes cells for probes on either column") {
    val path = tmp()
    val store = Store.fromData(Tables(spark, sf).lineitem, Seq("l_orderkey", "l_linenumber"))
    IndexedStore.write(store.data, path, ZOrderIndex("l_quantity", "l_extendedprice", 3))
    val total = totalDataFiles(path)
    // probe on column A only
    val onA = IndexedStore.find(spark, path,
      Seq(Condition.between("l_quantity", 5.0, 10.0)))
    assert(onA.count() == store.data.filter(col("l_quantity").between(5.0, 10.0)).count())
    val filesA = numFilesRead(onA)
    assert(filesA < total, "A-only probe read every cell")
    // probe on column B only — a plain range layout on A could not prune this
    val onB = IndexedStore.find(spark, path, Seq(Condition("l_extendedprice",
      graft.core.Comparison.Less(graft.core.Value.of(5000.0), orEqual = false))))
    assert(onB.count() == store.data.filter(col("l_extendedprice") < 5000.0).count())
    val filesB = numFilesRead(onB)
    assert(filesB < total, "B-only probe read every cell")
    // probe on both prunes at least as hard as either alone
    val onBoth = IndexedStore.find(spark, path, Seq(
      Condition.between("l_quantity", 5.0, 10.0),
      Condition("l_extendedprice",
        graft.core.Comparison.Less(graft.core.Value.of(5000.0), orEqual = false))))
    assert(onBoth.count() == store.data.filter(
      col("l_quantity").between(5.0, 10.0) && col("l_extendedprice") < 5000.0).count())
    val filesBoth = numFilesRead(onBoth)
    assert(filesBoth <= math.min(filesA, filesB),
      s"2-d probe ($filesBoth files) read more than 1-d probes ($filesA, $filesB)")
  }

  test("hilbert layout prunes exactly like z-order and returns exact results") {
    val hpath = tmp(); val zpath = tmp()
    val store = Store.fromData(Tables(spark, sf).lineitem, Seq("l_orderkey", "l_linenumber"))
    IndexedStore.write(store.data, hpath, HilbertIndex("l_quantity", "l_extendedprice", 3))
    IndexedStore.write(store.data, zpath, ZOrderIndex("l_quantity", "l_extendedprice", 3))
    val conds = Seq(
      Condition.between("l_quantity", 5.0, 10.0),
      Condition("l_extendedprice",
        graft.core.Comparison.Less(graft.core.Value.of(5000.0), orEqual = false)))
    val h = IndexedStore.find(spark, hpath, conds)
    assert(h.count() == store.data.filter(
      col("l_quantity").between(5.0, 10.0) && col("l_extendedprice") < 5000.0).count())
    val filesH = numFilesRead(h)
    assert(filesH < totalDataFiles(hpath), "hilbert probe read every cell")
    // same quantile grid, same window → the same set of grid cells
    // overlaps; only the cell NUMBERING differs between the curves
    val z = IndexedStore.find(spark, zpath, conds)
    assert(z.count() == h.count())
    assert(numFilesRead(z) == filesH,
      s"hilbert ($filesH files) and z-order (${numFilesRead(z)}) should prune the same cells")
  }

  test("3-column z-order prunes more cells as more dimensions are bounded") {
    val path = tmp()
    val store = Store.fromData(Tables(spark, sf).lineitem, Seq("l_orderkey", "l_linenumber"))
    IndexedStore.write(store.data, path,
      ZOrderNIndex(Seq("l_quantity", "l_extendedprice", "l_discount"), 2))
    val c1 = Seq(Condition.between("l_quantity", 20.0, 35.0))
    val c3 = c1 ++ Seq(
      Condition("l_extendedprice",
        graft.core.Comparison.Less(graft.core.Value.of(25000.0), orEqual = false)),
      Condition("l_discount",
        graft.core.Comparison.Greater(graft.core.Value.of(0.05), orEqual = true)))
    val one = IndexedStore.find(spark, path, c1)
    val three = IndexedStore.find(spark, path, c3)
    assert(three.count() == store.data.filter(
      col("l_quantity").between(20.0, 35.0) &&
        col("l_extendedprice") < 25000.0 && col("l_discount") >= 0.05).count())
    val (f1, f3) = (numFilesRead(one), numFilesRead(three))
    assert(f1 < totalDataFiles(path), "1-d probe read every cell")
    assert(f3 < f1, s"3-d probe ($f3 files) should read fewer cells than 1-d ($f1)")
  }

  test("bloom sidecar prunes buckets and survives append") {
    val path = tmp()
    val cust = Tables(spark, sf).customer
    val store = Store.fromData(cust.filter(col("c_custkey") <= 100), Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8),
      bloom = Seq("c_name"))
    val probe = IndexedStore.find(spark, path,
      Seq(Condition.eq("c_name", "Customer#000000042")))
    assert(probe.count() == 1)
    // a unique key lives in one bucket; the bloom must prune the scan
    // below the full file count (false positives may add a bucket or
    // two, never all of them)
    assert(numFilesRead(probe) < totalDataFiles(path),
      "bloom probe scanned every bucket")
    // a value that is in NO bucket short-circuits to an empty scan
    assert(IndexedStore.find(spark, path,
      Seq(Condition.eq("c_name", "Customer#9999999"))).count() == 0)
    // appended rows are folded into the sidecar
    val grown = store.insert(cust.filter(col("c_custkey") > 100))
    val batch = grown.data.join(store.data.select("__rowid"), Seq("__rowid"), "left_anti")
    IndexedStore.append(batch, path)
    assert(IndexedStore.find(spark, path,
      Seq(Condition.eq("c_name", "Customer#000000142"))).count() ==
      cust.filter(col("c_name") === "Customer#000000142").count())
  }

  test("bloom probe matches across literal/column type mismatch") {
    val path = tmp()
    val cust = Tables(spark, sf).customer
    val store = Store.fromData(cust, Seq("c_custkey"))
    // bloom on a DOUBLE column, probed with an Int literal: the build
    // side hashed Spark's cast-to-string ("774.0"); a probe hashing
    // JVM toString ("774") would be a silent false negative. The
    // Catalyst cast chain (Int → Double → String) must make them meet.
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8),
      bloom = Seq("c_acctbal"))
    val viaInt = IndexedStore.find(spark, path, Seq(Condition.eq("c_acctbal", 774)))
    val expected = cust.filter(col("c_acctbal") === 774.0).count()
    assert(expected > 0, "test fixture lost: no whole-valued acctbal 774")
    assert(viaInt.count() == expected,
      "Int probe of a Double bloom column lost rows (string-form mismatch)")
  }

  test("bloom probe on a timestamp column is timezone-proof") {
    val path = tmp()
    val cust = Tables(spark, sf).customer
      .withColumn("seen_at", timestamp_micros(col("c_custkey") * 1000000L))
    val store = Store.fromData(cust, Seq("c_custkey"))
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      // Build AND probe in a non-UTC session: a session-tz render on
      // the build side with a UTC render on the probe side (or vice
      // versa) hashes different strings → silent false negative.
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8),
        bloom = Seq("seen_at"))
      val instant = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(42))
      val viaTs = IndexedStore.find(spark, path, Seq(Condition.eq("seen_at", instant)))
      assert(viaTs.count() == 1, "Timestamp probe lost the row under non-UTC session tz")
      // A STRING probe must resolve through the session tz, exactly as
      // the post-filter's col === lit(v) will (00:00:42 NY == 04:00:42
      // UTC in January 1970... actually epoch+42s renders in NY as
      // 1969-12-31 19:00:42).
      val viaStr = IndexedStore.find(spark, path,
        Seq(Condition.eq("seen_at", "1969-12-31 19:00:42")))
      assert(viaStr.count() == 1, "String probe lost the row (session-tz resolve broken)")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("z-order probe with an unparseable value degrades to a scan, not a throw") {
    val path = tmp()
    val store = Store.fromData(Tables(spark, sf).lineitem, Seq("l_orderkey", "l_linenumber"))
    IndexedStore.write(store.data, path, ZOrderIndex("l_quantity", "l_extendedprice", 3))
    // a mistyped string probe on a z-order column: find() itself must
    // plan fine (the old probe-side bucketing threw a raw
    // NumberFormatException before the query even ran); what surfaces
    // is Spark's own ANSI cast error from the post-filter at
    // execution — identical to a plain filter on an unindexed table
    val probe = IndexedStore.find(spark, path,
      Seq(Condition.eq("l_quantity", "not-a-number")))
    val ex = intercept[Exception](probe.count())
    assert(ex.getMessage.contains("CAST_INVALID_INPUT"),
      s"expected the engine's cast error, got: ${ex.getMessage.take(200)}")
  }

  test("bucketed co-located join plans without an exchange") {
    val df = graft.operators.StorageOps.scBucketedJoin(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the join itself must not shuffle either bucketed side: the only
    // allowed exchange is the final single-partition orderBy/agg
    val joinIdx = plan.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, s"expected a sort-merge join:\n${plan.take(1500)}")
    val belowJoin = plan.substring(joinIdx)
    assert(!belowJoin.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n${belowJoin.take(1500)}")
    assert(df.count() > 0)
  }

  /** The current generation's sidecar keys that carry the layout and
    * the index declarations. */
  private def declarations(path: String): Map[String, String] = {
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(
      new java.io.File(currentGen(path), "_graft_stats.properties"))
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    p.stringPropertyNames.asScala.toSeq
      .filter(k => k == "layout" || Seq("kind.", "sec.", "inc.", "bloom.").exists(k.startsWith))
      .map(k => k -> p.getProperty(k)).toMap
  }

  /** A small store whose quantiles move when `q < 30` is deleted. */
  private def compactFixture: Store = Store.fromData(spark.range(0, 800).select(
    col("id").as("k"), (col("id") % 97).cast("double").as("q"),
    (col("id") % 367).cast("int").as("d"), (col("id") % 23).as("s"),
    concat(lit("x"), (col("id") % 11).cast("string")).as("x"),
    concat(lit("b"), (col("id") % 31).cast("string")).as("b")), Seq("k"))

  private def ridsOf(df: DataFrame): Seq[Long] =
    df.select(IndexedStore.RowId).collect().map(_.getLong(0)).toSeq.sorted

  test("compact keeps a range store's layout, its declarations and its index choice") {
    val path = tmp()
    val store = compactFixture
    IndexedStore.write(store.data, path, RangeIndex("q", 4),
      statsOnly = Seq(RangeIndex("d", 8)),
      secondary = Seq(HashIndex("s", 4, include = Seq("x"))), bloom = Seq("b"))
    val gone = Condition("q", graft.core.Comparison.Less(graft.core.Value.of(30.0), orEqual = false))
    IndexedStore.delete(spark, path, Seq(gone))
    val model = store.delete(gone)
    val probes = Seq(
      Seq(Condition.between("q", 40.0, 60.0)), Seq(Condition.eq("q", 47.0)),
      Seq(Condition.between("d", 100, 200)), Seq(Condition.eq("s", 7L)),
      Seq(Condition.eq("b", "b3")), Seq(Condition.eq("s", 7L), Condition.between("d", 0, 300)))
    val before = declarations(path)
    val chosen = probes.map(IndexedStore.chooseIndex(path, _))
    assert(chosen.take(4) == Seq(Some("q"), Some("q"), Some("d"), Some("s")))
    IndexedStore.compact(spark, path)
    assert(declarations(path) == before,
      "compact must keep the layout string and every kind/sec/inc/bloom key")
    assert(before("layout").startsWith("range:q:") && before("kind.d") == "range" &&
      before("inc.s") == "x" && before.contains("bloom.b"))
    assert(probes.map(IndexedStore.chooseIndex(path, _)) == chosen)
    val open = IndexedStore.open(spark, path)
    probes.foreach { conds =>
      assert(ridsOf(open.find(conds)) == ridsOf(model.find(conds: _*)), conds)
    }
    assert(ridsOf(open.findCovering(Seq(Condition.eq("s", 7L)), Seq(IndexedStore.RowId, "x"))) ==
      ridsOf(model.find(Condition.eq("s", 7L))))
  }

  test("compact keeps a curve store's cuts and cell numbering") {
    val path = tmp()
    val store = compactFixture
    IndexedStore.write(store.data, path, HilbertIndex("q", "d", 2))
    val gone = Condition("q", graft.core.Comparison.Less(graft.core.Value.of(30.0), orEqual = false))
    IndexedStore.delete(spark, path, Seq(gone))
    val model = store.delete(gone)
    val before = declarations(path)
    IndexedStore.compact(spark, path)
    assert(declarations(path) == before,
      "compact must rewrite into the generation's own cuts, not re-quantile the survivors")
    val open = IndexedStore.open(spark, path)
    Seq(Seq(Condition.between("q", 40.0, 60.0)), Seq(Condition.eq("d", 120)),
        Seq(Condition.between("q", 50.0, 90.0), Condition.between("d", 10, 200)))
      .foreach { conds =>
        assert(IndexedStore.chooseIndex(path, conds).isDefined)
        assert(ridsOf(open.find(conds)) == ridsOf(model.find(conds: _*)), conds)
      }
  }

  test("delete tombstones rows; compact folds them in") {
    val path = tmp()
    val store = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
    val before = IndexedStore.find(spark, path, Nil).count()
    IndexedStore.delete(spark, path, Seq(Condition.eq("c_mktsegment", "BUILDING")))
    val after = IndexedStore.find(spark, path, Nil)
    assert(after.filter(col("c_mktsegment") === "BUILDING").count() == 0)
    val survivors = after.count()
    assert(survivors < before)
    IndexedStore.compact(spark, path)
    assert(IndexedStore.find(spark, path, Nil).count() == survivors)
    // compact must fold tombstones INTO the new generation — probe the
    // CURRENT generation (the retained predecessor still has its own)
    assert(!new java.io.File(currentGen(path), "_graft_tombstones").exists,
      "compacted generation still carries a tombstone dir")
  }

  /** Order-independent fingerprint of a frame's rows: the sorted
    * per-row hashes over the columns in name order. */
  private def rowHashes(df: DataFrame): Seq[Long] =
    df.select(xxhash64(df.columns.sorted.map(col).toSeq: _*))
      .collect().map(_.getLong(0)).sorted.toSeq

  test("a handle serves its snapshot's tombstones through find and findCovering") {
    val path = tmp()
    val cust = Tables(spark, sf).customer
    val first = Store.fromData(cust.filter(col("c_custkey") <= 100), Seq("c_custkey"))
    IndexedStore.write(first.data, path, HashIndex("c_mktsegment", 8),
      secondary = Seq(HashIndex("c_nationkey", 8, include = Seq("c_custkey"))))
    val grown = first.insert(cust.filter(col("c_custkey") > 100 && col("c_custkey") <= 200))
    IndexedStore.append(
      grown.data.join(first.data.select(Store.RowId), Seq(Store.RowId), "left_anti"), path)
    val building = Condition.eq("c_mktsegment", "BUILDING")
    val nation5 = Condition.eq("c_nationkey", 5)
    IndexedStore.delete(spark, path, Seq(building))
    val early = IndexedStore.open(spark, path)
    IndexedStore.delete(spark, path, Seq(nation5))
    val late = IndexedStore.open(spark, path)
    val proj = Seq(Store.RowId, "c_custkey", "c_nationkey")
    def check(h: IndexedStore.OpenStore, model: Store): Unit = {
      assert(rowHashes(h.find(Nil)) == rowHashes(model.data))
      Seq(nation5, Condition.eq("c_nationkey", 6)).foreach { c =>
        assert(rowHashes(h.find(Seq(c))) == rowHashes(model.find(c)))
        assert(rowHashes(h.findCovering(Seq(c), proj)) ==
          rowHashes(model.find(c).select(proj.map(col): _*)))
      }
    }
    val afterFirst = grown.delete(building)
    assert(afterFirst.find(nation5).count() > 0, "the later delete must remove rows")
    // the early handle was opened before the second delete: its
    // rowids stay visible there
    check(early, afterFirst)
    check(late, afterFirst.delete(nation5))
    assert(late.find(Seq(nation5)).count() == 0)
  }

  test("a tombstoned handle reads its tombstones once, not once per probe") {
    val path = tmp()
    val store = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
    IndexedStore.delete(spark, path, Seq(Condition.eq("c_mktsegment", "BUILDING")))
    IndexedStore.delete(spark, path, Seq(Condition.eq("c_nationkey", 3)))
    val h = IndexedStore.open(spark, path)
    val group = s"tombstone-probes-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val segments = Seq("AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "tombstoned probes")
      val counts = segments.map(s =>
        h.find(Seq(Condition.eq("c_mktsegment", s))).collect().length)
      assert(counts.sum > 0, "empty probes prove nothing")
    } finally {
      spark.sparkContext.clearJobGroup()
      org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get() <= segments.size + 1,
      s"${jobs.get()} jobs for ${segments.size} probes: the tombstone set is re-read per probe")
  }

  test("append feeds the existing layout and stays queryable") {
    val path = tmp()
    val cust = Tables(spark, sf).customer
    val store = Store.fromData(cust.filter(col("c_custkey") <= 100), Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
    val grown = store.insert(cust.filter(col("c_custkey") > 100))
    val batch = grown.data.join(store.data.select("__rowid"), Seq("__rowid"), "left_anti")
    IndexedStore.append(batch, path)
    val all = IndexedStore.find(spark, path, Seq(Condition.eq("c_mktsegment", "BUILDING")))
    val expected = cust.filter(col("c_mktsegment") === "BUILDING").count()
    assert(all.count() == expected)
  }

  test("a leased reader survives any number of commits; release frees the generation") {
    val path = tmp()
    val store = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
    val expected = IndexedStore.find(spark, path, Nil).count()
    val leased = IndexedStore.openLeased(spark, path, ttlMillis = 3600000L)
    assert(leased.lease.gen == "gen-000001")
    // three commits: an UNLEASED gen-000001 would be reclaimed by the
    // second (sweep keeps only the immediate predecessor at retain=1)
    (1 to 3).foreach(_ => IndexedStore.compact(spark, path))
    assert(new java.io.File(path, "gen-000001").isDirectory,
      "leased generation was swept")
    assert(leased.find(Nil).count() == expected,
      "leased handle stopped serving its pinned generation")
    // release + next commit reclaims it
    leased.close()
    IndexedStore.compact(spark, path)
    assert(!new java.io.File(path, "gen-000001").exists,
      "released generation not reclaimed by the next sweep")
  }

  test("an expired lease pins nothing — the next sweep reclaims generation and lease") {
    val path = tmp()
    val store = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
    val leased = IndexedStore.openLeased(spark, path, ttlMillis = 1L)
    Thread.sleep(10)
    (1 to 2).foreach(_ => IndexedStore.compact(spark, path))
    assert(!new java.io.File(path, "gen-000001").exists,
      "expired lease still pinned its generation")
    val remaining = Option(new java.io.File(path, "_graft_leases").listFiles())
      .map(_.length).getOrElse(0)
    assert(remaining == 0, "expired lease file not garbage-collected")
    leased.close() // idempotent no-op after GC
  }

  test("a second writer is locked out at commit START while the lock is live") {
    val path = tmp()
    val store = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
    // writer A holds the commit lock...
    val tokenA = IndexedStore.beginCommit(path)
    // ...so writer B cannot even BEGIN (mutual exclusion at acquire
    // time — not hours later at its pointer swap)
    intercept[java.util.ConcurrentModificationException](
      IndexedStore.compact(spark, path))
    assert(currentGen(path).getName == "gen-000001")
    // A aborts (build failed); the lock frees and B's commit proceeds
    IndexedStore.abortCommit(path, tokenA)
    IndexedStore.compact(spark, path)
    assert(currentGen(path).getName == "gen-000002")
    assert(IndexedStore.find(spark, path, Nil).count() > 0)
  }

  test("interleaved writers fail loudly instead of corrupting the manifest chain") {
    val path = tmp()
    val store = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
    // writer A begins a commit with a short lock TTL and stalls past it
    val tokenA = IndexedStore.beginCommit(path, ttlMillis = 1)
    Thread.sleep(5)
    // writer B breaks the expired lock and completes a whole commit
    IndexedStore.compact(spark, path)
    assert(currentGen(path).getName == "gen-000002")
    // A wakes up: its pointer swap must abort loudly — publishing from
    // its stale manifest view would silently drop B's commit. This is
    // the token backstop the lock layer cannot replace (lost-TTL and
    // non-atomic-create filesystems).
    intercept[java.util.ConcurrentModificationException](
      IndexedStore.commitAndSweep(path, "gen-000009", tokenA))
    // the chain is untouched and the store still serves reads
    assert(currentGen(path).getName == "gen-000002")
    assert(IndexedStore.find(spark, path, Nil).count() > 0)
  }

  test("a failed build releases the commit lock for the next writer") {
    val path = tmp()
    val store = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey"))
    IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
    // a write whose build throws must not leave the store locked
    intercept[Exception] {
      IndexedStore.write(store.data.select("__rowid"), path,
        HashIndex("no_such_column", 8))
    }
    IndexedStore.compact(spark, path) // acquires the lock cleanly
    assert(currentGen(path).getName == "gen-000002")
  }

  test("schema-evolved store: gen probes prune files; old rows surface NULLs") {
    import graft.operators.StorageOps
    // first call builds the two-generation store in scratch
    val merged = StorageOps.scSchemaEvolution(spark, sf).cache()
    assert(merged.filter(col("gen") === 1 && col("c_mktsegment").isNotNull).count() == 0,
      "pre-evolution rows must surface NULL for the added column")
    assert(merged.filter(col("gen") === 2 && col("c_mktsegment").isNull).count() == 0,
      "post-evolution rows lost the added column")
    assert(merged.select("gen").distinct().count() == 2)
    // a generation-bounded probe must prune at the partition level:
    // only gen=2 files appear in the scan
    val path = StorageOps.scratch("schemaevo", sf)
    val probe = spark.read.option("mergeSchema", "true").parquet(path)
      .filter(col("gen") === 2)
    val scanned = probe.queryExecution.executedPlan.collectLeaves().flatMap {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.toPartitionArray.map(_.urlEncodedPath).toSeq
      case _ => Nil
    }
    assert(scanned.nonEmpty && scanned.forall(_.contains("gen=2")),
      s"gen probe read outside its generation: ${scanned.filterNot(_.contains("gen=2")).take(3)}")
  }

  test("scratch paths change when the source testdata is rewritten in place") {
    val dir = java.nio.file.Files.createTempDirectory("graft_scratch_fp").toFile
    dir.deleteOnExit()
    val t = new java.io.File(dir, "customer.parquet")
    java.nio.file.Files.write(t.toPath, Array[Byte](1, 2, 3))
    val before = graft.operators.StorageOps.scratch("hash", dir.getPath)
    assert(before == graft.operators.StorageOps.scratch("hash", dir.getPath),
      "same source must yield a stable scratch path")
    // simulate the driver regenerating testdata at the same path
    java.nio.file.Files.write(t.toPath, Array[Byte](1, 2, 3, 4))
    assert(t.setLastModified(t.lastModified() + 2000))
    val after = graft.operators.StorageOps.scratch("hash", dir.getPath)
    assert(after != before,
      "a rewritten source must invalidate the scratch store (its _done marker outlives the data)")
  }

  test("mv rewrite answers from the view's files — the base table is never read") {
    import graft.operators.StorageOps
    val q = StorageOps.qMvRewrite(spark, sf)
    // the rewrite's whole point: inputFiles are the MV sidecar only
    val files = q.inputFiles
    assert(files.nonEmpty)
    assert(files.forall(_.contains("graft_store_v5_mview")),
      s"rewrite read beyond the MV: ${files.filterNot(_.contains("mview")).take(3).mkString(", ")}")
    assert(!files.exists(_.contains("customer.parquet")),
      "rewrite scanned the base table")
    // rollup-from-MV is exact: equals the direct base-table aggregate
    val direct = Tables(spark, sf).customer
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"),
        sum(floor(col("c_acctbal") * 100 + 0.5).cast("long")).as("bal_cents"))
    assert(q.collect().toSet == direct.collect().toSet)
    // a finer rollup (nation level) is answerable from the same view
    val fine = StorageOps.mvRollup(spark, sf, Seq("c_mktsegment", "c_nationkey"))
    val fineDirect = Tables(spark, sf).customer
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("n_rows"),
        sum(floor(col("c_acctbal") * 100 + 0.5).cast("long")).as("bal_cents"))
    assert(fine.collect().toSet == fineDirect.collect().toSet)
    // and a non-answerable key fails loudly instead of silently wrong
    val ex = intercept[IllegalArgumentException] {
      StorageOps.mvRollup(spark, sf, Seq("c_name"))
    }
    assert(ex.getMessage.contains("not answerable"))
  }
}
