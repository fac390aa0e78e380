package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, floor, lit, sum}
import graft.core.{Condition, Store, Tables}
import graft.storage.{HashIndex, HilbertIndex, IndexedStore, RangeIndex, ZOrderIndex, ZOrderNIndex}

/** Driver-contract queries exercising the [[graft.storage.IndexedStore]]
  * layout-index layer: each writes a store into a scratch directory,
  * reads back through the index path, and must return exactly what the
  * plain-SQL oracle computes on the raw table (index = access path,
  * never semantics — the reference's superset + re-filter contract).
  */
object StorageOps {

  private[graft] def scratch(name: String, dir: String): String = {
    val sfTag = dir.replaceAll("[^A-Za-z0-9.]", "_")
    // v-tag: bump when the on-disk store format changes so stale
    // scratch stores from an older layout can never serve a probe.
    // v3: manifest-pointer generations. v4: file-checkpointed commit
    // log (read-through-log stores). v5: checkpoints record
    // __flen/__fmtime, which the CkptFileIndex — the store's only
    // inventory read — plans splits from.
    // Source fingerprint: scratch stores derive from the sf dir's
    // parquet, and the `_done` markers outlive a testdata
    // regeneration at the same path — without this, every sc_* probe
    // would serve the OLD corpus against an oracle reading the new
    // one (the checkpoint-cache recreate bug, one level up). Name:
    // length:mtime of the source files is cheap (one listFiles per
    // call) and changes whenever the driver rewrites testdata.
    val src = Option(new java.io.File(dir).listFiles())
      .map(_.filter(_.getName.endsWith(".parquet"))
        .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
        .sorted.mkString("|"))
      .getOrElse("")
    // Full md5, not String.hashCode: a 32-bit collision between two
    // testdata generations would silently serve a stale store.
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(src.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val stem = s"graft_store_v5_${name}_$sfTag"
    val path = new java.io.File(sys.props("java.io.tmpdir"), s"${stem}_$fp").getPath
    sweepStale(stem, fp)
    path
  }

  /** Delete scratch siblings built from an OLDER testdata generation
    * (same name+sf stem, different source fingerprint) — without this
    * every regeneration leaks a full store + `_done` marker in tmpdir
    * forever. Once per distinct live path per JVM; the sibling match
    * is an exact stem + 1-32-hex-fp (+ optional `_done`) pattern —
    * {1,32} so legacy Integer.toHexString-era leaks (1-8 hex) are
    * reclaimed too, exactness so a prefix-related stem (sf0.01 vs
    * sf0.001) can never be swept. Siblings touched within the last
    * hour are left alone: a CONCURRENT JVM (parallel bench/test runs
    * sharing tmpdir) may be mid-read or mid-build on them, and
    * destroying live state is worse than leaking a stale store for
    * one more hour. */
  private val SweepGraceMs = 60L * 60L * 1000L
  private val sweptStems = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def sweepStale(stem: String, liveFp: String): Unit =
    if (sweptStems.add(s"${stem}_$liveFp")) {
      val re = (java.util.regex.Pattern.quote(stem + "_") +
        "[0-9a-f]{1,32}(_done)?").r
      val cutoff = System.currentTimeMillis() - SweepGraceMs
      Option(new java.io.File(sys.props("java.io.tmpdir")).listFiles())
        .getOrElse(Array.empty)
        .filter(f => re.matches(f.getName) &&
          !f.getName.startsWith(s"${stem}_$liveFp") &&
          f.lastModified() < cutoff)
        .foreach(rmTree)
    }

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(): Unit
  }

  /** Run `build` once per scratch path, guarded by a `_done` marker
    * written only AFTER the whole build — for multi-commit builds
    * where "a store exists" is NOT "the build is done" (a crash
    * mid-sequence leaves a complete-looking store that would serve
    * partial state forever; [[writeOnce]]'s manifest test cannot tell
    * the difference). Rebuilding on top of any partial state must
    * converge — every call site's build sequence is idempotent. */
  private[graft] def buildOnce(path: String)(build: => Unit): Unit = {
    val done = new java.io.File(path + "_done")
    if (!done.exists()) {
      build
      done.createNewFile(): Unit
    }
  }

  /** Run `build` only when `path` has no complete store yet
    * (a committed manifest pointer — the step that publishes a store
    * write; a crashed partial write is rebuilt). This lets [[prepare]] pre-build the stores outside the
    * timed window — the write is a one-time indexing cost, the probe
    * is the recurring query cost, and a benchmark that conflates them
    * measures neither. */
  private def writeOnce(path: String)(build: => Unit): Unit =
    if (!IndexedStore.exists(path)) build

  /** Pre-build every store/table the sc_index_* / sc_bucketed_join
    * queries probe (Bench calls this before timing; Verify doesn't
    * need to — the first query call builds lazily via writeOnce). */
  def prepare(spark: SparkSession, dir: String): Unit = {
    Seq("sc_index_hash", "sc_index_btree", "sc_index_select",
      "sc_index_secondary", "sc_index_covering", "sc_index_add",
      "sc_bloom_probe", "sc_zorder",
      "sc_hilbert", "sc_zorder3", "sc_compacted", "sc_time_travel",
      "sc_gen_diff", "sc_log_read", "sc_zonemap", "sc_bucketed_join",
      "sc_schema_evolution")
      .foreach(q => queries(q)(spark, dir).write.format("noop").mode("overwrite").save())
    // the MV sidecar is a one-time build cost, not probe cost — same
    // rationale as the store fixtures above
    mviewPath(spark, dir): Unit
  }

  /** Equality probe through the hash-bucket layout
    * (HashIndex::lookup, reference idx.rs:41-46). */
  def scIndexHash(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("hash", dir)
    writeOnce(path) {
      val store = Store.fromData(Tables(spark, dir).customer, Seq("c_custkey"))
      IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
    }
    IndexedStore.find(spark, path, Seq(Condition.eq("c_mktsegment", "BUILDING")))
      .select("__rowid", "c_custkey", "c_name", "c_mktsegment")
      .orderBy("__rowid")
  }

  /** Range probe through the sorted range-bucket layout
    * (BTreeIndex::between, reference idx.rs:132-134). */
  def scIndexBtree(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("btree", dir)
    writeOnce(path) {
      val store = Store.fromData(Tables(spark, dir).lineitem, Seq("l_orderkey", "l_linenumber"))
      IndexedStore.write(store.data, path, RangeIndex("l_quantity", 8))
    }
    IndexedStore.find(spark, path,
        Seq(Condition.between("l_quantity", 10.0, 20.0, minIncl = false, maxIncl = true)))
      .select("__rowid", "l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("__rowid")
  }

  /** Estimate-driven index selection (reference lib.rs:98-120): two
    * indexed columns in the conditions, the lower rows/ndv estimate is
    * chosen; results are identical either way. */
  def scIndexSelect(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("select", dir)
    writeOnce(path) {
      val store = Store.fromData(Tables(spark, dir).customer, Seq("c_custkey"))
      IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8),
        statsOnly = Seq(HashIndex("c_nationkey", 8)))
    }
    IndexedStore.find(spark, path, Seq(
        Condition.eq("c_mktsegment", "BUILDING"),
        Condition("c_acctbal", graft.core.Comparison.Greater(graft.core.Value.of(0.0), orEqual = false))))
      .select("__rowid", "c_custkey", "c_acctbal")
      .orderBy("__rowid")
  }

  /** Shuffle-free co-located join: both sides bucketed (and
    * sort-bucketed) on the join key at write time, so the join plans
    * with NO Exchange on either side — at 100 TB this turns the
    * recurring fact-fact shuffle into a one-time write cost. The
    * result (and its oracle) is an ordinary join; the plan shape is
    * asserted in StorageSpec. */
  def scBucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val base = scratch("buckets", dir)
    // Per-sf table names: a globally-named table registered for one
    // scale factor must never serve a query for another.
    val sfTag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val ordersTable = s"g_orders_b_$sfTag"
    val custTable = s"g_customer_b_$sfTag"
    val haveTables = spark.catalog.tableExists(ordersTable) &&
      spark.catalog.tableExists(custTable) &&
      new java.io.File(s"$base/orders_b").exists() &&
      new java.io.File(s"$base/customer_b").exists()
    if (!haveTables) {
      val t = Tables(spark, dir)
      spark.sql(s"DROP TABLE IF EXISTS $ordersTable")
      spark.sql(s"DROP TABLE IF EXISTS $custTable")
      t.orders.write.mode("overwrite")
        .option("path", s"$base/orders_b")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable(ordersTable)
      t.customer.write.mode("overwrite")
        .option("path", s"$base/customer_b")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable(custTable)
    }
    // the merge hint keeps this on the sort-merge path (a broadcast
    // would win on these small test tables and bypass the bucketed
    // layout this query demonstrates)
    spark.table(ordersTable).hint("merge")
      .join(spark.table(custTable),
        org.apache.spark.sql.functions.col("o_custkey") ===
          org.apache.spark.sql.functions.col("c_custkey"))
      .groupBy(org.apache.spark.sql.functions.col("c_mktsegment"))
      .agg(
        graft.functions.Parity.stableRound(
          org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.col("o_totalprice")), 2).as("sum_price"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_orders"))
      .orderBy("c_mktsegment")
  }

  /** Equality probe through a SECONDARY posting index (primary layout
    * on a different column): posting bucket → rowid set → semi-join
    * base. The reference's one-index-per-column surface
    * (lib.rs:195-205) as data files. */
  def scIndexSecondary(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("secondary", dir)
    writeOnce(path) {
      val store = Store.fromData(Tables(spark, dir).customer, Seq("c_custkey"))
      IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8),
        secondary = Seq(HashIndex("c_nationkey", 8)))
    }
    IndexedStore.find(spark, path, Seq(Condition.eq("c_nationkey", 5)))
      .select("__rowid", "c_custkey", "c_nationkey")
      .orderBy("__rowid")
  }

  /** Covering (index-only) probe: the secondary index on c_nationkey
    * CARRIES c_custkey in its posting files, so a probe projecting
    * only (__rowid, c_custkey, c_nationkey) is answered from the
    * postings alone — the base data files are never read (the
    * index-only-scan extension of the reference's one-index-per-column
    * surface, lib.rs:195-205; StorageSpec asserts the plan's only
    * FileScan is the posting directory). */
  def scIndexCovering(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("covering", dir)
    writeOnce(path) {
      val store = Store.fromData(Tables(spark, dir).customer, Seq("c_custkey"))
      IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8),
        secondary = Seq(HashIndex("c_nationkey", 8, include = Seq("c_custkey"))))
    }
    IndexedStore.open(spark, path)
      .findCovering(Seq(Condition.eq("c_nationkey", 9)),
        Seq("__rowid", "c_custkey", "c_nationkey"))
      .orderBy("__rowid")
  }

  /** Post-hoc index creation with backfill (the reference's
    * `Store::index`, lib.rs:195-205 — "my probes on X are slow, index
    * it"): the store is written with NO index on the probe column, the
    * index is added afterwards against the existing rows, and the same
    * probe then runs through the backfilled postings. */
  def scIndexAdd(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("indexadd", dir)
    // The build is two steps (base write, then addIndex), so
    // completeness means "store complete AND the sidecar records the
    // secondary index" — else a crash between the steps would leave a
    // store that looks done but probes through a full scan forever.
    if (!IndexedStore.hasSecondary(path, "c_nationkey")) {
      val store = Store.fromData(Tables(spark, dir).customer, Seq("c_custkey"))
      IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
      IndexedStore.addIndex(spark, path, HashIndex("c_nationkey", 8))
    }
    IndexedStore.find(spark, path, Seq(Condition.eq("c_nationkey", 7)))
      .select("__rowid", "c_custkey", "c_nationkey")
      .orderBy("__rowid")
  }

  /** Source/sink round-trip beyond parquet: the same projection is
    * written to JSON, CSV, and ORC (text row, text tabular, and binary
    * columnar — three distinct codec paths), read back through each
    * source (explicit schema for the schemaless text formats; ORC
    * carries its own), and intersected — any type or value corruption
    * in any format shrinks the intersection and fails the oracle
    * row/hash match against the parquet ground truth. */
  def scSourceRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, md5}
    val base = scratch("roundtrip", dir)
    val d = Tables(spark, dir).documents
      .select(col("doc_id"), col("lang"), col("n_chars"), md5(col("text")).as("text_md5"))
    d.write.mode("overwrite").json(s"$base/json")
    d.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
    d.write.mode("overwrite").orc(s"$base/orc")
    val j = spark.read.schema(d.schema).json(s"$base/json")
    val c = spark.read.schema(d.schema).option("header", "true").csv(s"$base/csv")
    val o = spark.read.orc(s"$base/orc")
    j.intersect(c).intersect(o).orderBy("doc_id")
  }

  /** Schema evolution across store generations: a later batch carries
    * a column the earlier batch predates, and a single merged read
    * serves both — old rows surface NULL for the new column, exactly
    * the add-a-column lifecycle a long-lived table lives through.
    *
    * Spark-native mechanics: the two generations are parquet
    * partition directories (gen=1, gen=2) with different file
    * schemas; `mergeSchema` unions them at read and partition
    * discovery yields the generation provenance column for free.
    * Generation-pruned probes (`WHERE gen = 2`) never open gen-1
    * files. At production scale the merged schema would be pinned
    * once in the store manifest (the IndexedStore discipline) rather
    * than re-derived from footers on every read — footer merging is
    * O(files); the mechanics of serving mixed-schema generations are
    * identical. */
  def scSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val path = scratch("schemaevo", dir)
    buildOnce(path) {
      val c = Tables(spark, dir).customer
      c.filter(col("c_custkey") % 2 === 0)
        .select("c_custkey", "c_name", "c_acctbal")
        .write.mode("overwrite").parquet(s"$path/gen=1")
      c.filter(col("c_custkey") % 2 === 1)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .write.mode("overwrite").parquet(s"$path/gen=2")
    }
    spark.read.option("mergeSchema", "true").parquet(path)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("c_mktsegment"), col("gen").cast("long").as("gen"))
      .orderBy("c_custkey")
  }

  /** Two-dimensional range probe through the Z-order layout: one
    * layout serves range predicates on BOTH columns (a plain range
    * layout serves only its own column) — the classic multi-column
    * locality trade for two-column range workloads. */
  def scZorder(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("zorder", dir)
    writeOnce(path) {
      val store = Store.fromData(Tables(spark, dir).lineitem, Seq("l_orderkey", "l_linenumber"))
      IndexedStore.write(store.data, path, ZOrderIndex("l_quantity", "l_extendedprice", 3))
    }
    IndexedStore.find(spark, path, Seq(
        Condition.between("l_quantity", 10.0, 20.0, minIncl = true, maxIncl = true),
        Condition("l_extendedprice",
          graft.core.Comparison.Less(graft.core.Value.of(20000.0), orEqual = false))))
      .select("__rowid", "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("__rowid")
  }

  /** Two-dimensional range probe through the Hilbert-curve layout:
    * identical grid pruning to sc_zorder (the same cells overlap an
    * axis-aligned window), but cells are numbered along a Hilbert walk,
    * so the candidate set is fewer, longer runs of consecutive cell
    * ids — the locality that matters when cells are ranges of sorted
    * storage rather than directories. */
  def scHilbert(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("hilbert", dir)
    writeOnce(path) {
      val store = Store.fromData(Tables(spark, dir).lineitem, Seq("l_orderkey", "l_linenumber"))
      IndexedStore.write(store.data, path, HilbertIndex("l_quantity", "l_extendedprice", 3))
    }
    IndexedStore.find(spark, path, Seq(
        Condition.between("l_quantity", 15.0, 30.0, minIncl = true, maxIncl = true),
        Condition("l_extendedprice",
          graft.core.Comparison.Greater(graft.core.Value.of(30000.0), orEqual = true))))
      .select("__rowid", "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("__rowid")
  }

  /** Probe a store that went through the full mutation lifecycle:
    * write → tombstone-delete → compact (all once, at build time).
    * The probe reads the compacted generation through the manifest
    * pointer, so this row keeps the delete/compact/manifest path
    * under the driver's DuckDB gate, not just under specs. */
  def scCompacted(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("compacted", dir)
    // Three-commit build ([[buildOnce]] rationale): a fresh write
    // commits a full generation; delete + compact then apply to it.
    buildOnce(path) {
      val store = Store.fromData(Tables(spark, dir).customer, Seq("c_custkey"))
      IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
      IndexedStore.delete(spark, path, Seq(Condition.eq("c_mktsegment", "BUILDING")))
      IndexedStore.compact(spark, path)
    }
    IndexedStore.find(spark, path, Seq(
        Condition("c_acctbal",
          graft.core.Comparison.Greater(graft.core.Value.of(0.0), orEqual = false))))
      .select("__rowid", "c_custkey", "c_mktsegment", "c_acctbal")
      .orderBy("__rowid")
  }

  /** Three-dimensional range probe through the N-column z-order
    * layout: quantity, price, AND discount each bound their dimension,
    * so the probe reads only the cells inside the 3-d hyper-rectangle
    * — a workload that any single-column layout can serve through one
    * column at most. */
  def scZorder3(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("zorder3", dir)
    writeOnce(path) {
      val store = Store.fromData(Tables(spark, dir).lineitem, Seq("l_orderkey", "l_linenumber"))
      IndexedStore.write(store.data, path,
        ZOrderNIndex(Seq("l_quantity", "l_extendedprice", "l_discount"), 2))
    }
    IndexedStore.find(spark, path, Seq(
        Condition.between("l_quantity", 20.0, 35.0, minIncl = true, maxIncl = true),
        Condition("l_extendedprice",
          graft.core.Comparison.Less(graft.core.Value.of(25000.0), orEqual = false)),
        Condition("l_discount",
          graft.core.Comparison.Greater(graft.core.Value.of(0.05), orEqual = true))))
      .select("__rowid", "l_orderkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount")
      .orderBy("__rowid")
  }

  /** Time travel through the manifest: generation 1 is the full
    * customer store, generation 2 a curation rewrite that dropped the
    * BUILDING segment. The commit sweep retains superseded complete
    * generations up to the manifest's retention policy, so the same
    * probe runs against the CURRENT store (through the pointer) and
    * the NAMED historical generation — each a complete store with its
    * own layout, sidecars and index choice as of its commit. The
    * oracle reproduces both versions from the raw table. */
  /** The two-generation fixture store shared by sc_time_travel and
    * sc_gen_diff: v1 = full customer, v2 = a curation rewrite without
    * the BUILDING segment (rowids carry over — v2 is a filter of the
    * same store frame). Returns the store root.
    *
    * Two-commit build, so "a store exists" is not "the build is
    * done": a crash between the writes leaves two committed FULL
    * generations that a generation-count guard would accept forever.
    * The marker lands only after both commits; rebuilding on top of
    * any partial state converges (retain=1 keeps exactly the
    * predecessor, so the last two commits are always [v1, v2]). */
  private def timeTravelStore(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions.col
    val path = scratch("timetravel", dir)
    buildOnce(path) {
      val store = Store.fromData(Tables(spark, dir).customer, Seq("c_custkey"))
      IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
      IndexedStore.write(
        store.data.filter(col("c_mktsegment") =!= "BUILDING"),
        path, HashIndex("c_mktsegment", 8))
    }
    path
  }

  def scTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val path = timeTravelStore(spark, dir)
    val conds = Seq(Condition("c_acctbal",
      graft.core.Comparison.Greater(graft.core.Value.of(0.0), orEqual = false)))
    val past = IndexedStore
      .openAt(spark, path, IndexedStore.generations(path).head)
      .find(conds)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n")).withColumn("gen", lit("v1"))
    val cur = IndexedStore.open(spark, path).find(conds)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n")).withColumn("gen", lit("v2"))
    past.unionByName(cur)
      .select("gen", "c_mktsegment", "n")
      .orderBy("gen", "c_mktsegment")
  }

  /** Generation DIFF — change-data capture between two committed
    * generations of the same store: rowids are stable across commits
    * (the append/rewrite discipline of [[graft.core.Store]]), so rows
    * removed since v1 are `v1 ⟕̸ v2` and rows added are `v2 ⟕̸ v1`,
    * two rowid anti-joins with no content comparison. On the fixture
    * store v2 is a pure curation shrink, so the diff is exactly the
    * rows the rewrite dropped — which is what the oracle recomputes
    * from the raw table. */
  def scGenDiff(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val path = timeTravelStore(spark, dir)
    val rid = IndexedStore.RowId
    val keep = Seq(rid, "c_custkey", "c_mktsegment")
    val past = IndexedStore
      .openAt(spark, path, IndexedStore.generations(path).head)
      .find(Nil).select(keep.head, keep.tail: _*)
    val cur = IndexedStore.open(spark, path)
      .find(Nil).select(keep.head, keep.tail: _*)
    val removed = past.join(cur, Seq(rid), "left_anti")
      .withColumn("change", lit("removed"))
    val added = cur.join(past, Seq(rid), "left_anti")
      .withColumn("change", lit("added"))
    removed.unionByName(added)
      .select((col("change") +: keep.map(col)): _*)
      .orderBy("change", rid)
  }

  /** READ-THROUGH-LOG — the Delta-style "files visible iff logged"
    * discipline made a gate query: the store's full mutation surface
    * (a generation commit, an in-generation append, a tombstone
    * delete) is exercised and then read back through [[IndexedStore
    * .open]], whose file set comes from the commit log (the commit's
    * file checkpoint + the append entry's file names; tombstones from
    * the delete entry) — the data directory is never listed. The
    * result must be the exact net state, which the oracle recomputes
    * from the raw table: base rowids over the non-BUILDING rows, the
    * appended BUILDING run on its continuation rowids, MACHINERY
    * tombstoned out. Scale shape: resolving the view reads ONE
    * checkpoint file + O(mutations) tiny entries regardless of how
    * many data part-files accumulate — the object-store LIST a plain
    * directory read pays is gone, and a crashed (unlogged) mutation
    * is invisible instead of readable-but-unstreamable. */
  def scLogRead(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val path = scratch("logread", dir)
    buildOnce(path) {
      val (base, appended) = graft.streaming.StoreStream.mutationHalves(spark, dir)
      IndexedStore.write(base, path, HashIndex("c_mktsegment", 8))
      IndexedStore.append(appended, path)
      IndexedStore.delete(spark, path, Seq(Condition.eq("c_mktsegment", "MACHINERY")))
    }
    IndexedStore.open(spark, path).find(Nil)
      .select(col(IndexedStore.RowId), col("c_custkey"), col("c_mktsegment"),
        col("c_acctbal"))
      .orderBy(IndexedStore.RowId)
  }

  /** ZONE-MAP file skipping — the Iceberg/Delta data-skipping tier
    * made a gate query: the store's commit checkpoint (and each
    * append's zone sidecar) records per-file min/max bounds of every
    * stats-tracked column, and a range probe prunes FILES inside
    * surviving buckets before any parquet footer opens. The fixture
    * is the canonical case zone maps exist for: a fact table laid out
    * by KEY (hash buckets on l_orderkey — useless for a date probe)
    * receiving TIME-ORDERED appends, so each append's files span a
    * narrow l_shipdate band. The probe asks for one year; every base
    * file and every other append's files are pruned by their bounds
    * (ZoneMapSpec asserts the files-read drop), and the kept files are
    * re-filtered exactly like every other access path — superset +
    * re-filter, results identical with the tier off. At 100 TB this
    * is the difference between opening every footer in the surviving
    * buckets and opening only the time band's. */
  /** Build the banded zone-map fixture at `path`: a key-hashed store
    * over lineitem's (key, quantity, shipdate) slice, base = pre-1995
    * rows, then one TIME-ORDERED append per later shipdate band with
    * continuation rowids — each band's files carry a narrow shipdate
    * zone. Shared by [[scZoneMap]], ZoneMapSpec, and Bench's zoneOps
    * measurement so all three exercise the identical store shape. */
  private[graft] def buildZoneBands(spark: SparkSession, dir: String,
      path: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val rid = IndexedStore.RowId
    val li = Tables(spark, dir).lineitem
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
    def slice(lo: String, hi: String) =
      li.filter(col("l_shipdate") >= lit(lo).cast("timestamp") &&
        col("l_shipdate") < lit(hi).cast("timestamp"))
    val base = Store
      .fromData(slice("1992-01-01", "1995-01-01"), Seq("l_orderkey", "l_linenumber"))
      .data
    IndexedStore.write(base, path, HashIndex("l_orderkey", 8),
      statsOnly = Seq(RangeIndex("l_shipdate", 8)))
    var offset = base.count()
    Seq(("1995-01-01", "1996-01-01"), ("1996-01-01", "1997-01-01"),
        ("1997-01-01", "1999-01-01")).foreach { case (lo, hi) =>
      val batch = Store
        .fromData(slice(lo, hi), Seq("l_orderkey", "l_linenumber"))
        .data.withColumn(rid, col(rid) + offset)
        // one input partition per batch: a time-ordered ingest lands
        // as a handful of files per bucket, not partitions × buckets
        .coalesce(1)
      IndexedStore.append(batch, path)
      offset += batch.count()
    }
  }

  def scZoneMap(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("zonemap", dir)
    val rid = IndexedStore.RowId
    buildOnce(path) { buildZoneBands(spark, dir, path) }
    // LocalDateTime probe: l_shipdate reads back as TIMESTAMP_NTZ
    // (pyarrow timestamp[us]); an NTZ-typed literal keeps both the
    // engine compare and the zone-map bound compare timezone-free
    IndexedStore.find(spark, path, Seq(
        Condition.between("l_shipdate",
          java.time.LocalDateTime.parse("1996-01-01T00:00:00"),
          java.time.LocalDateTime.parse("1997-01-01T00:00:00"),
          minIncl = true, maxIncl = false)))
      .select(rid, "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
      .orderBy(rid)
  }

  /** Equality probe on a column with NO layout/postings, served by the
    * per-bucket Bloom-filter sidecar: the probe consults the tiny
    * sidecar and scans only the buckets whose filter passes (for a
    * unique key: ~1 of 8) — membership pruning where a full index
    * isn't worth its storage. */
  def scBloomProbe(spark: SparkSession, dir: String): DataFrame = {
    val path = scratch("bloom", dir)
    writeOnce(path) {
      val store = Store.fromData(Tables(spark, dir).customer, Seq("c_custkey"))
      IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8),
        bloom = Seq("c_name"))
    }
    IndexedStore.find(spark, path, Seq(Condition.eq("c_name", "Customer#000000042")))
      .select("__rowid", "c_custkey", "c_name")
      .orderBy("__rowid")
  }

  private val custRowid =
    "row_number() OVER (ORDER BY c_custkey) - 1 AS __rowid"
  private val liRowid =
    "row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS __rowid"

  // -------------------------------------------------------- q_mv_rewrite

  /** The materialized-aggregate sidecar: customer pre-aggregated at
    * (c_mktsegment, c_nationkey) granularity with the two
    * self-maintainable aggregates (Gupta & Mumick's IVM class — the
    * same count/cents pair [[graft.streaming.StoreStream.stMview]]
    * maintains off the CDC). Built once per (sf, testdata generation)
    * under the scratch discipline; ~segments×nations rows. */
  private def mviewPath(spark: SparkSession, dir: String): String = {
    val path = scratch("mview", dir)
    buildOnce(path) {
      Tables(spark, dir).customer
        .groupBy(col("c_mktsegment"), col("c_nationkey"))
        .agg(count(lit(1)).as("n_rows"),
          sum(graft.functions.Parity.cents(col("c_acctbal"))).as("bal_cents"))
        .coalesce(1)
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** The rewrite rule: a grouped query whose keys are a SUBSET of the
    * view's dimensions and whose aggregates are self-maintainable
    * (count → Σ n_rows, Σ cents → Σ bal_cents) is answered by
    * RE-AGGREGATING the view — the classic rollup-from-MV rewrite
    * every warehouse optimizer ships. Returns the rolled-up frame;
    * the base table is never touched (spec-asserted on inputFiles). */
  private[graft] def mvRollup(spark: SparkSession, dir: String,
      groupCols: Seq[String]): DataFrame = {
    val dims = Seq("c_mktsegment", "c_nationkey")
    require(groupCols.forall(dims.contains),
      s"query keys ${groupCols.mkString(",")} not answerable from MV dims ${dims.mkString(",")}")
    spark.read.parquet(mviewPath(spark, dir))
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("bal_cents")).as("bal_cents"))
  }

  /** q_mv_rewrite — MATERIALIZED-VIEW query answering, the batch
    * complement of [[graft.streaming.StoreStream.stMview]]'s
    * incremental maintenance: a per-segment count/balance aggregate
    * over customer is answered from the (segment, nation) MV sidecar
    * by re-aggregation — the view's ~125 rows replace a corpus scan.
    * This is the rewrite that makes maintained views PAY at 100 TB:
    * maintenance cost ∝ change volume (st_mview), answer cost ∝ view
    * size, and the base table is read by NEITHER (the spec asserts
    * the plan's inputFiles are the MV files only). The aggregates are
    * integer (count + fixed-point cents — SURVEY §6), so rollup vs
    * direct compute is exact equality and the DuckDB oracle computes
    * straight from customer: the hash-match proves the rewrite
    * answers the query, not an approximation of it. */
  def qMvRewrite(spark: SparkSession, dir: String): DataFrame =
    mvRollup(spark, dir, Seq("c_mktsegment"))
      .orderBy("c_mktsegment")

  val qMvRewriteSql: String =
    s"""SELECT c_mktsegment,
       |  count(*)::BIGINT AS n_rows,
       |  CAST(sum(${graft.functions.Parity.centsSql("c_acctbal")}) AS BIGINT) AS bal_cents
       |FROM customer
       |GROUP BY 1 ORDER BY 1""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mv_rewrite" -> qMvRewrite,
    "sc_index_hash" -> scIndexHash,
    "sc_index_btree" -> scIndexBtree,
    "sc_index_select" -> scIndexSelect,
    "sc_index_secondary" -> scIndexSecondary,
    "sc_index_covering" -> scIndexCovering,
    "sc_index_add" -> scIndexAdd,
    "sc_bloom_probe" -> scBloomProbe,
    "sc_zorder" -> scZorder,
    "sc_hilbert" -> scHilbert,
    "sc_zorder3" -> scZorder3,
    "sc_compacted" -> scCompacted,
    "sc_time_travel" -> scTimeTravel,
    "sc_gen_diff" -> scGenDiff,
    "sc_log_read" -> scLogRead,
    "sc_zonemap" -> scZoneMap,
    "sc_source_roundtrip" -> scSourceRoundtrip,
    "sc_bucketed_join" -> scBucketedJoin,
    "sc_schema_evolution" -> scSchemaEvolution,
  )

  def oracles: Map[String, String] = Map(
    "q_mv_rewrite" -> qMvRewriteSql,
    "sc_index_hash" ->
      s"""SELECT __rowid, c_custkey, c_name, c_mktsegment
         |FROM (SELECT *, $custRowid FROM customer) t
         |WHERE c_mktsegment = 'BUILDING'
         |ORDER BY __rowid""".stripMargin,
    "sc_index_btree" ->
      s"""SELECT __rowid, l_orderkey, l_linenumber, l_quantity
         |FROM (SELECT *, $liRowid FROM lineitem) t
         |WHERE l_quantity > 10.0 AND l_quantity <= 20.0
         |ORDER BY __rowid""".stripMargin,
    "sc_index_select" ->
      s"""SELECT __rowid, c_custkey, c_acctbal
         |FROM (SELECT *, $custRowid FROM customer) t
         |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 0.0
         |ORDER BY __rowid""".stripMargin,
    "sc_index_secondary" ->
      s"""SELECT __rowid, c_custkey, c_nationkey
         |FROM (SELECT *, $custRowid FROM customer) t
         |WHERE c_nationkey = 5
         |ORDER BY __rowid""".stripMargin,
    "sc_index_covering" ->
      s"""SELECT __rowid, c_custkey, c_nationkey
         |FROM (SELECT *, $custRowid FROM customer) t
         |WHERE c_nationkey = 9
         |ORDER BY __rowid""".stripMargin,
    "sc_index_add" ->
      s"""SELECT __rowid, c_custkey, c_nationkey
         |FROM (SELECT *, $custRowid FROM customer) t
         |WHERE c_nationkey = 7
         |ORDER BY __rowid""".stripMargin,
    "sc_source_roundtrip" ->
      """SELECT doc_id, lang, n_chars, md5(text) AS text_md5
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "sc_schema_evolution" ->
      """SELECT c_custkey, c_name, c_acctbal, NULL::VARCHAR AS c_mktsegment, 1::BIGINT AS gen
        |FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal, c_mktsegment, 2::BIGINT AS gen
        |FROM customer WHERE c_custkey % 2 = 1
        |ORDER BY c_custkey""".stripMargin,
    "sc_zorder" ->
      s"""SELECT __rowid, l_orderkey, l_linenumber, l_quantity, l_extendedprice
         |FROM (SELECT *, $liRowid FROM lineitem) t
         |WHERE l_quantity >= 10.0 AND l_quantity <= 20.0 AND l_extendedprice < 20000.0
         |ORDER BY __rowid""".stripMargin,
    "sc_hilbert" ->
      s"""SELECT __rowid, l_orderkey, l_linenumber, l_quantity, l_extendedprice
         |FROM (SELECT *, $liRowid FROM lineitem) t
         |WHERE l_quantity >= 15.0 AND l_quantity <= 30.0 AND l_extendedprice >= 30000.0
         |ORDER BY __rowid""".stripMargin,
    "sc_zorder3" ->
      s"""SELECT __rowid, l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
         |FROM (SELECT *, $liRowid FROM lineitem) t
         |WHERE l_quantity >= 20.0 AND l_quantity <= 35.0
         |  AND l_extendedprice < 25000.0 AND l_discount >= 0.05
         |ORDER BY __rowid""".stripMargin,
    "sc_bloom_probe" ->
      s"""SELECT __rowid, c_custkey, c_name
         |FROM (SELECT *, $custRowid FROM customer) t
         |WHERE c_name = 'Customer#000000042'
         |ORDER BY __rowid""".stripMargin,
    // survivors of the tombstone-delete keep their original rowids
    "sc_compacted" ->
      s"""SELECT __rowid, c_custkey, c_mktsegment, c_acctbal
         |FROM (SELECT *, $custRowid FROM customer) t
         |WHERE NOT (c_mktsegment = 'BUILDING') AND c_acctbal > 0.0
         |ORDER BY __rowid""".stripMargin,
    "sc_time_travel" ->
      """SELECT 'v1' AS gen, c_mktsegment, count(*) AS n
        |FROM customer WHERE c_acctbal > 0.0
        |GROUP BY c_mktsegment
        |UNION ALL
        |SELECT 'v2' AS gen, c_mktsegment, count(*) AS n
        |FROM customer WHERE c_acctbal > 0.0 AND c_mktsegment <> 'BUILDING'
        |GROUP BY c_mktsegment
        |ORDER BY gen, c_mktsegment""".stripMargin,
    // v2 only shrank v1, so the whole diff is 'removed' rows
    "sc_gen_diff" ->
      s"""SELECT 'removed' AS change, __rowid, c_custkey, c_mktsegment
         |FROM (SELECT *, $custRowid FROM customer) t
         |WHERE c_mktsegment = 'BUILDING'
         |ORDER BY change, __rowid""".stripMargin,
    // the net state after write(sans BUILDING) + append(BUILDING,
    // continuation rowids — the Store.insert numbering) +
    // delete(MACHINERY), as the log-gated read must serve it
    "sc_log_read" ->
      """WITH nb AS (SELECT c_custkey, c_mktsegment, c_acctbal,
        |    row_number() OVER (ORDER BY c_custkey) - 1 AS __rowid
        |  FROM customer WHERE c_mktsegment <> 'BUILDING'),
        | b AS (SELECT c_custkey, c_mktsegment, c_acctbal,
        |    (SELECT count(*) FROM nb) + row_number() OVER (ORDER BY c_custkey) - 1 AS __rowid
        |  FROM customer WHERE c_mktsegment = 'BUILDING')
        |SELECT __rowid, c_custkey, c_mktsegment, c_acctbal
        |FROM (SELECT * FROM nb UNION ALL SELECT * FROM b) t
        |WHERE c_mktsegment <> 'MACHINERY'
        |ORDER BY __rowid""".stripMargin,
    // the store is built as base (1992-94, rowids by orderkey/
    // linenumber) + one time-ordered append per later band, so the
    // 1996 band's rowids continue after every earlier row — zone maps
    // are an access path and must not change what comes back
    "sc_zonemap" ->
      """SELECT (SELECT count(*) FROM lineitem
        |        WHERE l_shipdate < TIMESTAMP '1996-01-01 00:00:00')
        |    + row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS __rowid,
        |  l_orderkey, l_linenumber, l_quantity, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |ORDER BY __rowid""".stripMargin,
    "sc_bucketed_join" ->
      """SELECT c_mktsegment, floor((sum(o_totalprice)) * 1e2 + 0.5) / 1e2 AS sum_price,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
  )
}
