package graft

import org.apache.spark.sql.functions.col
import graft.core.{Condition, Store, Tables}
import graft.storage.{HashIndex, IndexedStore, RangeIndex}
import graft.streaming.StoreStream

/** Read-through-log: a store reader's file set comes from the commit
  * log (the commit's file checkpoint + logged mutation entries), not
  * a data-directory listing — so a file is visible IFF its log entry
  * published, the same entry-iff-committed discipline the CDC stream
  * already pins, now extended to batch reads. These tests pin the
  * "iff" in both directions (an unlogged append is INVISIBLE until
  * its catch-up entry heals it; an unlogged delete does not hide
  * rows), the exact file inventory (via `inputFiles`), the
  * log-vs-listing equivalence on a store with a long mutation tail,
  * and a commit that crashed between its pointer swap and its entry. */
class LogViewSpec extends SparkSpec {

  private def freshRoot(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_logview_$tag")
    d.toFile.deleteOnExit()
    d.resolve("store").toString
  }

  private def rids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select(IndexedStore.RowId).collect().map(_.getLong(0)).toSet

  private def logDir(path: String) = new java.io.File(s"$path/_graft_log")

  test("an unlogged (crashed) append is invisible until its catch-up entry heals it") {
    val path = freshRoot("crashapp")
    val (base, appended0) = StoreStream.mutationHalves(spark, sf)
    val appended = appended0.cache()
    try {
      IndexedStore.write(base, path, HashIndex("c_mktsegment", 4))
      IndexedStore.append(appended, path)
      // simulate the crash window: the append's data landed but its
      // log entry never published
      logDir(path).listFiles().filter(_.getName.contains("-append-"))
        .foreach(f => assert(f.delete()))
      val baseRids = rids(base.select(IndexedStore.RowId))
      val appRids = rids(appended.select(IndexedStore.RowId))
      assert(rids(IndexedStore.open(spark, path).find(Nil)) == baseRids,
        "a log-gated reader must NOT see the unlogged append's rows")
      // the next commit's reconcile publishes the catch-up entry...
      IndexedStore.compact(spark, path)
      // ...so readers and CDC converge on the healed state
      assert(rids(IndexedStore.open(spark, path).find(Nil)) == baseRids ++ appRids,
        "after the reconcile the appended rows are visible again")
    } finally appended.unpersist(): Unit
  }

  test("an unlogged (crashed) delete does not hide rows; the reconcile applies it") {
    val path = freshRoot("crashdel")
    val data = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey")).data
    IndexedStore.write(data, path, HashIndex("c_mktsegment", 4))
    val all = rids(IndexedStore.open(spark, path).find(Nil))
    IndexedStore.delete(spark, path, Seq(Condition.eq("c_mktsegment", "MACHINERY")))
    val machinery = rids(data.filter(col("c_mktsegment") === "MACHINERY"))
    assert(rids(IndexedStore.open(spark, path).find(Nil)) == all -- machinery)
    // crash window: tombstones landed, entry lost
    logDir(path).listFiles().filter(_.getName.contains("-delete-"))
      .foreach(f => assert(f.delete()))
    assert(rids(IndexedStore.open(spark, path).find(Nil)) == all,
      "tombstones apply IFF logged — an unlogged delete must not hide rows")
    // any later mutation's reconcile (here: another delete) heals it
    IndexedStore.delete(spark, path, Seq(Condition.eq("c_mktsegment", "FURNITURE")))
    val furniture = rids(data.filter(col("c_mktsegment") === "FURNITURE"))
    assert(rids(IndexedStore.open(spark, path).find(Nil)) ==
      all -- machinery -- furniture,
      "the reconcile republishes the orphaned tombstone files")
  }

  test("a re-numbered retry after a crashed append never double-serves rowids") {
    // the recovery flow read-through-log creates: an append's files
    // land, its entry is lost, and the recovering writer re-numbers
    // its retry off the log's high-water mark — writing the SAME
    // rowids again. The crashed copy must stay invisible, and the
    // next commit's reconcile must sweep it as debris (publishing it
    // would double-serve the range to readers and the CDC) rather
    // than catch it up.
    val path = freshRoot("retry")
    val (base, appended0) = StoreStream.mutationHalves(spark, sf)
    val appended = appended0.cache()
    try {
      IndexedStore.write(base, path, HashIndex("c_mktsegment", 4))
      IndexedStore.append(appended, path)
      logDir(path).listFiles().filter(_.getName.contains("-append-"))
        .foreach(f => assert(f.delete()))
      IndexedStore.append(appended, path) // the retry, same rowids
      val want = rids(base) ++ rids(appended)
      def allRids() = IndexedStore.open(spark, path).find(Nil)
        .select(IndexedStore.RowId).collect().map(_.getLong(0)).toSeq
      val got = allRids()
      assert(got.toSet == want && got.length == want.size,
        "the crashed duplicate copy leaked into a log-gated read")
      IndexedStore.compact(spark, path)
      val healed = allRids()
      assert(healed.toSet == want && healed.length == want.size,
        "the reconcile published or resurrected the duplicate copy " +
          "instead of sweeping it as debris")
    } finally appended.unpersist(): Unit
  }

  test("an empty-committed generation stays empty when unlogged files land") {
    // the visible-iff-logged contract in the empty corner: the
    // checkpoint lists zero files, so a crashed (unlogged) append's
    // parquet in the directory must NOT surface through the reader's
    // schema-only fallback
    val path = freshRoot("emptygen")
    val cust = Tables(spark, sf).customer
    val empty = Store.fromData(cust.filter(col("c_custkey") < 0), Seq("c_custkey")).data
    IndexedStore.write(empty, path, HashIndex("c_mktsegment", 4))
    val batch = Store.fromData(cust, Seq("c_custkey")).data
    IndexedStore.append(batch, path)
    logDir(path).listFiles().filter(_.getName.contains("-append-"))
      .foreach(f => assert(f.delete()))
    assert(IndexedStore.open(spark, path).find(Nil).count() == 0,
      "unlogged files surfaced through the empty-generation read")
    // the commit-time heal makes them visible (min rowid past the
    // empty generation's covered mark of -1 → a catch-up, not debris)
    IndexedStore.compact(spark, path)
    assert(rids(IndexedStore.open(spark, path).find(Nil)) == rids(batch),
      "the reconcile failed to catch up the crashed append")
  }

  test("an empty generation opens from its recorded schema and compacts") {
    val cust = Tables(spark, sf).customer
    val empty = Store.fromData(cust.filter(col("c_custkey") < 0), Seq("c_custkey")).data
    val want = empty.schema.map(f => (f.name, f.dataType))
    Seq(HashIndex("c_mktsegment", 4), RangeIndex("c_acctbal", 4)).foreach { spec =>
      val path = freshRoot("emptyopen")
      IndexedStore.write(empty, path, spec)
      val probe = IndexedStore.open(spark, path)
        .find(Seq(Condition.between("c_acctbal", 0.0, 100.0)))
      assert(probe.count() == 0)
      assert(probe.schema.map(f => (f.name, f.dataType)) == want, spec)
      IndexedStore.compact(spark, path)
      val after = IndexedStore.open(spark, path).find(Nil)
      assert(after.count() == 0)
      assert(after.schema.map(f => (f.name, f.dataType)) == want, spec)
    }
  }

  test("addIndex backfills from the log-gated view, not from unlogged debris") {
    val path = freshRoot("addidx")
    val store = Store.fromData(spark.range(0, 300)
      .select(col("id").as("k"), (col("id") % 7).as("v")), Seq("k"))
    IndexedStore.write(store.data, path, HashIndex("k", 4))
    // debris: an unlogged copy of a committed bucket file, as a crashed
    // writer's retry can leave — no checkpoint or log entry names it
    val genDir = new java.io.File(path, IndexedStore.generations(path).last)
    val bucket = genDir.listFiles().filter(_.getName.startsWith("__bucket=")).minBy(_.getName)
    val part = bucket.listFiles().filter(f => f.getName.startsWith("part-")).minBy(_.getName)
    java.nio.file.Files.copy(part.toPath, new java.io.File(bucket, "part-99999-debris.parquet").toPath)
    IndexedStore.addIndex(spark, path, HashIndex("v", 4, include = Seq("k")))
    val open = IndexedStore.open(spark, path)
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select(IndexedStore.RowId).collect().map(_.getLong(0)).toSeq.sorted
    (0L until 7L).foreach { v =>
      val conds = Seq(Condition.eq("v", v))
      val model = sorted(store.find(conds: _*))
      assert(sorted(open.find(conds)) == model, s"find, v = $v")
      assert(sorted(open.findCovering(conds, Seq(IndexedStore.RowId, "k"))) == model,
        s"findCovering served the debris copy's rows, v = $v")
    }
  }

  test("the reader's file inventory is exactly checkpoint + logged appends") {
    val path = freshRoot("inventory")
    val (base, appended) = StoreStream.mutationHalves(spark, sf)
    IndexedStore.write(base, path, HashIndex("c_mktsegment", 4))
    IndexedStore.append(appended, path)
    val gen = IndexedStore.generations(path).last
    val genDir = new java.io.File(s"$path/$gen")
    // ground truth: every data part-file physically under the gen dir
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val physical = walk(genDir)
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .filter(_.getPath.contains("/__bucket="))
      .map(_.getCanonicalPath).toSet
    val read = IndexedStore.open(spark, path).find(Nil).inputFiles
      .map(p => new java.io.File(new java.net.URI(p).getPath).getCanonicalPath)
      .toSet
    assert(read == physical,
      "log-resolved inventory diverged from the physical data files")
  }

  test("log-gated and listing reads agree after a long mutation tail (and the gated open never lists data files)") {
    // the §16-3 measuring fixture: many small appends → many part
    // files and log entries. The gated read must serve exactly the
    // written rowids — the same state a raw listing of the generation
    // directory holds — while resolving its inventory from ONE
    // checkpoint + the entries instead of a recursive directory LIST
    // (at object-store scale the listing is the dominating metadata
    // cost; locally we record the wall ratio informationally).
    val path = freshRoot("tail")
    val data = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey")).data.cache()
    try {
      val n = data.count()
      IndexedStore.write(data, path, HashIndex("c_mktsegment", 4))
      val batches = 12
      (0 until batches).foreach { i =>
        val b = data.limit(10).drop(IndexedStore.RowId)
        val renum = Store.fromData(b, Seq("c_custkey")).data
          .withColumn(IndexedStore.RowId, col(IndexedStore.RowId) + (n + 10L * i))
          .coalesce(1)
        IndexedStore.append(renum, path)
      }
      val want = rids(data) ++ (n until n + 10L * batches)
      def timedRids(read: => org.apache.spark.sql.DataFrame): (Seq[Long], Double) = {
        val t = System.nanoTime()
        val r = read.select(IndexedStore.RowId).collect().map(_.getLong(0)).toSeq
        (r, (System.nanoTime() - t) / 1e9)
      }
      val (gated, tGated) = timedRids(IndexedStore.open(spark, path).find(Nil))
      val (listed, tListed) = timedRids(
        spark.read.parquet(s"$path/${IndexedStore.generations(path).last}"))
      assert(gated.length == want.size && gated.toSet == want,
        "the gated read must serve exactly the written rowids, once each")
      assert(listed.sorted == gated.sorted,
        "the gated read and a raw directory listing must hold the same state")
      info(f"read with ${batches + 1} mutations: " +
        f"log-gated open+collect $tGated%.2fs vs raw listing $tListed%.2fs")
    } finally data.unpersist(): Unit
  }

  test("a commit that crashed between pointer swap and entry stays readable; the next append republishes the entry") {
    // commitAndSweep writes the checkpoint BEFORE the pointer swap and
    // the commit entry AFTER it: a crash in between leaves a current
    // generation without its entry. The reader must serve it from the
    // checkpoint alone, and the next mutation must publish the missing
    // entry (once) before its own.
    val path = freshRoot("swapcrash")
    val (base, appended0) = StoreStream.mutationHalves(spark, sf)
    val appended = appended0.cache()
    try {
      IndexedStore.write(base, path, HashIndex("c_mktsegment", 4))
      IndexedStore.delete(spark, path, Seq(Condition.eq("c_mktsegment", "MACHINERY")))
      IndexedStore.compact(spark, path)
      val Seq(prev, gen) = IndexedStore.generations(path)
      assert(new java.io.File(logDir(path), s"$gen.json").delete())
      val compacted = base.filter(col("c_mktsegment") =!= "MACHINERY")
        .select(IndexedStore.RowId).collect().map(_.getLong(0)).toSeq.sorted
      def served() = IndexedStore.open(spark, path).find(Nil)
        .select(IndexedStore.RowId).collect().map(_.getLong(0)).toSeq.sorted
      assert(served() == compacted,
        "the entry-less generation must serve exactly the compacted rowids")
      IndexedStore.append(appended, path)
      val entries = StoreStream.logEntries(spark, path).filter(_.gen == gen)
      val commits = entries.filter(_.kind == "commit")
      assert(commits.length == 1 && commits.head.prev.contains(prev),
        s"the append must republish $gen's commit entry once, prev $prev: $commits")
      val appRids = appended.select(IndexedStore.RowId).collect().map(_.getLong(0))
      assert(entries.exists(e => e.kind == "append" &&
          e.lo.contains(appRids.min) && e.hi.contains(appRids.max)),
        s"the append must log its own entry after the commit entry: $entries")
      assert(served() == (compacted ++ appRids).sorted,
        "a fresh open must see the appended rows through the log")
    } finally appended.unpersist(): Unit
  }

  test("sc_log_read matches an independent recompute of the net state") {
    val got = graft.operators.StorageOps.scLogRead(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val cust = Tables(spark, sf).customer
    val (base, appended) = StoreStream.mutationHalves(spark, sf)
    val expect = (base.collect() ++ appended.collect())
      .map(r => (r.getAs[Long](IndexedStore.RowId), r.getAs[Long]("c_custkey"),
        r.getAs[String]("c_mktsegment")))
      .filter(_._3 != "MACHINERY").sortBy(_._1)
    assert(got.toSeq == expect.toSeq)
    assert(got.length < cust.count(), "the delete removed something")
  }

  test("a store recreated at the same path is never served the dead store's checkpoint") {
    // the point-ops bench regression: run N+1 deletes and rebuilds the
    // scratch store at one path, reusing gen-000001 — a path-keyed
    // checkpoint cache then hands readers the deleted file inventory
    // (PATH_NOT_FOUND on first collect)
    val path = freshRoot("recreate")
    val cust = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey")).data
    val a = cust.filter(col("c_mktsegment") =!= "BUILDING")
    val b = cust.filter(col("c_mktsegment") === "BUILDING")
    IndexedStore.write(a, path, HashIndex("c_mktsegment", 4))
    assert(rids(IndexedStore.open(spark, path).find(Nil)) == rids(a),
      "first store must read back its own rows")
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      assert(f.delete(), s"couldn't delete $f")
    }
    rmrf(new java.io.File(path))
    IndexedStore.write(b, path, HashIndex("c_mktsegment", 4))
    assert(rids(IndexedStore.open(spark, path).find(Nil)) == rids(b),
      "the recreated store must serve ITS inventory, not the dead store's")
  }

  test("checkpoint read holds one bounded file list at 10^4+ files") {
    // The documented scale limit (SURVEY §18.3 / VERDICT r7 #4): the
    // log view materializes the generation's file list on the driver
    // — like every Spark file index, and like Delta. This pins the
    // footprint SHAPE on a synthetic 2·10⁴-file checkpoint: the
    // retained structure is the relative-path strings plus Seq
    // overhead (~150 B/file measured), held ONCE per checkpoint (the
    // signature-keyed cache returns the same driver object), with no
    // per-file Row/FileStatus residue. Extrapolation gives the
    // documented ceiling: ~10⁷ files ≈ 1.5-2 GB driver — past that, a
    // custom FileIndex streaming the checkpoint is the real fix.
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_scale_")
    dir.toFile.deleteOnExit()
    val p = s"$dir/gen-000001.parquet"
    val s = spark
    import s.implicits._
    val n = 20000
    (0 until n).map(i => f"__bucket=${i % 64}/part-$i%05d-c000.snappy.parquet")
      .toDF("path").repartition(4).write.parquet(p)
    val ck = IndexedStore.readCkptData(spark, p)
    assert(ck.paths.length == n)
    assert(ck.zones.isEmpty, "no zone columns were written — none may be retained")
    // held once: the unchanged checkpoint is served the SAME driver
    // object on re-read, not a second copy
    assert(IndexedStore.readCkptData(spark, p) eq ck,
      "re-reading an unchanged checkpoint must hit the driver cache")
    val bytes = org.apache.spark.util.SizeEstimator.estimate(ck)
    info(f"checkpoint driver footprint: $bytes B for $n files (${bytes.toDouble / n}%.0f B/file)")
    assert(bytes < 500L * n,
      s"checkpoint footprint $bytes B for $n files — per-file residue has grown")
  }
}
