package graft

import org.apache.spark.sql.functions.col
import graft.core.{Condition, Store, Tables}
import graft.storage.{HashIndex, IndexedStore}
import graft.streaming.StoreStream

/** Commit-log CDC: the stream must observe exactly the committed
  * mutation sequence — incrementally as commits land mid-stream,
  * never a crashed/unpublished build — and each entry's row-level
  * diff must ride the stable-rowid contract sc_gen_diff pins.
  * Mutation-level entries (append/delete) must stream exactly once:
  * at their own log position, never again inside a commit diff. */
class StoreStreamSpec extends SparkSpec {

  private def freshRoot(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_cdc_$tag")
    // the store writes its own layout under this root
    d.toFile.deleteOnExit()
    d.resolve("store").toString
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("seq", "sub", "change", IndexedStore.RowId)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))

  test("CDC observes commits incrementally, in order, as they land mid-stream") {
    val path = freshRoot("incr")
    val data = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey")).data
      .select(col(IndexedStore.RowId), col("c_custkey"), col("c_mktsegment"),
        col("c_acctbal"))
      .cache()
    IndexedStore.write(data, path, HashIndex("c_mktsegment", 4))
    val (q, result) = StoreStream.startCdc(spark, path)
    try {
      q.processAllAvailable()
      val snap = rows(result())
      assert(snap.map(_._1).distinct.toSeq == Seq(1L),
        "only the initial snapshot is committed yet")
      assert(snap.length == data.count(),
        "initial snapshot streams every row as added")
      assert(snap.forall(_._3 == "added"))
      // a second commit lands while the stream is RUNNING
      IndexedStore.write(data.filter(col("c_mktsegment") =!= "BUILDING"),
        path, HashIndex("c_mktsegment", 4))
      q.processAllAvailable()
      val seq2 = rows(result()).filter(_._1 == 2L)
      assert(seq2.nonEmpty, "the mid-stream commit was never observed")
      assert(seq2.forall(_._3 == "removed"),
        "a pure curation shrink diffs as removals only")
      // rowid stability: the removed rowids are exactly v1's BUILDING rowids
      val expect = data.filter(col("c_mktsegment") === "BUILDING")
        .select(IndexedStore.RowId).collect().map(_.getLong(0)).toSet
      assert(seq2.map(_._4).toSet == expect)
    } finally {
      q.stop()
      data.unpersist()
    }
  }

  test("an unpublished (crashed-build) generation is invisible to the stream") {
    val path = freshRoot("stray")
    val data = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey")).data
    IndexedStore.write(data, path, HashIndex("c_mktsegment", 4))
    // a complete-LOOKING generation directory with no manifest entry
    // and no log entry — the wreck a crash between build and pointer
    // swap leaves behind
    val stray = new java.io.File(path, "gen-000099")
    assert(stray.mkdirs())
    val marker = new java.io.File(stray, "_graft_stats.properties")
    assert(marker.createNewFile())
    val (q, result) = StoreStream.startCdc(spark, path)
    try {
      q.processAllAvailable()
      val seqs = result().select("seq").distinct()
        .collect().map(_.getLong(0)).toSeq
      assert(seqs == Seq(1L),
        s"stream must see only committed generations, saw seqs $seqs")
    } finally q.stop()
  }

  test("st_ingest matches an independent batch recompute of the commit history") {
    val got = StoreStream.stIngest(spark, sf)
    val base = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey")).data
      .select(col(IndexedStore.RowId).as("rid"), col("c_custkey"), col("c_mktsegment"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val expect =
      base.map { case (rid, _, _) => (1L, 0L, "added", rid) } ++
        base.collect { case (rid, _, seg) if seg == "BUILDING" =>
          (2L, 0L, "removed", rid)
        }
    val gotT = rows(got)
    assert(gotT.toSet == expect.toSet)
    assert(gotT.toSeq == gotT.sortBy(t => (t._1, t._2, t._3, t._4)).toSeq,
      "presentation order is (seq, sub, change, rowid)")
  }

  test("append and delete stream at their own positions; a compact diffs to nothing") {
    val path = freshRoot("mut")
    val (base, appended0) = StoreStream.mutationHalves(spark, sf)
    val appended = appended0.cache()
    IndexedStore.write(base, path, HashIndex("c_mktsegment", 4))
    val (q, result) = StoreStream.startCdc(spark, path)
    try {
      q.processAllAvailable()
      assert(rows(result()).forall(t => t._1 == 1L && t._2 == 0L))
      // the mutations land while the stream is RUNNING
      IndexedStore.append(appended, path)
      q.processAllAvailable()
      val appRows = rows(result()).filter(_._2 == 1L)
      assert(appRows.nonEmpty, "the append entry was never observed")
      assert(appRows.forall(_._3 == "added"))
      assert(appRows.map(_._4).toSet ==
        appended.select(IndexedStore.RowId).collect().map(_.getLong(0)).toSet,
        "the append streams exactly the appended rowid run")
      IndexedStore.delete(spark, path,
        Seq(Condition.eq("c_mktsegment", "MACHINERY")))
      IndexedStore.compact(spark, path)
      q.processAllAvailable()
      val all = rows(result())
      val delRows = all.filter(_._2 == 2L)
      val machinery = base.filter(col("c_mktsegment") === "MACHINERY")
        .select(IndexedStore.RowId).collect().map(_.getLong(0)).toSet
      assert(delRows.forall(_._3 == "removed"))
      assert(delRows.map(_._4).toSet == machinery,
        "the delete streams exactly its tombstoned rowids")
      assert(all.filter(_._1 == 2L).isEmpty,
        "the compact found nothing left to reconcile — every change " +
          "already streamed under its own entry")
    } finally {
      q.stop()
      appended.unpersist()
    }
  }

  test("the retention sweep checkpoints the log; a late consumer bootstraps") {
    val path = freshRoot("late")
    val data = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey")).data
      .cache()
    def netState(rows: Array[(Long, Long, String, Long)]): Map[Long, Int] =
      rows.groupBy(_._4).view
        .mapValues(_.map(t => if (t._3 == "added") 1 else -1).sum)
        .filter(_._2 != 0).toMap
    try {
      IndexedStore.write(data, path, HashIndex("c_mktsegment", 4))
      // the EARLY consumer observes the full history as it happens
      val (q1, r1) = StoreStream.startCdc(spark, path)
      val early = try {
        // drain after EACH commit: with retention 1 the keep-up
        // window is a single commit — the consumer must process an
        // entry before the sweep that prunes it can run (the CDC
        // keep-up contract; a consumer that falls behind loses the
        // pruned prefix)
        q1.processAllAvailable()
        IndexedStore.write(data.filter(col("c_mktsegment") =!= "BUILDING"),
          path, HashIndex("c_mktsegment", 4))
        q1.processAllAvailable()
        IndexedStore.write(data.filter(col("c_mktsegment") =!= "BUILDING" &&
            col("c_mktsegment") =!= "AUTOMOBILE"),
          path, HashIndex("c_mktsegment", 4))
        q1.processAllAvailable()
        rows(r1())
      } finally q1.stop()
      assert(early.map(_._1).distinct.sorted.toSeq == Seq(1L, 2L, 3L),
        "the early consumer saw every commit")
      // the third commit swept gen 1; its log entry must be gone and
      // gen 2's must have become the prev-less snapshot base
      val logDir = new java.io.File(s"$path/_graft_log")
      val names = logDir.listFiles().map(_.getName).filter(_.endsWith(".json"))
      assert(!names.contains("gen-000001.json"),
        "the swept generation's log entry must be checkpointed away")
      val g2 = scala.io.Source.fromFile(new java.io.File(logDir, "gen-000002.json"))
      val body = try g2.mkString finally g2.close()
      assert(body.contains("\"prev\":null"),
        s"the oldest retained entry must be republished prev-less: $body")
      // the LATE consumer starts from the checkpoint
      val (q2, r2) = StoreStream.startCdc(spark, path)
      val late = try { q2.processAllAvailable(); rows(r2()) } finally q2.stop()
      assert(late.map(_._1).min == 2L, "the late consumer never sees seq 1")
      assert(late.filter(_._1 == 2L).forall(_._3 == "added"),
        "the checkpointed entry replays as an initial snapshot")
      assert(netState(late) == netState(early),
        "early and late consumers must converge to the same net state")
    } finally data.unpersist(): Unit
  }

  test("a lease held across sweeps keeps its reader live and never bends the CDC chain") {
    // the round-16 regression class: retaining a LEASED generation's
    // whole log footprint moved the snapshot republish anchor onto an
    // out-of-chain entry and left the oldest chain entry's prev
    // dangling. Correct scope: the lease pins data + CHECKPOINT
    // artifacts (a lazy CkptFileIndex reader re-reads the checkpoint
    // per probe), while log entries and the republish chain behave
    // exactly as if the lease did not exist.
    val path = freshRoot("lease")
    val data = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey")).data
      .cache()
    try {
      IndexedStore.write(data, path, HashIndex("c_mktsegment", 4))
      val n1 = data.count()
      val leased = IndexedStore.openLeased(spark, path, ttlMillis = 3600000L)
      try {
        // two more commits: with retention 1, gen 1 leaves the chain
        IndexedStore.write(data.limit(40), path, HashIndex("c_mktsegment", 4))
        IndexedStore.write(data.limit(20), path, HashIndex("c_mktsegment", 4))
        // the leased reader still serves its full pinned snapshot —
        // its checkpoint parquet must have survived both sweeps
        assert(leased.find(Nil).count() == n1,
          "leased reader lost rows after its generation left the chain")
        // the chain is EXACTLY what a lease-free run produces: gen 1's
        // entry checkpointed away, gen 2 republished as the prev-less
        // snapshot base (the dangling-prev regression observable)
        val logDir = new java.io.File(s"$path/_graft_log")
        val names = logDir.listFiles().map(_.getName).filter(_.endsWith(".json"))
        assert(!names.contains("gen-000001.json"),
          "a leased generation's log entry must still die with the chain")
        val g2 = scala.io.Source.fromFile(new java.io.File(logDir, "gen-000002.json"))
        val body = try g2.mkString finally g2.close()
        assert(body.contains("\"prev\":null"),
          s"oldest CHAIN entry must republish prev-less despite the lease: $body")
        // a consumer attaching DURING the lease bootstraps cleanly
        val (q, r) = StoreStream.startCdc(spark, path)
        val seen = try { q.processAllAvailable(); rows(r()) } finally q.stop()
        assert(seen.nonEmpty && seen.map(_._1).min == 2L,
          "mid-lease consumer must bootstrap from the chain snapshot, not the leased gen")
        val net = seen.groupBy(_._4).view
          .mapValues(_.map(t => if (t._3 == "added") 1 else -1).sum)
          .filter(_._2 != 0)
        assert(net.size == 20, s"bootstrap+replay net state: ${net.size} rows vs 20")
      } finally leased.close()
      // after release, the next commit's sweep reclaims the checkpoint
      IndexedStore.write(data.limit(10), path, HashIndex("c_mktsegment", 4))
      val ck = new java.io.File(s"$path/_graft_ckpt")
      assert(!ck.listFiles().map(_.getName).exists(_.startsWith("gen-000001")),
        "a released lease's checkpoint artifacts must be reclaimed")
    } finally data.unpersist(): Unit
  }

  test("a crash-orphaned mutation is caught up by the next commit's reconcile") {
    // the crash window: a mutation's data lands before its log entry
    // publishes — simulate by deleting the entries after the fact.
    // The change is visible to store readers but absent from the CDC,
    // and no commit diff can ever emit it (both diff sides carry it);
    // the next commit's reconcile must publish catch-up entries.
    val path = freshRoot("crash")
    val (base, appended) = StoreStream.mutationHalves(spark, sf)
    IndexedStore.write(base, path, HashIndex("c_mktsegment", 4))
    IndexedStore.append(appended, path)
    IndexedStore.delete(spark, path,
      Seq(Condition.eq("c_mktsegment", "MACHINERY")))
    val logDir = new java.io.File(s"$path/_graft_log")
    logDir.listFiles()
      .filter(f => f.getName.contains("-append-") || f.getName.contains("-delete-"))
      .foreach(f => assert(f.delete()))
    IndexedStore.compact(spark, path)
    val names = logDir.listFiles().map(_.getName).toSeq
    assert(names.exists(_.contains("-append-")),
      "the reconcile must publish a catch-up append entry")
    assert(names.exists(_.contains("-delete-")),
      "the reconcile must publish a catch-up delete entry")
    val (q, result) = StoreStream.startCdc(spark, path)
    val all = try { q.processAllAvailable(); rows(result()) } finally q.stop()
    val net = all.groupBy(_._4).view
      .mapValues(_.map(t => if (t._3 == "added") 1 else -1).sum)
      .filter(_._2 != 0).keySet.toSet
    val want = IndexedStore.find(spark, path, Nil)
      .select(IndexedStore.RowId).collect().map(_.getLong(0)).toSet
    assert(net == want,
      "a tail over the healed log must converge to the store's final state")
  }

  test("an append retried after a crash diffs each batch row exactly once") {
    // the crash: the batch's files landed but its entry never
    // published; the writer retries the same batch, which numbers the
    // same rowids, so the unlogged copy overlaps the retry's [lo, hi]
    val path = freshRoot("retry")
    val (base, appended0) = StoreStream.mutationHalves(spark, sf)
    val appended = appended0.cache()
    try {
      IndexedStore.write(base, path, HashIndex("c_mktsegment", 4))
      IndexedStore.append(appended, path)
      new java.io.File(s"$path/_graft_log").listFiles()
        .filter(_.getName.contains("-append-")).foreach(f => assert(f.delete()))
      IndexedStore.append(appended, path)
      val want = appended.select(IndexedStore.RowId).collect().map(_.getLong(0)).toSeq.sorted
      val served = IndexedStore.find(spark, path, Nil)
      assert(served.count() == base.count() + want.size, "the reader serves each row once")
      val entry = StoreStream.logEntries(spark, path).filter(_.kind == "append")
      assert(entry.size == 1)
      val diff = rows(StoreStream.diffFor(spark, path, entry.head))
      assert(diff.forall(_._3 == "added"))
      assert(diff.map(_._4).toSeq.sorted == want,
        "the append diff must emit each row of the batch exactly once")
    } finally appended.unpersist(): Unit
  }

  test("st_mview equals a batch aggregate over the store's FINAL state") {
    // The maintained view comes solely from folding the change
    // stream; the independent check reads the store itself after the
    // full mutation history and aggregates from scratch.
    import org.apache.spark.sql.functions.{floor, sum}
    val got = StoreStream.stMview(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // stMview built (or found) the fixture at the shared scratch root
    val path = graft.operators.StorageOps.scratch("ingestmut", sf)
    val want = IndexedStore.find(spark, path, Nil)
      .groupBy("c_mktsegment")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_rows"),
        sum(floor(col("c_acctbal") * 100 + 0.5).cast("long")).as("bal_cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSet == want.toSet,
      "view maintained from deltas diverged from the store's final state")
    assert(!got.exists(_._1 == "MACHINERY"),
      "a segment maintained to zero rows must leave the view")
  }

  test("a commit snapshot read AFTER later appends landed still excludes them") {
    // A late-starting consumer processes the commit entry when the
    // generation's files already contain appended rows: the entry's
    // rowid high-water mark must fence them out of the snapshot (they
    // stream under the append entry instead — exactly once).
    val path = freshRoot("fence")
    val (base, appended) = StoreStream.mutationHalves(spark, sf)
    IndexedStore.write(base, path, HashIndex("c_mktsegment", 4))
    IndexedStore.append(appended, path) // BEFORE the consumer starts
    val (q, result) = StoreStream.startCdc(spark, path)
    try {
      q.processAllAvailable()
      val all = rows(result())
      val snap = all.filter(_._2 == 0L).map(_._4).toSet
      val app = all.filter(_._2 == 1L).map(_._4).toSet
      assert(snap == base.select(IndexedStore.RowId)
        .collect().map(_.getLong(0)).toSet,
        "snapshot = the generation as of its commit, appends fenced out")
      assert((snap & app).isEmpty && all.map(t => (t._2, t._4)).distinct.length
        == all.length, "every row streams exactly once")
    } finally q.stop()
  }

  test("a consumer lagging one sweep fails LOUD on the contract, never a silent wrong diff") {
    // The exact failure surface of the keep-up contract (VERDICT r7
    // #5): a tail holds an entry whose predecessor generation the
    // retention sweep reclaims before (or while) the diff reads it.
    // The existing late-attach case covers a consumer who never SAW
    // the swept entry; this pins the consumer who saw it and lagged.
    val path = freshRoot("sweep")
    val cust = Store.fromData(Tables(spark, sf).customer, Seq("c_custkey"))
      .data.cache()
    try {
      IndexedStore.write(cust, path, HashIndex("c_mktsegment", 4))
      IndexedStore.write(cust.filter(col("c_mktsegment") =!= "BUILDING"),
        path, HashIndex("c_mktsegment", 4))
      // the lagging consumer captured gen 2's entry pre-sweep: it
      // still names gen 1 as the diff's previous side
      val stale = StoreStream.logEntries(spark, path).filter(_.seq == 2L)
      assert(stale.nonEmpty && stale.head.prev.nonEmpty,
        "fixture: gen 2's commit entry must carry a prev")
      // third commit: the default retention sweeps gen 1
      IndexedStore.write(cust.filter(col("c_mktsegment") =!= "BUILDING" &&
        col("c_mktsegment") =!= "AUTOMOBILE"),
        path, HashIndex("c_mktsegment", 4))
      val sweptGen = stale.head.prev.get
      assert(!new java.io.File(path, sweptGen).exists(),
        s"fixture: the sweep must have reclaimed $sweptGen")
      val ex = intercept[IllegalStateException] {
        StoreStream.materializeDiff(spark, path, stale.head)
      }
      assert(ex.getMessage.contains("retention window") &&
        ex.getMessage.contains(sweptGen) &&
        ex.getMessage.contains("setRetention"),
        s"error must name the contract and the swept generation, got: ${ex.getMessage}")
    } finally cust.unpersist(): Unit
  }

  test("tail throughput: measured entries/s over a mutation run (the keep-up budget)") {
    // Quantifies the keep-up contract: how fast a cold tail absorbs
    // log entries. Entries are metadata-sized, so the rate is bound
    // by per-entry fixed job costs (scan + localCheckpoint per diff),
    // not data volume — the measured number goes in SURVEY §10k.
    val path = freshRoot("rate")
    val (base, appended0) = StoreStream.mutationHalves(spark, sf)
    val appended = appended0.cache()
    try {
      IndexedStore.write(base, path, HashIndex("c_mktsegment", 4))
      val ids = appended.select(IndexedStore.RowId)
        .orderBy(IndexedStore.RowId).collect().map(_.getLong(0))
      // 12 consecutive rowid slices — each append a contiguous run,
      // per the append contract
      val k = 12
      val cuts = (0 to k).map(i => ids((i * (ids.length - 1)) / k))
      val ranges = (0 until k).map(i =>
        (if (i == 0) cuts(0) else cuts(i) + 1, cuts(i + 1)))
      ranges.foreach { case (lo, hi) =>
        IndexedStore.append(
          appended.filter(col(IndexedStore.RowId).between(lo, hi)), path)
      }
      val t0 = System.nanoTime()
      val (q, result) = StoreStream.startCdc(spark, path)
      try q.processAllAvailable() finally q.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      val entries = 1 + k
      info(f"cold tail absorbed $entries entries in $sec%.2f s — ${entries / sec}%.1f entries/s")
      val got = rows(result())
      assert(got.length == cust.count(),
        "every base row + every appended row streams exactly once")
      assert(got.forall(_._3 == "added"))
    } finally appended.unpersist(): Unit
  }

  private lazy val cust = Tables(spark, sf).customer
}
