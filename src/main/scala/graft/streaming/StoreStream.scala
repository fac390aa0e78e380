package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.core.{Condition, Store, Tables}
import graft.storage.{HashIndex, IndexedStore}

/** Streaming ingestion CDC over an [[IndexedStore]] — `readStream`
  * on the store's COMMIT LOG so a consumer observes exactly the
  * committed mutation sequence, the Delta-transaction-log pattern
  * applied to the manifest protocol:
  *
  *  - every log entry (a `.json` file under `_graft_log`) is
  *    published atomically
  *    AFTER the state it describes is readable — a commit entry after
  *    the manifest pointer swap, a mutation entry after its rows /
  *    tombstones have fully landed — so an entry exists IFF its change
  *    is real (spec-pinned with a complete-looking stray generation);
  *  - entries are metadata-sized (seq, sub, kind, rowid range /
  *    tombstone-file names), so the stream itself shuffles nothing
  *    corpus-scale: each micro-batch turns its newly observed entries
  *    into row-level CDC, ordered by (seq, sub).
  *
  * Entry kinds ([[IndexedStore]] publishes all three):
  *  - `commit` (sub 0): generation diff. The current side reads the
  *    generation AS OF ITS COMMIT — raw files filtered to the entry's
  *    rowid high-water mark `hi`, so in-generation appends that land
  *    before the consumer gets here cannot leak in (they stream under
  *    their own entries), and ignoring tombstones is exact because a
  *    freshly committed generation has none. The previous side reads
  *    the predecessor's FINAL state ([[IndexedStore.openAt]] +
  *    find(Nil)) — frozen the instant this commit exists, and exactly
  *    the state the mutation entries already reconciled the consumer
  *    to, so the two anti-joins emit precisely the unstreamed
  *    remainder (a compact after streamed appends/deletes diffs to
  *    NOTHING — spec-pinned). The first commit has no predecessor and
  *    streams as the initial snapshot — the standard CDC bootstrap.
  *  - `append` (the [[IndexedStore.append]] record): the appended
  *    batch is the entry's contiguous rowid run [lo, hi] (Store
  *    numbers inserts past the current max), read from the data files
  *    the entry names — `added` rows.
  *  - `delete` (the [[IndexedStore.delete]] record): the entry names
  *    the delete's own tombstone files; their rowids join the
  *    generation's raw files (raw, because the store's reads are
  *    tombstone-free — which is also why, without this entry, a
  *    tombstoned row would never stream at all) — `removed` rows.
  *
  * Scale shape: the tail reads O(mutations) tiny files; each commit's
  * diff is two anti-joins between two generations of the SAME
  * bucketed layout, each append a scan of its own files, each delete a
  * tombstone-file join. The consumer must keep up within the store's
  * retention window (the sweep reclaims generations beyond it) —
  * the same contract every log-structured CDC source carries.
  */
object StoreStream {

  private val LogSchema = StructType(Seq(
    StructField("seq", LongType), StructField("gen", StringType),
    StructField("prev", StringType), StructField("kind", StringType),
    StructField("sub", LongType), StructField("lo", LongType),
    StructField("hi", LongType), StructField("files", StringType)))

  /** Columns the fixture CDC carries (the [[graft.operators.StorageOps]]
    * gen-diff projection plus the balance — a VALUE column, so a
    * consumer can maintain derived aggregates; a generic deployment
    * would keep the store's full schema). */
  private val Keep =
    Seq(IndexedStore.RowId, "c_custkey", "c_mktsegment", "c_acctbal")

  private def outSchema = StructType(
    StructField("seq", LongType) +: StructField("sub", LongType) +:
      StructField("change", StringType) +:
      StructField(IndexedStore.RowId, LongType) +:
      Seq(StructField("c_custkey", LongType),
        StructField("c_mktsegment", StringType),
        StructField("c_acctbal", org.apache.spark.sql.types.DoubleType)))

  /** One observed log entry (all kinds; absent JSON fields null). */
  private[graft] final case class LogEntry(seq: Long, gen: String,
      prev: Option[String], kind: String, sub: Long, lo: Option[Long],
      hi: Option[Long], files: Option[String])

  /** The two-commit fixture store (v1 = full customer, v2 = a
    * curation rewrite without the BUILDING segment — the
    * [[graft.operators.StorageOps.scTimeTravel]] shape) built fresh
    * under its own scratch root so its commit log exists from birth. */
  private def ingestStore(spark: SparkSession, dir: String): String = {
    val path = graft.operators.StorageOps.scratch("ingestlog", dir)
    graft.operators.StorageOps.buildOnce(path) {
      val store = Store.fromData(Tables(spark, dir).customer, Seq("c_custkey"))
      IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
      IndexedStore.write(
        store.data.filter(col("c_mktsegment") =!= "BUILDING"),
        path, HashIndex("c_mktsegment", 8))
    }
    path
  }

  /** The mutation-fixture halves, defined ONCE so the query fixture
    * and the spec's step-by-step replays cannot diverge: the base
    * store over customer WITHOUT the BUILDING segment, and the
    * BUILDING batch carrying its continuation rowids
    * ([[Store.insert]] numbers past the base max; the rowid anti-join
    * isolates the appended run). */
  private[graft] def mutationHalves(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val cust = Tables(spark, dir).customer
    val base = Store.fromData(
      cust.filter(col("c_mktsegment") =!= "BUILDING"), Seq("c_custkey"))
    val appended = base.insert(cust.filter(col("c_mktsegment") === "BUILDING"))
      .data.join(base.data.select(IndexedStore.RowId),
        Seq(IndexedStore.RowId), "left_anti")
    (base.data, appended)
  }

  /** The mutation-level fixture store: one generation write of the
    * [[mutationHalves]] base, an [[IndexedStore.append]] of the
    * BUILDING half, a tombstone [[IndexedStore.delete]] of MACHINERY,
    * then a compact. The compact must stream an EMPTY diff: the
    * mutation entries already carried every change, so the commit
    * finds nothing left to reconcile. */
  private def ingestMutStore(spark: SparkSession, dir: String): String = {
    val path = graft.operators.StorageOps.scratch("ingestmut", dir)
    graft.operators.StorageOps.buildOnce(path) {
      val (base, appended) = mutationHalves(spark, dir)
      IndexedStore.write(base, path, HashIndex("c_mktsegment", 8))
      IndexedStore.append(appended, path)
      IndexedStore.delete(spark, path, Seq(Condition.eq("c_mktsegment", "MACHINERY")))
      IndexedStore.compact(spark, path)
    }
    path
  }

  /** The checkpoint fixture store: THREE commits (full customer,
    * sans BUILDING, sans BUILDING+AUTOMOBILE) under the default
    * retention of one predecessor — the third commit's sweep reclaims
    * generation 1 and [[IndexedStore]] checkpoints the log with it:
    * gen 1's entry is deleted and gen 2's is republished prev-less.
    * A consumer attaching HERE (the st_ingest_late query) bootstraps
    * from gen 2 as its initial snapshot and replays gen 3's diff —
    * it never needs the swept generation. */
  private def ingestLateStore(spark: SparkSession, dir: String): String = {
    val path = graft.operators.StorageOps.scratch("ingestlate", dir)
    graft.operators.StorageOps.buildOnce(path) {
      val store = Store.fromData(Tables(spark, dir).customer, Seq("c_custkey"))
      IndexedStore.write(store.data, path, HashIndex("c_mktsegment", 8))
      IndexedStore.write(
        store.data.filter(col("c_mktsegment") =!= "BUILDING"),
        path, HashIndex("c_mktsegment", 8))
      IndexedStore.write(
        store.data.filter(col("c_mktsegment") =!= "BUILDING" &&
          col("c_mktsegment") =!= "AUTOMOBILE"),
        path, HashIndex("c_mktsegment", 8))
    }
    path
  }

  /** Row-level CDC for one log entry, per the kind contract above. */
  private[graft] def diffFor(spark: SparkSession, path: String,
      e: LogEntry): DataFrame = {
    val genDir = s"$path/${e.gen}"
    def raw = spark.read.parquet(genDir)
    val changes = e.kind match {
      case "append" =>
        // the entry's own files: a crashed earlier copy of the batch
        // may sit unlogged in the same directory over the same rowids
        spark.read.option("basePath", genDir).parquet(e.files.get.split(",")
            .map(f => s"$genDir/$f").toSeq: _*)
          .select(Keep.head, Keep.tail: _*).withColumn("change", lit("added"))
      case "delete" =>
        val rids = spark.read.parquet(e.files.get.split(",")
          .map(f => s"$genDir/${IndexedStore.TombstoneDir}/$f").toSeq: _*)
        raw.join(rids, Seq(IndexedStore.RowId))
          .select(Keep.head, Keep.tail: _*).withColumn("change", lit("removed"))
      case _ =>
        // A commit entry ALWAYS carries `hi` when the generation had
        // rows, so hi-absent means empty-at-commit — reading the
        // generation's live state here would double-stream any
        // in-generation append that landed before this consumer got
        // here (it streams under its own entry).
        val cur = e.hi match {
          case Some(hi) => raw.filter(col(IndexedStore.RowId) <= hi)
            .select(Keep.head, Keep.tail: _*)
          case None =>
            // empty-at-commit: the generation directory may hold NO
            // parquet part files at all, so build the empty frame
            // from the entry's own schema instead of reading the dir
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              StructType(outSchema.fields.filterNot(f =>
                Seq("seq", "sub", "change").contains(f.name))))
        }
        e.prev match {
          case None => cur.withColumn("change", lit("added"))
          case Some(p) =>
            val past = IndexedStore.openAt(spark, path, p)
              .find(Nil).select(Keep.head, Keep.tail: _*)
            past.join(cur, Seq(IndexedStore.RowId), "left_anti")
              .withColumn("change", lit("removed"))
              .unionByName(cur.join(past, Seq(IndexedStore.RowId), "left_anti")
                .withColumn("change", lit("added")))
        }
    }
    changes.select((lit(e.seq).as("seq") +: lit(e.sub).as("sub") +:
      col("change") +: Keep.map(col)): _*)
  }

  /** Collect an entry frame into (seq, sub)-ordered [[LogEntry]]s —
    * shared by the streaming tail's micro-batches and [[logEntries]]. */
  private def parseEntries(df: DataFrame): Seq[LogEntry] =
    df.select("seq", "gen", "prev", "kind", "sub", "lo", "hi", "files")
      .collect()
      .map(r => LogEntry(r.getLong(0), r.getString(1),
        Option(r.getString(2)),
        r.getString(3),
        if (r.isNullAt(4)) 0L else r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getLong(6)),
        Option(r.getString(7))))
      .sortBy(e => (e.seq, e.sub)).toSeq

  /** Batch read of `path`'s commit log as parsed entries — the
    * spec-side complement of the streaming tail (the sweep-boundary
    * spec captures pre-sweep entries with it). */
  private[graft] def logEntries(spark: SparkSession, path: String): Seq[LogEntry] =
    parseEntries(spark.read.schema(LogSchema)
      .json(IndexedStore.commitLogDir(path)))

  /** The generations a diff for `e` must read: its own, and the
    * predecessor a commit entry diffs against. */
  private def gensRead(e: LogEntry): Seq[String] = e.gen +: e.prev.toSeq

  /** Throw the KEEP-UP-CONTRACT error if any generation `e`'s diff
    * reads has been reclaimed by the retention sweep. */
  private def assertGensLive(spark: SparkSession, path: String,
      e: LogEntry, when: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val swept = gensRead(e).filterNot { g =>
      val p = new org.apache.hadoop.fs.Path(path, g)
      p.getFileSystem(conf).exists(p)
    }
    if (swept.nonEmpty) throw new IllegalStateException(
      s"CDC consumer lagged past the retention window: generation(s) " +
        s"${swept.mkString(", ")} needed by log entry (seq=${e.seq}, " +
        s"sub=${e.sub}, kind=${e.kind}) were swept $when at $path. " +
        "The keep-up contract requires a tail to process entries within " +
        "the store's retention window (IndexedStore.setRetention); " +
        "restart the tail to bootstrap from the republished prev-less " +
        "snapshot entry.")
  }

  /** [[diffFor]] with the SWEPT-WHILE-ATTACHED failure surface made
    * loud: the generations the diff reads are checked before the read
    * (a lagging consumer gets the contract error, not PATH_NOT_FOUND)
    * and re-checked AFTER the eager materialization — a sweep racing
    * the read could otherwise hand back a PARTIAL diff that looks
    * complete (the one way this CDC could silently emit wrong rows).
    * Materialization is eager (localCheckpoint) for the same reason:
    * a lazily-held plan would dangle once the sweep reclaims the
    * generation it reads. */
  private[graft] def materializeDiff(spark: SparkSession, path: String,
      e: LogEntry): DataFrame = {
    assertGensLive(spark, path, e, "before its diff was read")
    val out = diffFor(spark, path, e).localCheckpoint(true)
    assertGensLive(spark, path, e, "WHILE its diff was being read")
    out
  }

  /** Start the CDC tail on `path`'s commit log. Returns the running
    * query and a thunk yielding everything observed so far (unordered;
    * empty-schema frame before the first entry lands). Package-visible
    * so the spec can drive commits mid-stream. */
  private[graft] def startCdc(rootSpark: SparkSession, path: String):
      (org.apache.spark.sql.streaming.StreamingQuery, () => DataFrame) = {
    val s = EventStream.streamSession(rootSpark)
    val entries = s.readStream.schema(LogSchema)
      .json(IndexedStore.commitLogDir(path))
    val parts = new scala.collection.mutable.ListBuffer[DataFrame]
    val q = entries.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // entry metadata only — tiny by construction; the row-level
        // work stays distributed inside each entry's scan/joins
        val es = parseEntries(batch)
        parts.synchronized {
          // each diff materializes inside its micro-batch, guarded by
          // the swept-while-attached check (materializeDiff's scaladoc
          // — the keep-up contract, made literal and loud)
          es.foreach(e => parts += materializeDiff(rootSpark, path, e))
        }
      }
      .start()
    val result = () => parts.synchronized {
      if (parts.isEmpty)
        rootSpark.createDataFrame(
          rootSpark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
      else parts.reduce(_.unionByName(_))
    }
    (q, result)
  }

  private def tailToEnd(spark: SparkSession, path: String): DataFrame = {
    val (q, result) = startCdc(spark, path)
    try q.processAllAvailable() finally q.stop()
    result().orderBy("seq", "sub", "change", IndexedStore.RowId)
  }

  /** st_ingest — the driver-contract query: tail the fixture store's
    * commit log to completion and emit the full CDC history, ordered
    * for presentation. */
  def stIngest(spark: SparkSession, dir: String): DataFrame =
    tailToEnd(spark, ingestStore(spark, dir))

  /** st_ingest_append — mutation-level CDC: the append and the
    * tombstone delete stream at their own log positions, and the
    * closing compact diffs to nothing (every change already
    * streamed exactly once). */
  def stIngestAppend(spark: SparkSession, dir: String): DataFrame =
    tailToEnd(spark, ingestMutStore(spark, dir))

  private val custRowid =
    "row_number() OVER (ORDER BY c_custkey) - 1 AS __rowid"

  /** The batch gen-diff oracle: commit 1 is the initial snapshot,
    * commit 2 removed exactly the BUILDING segment (the rewrite is a
    * pure shrink, so no 'added' rows exist for it). */
  val stIngestSql: String =
    s"""WITH c AS (SELECT c_custkey, c_mktsegment, c_acctbal, $custRowid FROM customer)
       |SELECT * FROM (
       |  SELECT 1::BIGINT AS seq, 0::BIGINT AS sub, 'added' AS change, __rowid, c_custkey, c_mktsegment, c_acctbal
       |  FROM c
       |  UNION ALL
       |  SELECT 2::BIGINT, 0::BIGINT, 'removed', __rowid, c_custkey, c_mktsegment, c_acctbal
       |  FROM c WHERE c_mktsegment = 'BUILDING') t
       |ORDER BY seq, sub, change, __rowid""".stripMargin

  /** The mutation-level oracle: the base write's snapshot (rowids
    * dense over the non-BUILDING rows), the append (continuation
    * rowids over BUILDING — [[Store.insert]] numbering), the delete
    * (MACHINERY removed), and NOTHING for the compact. */
  val stIngestAppendSql: String =
    s"""WITH nb AS (SELECT c_custkey, c_mktsegment, c_acctbal, $custRowid
       |      FROM customer WHERE c_mktsegment <> 'BUILDING'),
       |  b AS (SELECT c_custkey, c_mktsegment, c_acctbal,
       |      (SELECT count(*) FROM nb) + row_number() OVER (ORDER BY c_custkey) - 1 AS __rowid
       |      FROM customer WHERE c_mktsegment = 'BUILDING')
       |SELECT * FROM (
       |  SELECT 1::BIGINT AS seq, 0::BIGINT AS sub, 'added' AS change, __rowid, c_custkey, c_mktsegment, c_acctbal
       |  FROM nb
       |  UNION ALL
       |  SELECT 1::BIGINT, 1::BIGINT, 'added', __rowid, c_custkey, c_mktsegment, c_acctbal FROM b
       |  UNION ALL
       |  SELECT 1::BIGINT, 2::BIGINT, 'removed', __rowid, c_custkey, c_mktsegment, c_acctbal
       |  FROM nb WHERE c_mktsegment = 'MACHINERY') t
       |ORDER BY seq, sub, change, __rowid""".stripMargin

  /** st_ingest_late — the LATE-consumer contract: attach after the
    * retention sweep reclaimed the oldest generation. The checkpointed
    * log starts at the republished prev-less entry, so the tail
    * bootstraps from that generation's snapshot (every row `added`,
    * hi-fenced) and replays the remaining diffs — the swept
    * generation is never needed, and the stream's net state equals an
    * early consumer's (spec-pinned). */
  def stIngestLate(spark: SparkSession, dir: String): DataFrame =
    tailToEnd(spark, ingestLateStore(spark, dir))

  /** st_mview — incremental MATERIALIZED-VIEW maintenance over the
    * mutation CDC, the canonical consumer of a change stream: a
    * per-segment (row count, balance) view folded from the deltas —
    * `added` contributes +1/+cents, `removed` −1/−cents — with no
    * re-read of the store. Count and sum are self-maintainable
    * aggregates (Gupta & Mumick's IVM classification), so the view is
    * exactly a signed aggregation of the change stream; balances are
    * quantized to integer cents (the SURVEY §6 fixed-point
    * discipline), making the maintenance order-free and the result
    * hash-exact against a batch recompute of the store's final state.
    * A segment maintained down to zero rows leaves the view, matching
    * the batch GROUP BY.
    *
    * Scale shape: the view update per micro-batch is one keyed
    * aggregation of that batch's deltas — work proportional to the
    * CHANGE volume, never the store size; that is the entire point of
    * maintaining the view off the CDC rather than recomputing it. */
  def stMview(spark: SparkSession, dir: String): DataFrame = {
    val sign = when(col("change") === "added", 1L).otherwise(-1L)
    val cents = graft.functions.Parity.cents(col("c_acctbal"))
    tailToEnd(spark, ingestMutStore(spark, dir))
      .groupBy("c_mktsegment")
      .agg(sum(sign).as("n_rows"), sum(sign * cents).as("bal_cents"))
      .filter(col("n_rows") > 0)
      .orderBy("c_mktsegment")
  }

  /** The late-consumer oracle: the checkpointed history is gen 2's
    * snapshot (non-BUILDING rows, original rowids) then gen 3's
    * shrink (AUTOMOBILE removed). Nothing from seq 1 — the swept
    * generation is exactly what a late consumer never sees. */
  val stIngestLateSql: String =
    s"""WITH c AS (SELECT c_custkey, c_mktsegment, c_acctbal, $custRowid FROM customer)
       |SELECT * FROM (
       |  SELECT 2::BIGINT AS seq, 0::BIGINT AS sub, 'added' AS change, __rowid, c_custkey, c_mktsegment, c_acctbal
       |  FROM c WHERE c_mktsegment <> 'BUILDING'
       |  UNION ALL
       |  SELECT 3::BIGINT, 0::BIGINT, 'removed', __rowid, c_custkey, c_mktsegment, c_acctbal
       |  FROM c WHERE c_mktsegment = 'AUTOMOBILE') t
       |ORDER BY seq, sub, change, __rowid""".stripMargin

  /** The view oracle: the fixture's final state is customer minus the
    * deleted MACHINERY segment (base sans BUILDING + appended
    * BUILDING − MACHINERY). */
  val stMviewSql: String =
    s"""SELECT c_mktsegment,
       |  count(*)::BIGINT AS n_rows,
       |  CAST(sum(${graft.functions.Parity.centsSql("c_acctbal")}) AS BIGINT) AS bal_cents
       |FROM customer WHERE c_mktsegment <> 'MACHINERY'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st_ingest" -> stIngest,
    "st_ingest_append" -> stIngestAppend,
    "st_ingest_late" -> stIngestLate,
    "st_mview" -> stMview,
  )

  def oracles: Map[String, String] = Map(
    "st_ingest" -> stIngestSql,
    "st_ingest_append" -> stIngestAppendSql,
    "st_ingest_late" -> stIngestLateSql,
    "st_mview" -> stMviewSql,
  )
}
