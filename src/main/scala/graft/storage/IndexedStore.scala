package graft.storage

import java.util.Properties

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent, layout-indexed parquet storage — the Spark-native
  * re-expression of the reference's index layer (src/idx.rs).
  *
  * The reference keeps in-heap `HashMap`/`BTreeMap` indices per column
  * and picks one per query by lowest `estimate()` = rows ÷ distinct
  * keys (idx.rs:71-78, lib.rs:98-120). At 100 TB an index cannot be a
  * heap structure; it has to be *data layout*:
  *
  *  - [[HashIndex]] → directory-partitioned hash buckets
  *    (`__bucket = pmod(hash(col), n)`): an equality probe
  *    constant-folds to one bucket and partition pruning reads 1/n of
  *    the files — the `HashIndex::lookup` analog (idx.rs:41-46).
  *  - [[RangeIndex]] → quantile-bounded range buckets, rows sorted by
  *    the key within each bucket: a `between` scan touches only the
  *    overlapping buckets (directory pruning) and parquet row-group
  *    min/max stats prune inside them — the `BTreeIndex::between`
  *    analog (idx.rs:132-134).
  *
  * Statistics (row count + per-column approximate NDV) are persisted
  * in a sidecar; [[IndexedStore.find]] picks the serving index exactly
  * like the reference: among indexed filter columns whose index
  * supports the op, lowest rows/ndv estimate wins, full scan as the
  * fallback — and the chosen access path returns a *superset* that is
  * always re-filtered by every condition (lib.rs:89-92 semantics).
  *
  * Mutation mirrors the reference's add/remove-only surface:
  * [[append]] adds files in the existing layout; [[delete]] writes
  * rowid tombstones that an open handle reads once and filters out of
  * every scan (an `InSet` over the rowid — tombstones are small);
  * [[compact]] folds tombstones into a rewrite. The
  * physical layout serves ONE index; other indexed columns get
  * stats-only entries that still participate in index *choice* (a
  * probe on them falls back to a full scan, identical results).
  */
sealed trait IndexSpec {
  def column: String
}

/** Equality-only hash layout (reference idx.rs:25-79). As a SECONDARY
  * index, `include` lists extra columns carried in the posting files —
  * a probe whose projection fits (key ∪ include ∪ __rowid) is then
  * answered from the postings alone, never opening the base data files
  * (a covering / index-only read). Meaningless for a primary layout
  * (the data files already carry every column) — rejected loudly
  * there. */
final case class HashIndex(column: String, buckets: Int = 16,
    include: Seq[String] = Nil) extends IndexSpec

/** Range + equality layout (reference idx.rs:91-135); numeric keys. */
final case class RangeIndex(column: String, partitions: Int = 16) extends IndexSpec

/** Two-column Z-order layout: cells are the bit-interleave of both
  * columns' quantile-bucket ids (`bits` per column → 4^bits cells), so
  * a range probe on EITHER column prunes to the cells whose
  * coordinate overlaps — one layout serving two range dimensions,
  * where a plain range layout serves only its own column. */
final case class ZOrderIndex(columnA: String, columnB: String, bits: Int = 3)
    extends IndexSpec {
  override def column: String = columnA
}

/** Two-column Hilbert-curve layout: same quantile-bucket grid as
  * [[ZOrderIndex]], but cells are numbered along a Hilbert curve
  * instead of a bit-interleave. Pruning power for an axis-aligned
  * probe is identical (the same set of grid cells overlaps); what the
  * Hilbert numbering buys is LOCALITY — adjacent cell ids are always
  * spatially adjacent (the Z curve jumps at every power-of-two
  * boundary), so a 2-d window resolves to fewer, longer runs of
  * consecutive cell ids. Cells here are directories, so that means
  * contiguous listing/scan ranges; on a deployment that maps cell id
  * to a position in one sorted file (object-store range reads), fewer
  * runs = fewer seeks. */
final case class HilbertIndex(columnA: String, columnB: String, bits: Int = 3)
    extends IndexSpec {
  override def column: String = columnA
}

/** N-column z-order layout: each column quantile-bucketed into 2^bits
  * ranks, cell id = bit-interleave of the N ranks. A probe bounding
  * ANY subset of the columns decodes to the cells inside the
  * hyper-rectangle — the multi-dimensional workload (e.g. quantity ×
  * price × discount windows) that per-column layouts can only serve
  * through one column at a time. Total cells = 2^(N·bits); keep
  * N·bits small enough that a cell still holds many row groups
  * (cells-per-probe shrinks exponentially in the number of bounded
  * dimensions, but so does the data per cell). */
final case class ZOrderNIndex(columns: Seq[String], bits: Int = 2)
    extends IndexSpec {
  require(columns.size >= 2, "ZOrderNIndex needs at least two columns")
  require(columns.size * bits <= 16,
    s"2^(${columns.size}·$bits) cells is beyond the driver-side cell walk")
  override def column: String = columns.head
}

object IndexedStore {
  private val BucketCol = "__bucket"
  private val StatsFile = "_graft_stats.properties"
  private[graft] val TombstoneDir = "_graft_tombstones"
  private val ManifestFile = "_graft_manifest.properties"
  private val WriterTokenFile = "_graft_writer.token"
  private val CommitLockFile = "_graft_commit.lock"
  private val LeaseDir = "_graft_leases"

  /** The COMMIT LOG directory: one tiny JSON file per committed
    * generation (`{"seq":N,"gen":"gen-00000N","prev":"..."|null}`),
    * published atomically (tmp + rename) right after the manifest
    * pointer swap — so an entry exists IFF its generation committed.
    * This is the streamable half of the manifest protocol: a
    * `readStream` tailing this directory observes exactly the
    * committed-generation sequence (a crashed build's directory never
    * gets an entry; an entry never precedes its pointer swap), the
    * same discipline as a Delta-style transaction log. Entries are
    * metadata-sized; the retention sweep CHECKPOINTS the log in step
    * with the generations ([[pruneCommitLog]]): swept generations'
    * entries are deleted and the oldest retained commit entry is
    * republished prev-less, becoming the bootstrap snapshot for
    * late-attaching consumers. Granularity is MUTATION-level: commit
    * entries (write/compact, `<gen>.json`, sub 0, carrying the
    * as-of-commit rowid high-water mark) plus in-generation mutation
    * entries (`<gen>-append-<sub>.json` with the appended rowid range,
    * `<gen>-delete-<sub>.json` naming the delete's tombstone files) —
    * so a CDC tail observes appends and tombstone deletes at their own
    * log positions instead of losing them inside (or entirely outside)
    * the next generation diff. */
  private[graft] val LogDir = "_graft_log"

  /** The CHECKPOINT directory: one tiny parquet per committed
    * generation (`_graft_ckpt/<gen>.parquet`, a single `path` column
    * naming every data file the generation held at its commit,
    * relative to the generation dir). Together with the mutation
    * entries' file names this makes the log the AUTHORITATIVE file
    * inventory — Delta's checkpoint.parquet discipline — and [[open]]
    * reads THROUGH it: a reader's file set is assembled from
    * checkpoint + logged appends (tombstones from logged deletes)
    * instead of listing the directory, so a file is visible IFF its
    * log entry published ("entry iff committed", now extended to
    * reads) and the per-file LIST an object store charges for a
    * directory scan is replaced by one metadata-file read no matter
    * how many mutation part-files accumulate. Kept in its own
    * `_`-prefixed sibling of [[LogDir]] (not inside it) so the CDC
    * `readStream` tailing the log's JSON entries never trips over a
    * parquet directory. Lives and dies with its generation: the
    * retention sweep prunes checkpoints alongside log entries. A
    * generation with no checkpointed commit entry (legacy store,
    * crashed commit) falls back to directory listing — the
    * pre-checkpoint behavior. At very large file counts the reader's
    * collected file list is driver-memory-bound like every
    * Spark-provided file index; the checkpoint itself stays one
    * columnar file. */
  private[graft] val CkptDir = "_graft_ckpt"

  /** How long a crashed writer's commit lock blocks the store before
    * another writer may break it. A commit (generation build included)
    * must finish within this window or risk losing its lock to a
    * breaker — the swap-time writer-token check then aborts the slow
    * writer loudly instead of corrupting the chain. */
  private[graft] val CommitLockTtlMs: Long = 60L * 60 * 1000
  val RowId = graft.core.Store.RowId

  /** All sidecar/tombstone IO goes through the Hadoop FileSystem of
    * the store's own path (local, HDFS, s3a, ... — wherever the
    * parquet lives), never java.io — a store on a cluster filesystem
    * must be manageable from any node. */
  private def hadoopFs(path: String): FileSystem =
    new HPath(path).getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)

  private def storeProps(props: Properties, path: String): Unit = {
    val out = hadoopFs(path).create(new HPath(path, StatsFile), true)
    try props.store(out, "graft IndexedStore sidecar") finally out.close()
  }

  // --------------------------------------------------- manifest commit

  /** A store root holds GENERATION directories (`gen-000001`, ... —
    * each a complete store: data + sidecars) plus one tiny pointer
    * file naming the current generation. Whole-store replacement
    * (initial write, compact) builds a fresh generation to the side
    * and then swaps the pointer — readers resolve the pointer first,
    * so they see the old store or the new one, never a partial mix,
    * and a crash mid-build leaves the old generation live (the
    * half-built one is swept by the next commit). On an object store
    * the pointer swap degrades to a single-key PUT, which is atomic —
    * this is the manifest-pointer commit that directory renames
    * cannot provide there. In-generation mutation (append, tombstone
    * delete, addIndex) keeps its existing semantics. */
  /** The manifest's properties (`current` generation pointer, `retain`
    * policy); empty for a legacy (pre-manifest) store. */
  private def manifestProps(path: String): Properties = {
    val f = hadoopFs(path)
    val mf = new HPath(path, ManifestFile)
    val p = new Properties()
    if (f.exists(mf)) {
      val in = f.open(mf)
      try p.load(in) finally in.close()
    }
    p
  }

  /** The generation name the manifest currently points at; None for
    * a legacy (pre-manifest) store. */
  private def currentGenName(path: String): Option[String] =
    Option(manifestProps(path).getProperty("current"))

  private def resolve(path: String): String =
    currentGenName(path)
      .map(g => new HPath(path, g).toString)
      .getOrElse(path) // legacy layout: the root IS the store

  /** True when `path` holds a complete store (manifest pointing at a
    * committed generation, or a legacy root with its stats sidecar —
    * the LAST file a write produces, so its presence marks a finished
    * write). A manifest carrying only policy (e.g. [[setRetention]]
    * before the first write) does not count. */
  def exists(path: String): Boolean =
    currentGenName(path).isDefined ||
      hadoopFs(path).exists(new HPath(path, StatsFile))

  /** True when a complete store at `path` records a secondary hash
    * index on `column` — the layout-agnostic completeness check for
    * "write, then addIndex" build sequences (a crash between the two
    * steps leaves a store that looks done but scans forever). */
  def hasSecondary(path: String, column: String): Boolean =
    exists(path) && scala.util.Try(
      loadProps(resolve(path)).getProperty(s"sec.$column") != null
    ).getOrElse(false)

  private def nextGenName(path: String): String = {
    val f = hadoopFs(path)
    val root = new HPath(path)
    val n =
      if (!f.exists(root)) 0
      else f.listStatus(root).map(_.getPath.getName)
        .filter(_.startsWith("gen-"))
        .flatMap(s => scala.util.Try(s.stripPrefix("gen-").toInt).toOption)
        .foldLeft(0)(math.max)
    f"gen-${n + 1}%06d"
  }

  private def writeManifest(path: String, gen: Option[String], retain: Int,
      history: Seq[String]): Unit = {
    val f = hadoopFs(path)
    val tmp = new HPath(path, ManifestFile + ".tmp")
    val out = f.create(tmp, true)
    try {
      val p = new Properties()
      gen.foreach(p.setProperty("current", _))
      p.setProperty("retain", retain.toString)
      if (history.nonEmpty) p.setProperty("history", history.mkString(","))
      p.store(out, "graft store manifest")
    } finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      f.getUri, SparkSession.active.sparkContext.hadoopConfiguration)
    fc.rename(tmp, new HPath(path, ManifestFile),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  // ------------------------------------------- writer token + leases

  /** Parsed commit lock: (owner token, expiry ms). None when the file
    * is absent, mid-write, or unparseable — callers treat those as
    * "held by someone in an unknown state", never as free. */
  private def readCommitLock(path: String): Option[(String, Long)] = {
    val f = hadoopFs(path)
    val p = new HPath(path, CommitLockFile)
    if (!f.exists(p)) None
    else
      try {
        val in = f.open(p)
        val s =
          try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        s.trim.split(" ", 2) match {
          case Array(tok, exp) => Some((tok, exp.trim.toLong))
          case _ => None
        }
      } catch { case _: Exception => None }
  }

  /** Claim the store's commit LOCK + writer token — call at COMMIT
    * START (before building the generation).
    *
    * Two layers, because the manifest commit is a read-modify-write
    * that two concurrent writers would silently corrupt:
    *
    * 1. MUTUAL EXCLUSION (this method): a create-exclusive lock file
    *    under the root. On filesystems with atomic create-no-overwrite
    *    (local, HDFS; S3A maps it to a conditional PUT on current
    *    object stores) a second writer fails HERE, at begin, with its
    *    build never started — not after hours of generation building.
    *    The lock carries a TTL ([[CommitLockTtlMs]]) so a crashed
    *    writer blocks the store only until expiry; a writer that finds
    *    an EXPIRED lock breaks it and takes its place.
    * 2. DETECTION (the writer token, re-checked at pointer-swap time
    *    by [[commitAndSweep]]): the backstop for every hole mutual
    *    exclusion can't cover — a writer that out-slept its TTL and
    *    lost the lock to a breaker, or a filesystem whose create is
    *    not actually exclusive. The loser aborts with its build
    *    intact-but-unpublished (swept by the winner's next commit);
    *    the chain is never written from stale state.
    *
    * The break-expired-lock path has a benign race (two breakers can
    * both think they won for the width of a delete+create); the
    * verify-after-create below shrinks it to one small-file write and
    * the swap-time token check catches whatever survives. */
  private[graft] def beginCommit(path: String,
      ttlMillis: Long = CommitLockTtlMs): String = {
    val token = java.util.UUID.randomUUID().toString
    val f = hadoopFs(path)
    val lockPath = new HPath(path, CommitLockFile)
    val expiry =
      try math.addExact(System.currentTimeMillis(), ttlMillis)
      catch { case _: ArithmeticException => Long.MaxValue }
    def tryCreate(): Boolean =
      try {
        val out = f.create(lockPath, false) // create-exclusive
        try out.write(s"$token $expiry"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!tryCreate()) {
      val acquired = readCommitLock(path) match {
        // Lock present and expired: break it (delete + re-create).
        case Some((_, exp)) if exp < System.currentTimeMillis() =>
          f.delete(lockPath, false); tryCreate()
        // File vanished between the failed create and this read — the
        // holder just released. Retry the create WITHOUT a delete: a
        // delete here could kill the live lock of a writer that
        // acquired in the same window. A file that EXISTS but is
        // unreadable/mid-write stays "held".
        case None if !f.exists(lockPath) => tryCreate()
        case _ => false
      }
      if (!acquired)
        throw new java.util.ConcurrentModificationException(
          s"commit lock at $path is held by another writer " +
            s"(${readCommitLock(path).fold("unreadable")(l =>
              s"token ${l._1}, expires ${l._2}")}). One writer per " +
            "commit; wait for it to finish or for the lock TTL to lapse.")
    }
    try {
      // Verify ownership: a concurrent breaker of the same expired lock
      // can have replaced the file between our create and now.
      if (!readCommitLock(path).exists(_._1 == token))
        throw new java.util.ConcurrentModificationException(
          s"commit lock at $path was claimed by a concurrent writer " +
            "immediately after this writer created it (expired-lock break " +
            "race). Retry the commit.")
      val tmp = new HPath(path, WriterTokenFile + ".tmp")
      val out = f.create(tmp, true)
      try out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        f.getUri, SparkSession.active.sparkContext.hadoopConfiguration)
      fc.rename(tmp, new HPath(path, WriterTokenFile),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      // The lock was created but the caller will never hold the token
      // to release it — free it here or the store stays locked for a
      // full TTL with no writer running. A failure of the cleanup
      // itself must not mask the actionable original error.
      case e: Throwable =>
        try releaseCommitLock(path, token)
        catch { case rel: Throwable => e.addSuppressed(rel) }
        throw e
    }
    token
  }

  /** Release the commit lock IF this writer still owns it AND the
    * lock has not expired — a no-op when the lock was broken and
    * re-claimed (then it is someone else's to release), and a
    * deliberate no-op on our own EXPIRED lock: past expiry a breaker
    * may replace the file between our ownership read and the delete,
    * and deleting would kill the breaker's live lock. (The guard
    * NARROWS that race to the width of read-then-delete right at the
    * expiry boundary — it cannot close it without a conditional
    * delete, which HadoopFS lacks; the swap-time writer token remains
    * the correctness backstop.) An expired leftover lock costs the
    * next writer one break, never blocks it. Safe to call on every
    * exit path. */
  private[graft] def releaseCommitLock(path: String, token: String): Unit =
    if (readCommitLock(path).exists { case (tok, exp) =>
        tok == token && exp >= System.currentTimeMillis() })
      hadoopFs(path).delete(new HPath(path, CommitLockFile), false): Unit

  /** Abort a commit begun with [[beginCommit]] whose build failed
    * before the pointer swap: frees the lock for the next writer (the
    * dead build is swept by that writer's commit). */
  private[graft] def abortCommit(path: String, token: String): Unit =
    releaseCommitLock(path, token)

  private def verifyWriter(path: String, token: String, gen: String): Unit = {
    val f = hadoopFs(path)
    val p = new HPath(path, WriterTokenFile)
    val current =
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        try Some(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim)
        finally in.close()
      }
    if (!current.contains(token))
      throw new java.util.ConcurrentModificationException(
        s"writer token lost under $path: another writer claimed the store " +
          s"after this commit began (expected $token, found " +
          s"${current.getOrElse("none")}). Aborting the pointer swap — the " +
          s"built generation $gen stays unpublished and will be swept. " +
          "The store assumes one writer per commit; serialize writers " +
          "or back the manifest with a conditional-PUT store.")
  }

  /** Generations pinned by an unexpired reader lease. Expired lease
    * files are garbage-collected here (sweep time), so abandoned
    * readers can never pin a generation forever. */
  private def leasedGenerations(path: String): Set[String] = {
    val f = hadoopFs(path)
    val dir = new HPath(path, LeaseDir)
    if (!f.exists(dir)) Set.empty
    else {
      val now = System.currentTimeMillis()
      f.listStatus(dir).flatMap { s =>
        val gen = s.getPath.getName.takeWhile(_ != '.')
        val expiry =
          try {
            val in = f.open(s.getPath)
            try new String(in.readAllBytes(),
              java.nio.charset.StandardCharsets.UTF_8).trim.toLong
            finally in.close()
          } catch { case _: Exception => 0L } // unreadable → expired
        if (expiry >= now) Some(gen)
        else { f.delete(s.getPath, false); None }
      }.toSet
    }
  }

  /** A reader lease: pins ONE generation against commit sweeps until
    * [[release]] or expiry. The lease is a tiny uuid-named file under
    * the store root, so it works from any node on any Hadoop
    * filesystem; expiry (not just release) bounds the damage of a
    * crashed reader. A released/expired generation is reclaimed by the
    * NEXT commit's sweep, like all GC here. */
  final class Lease private[IndexedStore] (rootPath: String, val gen: String,
      file: HPath) {
    def release(): Unit = hadoopFs(rootPath).delete(file, false): Unit
  }

  /** An [[OpenStore]] whose generation is pinned by a [[Lease]] —
    * the long-lived-reader story: a plain [[open]] handle survives
    * exactly ONE concurrent commit (the sweep retains the immediate
    * predecessor); a leased handle survives any number until it
    * releases or its TTL lapses. `close()` releases the lease. */
  final class LeasedStore private[IndexedStore] (val store: OpenStore,
      val lease: Lease) extends AutoCloseable {
    def find(conds: Seq[graft.core.Condition]): DataFrame = store.find(conds)
    override def close(): Unit = lease.release()
  }

  /** Open the current generation under a reader lease (see
    * [[LeasedStore]]). Legacy (pre-manifest) root stores cannot be
    * leased — their handles are covered by the one-commit legacy
    * sweep deferral instead. */
  def openLeased(spark: SparkSession, rootPath: String,
      ttlMillis: Long): LeasedStore = {
    require(ttlMillis > 0, "lease TTL must be positive")
    // Saturating expiry: now + Long.MaxValue would wrap negative and
    // produce a lease that is ALREADY expired — the next commit would
    // sweep the very generation the caller asked to pin.
    val expiry =
      try math.addExact(System.currentTimeMillis(), ttlMillis)
      catch { case _: ArithmeticException => Long.MaxValue }
    val gen = currentGenName(rootPath).getOrElse(throw new IllegalStateException(
      s"no manifest store at $rootPath to lease (legacy root stores get " +
        "one commit of grace from the sweep deferral instead)"))
    val f = hadoopFs(rootPath)
    f.mkdirs(new HPath(rootPath, LeaseDir))
    val file = new HPath(new HPath(rootPath, LeaseDir),
      s"$gen.${java.util.UUID.randomUUID()}.lease")
    val out = f.create(file, false) // uuid-named: no overwrite race
    try out.write(expiry.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    new LeasedStore(new OpenStore(spark, new HPath(rootPath, gen).toString,
        logView(spark, rootPath, gen)),
      new Lease(rootPath, gen, file))
  }

  /** The COMMITTED generation chain, newest first (current at the
    * head) — the manifest's `history` property. Only commits append
    * to it, so a generation that finished its build but crashed
    * before its pointer swap is never in it. Pre-history manifests
    * fall back to the current pointer alone. */
  private def committedChain(m: Properties): Seq[String] = {
    val cur = Option(m.getProperty("current")).toSeq
    Option(m.getProperty("history"))
      .map(_.split(",").toSeq.filter(_.nonEmpty))
      .map(h => (cur ++ h.filterNot(cur.contains)).distinct)
      .getOrElse(cur)
  }

  /** Set how many superseded generations future commits keep (time
    * travel depth). The policy lives in the manifest, so it survives
    * commits and applies to every writer of this store; it does NOT
    * retro-delete — a lower setting takes effect at the next commit's
    * sweep. A manifest read-modify-write like any commit, so it runs
    * under the same writer-token protocol: a concurrent writer makes
    * this throw instead of silently overwriting the chain. */
  def setRetention(rootPath: String, keep: Int): Unit = {
    require(keep >= 1, "retention keeps at least the immediate predecessor")
    val token = beginCommit(rootPath)
    try {
      val m = manifestProps(rootPath)
      verifyWriter(rootPath, token, gen = "<retention update>")
      writeManifest(rootPath, Option(m.getProperty("current")), keep,
        committedChain(m))
    } finally releaseCommitLock(rootPath, token)
  }

  /** COMMITTED generations still on disk, oldest first — the time
    * travel surface: any of these can be opened with [[openAt]]. Only
    * the manifest's commit chain counts: a generation whose build
    * finished (stats sidecar present) but whose pointer swap never
    * happened is a wreck awaiting sweep, not history. */
  def generations(rootPath: String): Seq[String] = {
    val f = hadoopFs(rootPath)
    committedChain(manifestProps(rootPath)).reverse
      .filter(g => f.exists(new HPath(new HPath(rootPath, g), StatsFile)))
  }

  /** Publish generation `gen` and sweep: one manifest read decides
    * everything. The new chain is `gen` plus up to `retain` committed
    * predecessors — the TRUE predecessor (the generation the manifest
    * pointed at before this commit) first, so an open handle keeps
    * serving the generation it resolved across ONE concurrent commit
    * (see [[open]]); older committed generations fill the remaining
    * retention budget (time travel depth, [[setRetention]]).
    * Everything else in the root — superseded generations and crashed
    * partial builds (complete-looking or not: they are absent from
    * the committed chain) — is deleted, with two exceptions: a
    * generation pinned by an unexpired reader lease
    * ([[openLeased]]) survives until release/expiry, and when this is
    * the FIRST manifest commit over a legacy root store the legacy
    * files get one commit of grace (an open legacy handle keeps
    * reading them across this commit, symmetric with the
    * predecessor-generation retention; the next commit reclaims
    * them). The `writerToken` from [[beginCommit]] is re-verified
    * right before the swap — a concurrent writer aborts loudly here
    * instead of committing from stale manifest state. */
  private[graft] def commitAndSweep(path: String, gen: String,
      writerToken: String): Unit = try {
    verifyWriter(path, writerToken, gen)
    val m = manifestProps(path)
    val prev = Option(m.getProperty("current"))
    val f = hadoopFs(path)
    // first commit over a legacy root store → defer the legacy sweep
    val legacyGrace = prev.isEmpty && f.exists(new HPath(path, StatsFile))
    val retain = m.getProperty("retain", "1").toInt
    val kept = (prev.toSeq ++ committedChain(m).filterNot(prev.contains))
      .distinct.filterNot(_ == gen).take(retain)
    writeManifest(path, Some(gen), retain, gen +: kept)
    // heal crash-orphaned mutations of the outgoing generation BEFORE
    // its successor's commit entry publishes: the commit diff assumes
    // consumers reconciled to prev's final state, so an unlogged
    // append/delete there would desynchronize them permanently. The
    // file-diff reconcile is one listing against the log's inventory
    // (MaxValue = "a crashed append may exist anywhere — check"),
    // reading only the orphan files themselves.
    prev.foreach(p => reconcileMutationLog(path, p, Some(Long.MaxValue)))
    writeCheckpoint(path, gen)
    appendCommitLog(path, gen, prev)
    val leased = leasedGenerations(path)
    f.listStatus(new HPath(path))
      .filter { s =>
        val n = s.getPath.getName
        n != gen && !kept.contains(n) && !leased.contains(n) &&
          n != ManifestFile && n != WriterTokenFile && n != CommitLockFile &&
          n != LeaseDir && n != LogDir && n != CkptDir &&
          !(legacyGrace && !n.startsWith("gen-"))
      }
      .foreach(s => f.delete(s.getPath, true))
    // leased generations keep their CHECKPOINT artifacts too: the
    // directory filter above already retains their data, and a leased
    // reader resolves its file set through the checkpoint — possibly
    // lazily, per probe ([[CkptFileIndex]]) — so a checkpoint that
    // dies before its lease leaves a pinned generation unreadable.
    // Their log ENTRIES still die with the chain as before: the CDC
    // snapshot republish anchors on the oldest COMMITTED-CHAIN entry,
    // and retaining an out-of-chain leased entry would hand a
    // late-attaching consumer a stale bootstrap while the next chain
    // entry's prev pointer dangled at a swept generation.
    pruneCommitLog(path, (gen +: kept).toSet, retainCkpt = leased)
  } finally {
    // Every exit frees the lock if still ours: after a successful
    // swap, after an IO failure mid-sweep (the manifest protocol is
    // crash-safe, the next writer completes the GC), and after a
    // verifyWriter abort (then the lock belongs to the winner and
    // release is a no-op).
    releaseCommitLock(path, writerToken)
  }

  /** Checkpoint the commit log against the retention sweep — the
    * Delta-protocol log-compaction discipline applied to the CDC
    * contract: entries whose generation the sweep just reclaimed are
    * unreplayable (their files are gone) and are deleted with it, and
    * the OLDEST retained commit entry — whose predecessor is now
    * swept — is republished with `prev:null`, turning it into the
    * bootstrap SNAPSHOT a late-attaching consumer starts from (the
    * reader already treats a prev-less commit as the initial
    * snapshot, hi-fenced to its as-of-commit rowids; the generation's
    * own retained mutation entries then replay on top). Consumers
    * attached before the sweep AND current through the pruned prefix
    * are unaffected: the file-stream source tracks entries by path,
    * so a republish is invisible to them, and they already emitted
    * those diffs. A consumer that falls behind the retention window
    * loses replayability — with retention 1 the keep-up window is a
    * single commit — the contract every log-structured CDC
    * (Delta/Kafka-compacted) carries.
    * Idempotent: once the oldest entry's prev is null, re-pruning is
    * a no-op. */
  private def pruneCommitLog(path: String, keptGens: Set[String],
      retainCkpt: Set[String] = Set.empty): Unit = {
    val f = hadoopFs(path)
    // checkpoints live and die with their generation's log entries —
    // EXCEPT leased generations' (retainCkpt), whose data the sweep
    // pinned and whose lazy readers re-read the checkpoint per probe
    val ck = new HPath(path, CkptDir)
    if (f.exists(ck)) {
      // main checkpoints and append zone sidecars alike — both are
      // keyed by their generation and die with its log entries
      val CkName = """(gen-\d+)(?:-append-[^.]+)?\.parquet""".r
      f.listStatus(ck).map(_.getPath)
        .filter(p => p.getName match {
          case CkName(g) => !keptGens.contains(g) && !retainCkpt.contains(g)
          case _ => false
        })
        .foreach(p => f.delete(p, true): Unit)
    }
    val dir = new HPath(path, LogDir)
    if (!f.exists(dir)) return
    val EntryGen = """(gen-\d+)(?:-(?:append|delete)-\d+)?\.json""".r
    val entries = f.listStatus(dir).map(_.getPath.getName).collect {
      case n @ EntryGen(g) => (n, g)
    }
    entries.filterNot(e => keptGens.contains(e._2))
      .foreach { case (n, _) => f.delete(new HPath(dir, n), false): Unit }
    // republish the oldest surviving commit entry as the snapshot base
    entries.filter { case (n, g) => keptGens.contains(g) && n == s"$g.json" }
      .sortBy(_._2).headOption.foreach { case (n, _) =>
        val in = f.open(new HPath(dir, n))
        val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val prevField = """"prev":"(gen-\d+)"""".r
        prevField.findFirstMatchIn(body).foreach { m =>
          if (!keptGens.contains(m.group(1)))
            publishLogEntry(path, n,
              prevField.replaceFirstIn(body, """"prev":null"""))
        }
      }
  }

  /** Publish one [[LogDir]] entry for a committed generation. Runs
    * inside the commit (after the pointer swap, before the sweep,
    * still under the writer token), so the log order IS the commit
    * order; the tmp+rename publish means a tailing reader never sees
    * a partial entry. `seq` is the generation's own monotone number —
    * idempotent if a crashed commit retries the same generation. */
  private def appendCommitLog(path: String, gen: String,
      prev: Option[String]): Unit = {
    val seq = gen.stripPrefix("gen-").toLong
    // `hi` = the generation's rowid high-water mark at commit (from
    // the stats pass). A CDC tail filters the commit snapshot to
    // rowid ≤ hi, so later in-generation appends (which continue past
    // the max — Store's autoincrement) can never leak into it.
    val hi = Option(loadProps(new HPath(path, gen).toString)
      .getProperty("maxrowid")).getOrElse("null")
    // `ckpt` promises the generation's file checkpoint is readable
    // ([[writeCheckpoint]] ran first) — the gate readers and the
    // reconcile use for every file-granular log feature.
    publishLogEntry(path, s"$gen.json",
      s"""{"seq":$seq,"gen":"$gen","prev":${
        prev.map(p => "\"" + p + "\"").getOrElse("null")
      },"kind":"commit","sub":0,"hi":$hi,"ckpt":1}""")
  }

  /** Publish one MUTATION entry (`kind` = `append` | `delete`) for the
    * current generation — the sub-commit half of the CDC log: a store
    * consumer otherwise only observes generation commits, but appends
    * and tombstone deletes mutate the live generation between commits
    * (and a tombstoned row never surfaces in a later gen-diff at all:
    * both sides of the diff read it tombstone-free). Published AFTER
    * the mutation's data has fully landed, so an entry exists IFF its
    * rows/tombstones are readable — the same entry-iff-committed
    * discipline as the commit entries. `sub` orders mutations within
    * their generation (commit itself is sub 0); single-writer, like
    * every in-generation mutation. Skipped for a legacy
    * (pre-manifest) root store — there is no commit log to extend. */
  private def appendMutationLog(rootPath: String, kind: String,
      fields: String): Unit =
    currentGenName(rootPath).foreach { gen =>
      // mutation-level CDC only for generations COMMITTED BY THE
      // CURRENT LOG FORMAT: a legacy (pre-kind) commit entry replays
      // as the generation's live state at the consumer, so
      // per-mutation entries on top would double-stream the same
      // rows; a legacy store keeps the legacy contract (mutations
      // surface through the next commit diff) until its next commit
      if (genLogEntries(rootPath, gen).exists { case (n, body) =>
        n == s"$gen.json" && body.contains("\"kind\"")
      }) publishMutationEntry(rootPath, gen, kind, fields)
    }

  /** Publish `kind` for `gen` at the next free sub position. */
  private def publishMutationEntry(rootPath: String, gen: String,
      kind: String, fields: String): Unit = {
    val sub = genLogEntries(rootPath, gen).count(_._1 != s"$gen.json") + 1
    val seq = gen.stripPrefix("gen-").toLong
    publishLogEntry(rootPath, s"$gen-$kind-$sub.json",
      s"""{"seq":$seq,"gen":"$gen","kind":"$kind","sub":$sub,$fields}""")
  }

  /** All of `gen`'s published log entries, (name, body) pairs. */
  private def genLogEntries(rootPath: String,
      gen: String): Seq[(String, String)] = {
    val f = hadoopFs(rootPath)
    val dir = new HPath(rootPath, LogDir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).map(_.getPath).filter { p =>
      val n = p.getName
      n == s"$gen.json" || (n.startsWith(s"$gen-") && n.endsWith(".json"))
    }.toSeq.map { p =>
      val in = f.open(p)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      (p.getName, body)
    }
  }

  /** The highest rowid the log already covers for `gen` (its commit
    * entry's high-water mark and every logged append's) — None when
    * the generation has no current-format commit entry. */
  private def coveredHi(entries: Seq[(String, String)],
      gen: String): Option[Long] = {
    if (!entries.exists { case (n, b) =>
      n == s"$gen.json" && b.contains("\"kind\"") }) return None
    val HiRe = """"hi":(-?\d+)""".r
    val his = entries.collect {
      case (n, b) if n == s"$gen.json" || n.contains("-append-") =>
        HiRe.findFirstMatchIn(b).map(_.group(1).toLong)
    }.flatten
    // a hi-less commit entry = empty at commit → covered through -1
    Some(if (his.isEmpty) -1L else his.max)
  }

  /** Tombstone files already named by `gen`'s logged delete entries. */
  private def loggedTombstoneFiles(entries: Seq[(String, String)]): Set[String] = {
    val FilesRe = """"files":"([^"]*)"""".r
    entries.iterator.filter(_._1.contains("-delete-")).flatMap { case (_, b) =>
      FilesRe.findFirstMatchIn(b).toSeq.flatMap(_.group(1).split(",").toSeq)
    }.toSet
  }

  /** CRASH RECOVERY for the mutation log (single-writer): a mutation's
    * data lands before its log entry publishes, so a crash in between
    * leaves a change on disk but absent from the CDC — and no later
    * commit diff can emit it (both diff sides carry it). Heal by
    * publishing CATCH-UP entries for anything landed but unlogged:
    * tombstone files no delete entry names, and the data files the
    * checkpoint + logged appends don't cover (a crashed append; the
    * files imply the batch fully landed, Spark's job-commit
    * protocol). The file diff is one directory listing against the
    * log's inventory — never a corpus scan; only the orphan files
    * themselves are read, for the catch-up entry's rowid range.
    * `appendFloor` is the caller's free bound on where a crashed
    * append's rows could end: [[append]] passes its own batch's
    * `lo - 1` (a gap exists iff that exceeds the covered high-water
    * mark — the common no-crash case skips the diff entirely),
    * [[commitAndSweep]] passes `Long.MaxValue` ("unknown — check"),
    * [[delete]] passes None (tombstone catch-up only). So EVERY crash
    * window heals at the next commit at the latest — and because
    * reads now go THROUGH the log ([[logView]]), an unlogged change
    * is simply invisible until its catch-up publishes: readers and
    * CDC can never disagree. Catch-up entries restore the NET state,
    * not the original mutation order (delete-before-append is
    * possible where the crash interleaved them the other way); signed
    * folds commute, so consumers converge regardless. No-op for a
    * legacy-format generation (no mutation entries there at all). */
  private def reconcileMutationLog(rootPath: String, gen: String,
      appendFloor: Option[Long]): Unit = {
    val entries = genLogEntries(rootPath, gen)
    coveredHi(entries, gen).foreach { covered =>
      val f = hadoopFs(rootPath)
      val genPath = new HPath(rootPath, gen).toString
      val tdir = new HPath(new HPath(rootPath, gen), TombstoneDir)
      val actual =
        if (!f.exists(tdir)) Set.empty[String]
        else f.listStatus(tdir).map(_.getPath.getName)
          .filter(_.endsWith(".parquet")).toSet
      val orphaned = (actual -- loggedTombstoneFiles(entries)).toSeq.sorted
      if (orphaned.nonEmpty)
        publishMutationEntry(rootPath, gen, "delete",
          s""""files":"${orphaned.mkString(",")}"""")
      if (ckptFormat(entries, gen)) {
        if (appendFloor.exists(_ > covered)) {
          val spark = SparkSession.active
          val coveredFiles = checkpointFiles(spark, rootPath, gen).toSet ++
            loggedAppendFiles(entries)
          val orphanData = listDataFiles(genPath).filterNot(coveredFiles)
          // per-file rowid ranges (one tiny agg per orphan — crash
          // debris is rare and small by construction): HEAL files whose
          // whole range lies past the covered mark; files whose whole
          // range is ALREADY covered are a duplicate write the log never
          // acknowledged (a recovering writer re-numbered its retry off
          // the log's high-water mark while the crashed copy's files
          // still sat on disk) — publishing them would double-serve
          // those rowids to every log reader and double-emit them in the
          // CDC, so they are DELETED instead: the log is authoritative,
          // and an unlogged file the log already covers can only ever be
          // debris. Rowless orphans (an aborted empty write) are debris
          // too. A range STRADDLING the mark is impossible under the
          // contiguous-run append contract; if one ever appears it is
          // left untouched (invisible to log readers, surfaced again by
          // every future reconcile) rather than guessed at.
          val ranged = orphanData.map { rel =>
            val r = spark.read.parquet(s"$genPath/$rel")
              .agg(min(col(RowId)), max(col(RowId))).head()
            (rel, if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1))))
          }
          val heal = ranged.collect { case (rel, Some((lo, hi))) if lo > covered => (rel, lo, hi) }
          val debris = ranged.collect {
            case (rel, None) => rel
            case (rel, Some((_, hi))) if hi <= covered => rel
          }
          debris.foreach(rel =>
            f.delete(new HPath(genPath, rel), false): Unit)
          if (heal.nonEmpty)
            publishMutationEntry(rootPath, gen, "append",
              s""""lo":${heal.map(_._2).min},"hi":${heal.map(_._3).max},""" +
                s""""files":"${heal.map(_._1).mkString(",")}"""")
        }
      } else {
        // pre-checkpoint (kind-format, no file inventory) generation:
        // keep the original rowid-based heal — the appending caller's
        // free bound directly, or (at commit, floor = MaxValue) one
        // one-column scan for the actual high-water mark — catch-up
        // anchored at covered+1 as before
        val actualMax = appendFloor match {
          case Some(Long.MaxValue) => scala.util.Try {
            val r = SparkSession.active.read.parquet(genPath)
              .agg(max(col(RowId))).head()
            if (r.isNullAt(0)) None else Some(r.getLong(0))
          }.toOption.flatten
          case other => other
        }
        actualMax.filter(_ > covered).foreach { max =>
          publishMutationEntry(rootPath, gen, "append",
            s""""lo":${covered + 1},"hi":$max""")
        }
      }
    }
  }

  /** Atomic (tmp + rename) publish of one [[LogDir]] entry. The
    * dot-prefixed tmp name is hidden from Spark's file listing, so a
    * concurrent readStream tail can never observe the half-written
    * file — only the renamed final entry. */
  private def publishLogEntry(path: String, name: String, json: String): Unit = {
    val f = hadoopFs(path)
    val dir = new HPath(path, LogDir)
    if (!f.exists(dir)) f.mkdirs(dir): Unit
    val tmp = new HPath(dir, s".$name.tmp")
    val out = f.create(tmp, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      f.getUri, SparkSession.active.sparkContext.hadoopConfiguration)
    fc.rename(tmp, new HPath(dir, name),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The commit-log directory for a store root (the `readStream`
    * target — see [[graft.streaming.StoreStream]]). */
  def commitLogDir(rootPath: String): String =
    new HPath(rootPath, LogDir).toString

  // ------------------------------------------- read-through-log view

  /** Every DATA file currently under a generation dir (relative
    * paths, `__bucket=N/part-....parquet`), hidden/_-prefixed
    * segments excluded — the facts a checkpoint records and the
    * reconcile diffs against. Files appear here only after Spark's
    * job commit (tasks write under `_temporary`, excluded), the same
    * visibility the whole crash-recovery contract rests on. */
  /** Keep a data file (relative path `__bucket=N/...`): the bucket
    * partition dir itself is `_`-prefixed by design; the hidden-file
    * exclusion applies BELOW it (tmp files, _SUCCESS markers, crashed
    * jobs' _temporary trees). */
  private def isDataFile(rel: String): Boolean = {
    val segs = rel.split("/")
    segs.head.startsWith(s"$BucketCol=") && rel.endsWith(".parquet") &&
      !segs.tail.exists(s => s.startsWith("_") || s.startsWith("."))
  }

  private def listDataFiles(genPath: String): Seq[String] =
    listDataFileStatus(genPath).map(_._1)

  /** Recursive data-file listing with (relative path, length, mtime)
    * — the status triple the checkpoint records so readers can plan
    * splits without ever stat'ing data files ([[CkptFileIndex]]). */
  private[graft] def listDataFileStatus(genPath: String): Seq[(String, Long, Long)] = {
    val f = hadoopFs(genPath)
    val root = f.makeQualified(new HPath(genPath))
    if (root.toUri.getScheme == "file") {
      // local fast path: Hadoop's LocalFileSystem materializes a full
      // (fork-per-file) permission-bearing status for every listed
      // entry — ~10 ms/file, which turned each append's before/after
      // diff into the dominant cost (measured). A plain java.io walk
      // reads the same names in microseconds; remote filesystems
      // (HDFS, s3a) keep the FileSystem listing below.
      val base = new java.io.File(root.toUri.getPath)
      if (!base.isDirectory) return Seq.empty
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      def walk(d: java.io.File, rel: String): Unit = {
        val children = d.listFiles()
        if (children != null) children.foreach { c =>
          val r = if (rel.isEmpty) c.getName else s"$rel/${c.getName}"
          if (c.isDirectory) walk(c, r)
          else if (isDataFile(r)) buf += ((r, c.length(), c.lastModified()))
        }
      }
      walk(base, "")
      return buf.toSeq.sortBy(_._1)
    }
    if (!f.exists(root)) return Seq.empty
    val prefix = root.toString + "/"
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    val it = f.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val full = st.getPath.toString
      if (full.startsWith(prefix)) {
        val rel = full.stripPrefix(prefix)
        if (isDataFile(rel)) buf += ((rel, st.getLen, st.getModificationTime))
      }
    }
    buf.toSeq.sortBy(_._1)
  }

  private def checkpointPath(rootPath: String, gen: String): String =
    new HPath(new HPath(rootPath, CkptDir), s"$gen.parquet").toString

  /** Snapshot the generation's data-file inventory into its
    * [[CkptDir]] checkpoint — called inside the commit, BEFORE the
    * commit entry publishes, so an entry carrying `"ckpt":1` promises
    * a readable checkpoint (entry-iff-ready, like every other log
    * artifact). One listing per commit; readers never list again.
    *
    * ZONE MAPS ride the same checkpoint: alongside each file's path
    * the checkpoint records per-file `__zmin_<c>`/`__zmax_<c>` bounds
    * for every stats-tracked column (`ndv.<c>` sidecar keys — the
    * layout's primary columns plus statsOnly/secondary declarations)
    * whose type supports ordered bounds — the Iceberg/Delta
    * data-skipping tier. A probe then prunes FILES inside surviving
    * buckets before any parquet footer opens ([[OpenStore.find]]).
    * The stats cost one column-pruned read-back of the generation per
    * commit (min/max of a handful of columns, grouped by file); the
    * inventory itself stays complete by construction — stats are
    * left-joined onto the listing, so a file the stats pass misses
    * (zero-row part, unreadable column) is checkpointed with null
    * bounds and simply never pruned. */
  private def writeCheckpoint(rootPath: String, gen: String): Unit = {
    val spark = SparkSession.active
    val genPath = new HPath(rootPath, gen).toString
    val statuses = listDataFileStatus(genPath)
    val files = statuses.map(_._1)
    // `__flen`/`__fmtime` ride the inventory so a reader can plan
    // parquet splits straight off the checkpoint — no per-file stat,
    // the [[CkptFileIndex]] contract (pre-v5 checkpoints lack them
    // and readers fall back to the collected-inventory path).
    val inventory = spark
      .createDataset(statuses)(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong))
      .toDF("path", "__flen", "__fmtime")
    val ckpt = checkpointPath(rootPath, gen)
    // The zone-stats write EXECUTES the stats scan, so the whole
    // attempt — not just plan construction — must be fallible without
    // failing the commit (e.g. batches that wrote a stats column with
    // physically different parquet types). On any failure the
    // inventory-only checkpoint overwrites whatever partial output
    // the failed attempt left.
    val wroteZones = zonemapEnabled(spark) && files.nonEmpty &&
      zoneStatsFrame(spark, gen, genPath,
          files.map(f => s"$genPath/$f"), loadProps(genPath)).exists { stats =>
        scala.util.Try {
          inventory.join(stats, Seq("path"), "left").coalesce(1)
            .write.mode("overwrite").parquet(ckpt)
        }.isSuccess
      }
    if (!wroteZones)
      inventory.coalesce(1).write.mode("overwrite").parquet(ckpt)
  }

  /** One switch for the whole zone-map tier: stats production at
    * commit/append, sidecar loading at open, and probe-time pruning.
    * Read from the active session at each site, so a store written
    * with the tier off simply has inventory-only checkpoints (its
    * files are never pruned — conservative admission covers it). */
  private[graft] def zonemapEnabled(spark: SparkSession): Boolean =
    graft.core.Confs.boolConf(spark, "graft.store.zonemap", default = true)

  /** Per-file min/max bounds of the tracked stats columns over
    * `absFiles` — one column-pruned scan grouped by file. None when
    * no tracked column has a zone-supported type, or when the
    * read-back fails (heterogeneous schema-evolution files): zone
    * maps are an optimization tier, never a reason a commit fails. */
  private def zoneStatsFrame(spark: SparkSession, gen: String,
      basePath: String, absFiles: Seq[String],
      props: Properties): Option[DataFrame] = scala.util.Try {
    val df = spark.read.option("basePath", basePath).parquet(absFiles: _*)
    val zCols = zoneColumns(props).filter(c =>
      df.schema.fields.exists(f => f.name == c && zoneSupported(f.dataType)))
    if (zCols.isEmpty) None
    else {
      val aggs = zCols.flatMap(c =>
        Seq(min(col(c)).as(s"__zmin_$c"), max(col(c)).as(s"__zmax_$c")))
      // input_file_name → the checkpoint's gen-relative path form
      // (`__bucket=N/part-…`): everything after the generation dir,
      // which appears exactly once in any data-file path.
      Some(df.groupBy(org.apache.spark.sql.functions
          .substring_index(org.apache.spark.sql.functions.input_file_name(),
            s"/$gen/", -1).as("path"))
        .agg(aggs.head, aggs.tail: _*))
    }
  }.toOption.flatten

  /** Columns worth zone bounds: every indexed/declared column
    * (`kind.*` sidecar keys — statsOnly, secondary, range primary)
    * EXCEPT primaries whose layout makes per-file bounds useless —
    * a hash primary scatters its values uniformly across buckets
    * (every file's zone spans the whole domain: pure stats cost,
    * zero pruning — measured 6× on the commit and 4× on append
    * throughput when tracked anyway), and curve primaries are
    * already pruned cell-wise by the grid walk. The range primary
    * keeps its zones: appends make buckets multi-file, and per-file
    * bounds prune inside them. A store with no trackable column
    * (e.g. a plain hash store with no statsOnly declarations) writes
    * inventory-only checkpoints and pays NOTHING for the tier. */
  private def zoneColumns(props: Properties): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val declared = props.stringPropertyNames.asScala.toSeq
      .filter(_.startsWith("kind.")).map(_.stripPrefix("kind."))
    val excluded = Option(props.getProperty("layout")).toSeq.flatMap { l =>
      val parts = l.split(":")
      parts(0) match {
        case "hash" => Seq(parts(1))
        case "zorder" | "hilbert" => Seq(parts(1), parts(2))
        case "zordern" => parts(1).split(",").toSeq
        case _ => Seq.empty // range primary keeps its zones
      }
    }
    (declared.toSet -- excluded).toSeq.sorted
  }

  /** Types with a total order both engines agree on driver-side.
    * Strings are included but guarded at compare time ([[zoneCmp]]):
    * surrogate-pair code units are where Java's UTF-16 ordering and
    * parquet's UTF-8 byte ordering diverge, and a divergent compare
    * must admit, not prune. */
  private def zoneSupported(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | StringType | DateType | TimestampType |
           TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  /** Inclusive per-file bounds of one column (nulls ignored, like the
    * min/max that produced them — a row with a null probe column can
    * never match a constant comparison, so pruning on non-null bounds
    * stays exact). */
  private[graft] final case class ZoneRange(min: Any, max: Any)

  /** Driver-side total-order compare of a probe constant against a
    * checkpointed bound. None = incomparable (type mismatch the
    * engine would coerce differently, a surrogate-pair string where
    * UTF-16 and UTF-8 orders can diverge) — and None always ADMITS
    * the file: zone maps may only prune on an ordering that provably
    * matches the engine's.
    *
    * Numeric compares MIRROR Catalyst's binary-comparison coercion,
    * not a convenient widening: integral×integral compares as long
    * (what the engine does), any float/double operand promotes both
    * to double (ditto — and −0.0 normalizes to 0.0 first, because
    * SQL equality says they match while Double.compare orders them),
    * and decimal×decimal / decimal×integral compare EXACTLY via
    * BigDecimal (the engine keeps these in decimal — rounding them
    * through doubleValue could prune a file whose decimal bound
    * differs from the probe only past double precision). */
  private[graft] def zoneCmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: java.lang.Number, y: java.lang.Number) =>
      def kind(n: java.lang.Number): Int = n match {
        case _: java.lang.Long | _: java.lang.Integer |
             _: java.lang.Short | _: java.lang.Byte => 0 // integral
        case _: java.math.BigDecimal => 1
        case _: java.lang.Double | _: java.lang.Float => 2
        case _ => 3
      }
      (kind(x), kind(y)) match {
        case (3, _) | (_, 3) => None // unknown Number subtype: admit
        case (0, 0) => Some(java.lang.Long.compare(x.longValue, y.longValue))
        case (1, 1) => Some(Integer.signum(x.asInstanceOf[java.math.BigDecimal]
          .compareTo(y.asInstanceOf[java.math.BigDecimal])))
        case (1, 0) => Some(Integer.signum(x.asInstanceOf[java.math.BigDecimal]
          .compareTo(java.math.BigDecimal.valueOf(y.longValue))))
        case (0, 1) => Some(Integer.signum(java.math.BigDecimal
          .valueOf(x.longValue)
          .compareTo(y.asInstanceOf[java.math.BigDecimal])))
        case _ =>
          // at least one true float operand: the engine promotes the
          // comparison to double, so a double compare is exact here
          def d(n: java.lang.Number): Double = {
            val v = n.doubleValue
            if (v == 0.0) 0.0 else v // −0.0 → 0.0 (SQL equality)
          }
          Some(java.lang.Double.compare(d(x), d(y)))
      }
    case (x: String, y: String) =>
      if ((x + y).exists(Character.isSurrogate)) None
      else Some(Integer.signum(x.compareTo(y)))
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => Some(x.compareTo(y))
    case (x: java.sql.Date, y: java.sql.Date) => Some(x.compareTo(y))
    case (x: java.time.Instant, y: java.time.Instant) => Some(x.compareTo(y))
    case (x: java.time.LocalDate, y: java.time.LocalDate) => Some(x.compareTo(y))
    // TIMESTAMP_NTZ bounds (what a pyarrow `timestamp[us]` column
    // reads back as): wall-clock, timezone-free. Only same-kind
    // compares — a Timestamp↔LocalDateTime compare would smuggle the
    // session timezone into a pruning decision.
    case (x: java.time.LocalDateTime, y: java.time.LocalDateTime) =>
      Some(x.compareTo(y))
    case _ => None
  }

  /** Can a file with `zones` bounds contain a row satisfying every
    * condition? Conditions over columns without bounds (or with
    * incomparable values) admit; any single disproof prunes — the
    * standard zone-map overlap test, conservative by construction. */
  private[graft] def zoneAdmits(zones: Map[String, ZoneRange],
      conds: Seq[graft.core.Condition]): Boolean = {
    import graft.core.{Comparison, Value}
    conds.forall { cond =>
      zones.get(cond.column) match {
        case None => true
        case Some(ZoneRange(lo, hi)) => cond.cmp match {
          case Comparison.Equal(Value.Const(v)) =>
            zoneCmp(v, lo).forall(_ >= 0) && zoneCmp(v, hi).forall(_ <= 0)
          case Comparison.Less(Value.Const(v), orEq) =>
            zoneCmp(lo, v).forall(c => if (orEq) c <= 0 else c < 0)
          case Comparison.Greater(Value.Const(v), orEq) =>
            zoneCmp(hi, v).forall(c => if (orEq) c >= 0 else c > 0)
          case Comparison.Between(Value.Const(l), lIncl, Value.Const(h), hIncl) =>
            zoneCmp(hi, l).forall(c => if (lIncl) c >= 0 else c > 0) &&
              zoneCmp(lo, h).forall(c => if (hIncl) c <= 0 else c < 0)
          case _ => true
        }
      }
    }
  }

  private[graft] final case class CkptData(paths: Seq[String],
      zones: Map[String, Map[String, ZoneRange]])

  /** Driver-side checkpoint cache: a generation's checkpoint is
    * IMMUTABLE once its commit entry exists (writeCheckpoint's only
    * overwrite happens before the entry publishes, and every read
    * here is gated on that entry) — but the PATH is not a stable
    * identity: a store deleted and recreated at the same location
    * (test harnesses, CI scratch dirs, the point-ops bench) reuses
    * gen-000001 and would be served the dead store's file inventory.
    * The key therefore carries a filesystem signature of the
    * checkpoint directory (names + lengths + mtimes — one listStatus
    * per open, far cheaper than the Spark job a hit saves); a
    * recreated checkpoint has a different signature and misses.
    * Crudely bounded — a process opening hundreds of distinct stores
    * clears and refills. Append zone sidecars share the cache under
    * the same immutability argument (written before their entry
    * publishes). */
  private val ckptCache =
    new java.util.concurrent.ConcurrentHashMap[String, CkptData]()

  /** Cheap content signature of a checkpoint parquet directory. An
    * unstatable path yields a non-repeating token, so the entry can
    * never be served stale — the read below will surface the real
    * error. */
  private[graft] def ckptSignature(spark: SparkSession, p: String): String =
    try {
      val hp = new HPath(p)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(hp)
        .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .sorted.mkString("|").hashCode.toString
    } catch {
      // NonFatal: an interrupt (job cancellation) must propagate, not
      // be converted into a cache-miss token
      case scala.util.control.NonFatal(_) => s"unstat-${System.nanoTime()}"
    }

  private[graft] def readCkptData(spark: SparkSession, p: String): CkptData = {
    val key = p + "#" + ckptSignature(spark, p)
    val hit = ckptCache.get(key)
    if (hit != null) hit
    else {
      val df = spark.read.parquet(p)
      val zCols = df.schema.fieldNames
        .filter(_.startsWith("__zmin_")).map(_.stripPrefix("__zmin_"))
      val rows = df.collect()
      val zones = rows.iterator.map { r =>
        val path = r.getAs[String]("path")
        val ranges = zCols.flatMap { c =>
          val lo = r.getAs[Any](s"__zmin_$c")
          val hi = r.getAs[Any](s"__zmax_$c")
          if (lo == null || hi == null) None else Some(c -> ZoneRange(lo, hi))
        }.toMap
        path -> ranges
      }.filter(_._2.nonEmpty).toMap
      val v = CkptData(rows.map(_.getAs[String]("path")).toSeq, zones)
      if (ckptCache.size > 256) ckptCache.clear()
      ckptCache.put(key, v)
      v
    }
  }

  private def checkpointFiles(spark: SparkSession, rootPath: String,
      gen: String): Seq[String] =
    readCkptData(spark, checkpointPath(rootPath, gen)).paths

  /** True when `gen`'s commit entry promises a file checkpoint —
    * the gate for every file-granular log feature (read-through-log,
    * file-diff reconcile, append file tracking). */
  private def ckptFormat(entries: Seq[(String, String)], gen: String): Boolean =
    entries.exists { case (n, b) =>
      n == s"$gen.json" && b.contains("\"ckpt\":1")
    }

  /** Data files named by `gen`'s logged append entries (own and
    * catch-up alike). */
  private def loggedAppendFiles(entries: Seq[(String, String)]): Set[String] = {
    val FilesRe = """"files":"([^"]*)"""".r
    entries.iterator.filter(_._1.contains("-append-")).flatMap { case (_, b) =>
      FilesRe.findFirstMatchIn(b).toSeq.flatMap(_.group(1).split(",").toSeq)
    }.filter(_.nonEmpty).toSet
  }

  /** The log-resolved view of one generation: exactly the data files
    * the commit checkpoint + logged appends cover, and the tombstone
    * files the logged deletes name. `zones` maps each data file to its
    * per-column min/max bounds where the checkpoint (or an append's
    * zone sidecar) recorded them — a file absent from the map is
    * simply never pruned. None when the generation predates file
    * tracking (legacy store, pre-checkpoint commit entry, or a
    * crashed commit whose entry never published) — the reader then
    * falls back to directory listing, the pre-checkpoint behavior. */
  private[graft] sealed trait StoreView { def tombstoneFiles: Seq[String] }

  private[graft] final case class LogView(dataFiles: Seq[String],
      tombstoneFiles: Seq[String],
      zones: Map[String, Map[String, ZoneRange]]) extends StoreView

  /** The DISTRIBUTED-read sibling of [[LogView]]: instead of a
    * collected inventory, the reader carries the checkpoint parquet's
    * location and lets a [[CkptFileIndex]] evaluate listing + zone
    * pruning on executors ([[CkptFileIndex]] scaladoc — the last
    * driver-memory watch item). Only the bounded parts stay
    * driver-side: post-checkpoint append files (O(mutations), stat'ed
    * once with their sidecar zones) and tombstone file names. Chosen
    * by [[logView]] when `graft.store.ckptFileIndex` is on AND the
    * checkpoint records file lengths (v5+); pre-v5 checkpoints fall
    * back to the collected path. */
  private[graft] final case class CkptView(ckptParquet: String,
      extras: Seq[CkptFileIndex.ExtraFile],
      tombstoneFiles: Seq[String]) extends StoreView

  private def logView(spark: SparkSession, rootPath: String,
      gen: String): Option[StoreView] = {
    if (!graft.core.Confs.boolConf(spark, "graft.store.logRead",
        default = true)) return None
    val entries = genLogEntries(rootPath, gen)
    if (!ckptFormat(entries, gen)) None
    else {
      // append zone sidecars, each promised by its entry's zmap field
      // (entry-iff-ready, like every log artifact); a sidecar that
      // fails to load costs pruning on its files, never correctness.
      // With the tier off, skip the sidecar reads entirely — pruning
      // is disabled anyway and open() shouldn't pay for it.
      val ZmapRe = """"zmap":"([^"]+)"""".r
      def appendZones = if (!zonemapEnabled(spark)) Map.empty[String, Map[String, ZoneRange]]
      else entries.iterator.flatMap { case (_, b) =>
        ZmapRe.findFirstMatchIn(b).map(_.group(1))
      }.flatMap { name =>
        scala.util.Try(readCkptData(spark,
          new HPath(new HPath(rootPath, CkptDir), name).toString).zones)
          .getOrElse(Map.empty)
      }.toMap
      val ckptPath = checkpointPath(rootPath, gen)
      // Distributed-read path: keep the inventory OUT of the driver
      // when the checkpoint can serve split planning itself (v5+,
      // records __flen). Any failure assembling it (unstatable append
      // file, unreadable footer) falls back to the collected view —
      // the read must never get a weaker answer from a stronger tier.
      val ckptView: Option[StoreView] =
        if (!ckptFileIndexEnabled(spark)) None
        else scala.util.Try {
          if (!spark.read.parquet(ckptPath).schema.fieldNames.contains("__flen")) None
          else {
            val genPath = new HPath(rootPath, gen).toString
            val zonesByFile = appendZones
            val extras = loggedAppendFiles(entries).toSeq.sorted.map { f =>
              val (len, mtime) = statDataFile(genPath, f)
              CkptFileIndex.ExtraFile(f, len, mtime,
                zonesByFile.getOrElse(f, Map.empty))
            }
            Some(CkptView(ckptPath, extras,
              loggedTombstoneFiles(entries).toSeq.sorted))
          }
        }.toOption.flatten
      ckptView.orElse {
        val ckpt = readCkptData(spark, ckptPath)
        Some(LogView(
          (ckpt.paths ++ loggedAppendFiles(entries)).distinct.sorted,
          loggedTombstoneFiles(entries).toSeq.sorted,
          ckpt.zones ++ appendZones))
      }
    }
  }

  /** The distributed checkpoint read ([[CkptFileIndex]]); `false`
    * forces the collected-inventory path. */
  private def ckptFileIndexEnabled(spark: SparkSession): Boolean =
    graft.core.Confs.boolConf(spark, "graft.store.ckptFileIndex", default = true)

  /** (length, mtime) of one generation-relative data file — used only
    * for the O(mutations) post-checkpoint append files; checkpointed
    * files carry their status in the checkpoint itself. */
  private def statDataFile(genPath: String, rel: String): (Long, Long) = {
    val local = new java.io.File(genPath, rel)
    if (local.isFile) (local.length(), local.lastModified())
    else {
      val hp = new HPath(genPath, rel)
      val st = hadoopFs(genPath).getFileStatus(hp)
      (st.getLen, st.getModificationTime)
    }
  }

  /** Write `df` (which must carry a `__rowid` column, e.g. from
    * [[graft.core.Store]]) under `path` laid out by `primary`.
    *
    * `secondary` indexes become posting files ((key, rowid) parquet,
    * hash-bucketed by key under `path/_graft_idx_<col>`): a probe on a
    * secondary column reads one posting bucket and rowid-joins the
    * base — the reference's "index per column, auto-maintained"
    * surface (lib.rs:195-205), expressed as data instead of heap maps.
    * `statsOnly` columns get NDV statistics (participating in index
    * *choice*) without any structure. `bloom` columns get a per-bucket
    * Bloom-filter sidecar: an equality probe on them consults the
    * (tiny) sidecar first and scans only the layout buckets whose
    * filter passes — membership pruning for columns that have no
    * layout or postings of their own. */
  def write(df: DataFrame, path: String, primary: IndexSpec,
      statsOnly: Seq[IndexSpec] = Nil, secondary: Seq[HashIndex] = Nil,
      bloom: Seq[String] = Nil): Unit = {
    val token = beginCommit(path)
    try {
      val gen = nextGenName(path)
      writeLayout(df, new HPath(path, gen).toString, primary, statsOnly, secondary, bloom)
      commitAndSweep(path, gen, token)
    } catch {
      case e: Throwable => abortCommit(path, token); throw e
    }
  }

  /** TEST HOOK: build a LEGACY (pre-manifest) root-layout store — the
    * migration source the legacy-grace sweep deferral exists for. */
  private[graft] def writeLegacyForTest(df: DataFrame, path: String,
      primary: IndexSpec): Unit =
    writeLayout(df, path, primary, Nil, Nil, Nil)

  /** Build one complete store generation at `path` (a generation dir,
    * or a bare dir for the pre-manifest tests). */
  private def writeLayout(df: DataFrame, path: String, primary: IndexSpec,
      statsOnly: Seq[IndexSpec], secondary: Seq[HashIndex],
      bloom: Seq[String]): Unit = {
    require(df.columns.contains(RowId), s"IndexedStore requires a $RowId column")
    val props = new Properties()
    // the generation's layout schema, recorded at write time so the
    // append-time widening guard needs no directory listing and no
    // footer read — and survives store re-creation at the same path
    // (props are rewritten per generation)
    props.setProperty("schema.cols", schemaSpecOf(df))
    val primaryCols = primary match {
      case ZOrderIndex(a, b, _) => Seq(a, b)
      case HilbertIndex(a, b, _) => Seq(a, b)
      case ZOrderNIndex(cols, _) => cols
      case other => Seq(other.column)
    }
    val statCols = (primaryCols ++ (statsOnly ++ secondary).map(_.column)).distinct
    // maxrowid rides the same stats pass: it is the generation's
    // as-of-commit rowid high-water mark, which the commit-log entry
    // publishes so a CDC tail can read the commit-time snapshot even
    // after later in-generation appends land (appends continue PAST
    // the max — the Store autoincrement contract).
    val aggs = count(lit(1)).as("__rows") +: max(col(RowId)).as("__maxrid") +:
      statCols.map(c => approx_count_distinct(col(c)).as(s"__ndv_$c"))
    val stats = df.agg(aggs.head, aggs.tail: _*).head()
    props.setProperty("rows", stats.getLong(0).toString)
    if (!stats.isNullAt(1))
      props.setProperty("maxrowid", stats.getLong(1).toString)
    statCols.zipWithIndex.foreach { case (c, i) =>
      props.setProperty(s"ndv.$c", stats.getLong(i + 2).toString)
    }
    statsOnly.foreach {
      case HashIndex(c, _, inc) =>
        // statsOnly advertises selectivity with no postings behind it;
        // an include list there would promise a covering read that
        // cannot be served.
        require(inc.isEmpty, s"statsOnly index on $c cannot carry include columns")
        props.setProperty(s"kind.$c", "hash")
      case RangeIndex(c, _) => props.setProperty(s"kind.$c", "range")
      // 2-d curve layouts are primary-only: as statsOnly they would
      // advertise a kind with no pruning path behind it, so reject
      // loudly instead of mis-steering index selection.
      case curve => throw new IllegalArgumentException(
        s"curve layouts are primary-only, not statsOnly: $curve")
    }
    secondary.foreach { case HashIndex(c, n, inc) =>
      props.setProperty(s"kind.$c", "hash")
      props.setProperty(s"sec.$c", n.toString)
      if (inc.nonEmpty) props.setProperty(s"inc.$c", inc.mkString(","))
    }
    bloom.foreach(c => props.setProperty(s"bloom.$c", "1"))
    val bucketed = primary match {
      case HashIndex(c, n, inc) =>
        require(inc.isEmpty,
          s"include columns are for secondary indexes; the primary layout's " +
            s"data files already carry every column (index on $c)")
        props.setProperty("layout", s"hash:$c:$n")
        props.setProperty(s"kind.$c", "hash")
        val b = df.withColumn(BucketCol, pmod(hash(col(c)), lit(n)))
        b.repartition(col(BucketCol))
          .write.mode("overwrite").partitionBy(BucketCol).parquet(path)
        b
      case RangeIndex(c, n) =>
        val bounds = df.stat.approxQuantile(c, (1 until n).map(_.toDouble / n).toArray, 0.01)
          .distinct.sorted
        props.setProperty("layout", s"range:$c:${bounds.mkString(",")}")
        props.setProperty(s"kind.$c", "range")
        val b = df.withColumn(BucketCol, rangeBucket(col(c), bounds))
        b.repartition(col(BucketCol))
          .sortWithinPartitions(col(c))
          .write.mode("overwrite").partitionBy(BucketCol).parquet(path)
        b
      case ZOrderIndex(ca, cb, bits) =>
        writeTwoDim(df, path, props, "zorder", ca, cb, bits)
      case HilbertIndex(ca, cb, bits) =>
        writeTwoDim(df, path, props, "hilbert", ca, cb, bits)
      case ZOrderNIndex(cols, bits) =>
        writeNDim(df, path, props, cols, bits)
    }
    // Postings/blooms go AFTER the base write: overwrite clears `path`.
    writeTail(df, bucketed, path, props, secondary, bloom)
  }

  /** Shared write path for the two-column curve layouts (z-order and
    * Hilbert): same quantile grid, different cell numbering. The
    * interleave delegates to the N-dim machinery — [[zBucketN]] at
    * n=2 is bit-identical to the historical 2-d interleave (dim-0
    * bits in the odd positions), so the layout strings and existing
    * stores are unchanged. */
  private def writeTwoDim(df: DataFrame, path: String, props: Properties,
      kind: String, ca: String, cb: String, bits: Int): DataFrame = {
    val n = 1 << bits
    // one multi-column quantile pass — not one full scan per column
    val cuts = df.stat.approxQuantile(Array(ca, cb),
        (1 until n).map(_.toDouble / n).toArray, 0.01)
      .map(_.distinct.sorted).toSeq
    props.setProperty("layout",
      s"$kind:$ca:$cb:$bits:${cuts(0).mkString(",")}|${cuts(1).mkString(",")}")
    props.setProperty(s"kind.$ca", "range")
    props.setProperty(s"kind.$cb", "range")
    val zc = zBucketN(Seq(col(ca), col(cb)), cuts, bits)
    val cell = if (kind == "hilbert") hilbertFromZ(zc, bits) else zc
    val b = df.withColumn(BucketCol, cell)
    b.repartition(col(BucketCol))
      .sortWithinPartitions(col(ca))
      .write.mode("overwrite").partitionBy(BucketCol).parquet(path)
    b
  }

  /** Write path for the N-column z-order layout: per-column quantile
    * cuts, cell = interleave of the N bucket ranks. */
  private def writeNDim(df: DataFrame, path: String, props: Properties,
      cols: Seq[String], bits: Int): DataFrame = {
    val n = 1 << bits
    // one multi-column quantile pass — not one full scan per column
    val cuts = df.stat.approxQuantile(cols.toArray,
        (1 until n).map(_.toDouble / n).toArray, 0.01)
      .map(_.distinct.sorted).toSeq
    props.setProperty("layout",
      s"zordern:${cols.mkString(",")}:$bits:${cuts.map(_.mkString(",")).mkString("|")}")
    cols.foreach(c => props.setProperty(s"kind.$c", "range"))
    val b = df.withColumn(BucketCol, zBucketN(cols.map(col), cuts, bits))
    b.repartition(col(BucketCol))
      .sortWithinPartitions(col(cols.head))
      .write.mode("overwrite").partitionBy(BucketCol).parquet(path)
    b
  }

  private def writeTail(df: DataFrame, bucketed: DataFrame, path: String,
      props: Properties, secondary: Seq[HashIndex], bloom: Seq[String]): Unit = {
    secondary.foreach { case HashIndex(c, n, inc) =>
      writePostings(df, path, c, n, inc, overwrite = true)
    }
    bloom.foreach(c => writeBloom(bucketed, path, c, overwrite = true))
    storeProps(props, path)
  }

  // ------------------------------------------------------ bloom sidecar

  /** Bloom geometry: 2^16 bits per bucket, 4 probes per value. */
  private val BloomBits = 1 << 16
  private val BloomProbes = 4

  private def bloomDir(path: String, column: String): String =
    new HPath(path, s"_graft_bloom_$column").toString

  /** 4 independent bit positions from disjoint 8-hex-char md5 slices
    * of the value's cast-to-string form — the build side (Spark
    * expressions) and the probe side ([[bloomBitsOf]], evaluating the
    * same Catalyst cast chain locally) hash byte-identical strings, so
    * the filter has NO false negatives for any renderable column
    * type. The render is pinned to UTC on BOTH sides: the build and
    * probe may run in different sessions with different
    * spark.sql.session.timeZone values, and a timezone-dependent
    * render (timestamps) would silently drop rows. */
  private def bloomBitExprs(c: Column): Seq[Column] = {
    import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.Cast
    val hex = md5(column(
      Cast(expression(c), org.apache.spark.sql.types.StringType, Some("UTC"))))
    (0 until BloomProbes).map(i =>
      (conv(substring(hex, 1 + 8 * i, 8), 16, 10).cast("long") % BloomBits).cast("int"))
  }

  /** Probe-side bits: the value is rendered to a string by CATALYST'S
    * OWN cast chain (value → stored column type → string), evaluated
    * locally, so the probe hashes the byte-identical string the build
    * side hashed — JVM toString differs from Spark's cast for doubles,
    * mistyped literals, dates, ... and any divergence would be a false
    * negative (silent wrong results). Timezones are split per cast:
    * the value→column cast uses the SESSION timezone (it must resolve
    * a string probe of a timestamp column to the same instant the
    * post-filter's `col === lit(v)` will), while the column→string
    * render is pinned to UTC to match [[bloomBitExprs]] regardless of
    * which session built the store. Returns None when the value
    * cannot be rendered (cast yields null) — the caller then skips
    * bloom pruning entirely rather than risk it. */
  private def bloomBitsOf(v: Any, colType: org.apache.spark.sql.types.DataType): Option[Seq[Int]] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val sessionTz = SparkSession.active.conf
      .get("spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID)
    val rendered = Cast(Cast(Literal(v), colType, Some(sessionTz)),
      org.apache.spark.sql.types.StringType, Some("UTC")).eval(null)
    Option(rendered).map { s =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.toString.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      (0 until BloomProbes).map(i =>
        (java.lang.Long.parseLong(hex.substring(8 * i, 8 * i + 8), 16) % BloomBits).toInt)
    }
  }

  /** Sparse per-bucket bloom: (bucket, word, bits) rows, bit_or-merged
    * per 64-bit word — built with plain aggregates (no UDAF), appended
    * on insert (probe ORs duplicate words back together). */
  private def writeBloom(bucketed: DataFrame, path: String, column: String,
      overwrite: Boolean): Unit =
    bucketed.select(col(BucketCol).as("bucket"),
        explode(array(bloomBitExprs(col(column)): _*)).as("bit"))
      .filter(col("bit").isNotNull)
      .groupBy(col("bucket"), expr("bit div 64").cast("int").as("word"))
      .agg(expr("bit_or(shiftleft(cast(1 as bigint), bit % 64))").as("bits"))
      .write.mode(if (overwrite) "overwrite" else "append")
      .parquet(bloomDir(path, column))

  /** Bucket id = number of boundaries ≤ value (monotone in the key,
    * so a range of keys maps to a contiguous bucket range). */
  private def rangeBucket(c: Column, bounds: Array[Double]): Column =
    bounds.foldLeft(lit(0)) { (acc, b) => acc + when(c >= b, 1).otherwise(0) }

  /** N-dimensional z-cell id: bit k of dimension d lands at position
    * k·N + (N-1-d), so dimension 0 takes the most-significant slot of
    * each interleave group (at n=2 this IS the historical 2-d a/b
    * interleave — a-bits odd, b-bits even — so the 2-d layouts
    * delegate here and existing stores read back unchanged). */
  private def zBucketN(cols: Seq[Column], cuts: Seq[Array[Double]], bits: Int): Column = {
    val n = cols.size
    val ranks = cols.zip(cuts).map { case (c, cu) => rangeBucket(c, cu) }
    (0 until bits).flatMap { k =>
      ranks.zipWithIndex.map { case (r, d) =>
        shiftleft(shiftright(r, k).bitwiseAND(lit(1)), k * n + (n - 1 - d))
      }
    }.reduce(_ bitwiseOR _)
  }

  /** Dimension-d coordinate of N-dim z-cell `z` (inverse of
    * [[zBucketN]], driver-side). */
  private def zCoordN(z: Int, n: Int, bits: Int, d: Int): Int =
    (0 until bits).map(k => ((z >> (k * n + (n - 1 - d))) & 1) << k).sum

  private val CurveKinds = Set("zorder", "hilbert", "zordern")

  /** Parse a curve layout string into its dimension columns, bits,
    * per-dimension cuts accessor, and the z→cell renumbering
    * (identity except Hilbert). The two legacy 2-d formats
    * (`zorder:a:b:bits:cutsA|cutsB`, same for hilbert) and the N-dim
    * format (`zordern:c1,..,cn:bits:cuts1|..|cutsn`) both land here —
    * the parse boundary is the ONLY place the formats differ. */
  private def parseCurve(layoutStr: String)
      : (Seq[String], Int, Int => Array[Double], Int => Int) = {
    def cutsFn(cutParts: Array[String]): Int => Array[Double] =
      i => cutParts(i).split(",").filter(_.nonEmpty).map(_.toDouble)
    if (layoutStr.startsWith("zordern:")) {
      val zs = layoutStr.split(":", 4)
      (zs(1).split(",").toSeq, zs(2).toInt, cutsFn(zs(3).split("\\|", -1)), identity)
    } else {
      val zs = layoutStr.split(":", 5)
      val bits = zs(3).toInt
      val renumber: Int => Int =
        if (zs(0) == "hilbert") hilbertOfZ(_, bits) else identity
      (Seq(zs(1), zs(2)), bits, cutsFn(zs(4).split("\\|", -1)), renumber)
    }
  }

  /** Probe-side bucket range for one comparison over one dimension's
    * quantile cuts; `nMax` is the top bucket id. None when the probe
    * value doesn't parse as a number (a mistyped probe must DEGRADE
    * to an unpruned scan, never throw out of find()). A lower-side
    * bound landing exactly on a cut widens one bucket down: the probe
    * literal rounds through double here, so its exact value could sit
    * on either side of the boundary — the extra bucket keeps the
    * pruned set a superset and the post-filter keeps results exact. */
  private def bucketRange(cuts: Array[Double],
      cmp: graft.core.Comparison, nMax: Int): Option[(Int, Int)] = {
    def bk(v: Any): Option[Int] =
      scala.util.Try(v.toString.toDouble).toOption.map(d => cuts.count(_ <= d))
    def loBk(v: Any): Option[Int] = bk(v).map { b =>
      val d = v.toString.toDouble
      if (cuts.contains(d)) math.max(b - 1, 0) else b
    }
    cmp match {
      case graft.core.Comparison.Equal(graft.core.Value.Const(v)) =>
        for (lo <- loBk(v); hi <- bk(v)) yield (lo, hi)
      case graft.core.Comparison.Between(graft.core.Value.Const(lo), _,
          graft.core.Value.Const(hi), _) =>
        for (l <- loBk(lo); h <- bk(hi)) yield (l, h)
      case graft.core.Comparison.Less(graft.core.Value.Const(v), _) =>
        bk(v).map((0, _))
      case graft.core.Comparison.Greater(graft.core.Value.Const(v), _) =>
        loBk(v).map((_, nMax))
      case _ => None
    }
  }

  /** Hilbert index of grid cell (x, y) on a 2^bits × 2^bits grid —
    * the standard rotate-and-accumulate walk (driver-side; the write
    * path ships it as a folded lookup table, [[hilbertFromZ]]). */
  private def xy2d(bits: Int, x0: Int, y0: Int): Int = {
    var x = x0; var y = y0; var d = 0
    var s = 1 << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1 else 0
      val ry = if ((y & s) > 0) 1 else 0
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) { // rotate the quadrant so the walk stays contiguous
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Hilbert cell id from the z-cell id: both curves visit the same
    * grid, so the renumbering is a 4^bits-entry lookup — built once on
    * the driver, shipped as an array literal that ConstantFolding
    * collapses, and indexed per row in O(1). Far cheaper than
    * unrolling the data-dependent rotation walk as a when-chain. */
  private def hilbertFromZ(zc: Column, bits: Int): Column = {
    val lut = (0 until (1 << (2 * bits))).map(hilbertOfZ(_, bits))
    element_at(array(lut.map(lit): _*), zc + 1)
  }

  /** Hilbert cell id of 2-d z-cell `z` (driver-side). */
  private def hilbertOfZ(z: Int, bits: Int): Int =
    xy2d(bits, zCoordN(z, 2, bits, 0), zCoordN(z, 2, bits, 1))

  private def postingDir(path: String, column: String): String =
    new HPath(path, s"_graft_idx_$column").toString

  /** Posting files for a secondary hash index: (key, rowid) plus any
    * `include` columns (for covering reads), directory-partitioned by
    * the key's hash bucket. Include values cannot go stale: the store
    * mutates by insert/tombstone only (no in-place update), and the
    * covering read filters tombstones out exactly like the base path. */
  private def writePostings(df: DataFrame, path: String, column: String,
      buckets: Int, include: Seq[String], overwrite: Boolean): Unit =
    df.select(col(column).as("__key") +: col(RowId) +:
        include.filterNot(i => i == column || i == RowId).map(col): _*)
      .withColumn(BucketCol, pmod(hash(col("__key")), lit(buckets)))
      .repartition(col(BucketCol))
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy(BucketCol).parquet(postingDir(path, column))

  private def loadProps(path: String): Properties = {
    val props = new Properties()
    val in = hadoopFs(path).open(new HPath(path, StatsFile))
    try props.load(in) finally in.close()
    props
  }

  /** The reference's `estimate()`: expected rows per key
    * (idx.rs:71-78). */
  private def estimate(props: Properties, column: String): Long = {
    val rows = props.getProperty("rows").toLong
    val ndv = math.max(props.getProperty(s"ndv.$column", "1").toLong, 1L)
    rows / ndv
  }

  /** Pick the index serving `conds`, mirroring `using_index`
    * (lib.rs:98-120): among conditions over a column with an index
    * that supports the operation, minimize `estimate()`; None means
    * full scan. Exposed for tests. */
  def chooseIndex(path: String, conds: Seq[graft.core.Condition]): Option[String] =
    chooseIndexIn(loadProps(resolve(path)), conds)

  private def chooseIndexIn(props: Properties,
      conds: Seq[graft.core.Condition]): Option[String] = {
    val supported = conds.filter { cond =>
      val kind = Option(props.getProperty(s"kind.${cond.column}"))
      kind match {
        case Some("hash") => cond.cmp match {
          // HashIndex serves equality against constants only
          // (lib.rs:108-111 allows exactly Equal(Const)).
          case graft.core.Comparison.Equal(graft.core.Value.Const(_)) => true
          case _ => false
        }
        case Some("range") => cond.cmp match {
          case graft.core.Comparison.Equal(graft.core.Value.Const(_)) => true
          case _: graft.core.Comparison.Between => true
          case graft.core.Comparison.Less(graft.core.Value.Const(_), _) => true
          case graft.core.Comparison.Greater(graft.core.Value.Const(_), _) => true
          case _ => false
        }
        case _ => false
      }
    }
    supported.sortBy(c => estimate(props, c.column)).headOption.map(_.column)
  }

  /** One-shot probe: open + find. Prefer [[open]] when issuing many
    * probes — it reuses the sidecar, base reader and posting readers
    * across calls (the reference's `Store` is likewise an open handle
    * that serves many `find`s). */
  def find(spark: SparkSession, path: String,
      conds: Seq[graft.core.Condition]): DataFrame =
    open(spark, path).find(conds)

  /** Open the store once for repeated probing. The CURRENT generation
    * is resolved here: the handle keeps serving the generation it
    * opened across one concurrent commit (the commit sweep retains
    * the immediately-preceding generation); a second commit while the
    * handle is still live reclaims it. A reader that must outlive
    * arbitrary commits takes a lease instead — [[openLeased]] pins
    * the generation until release or TTL expiry. (The reference gets
    * this for free from ownership — a borrowed `Store` cannot be
    * invalidated, lib.rs — the distributed analog has to be an
    * explicit lease.)
    *
    * Reads go THROUGH the commit log where one exists ([[logView]]):
    * the handle's file set comes from the generation's checkpoint +
    * logged mutation entries, never a data-directory listing — a file
    * is visible IFF its entry published, closing the crash window by
    * construction (`graft.store.logRead=false` forces the listing
    * fallback; legacy stores always use it). The resolved view makes
    * the handle a consistent SNAPSHOT: in-generation mutations that
    * land after open() are not visible through it (open again to see
    * them) — the distributed analog of the reference's borrow rule
    * that no mutation can happen while a shared `&Store` is live. */
  def open(spark: SparkSession, path: String): OpenStore =
    currentGenName(path) match {
      case Some(g) =>
        new OpenStore(spark, new HPath(path, g).toString,
          logView(spark, path, g))
      case None => new OpenStore(spark, path, None)
    }

  /** Time travel: open a NAMED generation (one of [[generations]])
    * instead of the one the manifest points at. Every generation is a
    * complete store — data, sidecars, postings, tombstones as of its
    * commit — so probes through a historical handle run the identical
    * index machinery against the historical state. How far back this
    * reaches is the [[setRetention]] policy. */
  def openAt(spark: SparkSession, rootPath: String, gen: String): OpenStore = {
    require(generations(rootPath).contains(gen),
      s"unknown, incomplete, or reclaimed generation '$gen' under $rootPath " +
        "— commit sweeps keep only the retention window (setRetention) " +
        "plus leased generations (openLeased); this one is not on disk " +
        "in the committed chain")
    new OpenStore(spark, new HPath(rootPath, gen).toString,
      logView(spark, rootPath, gen))
  }

  /** An opened store: sidecar + file inventory resolved once, probes
    * plan against reused readers. With a [[LogView]] the base frame
    * reads exactly the logged files (basePath keeps the bucket
    * partition column parseable) and the tombstone rowids come from
    * the logged delete entries — read once per handle, on the first
    * probe that needs them, and filtered out of each probe's scan;
    * without a view (legacy store, pre-checkpoint generation) both
    * fall back to directory listing and a per-probe anti-join. */
  final class OpenStore private[IndexedStore] (spark: SparkSession, path: String,
      view: Option[StoreView]) {
    private val props = loadProps(path)
    private val base = view match {
      // distributed checkpoint read: the file inventory never
      // collects to the driver — a CkptFileIndex-backed relation
      // evaluates listing + zone pruning on executors, and bucket/
      // zone predicates arrive through Catalyst's own pushdown
      // (partitionFilters / dataFilters). Only the data SCHEMA is
      // resolved eagerly, from one sample footer.
      case Some(v: CkptView) => ckptIndexedBase(v)
      case Some(v: LogView) if v.dataFiles.nonEmpty =>
        spark.read.option("basePath", path)
          .parquet(v.dataFiles.map(f => s"$path/$f"): _*)
      // a generation committed empty with no logged appends: serve an
      // EMPTY frame, not a directory fallback — any parquet physically
      // there is by definition unlogged (a crashed append), and the
      // visible-iff-logged contract must hold in exactly that window;
      // schema comes from whatever the directory holds when inferable
      // (a truly file-less directory fails the read, as it always did)
      case Some(_) => spark.read.parquet(path).filter(lit(false))
      case None => spark.read.parquet(path)
    }

    /** Build the [[CkptFileIndex]]-served base relation. Schema comes
      from ONE leaf footer (appends share the layout schema by
      construction — append() writes through the same frame shape);
      an empty generation (no checkpointed files, no appends) keeps
      the visible-iff-logged empty frame. */
    private def ckptIndexedBase(v: CkptView): DataFrame = {
      // signature-keyed memo: repeat opens of one generation reuse
      // the index (its collect-tier job, schema footer, sizeInBytes)
      val fi = CkptFileIndex.cached(spark, path, v.ckptParquet, v.extras,
        bucketed = true)
      fi.dataSchemaOpt match {
        case None => spark.read.parquet(path).filter(lit(false))
        case Some(dataSchema) =>
          val relation = org.apache.spark.sql.execution.datasources
            .HadoopFsRelation(fi, fi.partitionSchema, dataSchema, None,
              new org.apache.spark.sql.execution.datasources.parquet
                .ParquetFileFormat,
              Map.empty[String, String])(spark)
          org.apache.spark.sql.GraftRelationBridge.ofRows(spark,
            org.apache.spark.sql.execution.datasources
              .LogicalRelation(relation))
      }
    }
    /** The view's tombstoned rowids, read once per handle on the first
      * probe that needs them — the view is fixed at open, so one read
      * serves every probe of the snapshot. The explicit schema skips
      * parquet footer inference; null rowids are dropped (a null never
      * equals a row's rowid, exactly as under an anti-join). Rowids are
      * integral, so the collected values are already Catalyst's. */
    private lazy val tombstoned: Set[Any] = view match {
      case Some(v) if v.tombstoneFiles.nonEmpty =>
        val schema = org.apache.spark.sql.types.StructType(
          Seq(base.schema(RowId).copy(nullable = true)))
        spark.read.schema(schema)
          .parquet(v.tombstoneFiles.map(f => s"$path/$TombstoneDir/$f"): _*)
          .collect().flatMap(r => Option(r.get(0))).toSet
      case _ => Set.empty
    }

    /** Drop tombstoned rows with an `InSet` filter over the handle's
      * tombstone set, evaluated in the probe's own scan stage. A null
      * rowid stays, as it does under the legacy path's anti-join. */
    private def antiTs(df: DataFrame): DataFrame = view match {
      case Some(_) if tombstoned.isEmpty => df
      case Some(_) =>
        import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
        import org.apache.spark.sql.catalyst.expressions.InSet
        df.filter(col(RowId).isNull ||
          !column(InSet(expression(col(RowId)), tombstoned)))
      case None => antiTombstone(spark, path, df)
    }
    // Posting frames are resolved AT OPEN (spark.read.parquet lists
    // the posting dir and pins its file index immediately), so the
    // handle's snapshot contract covers the covering-read path too —
    // lazily-resolved postings would surface a post-open append's
    // posting files through findCovering while find() hides its data
    // files. A posting dir that fails to load at open (e.g. an index
    // whose backfill is racing) falls back to lazy resolution, the
    // pre-snapshot behavior.
    private val postings = {
      val m = scala.collection.mutable.Map.empty[String, DataFrame]
      secondaryColumns(props).foreach { case (c, _, _) =>
        scala.util.Try(spark.read.parquet(postingDir(path, c)))
          .foreach(df => m(c) = df)
      }
      m
    }
    private def posting(c: String): DataFrame =
      postings.getOrElseUpdate(c, spark.read.parquet(postingDir(path, c)))

    /** ZONE-MAP file skipping: rebuild the base reader over only the
      * files whose checkpointed min/max bounds can overlap the probe
      * conditions — pruning INSIDE surviving buckets, before any
      * parquet footer opens (the Iceberg/Delta data-skipping tier;
      * row-group stats then prune further inside the kept files). A
      * file without bounds for a probed column is always admitted, so
      * the result is a superset and the find() re-filter keeps it
      * exact — the same contract as every other access path here.
      * `graft.store.zonemap=false` disables the tier. */
    private def zonePrunedBase(conds: Seq[graft.core.Condition]): DataFrame =
      view match {
        // CkptView: the FileIndex already zone-prunes from the pushed
        // dataFilters at plan time — nothing to rebuild here
        case Some(_: CkptView) => base
        case Some(v: LogView) if v.dataFiles.nonEmpty && v.zones.nonEmpty &&
            conds.nonEmpty && IndexedStore.zonemapEnabled(spark) =>
          val keep = v.dataFiles.filter(f =>
            zoneAdmits(v.zones.getOrElse(f, Map.empty), conds))
          if (keep.size == v.dataFiles.size) base
          else if (keep.isEmpty) base.filter(lit(false))
          else {
            val slim = spark.read.option("basePath", path)
              .parquet(keep.map(f => s"$path/$f"): _*)
            // schema-evolution guard: the slimmer reader must still
            // carry every column the full view does (parquet schema
            // inference follows the file set) — otherwise skip the
            // tier rather than change what a probe can select
            if (slim.schema.fieldNames.sorted.sameElements(
                base.schema.fieldNames.sorted)) slim
            else base
          }
        case _ => base
      }

    /** Read rows matching the ANDed conditions through the best index.
      * The index path yields a superset (bucket-pruned scan); every
      * condition is always re-applied, exactly like the reference's
      * post-filter (lib.rs:130-137). Tombstoned rowids are filtered
      * out by the handle's tombstone `InSet`. */
    def find(conds: Seq[graft.core.Condition]): DataFrame = {
    val base = zonePrunedBase(conds)
    val layout = props.getProperty("layout").split(":", 3)
    val chosen = chooseIndexIn(props, conds)
    val pruned = chosen match {
      case Some(c) if c != layout(1) && props.getProperty(s"sec.$c") != null =>
        // Secondary posting probe: one posting bucket → rowid set →
        // broadcast semi-join against the base (posting lists for one
        // key are estimate-sized, i.e. small by construction).
        val n = props.getProperty(s"sec.$c").toInt
        val probeVals = conds.collect {
          case graft.core.Condition(`c`, graft.core.Comparison.Equal(graft.core.Value.Const(v))) => v
        }
        probeVals.headOption match {
          case Some(v) =>
            // Cast the probe literal to the stored column's type before
            // hashing: Murmur3 is type-sensitive, so e.g. an Int literal
            // probing a Long column would prune to the wrong bucket.
            val typed = lit(v).cast(base.schema(c).dataType)
            val rowids = posting(c)
              .filter(col(BucketCol) === pmod(hash(typed), lit(n)))
              .filter(col("__key") === typed)
              .select(RowId).distinct()
            // No broadcast hint: rows/ndv is only the MEAN posting-list
            // size, so it cannot rule out one skewed hot key with a
            // huge list. The distinct above already shuffles, and AQE
            // reads the ACTUAL rowid-set size at runtime — converting
            // to a broadcast semi-join when the key is genuinely small
            // and keeping the shuffled join when it is hot.
            base.join(rowids, Seq(RowId), "left_semi")
          case None => base
        }
      // Curve layouts (2-d z-order / Hilbert, N-dim z-order) share
      // ONE grid walk: every condition over an indexed column bounds
      // its dimension, the driver keeps the cells inside the
      // hyper-rectangle, and only the cell NUMBERING differs (the
      // Hilbert renumber; identity for z-order). Only overlapping
      // cells are read.
      case Some(c) if CurveKinds.contains(layout(0)) =>
        val (colsN, bits, cutsOf, renumber) =
          parseCurve(props.getProperty("layout"))
        val nDims = colsN.size
        val ranges: Seq[(Int, (Int, Int))] = conds.flatMap { cond =>
          val d = colsN.indexOf(cond.column)
          if (d < 0) None
          else bucketRange(cutsOf(d), cond.cmp, (1 << bits) - 1).map((d, _))
        }
        val cells = (0 until (1 << (nDims * bits))).flatMap { z =>
          val keep = ranges.forall { case (d, (lo, hi)) =>
            val v = zCoordN(z, nDims, bits, d); v >= lo && v <= hi
          }
          if (keep) Some(renumber(z)) else None
        }
        base.filter(col(BucketCol).isin(cells: _*))
      case Some(c) if c == layout(1) =>
        layout(0) match {
          case "hash" =>
            val n = layout(2).toInt
            val probes = conds.collect {
              case graft.core.Condition(`c`, graft.core.Comparison.Equal(graft.core.Value.Const(v))) =>
                // Same type-sensitive-hash discipline as the posting probe.
                pmod(hash(lit(v).cast(base.schema(c).dataType)), lit(n))
            }
            // equality probe → single bucket (constant-folded → pruned)
            probes.foldLeft(base)((df, b) => df.filter(col(BucketCol) === b))
          case "range" =>
            val bounds = if (layout(2).isEmpty) Array.empty[Double]
              else layout(2).split(",").map(_.toDouble)
            val probes: Seq[Column] = conds.collect {
              case graft.core.Condition(`c`, cmp) => cmp match {
                case graft.core.Comparison.Equal(graft.core.Value.Const(v)) =>
                  col(BucketCol) === rangeBucket(lit(v), bounds)
                case graft.core.Comparison.Between(graft.core.Value.Const(lo), _, graft.core.Value.Const(hi), _) =>
                  col(BucketCol).between(rangeBucket(lit(lo), bounds), rangeBucket(lit(hi), bounds))
                case graft.core.Comparison.Less(graft.core.Value.Const(v), _) =>
                  col(BucketCol) <= rangeBucket(lit(v), bounds)
                case graft.core.Comparison.Greater(graft.core.Value.Const(v), _) =>
                  col(BucketCol) >= rangeBucket(lit(v), bounds)
                case _ => lit(true)
              }
            }
            probes.foldLeft(base)((df, p) => df.filter(p))
        }
      // No index serves — an equality condition on a bloom column can
      // still prune to the buckets whose filter passes (a superset:
      // bloom false positives only widen the scan, the re-filter below
      // keeps results exact; no false negatives by construction).
      case _ =>
        conds.collectFirst {
          case graft.core.Condition(c, graft.core.Comparison.Equal(graft.core.Value.Const(v)))
              if props.getProperty(s"bloom.$c") != null => (c, v)
        } match {
          case Some((c, v)) =>
            bloomBuckets(c, v) match {
              case Some(buckets) if buckets.isEmpty => base.filter(lit(false))
              case Some(buckets) => base.filter(col(BucketCol).isin(buckets: _*))
              case None => base // unrenderable probe value: no pruning
            }
          case None => base
        }
    }
    val live = antiTs(pruned)
    live.filter(graft.core.Condition.all(conds)).drop(BucketCol)
    }

    /** Buckets whose bloom filter passes for value `v` on column `c`
      * (reads only the probe-bit words of the tiny sidecar). */
    private def bloomBuckets(c: String, v: Any): Option[Seq[Int]] =
      bloomBitsOf(v, base.schema(c).dataType).map { bits =>
      val words = bits.map(_ / 64).distinct
      val rows = spark.read.parquet(bloomDir(path, c))
        .filter(col("word").isin(words: _*)).collect()
      val byBucket = rows.groupBy(_.getAs[Int]("bucket")).map { case (b, rs) =>
        b -> rs.groupBy(_.getAs[Int]("word"))
          .map { case (w, ws) => w -> ws.map(_.getAs[Long]("bits")).reduce(_ | _) }
      }
      byBucket.collect { case (b, wordBits)
          if bits.forall(bit =>
            (wordBits.getOrElse(bit / 64, 0L) & (1L << (bit % 64))) != 0) => b
      }.toSeq.sorted
    }

    /** The reference's estimate-driven index choice against this open
      * store's sidecar. */
    def chooseIndex(conds: Seq[graft.core.Condition]): Option[String] =
      IndexedStore.chooseIndexIn(props, conds)

    /** Covering (index-only) probe: when a SECONDARY index probed by
      * an equality condition carries every column the caller needs —
      * the projection AND every condition column must fall in (key ∪
      * include ∪ __rowid) — the probe is served from the posting files
      * alone; the base data files are never read (only their footer
      * supplies the key type). The index is chosen among ALL covering
      * candidates by lowest estimate(), not estimate()-first-then-
      * coverage — an index-only read beats a lower-estimate base read,
      * so a covering index must not be bypassed just because another
      * index looks more selective. Tombstoned rowids filter out
      * exactly as on the base path, and include values cannot go stale
      * (insert/tombstone only, no in-place update). Falls back to
      * find()+select — same results, base-file read — only when NO
      * secondary index covers the request. */
    def findCovering(conds: Seq[graft.core.Condition],
        projection: Seq[String]): DataFrame = {
      val needed = (projection ++ conds.map(_.column)).distinct
      val covering = conds.collect {
          case graft.core.Condition(c,
              graft.core.Comparison.Equal(graft.core.Value.Const(_))) => c
        }.distinct
        .filter(c => props.getProperty(s"sec.$c") != null)
        .filter { c =>
          val carried = Set(c, RowId) ++ includeColumns(props, c)
          needed.forall(carried.contains)
        }
        .sortBy(c => estimate(props, c))
        .headOption
      covering match {
        case Some(c) =>
          val n = props.getProperty(s"sec.$c").toInt
          // c was collected from an Equal(Const) condition above, so
          // the probe value exists.
          val v = conds.collectFirst {
            case graft.core.Condition(`c`,
                graft.core.Comparison.Equal(graft.core.Value.Const(pv))) => pv
          }.get
          val typed = lit(v).cast(base.schema(c).dataType)
          val rows = posting(c)
            .filter(col(BucketCol) === pmod(hash(typed), lit(n)))
            .withColumnRenamed("__key", c)
            .filter(col(c) === typed)
          antiTs(rows)
            .filter(graft.core.Condition.all(conds))
            .select(projection.map(col): _*)
        case None =>
          find(conds).select(projection.map(col): _*)
      }
    }
  }

  private def antiTombstone(spark: SparkSession, path: String, df: DataFrame): DataFrame = {
    val tdir = new HPath(path, TombstoneDir)
    val f = hadoopFs(path)
    if (f.exists(tdir) &&
        f.listStatus(tdir).exists(_.getPath.getName.endsWith(".parquet"))) {
      val ts = spark.read.parquet(tdir.toString)
      df.join(broadcast(ts), Seq(RowId), "left_anti")
    } else df
  }

  /** Append a batch in the existing layout (reference insert,
    * lib.rs:178-187: new rows are fed to the maintained index). Row
    * count stats are refreshed; NDV goes stale until compact — the
    * reference's estimate is a heuristic, staleness only affects
    * index *choice*, never results. */
  /** `name:type` entries for the schema-identity contract between a
    * generation's layout write and its appends. */
  private def schemaSpecOf(df: DataFrame): String =
    df.schema.fields.map(f => s"${f.name}:${f.dataType.catalogString}")
      .mkString("|")

  def append(df: DataFrame, rootPath: String): Unit = {
    val path = resolve(rootPath)
    val props = loadProps(path)
    val layout = props.getProperty("layout").split(":", 3)
    // In-generation schema widening is UNSUPPORTED by construction:
    // the checkpoint-served relation samples ONE leaf footer for its
    // data schema ([[CkptFileIndex.dataSchemaOpt]]), so a widened
    // append would silently lose its new columns on read, a narrowed
    // one would NULL-pad, and a re-typed column would poison half the
    // footers. Enforce the contract loudly at write time against the
    // schema recorded in the generation's props (zero extra I/O;
    // name AND type). A legacy generation without the recorded
    // property keeps the pre-guard behavior.
    Option(props.getProperty("schema.cols")).foreach { spec =>
      val expected = spec.split("\\|").filter(_.nonEmpty).toSet
      val incoming = schemaSpecOf(df).split("\\|").filter(_.nonEmpty).toSet
      require(incoming == expected,
        s"append schema must match the generation's layout schema " +
          s"(extra: ${(incoming -- expected).toSeq.sorted.mkString(",")}; " +
          s"missing: ${(expected -- incoming).toSeq.sorted.mkString(",")}) — " +
          "in-generation schema widening is unsupported (the relation's " +
          "data schema comes from a single leaf footer)")
    }
    // one pass for the stats refresh AND the CDC entry's rowid range
    // (an appended batch is a contiguous rowid run — Store numbers
    // inserts after the current max); computed from the INPUT, before
    // any write, so the numbering contract rejects a bad batch with
    // nothing landed and the crash-recovery reconcile below cannot
    // mistake this batch's own files for a crashed predecessor's
    val stats = df.agg(count(lit(1)), min(col(RowId)), max(col(RowId))).head()
    // ONE log-dir read serves the format check and the high-water
    // mark; only the (rare) crash-recovery reconcile re-lists
    val genEntries = currentGenName(rootPath)
      .map(g => (g, genLogEntries(rootPath, g)))
    val tracked = genEntries.exists { case (g, es) => ckptFormat(es, g) }
    if (stats.getLong(0) > 0L) {
      val (n, lo, hi) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
      // the CDC entry PUBLISHES [lo,hi] as the batch — a gappy or
      // overlapping batch would silently stream foreign rows, so the
      // Store.insert numbering contract is enforced, not assumed
      require(n == hi - lo + 1, s"append batch rowids must be one " +
        s"contiguous run ($n rows over [$lo,$hi]) — the Store.insert " +
        "numbering contract the CDC entry publishes")
      genEntries.foreach { case (gen, es) =>
        val covered = coveredHi(es, gen)
        require(covered.forall(lo > _), s"append batch [$lo,$hi] " +
          s"overlaps rowids the log already covers (≤${covered.getOrElse(-1L)})")
        // free crash-recovery check: this batch's lo bounds any
        // unlogged predecessor run (a crashed earlier append); skipped
        // entirely when the bound proves no gap exists
        if (covered.exists(c => lo - 1 > c))
          reconcileMutationLog(rootPath, gen, Some(lo - 1))
      }
    }
    // file tracking: the listing diff around the data write is what
    // the append entry names, making the appended files visible to
    // log-gated readers (a production impl would capture them from
    // the committer's task manifests instead of a second LIST)
    val before = if (tracked) listDataFiles(path).toSet else Set.empty[String]
    val out = layout(0) match {
      case "hash" =>
        df.withColumn(BucketCol, pmod(hash(col(layout(1))), lit(layout(2).toInt)))
      case "range" =>
        val bounds = if (layout(2).isEmpty) Array.empty[Double]
          else layout(2).split(",").map(_.toDouble)
        df.withColumn(BucketCol, rangeBucket(col(layout(1)), bounds))
          .sortWithinPartitions(col(layout(1)))
      case kind @ ("zorder" | "hilbert" | "zordern") =>
        val (colsN, bits, cutsOf, _) = parseCurve(props.getProperty("layout"))
        val zc = zBucketN(colsN.map(col), colsN.indices.map(cutsOf), bits)
        df.withColumn(BucketCol, if (kind == "hilbert") hilbertFromZ(zc, bits) else zc)
          .sortWithinPartitions(col(colsN.head))
    }
    out.write.mode("append").partitionBy(BucketCol).parquet(path)
    val added =
      if (tracked) (listDataFiles(path).toSet -- before).toSeq.sorted
      else Seq.empty[String]
    // Maintain every secondary posting index and bloom sidecar,
    // mirroring the reference's on-insert index updates
    // (lib.rs:178-187).
    secondaryColumns(props).foreach { case (c, n, inc) =>
      writePostings(df, path, c, n, inc, overwrite = false)
    }
    bloomColumns(props).foreach(c => writeBloom(out, path, c, overwrite = false))
    props.setProperty("rows", (props.getProperty("rows").toLong + stats.getLong(0)).toString)
    storeProps(props, path)
    // the append-level CDC record, published only once everything the
    // entry promises (data, postings, blooms, stats, zone sidecar) is
    // on disk
    if (stats.getLong(0) > 0L) {
      val (lo, hi) = (stats.getLong(1), stats.getLong(2))
      val filesField =
        if (added.nonEmpty) s""","files":"${added.mkString(",")}"""" else ""
      // zone sidecar for the appended files (named by the batch's lo
      // rowid — unique per append under the contiguous-run contract),
      // written BEFORE the entry that promises it; the stats pass
      // reads back only this batch's own files, column-pruned. The
      // write executes the scan, so the whole attempt is fallible:
      // a failure just drops the zmap field (files admitted, never
      // pruned) — an append must not fail for an optimization tier.
      val zmapField = genEntries.collect {
        case (gen, _) if added.nonEmpty &&
            zonemapEnabled(SparkSession.active) =>
          val name = s"$gen-append-z$lo.parquet"
          zoneStatsFrame(SparkSession.active, gen, path,
              added.map(f => s"$path/$f"), props).flatMap { zs =>
            scala.util.Try {
              zs.coalesce(1).write.mode("overwrite")
                .parquet(new HPath(new HPath(rootPath, CkptDir), name).toString)
              s""","zmap":"$name""""
            }.toOption
          }.getOrElse("")
      }.getOrElse("")
      appendMutationLog(rootPath, "append",
        s""""lo":$lo,"hi":$hi$filesField$zmapField""")
    }
  }

  /** Delete matching rows by tombstoning their rowids (reference
    * delete, lib.rs:140-169, under the add/remove-only abstraction:
    * no in-place rewrite; readers filter the tombstoned rowids out). */
  def delete(spark: SparkSession, rootPath: String,
      conds: Seq[graft.core.Condition]): Unit = {
    val path = resolve(rootPath)
    val victims = find(spark, path, conds).select(RowId).cache()
    try {
      // A no-op delete writes nothing and logs nothing — Spark would
      // otherwise materialize a schema-only empty part file, and the
      // file-diff below would publish a CDC entry describing no change.
      if (victims.count() > 0L) {
        val tdir = new HPath(path, TombstoneDir)
        val f = hadoopFs(path)
        def tombstoneFiles: Set[String] =
          if (!f.exists(tdir)) Set.empty
          else f.listStatus(tdir).map(_.getPath.getName)
            .filter(_.endsWith(".parquet")).toSet
        // free crash-recovery check: tombstone files no delete entry
        // names yet are a crashed delete's — catch them up before
        // this delete adds its own
        currentGenName(rootPath).foreach(g =>
          reconcileMutationLog(rootPath, g, None))
        val before = tombstoneFiles
        victims.write.mode("append").parquet(tdir.toString)
        // The CDC record names exactly this delete's tombstone files —
        // without it a tombstoned row would NEVER stream (both sides of
        // every later gen-diff read it tombstone-free). Single-writer,
        // like the tombstone append itself.
        val added = (tombstoneFiles -- before).toSeq.sorted
        if (added.nonEmpty)
          appendMutationLog(rootPath, "delete",
            s""""files":"${added.mkString(",")}"""")
      }
    } finally victims.unpersist(): Unit
  }

  /** Add a secondary hash index to a store that already has rows,
    * backfilling postings from the current contents — the reference's
    * post-hoc `Store::index` with backfill (lib.rs:195-205). Stale
    * postings for tombstoned rows are harmless: the read path prunes
    * through postings first and filters tombstoned rowids afterwards,
    * and compact rebuilds postings from survivors. */
  def addIndex(spark: SparkSession, rootPath: String, idx: HashIndex): Unit = {
    val path = resolve(rootPath)
    val props = loadProps(path)
    val base = spark.read.parquet(path)
    writePostings(base, path, idx.column, idx.buckets, idx.include, overwrite = true)
    props.setProperty(s"kind.${idx.column}", "hash")
    props.setProperty(s"sec.${idx.column}", idx.buckets.toString)
    // Re-indexing REPLACES the postings, so the include list must
    // follow even when it shrinks to empty — a stale inc. property
    // would promise covering reads over columns the rewritten posting
    // files no longer carry.
    if (idx.include.nonEmpty)
      props.setProperty(s"inc.${idx.column}", idx.include.mkString(","))
    else props.remove(s"inc.${idx.column}")
    // Refresh this column's NDV so estimate()-based index choice can
    // rank the new index immediately.
    val ndv = base.agg(approx_count_distinct(col(idx.column))).head().getLong(0)
    props.setProperty(s"ndv.${idx.column}", math.max(ndv, 1L).toString)
    storeProps(props, path)
  }

  private def secondaryColumns(props: Properties): Seq[(String, Int, Seq[String])] = {
    import scala.jdk.CollectionConverters._
    props.stringPropertyNames().asScala.toSeq.sorted
      .filter(_.startsWith("sec."))
      .map { k =>
        val c = k.stripPrefix("sec.")
        (c, props.getProperty(k).toInt, includeColumns(props, c))
      }
  }

  private def includeColumns(props: Properties, column: String): Seq[String] =
    Option(props.getProperty(s"inc.$column"))
      .map(_.split(",").toSeq).getOrElse(Nil)

  private def bloomColumns(props: Properties): Seq[String] = {
    import scala.jdk.CollectionConverters._
    props.stringPropertyNames().asScala.toSeq.sorted
      .filter(_.startsWith("bloom."))
      .map(_.stripPrefix("bloom."))
  }

  /** Fold tombstones into a rewrite (the compaction every
    * tombstone-based store eventually needs); secondary postings are
    * rebuilt from the surviving rows. The new generation is built
    * entirely to the side of the live one and published with the
    * manifest-pointer swap: a crash at ANY point leaves the old
    * generation live (a half-built gen dir is swept by the next
    * commit), and open handles keep reading the generation they
    * resolved. A legacy (pre-manifest) store compacts INTO the
    * manifest layout: its root files become gen-000001's
    * predecessor and are swept after the pointer lands. */
  def compact(spark: SparkSession, rootPath: String): Unit = {
    val cur = resolve(rootPath)
    val props = loadProps(cur)
    val layout = props.getProperty("layout").split(":", 3)
    // Heal the outgoing generation FIRST, then rebuild from the
    // log-gated view: catch-ups make crashed-but-unlogged mutations
    // part of the net state before the read, and crash DEBRIS the
    // reconcile swept (duplicate rowids the log already covers) can
    // never be resurrected into the new generation — a directory read
    // here would bake such duplicates in permanently.
    currentGenName(rootPath).foreach(g =>
      reconcileMutationLog(rootPath, g, Some(Long.MaxValue)))
    val live = open(spark, rootPath).find(Nil)
    val spec: IndexSpec = layout(0) match {
      case "hash" => HashIndex(layout(1), layout(2).toInt)
      case "range" => RangeIndex(layout(1))
      case "zorder" =>
        val zs = props.getProperty("layout").split(":", 5)
        ZOrderIndex(zs(1), zs(2), zs(3).toInt)
      case "hilbert" =>
        val zs = props.getProperty("layout").split(":", 5)
        HilbertIndex(zs(1), zs(2), zs(3).toInt)
      case "zordern" =>
        val zs = props.getProperty("layout").split(":", 4)
        ZOrderNIndex(zs(1).split(",").toSeq, zs(2).toInt)
    }
    val token = beginCommit(rootPath)
    try {
      val gen = nextGenName(rootPath)
      writeLayout(live, new HPath(rootPath, gen).toString, spec, Nil,
        secondary = secondaryColumns(props).map { case (c, n, inc) => HashIndex(c, n, inc) },
        bloom = bloomColumns(props))
      commitAndSweep(rootPath, gen, token)
    } catch {
      case e: Throwable => abortCommit(rootPath, token); throw e
    }
  }
}
