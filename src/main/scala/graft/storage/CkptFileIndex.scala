package graft.storage

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BoundReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, InterpretedPredicate, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{IntegerType, StructType}
import graft.core.{Comparison, Condition, Value}

/** A [[FileIndex]] that serves a store generation's file inventory
  * straight from its commit checkpoint (`_graft_ckpt/<gen>.parquet`)
  * — the distributed checkpoint read (the Delta/Iceberg snapshot-
  * reader tier, reference README.md:7's "indexed, queryable" store
  * surface at object-store metadata scale) and the store's ONLY
  * inventory read: every [[IndexedStore.OpenStore]] is served by one.
  *
  * Collecting a whole inventory — every file's path AND zone bounds —
  * to the driver costs ~92 B/file, ~0.9 GB of driver heap at 10⁷
  * files. Above its adaptive threshold this index instead evaluates
  * the listing ON EXECUTORS: `listFiles` runs one Spark job over the
  * (tiny, columnar) checkpoint, applies the probe's zone conditions
  * inside that scan with the conservative
  * [[IndexedStore.zoneAdmits]] admission, and
  * collects ONLY the surviving (path, length, mtime) triples — driver
  * memory scales with what the probe READS, not with what the store
  * HOLDS. Split planning needs no per-file stat because
  * checkpoints record `__flen`/`__fmtime` alongside each path.
  *
  * Both pruning tiers ride Catalyst's OWN pushdown: `find`'s bucket
  * filters arrive as `partitionFilters` (the `__bucket=N` directory
  * is a partition column) and its re-filter conditions arrive as
  * `dataFilters` — no side channel. Partition selection must be
  * EXACT (FileSourceStrategy does not re-apply partition-only
  * predicates after the scan), so the full conjunction is evaluated
  * per distinct surviving bucket on the driver — a ≤`buckets`-sized
  * loop, never a per-file one. Zone pruning stays conservative
  * (superset + re-filter, like every access path in this store).
  *
  * Files appended AFTER the checkpoint (`extras` — named by their log
  * entries, zone-bounded by their append sidecars) are handled
  * driver-side: they are O(mutations since commit), the same order as
  * the log entries any reader already parses.
  *
  * While the driver-side tier is live ([[driverTier]]) the planner's
  * [[CkptLocalScan]] strategy asks this index for a probe's pruned
  * listing and, when it is small, reads those files on the driver
  * instead of planning a Spark scan; the listing is the same either
  * way.
  */
private[graft] final class CkptFileIndex(
    spark: SparkSession,
    genPath: String,
    ckptParquet: String,
    extras: Seq[CkptFileIndex.ExtraFile],
    bucketed: Boolean) extends FileIndex {

  import CkptFileIndex._

  private val qualifiedGen: String = {
    val p = new HPath(genPath)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
  }

  /** One lazy handle over the checkpoint; every listFiles job plans
    * from it (a single small parquet — the scan is one task). */
  private val inv = spark.read.parquet(ckptParquet)

  override def rootPaths: Seq[HPath] = Seq(new HPath(genPath))

  override val partitionSchema: StructType =
    if (bucketed) StructType(Seq(
      org.apache.spark.sql.types.StructField("__bucket", IntegerType, nullable = true)))
    else StructType(Nil)

  override def refresh(): Unit = ()

  /** Total bytes from the checkpoint's recorded lengths — one
    * distributed agg, no path ever collected. */
  override lazy val sizeInBytes: Long = (collected match {
    case Some(rows) => rows.iterator.map(_._2).sum
    case None =>
      val row = inv.agg(org.apache.spark.sql.functions.sum("__flen")).head()
      if (row.isNullAt(0)) 0L else row.getLong(0)
  }) + extras.map(_.len).sum

  /** Full inventory as qualified URIs — spec/diagnostic surface
    * (LogViewSpec pins the exact inventory through it); the QUERY
    * path never calls this. Served from the small-inventory tier when
    * it is live (no extra collect); otherwise the collect is BOUNDED
    * by `graft.store.ckptFileIndex.inputFilesMax` (default 10⁶ paths
    * ≈ tens of MB) — a 10⁷-file generation fails LOUDLY pointing at
    * the checkpoint parquet rather than silently ballooning driver
    * heap or truncating a diagnostic that callers treat as exact. */
  override def inputFiles: Array[String] = {
    val rels: Array[String] = collected match {
      case Some(rows) => rows.map(_._1)
      case None =>
        val cap = graft.core.Confs.intConf(spark,
          "graft.store.ckptFileIndex.inputFilesMax", 1000000, min = 1)
        val rows = inv.select("path").limit(cap + 1).collect()
        if (rows.length > cap) throw new IllegalStateException(
          s"inputFiles would collect more than $cap checkpointed paths " +
            s"(raise graft.store.ckptFileIndex.inputFilesMax, or query the " +
            s"inventory frame directly: $ckptParquet)")
        rows.map(_.getString(0))
    }
    (rels.map(rel => s"$qualifiedGen/$rel") ++
      extras.map(e => s"$qualifiedGen/${e.rel}")).distinct.sorted
  }

  /** Rows collected by the most recent listFiles call — the
    * driver-heap-independence observable CkptIndexSpec pins (a pruned
    * probe must collect survivors, never the inventory). */
  @volatile private[graft] var lastListedFiles: Long = -1L

  /** The zone columns the checkpoint carries. */
  private val zAvail = inv.schema.fieldNames
    .filter(_.startsWith("__zmin_")).map(_.stripPrefix("__zmin_")).toSet

  /** The ADAPTIVE metadata tier (Delta's in-memory-snapshot-vs-
    * log-job split): an inventory at or under
    * `graft.store.ckptFileIndex.collectThreshold` rows (default
    * 65 536 ≈ a few MB) is collected ONCE per open and every probe's
    * listing evaluates driver-side — zero extra Spark jobs on the
    * probe path, the latency class point lookups need. Above the
    * threshold the tier stays None and each listing runs as a
    * distributed job over the checkpoint, collecting survivors only —
    * the driver-heap-independence class a 10⁷-file store needs. Both
    * tiers run the identical admission code. */
  private lazy val collected: Option[Array[(String, Long, Long,
      Map[String, IndexedStore.ZoneRange])]] = {
    val threshold = graft.core.Confs.intConf(spark,
      "graft.store.ckptFileIndex.collectThreshold", 65536, min = 0)
    // ONE job decides the tier AND materializes it: limit(t+1) caps
    // what a huge inventory can ever ship to the driver, and exactly
    // t+1 rows back means "too big — stay distributed"
    val rows = inv.limit(threshold + 1).collect()
    collectedRead = true
    if (rows.length > threshold) None
    else Some(rows.map { r =>
      val zones = zAvail.toSeq.sorted.flatMap { c =>
        val lo = r.getAs[Any](s"__zmin_$c")
        val hi = r.getAs[Any](s"__zmax_$c")
        if (lo == null || hi == null) None
        else Some(c -> IndexedStore.ZoneRange(lo, hi))
      }.toMap
      (r.getAs[String]("path"), r.getAs[Long]("__flen"),
        r.getAs[Long]("__fmtime"), zones)
    })
  }

  @volatile private var collectedRead = false

  /** True once the driver-side tier above has been read and holds the
    * inventory: every listing is then a driver loop, never a job.
    * Reading this never triggers the tier's collect — the
    * [[CkptLocalScan]] planner asks it to decide, for free, whether a
    * probe's pruned listing can be served on the driver. */
  private[graft] def driverTier: Boolean = collectedRead && collected.isDefined

  /** One checkpointed rel path (schema-sample source for the relation
    * builder) — free when the small-inventory tier is live, one
    * limit-1 job otherwise. */
  private[graft] def samplePath: Option[String] = collected match {
    case Some(rows) => rows.headOption.map(_._1)
    case None => inv.select("path").limit(1).collect().headOption.map(_.getString(0))
  }

  /** The relation's data schema from ONE leaf footer (appends share
    * the layout schema by construction); None for an empty generation
    * with no appends. Memoized with the instance so repeat opens of
    * one store never re-read a footer ([[CkptFileIndex.cached]]). */
  private[graft] lazy val dataSchemaOpt: Option[StructType] =
    samplePath.orElse(extras.headOption.map(_.rel))
      .map(rel => spark.read.parquet(s"$genPath/$rel").schema)

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val conds = zoneConds(dataFilters)
    val zoneOn = IndexedStore.zonemapEnabled(spark) && conds.nonEmpty
    // checkpoint side: only columns the checkpoint actually bounds can
    // prune its files (zoneAdmits admits on missing bounds anyway —
    // restricting the scan is a column-pruning optimization, not a
    // semantic gate); extras carry their own sidecar bounds and are
    // gated independently below — the zone-band fixture is exactly an
    // EMPTY base commit whose every file arrives by append
    val probed = conds.map(_.column).distinct.filter(zAvail.contains)
    // bucket prefilter, evaluated wherever the listing runs:
    // translatable partition predicates (eq / in / ranges — everything
    // find() emits) prune early, so a bucket-selective probe on a huge
    // store never collects the other buckets' files; untranslatable
    // shapes admit here and are caught by the EXACT selection below
    // (conservative superset, exact finish — never the reverse)
    val bPredsB = bucketPreds(dataFiltersOrPart = partitionFilters)
    val prefilter = zoneOn || bPredsB.nonEmpty
    val ckptSurvivors: Array[(String, Long, Long)] = collected match {
      case Some(rows) =>
        // small-inventory tier: pure driver evaluation, no job
        rows.iterator.filter { case (rel, _, _, zones) =>
          (!prefilter ||
            ((!zoneOn || IndexedStore.zoneAdmits(zones, conds)) &&
              bucketOfOpt(rel).forall(b => bPredsB.forall(_.admits(b)))))
        }.map { case (rel, len, mtime, _) => (rel, len, mtime) }.toArray
      case None =>
        // distributed tier: admission runs INSIDE the checkpoint scan
        // — same conservative zoneAdmits, evaluated on executors; only
        // survivors ever reach the driver
        val sel = Seq("path", "__flen", "__fmtime") ++
          (if (zoneOn) probed.flatMap(c => Seq(s"__zmin_$c", s"__zmax_$c")) else Nil)
        val scan = inv.select(sel.head, sel.tail: _*)
        val filtered =
          if (!prefilter) scan
          else scan.filter { (r: Row) =>
            val zok = probed.isEmpty || {
              val zones = probed.flatMap { c =>
                val lo = r.getAs[Any](s"__zmin_$c")
                val hi = r.getAs[Any](s"__zmax_$c")
                if (lo == null || hi == null) None
                else Some(c -> IndexedStore.ZoneRange(lo, hi))
              }.toMap
              IndexedStore.zoneAdmits(zones, conds)
            }
            zok && bucketOfOpt(r.getString(0)).forall(b => bPredsB.forall(_.admits(b)))
          }
        filtered.select("path", "__flen", "__fmtime").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    }
    val extraSurvivors = extras
      .filter(e => (!zoneOn || IndexedStore.zoneAdmits(e.zones, conds)) &&
        bucketOfOpt(e.rel).forall(b => bPredsB.forall(_.admits(b))))
      .map(e => (e.rel, e.len, e.mtime))
    val all = (ckptSurvivors ++ extraSurvivors)
      .groupBy(_._1).map(_._2.head).toSeq // appends can never re-name a checkpointed file; dedupe defensively
    def status(rel: String, len: Long, mtime: Long): FileStatus =
      new FileStatus(len, false, 1, 128L * 1024 * 1024, mtime,
        new HPath(s"$qualifiedGen/$rel"))
    if (!bucketed) {
      lastListedFiles = all.size.toLong
      return Seq(PartitionDirectory(InternalRow.empty,
        all.map { case (r, l, m) => status(r, l, m) }.toArray))
    }
    val grouped = all.groupBy { case (rel, _, _) => bucketOf(rel) }
    // EXACT partition selection: the engine does not re-apply
    // partition-only predicates after pruning, so the full
    // conjunction is evaluated per distinct bucket (≤ buckets values)
    val kept: Set[Int] =
      if (partitionFilters.isEmpty) grouped.keySet.toSet
      else {
        val bound = partitionFilters.reduce(And).transform {
          case a: Attribute => BoundReference(0, a.dataType, nullable = true)
        }
        val pred = InterpretedPredicate(bound)
        pred.initialize(0)
        grouped.keySet.filter(b => pred.eval(InternalRow(b))).toSet
      }
    val dirs = grouped.toSeq.filter(g => kept.contains(g._1)).sortBy(_._1).map {
      case (b, files) =>
        PartitionDirectory(InternalRow(b),
          files.map { case (r, l, m) => status(r, l, m) }.toArray)
    }
    lastListedFiles = dirs.map(_.files.size.toLong).sum
    dirs
  }
}

private[graft] object CkptFileIndex {

  /** A post-checkpoint append file: log-entry-named, sidecar-zone-
    * bounded (empty zones admit always), stat'ed once at open —
    * O(mutations since commit), the order a log reader already pays. */
  final case class ExtraFile(rel: String, len: Long, mtime: Long,
      zones: Map[String, IndexedStore.ZoneRange])

  /** Signature-keyed instance memo (the [[IndexedStore.readCkptData]]
    * ckptCache discipline): a checkpoint is immutable once its
    * generation committed, so repeat opens of one store generation reuse the
    * SAME index — the adaptive tier's limit-collect job, the schema
    * footer read, and sizeInBytes all amortize to once per
    * generation instead of once per open (the sc_* micro-lines open
    * per query). Keyed WEAKLY by session (a cached index pins its
    * SparkSession, its checkpoint DataFrame, and up to a
    * threshold-sized collected inventory — a stopped-and-dropped
    * session must release all of it, and identity-hash keys are not
    * unique across a session's lifetime); inside a session, the key
    * carries the checkpoint's content signature (a recreated store
    * at the same path misses), the extras fingerprint INCLUDING zone
    * bounds (an append whose sidecar changed under an unchanged
    * rel:len:mtime must miss), and the collect-threshold conf (the
    * tier decision is baked into the instance — CkptIndexSpec's
    * forced-distributed runs must not hit a driver-tier instance).
    * Per-session maps are crudely bounded like ckptCache. */
  private val fiCache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, CkptFileIndex]]()

  private[graft] def cached(spark: SparkSession, genPath: String,
      ckptParquet: String, extras: Seq[ExtraFile],
      bucketed: Boolean): CkptFileIndex = {
    val sig = IndexedStore.ckptSignature(spark, ckptParquet)
    val exFp = extras.map { e =>
      val zs = e.zones.toSeq.sortBy(_._1)
        .map { case (c, z) => s"$c=${z.min}..${z.max}" }.mkString(",")
      s"${e.rel}:${e.len}:${e.mtime}:[$zs]"
    }.mkString("|")
    val thr = graft.core.Confs.intConf(spark,
      "graft.store.ckptFileIndex.collectThreshold", 65536, min = 0)
    val key = s"$ckptParquet#$sig#$thr#$bucketed#$exFp"
    val perSession = fiCache.synchronized {
      var m = fiCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, CkptFileIndex]()
        fiCache.put(spark, m)
      }
      m
    }
    if (perSession.size > 256) perSession.clear()
    perSession.computeIfAbsent(key,
      _ => new CkptFileIndex(spark, genPath, ckptParquet, extras, bucketed))
  }

  /** Bucket id from the checkpoint's gen-relative path form
    * (`__bucket=N/part-…`). Construction guarantees the prefix
    * ([[IndexedStore]] always lays data out under bucket dirs); a
    * malformed path fails loudly rather than mis-assigning partition
    * values (a wrong bucket value would corrupt row-level partition
    * filters, not just pruning). */
  private def bucketOf(rel: String): Int = {
    require(rel.startsWith("__bucket="),
      s"checkpointed data file outside a bucket dir: $rel")
    rel.substring("__bucket=".length, rel.indexOf('/')).toInt
  }

  /** Lenient twin for the DISTRIBUTED prefilter: an unparseable path
    * admits (None) rather than throwing inside a task — the exact
    * driver-side [[bucketOf]] then surfaces the malformed path
    * loudly. */
  private def bucketOfOpt(rel: String): Option[Int] =
    if (!rel.startsWith("__bucket=")) None
    else {
      val slash = rel.indexOf('/')
      if (slash < 0) None
      else rel.substring("__bucket=".length, slash).toIntOption
    }

  /** Serializable bucket predicates for the distributed prefilter —
    * the shapes find() emits on the partition column (eq / isin /
    * range bounds). Conservative by construction: anything the
    * translator does not recognize simply produces no predicate, and
    * the exact InterpretedPredicate pass on the collected survivors
    * finishes the selection. */
  private sealed trait BucketPred extends Serializable {
    def admits(b: Int): Boolean
  }
  private final case class BEq(x: Int) extends BucketPred {
    def admits(b: Int): Boolean = b == x
  }
  private final case class BIn(xs: Set[Int]) extends BucketPred {
    def admits(b: Int): Boolean = xs.contains(b)
  }
  private final case class BLe(x: Int, orEq: Boolean) extends BucketPred {
    def admits(b: Int): Boolean = if (orEq) b <= x else b < x
  }
  private final case class BGe(x: Int, orEq: Boolean) extends BucketPred {
    def admits(b: Int): Boolean = if (orEq) b >= x else b > x
  }

  private def bucketPreds(dataFiltersOrPart: Seq[Expression]): Seq[BucketPred] = {
    def asInt(l: Literal): Option[Int] = l.value match {
      case i: java.lang.Integer => Some(i.intValue)
      case i: java.lang.Long => Some(i.intValue)
      case _ => None
    }
    dataFiltersOrPart.flatMap {
      case EqualTo(_: Attribute, l: Literal) => asInt(l).map(BEq)
      case EqualTo(l: Literal, _: Attribute) => asInt(l).map(BEq)
      case org.apache.spark.sql.catalyst.expressions.In(_: Attribute, vs)
          if vs.forall(_.isInstanceOf[Literal]) =>
        val ints = vs.collect { case l: Literal => asInt(l) }
        if (ints.forall(_.isDefined)) Some(BIn(ints.flatten.toSet)) else None
      case org.apache.spark.sql.catalyst.expressions.InSet(_: Attribute, vs) =>
        val ints = vs.toSeq.map {
          case i: java.lang.Integer => Some(i.intValue)
          case i: java.lang.Long => Some(i.intValue)
          case _ => None
        }
        if (ints.forall(_.isDefined)) Some(BIn(ints.flatten.toSet)) else None
      case LessThan(_: Attribute, l: Literal) => asInt(l).map(BLe(_, orEq = false))
      case LessThanOrEqual(_: Attribute, l: Literal) => asInt(l).map(BLe(_, orEq = true))
      case GreaterThan(_: Attribute, l: Literal) => asInt(l).map(BGe(_, orEq = false))
      case GreaterThanOrEqual(_: Attribute, l: Literal) => asInt(l).map(BGe(_, orEq = true))
      case LessThan(l: Literal, _: Attribute) => asInt(l).map(BGe(_, orEq = false))
      case LessThanOrEqual(l: Literal, _: Attribute) => asInt(l).map(BGe(_, orEq = true))
      case GreaterThan(l: Literal, _: Attribute) => asInt(l).map(BLe(_, orEq = false))
      case GreaterThanOrEqual(l: Literal, _: Attribute) => asInt(l).map(BLe(_, orEq = true))
      case _ => None
    }
  }

  /** Data filters → zone conditions, conservatively: only plain
    * attr-vs-literal comparisons translate (exactly what
    * [[graft.core.Condition]] can express); anything else prunes
    * nothing. Literals convert to external Scala values so
    * [[IndexedStore.zoneCmp]] sees the same representations the
    * checkpoint's collected bounds carry (same converters, same NTZ
    * discipline). */
  private def zoneConds(filters: Seq[Expression]): Seq[Condition] = {
    def const(l: Literal): Option[Any] = Option(l.value)
      .map(v => CatalystTypeConverters.createToScalaConverter(l.dataType)(v))
    def c(name: String, cmp: Any => Comparison, l: Literal): Option[Condition] =
      const(l).map(v => Condition(name, cmp(v)))
    filters.flatMap {
      case EqualTo(a: Attribute, l: Literal) => c(a.name, v => Comparison.Equal(Value.Const(v)), l)
      case EqualTo(l: Literal, a: Attribute) => c(a.name, v => Comparison.Equal(Value.Const(v)), l)
      case LessThan(a: Attribute, l: Literal) => c(a.name, v => Comparison.Less(Value.Const(v), orEqual = false), l)
      case LessThanOrEqual(a: Attribute, l: Literal) => c(a.name, v => Comparison.Less(Value.Const(v), orEqual = true), l)
      case GreaterThan(a: Attribute, l: Literal) => c(a.name, v => Comparison.Greater(Value.Const(v), orEqual = false), l)
      case GreaterThanOrEqual(a: Attribute, l: Literal) => c(a.name, v => Comparison.Greater(Value.Const(v), orEqual = true), l)
      // literal-on-the-left range forms arrive flipped
      case LessThan(l: Literal, a: Attribute) => c(a.name, v => Comparison.Greater(Value.Const(v), orEqual = false), l)
      case LessThanOrEqual(l: Literal, a: Attribute) => c(a.name, v => Comparison.Greater(Value.Const(v), orEqual = true), l)
      case GreaterThan(l: Literal, a: Attribute) => c(a.name, v => Comparison.Less(Value.Const(v), orEqual = false), l)
      case GreaterThanOrEqual(l: Literal, a: Attribute) => c(a.name, v => Comparison.Less(Value.Const(v), orEqual = true), l)
      case _ => None
    }
  }
}
