package graft.storage

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{GraftRelationBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeSeq, AttributeSet, BindReferences, Expression, InterpretedUnsafeProjection, Literal, NamedExpression, Predicate, PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{ExplainUtils, FileSourceScanExec, LeafExecNode, SparkPlan, SparkStrategy, SQLExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, FileFormat, HadoopFsRelation, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.StructType

/** The driver-local execution path for store scans whose pruned file
  * listing is small — the point-get floor. A `get` on a hash layout
  * lists one bucket's files; running that through a Spark job costs a
  * job launch plus, under whole-stage codegen, a Janino compile of
  * classes that inline each probe literal (about two compiles per
  * distinct key). Served here, the same listing is read in the driver
  * with `ParquetFileFormat`'s own reader function (same partition
  * values; built once per handle shape, [[readerOf]]), every filter
  * runs as an interpreted predicate and the projection as an
  * interpreted unsafe projection: no job, no compile.
  *
  * The planner [[CkptLocalScan]] matches a Project/Filter chain over a
  * [[CkptFileIndex]]-backed relation, and only while the index's
  * driver-side inventory tier is live, so deciding never costs a job.
  * It splits the filters the way `FileSourceStrategy` does, asks the
  * index for the pruned listing, and plans a [[CkptLocalScanExec]]
  * when the listing holds at most `MaxFiles` files and `MaxBytes`
  * bytes. Otherwise, on the distributed tier, or for any other
  * relation it returns nothing and `FileSourceStrategy` plans the
  * usual scan. It is registered on a session when the session opens
  * its first store ([[register]]); sessions that never open one plan
  * exactly as before. */
private[graft] object CkptLocalScan extends SparkStrategy with PredicateHelper {

  /** The bound, sized on a 4-cpu host against the benchmark's
    * ~300k-row, 64-bucket lineitem store (one bucket file ≈ 120 KB,
    * ≈ 4.7k rows), probing k buckets with a fresh literal each time:
    * the local read took 19, 33, 51, 75 and 116 ms for k = 1, 2, 8,
    * 16 and 24 files (≈ 15 ms fixed + ≈ 3.8 ms a file), the Spark
    * scan of the same listing 91–122 ms at every k (a job plus the
    * codegen of each new literal). The two meet at ≈ 20 files ≈
    * 2.4 MB; the bound stays below on both counts, so a larger file
    * size cannot push a local read past the scan it replaces. Every
    * get and eq ∧ eq probe (one bucket: its checkpointed file plus
    * one file per append since) sits far below it; range probes,
    * which touch every bucket, stay on Spark. */
  private val MaxFiles = 16
  private val MaxBytes = 2L << 20

  /** Add the strategy to `spark`'s planner, once (the
    * `extraStrategies` set-up pattern). */
  def register(spark: SparkSession): Unit = {
    val ex = spark.experimental
    ex.synchronized {
      if (!ex.extraStrategies.contains(this))
        ex.extraStrategies = this +: ex.extraStrategies
    }
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(projects, filters,
        l @ LogicalRelation(rel: HadoopFsRelation, _, _, false, _)) =>
      rel.location match {
        case fi: CkptFileIndex if fi.driverTier => localScan(projects, filters, l, rel, fi).toSeq
        case _ => Nil
      }
    case _ => Nil
  }

  private def localScan(projects: Seq[NamedExpression], filters: Seq[Expression],
      l: LogicalRelation, rel: HadoopFsRelation, fi: CkptFileIndex): Option[SparkPlan] = {
    val exprs = projects ++ filters
    if (exprs.exists(SubqueryExpression.hasSubquery) ||
        !AttributeSet(exprs.flatMap(_.references)).subsetOf(l.outputSet)) return None
    // the split FileSourceStrategy makes: partition-key filters prune
    // the listing exactly; data filters (partition columns extracted
    // out) zone-prune it
    val normalized = GraftRelationBridge.normalizeExprs(filters, l.output)
    val partCols = l.resolve(rel.partitionSchema,
      rel.sparkSession.sessionState.analyzer.resolver)
    val partSet = AttributeSet(partCols)
    val partitionFilters = DataSourceStrategy.getPushedDownFilters(partCols, normalized).toSeq
    val dataCols = AttributeSet(l.output.filterNot(partSet.contains))
    val dataFilters = normalized.flatMap { f =>
      if (f.references.intersect(partSet).nonEmpty) extractPredicatesWithinOutputSet(f, dataCols)
      else Some(f)
    }
    val listing = fi.listFiles(partitionFilters, dataFilters)
    val files = listing.flatMap { d =>
      d.files.map { f =>
        val st = f.fileStatus
        PartitionedFile(d.values, SparkPath.fromPath(st.getPath), 0L, st.getLen,
          Array.empty[String], st.getModificationTime, st.getLen)
      }
    }
    if (files.size > MaxFiles || files.map(_.fileSize).sum > MaxBytes) return None
    val refs = AttributeSet(exprs.flatMap(_.references))
    val dataAttrs = l.output.filter(a => refs.contains(a) && !partSet.contains(a))
    Some(CkptLocalScanExec(projects.map(_.toAttribute), projects, filters,
      partitionFilters, dataAttrs, partCols, rel, files))
  }

  /** `ParquetFileFormat`'s row reader for files of one relation
    * shape: each file's rows carry `requiredSchema`'s columns then
    * `partitionSchema`'s values, exactly as a scan task reads them.
    * No filter is pushed into it (see [[readerOf]]). The caller must
    * drain each file's iterator (that closes the file). */
  private[graft] def reader(spark: SparkSession, dataSchema: StructType,
      partitionSchema: StructType, requiredSchema: StructType,
      options: Map[String, String]): PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(spark, dataSchema,
      partitionSchema, requiredSchema, Nil,
      options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConfWithOptions(options))

  /** Readers memoized by relation and required columns, weakly keyed
    * so a dropped handle's readers go with it: a handle builds one per
    * probe shape, not one per probe. Building a reader broadcasts the
    * Hadoop conf, which measured ≈ 11 ms against ≈ 8 ms to read a
    * one-bucket file of the benchmark store (4-cpu host) — so the
    * reader is built without pushed filters, which vary with each
    * probe literal. Every filter still runs row by row in the exec;
    * what is given up is parquet's row-group skipping, and a listing
    * of at most `MaxFiles` small files is one row group per file,
    * which the zone tier already prunes by min/max wherever the
    * checkpoint tracks the column. */
  private val readers = new java.util.WeakHashMap[HadoopFsRelation,
    java.util.concurrent.ConcurrentHashMap[StructType, PartitionedFile => Iterator[InternalRow]]]()

  private[storage] def readerOf(rel: HadoopFsRelation,
      requiredSchema: StructType): PartitionedFile => Iterator[InternalRow] =
    readers.synchronized(readers.computeIfAbsent(rel,
        _ => new java.util.concurrent.ConcurrentHashMap()))
      .computeIfAbsent(requiredSchema, r =>
        reader(rel.sparkSession, rel.dataSchema, rel.partitionSchema, r, rel.options))

  /** A whole parquet file as a reader input. */
  private[graft] def wholeFile(path: String, len: Long, mtime: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPath(new HPath(path)), 0L, len,
      Array.empty[String], mtime, len)

  /** Files and bytes one executed file scan read: a Spark
    * `FileSourceScanExec` or a driver-local [[CkptLocalScanExec]]. */
  final case class ScanRead(relation: HadoopFsRelation, files: Long, bytes: Long)

  /** Every file scan of an executed plan with what it read — AQE
    * plans, materialized query stages and subqueries included — so a
    * files-read count means the same on both execution paths. */
  def scanReads(plan: SparkPlan): Seq[ScanRead] = {
    def metric(m: Map[String, SQLMetric], k: String): Long = m.get(k).map(_.value).getOrElse(0L)
    def walk(p: SparkPlan): Seq[ScanRead] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case f: FileSourceScanExec =>
        Seq(ScanRead(f.relation, metric(f.metrics, "numFiles"), metric(f.metrics, "filesSize")))
      case c: CkptLocalScanExec =>
        Seq(ScanRead(c.relation, metric(c.metrics, "numFiles"), metric(c.metrics, "filesSize")))
      case other => other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
    }
    walk(plan)
  }

  /** Data files read by the scans of an executed plan ([[scanReads]]). */
  def filesRead(plan: SparkPlan): Long = scanReads(plan).map(_.files).sum
}

/** A store scan served on the driver ([[CkptLocalScan]]): reads the
  * planned `files` with the relation's parquet reader, keeps the rows
  * every one of `filters` admits (interpreted — no codegen per probe
  * literal) and applies `projects`. Collect, take and to-iterator
  * never launch a job; `doExecute` serves the same rows
  * as a one-partition RDD so any parent operator still works. Reports
  * `numFiles`, `filesSize` and `numOutputRows` like a file scan. */
private[graft] case class CkptLocalScanExec(
    output: Seq[Attribute],
    projects: Seq[NamedExpression],
    filters: Seq[Expression],
    partitionFilters: Seq[Expression],
    dataAttrs: Seq[Attribute],
    partAttrs: Seq[Attribute],
    @transient relation: HadoopFsRelation,
    files: Seq[PartitionedFile]) extends LeafExecNode {

  override def nodeName: String = "CkptLocalScan"

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numFiles" -> SQLMetrics.createMetric(sparkContext, "number of files read"),
    "filesSize" -> SQLMetrics.createSizeMetric(sparkContext, "size of files read"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  private def describe: Seq[(String, Any)] = Seq(
    "Files" -> s"${files.size} (${files.map(_.fileSize).sum} bytes)",
    "PartitionFilters" -> partitionFilters,
    "Filters" -> filters)

  override def simpleString(maxFields: Int): String =
    s"$nodeName ${output.mkString("[", ",", "]")} " + describe.map {
      case (k, v: Seq[_]) => s"$k: ${v.mkString("[", ", ", "]")}"
      case (k, v) => s"$k: $v"
    }.mkString(", ")

  override def verboseStringWithOperatorId(): String =
    ((formattedNodeName +: (("Output" -> output) +: describe).map {
      case (k, v) => ExplainUtils.generateFieldString(k, v)
    }) :+ "").mkString("\n")

  /** Reads files until `limit` rows passed the filters; the metrics
    * count the files opened. Each file is read to its end, which
    * closes it. */
  private def read(limit: Int): Array[InternalRow] = {
    val readFile = CkptLocalScan.readerOf(relation,
      StructType(dataAttrs.map(a => relation.dataSchema(a.name))))
    val input = dataAttrs ++ partAttrs
    val pred = Predicate.createInterpreted(BindReferences.bindReference(
      filters.reduceOption(And).getOrElse(Literal.TrueLiteral), input))
    pred.initialize(0)
    val proj = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences[Expression](projects, input))
    val out = ArrayBuffer.empty[InternalRow]
    val opened = files.iterator.takeWhile(_ => out.size < limit).map { f =>
      readFile(f).foreach { r =>
        if (out.size < limit && pred.eval(r)) out += proj(r).copy()
      }
      f.fileSize
    }.toSeq
    metrics("numFiles").set(opened.size.toLong)
    metrics("filesSize").set(opened.sum)
    metrics("numOutputRows") += out.size
    Option(sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY)).foreach(id =>
      SQLMetrics.postDriverMetricUpdates(sparkContext, id, metrics.values.toSeq))
    out.toArray
  }

  override def executeCollect(): Array[InternalRow] = read(Int.MaxValue)

  override def executeTake(n: Int): Array[InternalRow] =
    if (n <= 0) Array.empty else read(n)

  override def executeToIterator(): Iterator[InternalRow] = read(Int.MaxValue).iterator

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(read(Int.MaxValue).toSeq, 1)
}
