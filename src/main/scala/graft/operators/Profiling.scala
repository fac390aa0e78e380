package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Column profiling over the fact table — the ANALYZE-style statistics
  * pass every engine runs to feed cost-based optimization (NDV for
  * join-order/selectivity estimates, min/max for zone-map pruning,
  * null counts for outer-join sizing) and every training-data pipeline
  * runs as a pre-flight data-quality audit. The reference's
  * `estimate()` (idx.rs:62-67, 120-127) is the single-column seed of
  * the same idea: index selection needs cardinality estimates, and
  * this operator is where they come from.
  *
  * Shape: ONE unpivot (a narrow `stack` projection — no shuffle, k×
  * row fan-out for k profiled columns) feeds ONE grouped aggregation
  * keyed by column name. count/null-count/min/max are plain
  * map-side-combined aggregates; the exact NDV is a distinct
  * aggregate, which Spark plans as a partial dedup on
  * (col_name, value) before the final count — both exchanges hash on
  * keys whose cardinality scales with the data, so no single-reducer
  * choke. At 100 TB the exact NDV is the one expensive term; it stays
  * exact because the gate hash-compares values and HLL
  * implementations differ per engine (the [[Analytics]]
  * q_approx_distinct precedent: sketches are rows-only by design; an
  * exact profile stays hash-green).
  *
  * No float parity risk by construction: every statistic is a count or
  * an order statistic (min/max select existing values, they never
  * accumulate), so the output is integer-or-exact and needs no
  * rounding step.
  */
object Profiling {

  /** Profiled lineitem columns: the three join keys plus the four
    * numeric measures. Ints cast to double so the unpivoted value
    * column is one type — exact (these magnitudes are far below
    * 2^53). */
  val ProfileCols: Seq[String] = Seq(
    "l_orderkey", "l_partkey", "l_suppkey",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** q_profile — per-column (rows, nulls, NDV, min, max) over
    * lineitem. Output: (col_name, n_rows, n_null, ndv, min_val,
    * max_val), one row per profiled column. */
  def qProfile(spark: SparkSession, dir: String): DataFrame = {
    // lineitem is one parquet row group at gate scale, so the scan is
    // ONE task while the unpivot fans out md5/cast work per (row, col):
    // spread it across the session width first (no-op at real scale —
    // Tables.spread only repartitions a layout-starved input).
    val li = Tables.spread(Tables(spark, dir).lineitem)
    val stackArgs = ProfileCols
      .map(c => s"'$c', cast($c as double)").mkString(", ")
    li.select(expr(
        s"stack(${ProfileCols.length}, $stackArgs) as (col_name, v)"))
      .groupBy("col_name")
      .agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("v"))).as("n_null"),
        countDistinct(col("v")).as("ndv"),
        min(col("v")).as("min_val"),
        max(col("v")).as("max_val"))
      .orderBy("col_name")
  }

  /** Oracle: a per-column aggregate UNION ALL — semantically the same
    * unpivot+group, spelled so each branch is trivially auditable
    * (count(*) − count(c) = nulls, count(DISTINCT) ignores nulls in
    * both engines, min/max select — never compute). */
  val qProfileSql: String = ProfileCols.map { c =>
    s"""SELECT '$c' AS col_name, count(*)::BIGINT AS n_rows,
       |  (count(*) - count($c))::BIGINT AS n_null,
       |  count(DISTINCT $c)::BIGINT AS ndv,
       |  min($c)::DOUBLE AS min_val, max($c)::DOUBLE AS max_val
       |FROM lineitem""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  /** Join keys [[qSkewAudit]] profiles and how many heavy hitters it
    * reports per key. */
  val SkewCols: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey")
  val SkewTopK = 5

  /** q_skew_audit — per-join-key SKEW PROFILE: the pre-flight a
    * 100 TB join runs before choosing its physical strategy (salt or
    * not, AQE skew thresholds, broadcast viability). For each audited
    * key column: its [[SkewTopK]] heaviest values with exact counts,
    * the value's share of the table, and `skew_x` = count ÷ mean
    * (= cnt·ndv/rows) — the multiple of a perfectly uniform key the
    * hot value represents. q_salted_join is the CURE; this is the
    * DIAGNOSIS that says which keys need it.
    *
    * Shape: one stack unpivot → ONE map-side-combined (col, key)
    * count (the only corpus-sized exchange), frozen once (the counts
    * frame feeds the per-column totals and every top-K arm); each
    * column's heavy hitters come from orderBy+limit, which Spark
    * plans as TakeOrderedAndProject — per-partition bounded heaps
    * merged on the driver, NEVER a rank window over a whole column's
    * ndv-sized count frame (three partitions = three single
    * reducers; plan-asserted). Totals attach as a 3-row broadcast.
    *
    * Parity: counts/ndv/rows are integers; share and skew_x are
    * single correctly-rounded double expressions spelled identically
    * in both engines (ndv rides a double MULTIPLY, not an integer
    * one — immune to bigint overflow at any scale), rounded once.
    * Ties at the top-K boundary break on (cnt desc, key asc) — total
    * order, deterministic in both engines. */
  def qSkewAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity.stableRound
    // lineitem is one parquet row group at gate scale, so the scan is
    // ONE task while the unpivot fans out md5/cast work per (row, col):
    // spread it across the session width first (no-op at real scale —
    // Tables.spread only repartitions a layout-starved input).
    val li = Tables.spread(Tables(spark, dir).lineitem)
    val stackArgs = SkewCols.map(c => s"'$c', cast($c as bigint)").mkString(", ")
    // lazy localCheckpoint: the counts frame is read by the totals agg
    // and one top-K arm per column (blocks released when the frame
    // drops)
    val counts = li
      .select(expr(s"stack(${SkewCols.length}, $stackArgs) as (col_name, k)"))
      .groupBy("col_name", "k").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val totals = counts.groupBy("col_name")
      .agg(sum("cnt").cast("long").as("n_rows"), count(lit(1)).as("ndv"))
    val topk = SkewCols.map { c =>
      counts.filter(col("col_name") === c)
        .orderBy(col("cnt").desc, col("k"))
        .limit(SkewTopK)
    }.reduce(_ unionByName _)
    topk.join(broadcast(totals), "col_name")
      .select(col("col_name"), col("k").as("key"), col("cnt"),
        col("n_rows"), col("ndv"),
        stableRound(col("cnt").cast("double") /
          col("n_rows").cast("double"), 6).as("share"),
        stableRound(col("cnt").cast("double") * col("ndv").cast("double") /
          col("n_rows").cast("double"), 4).as("skew_x"))
      .orderBy(col("col_name"), col("cnt").desc, col("key"))
  }

  val qSkewAuditSql: String = {
    import graft.functions.Parity.stableRoundSql
    val unions = SkewCols.map(c =>
      s"SELECT '$c' AS col_name, $c::BIGINT AS k FROM lineitem")
      .mkString("\nUNION ALL ")
    s"""WITH c AS (
       |  SELECT col_name, k, count(*)::BIGINT AS cnt
       |  FROM ($unions) u GROUP BY 1, 2),
       |t AS (SELECT col_name, sum(cnt)::BIGINT AS n_rows,
       |        count(*)::BIGINT AS ndv FROM c GROUP BY 1),
       |r AS (SELECT *, row_number() OVER (PARTITION BY col_name
       |        ORDER BY cnt DESC, k) AS rk FROM c)
       |SELECT r.col_name, k AS key, cnt, n_rows, ndv,
       |  ${stableRoundSql("cnt::DOUBLE / n_rows::DOUBLE", 6)} AS share,
       |  ${stableRoundSql("cnt::DOUBLE * ndv::DOUBLE / n_rows::DOUBLE", 4)} AS skew_x
       |FROM r JOIN t USING (col_name)
       |WHERE rk <= $SkewTopK
       |ORDER BY col_name, cnt DESC, key""".stripMargin
  }

  /** Bucket count for [[qPartitionHist]] — a FIXED cross-engine
    * constant (the oracle SQL must be a static string, so it cannot
    * track `spark.sql.shuffle.partitions` at runtime), chosen as a
    * representative reducer count: the relative bucket imbalance it
    * reveals is what matters and is stable under the bucket count. */
  val HistBuckets = 32

  /** q_partition_hist — hash-PARTITION-SIZE histogram for each
    * candidate shuffle key: what the reducer-side load of a
    * `groupBy(key)` / shuffle-join exchange will look like BEFORE
    * running it. For every audited key column, rows are assigned to
    * [[HistBuckets]] buckets by a uniform hash of the key value and
    * the per-bucket row counts come back with each bucket's share and
    * `skew_x` = rows ÷ (n_rows/B) — the multiple of a perfectly
    * balanced exchange the bucket carries. q_skew_audit names the hot
    * VALUES; this shows the post-hash PARTITION imbalance those values
    * actually induce (a hot key hurts only if its bucket exceeds the
    * executor's memory/time budget — this is the number AQE's
    * skew-join threshold compares against).
    *
    * The bucket hash is the repo's portable md5-prefix hash
    * ([[graft.functions.TextFunctions.md5_32]]) rather than Spark's
    * Murmur3 hashpartitioning — cross-engine reproducible, and an
    * honest proxy: partition skew at scale is VALUE-frequency skew
    * (hot keys land whole buckets), not a property of which uniform
    * hash spreads the distinct values.
    *
    * Shape: one stack unpivot → ONE map-side-combined
    * (col, bucket) count — the only corpus-sized exchange, and its key
    * cardinality is cols×B (uniform by construction, no skew in the
    * diagnostic itself); per-column totals attach as a 3-row
    * broadcast. Buckets that received no rows are absent in both
    * engines alike (at any realistic row count every bucket is hit;
    * the diagnostic's consumer treats absence as zero).
    *
    * Parity: counts are integers; share and skew_x are single
    * correctly-rounded double expressions spelled identically in both
    * engines. */
  def qPartitionHist(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity.stableRound
    import graft.functions.TextFunctions.md5_32
    // lineitem is one parquet row group at gate scale, so the scan is
    // ONE task while the unpivot fans out md5/cast work per (row, col):
    // spread it across the session width first (no-op at real scale —
    // Tables.spread only repartitions a layout-starved input).
    val li = Tables.spread(Tables(spark, dir).lineitem)
    val stackArgs = SkewCols.map(c => s"'$c', cast($c as bigint)").mkString(", ")
    val counts = li
      .select(expr(s"stack(${SkewCols.length}, $stackArgs) as (col_name, k)"))
      .select(col("col_name"),
        (md5_32(col("k").cast("string")) % HistBuckets).as("bucket"))
      .groupBy("col_name", "bucket").agg(count(lit(1)).as("bucket_rows"))
    val totals = counts.groupBy("col_name")
      .agg(sum("bucket_rows").cast("long").as("n_rows"))
    counts.join(broadcast(totals), "col_name")
      .select(col("col_name"), col("bucket"), col("bucket_rows"),
        stableRound(col("bucket_rows").cast("double") /
          col("n_rows").cast("double"), 6).as("share"),
        stableRound(col("bucket_rows").cast("double") * lit(HistBuckets.toDouble) /
          col("n_rows").cast("double"), 4).as("skew_x"))
      .orderBy("col_name", "bucket")
  }

  val qPartitionHistSql: String = {
    import graft.functions.Parity.stableRoundSql
    val unions = SkewCols.map(c =>
      s"SELECT '$c' AS col_name, $c::BIGINT AS k FROM lineitem")
      .mkString("\nUNION ALL ")
    s"""WITH c AS (
       |  SELECT col_name,
       |    ('0x' || substr(md5(k::VARCHAR), 1, 8))::BIGINT % $HistBuckets AS bucket,
       |    count(*)::BIGINT AS bucket_rows
       |  FROM ($unions) u GROUP BY 1, 2),
       |t AS (SELECT col_name, sum(bucket_rows)::BIGINT AS n_rows FROM c GROUP BY 1)
       |SELECT c.col_name, bucket, bucket_rows,
       |  ${stableRoundSql("bucket_rows::DOUBLE / n_rows::DOUBLE", 6)} AS share,
       |  ${stableRoundSql(
            s"bucket_rows::DOUBLE * $HistBuckets / n_rows::DOUBLE", 4)} AS skew_x
       |FROM c JOIN t USING (col_name)
       |ORDER BY col_name, bucket""".stripMargin
  }

  /** Column-width kinds for [[qBroadcastAudit]]'s estimator. The map
    * is STATIC (oracle SQL must be a fixed string); ProfilingSpec
    * pins it against each parquet file's actual schema so a testdata
    * regeneration that changes a type fails loudly instead of
    * mis-estimating. Widths: fixed4/fixed8 = the in-memory numeric or
    * timestamp width; string = 4 + chars (offset + data — a character
    * count, exact for this ASCII fixture and the honest lower bound
    * in general). */
  val TableWidths: Seq[(String, Seq[(String, String)])] = Seq(
    "region" -> Seq("r_regionkey" -> "fixed4", "r_name" -> "string"),
    "nation" -> Seq("n_nationkey" -> "fixed4", "n_name" -> "string",
      "n_regionkey" -> "fixed4"),
    "customer" -> Seq("c_custkey" -> "fixed8", "c_name" -> "string",
      "c_nationkey" -> "fixed4", "c_acctbal" -> "fixed8",
      "c_mktsegment" -> "string"),
    "supplier" -> Seq("s_suppkey" -> "fixed8", "s_name" -> "string",
      "s_nationkey" -> "fixed4", "s_acctbal" -> "fixed8"),
    "part" -> Seq("p_partkey" -> "fixed8", "p_name" -> "string",
      "p_brand" -> "string", "p_type" -> "string", "p_size" -> "fixed4",
      "p_retailprice" -> "fixed8"),
    "orders" -> Seq("o_orderkey" -> "fixed8", "o_custkey" -> "fixed8",
      "o_orderstatus" -> "string", "o_totalprice" -> "fixed8",
      "o_orderdate" -> "fixed8", "o_orderpriority" -> "string"),
    "documents" -> Seq("doc_id" -> "fixed8", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "fixed8"),
    "lineitem" -> Seq("l_orderkey" -> "fixed8", "l_partkey" -> "fixed8",
      "l_suppkey" -> "fixed8", "l_linenumber" -> "fixed4",
      "l_quantity" -> "fixed8", "l_extendedprice" -> "fixed8",
      "l_discount" -> "fixed8", "l_tax" -> "fixed8",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "fixed8"),
  )

  /** Tables [[qBroadcastAudit]] audits: the join dimensions plus
    * `documents`; lineitem (in [[TableWidths]] for [[qJoinPlan]]'s
    * fact side) is a fact table no planner would broadcast. */
  val AuditTables: Seq[(String, Seq[(String, String)])] =
    TableWidths.filterNot(_._1 == "lineitem")

  /** Estimated row width in bytes — the shared estimator
    * ([[TableWidths]] kinds × actual string lengths). */
  private def widthCol(name: String, cols: Seq[(String, String)]): Column =
    cols.map {
      case (_, "fixed4") => lit(4L)
      case (_, "fixed8") => lit(8L)
      case (c, "string") => lit(4L) + coalesce(length(col(c)).cast("long"), lit(0L))
      case (c, k) => throw new IllegalArgumentException(s"$name.$c: $k")
    }.reduce(_ + _)

  /** SQL mirror of [[widthCol]]. */
  private def widthSql(name: String, cols: Seq[(String, String)]): String =
    cols.map {
      case (_, "fixed4") => "4"
      case (_, "fixed8") => "8"
      case (c, "string") => s"(4 + coalesce(length($c), 0))"
      case (c, k) => throw new IllegalArgumentException(s"$name.$c: $k")
    }.mkString(" + ")

  /** Per-table (n_rows, est_bytes) single-row aggregates, unioned —
    * shared by [[qBroadcastAudit]] and [[qJoinPlan]]. */
  private def tableStats(spark: SparkSession, dir: String,
      names: Seq[String]): DataFrame = {
    val t = Tables(spark, dir)
    val widths = TableWidths.toMap
    names.map { name =>
      t.table(name)
        .agg(count(lit(1)).as("n_rows"),
          sum(widthCol(name, widths(name))).as("est_bytes"))
        .select(lit(name).as("table_name"), col("n_rows"), col("est_bytes"))
    }.reduce(_ unionByName _)
  }

  private def tableStatsSql(names: Seq[String]): String = {
    val widths = TableWidths.toMap
    names.map { name =>
      s"""SELECT '$name' AS table_name, count(*)::BIGINT AS n_rows,
         |    sum(${widthSql(name, widths(name))})::BIGINT AS est_bytes
         |  FROM $name""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
  }

  /** Spark's default `autoBroadcastJoinThreshold`. */
  val BroadcastThreshold: Long = 10L * 1024 * 1024

  /** q_broadcast_audit — per-table BROADCASTABILITY audit: estimated
    * in-memory bytes of every join dimension vs Spark's 10 MB
    * auto-broadcast threshold. The join-strategy pre-flight a 100 TB
    * plan runs: a dimension under the threshold joins with ZERO
    * exchange on the fact side (broadcast-hash), over it the join
    * shuffles both sides — so this one number decides whether the
    * biggest exchanges in the plan exist at all. Statistics-backed
    * engines read it from ANALYZE; this computes it from the data the
    * same way ([[AuditTables]] widths × actual string lengths), so it
    * works on freshly-landed parquet with no catalog stats.
    *
    * Audits the six join dimensions plus `documents` (the pipeline's
    * text table — at the gate SFs everything here sits under 10 MB
    * and broadcast_ok is uniformly true; the estimate COLUMNS are the
    * substance the gate hash-checks, and the flag's false branch is
    * exercised by the real corpus the operator is for, where
    * documents is over threshold by orders of magnitude);
    * lineitem/events/embeddings are fact tables no planner would
    * consider broadcasting.
    *
    * Shape: one full-scan aggregate per table (7 scans, each
    * map-side-combined to a single row — at 100 TB these are the
    * cheapest possible pass over each dimension, and the fact tables
    * are never touched). No joins, no windows.
    *
    * Parity: byte sums are integers (char counts agree across engines
    * on this fixture); avg_row_bytes is one rounded division. */
  def qBroadcastAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity.stableRound
    tableStats(spark, dir, AuditTables.map(_._1))
      .select(col("table_name"), col("n_rows"), col("est_bytes"),
        stableRound(col("est_bytes").cast("double") /
          col("n_rows").cast("double"), 2).as("avg_row_bytes"),
        (col("est_bytes") <= BroadcastThreshold).as("broadcast_ok"))
      .orderBy("table_name")
  }

  val qBroadcastAuditSql: String = {
    import graft.functions.Parity.stableRoundSql
    s"""WITH stats AS (
       |  ${tableStatsSql(AuditTables.map(_._1))})
       |SELECT table_name, n_rows, est_bytes,
       |  ${stableRoundSql(
            "est_bytes::DOUBLE / n_rows::DOUBLE", 2)} AS avg_row_bytes,
       |  est_bytes <= $BroadcastThreshold AS broadcast_ok
       |FROM stats
       |ORDER BY table_name""".stripMargin
  }

  /** Candidate star joins [[qJoinPlan]] audits: (name, fact, dim). */
  val PlanJoins: Seq[(String, String, String)] = Seq(
    ("lineitem_orders", "lineitem", "orders"),
    ("lineitem_part", "lineitem", "part"),
    ("lineitem_supplier", "lineitem", "supplier"),
    ("orders_customer", "orders", "customer"))

  /** q_join_plan — join-STRATEGY pre-flight for the star joins: for
    * each candidate (fact ⋈ dim), both sides' measured sizes
    * ([[tableStats]] — the q_broadcast_audit estimator), whether the
    * dim fits Spark's broadcast threshold, and the exchange volume
    * the choice implies: a broadcastable dim costs ZERO shuffle (the
    * fact never moves — broadcast-hash); over threshold, a
    * sort-merge/shuffle-hash join moves BOTH sides
    * (fact_bytes + dim_bytes). At 100 TB this one table says where
    * the plan's biggest exchanges are and which evaporate with a
    * broadcast hint — the decision q_broadcast_audit's per-table rows
    * feed, joined up per actual join.
    *
    * Shape: one single-row aggregate per distinct table (5 scans, the
    * cheapest pass each), then two joins of a 4-row literal spec
    * against the 5-row stats frame — trivially broadcast. Parity:
    * integers end-to-end (sizes, flags, sums); no rounding needed. */
  def qJoinPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val names = PlanJoins.flatMap(j => Seq(j._2, j._3)).distinct
    // lazy localCheckpoint: the stats frame is read once per join
    // side — without it each reference re-runs all five table scans
    // (the q_skew_audit frozen-counts discipline)
    val stats = tableStats(spark, dir, names).localCheckpoint(false)
    val joins = PlanJoins.toDF("join_name", "fact", "dim")
    joins
      .join(stats.select(col("table_name").as("fact"),
        col("n_rows").as("fact_rows"), col("est_bytes").as("fact_bytes")), "fact")
      .join(stats.select(col("table_name").as("dim"),
        col("n_rows").as("dim_rows"), col("est_bytes").as("dim_bytes")), "dim")
      .select(col("join_name"), col("fact_rows"), col("fact_bytes"),
        col("dim_rows"), col("dim_bytes"),
        (col("dim_bytes") <= BroadcastThreshold).as("dim_broadcast_ok"),
        when(col("dim_bytes") <= BroadcastThreshold, lit(0L))
          .otherwise(col("fact_bytes") + col("dim_bytes")).as("shuffle_bytes"))
      .orderBy("join_name")
  }

  val qJoinPlanSql: String = {
    val names = PlanJoins.flatMap(j => Seq(j._2, j._3)).distinct
    val values = PlanJoins.map { case (n, f, d) => s"('$n', '$f', '$d')" }
      .mkString(", ")
    s"""WITH stats AS (
       |  ${tableStatsSql(names)}),
       |j AS (SELECT * FROM (VALUES $values) v(join_name, fact, dim))
       |SELECT join_name, f.n_rows AS fact_rows, f.est_bytes AS fact_bytes,
       |  d.n_rows AS dim_rows, d.est_bytes AS dim_bytes,
       |  d.est_bytes <= $BroadcastThreshold AS dim_broadcast_ok,
       |  (CASE WHEN d.est_bytes <= $BroadcastThreshold THEN 0
       |        ELSE f.est_bytes + d.est_bytes END)::BIGINT AS shuffle_bytes
       |FROM j
       |JOIN stats f ON f.table_name = j.fact
       |JOIN stats d ON d.table_name = j.dim
       |ORDER BY join_name""".stripMargin
  }

  /** Candidate aggregations [[qAggPlan]] audits: (name, table, key) —
    * a near-unique fact key (combine useless), a tiny-domain flag key
    * (combine collapses the exchange), a mid-cardinality foreign key,
    * and a small-domain dimension attribute. */
  val PlanAggs: Seq[(String, String, String)] = Seq(
    ("customer_by_mktsegment", "customer", "c_mktsegment"),
    ("lineitem_by_orderkey", "lineitem", "l_orderkey"),
    ("lineitem_by_returnflag", "lineitem", "l_returnflag"),
    ("orders_by_custkey", "orders", "o_custkey"))

  /** The combine model's map-task count — a fixed model parameter
    * (NOT the session's shuffle-partition conf: the report must be
    * reproducible across sessions and mirrored by the oracle). */
  val CombineModelTasks = 32

  /** q_agg_plan — partial-AGGREGATION pre-flight, the groupBy
    * counterpart of [[qJoinPlan]]: for each candidate aggregation,
    * how many rows actually cross the wire. Spark's hash aggregate
    * always combines map-side, so the exchange carries at most
    * min(input_rows, n_keys × map_tasks) rows — a tiny-domain key
    * (l_returnflag: 3 values) collapses a fact-table groupBy to a
    * few hundred shuffled rows however big the scan, while a
    * near-unique key (l_orderkey) combines almost nothing and the
    * exchange carries the full input (the case where two-phase
    * tricks — pre-projection, partial distinct, or skipping the
    * partial agg entirely — pay off). `combine_gain` is that ratio;
    * `combine_effective` flags keys where the partial agg at least
    * quarters the exchange. With [[qSkewAudit]] (hot keys) and
    * [[qJoinPlan]] (join exchanges) this completes the pre-flight a
    * 100 TB plan review reads before submitting.
    *
    * Shape: one single-row (count, count-distinct) aggregate per
    * candidate — each itself map-side combined; the distinct is exact
    * here (the q_profile `ndv=exact` tier; at production scale the
    * HLL tier estimates the same number in one pass). Parity: all
    * integers except one rounded division. */
  def qAggPlan(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity.stableRound
    val t = Tables(spark, dir)
    PlanAggs.map { case (name, tbl, key) =>
      t.table(tbl)
        .agg(count(lit(1)).as("input_rows"),
          countDistinct(col(key)).as("n_keys"))
        .select(lit(name).as("agg_name"), col("input_rows"), col("n_keys"))
    }.reduce(_ unionByName _)
      .select(col("agg_name"), col("input_rows"), col("n_keys"),
        least(col("input_rows"), col("n_keys") * CombineModelTasks)
          .as("combine_out_rows"))
      .select(col("agg_name"), col("input_rows"), col("n_keys"),
        col("combine_out_rows"),
        stableRound(col("input_rows").cast("double") /
          col("combine_out_rows").cast("double"), 2).as("combine_gain"),
        (col("combine_out_rows") * 4 <= col("input_rows"))
          .as("combine_effective"))
      .orderBy("agg_name")
  }

  val qAggPlanSql: String = {
    import graft.functions.Parity.stableRoundSql
    val stats = PlanAggs.map { case (name, tbl, key) =>
      s"""SELECT '$name' AS agg_name, count(*)::BIGINT AS input_rows,
         |    count(DISTINCT $key)::BIGINT AS n_keys
         |  FROM $tbl""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH stats AS (
       |  $stats),
       |m AS (SELECT agg_name, input_rows, n_keys,
       |        least(input_rows, n_keys * $CombineModelTasks) AS combine_out_rows
       |      FROM stats)
       |SELECT agg_name, input_rows, n_keys, combine_out_rows,
       |  ${stableRoundSql(
            "input_rows::DOUBLE / combine_out_rows::DOUBLE", 2)} AS combine_gain,
       |  combine_out_rows * 4 <= input_rows AS combine_effective
       |FROM m
       |ORDER BY agg_name""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_profile" -> qProfile,
    "q_skew_audit" -> qSkewAudit,
    "q_partition_hist" -> qPartitionHist,
    "q_broadcast_audit" -> qBroadcastAudit,
    "q_join_plan" -> qJoinPlan,
    "q_agg_plan" -> qAggPlan,
  )

  def oracles: Map[String, String] = Map(
    "q_profile" -> qProfileSql,
    "q_skew_audit" -> qSkewAuditSql,
    "q_partition_hist" -> qPartitionHistSql,
    "q_broadcast_audit" -> qBroadcastAuditSql,
    "q_join_plan" -> qJoinPlanSql,
    "q_agg_plan" -> qAggPlanSql,
  )
}
