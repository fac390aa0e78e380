package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish tables (see TESTDATA.md).
  *
  * One parquet file per table under `dir` (an sf directory such as
  * `/root/testdata/sf0.01`). Loading is plain `spark.read.parquet`, so
  * column pruning and predicate pushdown reach the scan untouched.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame =
    if (name == "events") events
    else spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame    = table("region")
  def nation: DataFrame    = table("nation")
  def customer: DataFrame  = table("customer")
  def supplier: DataFrame  = table("supplier")
  def part: DataFrame      = table("part")
  def orders: DataFrame    = table("orders")
  def lineitem: DataFrame  = table("lineitem")
  /** The events table's `ts` column has shifted physical type across
    * testdata generations — TIMESTAMP(NANOS) (surfaces as int64 under
    * `nanosAsLong`) in early drops, TIMESTAMP(MICROS, NTZ) in current
    * ones — so the loader is SCHEMA-ADAPTIVE (see [[Tables.withTsNs]]):
    * whatever the file carries, downstream sees the same contract — an
    * exact int64 epoch-nanos `ts_ns` (DuckDB reproduces it via
    * epoch_ns(ts), which is exact for both physical types) plus a
    * micro-precision TimestampType `ts` for window/streaming use.
    * Oracle-compared queries do time arithmetic on `ts_ns`.
    */
  def events: DataFrame = {
    // No-op on micro-timestamp files; required for legacy nano files
    // (Spark cannot represent TIMESTAMP(NANOS) natively).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.withTsNs(spark.read.parquet(s"$dir/events.parquet"))
  }
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")

  /** All table names, for smoke tests. */
  def names: Seq[String] = Tables.names
}

object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Normalize a loaded events frame to the (ts_ns: long, ts: timestamp)
    * contract, whatever physical type the file carried. INTEGER ops
    * only — an epoch-ns value exceeds double's 53-bit mantissa, so a
    * float division would corrupt the low microseconds (SURVEY §6).
    *
    *  - `ts` loaded as int64 (legacy TIMESTAMP(NANOS) under
    *    `nanosAsLong`): rename to `ts_ns`, derive `ts` by integer-div
    *    truncation to micros.
    *  - `ts` loaded as a timestamp type (TIMESTAMP(MICROS), NTZ or
    *    LTZ): `ts_ns = unix_micros(ts) * 1000` — exact, and identical
    *    to DuckDB's epoch_ns on the same file. The NTZ→LTZ cast
    *    interprets the wall clock in the session time zone, which this
    *    project pins to UTC everywhere (Verify/Bench/spec sessions), so
    *    the instant is exact and matches the oracle's UTC epoch_ns.
    *
    * Works on batch AND streaming frames (schema-only inspection).
    */
  def withTsNs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case TimestampType =>
        raw.withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case other =>
        // The KNOWN shapes are handled above; anything else is the
        // next schema drift and must fail LOUDLY here, not produce
        // silently-shifted ts_ns downstream (e.g. an int32
        // epoch-millis would cast as SECONDS — off by 1000x with no
        // error). Round 5 lost 11 operators to exactly this kind of
        // silent drift.
        throw new IllegalStateException(
          s"events.ts has unsupported type $other — extend Tables.withTsNs " +
            "for the new testdata shape (known: int64 nanos, timestamp, timestamp_ntz)")
    }
  }

  /** Spread a scan across the session's shuffle width when its natural
    * parallelism falls short — a small single-file table otherwise runs
    * a compute-heavy per-row pipeline in ONE task. The repartition is
    * CONDITIONAL: at real scale the parquet file-split count already
    * provides the parallelism and this is a no-op (no shuffle); only a
    * layout-starved input (one file, few row groups) pays the one
    * round-robin exchange. */
  def spread(df: DataFrame): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (df.rdd.getNumPartitions >= parts) df else df.repartition(parts)
  }

  /** Numbered hash repartition pinning a fan-out stage's width against
    * AQE's byte-blind coalescing (REPARTITION_BY_NUM is exempt) — for
    * candidate/score tails whose tiny id exchange EXPLODES through the
    * downstream join. */
  def pinWidth(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, keys: _*)
}
