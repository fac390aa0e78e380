package graft.perf

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Bench entry point, launched by `perfbench/run.py`:
  *
  * {{{
  * graft.perf.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --record <file> --result <file> --fingerprints <file>
  * }}}
  *
  * Runs one workload in one session (`graft.core.Sessions.builder`
  * at the host's processor count) and writes two files: `--record`,
  * the full record (provenance, samples, spans), and `--result`, the
  * one-line result the runner prints. With `--trace 0` the result
  * carries the end-to-end metrics; with `--trace 1` the per-layer
  * ones from a separate traced phase. Every Spark scratch path lives
  * under `--work`.
  *
  * `--write-fingerprints <file>` instead computes the pipeline
  * operators' output fingerprints on the corpus and writes them. */
object Main {
  val Workloads: Seq[String] = Seq("store_mixed", "pipeline_scan")

  /** Every per-layer metric, in the order the result lists them. A
    * workload that does not exercise a layer reports 0 for it. */
  val PerLayer: Seq[(String, String)] = Seq(
    "storage.open_ms" -> "ms", "storage.inventory_files" -> "count",
    "storage.log_entries" -> "count", "storage.find_ms" -> "ms",
    "storage.files_read_per_probe" -> "count", "storage.bytes_read_per_probe" -> "bytes",
    "storage.rows_scanned_per_row_returned" -> "ratio",
    "storage.index_choice_match" -> "share",
    "storage.append_ms" -> "ms", "storage.delete_ms" -> "ms",
    "storage.bytes_written_per_user_byte" -> "ratio",
    "storage.compact_ms" -> "ms", "storage.compact_bytes_rewritten" -> "bytes",
    "storage.write_p50_ms" -> "ms", "storage.write_tail_ms" -> "ms",
    "storage.write_rows_per_s" -> "1/s", "storage.disk_bytes_per_live_byte" -> "ratio",
    "probe.get_p50_ms" -> "ms", "probe.sec_p50_ms" -> "ms",
    "probe.and_p50_ms" -> "ms", "probe.range_p50_ms" -> "ms",
    "spark.jobs_per_probe" -> "count", "spark.plan_ms_per_probe" -> "ms") ++
    Run.SparkUnits.toSeq.sortBy(_._1) ++
    PipelineWorkloads.Scan.flatMap(op => Seq(
      s"operators.$op.wall_s" -> "s", s"operators.$op.exec_cpu_s" -> "s",
      s"operators.$op.jobs" -> "count")) ++
    Seq("core.cache_hits" -> "count", "trace.overhead_frac" -> "share")

  private def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, s"arguments come in --key value pairs: ${args.mkString(" ")}")
    args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"expected --key, got $k"); k.drop(2) -> v
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val work = a("work")
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = graft.core.Sessions.builder(cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      if (a.contains("write-fingerprints")) writeFingerprints(spark, work, a("write-fingerprints"))
      else runWorkload(spark, a, cpus)
    } finally spark.stop()
  }

  private def runWorkload(spark: org.apache.spark.sql.SparkSession,
      a: Map[String, String], cpus: String): Unit = {
    val workload = a("workload")
    require(Workloads.contains(workload),
      s"unknown workload $workload (one of ${Workloads.mkString(", ")})")
    val trace = a("trace") match {
      case "0" => false
      case "1" => true
      case other => throw new IllegalArgumentException(s"--trace is 0 or 1, not $other")
    }
    val ctx = Ctx(spark, workload, a("seed").toLong, a("seconds").toDouble, trace, a("work"))
    val out = workload match {
      case "store_mixed" => StoreWorkloads.storeMixed(ctx)
      case "pipeline_scan" => PipelineWorkloads.run(ctx, PipelineWorkloads.Scan,
        PipelineWorkloads.readFingerprints(a("fingerprints")))
    }
    val produced = out.perLayer.toMap
    val unknown = produced.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from the list: $unknown")
    val metrics: Seq[(String, M)] =
      if (!trace) out.endToEnd
      else PerLayer.map { case (k, u) => k -> produced.getOrElse(k, M(0.0, u)) }
    def mj(ms: Seq[(String, M)]) = ms.map { case (k, m) =>
      k -> Json.obj("value" -> m.value, "unit" -> m.unit) }
    val result = Json.obj(
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> mj(metrics))
    val record = Json.obj(
      "provenance" -> provenance(spark, ctx, cpus),
      "end_to_end" -> mj(out.endToEnd),
      "per_layer" -> mj(out.perLayer),
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed) ++ out.record
    Files.write(Paths.get(a("record")), (Json.write(record) + "\n").getBytes(UTF_8))
    Files.write(Paths.get(a("result")), (Json.write(result) + "\n").getBytes(UTF_8))
  }

  private def provenance(spark: org.apache.spark.sql.SparkSession, ctx: Ctx,
      cpus: String): Seq[(String, Any)] = {
    val inputs = Option(new java.io.File(ctx.work).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")) ++
      Option(new java.io.File(ctx.work, "corpus-1").listFiles()).toSeq.flatten
    val fp = inputs.map { f =>
      val (len, _) = Run.du(f.getPath)
      s"${f.getName}:$len:${f.lastModified}"
    }.sorted.mkString("|")
    // the session's set confs: graft's own, SQL and the master (the
    // rest are launcher plumbing: app ids, module opens, scratch dirs)
    val confs = spark.conf.getAll.toSeq
      .filter { case (k, _) => k.startsWith("graft.") || k == "spark.master" ||
        (k.startsWith("spark.sql.") && k != "spark.sql.warehouse.dir") }
      .sortBy(_._1)
    Json.obj(
      "workload" -> ctx.workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> ctx.trace, "nproc" -> cpus, "spark_version" -> spark.version,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "inputs" -> fp, "confs" -> confs.toMap)
  }

  private def writeFingerprints(spark: org.apache.spark.sql.SparkSession,
      work: String, out: String): Unit = {
    val ctx = Ctx(spark, "fingerprints", 0L, 0.0, trace = false, work)
    val (dir, _) = PipelineWorkloads.corpusSetup(ctx)
    val lines = PipelineWorkloads.Scan.map { name =>
      s"$name ${PipelineWorkloads.fingerprint(graft.SparkEntry.queries(name)(spark, dir))}"
    }
    val header = Seq(
      "# Output fingerprints of the pipeline operators on the generated corpus",
      s"# (Gen.CorpusSeed = ${Gen.CorpusSeed}): name, row count, sum of row",
      "# xxhash64 mod 1000000007, xor of row xxhash64.")
    Files.write(Paths.get(out), (header ++ lines).mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
