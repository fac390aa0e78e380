package graft.perf

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One run's settings. `work` is a scratch directory the run owns. */
final case class Ctx(spark: SparkSession, workload: String, seed: Long,
    seconds: Double, trace: Boolean, work: String)

/** One timed op of a measured pass. `ok` is false when the op threw or
  * its result did not match the model or the committed fingerprint. */
final case class OpRec(pass: Int, kind: String, name: String, ms: Double,
    ok: Boolean, stats: Option[OpStats])

/** One measured repetition of a workload's op sequence. Its wall time
  * is the time the client spent waiting on its ops; the bench's own
  * bookkeeping between ops (model checks, directory walks) is not in
  * it. */
final case class PassRec(index: Int, ops: Seq[OpRec]) {
  def wallS: Double = ops.map(_.ms).sum / 1e3
}

/** A metric value with its unit. */
final case class M(value: Double, unit: String)

/** What a workload hands back to [[Main]]: the metrics the run prints
  * and everything else the full record keeps. */
final case class Outcome(endToEnd: Seq[(String, M)], perLayer: Seq[(String, M)],
    attempted: Long, failed: Long, record: Seq[(String, Any)])

/** Helpers shared by the workloads: repetition hygiene, the measured
  * loop and the end-to-end metrics every workload reports. */
object Run {

  private def oldGenMb(): Double = {
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    val old = pools.filter(p => p.getName.toLowerCase.contains("old") &&
      p.getCollectionUsage != null)
    val bytes =
      if (old.nonEmpty) old.map(_.getCollectionUsage.getUsed).sum
      else java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed
    bytes / 1048576.0
  }

  /** Old-generation occupancy after full GCs, once it stops shrinking
    * (falls back to total heap where the collector has no
    * old-generation pool). Spark's cleaner frees broadcast and
    * shuffle state on its own thread after the GC that finds it
    * dead, so one GC read 83 or 116 MB for the same pass; GCs with a
    * short pause between them repeat until two readings agree within
    * 1 MB (at most five). Outside every timer. */
  def liveHeapMb(spark: SparkSession): Double = {
    spark.catalog.clearCache()
    def gc(): Double = {
      System.gc()
      org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext): Unit
      Thread.sleep(200)
      oldGenMb()
    }
    val readings = ArrayBuffer(gc(), gc())
    while (math.abs(readings.last - readings(readings.size - 2)) > 1.0 && readings.size < 5)
      readings += gc()
    log(f"live heap readings: ${readings.map(r => f"$r%.1f").mkString(", ")} MB")
    readings.takeRight(2).min
  }

  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Between repetitions: drop cached plans' data and collect, so the
    * next timed window starts without the last one's garbage. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  /** Run `pass(i)` until the measured (in-pass) time reaches `seconds`,
    * always at least once; `between(i)` runs untimed before each pass.
    * Returns the passes and the live heap after each: what the
    * measured work left behind. */
  def measure(ctx: Ctx, between: Int => Unit)(pass: Int => Seq[OpRec])
      : (Seq[PassRec], Seq[Double]) = {
    val passes = ArrayBuffer.empty[PassRec]
    val heap = ArrayBuffer.empty[Double]
    var spent = 0.0
    var i = 0
    while (i == 0 || spent < ctx.seconds) {
      reset(ctx.spark)
      between(i)
      val p = PassRec(i, pass(i))
      passes += p
      spent += p.wallS
      heap += liveHeapMb(ctx.spark)
      i += 1
    }
    log(f"measured ${passes.size} passes, $spent%.1f s in ops")
    (passes.toSeq, heap.toSeq)
  }

  private val t0 = System.nanoTime()

  /** A progress line in the run's log, with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.1fs $msg")

  /** Seconds `body` took. */
  def timeS(body: => Unit): Double = {
    val t = System.nanoTime()
    body
    (System.nanoTime() - t) / 1e9
  }

  /** The end-to-end metrics every workload reports, from its untraced
    * passes. `reads` are the workload's read ops (probes, or operator
    * runs on the pipelines). */
  def endToEnd(setupS: Seq[Double], passes: Seq[PassRec], heapMb: Seq[Double],
      isRead: OpRec => Boolean): (Seq[(String, M)], Seq[(String, Any)]) = {
    val ops = passes.flatMap(_.ops)
    val reads = ops.filter(isRead).map(_.ms)
    require(reads.nonEmpty, "a measured run made no reads")
    val tail = Stats.tail(reads)
    val ok = ops.count(_.ok).toDouble / ops.size
    val metrics = Seq(
      "setup_s" -> M(Stats.median(setupS), "s"),
      "read_p50_ms" -> M(Stats.median(reads), "ms"),
      "read_tail_ms" -> M(tail.value, "ms"),
      "reads_per_s" -> M(reads.size / (reads.sum / 1e3), "1/s"),
      "pass_wall_s" -> M(Stats.median(passes.map(_.wallS)), "s"),
      "op_geomean_ms" -> M(Stats.geomean(ops.map(_.ms.max(1e-3))), "ms"),
      "heap_after_gc_mb" -> M(heapMb.max, "MB"),
      "ok_frac" -> M(ok, "share"))
    val detail = Json.obj(
      "setup_s_samples" -> setupS,
      "read_samples" -> reads.size,
      "read_tail" -> Json.obj("percentile" -> tail.pct, "samples" -> tail.n,
        "beyond" -> tail.beyond),
      "heap_after_gc_mb_samples" -> heapMb,
      "passes" -> passes.map(p => Json.obj("wall_s" -> p.wallS,
        "ops" -> p.ops.map(o => Json.obj("kind" -> o.kind, "name" -> o.name,
          "ms" -> o.ms, "ok" -> o.ok)))),
      "failed_frac" -> (1 - ok))
    (metrics, detail)
  }

  /** trace.overhead_frac: the traced passes' median wall over the
    * untraced passes' (made before and after them), minus one. */
  def overhead(plain: Seq[PassRec], traced: Seq[PassRec]): Double =
    Stats.median(traced.map(_.wallS)) / Stats.median(plain.map(_.wallS)) - 1

  /** Spark-layer totals of one pass's traced ops. */
  def sparkPerPass(p: PassRec): Map[String, Double] = {
    val st = p.ops.flatMap(_.stats)
    val idleMs = p.ops.flatMap(o => o.stats.map { s =>
      // op wall minus the union of its jobs' intervals (ms clock)
      math.max(0.0, o.ms - Stats.unionLength(s.jobIntervals.toSeq))
    }).sum
    Map(
      "spark.jobs" -> st.map(_.jobs).sum.toDouble,
      "spark.plan_ms" -> st.map(_.planMs).sum.toDouble,
      "spark.driver_idle_ms" -> idleMs,
      "spark.exec_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "spark.scan_bytes" -> st.map(_.scanBytes).sum.toDouble,
      "spark.shuffle_write_bytes" -> st.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.shuffle_fetch_wait_ms" -> st.map(_.fetchWaitMs).sum.toDouble,
      "spark.spill_bytes" -> st.map(_.spillBytes).sum.toDouble,
      "spark.gc_ms" -> st.map(_.gcMs).sum.toDouble)
  }

  val SparkUnits: Map[String, String] = Map(
    "spark.jobs" -> "count", "spark.plan_ms" -> "ms",
    "spark.driver_idle_ms" -> "ms", "spark.exec_cpu_s" -> "s",
    "spark.scan_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_fetch_wait_ms" -> "ms", "spark.spill_bytes" -> "bytes",
    "spark.gc_ms" -> "ms")

  /** Median over passes of each Spark-layer total. */
  def sparkLayer(passes: Seq[PassRec]): Seq[(String, M)] = {
    val per = passes.map(sparkPerPass)
    SparkUnits.keys.toSeq.sorted.map(k => k -> M(Stats.median(per.map(_(k))), SparkUnits(k)))
  }

  /** Recursive size in bytes and file count of a local directory. */
  def du(path: String): (Long, Int) = {
    def go(f: java.io.File): (Long, Int) =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(go)
        .foldLeft((0L, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }
      else (f.length, 1)
    go(new java.io.File(path))
  }

  def rmrf(path: String): Unit = {
    def go(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(go)
      f.delete(): Unit
    }
    go(new java.io.File(path))
  }

  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val walk = java.nio.file.Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    } finally walk.close()
  }
}
