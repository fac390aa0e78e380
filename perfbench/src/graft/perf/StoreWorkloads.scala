package graft.perf

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.{CacheStats, Store}
import graft.storage.{HashIndex, IndexedStore, RangeIndex}

/** store_mixed: writes beside reads on a seeded lineitem store of
  * ~300k rows with a 64-bucket hash layout on l_orderkey, a secondary
  * hash index on l_partkey and zone maps on l_shipdate.
  *
  * Each repetition (a pass) starts from a fresh copy of the set-up
  * snapshot and issues a delete, an append (continuing the rowid run
  * past the current max, as Store.insert requires) and a compaction;
  * after every one of those three commits it reopens the store and
  * probes through the new handle.
  * The probe mix is the reference's get benchmark: hash equality
  * (get), secondary-posting equality (sec), eq ∧ eq where estimate()
  * must pick the index (and), and a one-day range on l_shipdate
  * (range). One client, closed loop: each call blocks until its Spark
  * jobs end. Every probe is checked against [[Model]], which every
  * append and delete updates too. */
object StoreWorkloads {
  private val RowId = IndexedStore.RowId
  private val SetupReps = 3

  /** The commits of one pass, in order (K = 2 commits per compaction),
    * and the probe classes made after each. Both orders are fixed so
    * that every pass has the same mix in the same places: probes slow
    * down once a delete has left tombstones to anti-join and speed up
    * after the compaction folds them in, and the first probe through
    * a new handle pays its lazy set-up (it is always a get). The keys
    * are seeded. */
  private val Commits = Seq("delete", "append", "compact")
  private val ProbesPerCommit = Seq("get", "and", "sec", "get", "range", "get", "and", "get")
  /** New orders per append (~1,000 rows). */
  private val AppendOrders = 250

  /** Uncompressed width of one user row: nine 8-byte values, one int
    * and two one-letter flags. The denominator of the space and
    * write-amplification ratios. */
  private val RowBytes = 9 * 8 + 4 + 2

  private final class Fixture(val snapshot: String, val model: Model,
      val columns: Array[String], val setupS: Seq[Double])

  /** Orders in the store: half of sf0.1's (~300k rows), so that a
    * run — three set-ups, a warm-up and a measured pass — fits the
    * benchmark's run budget. */
  private val StoreOrders = Gen.Orders / 2

  /** Generate the seeded lineitem and number it (Store.insert's dense
    * rowids, outside any timer), then set the store up SetupReps times
    * — write the layout, add the secondary index — and report the
    * median as setup_s. The first build (JIT-cold, which the median
    * discards) is the snapshot every pass starts from. */
  private def setup(ctx: Ctx): Fixture = {
    val spark = ctx.spark
    val src = s"${ctx.work}/lineitem.parquet"
    Store.fromData(Gen.lineitem(spark, ctx.seed, 0L, StoreOrders),
      Seq("l_orderkey", "l_linenumber")).data.write.parquet(src)
    val model = new Model
    (0L until StoreOrders).foreach(ok => Gen.lines(ctx.seed, ok).foreach(model.add))
    Run.log("lineitem generated, numbered and modelled")
    val data = spark.read.parquet(src)
    val times = (1 to SetupReps).map { i =>
      Run.reset(spark)
      Run.timeS {
        val path = s"${ctx.work}/store-$i"
        IndexedStore.write(data, path, HashIndex("l_orderkey", 64),
          statsOnly = Seq(RangeIndex("l_shipdate", 8)))
        IndexedStore.addIndex(spark, path, HashIndex("l_partkey", 16))
      }
    }
    (2 to SetupReps).foreach(i => Run.rmrf(s"${ctx.work}/store-$i"))
    Run.log(s"store set up ${SetupReps}x: ${times.mkString(", ")} s")
    new Fixture(s"${ctx.work}/store-1", model, data.columns, times)
  }

  private def probePred(cls: String, r: SplittableRandom, model: Model,
      recent: Seq[(Long, Long)]): Pred = {
    // half the key probes aim at the last appended batch, so appended
    // files are read (and checked) too
    def row: (Long, Long) =
      if (recent.nonEmpty && r.nextBoolean()) recent(r.nextInt(recent.size))
      else { val (ok, pk, _) = model.liveRow(r); (ok, pk) }
    cls match {
      case "get" => Pred("get", orderkey = Some(row._1))
      case "sec" => Pred("sec", partkey = Some(row._2))
      case "and" => val (ok, pk) = row; Pred("and", Some(ok), Some(pk))
      case "range" =>
        val d = r.nextInt(Gen.ShipDays)
        Pred("range", days = Some((d, d + 1)))
    }
  }

  /** Per-probe facts the traced run reports. */
  private final case class ProbeFacts(cls: String, ms: Double, rows: Long,
      findMs: Double, choiceMatch: Option[Boolean])

  /** One probe through `open`: find (frame construction), then collect.
    * Checked against the model outside the timer; for `and` probes,
    * also whether chooseIndex named the lower-estimate() column. */
  private def probe(tr: Tracer, open: IndexedStore.OpenStore, p: Pred,
      model: Model, pass: Int, facts: ArrayBuffer[ProbeFacts]): OpRec = {
    var findMs = 0.0
    val t = scala.util.Try(tr.op("probe", p.cls) {
      val df = tr.call("find", "storage") {
        val t0 = System.nanoTime()
        val f = open.find(p.conditions)
        findMs = (System.nanoTime() - t0) / 1e6
        f
      }
      tr.call("execute", "spark")(df.collect())
    })
    t match {
      case scala.util.Success(timed) =>
        val rows = timed.value
        val got = Expect(rows.length.toLong,
          rows.map(r => r.getLong(r.fieldIndex(RowId))).sum)
        val want = model.expect(p)
        if (got != want)
          System.err.println(s"[perfbench] probe $p returned $got, model says $want")
        val choice = if (p.cls != "and") None
          else Some(open.chooseIndex(p.conditions).contains(model.lowerEstimate))
        facts += ProbeFacts(p.cls, timed.ms, got.rows, findMs, choice)
        OpRec(pass, "probe", p.cls, timed.ms, got == want, timed.stats)
      case scala.util.Failure(e) =>
        System.err.println(s"[perfbench] probe $p failed: $e")
        OpRec(pass, "probe", p.cls, 0.0, ok = false, None)
    }
  }

  /** What the passes of one phase leave for the per-layer metrics. */
  private final class Facts {
    val probes = ArrayBuffer.empty[ProbeFacts]
    val opens = ArrayBuffer.empty[Double]
    val inventory = ArrayBuffer.empty[(Double, Double)]
    var writtenBytes = 0L
    var userBytes = 0L
    val compactBytes = ArrayBuffer.empty[Double]
    var userRows = 0L
    var diskPerLive = 0.0
  }

  /** The data-file count of the store's current generation and the
    * number of commit-log entries, read from the directory. */
  private def inventoryCounts(root: String): (Double, Double) = {
    val genDir = new java.io.File(root, IndexedStore.generations(root).last)
    val files = Option(genDir.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("__bucket="))
      .flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .count(_.getName.endsWith(".parquet"))
    val log = new java.io.File(IndexedStore.commitLogDir(root))
    val entries = Option(log.listFiles()).toSeq.flatten.count(_.getName.endsWith(".json"))
    (files.toDouble, entries.toDouble)
  }

  def storeMixed(ctx: Ctx): Outcome = {
    val fx = setup(ctx)
    val spark = ctx.spark
    val schema = StructType(Gen.lineitemSchema.fields :+
      StructField(RowId, LongType, nullable = false))

    /** One pass over `root`, a fresh copy of the snapshot: each group
      * of `commits` followed by a reopen and the probes `classes`. */
    def pass(tr: Tracer, i: Int, root: String, commits: Seq[Seq[String]],
        classes: Seq[String], facts: Facts): Seq[OpRec] = {
      val model = fx.model.copy()
      val r = new SplittableRandom(ctx.seed * 1000003L + i)
      val ops = ArrayBuffer.empty[OpRec]
      var recent = Seq.empty[(Long, Long)]
      var nextOrder = model.maxOrderkey + 1

      def timed(kind: String)(body: => Unit): Boolean = {
        val before = Run.du(root)._1
        val t = scala.util.Try(tr.op(kind, kind)(tr.call(kind, "storage")(body)))
        t.failed.foreach(e => System.err.println(s"[perfbench] $kind failed: $e"))
        ops += OpRec(i, kind, kind, t.map(_.ms).getOrElse(0.0), t.isSuccess,
          t.toOption.flatMap(_.stats))
        if (kind != "compact") facts.writtenBytes += Run.du(root)._1 - before
        t.isSuccess
      }
      def commit(kind: String): Unit = kind match {
        case "append" =>
          val lines = (nextOrder until nextOrder + AppendOrders)
            .flatMap(ok => Gen.lines(ctx.seed + i + 1, ok))
          nextOrder += AppendOrders
          val base = model.nextRowId
          val rows = lines.zipWithIndex.map { case (l, j) =>
            Row.fromSeq(l.toRow.toSeq :+ (base + j)) }
          val batch = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .select(fx.columns.map(org.apache.spark.sql.functions.col).toSeq: _*)
            .coalesce(1)
          if (timed("append")(IndexedStore.append(batch, root))) {
            lines.foreach(model.add)
            recent = lines.map(l => (l.orderkey, l.partkey))
            facts.userRows += lines.size
            facts.userBytes += lines.size.toLong * RowBytes
          }
        case "delete" =>
          // every row of one part: ~30 rows over many orders and buckets
          val p = Pred("delete", partkey = Some(model.liveRow(r)._2))
          if (timed("delete")(IndexedStore.delete(spark, root, p.conditions))) {
            val gone = model.delete(p)
            facts.userRows += gone.rows
            facts.userBytes += gone.rows * 8
          }
        case "compact" =>
          val before = IndexedStore.generations(root).toSet
          if (timed("compact")(IndexedStore.compact(spark, root)))
            IndexedStore.generations(root).filterNot(before).foreach(g =>
              facts.compactBytes += Run.du(s"$root/$g")._1.toDouble)
      }
      def reopen(): IndexedStore.OpenStore = {
        facts.inventory += inventoryCounts(root)
        val t = tr.op("open", "open")(tr.call("open", "storage")(IndexedStore.open(spark, root)))
        facts.opens += t.ms
        ops += OpRec(i, "open", "open", t.ms, ok = true, t.stats)
        t.value
      }

      commits.foreach { group =>
        group.foreach(commit)
        val open = reopen()
        classes.foreach { c =>
          ops += probe(tr, open, probePred(c, r, model, recent), model, i, facts.probes)
        }
      }
      facts.diskPerLive = Run.du(root)._1.toDouble / (model.liveRows * RowBytes)
      ops.toSeq
    }

    // untimed warm-up on its own copy: a delete and an append, then a
    // reopen and every probe class over both the tombstones and the
    // appended files (compaction rewrites the layout the set-up builds
    // already warmed)
    val warmRoot = s"${ctx.work}/live-warm"
    Run.copyTree(fx.snapshot, warmRoot)
    val warmOps = pass(new Tracer(spark, enabled = false), -1, warmRoot,
      Seq(Seq("delete", "append")), ProbesPerCommit.distinct, new Facts)
    Run.rmrf(warmRoot)
    Run.log("warmed up")

    def phase(tr: Tracer, tag: String, facts: Facts) = {
      def root(i: Int) = s"${ctx.work}/live-$tag-$i"
      Run.measure(ctx, { i =>
        if (i > 0) Run.rmrf(root(i - 1))
        Run.copyTree(fx.snapshot, root(i))
      }) { i =>
        tr.workload(s"pass $i")(pass(tr, i, root(i), Commits.map(Seq(_)), ProbesPerCommit, facts))
      }
    }
    val plain = new Facts
    val (passes, heap) = phase(new Tracer(spark, enabled = false), "plain", plain)
    val (e2e, detail) = Run.endToEnd(fx.setupS, passes, heap, _.kind == "probe")

    // write-side numbers of the untraced passes: append and delete
    // latency (compaction excluded), and user rows over the whole
    // write phase (compaction included)
    val plainOps = passes.flatMap(_.ops)
    val writes = plainOps.filter(o => o.kind == "append" || o.kind == "delete").map(_.ms)
    val writePhaseS = plainOps.filter(o => Set("append", "delete", "compact")(o.kind))
      .map(_.ms).sum / 1e3
    val writeTail = Stats.tail(writes)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)

    val hits0 = CacheStats.hits.get()
    val traced = if (!ctx.trace) None else {
      val tr = new Tracer(spark, enabled = true)
      val facts = new Facts
      val (tp, _) = tr.workload(ctx.workload)(phase(tr, "traced", facts))
      tr.close()
      val hits = CacheStats.hits.get() - hits0
      // an untraced pass after the traced one brackets it, so the
      // overhead is not confounded with the passes' order
      val (after, _) = phase(new Tracer(spark, enabled = false), "after", new Facts)
      Some((tr, tp, facts, after, hits))
    }
    val perLayer = traced.toSeq.flatMap { case (_, tp, f, after, hits) =>
      val tOps = tp.flatMap(_.ops)
      val probes = tOps.filter(_.kind == "probe").flatMap(_.stats)
      def perProbe(x: OpStats => Long) = probes.map(x).sum.toDouble / probes.size.max(1)
      def opMed(k: String) = M(med(tOps.filter(_.kind == k).map(_.ms)), "ms")
      val choices = f.probes.flatMap(_.choiceMatch)
      Seq(
        "storage.open_ms" -> M(med(f.opens.toSeq), "ms"),
        "storage.inventory_files" -> M(med(f.inventory.map(_._1).toSeq), "count"),
        "storage.log_entries" -> M(med(f.inventory.map(_._2).toSeq), "count"),
        "storage.find_ms" -> M(med(f.probes.map(_.findMs).toSeq), "ms"),
        "storage.files_read_per_probe" -> M(perProbe(_.filesRead), "count"),
        "storage.bytes_read_per_probe" -> M(perProbe(_.fileBytesRead), "bytes"),
        "storage.rows_scanned_per_row_returned" -> M(probes.map(_.rowsScanned).sum.toDouble /
          f.probes.map(_.rows).sum.max(1L), "ratio"),
        "storage.index_choice_match" ->
          M(choices.count(identity).toDouble / choices.size.max(1), "share"),
        "storage.append_ms" -> opMed("append"),
        "storage.delete_ms" -> opMed("delete"),
        "storage.compact_ms" -> opMed("compact"),
        "storage.bytes_written_per_user_byte" ->
          M(f.writtenBytes.toDouble / f.userBytes.max(1L), "ratio"),
        "storage.compact_bytes_rewritten" -> M(med(f.compactBytes.toSeq), "bytes"),
        "storage.write_p50_ms" -> M(med(writes), "ms"),
        "storage.write_tail_ms" -> M(writeTail.value, "ms"),
        "storage.write_rows_per_s" -> M(plain.userRows / writePhaseS, "1/s"),
        "storage.disk_bytes_per_live_byte" -> M(plain.diskPerLive, "ratio"),
        "spark.jobs_per_probe" -> M(perProbe(_.jobs.toLong), "count"),
        "spark.plan_ms_per_probe" -> M(perProbe(_.planMs), "ms"),
        "core.cache_hits" -> M(hits.toDouble, "count"),
        "trace.overhead_frac" -> M(Run.overhead(passes ++ after, tp), "share")) ++
        Seq("get", "sec", "and", "range").map(c =>
          s"probe.${c}_p50_ms" -> M(med(f.probes.filter(_.cls == c).map(_.ms).toSeq), "ms")) ++
        Run.sparkLayer(tp)
    }
    val all = warmOps ++ plainOps ++
      traced.toSeq.flatMap { case (_, tp, _, after, _) => (tp ++ after).flatMap(_.ops) }
    Outcome(e2e, perLayer, all.size.toLong, all.count(!_.ok).toLong,
      detail ++ Json.obj(
        "write_p50_ms" -> med(writes),
        "write_tail" -> Json.obj("percentile" -> writeTail.pct, "value_ms" -> writeTail.value,
          "samples" -> writeTail.n, "beyond" -> writeTail.beyond),
        "write_rows_per_s" -> plain.userRows / writePhaseS,
        "disk_bytes_per_live_byte" -> plain.diskPerLive) ++
        traced.toSeq.flatMap { case (tr, _, _, _, _) => Seq("spans" -> tr.spanRecords) })
  }
}
