package graft.perf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.CacheStats

/** pipeline_scan: registered scan-, shuffle- and compute-bound
  * operators with few jobs each, in a fixed order over a generated
  * sf0.1-shaped corpus. Neither depends on the run seed: the corpus is
  * always [[Gen.CorpusSeed]]'s, so outputs can be checked against
  * committed fingerprints, and the order is fixed because operators
  * share caches and JIT state with their predecessors — a seeded order
  * moved per-operator times and the post-run heap by 10–25%. One
  * client, closed loop: each operator blocks until its jobs end.
  *
  * An operator is forced by computing its output fingerprint, an
  * aggregate over every output column (so Catalyst prunes nothing, as
  * with a noop sink), and the timed pass is also the check. The
  * untimed warm-up runs every operator, forced the same way, on a
  * 1/20-size corpus of the same shape: the same final plans, so their
  * generated code is compiled before timing. */
object PipelineWorkloads {
  val Scan: Seq[String] = Seq("d_dedup_ngram", "d_source_overlap",
    "d_containment", "d_dup_spans", "d_span_scrub", "e_gram", "q_skew_audit",
    "m_phash_eval", "t_bigram_lm")

  private val SetupReps = 3

  /** Row count, sum of row hashes mod a prime, and xor of row hashes:
    * independent of row order and of partitioning. */
  final case class Fingerprint(rows: Long, sum: Long, xor: Long) {
    override def toString: String = s"$rows $sum $xor"
  }

  def fingerprint(df: DataFrame): Fingerprint = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(pmod(col("h"), lit(1000000007L))), lit(0L)),
        coalesce(expr("bit_xor(h)"), lit(0L)))
      .head()
    Fingerprint(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The committed fingerprints: `name rows sum xor` per line, `#`
    * comments. */
  def readFingerprints(path: String): Map[String, Fingerprint] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).map { a =>
        a(0) -> Fingerprint(a(1).toLong, a(2).toLong, a(3).toLong)
      }.toMap
    finally src.close()
  }

  def corpusSetup(ctx: Ctx): (String, Seq[Double]) = {
    val times = (1 to SetupReps).map { i =>
      Run.reset(ctx.spark)
      Run.timeS(Gen.writeCorpus(ctx.spark, s"${ctx.work}/corpus-$i"))
    }
    (2 to SetupReps).foreach(i => Run.rmrf(s"${ctx.work}/corpus-$i"))
    Run.log(s"corpus written ${SetupReps}x: ${times.mkString(", ")} s")
    (s"${ctx.work}/corpus-1", times)
  }

  private def query(name: String) = graft.SparkEntry.queries(name)

  def run(ctx: Ctx, ops: Seq[String], expected: Map[String, Fingerprint]): Outcome = {
    val spark = ctx.spark
    // the warm-up corpus is written first, so the timed corpus writes
    // that follow are not JIT-cold either
    val warmDir = s"${ctx.work}/corpus-warm"
    Gen.writeCorpus(spark, warmDir, Gen.Orders / 20, Gen.Documents / 20, Gen.Embeddings / 20)
    val (dir, setupS) = corpusSetup(ctx)
    val warmFailed = ops.count { name =>
      val t = scala.util.Try(fingerprint(query(name)(spark, warmDir)))
      t.failed.foreach(e => System.err.println(s"[perfbench] warm-up $name failed: $e"))
      t.isFailure
    }
    Run.log("warmed up")

    def phase(tr: Tracer) = Run.measure(ctx, _ => graft.operators.Dedup.clearLabelCache()) { pass =>
      tr.workload(s"pass $pass") {
        ops.map { name =>
          val t = scala.util.Try(tr.op("operator", name) {
            val df = tr.call("build", "operators")(query(name)(spark, dir))
            tr.call("execute", "spark")(fingerprint(df))
          })
          val ok = t.toOption.exists(got => expected.get(name).contains(got.value))
          if (!ok) System.err.println(s"[perfbench] $name: " +
            t.fold(e => s"failed: $e", got => s"fingerprint ${got.value}") +
            s", committed ${expected.get(name)}")
          OpRec(pass, "operator", name, t.map(_.ms).getOrElse(0.0), ok,
            t.toOption.flatMap(_.stats))
        }
      }
    }
    val (passes, heap) = phase(new Tracer(spark, enabled = false))
    val (e2e, detail) = Run.endToEnd(setupS, passes, heap, _.kind == "operator")
    val hits0 = CacheStats.hits.get()
    val traced = if (!ctx.trace) None else {
      val tr = new Tracer(spark, enabled = true)
      val (tp, _) = tr.workload(ctx.workload)(phase(tr))
      tr.close()
      val hits = CacheStats.hits.get() - hits0
      // an untraced pass after the traced one brackets it, so the
      // overhead is not confounded with the passes' order
      val (after, _) = phase(new Tracer(spark, enabled = false))
      Some((tr, tp, after, hits))
    }
    val perLayer = traced.toSeq.flatMap { case (_, tp, after, hits) =>
      val tOps = tp.flatMap(_.ops)
      val perOp = ops.flatMap { name =>
        val mine = tOps.filter(_.name == name)
        val st = mine.flatMap(_.stats)
        val n = mine.size.max(1).toDouble
        Seq(s"operators.$name.wall_s" -> M(mine.map(_.ms).sum / 1e3 / n, "s"),
          s"operators.$name.exec_cpu_s" -> M(st.map(_.cpuNs).sum / 1e9 / n, "s"),
          s"operators.$name.jobs" -> M(st.map(_.jobs).sum / n, "count"))
      }
      perOp ++ Run.sparkLayer(tp) ++ Seq(
        "core.cache_hits" -> M(hits.toDouble, "count"),
        "trace.overhead_frac" -> M(Run.overhead(passes ++ after, tp), "share"))
    }
    val all = passes.flatMap(_.ops) ++
      traced.toSeq.flatMap { case (_, tp, after, _) => (tp ++ after).flatMap(_.ops) }
    Outcome(e2e, perLayer, all.size.toLong + ops.size, all.count(!_.ok).toLong + warmFailed,
      detail ++ traced.toSeq.flatMap { case (tr, _, _, _) => Seq("spans" -> tr.spanRecords) })
  }
}
