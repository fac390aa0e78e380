package graft

import graft.streaming.DocStream

/** Streaming near-dup: the stateful bucket-collision pass must equal
  * the batch banding's min-representative labeling (computed here
  * from the shared batch pipeline, independently of both the stream
  * and the SQL oracle) and be deterministic across runs. */
class DocStreamSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  test("st_near_dup equals the batch min-representative labeling") {
    val got = DocStream.stNearDup(spark, sf)
      .as[(Long, Long, String, Long)].collect().toSet
    val bands = graft.operators.Dedup.bandKeys(
        graft.operators.Dedup.minhashSigs(spark, sf))
      .as[(Long, Int, String)].collect()
    val expect = bands.groupBy(b => (b._2, b._3)).iterator.flatMap {
      case ((band, key), rows) =>
        val rep = rows.map(_._1).min
        rows.collect { case (d, _, _) if d != rep =>
          (d, band.toLong, key, rep)
        }
    }.toSet
    assert(got == expect,
      s"stream vs batch diverged: extra=${got -- expect} missing=${expect -- got}")
    assert(got.nonEmpty, "fixture produced no collisions — bucket sizes degenerate")
    got.foreach { case (d, _, _, rep) => assert(rep < d) }
  }

  test("cross-batch: a smaller-id arrival retro-emits the displaced representative") {
    // Batch 1 admits doc 10 (bucket rep). Batch 2 delivers doc 5 with
    // IDENTICAL text: 5 takes over as representative and the displaced
    // 10 must be emitted as the collision row — without it neither doc
    // is ever flagged and the stream silently diverges from the batch
    // labeling (which flags 10 with rep 5).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = graft.streaming.DocStream.nearDupPipeline(
      mem.toDF.toDF("doc_id", "text"))
    val name = "neardup_xbatch"
    val q = out.toDF.writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try {
      val txt = "the quick brown fox jumps over the lazy dog and then naps"
      mem.addData((10L, txt))
      q.processAllAvailable()
      assert(spark.table(name).isEmpty, "a lone admission must not flag")
      mem.addData((5L, txt))
      q.processAllAvailable()
      val rows = spark.table(name)
        .as[(Long, Long, String, Long)].collect()
      assert(rows.nonEmpty, "the displaced representative was swallowed")
      assert(rows.forall { case (d, _, _, rep) => d == 10L && rep == 5L },
        s"expected doc 10 flagged with rep 5, got ${rows.toSeq}")
    } finally q.stop()
  }

  test("st_near_dup is deterministic across runs") {
    val a = DocStream.stNearDup(spark, sf).collect().toSeq
    val b = DocStream.stNearDup(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("st_decontam equals the batch decontamination verdicts") {
    val got = DocStream.stDecontam(spark, sf)
      .as[(Long, Long, Boolean)].collect().toSet
    val expect = graft.operators.Dedup.dDecontaminate(spark, sf)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == expect,
      s"stream vs batch diverged: extra=${got -- expect} missing=${expect -- got}")
    assert(got.nonEmpty, "fixture has no contamination — degenerate")
  }

  test("st_decontam: cross-batch re-delivery accumulates and re-emits the updated total") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.{md5_32, words}
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def bucket(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString.substring(0, 8), 16) % 100
    val trainId = (1L to 200L).find(bucket(_) < 80).get
    val leak = "alpha bravo charlie delta echo foxtrot golf hotel"
    val testSet = Seq((0L, leak)).toDF("doc_id", "text")
      .select(explode(array_distinct(transform(
        graft.functions.expr.VectorExpressions.wordShingles(
          words(col("text")), graft.operators.Dedup.ContamNgram),
        x => md5_32(x)))).as("h")).distinct()
    val mem = MemoryStream[(Long, String)]
    val out = DocStream.decontamPipeline(
      mem.toDF.toDF("doc_id", "text"), testSet)
    // the fingerprint side must carry the explicit broadcast hint —
    // without it a size misestimate would shuffle every micro-batch
    assert(out.queryExecution.analyzed.toString.contains("broadcast"),
      s"fingerprint join lost its broadcast hint:\n${out.queryExecution.analyzed}")
    val name = "decontam_xbatch"
    val q = out.toDF.writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try {
      mem.addData((trainId, s"intro words then $leak and a tail"))
      q.processAllAvailable()
      val first = spark.table(name).as[(Long, Long, Boolean)].collect().toSeq
      assert(first == Seq((trainId, 1L, false)),
        s"single shared 8-gram must flag once below threshold: $first")
      // re-delivery with the same leaked span: the stored count grows
      // and the doc re-emits its updated total (first-seen caveat class)
      mem.addData((trainId, s"other framing $leak entirely"))
      q.processAllAvailable()
      val rows = spark.table(name).as[(Long, Long, Boolean)].collect().toSet
      assert(rows == Set((trainId, 1L, false), (trainId, 2L, false)),
        s"re-delivery must accumulate: $rows")
    } finally q.stop()
  }

  test("st_novelty equals the batch novelty scores (exact tier)") {
    val got = DocStream.stNovelty(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSet
    val expect = graft.operators.TextAnalysis.tNovelty(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == expect,
      s"stream vs batch diverged: extra=${got -- expect} missing=${expect -- got}")
    assert(got.nonEmpty, "fixture has no delta docs — degenerate")
  }

  test("st_novelty re-scores independently on re-delivery — no cross-batch state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def bucket(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString.substring(0, 8), 16) % 100
    val deltaId = (1L to 200L).find(bucket(_) >= 90).get
    val known = "alpha bravo charlie delta echo foxtrot golf hotel"
    val base = Seq((0L, known)).toDF("doc_id", "text")
      .select(explode(graft.operators.Dedup.contamHashes(col("text"))).as("h"))
      .distinct()
    val mem = MemoryStream[(Long, String)]
    val out = DocStream.noveltyPipeline(
      mem.toDF.toDF("doc_id", "text"), base)
    val name = "novelty_xbatch"
    val q = out.toDF.writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try {
      val txt = s"fresh words here then $known closing"
      mem.addData((deltaId, txt))
      q.processAllAvailable()
      val first = spark.table(name).as[(Long, Long, Long)].collect().toSeq
      assert(first.length == 1 && first.head._1 == deltaId &&
        first.head._3 == 1L, s"first arrival must score once: $first")
      // identical re-delivery: the door re-scores from scratch — the
      // same row again, never an accumulated count
      mem.addData((deltaId, txt))
      q.processAllAvailable()
      val rows = spark.table(name).as[(Long, Long, Long)].collect().toSeq
      assert(rows.length == 2 && rows.toSet.size == 1,
        s"re-delivery must emit the identical per-arrival score: $rows")
    } finally q.stop()
  }

  test("st_domain_budget: the cap holds under any batch boundary, FCFS admission") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cap = graft.operators.WebCuration.DomainCap
    val mem = MemoryStream[(String, Long)]
    val out = DocStream.budgetPipeline(mem.toDF.toDF("reg_domain", "doc_id"))
    val name = "dombudget_xbatch"
    val q = out.toDF.writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try {
      // batch 1: two docs on domain a (both admitted), one on b
      mem.addData(("a", 10L), ("a", 11L), ("b", 20L))
      q.processAllAvailable()
      // batch 2: domain a gets three more — only ONE seat remains,
      // and FCFS means the earliest id of the batch takes it even
      // though a smaller id (5) arrives in the same batch
      mem.addData(("a", 5L), ("a", 30L), ("a", 31L), ("b", 21L))
      q.processAllAvailable()
      val rows = spark.table(name)
        .as[(Long, String, Long)].collect()
      val byDom = rows.groupBy(_._2)
      assert(byDom("a").map(_._1).toSet == Set(10L, 11L, 5L),
        s"domain a admissions: ${byDom("a").toSeq}")
      assert(byDom("b").map(_._1).toSet == Set(20L, 21L))
      byDom.values.foreach { admitted =>
        assert(admitted.length <= cap, s"cap breached: ${admitted.toSeq}")
        // admit_seq is the running per-domain counter, dense from 1
        assert(admitted.map(_._3).sorted.sameElements(1L to admitted.length.toLong))
      }
    } finally q.stop()
  }

  test("st_domain_budget equals the batch rank on the single-batch corpus") {
    import org.apache.spark.sql.functions._
    val got = DocStream.stDomainBudget(spark, sf)
      .as[(Long, String, Long)].collect().toSet
    val expect = graft.operators.WebCuration.withUrl(
        graft.core.Tables(spark, sf).documents.select(col("doc_id"), col("source")))
      .select(col("doc_id"),
        regexp_replace(parse_url(col("url"), lit("HOST")), "^www\\.", "")
          .as("reg_domain"))
      .as[(Long, String)].collect()
      .groupBy(_._2).iterator.flatMap { case (dom, rows) =>
        rows.map(_._1).sorted.take(graft.operators.WebCuration.DomainCap)
          .zipWithIndex.map { case (id, i) => (id, dom, i + 1L) }
      }.toSet
    assert(got == expect,
      s"stream vs batch rank diverged: extra=${got -- expect} missing=${expect -- got}")
    assert(got.nonEmpty)
  }

  test("st_quality equals the batch quality verdicts; both classes exercised") {
    import org.apache.spark.sql.functions._
    val got = DocStream.stQuality(spark, sf)
      .as[(Long, Long, Long, Double, Boolean)].collect()
    val expect = graft.operators.TextAnalysis.qualityMetrics(spark, sf)
      .select(col("doc_id"), col("n_chars"), col("n_words"), col("quality"),
        (col("quality") >= DocStream.QualityTau).as("admit"))
      .as[(Long, Long, Long, Double, Boolean)].collect()
    assert(got.toSet == expect.toSet,
      "door quality verdicts diverged from the batch operator")
    assert(got.length == expect.length)
    // the threshold must sit INSIDE the score distribution
    assert(got.exists(_._5) && got.exists(!_._5),
      "degenerate threshold: one verdict class only")
  }
}
