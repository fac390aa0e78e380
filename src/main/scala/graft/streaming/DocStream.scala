package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Streaming document curation — the ingest-time variant of the batch
  * near-dup pass: as documents arrive, band them with the SAME
  * MinHash+LSH pipeline the batch dedup uses ([[Dedup.shinglesOf]] /
  * [[Dedup.sigsFromSets]] / [[Dedup.bandKeys]] — shared code, so
  * batch and stream banding cannot diverge) and match each arrival
  * against the accumulated bucket state. This is the "dedup at the
  * door" pattern a continuously-fed training corpus wants: a new
  * document is flagged the moment it collides with any
  * previously-admitted document's band bucket, without rescanning
  * the corpus.
  *
  * State is ONE long per occupied (band, key) bucket — the earliest
  * admitted doc_id (the cluster representative, matching the batch
  * min-label convention) — bounded by the number of distinct buckets,
  * not by corpus size, and keyed exactly like the batch shuffle. At
  * 100 TB the bucket space is what LSH makes it: state stays
  * per-bucket-constant and the stream never joins corpus×corpus.
  *
  * Determinism: within a micro-batch, bucket members process in
  * doc_id order; the single-file gate corpus arrives as one batch, so
  * the output is exactly the batch oracle (every bucket member except
  * its minimum, labeled with that minimum). Across batches, a
  * later-arriving SMALLER doc_id takes over as representative and the
  * displaced former representative is retro-emitted as a collision
  * row — so the flagged set converges to the batch labeling under any
  * batch split; the rep LABELS on earlier-flagged rows keep their
  * at-emission value (first-seen-then-minimum — the [[EventStream]]
  * stFunnel caveat class, finalized the same way in production).
  *
  * Like the batch candidate stage, emitted pairs are CANDIDATES
  * (band collisions); the exact-Jaccard verify join is the batch
  * tail ([[Dedup]] verifyJaccard) applied to the emitted (doc, rep)
  * stream — kept out of the stateful operator so state stays one
  * long per bucket. */
object DocStream {

  final case class BandRow(band: Int, key: String, doc_id: Long)
  final case class NearDupOut(doc_id: Long, band: Long, key: String, rep_id: Long)

  /** Streaming reader for the documents table — the shared
    * [[EventStream.linkedStreamDir]] symlink-directory arrangement
    * (the file stream source needs a directory; real deployments
    * stream an arriving-files directory anyway). */
  private def docStream(rootSpark: SparkSession, dir: String): DataFrame = {
    val spark = EventStream.streamSession(rootSpark)
    val raw = spark.read.parquet(s"$dir/documents.parquet").schema
    val streamDir = EventStream.linkedStreamDir(
      dir, "graft_docs_stream", "documents.parquet")
    spark.readStream.schema(raw).parquet(streamDir)
  }

  /** st_near_dup — streaming MinHash/LSH near-duplicate detection:
    * every arriving document that collides with an occupied band
    * bucket emits (doc_id, band, key, rep_id). */
  def stNearDup(spark: SparkSession, dir: String): DataFrame = {
    val stream = docStream(spark, dir).select(col("doc_id"), col("text"))
    EventStream.runToTable(nearDupPipeline(stream).toDF(), "append")
      .orderBy("doc_id", "band")
  }

  /** The full banding + stateful-collision pipeline over any
    * streaming (doc_id, text) frame — factored so the multi-batch
    * spec can drive it through a MemoryStream (the file-sourced gate
    * corpus always arrives as one batch). */
  private[graft] def nearDupPipeline(
      stream: DataFrame): org.apache.spark.sql.Dataset[NearDupOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val s = stream.sparkSession
    import s.implicits._
    val sigs = Dedup.sigsFromSets(Dedup.shinglesOf(stream))
      // typed-map barrier: without it CollapseProject inlines the
      // 16-perm signature expression into every band struct (the
      // batch path's .cache() barrier — caches don't exist on a
      // stream, object ser/de does the same fencing)
      .as[(Long, Seq[Long])].map(identity).toDF("doc_id", "sig")
    val bands = Dedup.bandKeys(sigs)
      .as[(Long, Int, String)].map(t => BandRow(t._2, t._3, t._1))
    bands
      .groupByKey(b => (b.band, b.key))
      .flatMapGroupsWithState[Long, NearDupOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (bk: (Int, String), rows: Iterator[BandRow], state: GroupState[Long]) =>
          val docs = rows.map(_.doc_id).toSeq.sorted
          val prev = state.getOption
          val rep = math.min(prev.getOrElse(Long.MaxValue), docs.head)
          state.update(rep)
          // A smaller-id arrival displacing the stored representative
          // RETRO-EMITS the displaced doc: it collided with the
          // newcomer's bucket but is no longer the minimum, and
          // without this row neither side of that collision would
          // ever be flagged. With it, the flagged SET converges to
          // the batch labeling under any batch split (labels keep the
          // first-seen-then-minimum caveat below).
          val displaced = prev.filter(_ > rep)
          (docs.filter(_ != rep) ++ displaced)
            .map(d => NearDupOut(d, bk._1.toLong, bk._2, rep)).iterator
      }
  }

  val stNearDupSql: String =
    s"""WITH sets AS (${Dedup.shingleSetsSql}),
       |${Dedup.minhashSigsSql},
       |${Dedup.bandsSqlCte},
       |rep AS (SELECT b, key, min(doc_id) AS rep_id FROM bands GROUP BY 1, 2)
       |SELECT bd.doc_id, bd.b::BIGINT AS band, bd.key, rep.rep_id
       |FROM bands bd JOIN rep ON bd.b = rep.b AND bd.key = rep.key
       |WHERE bd.doc_id > rep.rep_id
       |ORDER BY doc_id, band""".stripMargin

  final case class DomRow(reg_domain: String, doc_id: Long)
  final case class AdmitOut(doc_id: Long, reg_domain: String, admit_seq: Long)

  /** st_domain_budget — ingest-time per-domain QUOTA enforcement, the
    * streaming twin of [[graft.operators.WebCuration.dDomainBudget]]
    * and the admission-control pattern a continuously-fed crawl
    * pipeline runs at the door (stop pulling from a domain the moment
    * its budget is spent — BEFORE paying dedup/quality/storage for
    * docs that would be cut anyway; the batch operator can only cut
    * after the fact). State is ONE counter per occupied domain —
    * bounded by domain cardinality, never corpus size, keyed exactly
    * like the batch shuffle.
    *
    * Admission is first-come-first-served BY NATURE (an admitted doc
    * cannot be un-admitted when a "better" one arrives later — that
    * re-ranking is the batch operator's job at rebuild time). Within
    * a micro-batch, members process in doc_id order; the single-file
    * gate corpus arrives as one batch, so the admitted set equals the
    * batch rank-by-doc_id oracle exactly. Across batches the FCFS
    * caveat is the [[stNearDup]] first-seen class, spec-pinned with a
    * MemoryStream split: the per-domain count never exceeds the cap
    * under any batch boundary. */
  def stDomainBudget(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.WebCuration
    val stream = docStream(spark, dir).select(col("doc_id"), col("source"))
    val domains = WebCuration.withUrl(stream)
      .select(col("doc_id"),
        regexp_replace(parse_url(col("url"), lit("HOST")), "^www\\.", "")
          .as("reg_domain"))
    EventStream.runToTable(budgetPipeline(domains).toDF(), "append")
      .orderBy("doc_id")
  }

  /** The stateful admission core over any streaming (doc_id,
    * reg_domain) frame — factored for the multi-batch spec. */
  private[graft] def budgetPipeline(
      domains: DataFrame): org.apache.spark.sql.Dataset[AdmitOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val s = domains.sparkSession
    import s.implicits._
    val cap = graft.operators.WebCuration.DomainCap.toLong
    domains.select(col("reg_domain"), col("doc_id")).as[DomRow]
      .groupByKey(_.reg_domain)
      .flatMapGroupsWithState[Long, AdmitOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (dom: String, rows: Iterator[DomRow], state: GroupState[Long]) =>
          val ids = rows.map(_.doc_id).toSeq.sorted
          var n = state.getOption.getOrElse(0L)
          val out = ids.flatMap { id =>
            if (n < cap) { n += 1L; Some(AdmitOut(id, dom, n)) } else None
          }
          state.update(n)
          out.iterator
      }
  }

  val stDomainBudgetSql: String = {
    import graft.operators.WebCuration
    s"""WITH u AS (${WebCuration.withUrlSql}),
       |p AS (
       |  SELECT doc_id,
       |    regexp_replace(regexp_extract(url, '^https://([^/?#]+)', 1),
       |                   '^www\\.', '') AS reg_domain
       |  FROM u)
       |SELECT doc_id, reg_domain, rn AS admit_seq
       |FROM (SELECT doc_id, reg_domain,
       |        row_number() OVER (PARTITION BY reg_domain
       |          ORDER BY doc_id)::BIGINT AS rn
       |      FROM p) t
       |WHERE rn <= ${WebCuration.DomainCap}
       |ORDER BY doc_id""".stripMargin
  }

  final case class ContamOut(doc_id: Long, n_overlap: Long, contaminated: Boolean)

  /** st_decontam — ingest-time benchmark DECONTAMINATION: the
    * streaming twin of [[Dedup.dDecontaminate]], run at the door the
    * way a continuously-fed training corpus needs it (a contaminated
    * doc caught at ingest never pollutes a checkpoint; the batch
    * operator can only catch it after the fact). Every arriving
    * train-split document's distinct word-8-gram hashes probe the
    * FROZEN benchmark fingerprint set, and any overlap emits
    * (doc_id, n_overlap, contaminated) with the batch thresholds.
    *
    * The fingerprint side is STATIC by nature, not a stream:
    * benchmark suites are small, versioned artifacts even when the
    * corpus is 100 TB, so their distinct 8-gram hash set is a bounded
    * sidecar read once per run ([[testShingleSet]] — here derived
    * from the gate corpus's own md5 test split so the oracle is
    * exactly [[Dedup.dDecontaminateSql]]; in production it ships with
    * the eval suite). The stream–static inner join broadcasts that
    * set — the arriving corpus never shuffles against anything
    * corpus-sized, matching the batch operator's linear shape.
    *
    * State is one count per FLAGGED doc (clean docs never reach the
    * stateful operator — the join drops them), accumulated across
    * batches in case a doc's re-delivery splits; a doc row is atomic
    * within a batch, so on the single-file gate corpus each flagged
    * doc emits exactly once and the output equals the batch oracle.
    * A cross-batch re-delivery re-emits the doc with its updated
    * total (the [[stNearDup]] first-seen caveat class); production
    * would age state out with a ProcessingTimeTimeout — NoTimeout
    * keeps the gate deterministic. */
  def stDecontam(spark: SparkSession, dir: String): DataFrame = {
    val stream = docStream(spark, dir).select(col("doc_id"), col("text"))
    val testSet = testShingleSet(stream.sparkSession, dir)
    EventStream.runToTable(decontamPipeline(stream, testSet).toDF(), "append")
      .orderBy("doc_id")
  }

  /** The frozen benchmark fingerprints: distinct 8-gram hashes of the
    * md5 test split, batch-read once per run on the stream's session.
    * Identical hashing to the batch pipeline ([[Dedup.dDecontaminate]]
    * — shared normText/wordShingles/md5_32), so stream and batch
    * verdicts cannot diverge. */
  private[graft] def testShingleSet(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.md5_32
    s.read.parquet(s"$dir/documents.parquet")
      .filter(md5_32(col("doc_id").cast("string")) % 100 >= 90)
      .select(explode(Dedup.contamHashes(col("text"))).as("h"))
      .distinct()
  }

  /** The probe + stateful rollup over any streaming (doc_id, text)
    * frame — factored for the multi-batch spec. */
  private[graft] def decontamPipeline(stream: DataFrame,
      testSet: DataFrame): org.apache.spark.sql.Dataset[ContamOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.functions.TextFunctions.md5_32
    val s = stream.sparkSession
    import s.implicits._
    stream
      .filter(md5_32(col("doc_id").cast("string")) % 100 < 80)
      .select(col("doc_id"), explode(Dedup.contamHashes(col("text"))).as("h"))
      // explicit hint: the fingerprint side is benchmark-bounded BY
      // CONTRACT — pin the broadcast rather than trusting the size
      // estimate of a filter+explode+distinct over a scan (a shuffled
      // stream-static join would shuffle every micro-batch)
      .join(broadcast(testSet), "h")
      .select(col("doc_id")).as[Long]
      .groupByKey(identity)
      .flatMapGroupsWithState[Long, ContamOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: Long, rows: Iterator[Long], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size.toLong
          state.update(n)
          Iterator.single(ContamOut(id, n, n >= Dedup.ContamMinHits))
      }
  }

  final case class NovRow(doc_id: Long, n_grams: Long, seen: Long)
  final case class NovOut(doc_id: Long, n_grams: Long, n_seen: Long)

  /** st_novelty — ingest-time NOVELTY scoring: the streaming twin of
    * [[graft.operators.TextAnalysis.tNovelty]], the fourth door gate
    * next to dedup ([[stNearDup]]), quota ([[stDomainBudget]]), and
    * decontamination ([[stDecontam]]): each arriving doc is scored for
    * the fraction of its distinct word-8-grams unseen in the
    * accumulated base corpus — the admit/downweight signal that stops
    * paying storage for re-crawled boilerplate AT the door. Every
    * arrival scores independently (a door decision is per-arrival; a
    * re-delivered doc re-scores — unlike [[stDecontam]]'s accumulating
    * rollup, nothing carries across batches, so no state at all).
    * Arriving gram postings LEFT-join the base's distinct gram-hash
    * set, exactly like the batch operator (oracle =
    * [[TextAnalysis.tNoveltySql]] verbatim). */
  def stNovelty(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Parity.stableRound
    val stream = docStream(spark, dir).select(col("doc_id"), col("text"))
    val s = stream.sparkSession
    val scored = noveltyPipeline(stream, baseShingleSet(s, dir)).toDF()
    EventStream.runToTable(scored, "append")
      .select(col("doc_id"), col("n_grams"), col("n_seen"),
        stableRound(lit(1.0) - col("n_seen").cast("double") /
          col("n_grams").cast("double"), 6).as("novelty"))
      .orderBy("doc_id")
  }

  /** The base snapshot's distinct gram hashes (buckets < 90 — the
    * d_dedup_incr snapshot convention), batch-read once per run. */
  private[graft] def baseShingleSet(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.md5_32
    s.read.parquet(s"$dir/documents.parquet")
      .filter(md5_32(col("doc_id").cast("string")) % 100 < 90)
      .select(explode(Dedup.contamHashes(col("text"))).as("h"))
      .distinct()
  }

  /** Gram postings LEFT-join the base set, then a
    * per-doc rollup (a doc's rows are atomic within its batch; no
    * state is kept — each arrival scores independently). */
  private[graft] def noveltyPipeline(stream: DataFrame,
      base: DataFrame): org.apache.spark.sql.Dataset[NovOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.functions.TextFunctions.md5_32
    val s = stream.sparkSession
    import s.implicits._
    stream
      .filter(md5_32(col("doc_id").cast("string")) % 100 >= 90)
      .select(col("doc_id"), Dedup.contamHashes(col("text")).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_grams"),
        explode(col("hs")).as("h"))
      // NO broadcast hint here, unlike stDecontam: the base gram set
      // is corpus-sized (90% of all documents), so a forced broadcast
      // would turn "big join" into a hard failure past the 8 GB
      // broadcast limit — the planner picks per its size estimate
      .join(base.withColumn("seen", lit(1L)), Seq("h"), "left_outer")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("seen"), lit(0L)).as("seen")).as[NovRow]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[Long, NovOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: Long, rows: Iterator[NovRow], _: GroupState[Long]) =>
          var g = 0L
          var ns = 0L
          rows.foreach { r => g = r.n_grams; ns += r.seen }
          Iterator.single(NovOut(id, g, ns))
      }
  }

  /** Admission threshold for [[stQuality]]: sits at the gate corpus's
    * quality median (scores span 0.62–0.89), so both verdicts are
    * genuinely exercised. The compare runs on the stableRound(4)
    * score — identical in both engines, so the boundary is safe. */
  val QualityTau = 0.70

  /** st_quality — ingest-time QUALITY admission: the fifth door gate
    * next to dedup ([[stNearDup]]), quota ([[stDomainBudget]]),
    * decontamination ([[stDecontam]]), and novelty ([[stNovelty]]):
    * every arriving document is scored with the SAME metric map the
    * batch operator uses ([[graft.operators.TextAnalysis
    * .qualityMetricsOf]] — shared code, verdicts cannot diverge) and
    * admitted iff quality ≥ [[QualityTau]] — the cheapest content
    * filter in the stack, run BEFORE paying dedup/banding/storage for
    * documents that would be cut anyway. STATELESS by nature (a
    * quality verdict is per-document; nothing accumulates), so the
    * stream stays a narrow per-row map — no join, no shuffle, no
    * state store, at any corpus size. Verdict column kept (not
    * filtered) so the gate checks both classes — `.filter(admit)` is
    * the production tail. */
  def stQuality(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val stream = docStream(spark, dir).select(col("doc_id"), col("text"))
    val scored = TextAnalysis.qualityMetricsOf(stream)
      .select(col("doc_id"), col("n_chars"), col("n_words"), col("quality"),
        (col("quality") >= QualityTau).as("admit"))
    EventStream.runToTable(scored, "append").orderBy("doc_id")
  }

  val stQualitySql: String =
    s"""SELECT doc_id, n_chars, n_words, quality,
       |  (quality >= $QualityTau) AS admit
       |FROM (${graft.operators.TextAnalysis.tQualitySql}) q
       |ORDER BY doc_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st_near_dup" -> stNearDup,
    "st_domain_budget" -> stDomainBudget,
    "st_decontam" -> stDecontam,
    "st_novelty" -> stNovelty,
    "st_quality" -> stQuality,
  )

  def oracles: Map[String, String] = Map(
    "st_near_dup" -> stNearDupSql,
    "st_domain_budget" -> stDomainBudgetSql,
    // the streaming gates' verdicts ARE the batch operators' — the
    // oracles are shared verbatim
    "st_decontam" -> Dedup.dDecontaminateSql,
    "st_novelty" -> graft.operators.TextAnalysis.tNoveltySql,
    "st_quality" -> stQualitySql,
  )
}
