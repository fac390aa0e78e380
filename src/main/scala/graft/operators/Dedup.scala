package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Parity.stableRound
import graft.functions.TextFunctions._

/** Deduplication operators over the `documents` table.
  *
  * Scale discipline (SURVEY.md §5): no variant ever cross-joins the
  * corpus. Candidate generation is always linear-ish — a groupBy on a
  * fingerprint (exact), an inverted shingle index (n-gram Jaccard), or
  * LSH band buckets (MinHash / SimHash) — followed by pair
  * verification only inside buckets. All hashes are md5-derived so the
  * DuckDB oracles replay them exactly.
  */
object Dedup {

  /** Mersenne prime modulus for the MinHash permutation family. */
  val P = 2147483647L
  val NumPerms = 16
  val Bands = 4
  val RowsPerBand = 4
  /** Verified-Jaccard threshold for near-dup pairs. */
  val JaccardTau = 0.3
  /** τ as the exact rational 3/10: thresholds compare inter·10 ≥ un·3
    * so the keep decision is integer arithmetic in BOTH engines (a
    * rounded float quotient can straddle τ differently per engine once
    * unions get huge). */
  val JaccardTauNum = 3
  /** SimHash hamming-distance threshold (32-bit hash, 4 bands of 8
    * bits: pigeonhole guarantees any pair at distance ≤ 3 shares a
    * band). */
  val HammingK = 3

  // ---------------------------------------------------------------- exact

  /** Exact dedup: group by md5 of normalized content, keep the min
    * doc_id of each group. Output is the full keeper mapping (one row
    * per doc) — `is_dup` marks rows that would be dropped. A single
    * hash-shuffle; at 100 TB this is the cheapest possible dedup. */
  def dDedupExact(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val fp = d.select(col("doc_id"), md5(normText(col("text"))).as("content_fp"))
    val keepers = fp.groupBy(col("content_fp"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("group_size"))
    fp.join(keepers, "content_fp")
      .select(col("doc_id"), col("content_fp"), col("keeper_id"),
        col("group_size"), (col("doc_id") =!= col("keeper_id")).as("is_dup"))
      .orderBy("doc_id")
  }

  val dDedupExactSql: String =
    s"""SELECT doc_id, content_fp,
       |  min(doc_id) OVER (PARTITION BY content_fp) AS keeper_id,
       |  count(*) OVER (PARTITION BY content_fp) AS group_size,
       |  doc_id <> min(doc_id) OVER (PARTITION BY content_fp) AS is_dup
       |FROM (SELECT doc_id, md5($normSql) AS content_fp FROM documents) t
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------- n-gram Jaccard

  /** Distinct word-3-gram shingles per doc (docs with <3 words drop
    * out — they cannot form a shingle). The input is spread across the
    * full core count first: a small single-file table otherwise runs
    * the whole compute-heavy shingling pipeline in ONE task (at real
    * scale the file count provides the parallelism; an explicit
    * repartition makes the operator independent of input layout). */
  private[graft] def shingleSets(spark: SparkSession, dir: String): DataFrame =
    // WordShingles is a single-pass custom expression: the HOF
    // formulation re-evaluates the word-array expression per element
    // when CollapseProject merges the projections (measured 40×).
    shinglesOf(TextAnalysis.docsSpread(spark, dir))

  private[graft] val shingleSetsSql: String =
    s"""SELECT doc_id,
       |  list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS shing
       |FROM (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents) t
       |WHERE len(w) >= 3""".stripMargin

  /** n-gram Jaccard near-dup pairs via a PREFIX-FILTERED inverted
    * shingle index (the public AllPairs/ppjoin technique — Bayardo,
    * Ma & Srikant, WWW 2007; Xiao et al., WWW 2008): put every doc's
    * shingle hashes in one global canonical order, index only each
    * doc's first |s| − ⌈τ·|s|⌉ + 1 tokens, and generate candidates
    * from prefix⋈prefix collisions. RESULT-PRESERVING, unlike a stop-
    * shingle df cap: J(A,B) ≥ τ forces integer overlap o ≥ ⌈τ·|A|⌉
    * (since |B| ≥ τ·|A|), so if the smallest common token were
    * outside A's prefix, all o common tokens would sit in A's
    * (⌈τ|A|⌉−1)-token suffix — impossible; by symmetry it is in B's
    * prefix too, so every qualifying pair collides on it. Verification
    * with exact set Jaccard |∩|/(|A|+|B|−|∩|) ≥ τ then drops false
    * candidates.
    *
    * The theorem holds for ANY global total order; the order used is
    * the hash value itself, so each doc's prefix is
    * `slice(array_sort(hs), 1, ℓ)` — a narrow per-row expression
    * costing NO df pass, no join, no window. Random-order prefixes
    * still cut candidate volume to ~(1−τ)² of the full index's Σ df²
    * (ZipfNgramSpec pins the cut against the full index, and the pair
    * set against an all-pairs Jaccard, on a Zipfian fixture).
    *
    * The whole pipeline runs on 32-bit md5 shingle hashes, not shingle
    * strings: postings shuffle 8-byte longs instead of ~25-byte
    * strings and verification intersects long arrays. Hash collisions
    * (≈ |shingles|²/2³³, ~0.03 expected at sf0.01) merge shingles
    * identically in the oracle, which applies the same md5 transform —
    * parity is exact by construction. The oracle keeps the plain
    * UNFILTERED inverted index: prefix filtering changes the plan,
    * never the result, and the driver's hash gate proves exactly that.
    *
    * The sets feed multiple consumers (prefix generation and both
    * verification sides) and are deliberately NOT cached: the
    * pipelined parallel recomputes are measurably cheaper than
    * columnar-encoding nested arrays into storage memory (persist was
    * tried and cost ~40% wall-clock at sf0.1). */
  /** Hash-order result-preserving prefix postings shared by the ngram
    * dedup family: ℓ = |s| − ⌈τ·|s|⌉ + 1 with ⌈τ·sz⌉ = (3·sz+9) div 10
    * in exact integer arithmetic (τ = 3/10 = JaccardTau).
    * Package-visible so specs can measure candidate volume on
    * controlled fixtures. */
  private[graft] def hashPrefix(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), explode(expr(
      "slice(array_sort(hs), 1, size(hs) - ((3 * size(hs) + 9) div 10) + 1)")).as("h"))

  /** Exact-verification tail shared by the ngram dedup family: attach
    * both shingle sets to the candidate id pairs, decide τ in exact
    * integer arithmetic (inter·10 ≥ un·3 — a float `round(j,6) >= 0.3`
    * is engine-portable only while no union lands a true quotient
    * inside the rounding gap), and emit the rounded jaccard as a
    * DISPLAY column, never the decision. */
  private def verifyPairs(cand: DataFrame, sets: DataFrame): DataFrame =
    // each side's set is SORTED once per document row; the per-PAIR
    // intersection count is then a codegen'd merge scan instead of
    // array_intersect's per-pair hash-set build + discarded result
    // array (size() was the only consumer). Equal counts by
    // construction — ExprSpec pins IntersectCountSorted ≡
    // size(array_intersect) — so inter/un/jaccard are bit-identical.
    cand
      .join(sets.select(col("doc_id").as("id1"), array_sort(col("hs")).as("s1")), "id1")
      .join(sets.select(col("doc_id").as("id2"), array_sort(col("hs")).as("s2")), "id2")
      .withColumn("inter", graft.functions.expr.FoldExpressions
        .intersectCountSorted(col("s1"), col("s2")).cast("long"))
      .withColumn("un",
        (size(col("s1")) + size(col("s2"))).cast("long") - col("inter"))
      .filter(col("inter") * 10 >= col("un") * JaccardTauNum)
      .withColumn("jaccard", stableRound(col("inter") / col("un"), 6))
      .select("id1", "id2", "inter", "jaccard")
      .orderBy("id1", "id2")

  /** Hashed distinct shingle sets (doc_id, hs) — the ngram family's
    * shared input; package-visible for the Zipf measurement spec. */
  private[graft] def ngramSets(spark: SparkSession, dir: String): DataFrame =
    shingleSets(spark, dir)
      .select(col("doc_id"),
        array_distinct(transform(col("shing"), s => md5_32(s))).as("hs"))

  def dDedupNgram(spark: SparkSession, dir: String): DataFrame = {
    val sets = ngramSets(spark, dir)
    val prefix = hashPrefix(sets)
    // The candidate id-pairs are narrow (16 B) so AQE coalesces their
    // dedup exchange by BYTE size to a handful of tasks — but the stage
    // DOWNSTREAM of that exchange does the expensive part (both shingle
    // sets join back and array_intersect verifies every pair): measured
    // 10-15 s of exact-verify CPU squeezed onto 5 tasks. A numbered
    // repartition on the pair key pins the verify width (exempt from
    // AQE coalescing) and satisfies the dedup's clustering, adding no
    // extra exchange.
    val cand = graft.core.Tables.pinWidth(
        prefix.as("a").join(prefix.as("b"), "h")
          .filter(col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2")),
        col("id1"), col("id2"))
      .dropDuplicates("id1", "id2")
    verifyPairs(cand, sets)
  }

  /** The τ-true pair TRUTH frame (id1, id2, inter, jaccard), scratch-
    * persisted once per testdata generation ([[StorageOps.buildOnce]]
    * — the same discipline that pre-builds stores and ANN sidecars)
    * and shared by every truth CONSUMER ([[dDedupEval]],
    * [[dLshTune]]): each used to re-run the whole AllPairs pipeline
    * (~7 s per consumer at sf0.1), tripling the suite's dedup cost
    * for the identical deterministic frame. [[dDedupNgram]] itself
    * still computes the live pipeline — it IS the measured operator;
    * consumers read the persisted artifact, which is exactly how a
    * production pipeline treats its dedup output (computed once,
    * audited many times). Parquet round-trips longs and doubles
    * bit-exactly, so consumer parity is unchanged. */
  private[graft] def ngramTruth(spark: SparkSession, dir: String): DataFrame = {
    val path = StorageOps.scratch("ngramtruth", dir)
    StorageOps.buildOnce(path) {
      dDedupNgram(spark, dir).write.mode("overwrite").parquet(path)
    }
    spark.read.parquet(path)
  }

  /** The one DuckDB formulation of shingle → candidate → exact-verify
    * shared by the ngram dedup family; `candPredicate` restricts the
    * candidate pair set (empty for the full dedup, the new-snapshot
    * bound for the incremental one). Mirrors hashPrefix/verifyPairs:
    * the oracle runs the UNFILTERED posting join because prefix
    * filtering is result-preserving by construction. */
  private def ngramPairsSql(candPredicate: String): String =
    s"""WITH strsets AS ($shingleSetsSql),
       |sets AS (SELECT doc_id,
       |  list_distinct(list_transform(shing, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT)) AS hs
       |  FROM strsets),
       |posts AS (SELECT doc_id, unnest(hs) AS h FROM sets),
       |cand AS (
       |  SELECT DISTINCT a.doc_id id1, b.doc_id id2
       |  FROM posts a JOIN posts b ON a.h = b.h AND a.doc_id < b.doc_id$candPredicate)
       |SELECT id1, id2,
       |  len(list_intersect(s1.hs, s2.hs))::BIGINT AS inter,
       |  floor((len(list_intersect(s1.hs, s2.hs)) /
       |    (len(s1.hs) + len(s2.hs) - len(list_intersect(s1.hs, s2.hs)))::DOUBLE) * 1e6 + 0.5) / 1e6 AS jaccard
       |FROM cand
       |JOIN sets s1 ON id1 = s1.doc_id
       |JOIN sets s2 ON id2 = s2.doc_id
       |WHERE len(list_intersect(s1.hs, s2.hs)) * 10 >=
       |    (len(s1.hs) + len(s2.hs) - len(list_intersect(s1.hs, s2.hs))) * $JaccardTauNum
       |ORDER BY id1, id2""".stripMargin

  val dDedupNgramSql: String = ngramPairsSql("")

  /** Containment threshold τc = [[ContainTauNum]]/10: the contained
    * doc must share this fraction of ITS OWN shingles with the
    * container. */
  val ContainTauNum = 8

  /** d_containment — ASYMMETRIC near-dup detection: ordered pairs
    * (id_in, id_of) where |A∩B|/|A| ≥ τc over the hashed 3-gram
    * shingle sets — the quote-expansion/sub-document case symmetric
    * Jaccard misses by construction (a short doc embedded verbatim in
    * a 10× longer one has jaccard ≈ 0.1 but containment 1.0; real
    * pipelines drop the contained copy). Both directions can emit
    * when sizes are close — the pair is ORDERED and the score is
    * direction-specific.
    *
    * Candidates use the one-sided prefix filter: if |A∩B| ≥ ⌈τc·|A|⌉
    * then at most |A|−⌈τc·|A|⌉ of A's canonically-ordered (hash-asc)
    * shingles miss B, so A's first |A|−⌈τc·|A|⌉+1 must hit B's FULL
    * posting list — prefix on the contained side only, full index on
    * the container side (the asymmetric analog of [[hashPrefix]];
    * result-preserving, spec-pinned against the unfiltered join).
    * Volume is Σ_h df_prefix(h)·df(h) — between the Jaccard family's
    * prefix⋈prefix and the full Σ df². Verification is exact integer
    * arithmetic (inter·10 ≥ |A|·τc_num); ids-only shuffles, sets join
    * back only for survivors — the [[dDedupNgram]] discipline. */
  def dContainment(spark: SparkSession, dir: String): DataFrame = {
    val sets = ngramSets(spark, dir)
    val prefixIn = sets.select(col("doc_id"), explode(expr(
      s"slice(array_sort(hs), 1, size(hs) - (($ContainTauNum * size(hs) + 9) div 10) + 1)")).as("h"))
    val posts = sets.select(col("doc_id"), explode(col("hs")).as("h"))
    // pin the exact-verify width against AQE's byte-blind coalesce of
    // the narrow pair exchange — the [[dDedupNgram]] rationale
    val cand = graft.core.Tables.pinWidth(
        prefixIn.as("a").join(posts.as("b"), "h")
          .filter(col("a.doc_id") =!= col("b.doc_id"))
          .select(col("a.doc_id").as("id_in"), col("b.doc_id").as("id_of")),
        col("id_in"), col("id_of"))
      .dropDuplicates("id_in", "id_of")
    cand
      .join(sets.select(col("doc_id").as("id_in"), array_sort(col("hs")).as("s1")), "id_in")
      .join(sets.select(col("doc_id").as("id_of"), array_sort(col("hs")).as("s2")), "id_of")
      // merge-scan count over per-doc-sorted sets — the verifyPairs
      // rationale (ExprSpec pins ≡ size(array_intersect))
      .withColumn("inter", graft.functions.expr.FoldExpressions
        .intersectCountSorted(col("s1"), col("s2")).cast("long"))
      .filter(col("inter") * 10 >= size(col("s1")).cast("long") * ContainTauNum)
      .withColumn("containment", stableRound(col("inter") / size(col("s1")), 6))
      .select("id_in", "id_of", "inter", "containment")
      .orderBy("id_in", "id_of")
  }

  val dContainmentSql: String =
    s"""WITH strsets AS ($shingleSetsSql),
       |sets AS (SELECT doc_id,
       |  list_distinct(list_transform(shing, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT)) AS hs
       |  FROM strsets),
       |posts AS (SELECT doc_id, unnest(hs) AS h FROM sets),
       |cand AS (
       |  SELECT DISTINCT a.doc_id id_in, b.doc_id id_of
       |  FROM posts a JOIN posts b ON a.h = b.h AND a.doc_id != b.doc_id)
       |SELECT id_in, id_of,
       |  len(list_intersect(s1.hs, s2.hs))::BIGINT AS inter,
       |  floor((len(list_intersect(s1.hs, s2.hs)) / len(s1.hs)::DOUBLE) * 1e6 + 0.5) / 1e6 AS containment
       |FROM cand
       |JOIN sets s1 ON id_in = s1.doc_id
       |JOIN sets s2 ON id_of = s2.doc_id
       |WHERE len(list_intersect(s1.hs, s2.hs)) * 10 >= len(s1.hs) * $ContainTauNum
       |ORDER BY id_in, id_of""".stripMargin

  /** The "new snapshot" d_dedup_incr checks against the whole corpus
    * is the LAST this-many documents (doc_ids are dense 0..n-1, so the
    * suffix is doc_id >= n − count) — a fixed-SIZE snapshot, not a
    * fixed id threshold, so the incremental premise (snapshot ≪
    * corpus) holds at every scale factor instead of inverting as the
    * corpus grows. */
  val IncrNewCount = 100L

  /** The snapshot boundary id for `dir`: one count() over parquet
    * footers — no data scan. */
  def incrSplit(spark: SparkSession, dir: String): Long =
    Tables(spark, dir).documents.count() - IncrNewCount

  /** d_dedup_incr — cross-snapshot n-gram dedup: every jaccard-≥-τ
    * pair with at least one member in the NEW snapshot (the last
    * [[IncrNewCount]] documents), i.e. exactly dDedupNgram's pairs
    * restricted to id2 in the new set (id-ordered pairs put the new
    * doc at id2) — the daily-crawl-vs-historical-index shape, where
    * re-pairing the old corpus against itself every snapshot is the
    * cost to avoid.
    *
    * Scale shape: the candidate join keeps the FULL corpus on one side
    * but restricts the other to the new snapshot's prefixes, so
    * candidate volume is Σ_h df_all·df_new instead of Σ_h df_all² —
    * linear in the snapshot, not the corpus (the snapshot is
    * fixed-SIZE, so the ratio holds at every scale). The new-side
    * doc_id predicate pushes into the parquet scan (plan-asserted). In
    * a production pipeline the old side's postings come precomputed
    * from the store (one IndexedStore generation per snapshot) rather
    * than re-shingled; here both sides derive from the one scan so the
    * oracle sees identical inputs. Prefix filtering stays
    * result-preserving under the asymmetric join: the theorem is
    * per-pair (two τ-similar sets share a prefix token in any common
    * global order), independent of which side is restricted. */
  def dDedupIncr(spark: SparkSession, dir: String): DataFrame = {
    val split = incrSplit(spark, dir)
    val sets = shingleSets(spark, dir)
      .select(col("doc_id"),
        array_distinct(transform(col("shing"), s => md5_32(s))).as("hs"))
    val prefix = hashPrefix(sets)
    val newPrefix = prefix.filter(col("doc_id") >= split)
    val cand = prefix.as("a").join(newPrefix.as("b"), "h")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .dropDuplicates("id1", "id2")
    verifyPairs(cand, sets)
  }

  val dDedupIncrSql: String = ngramPairsSql(
    s"\n  WHERE b.doc_id >= (SELECT count(*) - $IncrNewCount FROM documents)")

  // ------------------------------------------------------- MinHash LSH

  /** MinHash signatures: shingle → 32-bit md5 hash h, permutation i
    * gives ((2i+1)·h + b_i) mod P, signature = min over shingles.
    * 16 perms, banded 4×4 for LSH. */
  private[graft] def minhashSigs(spark: SparkSession, dir: String): DataFrame =
    sigsFromSets(shingleSets(spark, dir))

  /** Signature pipeline over any (doc_id, shing) frame — shared with
    * the streaming near-dup path so batch and stream banding cannot
    * diverge. */
  private[graft] def sigsFromSets(sets: DataFrame): DataFrame = {
    // Materialize the hash array first: referencing the transform
    // expression inside each of the 16 aggregates would recompute
    // every md5 16×.
    val hashed = sets.select(col("doc_id"),
      transform(col("shing"), s => md5_32(s)).as("hs"))
    hashed.select(col("doc_id"),
      graft.functions.expr.VectorExpressions.minhashSigs(col("hs"), NumPerms, P).as("sig"))
  }

  /** The shingle expression over a (doc_id, text) frame — the column
    * pipeline [[shingleSets]] applies to the batch table, reusable on
    * a streaming frame. */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.expr.VectorExpressions.wordShingles(
          graft.functions.TextFunctions.words(col("text")), 3).as("shing"))
      .filter(size(col("shing")) > 0)

  /** The LSH bands CTE (over `sigarr`) shared by every oracle that
    * mirrors [[bandKeys]]. */
  private[graft] val bandsSqlCte: String =
    s"""bands AS (
       |  SELECT doc_id, b,
       |    md5(array_to_string(list_transform(sig[b*$RowsPerBand + 1 : b*$RowsPerBand + $RowsPerBand],
       |      x -> x::VARCHAR), '-')) AS key
       |  FROM sigarr CROSS JOIN (SELECT unnest(range($Bands)) AS b) bb)""".stripMargin

  private[graft] val minhashSigsSql: String =
    s"""sigs AS (
       |  SELECT doc_id, i,
       |    min(((2*i + 1)*h + (1000003*(i + 1)) % $P) % $P) AS sig
       |  FROM (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS h
       |        FROM (SELECT doc_id, unnest(shing) AS s FROM sets) e)
       |  CROSS JOIN (SELECT unnest(range($NumPerms)) AS i) p
       |  GROUP BY doc_id, i),
       |sigarr AS (SELECT doc_id, list(sig ORDER BY i) AS sig FROM sigs GROUP BY doc_id)""".stripMargin

  /** MinHash+LSH near-dup pairs: band key = md5 of 4 consecutive sig
    * values; candidates collide on (band, key); candidates are then
    * verified with exact Jaccard ≥ τ. Only bucket-mates are ever
    * paired — candidate generation is one explode + one shuffle. */
  /** LSH band keys for a signature frame: (doc_id, band, key), one
    * row per band per doc. SHARED by the full and incremental
    * clustering paths so their banding cannot diverge (the
    * incremental oracle is the full recompute's closure). Band
    * structs are built with a Scala-level loop: a lambda-internal
    * slice(col("sig"), ...) would re-evaluate the signature
    * expression per band element after projection collapse. */
  private[graft] def bandKeys(sigs: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("-",
          (0 until RowsPerBand).map(r =>
            element_at(col("sig"), b * RowsPerBand + r + 1).cast("string")): _*)).as("key"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Exact-Jaccard verification of candidate (id1, id2) pairs against
    * the string shingle sets — shared by every MinHash-candidate
    * consumer; keeps pairs by the integer-exact τ test (inter·10 ≥
    * un·3 — same rationale as [[dDedupNgram]]: the decision must not
    * ride on float rounding). */
  private def verifyJaccard(cand: DataFrame, sets: DataFrame): DataFrame =
    // per-doc array_sort + per-pair merge-scan count — the verifyPairs
    // rationale, on the STRING shingle sets (ExprSpec pins ≡
    // size(array_intersect) for string elements too)
    cand
      .join(sets.select(col("doc_id").as("id1"), array_sort(col("shing")).as("s1")), "id1")
      .join(sets.select(col("doc_id").as("id2"), array_sort(col("shing")).as("s2")), "id2")
      .withColumn("inter", graft.functions.expr.FoldExpressions
        .intersectCountSorted(col("s1"), col("s2")))
      .withColumn("un", size(col("s1")) + size(col("s2")) - col("inter"))
      .filter(col("inter") * 10 >= col("un") * JaccardTauNum)
      .withColumn("jaccard", stableRound(col("inter") / col("un"), 6))

  def dDedupMinhash(spark: SparkSession, dir: String): DataFrame =
    // Candidate generation shuffles ids only ([[minhashCandidates]]);
    // the (large) shingle arrays are joined back just for the
    // verification of survivors.
    verifyJaccard(minhashCandidates(spark, dir), shingleSets(spark, dir))
      .select("id1", "id2", "jaccard")
      .orderBy("id1", "id2")

  val dDedupMinhashSql: String =
    s"""WITH sets AS ($shingleSetsSql),
       |$minhashSigsSql,
       |$bandsSqlCte,
       |cand AS (
       |  SELECT DISTINCT a.doc_id id1, b.doc_id id2
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT id1, id2,
       |  floor((len(list_intersect(sa.shing, sb.shing)) /
       |    (len(sa.shing) + len(sb.shing) - len(list_intersect(sa.shing, sb.shing)))::DOUBLE) * 1e6 + 0.5) / 1e6 AS jaccard
       |FROM cand JOIN sets sa ON id1 = sa.doc_id JOIN sets sb ON id2 = sb.doc_id
       |WHERE len(list_intersect(sa.shing, sb.shing)) * 10 >=
       |    (len(sa.shing) + len(sb.shing) - len(list_intersect(sa.shing, sb.shing))) * $JaccardTauNum
       |ORDER BY id1, id2""".stripMargin

  /** Raw LSH band-collision candidate pairs (id1 < id2), BEFORE the
    * exact-Jaccard verify — shared by [[dDedupMinhash]] and the
    * candidate-quality audit so the banding under audit is the
    * banding in production. */
  private[graft] def minhashCandidates(spark: SparkSession, dir: String): DataFrame = {
    val bands = bandKeys(minhashSigs(spark, dir))
      // same materialization barrier as dDedupMinhash: without it
      // CollapseProject re-inlines the signature work per join side
      .cache()
    bands.as("a").join(bands.as("b"), Seq("band", "key"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .dropDuplicates("id1", "id2")
  }

  /** d_dedup_eval — candidate-QUALITY audit of the MinHash/LSH tier:
    * the raw band-collision pairs scored against the exact τ-Jaccard
    * pair set (complete by the AllPairs prefix-filter theorem —
    * [[dDedupNgram]]), emitting one row of TP/FP/FN counts with
    * precision and recall. This is the eval the banding parameters
    * (bands × rows/band) are chosen BY: the S-curve says what recall
    * to expect at τ, and this measures it on the real corpus — the
    * t_lang_eval / d_classify_calib evaluation pattern applied to the
    * dedup family. Counts are integers and the two rates are exact
    * integer-over-integer doubles, so the row hash-gates.
    *
    * Scale shape: both inputs are the production pipelines (linear,
    * bucketed — never all-pairs); the audit adds one id-pair
    * equi-join and three bounded aggregations on top. At 100 TB this
    * runs on a SAMPLE of the corpus by the same train-on-sample
    * discipline as PQ/Gram — recall is a per-pair property, so a
    * doc-sampled estimate is unbiased for the pairs it retains. */
  def dDedupEval(spark: SparkSession, dir: String): DataFrame = {
    val truth = ngramTruth(spark, dir).select("id1", "id2")
    val cand = minhashCandidates(spark, dir)
    val tp = cand.join(truth, Seq("id1", "id2"))
      .agg(count(lit(1)).as("tp"))
    cand.agg(count(lit(1)).as("n_cand"))
      .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
      .crossJoin(tp)
      .select(col("n_cand"), col("n_truth"), col("tp"),
        (col("n_cand") - col("tp")).as("fp"),
        (col("n_truth") - col("tp")).as("fn"),
        stableRound(col("tp") / col("n_cand").cast("double"), 6).as("prec"),
        stableRound(col("tp") / col("n_truth").cast("double"), 6).as("recall"))
  }

  /** The (bands, rows/band) factorizations of [[NumPerms]] the tuner
    * scores — the whole signature budget spent each way. */
  private[graft] val LshTuneConfigs: Seq[(Int, Int)] =
    Seq(1, 2, 4, 8, 16).filter(NumPerms % _ == 0)
      .map(r => (NumPerms / r, r)).sortBy(_._1)

  /** Binary-exponentiation power with a FIXED operation tree, spelled
    * with the identical structure in [[powSqlStr]]: multiplication is
    * correctly rounded (pow() is not guaranteed to be), so the float
    * result is bit-equal across engines. */
  private def powCol(x: Column, n: Int): Column =
    if (n == 1) x
    else if (n % 2 == 0) { val h = powCol(x, n / 2); h * h }
    else powCol(x, n - 1) * x

  private def powSqlStr(x: String, n: Int): String =
    if (n == 1) x
    else if (n % 2 == 0) { val h = powSqlStr(x, n / 2); s"($h * $h)" }
    else s"(${powSqlStr(x, n - 1)} * $x)"

  /** d_lsh_tune — the (bands × rows/band) S-curve choice, made
    * MEASURABLE on the corpus's own duplicate distribution: for every
    * factorization of the [[NumPerms]] signature budget, the expected
    * LSH recall at τ — mean over the exact τ-true pairs ([[dDedupNgram]],
    * complete by the prefix-filter theorem) of the collision
    * probability 1 − (1 − s^r)^b at each pair's MEASURED Jaccard s.
    * This is the number the banding parameter is chosen BY before
    * burning compute at 100 TB (d_dedup_eval then audits the choice
    * against actual band collisions): more rows/band sharpens the
    * S-curve (fewer false candidates) at the cost of recall on
    * borderline-τ pairs — the tuner shows exactly how much recall
    * each sharpening step costs on THIS corpus, not on a textbook
    * uniform assumption.
    *
    * Float parity: s is the already-hash-green stableRounded Jaccard;
    * powers are computed by binary exponentiation with the identical
    * op tree in both engines (never pow()).
    *
    * Each config's mean folds over ONE sorted per-pair row —
    * bit-identical to the oracle, with row size bounded by the τ-true
    * pair set. The truth is the scratch-persisted [[ngramTruth]]
    * artifact shared with [[dDedupEval]]. */
  def dLshTune(spark: SparkSession, dir: String): DataFrame = {
    // five config arms reference the frame — freeze it once (lazy
    // localCheckpoint: blocks released when the frame is dropped)
    val truth = ngramTruth(spark, dir)
      .select(col("id1"), col("id2"), col("jaccard"))
      .localCheckpoint(false)
    LshTuneConfigs.map { case (b, r) =>
      val prob = lit(1.0) - powCol(lit(1.0) - powCol(col("jaccard"), r), b)
      truth.select(struct(col("id1"), col("id2"), prob.as("p")).as("s"))
        .agg(sort_array(collect_list(col("s"))).as("ps"),
          count(lit(1)).as("n"))
        .select(col("n"),
          (graft.functions.expr.FoldExpressions.sumArrayField(col("ps"), "p") /
            col("n").cast("double")).as("mean"))
        .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          lit(b == Bands).as("is_current"),
          col("n").as("n_truth"),
          stableRound(col("mean"), 6).as("exp_recall"))
    }.reduce(_.unionByName(_)).orderBy("bands")
  }

  val dLshTuneSql: String = {
    val arms = LshTuneConfigs.map { case (b, r) =>
      val prob = s"1.0 - ${powSqlStr(s"(1.0 - ${powSqlStr("jaccard", r)})", b)}"
      s"""SELECT $b AS bands, $r AS rows_per_band,
         |  ${if (b == Bands) "TRUE" else "FALSE"} AS is_current,
         |  count(*)::BIGINT AS n_truth,
         |  ${graft.functions.Parity.stableRoundSql(
              s"list_reduce(list_prepend(0.0, list($prob ORDER BY id1, id2)), (a, b) -> a + b) / count(*)::DOUBLE",
              6)} AS exp_recall
         |FROM truth""".stripMargin
    }
    s"""WITH truth AS (
       |$dDedupNgramSql
       |)
       |${arms.mkString("\nUNION ALL\n")}
       |ORDER BY bands""".stripMargin
  }

  /** The eval oracle: the minhash candidate CTEs + the unfiltered
    * ngram truth CTEs over the SAME shingle sets, then three scalar
    * counts. `sets`/`cand`/`truth` are MATERIALIZED — each is
    * referenced more than once and DuckDB re-evaluates inlined CTEs
    * per reference. */
  val dDedupEvalSql: String =
    s"""WITH sets AS MATERIALIZED ($shingleSetsSql),
       |$minhashSigsSql,
       |$bandsSqlCte,
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id id1, b.doc_id id2
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
       |hsets AS MATERIALIZED (SELECT doc_id,
       |  list_distinct(list_transform(shing, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT)) AS hs
       |  FROM sets),
       |posts AS (SELECT doc_id, unnest(hs) AS h FROM hsets),
       |ncand AS (
       |  SELECT DISTINCT a.doc_id id1, b.doc_id id2
       |  FROM posts a JOIN posts b ON a.h = b.h AND a.doc_id < b.doc_id),
       |truth AS MATERIALIZED (
       |  SELECT id1, id2 FROM ncand
       |  JOIN hsets s1 ON id1 = s1.doc_id
       |  JOIN hsets s2 ON id2 = s2.doc_id
       |  WHERE len(list_intersect(s1.hs, s2.hs)) * 10 >=
       |    (len(s1.hs) + len(s2.hs) - len(list_intersect(s1.hs, s2.hs))) * $JaccardTauNum)
       |SELECT n_cand, n_truth, tp,
       |  n_cand - tp AS fp,
       |  n_truth - tp AS fn,
       |  floor((tp / n_cand::DOUBLE) * 1e6 + 0.5) / 1e6 AS prec,
       |  floor((tp / n_truth::DOUBLE) * 1e6 + 0.5) / 1e6 AS recall
       |FROM (SELECT
       |  (SELECT count(*) FROM cand)::BIGINT AS n_cand,
       |  (SELECT count(*) FROM truth)::BIGINT AS n_truth,
       |  (SELECT count(*) FROM cand JOIN truth USING (id1, id2))::BIGINT AS tp) t""".stripMargin

  // ---------------------------------------------------------- SimHash

  /** Frequency-weighted 32-bit SimHash from a pre-materialized word
    * hash array: bit j is set when Σ_words (±1 by bit j of the word
    * hash) is positive. */
  def simhashFromHashes(hs: Column): Column =
    (0 until 32).map { j =>
      when(aggregate(hs, lit(0L),
        (acc, h) => acc + (shiftright(h, j) % 2L) * 2L - 1L) > 0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** SimHash of a text column (materialize the word-hash array before
    * calling [[simhashFromHashes]] in bulk pipelines — inlining it
    * would recompute every md5 32×). */
  def simhash(text: Column): Column =
    simhashFromHashes(transform(split(normText(text), " "), w => md5_32(w)))

  /** SimHash near-dup pairs: 4 bands of 8 bits generate candidates
    * (pigeonhole-complete for hamming ≤ 3), verified with exact
    * bit_count(xor) ≤ k. */
  def dDedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val d = TextAnalysis.docsSpread(spark, dir)
    val hashed = d.select(col("doc_id"),
      transform(split(normText(col("text")), " "), w => md5_32(w)).as("hs"))
    // Cached: the 4-band union and both sides of the candidate join
    // would otherwise recompute the word hashing per branch.
    val sims = hashed.select(col("doc_id"),
      graft.functions.expr.VectorExpressions.simhash32(col("hs")).as("s"))
      .cache()
    // shiftright needs a literal bit count, so bands are a small union
    val banded = (0 until 4).map { b =>
      sims.select(col("doc_id"), col("s"), lit(b).as("band"),
        (shiftright(col("s"), 8 * b).bitwiseAND(lit(255L))).as("bv"))
    }.reduce(_ unionByName _)
    // verify BEFORE the pair dedup (the m_phash reorder): hamming is
    // per-row arithmetic, identical across a pair's duplicate band
    // rows, so filter∘distinct ≡ distinct∘filter exactly — and the
    // filter shrinks the dedup exchange by the banding's 1/precision
    banded.as("a").join(banded.as("b"), Seq("band", "bv"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.s").as("s1"), col("b.s").as("s2"))
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))).cast("long"))
      .filter(col("hamming") <= HammingK)
      .dropDuplicates("id1", "id2")
      .select("id1", "id2", "hamming")
      .orderBy("id1", "id2")
  }

  val dDedupSimhashSql: String =
    s"""WITH docs AS (SELECT doc_id, $normSql AS norm FROM documents),
       |wh AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS h
       |       FROM (SELECT doc_id, unnest(string_split(norm, ' ')) AS w FROM docs) e),
       |bits AS (
       |  SELECT doc_id, j,
       |    CASE WHEN sum(((h >> j) & 1)*2 - 1) > 0 THEN (1::BIGINT << j) ELSE 0 END AS bitv
       |  FROM wh CROSS JOIN (SELECT unnest(range(32)) AS j) jj GROUP BY doc_id, j),
       |sim AS (SELECT doc_id, sum(bitv)::BIGINT AS s FROM bits GROUP BY doc_id),
       |bands AS (SELECT doc_id, s, b, (s >> (8*b)) & 255 AS bv
       |          FROM sim CROSS JOIN (SELECT unnest(range(4)) AS b) bb),
       |cand AS (
       |  SELECT DISTINCT a.doc_id id1, b.doc_id id2, a.s s1, b.s s2
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT id1, id2, bit_count(xor(s1, s2))::BIGINT AS hamming
       |FROM cand
       |WHERE bit_count(xor(s1, s2)) <= $HammingK
       |ORDER BY id1, id2""".stripMargin

  // ------------------------------------------------- cluster + split

  /** Near-dup CLUSTERING: connected components over the MinHash pair
    * graph, labeled by the min doc_id of each component — the pipeline
    * step after pair generation ("keep one doc per dup cluster").
    *
    * Min-label propagation: every node starts labeled with itself;
    * each round pulls the min label across edges until a fixpoint —
    * the standard distributed CC algorithm (what GraphX does under the
    * hood), converging in O(log diameter) rounds, and dup components
    * are shallow (stars/cliques), so 2-3 rounds in practice. The
    * driver loop only checks convergence counts; all data work is
    * distributed joins on (id, label) pairs. Output is one row per
    * clustered doc: (doc_id, cluster_id, is_keeper). */
  /** Min-label propagation to a fixpoint over an undirected pair set
    * (id1, id2). Returns the final (doc_id, cluster_id) labels with a
    * TRUNCATED lineage. Each round MUST materialize through
    * `localCheckpoint`, not `cache`: the round-N frame references the
    * round-(N-1) frame twice (union + join), so the logical plan
    * doubles per round — caching bounds recomputation but Catalyst
    * still carries (and, under AQE, stringifies) the exponential plan,
    * which OOMs the driver once the input plan is nontrivial.
    * Checkpointing cuts the plan to the materialized blocks, keeping
    * every round's plan O(1). On a real cluster, swap in reliable
    * `checkpoint()` (HDFS-backed) if executor loss matters; blocks are
    * freed by the ContextCleaner when the frames are GC'd. The
    * previous label rides through the aggregation as a null-padded
    * `old` column (min ignores nulls), so the convergence check is a
    * filter on the already-materialized result — not an extra
    * labels⋈labels join per round.
    *
    * Each materialized round UNROLLS TWO propagation hops: the frames
    * are tiny once pairs are generated, so a round's cost is job
    * scheduling + checkpoint + the convergence count, not data. The
    * intermediate hop gets its own LAZY localCheckpoint: the outer
    * hop references it twice (self branch + join branch), and without
    * the barrier Spark re-executes the inner aggregation per branch —
    * measured ~25% of the round cost at sf0.1, on top of keeping the
    * round's plan O(1).
    *
    * Convergence is detected against the MID-hop labels, not the
    * pre-round ones: hop is monotone and idempotent at its fixpoint,
    * so "hop 2 changed nothing vs mid" proves mid was already the
    * fixpoint — no separate confirming round. The mid label rides
    * through hop 2's aggregation as a null-padded column (min ignores
    * the neighbor rows' nulls, so each doc keeps its own mid value).
    * A min label D hops from covering its component lands in
    * ⌈(D+1)/2⌉ materialized rounds: dup components are dominated by
    * cliques (D = 1), which now converge in ONE round where
    * pre-round comparison took two. */
  private def propagate(pairs: DataFrame): DataFrame = {
    val edges = pairs.unionByName(
      pairs.select(col("id2").as("id1"), col("id1").as("id2"))).localCheckpoint()
    var labels = edges.select(col("id1").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id")).localCheckpoint()
    // One propagation hop: every node takes the min of its own label
    // and its neighbors' labels. Rider columns (the mid-hop label)
    // ride along null-padded on the neighbor rows, so min-folding
    // preserves each doc's own rider value.
    def hop(l: DataFrame, riders: Seq[String]): DataFrame = l
      .select((col("doc_id") +: col("cluster_id") +: riders.map(col)): _*)
      .unionByName(edges
        .join(l.select(col("doc_id").as("id2"), col("cluster_id")), "id2")
        .select((col("id1").as("doc_id") +: col("cluster_id") +:
          riders.map(r => lit(null).cast("long").as(r))): _*))
      .groupBy("doc_id")
      .agg(min("cluster_id").as("cluster_id"),
        riders.map(r => min(r).as(r)): _*)
    var changed = 1L
    while (changed > 0) {
      // LAZY checkpoints: the convergence count below computes every
      // partition of `next` (and, through it, `mid`), persisting the
      // marked blocks as a side effect — one job per round where
      // eager checkpoints plus a count would run three.
      val mid = hop(labels, Nil)
        .withColumn("mid", col("cluster_id"))
        .localCheckpoint(false)
      val next = hop(mid, Seq("mid")).localCheckpoint(false)
      changed = next.filter(col("cluster_id") < col("mid")).count()
      labels = next.select("doc_id", "cluster_id")
    }
    labels
  }

  def dCluster(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir).orderBy("doc_id")

  /** Cluster labels are a curation ARTIFACT — computed once, then
    * consumed by every downstream step ([[dClusterIncr]]'s base,
    * [[Curation.dCurate]]'s keeper filter, dedup reporting) — so the
    * handle is memoized per (application, data dir); the application
    * in the key keeps a restarted session from being served
    * checkpoint blocks that died with the old context. propagate()
    * already returns a checkpointed (materialized, lineage-free)
    * frame, so the cached entry holds storage, not a recompute
    * recipe. */
  private val labelCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  /** Drops memoized cluster labels so the next [[clusterLabels]] call
    * recomputes them. For measurement harnesses that execute the same
    * query repeatedly ([[graft.Bench]]'s multi-pass median): without
    * this, passes after the first would time the memo lookup, not the
    * clustering. The orphaned checkpoint blocks are reclaimed by
    * Spark's ContextCleaner once the dropped frames are GC'd. */
  private[graft] def clearLabelCache(): Unit = labelCache.clear()

  /** Unordered cluster labels (composable form — [[Curation]] anti-
    * joins on the non-keepers without paying a presentation sort). */
  def clusterLabels(spark: SparkSession, dir: String): DataFrame = {
    val key = spark.sparkContext.applicationId
    if (labelCache.contains((key, dir))) graft.core.CacheStats.hit()
    labelCache.getOrElseUpdate((key, dir), {
      propagate(dDedupMinhash(spark, dir).select("id1", "id2"))
        .withColumn("is_keeper", col("doc_id") === col("cluster_id"))
        .select("doc_id", "cluster_id", "is_keeper")
    })
  }

  /** INCREMENTAL near-dup clustering — the streaming-curation shape:
    * the corpus is split into a BASE (md5(doc_id) % 100 < 90) and a
    * DELTA batch, base components are computed once (in production
    * they'd be persisted labels), and the delta attaches WITHOUT
    * re-touching the base pair graph:
    *
    *  1. candidate pairs involving a delta doc come from the same LSH
    *     band buckets (delta side only — the base⋈base quadrant is
    *     never re-enumerated);
    *  2. each delta edge's endpoints map to their existing base
    *     cluster label (or themselves if unclustered), giving a
    *     REDUCED graph over labels + delta ids;
    *  3. min-label propagation runs on that reduced graph — its size
    *     is O(delta edges), independent of the base corpus.
    *
    * Band collision and Jaccard are pairwise properties, so the union
    * of base pairs and delta pairs IS the full pair set, and because a
    * base label is the min id of its component, the reduced min-label
    * equals the full recompute's — bit-identical output to
    * [[dCluster]], which is exactly what the oracle checks. */
  def dClusterIncr(spark: SparkSession, dir: String): DataFrame = {
    val isDelta = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 100) >= 90
    val bands = bandKeys(minhashSigs(spark, dir))
      .withColumn("is_delta", isDelta)
      .cache()
    def verified(cand: DataFrame): DataFrame =
      verifyJaccard(cand, shingleSets(spark, dir)).select("id1", "id2")
    val joined = bands.as("a").join(bands.as("b"), Seq("band", "key"))
      .filter(col("a.doc_id") < col("b.doc_id"))
    val baseCand = joined.filter(!col("a.is_delta") && !col("b.is_delta"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .dropDuplicates("id1", "id2")
    val deltaCand = joined.filter(col("a.is_delta") || col("b.is_delta"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .dropDuplicates("id1", "id2")
    // Eager checkpoints (not caches): both materialize here, while
    // `bands` is still cached, and neither needs caller-side release.
    val deltaPairs = verified(deltaCand).localCheckpoint()
    val baseLabels = propagate(verified(baseCand))
    // Reduced edges: base endpoints collapse to their component label;
    // a doc with no base label (delta, or base-but-unclustered) is its
    // own node. Labels are base doc ids, so node ids never collide.
    val reducedPairs = deltaPairs
      .join(baseLabels.select(col("doc_id").as("id1"), col("cluster_id").as("n1")),
        Seq("id1"), "left")
      .join(baseLabels.select(col("doc_id").as("id2"), col("cluster_id").as("n2")),
        Seq("id2"), "left")
      .select(coalesce(col("n1"), col("id1")).as("a"),
        coalesce(col("n2"), col("id2")).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("id1"),
        greatest(col("a"), col("b")).as("id2"))
      .dropDuplicates("id1", "id2")
    val reducedLabels = propagate(reducedPairs)
    val rl = reducedLabels.select(col("cluster_id").as("rlbl"), col("doc_id").as("node"))
    // Output domain = endpoints of the full pair graph: every
    // base-clustered doc, plus delta-edge endpoints not already there.
    val viaBase = baseLabels.select(col("doc_id"), col("cluster_id").as("node"))
    val viaDelta = deltaPairs.select(col("id1").as("doc_id"))
      .unionByName(deltaPairs.select(col("id2").as("doc_id"))).distinct()
      .join(baseLabels, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("node"))
    bands.unpersist()
    viaBase.unionByName(viaDelta)
      .join(rl, Seq("node"), "left")
      .select(col("doc_id"), coalesce(col("rlbl"), col("node")).as("cluster_id"))
      .withColumn("is_keeper", col("doc_id") === col("cluster_id"))
      .select("doc_id", "cluster_id", "is_keeper")
      .orderBy("doc_id")
  }

  /** The oracle computes min-reachable-id per node with a recursive
    * closure over the same (SQL-expressed) MinHash pair graph. */
  val dClusterSql: String =
    s"""WITH RECURSIVE mh AS ($dDedupMinhashSql),
       |edges AS (
       |  SELECT id1 AS a, id2 AS b FROM mh
       |  UNION ALL SELECT id2, id1 FROM mh),
       |reach(src, dst) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
       |SELECT src AS doc_id, min(dst) AS cluster_id,
       |  src = min(dst) AS is_keeper
       |FROM reach GROUP BY src
       |ORDER BY doc_id""".stripMargin

  /** Deterministic train/validation/test split (80/10/10) by md5 of
    * the doc id: reproducible in any engine, stable under appends, no
    * RNG state — how a corpus split should actually be done. */
  def dSplit(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
    val h = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 100).as("h")
    d.select(col("doc_id"), h)
      .withColumn("split",
        when(col("h") < 80, "train").when(col("h") < 90, "validation").otherwise("test"))
      .select("doc_id", "split")
      .orderBy("doc_id")
  }

  val dSplitSql: String =
    """SELECT doc_id,
      |  CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'validation' ELSE 'test' END AS split
      |FROM (SELECT doc_id,
      |        ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS h
      |      FROM documents) t
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- decontamination

  /** Shingle width for contamination detection: longer than the
    * near-dup 3-grams — an 8-word span shared verbatim with a held-out
    * doc is memorization-grade overlap, not topical similarity. */
  val ContamNgram = 8
  /** Distinct shared 8-grams at or above which a train doc is flagged
    * contaminated (below it, the overlap is reported but not
    * flagged). */
  val ContamMinHits = 4

  /** Distinct [[ContamNgram]]-gram hash set of a text column — THE
    * shared fingerprint composition for the contamination family
    * ([[dDecontaminate]], [[dDecontamScrub]]'s test side,
    * [[TextAnalysis.tNovelty]], [[graft.streaming.DocStream]]'s
    * stDecontam). One definition, so batch, stream, scrub, and
    * novelty verdicts cannot diverge on what a fingerprint IS. */
  def contamHashes(text: Column): Column =
    array_distinct(transform(graft.functions.expr.VectorExpressions
      .wordShingles(words(text), ContamNgram), s => md5_32(s)))

  /** Benchmark DECONTAMINATION — the check every training corpus needs
    * before the eval split means anything: find train-split docs that
    * share verbatim word-8-grams with any test-split doc (split =
    * [[dSplit]]'s deterministic md5 buckets). The test side collapses
    * to its DISTINCT shingle-hash set first, so the probe is one
    * equi-join of train postings against that set — linear in corpus
    * size and shuffling only (id, hash) pairs, never doc pairs (an
    * all-pairs train×test comparison is the scale trap here). Output:
    * every train doc with any overlap, its distinct-8-gram overlap
    * count, and the contaminated flag at ≥ [[ContamMinHits]]. */
  def dDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = TextAnalysis.docsSpread(spark, dir)
    // Split bucket once per DOC and before the shingling: validation
    // docs ([80,90)) take no part in either side, so they skip the
    // normalize+shingle+hash pipeline entirely.
    val bucketed = d
      .withColumn("b", md5_32(col("doc_id").cast("string")) % 100)
      .filter(col("b") < 80 || col("b") >= 90)
    val sets = bucketed
      .select(col("doc_id"), col("b"), contamHashes(col("text")).as("hs"))
      .filter(size(col("hs")) > 0)
    val posts = sets.select(col("doc_id"), col("b"), explode(col("hs")).as("h"))
    val testShingles = posts.filter(col("b") >= 90).select("h").distinct()
    posts.filter(col("b") < 80)
      .join(testShingles, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") >= ContamMinHits)
      .orderBy("doc_id")
  }

  val dDecontaminateSql: String =
    s"""WITH sets AS (
       |  SELECT doc_id, b, list_distinct(list_transform(
       |      [array_to_string(w[i:i+${ContamNgram - 1}], ' ')
       |       for i in range(1, len(w) - ${ContamNgram - 2})],
       |      s -> ('0x' || substr(md5(s), 1, 8))::BIGINT)) AS hs
       |  FROM (SELECT doc_id,
       |          ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b,
       |          string_split($normSql, ' ') AS w
       |        FROM documents) t
       |  WHERE len(w) >= $ContamNgram AND (b < 80 OR b >= 90)),
       |posts AS (SELECT doc_id, b, unnest(hs) AS h FROM sets),
       |test_sh AS (SELECT DISTINCT h FROM posts WHERE b >= 90)
       |SELECT p.doc_id, count(*) AS n_overlap,
       |  count(*) >= $ContamMinHits AS contaminated
       |FROM posts p JOIN test_sh t ON p.h = t.h
       |WHERE p.b < 80
       |GROUP BY p.doc_id
       |ORDER BY doc_id""".stripMargin

  /** d_decontam_report — per-source CONTAMINATION report over
    * [[dDecontaminate]]'s verdicts: how many of each source's train
    * docs carry verbatim test-set n-grams, the flagged rate, and the
    * worst doc's overlap count — the governance rollup that says
    * WHICH ingestion sources leak benchmarks (a scraped QA site flags
    * at 30%; a filtered crawl should flag near zero), read before
    * deciding whether to drop the source or just the flagged docs.
    * The d_datacard/t_retrieval_eval_seg segment-rollup discipline
    * applied to decontamination.
    *
    * Shape: the decontaminate pipeline (bucketed, Σdf-bounded) + one
    * LEFT join of the train corpus onto the (small — flagged docs
    * only) verdict frame, + one source-keyed map-side-combined agg.
    * Parity: counts are integers, pct is one rounded division. */
  def dDecontamReport(spark: SparkSession, dir: String): DataFrame = {
    val train = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"))
      .filter(md5_32(col("doc_id").cast("string")) % 100 < 80)
    val verdicts = dDecontaminate(spark, dir)
      .select(col("doc_id"), col("n_overlap"), col("contaminated"))
    train.join(verdicts, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_flagged"),
        max(coalesce(col("n_overlap"), lit(0L))).as("max_overlap"))
      .select(col("source"), col("n_train"), col("n_flagged"),
        stableRound(col("n_flagged").cast("double") /
          col("n_train").cast("double"), 6).as("pct_flagged"),
        col("max_overlap"))
      .orderBy("source")
  }

  lazy val dDecontamReportSql: String =
    s"""WITH dc AS ($dDecontaminateSql),
       |tr AS (
       |  SELECT doc_id, source FROM documents
       |  WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 80)
       |SELECT tr.source, count(*)::BIGINT AS n_train,
       |  sum(CASE WHEN dc.contaminated THEN 1 ELSE 0 END)::BIGINT AS n_flagged,
       |  ${graft.functions.Parity.stableRoundSql(
            "sum(CASE WHEN dc.contaminated THEN 1 ELSE 0 END)::DOUBLE /\n" +
            "       count(*)::DOUBLE", 6)} AS pct_flagged,
       |  max(coalesce(dc.n_overlap, 0))::BIGINT AS max_overlap
       |FROM tr LEFT JOIN dc USING (doc_id)
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  // ------------------------------------------------ chunk-level dedup

  /** Chunk width (words) for sub-document dedup: the unit real
    * pipelines dedup AFTER whole-doc exact dedup — boilerplate
    * headers, license blocks, navigation text — i.e. the analog of
    * line/paragraph dedup for corpora without layout structure. */
  val ChunkWords = 16

  /** CHUNK-LEVEL exact dedup: find every verbatim [[ChunkWords]]-word
    * chunk that occurs more than once corpus-wide (across docs or
    * repeated within one), with occurrence/doc counts and the keeper
    * occurrence (lexicographic min (doc_id, pos) — the one a rewrite
    * pass would retain).
    *
    * Each doc splits into its ⌊n/16⌋ NON-OVERLAPPING chunks via the
    * single-pass [[graft.functions.expr.WordChunks]] expression
    * (order-preserving, duplicates kept — posexplode recovers the
    * chunk position; a per-chunk `slice(w, ...)` lambda would
    * re-evaluate the word split per chunk after projection collapse,
    * the SURVEY §8 hazard). Chunks group on the FULL 128-bit md5 (like
    * [[dDedupExact]], and unlike the candidate-generation md5_32
    * hashes elsewhere: there a collision only adds a candidate that
    * exact verification discards, here the group IS the result, and a
    * 32-bit birthday collision — even odds by ~77k distinct chunks —
    * would report unique content as duplicate with no downstream
    * check to catch it). ONE hash shuffle groups occurrences
    * corpus-wide — the same linear scale shape as [[dDedupExact]]
    * with ~n/16 units per doc, and the oracle replays the identical
    * hashes. The keeper is min(struct(doc_id, pos)): struct ordering
    * is lexicographic field-by-field in both engines. */
  def dDedupChunk(spark: SparkSession, dir: String): DataFrame = {
    val d = TextAnalysis.docsSpread(spark, dir)
    val chunks = d.select(col("doc_id"),
        posexplode(graft.functions.expr.VectorExpressions
          .wordChunks(words(col("text")), ChunkWords)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        md5(col("col")).as("chunk_fp"))
    chunks.groupBy("chunk_fp")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(struct(col("doc_id"), col("pos"))).as("k"))
      .filter(col("n_occ") > 1)
      .select(col("chunk_fp"), col("n_occ"), col("n_docs"),
        col("k.doc_id").as("keeper_id"), col("k.pos").as("keeper_pos"))
      .orderBy("chunk_fp")
  }

  val dDedupChunkSql: String =
    s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
       |chunks AS (
       |  SELECT doc_id, i AS pos,
       |    md5(array_to_string(
       |      w[i*$ChunkWords + 1 : i*$ChunkWords + $ChunkWords], ' ')) AS chunk_fp
       |  FROM w, LATERAL (SELECT unnest(range(len(w) // $ChunkWords)) AS i) t),
       |g AS (
       |  SELECT chunk_fp, count(*)::BIGINT AS n_occ,
       |    count(DISTINCT doc_id)::BIGINT AS n_docs,
       |    min({'doc_id': doc_id, 'pos': pos}) AS k
       |  FROM chunks GROUP BY chunk_fp)
       |SELECT chunk_fp, n_occ, n_docs,
       |  k.doc_id AS keeper_id, k.pos::BIGINT AS keeper_pos
       |FROM g WHERE n_occ > 1
       |ORDER BY chunk_fp""".stripMargin

  /** Distinct-document threshold for boilerplate: a chunk seen in at
    * least this many DIFFERENT documents is template text, not
    * content. Distinct docs, not occurrences — within-doc repetition
    * is natural text (t_repetition's concern, not this op's). The
    * C4/RefinedWeb line-dedup rules use 2-3 on natural corpora. */
  val BoilerplateDocs = 2

  /** d_boilerplate — the REWRITE pass [[dDedupChunk]]'s report
    * implies (its scaladoc's "the one a rewrite pass would retain"):
    * corpus-wide removal of boilerplate spans — the C4 line-dedup /
    * exact-substring-dedup step (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better") at
    * [[ChunkWords]]-word chunk granularity, the layout unit for
    * corpora without line structure (reference has no text ops at
    * all — lib.rs:55-206 is point lookups; this family is the
    * LLM-pipeline surface). Every occurrence of a chunk appearing in
    * ≥ [[BoilerplateDocs]] distinct docs is dropped (boilerplate has
    * no "keeper" — license headers and navigation text are noise in
    * every copy), and each document's surviving chunks + its
    * sub-chunk word tail reassemble in position order.
    *
    * Scale shape: linear end-to-end — chunking is one narrow pass
    * ([[graft.functions.expr.WordChunks]]); the boilerplate-fp set is
    * one hash aggregation; dropping is a left-anti equi-join on fp
    * (AQE broadcasts it when the flagged set is small — the common
    * case — and shuffles otherwise); reassembly groups by doc_id, so
    * the gathered row is bounded by the DOCUMENT's own length, the
    * same bound its input row already carries. No pair join anywhere:
    * volume is Σ chunks, never Σ df². */
  def dBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val d = TextAnalysis.docsSpread(spark, dir)
    val chunks = d.select(col("doc_id"),
        posexplode(graft.functions.expr.VectorExpressions
          .wordChunks(words(col("text")), ChunkWords)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("chunk"), md5(col("col")).as("chunk_fp"))
    val boiler = chunks.groupBy("chunk_fp")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= BoilerplateDocs)
      .select("chunk_fp")
    val kept = chunks.join(boiler, Seq("chunk_fp"), "left_anti")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("chunk")))).as("ks"),
        count(lit(1)).as("n_kept"))
    d.select(col("doc_id"), words(col("text")).as("w"))
      .withColumn("n_chunks", expr(s"size(w) div $ChunkWords").cast("long"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        array_join(concat(
          coalesce(transform(col("ks"), k => k.getField("chunk")),
            typedLit(Seq.empty[String])),
          slice(col("w"), (col("n_chunks") * ChunkWords + 1).cast("int"),
            (size(col("w")) - col("n_chunks") * ChunkWords).cast("int"))), " ")
          .as("clean_text"),
        col("n_chunks"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
      .orderBy("doc_id")
  }

  val dBoilerplateSql: String =
    s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
       |chunks AS (
       |  SELECT doc_id, i AS pos,
       |    array_to_string(w[i*$ChunkWords + 1 : i*$ChunkWords + $ChunkWords], ' ') AS chunk
       |  FROM w, LATERAL (SELECT unnest(range(len(w) // $ChunkWords)) AS i) t),
       |boiler AS (
       |  SELECT md5(chunk) AS fp FROM chunks
       |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= $BoilerplateDocs),
       |kept AS (
       |  SELECT doc_id, list(chunk ORDER BY pos) AS kc, count(*) AS n_kept
       |  FROM chunks WHERE md5(chunk) NOT IN (SELECT fp FROM boiler)
       |  GROUP BY doc_id)
       |SELECT w.doc_id,
       |  -- coalesce: concat of two empty untyped [] lists yields NULL
       |  -- in DuckDB where Spark's array_join gives '' (a doc whose
       |  -- every chunk is boilerplate and whose tail is empty)
       |  coalesce(array_to_string(list_concat(coalesce(k.kc, []),
       |    w.w[(len(w.w) // $ChunkWords) * $ChunkWords + 1 : len(w.w)]), ' '), '') AS clean_text,
       |  (len(w.w) // $ChunkWords)::BIGINT AS n_chunks,
       |  (len(w.w) // $ChunkWords - coalesce(k.n_kept, 0))::BIGINT AS n_removed
       |FROM w LEFT JOIN kept k ON w.doc_id = k.doc_id
       |ORDER BY w.doc_id""".stripMargin

  // ------------------------------------------------- source overlap

  /** d_source_overlap — the cross-SOURCE content-overlap audit: for
    * every pair of sources, the exact count of word-3-gram shingles
    * they share and the exact Jaccard of their shingle sets. This is
    * the report a curation run consults before mixing crawl snapshots
    * or vendor datasets: two sources with high shingle Jaccard are
    * near-copies of each other and deduplicating them jointly (or
    * dropping one) changes the mixture math.
    *
    * Scale shape: never pairs documents and never pairs sources
    * against the corpus — it distincts (source, shingle) once (one
    * hash shuffle, linear), then groups BY SHINGLE. Each shingle's
    * source set is bounded by the source COUNT (tens-to-hundreds in a
    * real pipeline — a catalog, not a corpus), so the per-group state
    * and the pair explosion (≤ |sources|² per shingle) are bounded by
    * a small constant no matter how many documents share the shingle.
    * The per-pair counts aggregate with map-side combine into
    * |sources|²/2 rows, and the two size-lookup joins broadcast a
    * |sources|-row frame. Jaccard divides two exact integers and
    * rounds through the engine-stable chain. */
  def dSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val d = TextAnalysis.docsSpread(spark, dir)
    val srcSh = d.select(col("source"),
        explode(graft.functions.expr.VectorExpressions
          .wordShingles(words(col("text")), 3)).as("sh"))
      .distinct()
    val perSrc = srcSh.groupBy("source").agg(count(lit(1)).as("n"))
    // per-shingle sorted source set; singles carry no pair
    val sets = srcSh.groupBy("sh")
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) >= 2)
    val pairs = sets
      .select(explode(flatten(transform(col("srcs"), (x, i) =>
        transform(slice(col("srcs"), i + lit(2), size(col("srcs"))), y =>
          struct(x.as("src_a"), y.as("src_b")))))).as("p"))
      .select(col("p.src_a"), col("p.src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(perSrc.select(col("source").as("src_a"), col("n").as("n_a"))), "src_a")
      .join(broadcast(perSrc.select(col("source").as("src_b"), col("n").as("n_b"))), "src_b")
      .withColumn("jacc",
        stableRound(col("inter") / (col("n_a") + col("n_b") - col("inter")), 6))
      .select("src_a", "src_b", "n_a", "n_b", "inter", "jacc")
      .orderBy("src_a", "src_b")
  }

  val dSourceOverlapSql: String =
    s"""WITH s AS (
       |  SELECT DISTINCT source, sh FROM (
       |    SELECT source, unnest(list_distinct(
       |      [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |       for i in range(1, len(w) - 1)])) AS sh
       |    FROM (SELECT source, string_split($normSql, ' ') AS w
       |          FROM documents) t
       |    WHERE len(w) >= 3) x),
       |n AS (SELECT source, count(*) AS n FROM s GROUP BY 1),
       |p AS (
       |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
       |  FROM s a JOIN s b ON a.sh = b.sh AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, na.n AS n_a, nb.n AS n_b, inter,
       |  floor((inter / (na.n + nb.n - inter)) * 1e6 + 0.5) / 1e6 AS jacc
       |FROM p
       |JOIN n na ON na.source = src_a
       |JOIN n nb ON nb.source = src_b
       |ORDER BY src_a, src_b""".stripMargin

  /** Sliding-window width (words) for [[dDupSpans]]. Lee et al. use
    * 50 BPE tokens on web corpora; 10 words is the analogous scale on
    * this synthetic corpus's short documents. */
  val DupSpanWords = 10

  /** d_dup_spans — exact-substring duplicate SPANS at sliding-window
    * granularity: the practical distributed form of suffix-array
    * dedup (Lee et al. 2022). [[dDedupChunk]]/[[dBoilerplate]] hash
    * non-overlapping chunks, so a copied span straddling a chunk
    * boundary hides; here EVERY [[DupSpanWords]]-word window is
    * fingerprinted ([[graft.functions.expr.WordWindows]] — one pass
    * per row, no per-window re-split), windows seen in ≥2 DISTINCT
    * documents survive (within-doc repetition is t_repetition's
    * concern), and each document's surviving windows merge into
    * MAXIMAL duplicated spans — overlapping OR exactly-abutting
    * windows chain (gap-to-previous ≤ width keeps the covered text
    * contiguous; with ascending starts and equal widths that one lag
    * comparison builds the islands), so no two emitted spans touch.
    *
    * Scale shape: windowing is narrow and linear in corpus tokens
    * (each word appears in ≤ L windows — an L× constant, the price of
    * offset-free detection); the fingerprint aggregation is one hash
    * shuffle with map-side partials; survivors join back by
    * FINGERPRINT ONLY (id-only shuffle, AQE broadcasts the dup set
    * when small — the common case); the island merge windows over
    * doc_id, whose cardinality scales with the corpus. No all-pairs
    * anywhere. Output: (doc_id, span_start, span_end, n_windows),
    * end exclusive in word positions. */
  def dDupSpans(spark: SparkSession, dir: String): DataFrame =
    dupSpanFrame(spark, dir).orderBy("doc_id", "span_start")

  /** The [[dDupSpans]] pipeline without the presentation sort —
    * shared with [[dSpanScrub]], which consumes the spans instead of
    * reporting them. */
  private def dupSpanFrame(spark: SparkSession, dir: String): DataFrame = {
    val L = DupSpanWords
    val wins = TextAnalysis.docsSpread(spark, dir)
      .select(col("doc_id"),
        posexplode(graft.functions.expr.VectorExpressions
          .wordWindows(words(col("text")), L)))
      .select(col("doc_id"), col("pos").cast("long").as("i"),
        md5(col("col")).as("h"))
    val dupFps = wins.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select("h")
    mergeIslands(wins.join(dupFps, "h").select("doc_id", "i"), L)
  }

  /** Maximal-span island merge shared by [[dupSpanFrame]] and
    * [[dDecontamScrub]]: flagged same-width windows chain while the
    * gap to the previous start is ≤ the width (overlapping OR
    * exactly abutting — the covered text stays contiguous), so no two
    * emitted spans touch. Input: (doc_id, i) flagged window starts;
    * output: (doc_id, span_start, span_end, n_windows), end exclusive
    * in word positions. The window partitions by doc_id, whose
    * cardinality scales with the corpus — never a single reducer. */
  private def mergeIslands(hits: DataFrame, width: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    hits
      .withColumn("nf", when(lag(col("i"), 1).over(w).isNull
        || col("i") - lag(col("i"), 1).over(w) > width, 1L).otherwise(0L))
      .withColumn("island", sum(col("nf")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(min(col("i")).as("span_start"),
        (max(col("i")) + width).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "span_start", "span_end", "n_windows")
  }

  /** d_span_scrub — the REWRITE pass [[dDupSpans]]'s report implies
    * (the [[dBoilerplate]] relationship, at sliding-window
    * granularity): every word inside a cross-doc duplicated span is
    * dropped and the survivors reassemble in position order — the
    * exact-substring dedup rewrite (Lee et al. 2022) that catches
    * copies straddling the chunk boundaries [[dBoilerplate]]'s
    * non-overlapping grid misses. Output: (doc_id, clean_text,
    * n_words, n_dropped).
    *
    * Shape: the span pipeline (linear, fp-bucketed — see
    * [[dDupSpans]]) plus ONE doc-keyed equi-join attaching each doc's
    * span array (bounded by the doc's own length / L — the
    * d_boilerplate per-doc-row class) and a narrow per-row HOF filter
    * over the word array; no extra corpus shuffle. Spans are maximal
    * and non-touching by construction, so n_dropped = Σ(end − start)
    * counts each dropped word exactly once.
    *
    * Parity: pure string/integer arithmetic — 0-based word positions
    * on the same normalized split both engines use everywhere, no
    * floats anywhere. */
  def dSpanScrub(spark: SparkSession, dir: String): DataFrame =
    scrubSpans(
      TextAnalysis.docsSpread(spark, dir)
        .select(col("doc_id"), words(col("text")).as("w")),
      dupSpanFrame(spark, dir))

  /** Span-rewrite reassembly shared by [[dSpanScrub]] and
    * [[dDecontamScrub]]: each doc's spans gather into one array
    * (bounded by the doc's own length / width — the d_boilerplate
    * per-doc-row class), attach by ONE doc-keyed equi-join, and a
    * narrow per-row HOF filter drops every word inside any span. Spans
    * must be maximal and non-touching (the [[mergeIslands]] contract),
    * so n_dropped = Σ(end − start) counts each dropped word exactly
    * once. Input docs: (doc_id, w: array<string>). */
  private def scrubSpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    val spanArr = spans
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(
        col("span_start").as("s"), col("span_end").as("e")))).as("spans"))
    docs
      .join(spanArr, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("spans").isNull, array_join(col("w"), " "))
          .otherwise(array_join(expr(
            """transform(
              |  filter(transform(w, (x, i) -> struct(x as x, cast(i as bigint) as i)),
              |         p -> not exists(spans, sp -> p.i >= sp.s and p.i < sp.e)),
              |  p -> p.x)""".stripMargin), " "))
          .as("clean_text"),
        size(col("w")).cast("long").as("n_words"),
        coalesce(expr(
          "aggregate(spans, cast(0 as bigint), (a, sp) -> a + (sp.e - sp.s))"),
          lit(0L)).as("n_dropped"))
      .orderBy("doc_id")
  }

  /** d_decontam_scrub — SPAN-LEVEL decontamination: the rewrite
    * [[dDecontaminate]]'s verdicts imply, in the exact relationship
    * [[dSpanScrub]] bears to [[dDupSpans]]. Instead of dropping every
    * flagged train doc whole (the blunt instrument — at a 30%-flagged
    * scraped source that's a third of the corpus gone), each verbatim
    * test-set [[ContamNgram]]-gram occurrence in a TRAIN doc is
    * located positionally, overlapping occurrences merge into maximal
    * leaked spans ([[mergeIslands]]), and only those spans are
    * scrubbed — the doc survives with the memorization-grade overlap
    * removed. Output: every train-split doc (split = [[dSplit]]'s md5
    * buckets) as (doc_id, clean_text, n_words, n_dropped).
    *
    * Scale shape: same as decontaminate — the test side collapses to
    * its DISTINCT shingle-hash set before the probe, so the join is
    * train postings against a hash set (linear, never doc pairs); the
    * island merge windows over doc_id (corpus-cardinality partitions)
    * and the reassembly is [[scrubSpans]]'s one doc-keyed join + HOF
    * filter. Validation docs skip the pipeline entirely.
    *
    * Parity: pure string/integer arithmetic on the shared normalized
    * split — 0-based word positions, md5-prefix hashes, no floats. */
  def dDecontamScrub(spark: SparkSession, dir: String): DataFrame = {
    val d = TextAnalysis.docsSpread(spark, dir)
      .withColumn("b", md5_32(col("doc_id").cast("string")) % 100)
    // Only the TRAIN side needs positions; the test side needs just
    // its distinct hash set, which [[contamHashes]] (per-doc distinct,
    // no position column) produces more cheaply than positional
    // windows — the same split dDecontaminate makes.
    val trainWins = d.filter(col("b") < 80)
      .select(col("doc_id"),
        posexplode(graft.functions.expr.VectorExpressions
          .wordWindows(words(col("text")), ContamNgram)))
      .select(col("doc_id"), col("pos").cast("long").as("i"),
        md5_32(col("col")).as("h"))
    val testSet = d.filter(col("b") >= 90)
      .select(explode(contamHashes(col("text"))).as("h")).distinct()
    val hits = trainWins.join(testSet, "h").select("doc_id", "i")
    scrubSpans(
      d.filter(col("b") < 80)
        .select(col("doc_id"), words(col("text")).as("w")),
      mergeIslands(hits, ContamNgram))
  }

  lazy val dDecontamScrubSql: String =
    s"""WITH w AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b,
       |    string_split($normSql, ' ') AS w
       |  FROM documents),
       |wins AS (
       |  SELECT doc_id, b, i,
       |    ('0x' || substr(md5(
       |       array_to_string(w[i + 1 : i + $ContamNgram], ' ')), 1, 8))::BIGINT AS h
       |  FROM w, LATERAL (SELECT unnest(range(len(w) - $ContamNgram + 1)) AS i) t
       |  WHERE len(w) >= $ContamNgram AND (b < 80 OR b >= 90)),
       |test_sh AS (SELECT DISTINCT h FROM wins WHERE b >= 90),
       |d AS (SELECT wins.doc_id, wins.i FROM wins
       |      JOIN test_sh USING (h) WHERE b < 80),
       |fl AS (
       |  SELECT doc_id, i,
       |    CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
       |           OR i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > $ContamNgram
       |         THEN 1 ELSE 0 END AS nf
       |  FROM d),
       |isl AS (
       |  SELECT doc_id, i, sum(nf) OVER (PARTITION BY doc_id ORDER BY i
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM fl),
       |sp AS (SELECT doc_id, min(i) AS s, (max(i) + $ContamNgram) AS e
       |       FROM isl GROUP BY doc_id, island),
       |tr AS (SELECT doc_id, w FROM w WHERE b < 80),
       |pos AS (
       |  SELECT doc_id, i, w[i + 1] AS word
       |  FROM tr, LATERAL (SELECT unnest(range(len(w))) AS i) t),
       |keptw AS (
       |  SELECT p.doc_id, p.i, p.word FROM pos p
       |  WHERE NOT EXISTS (SELECT 1 FROM sp
       |    WHERE sp.doc_id = p.doc_id AND p.i >= sp.s AND p.i < sp.e)),
       |ka AS (SELECT doc_id, array_to_string(list(word ORDER BY i), ' ') AS clean_text
       |       FROM keptw GROUP BY 1),
       |dr AS (SELECT doc_id, sum(e - s)::BIGINT AS n_dropped FROM sp GROUP BY 1)
       |SELECT tr.doc_id, coalesce(ka.clean_text, '') AS clean_text,
       |  len(tr.w)::BIGINT AS n_words, coalesce(dr.n_dropped, 0)::BIGINT AS n_dropped
       |FROM tr LEFT JOIN ka USING (doc_id) LEFT JOIN dr USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // lazy: embeds dDupSpansSql, which is declared below (object vals
  // initialize in declaration order — an eager val would embed null)
  lazy val dSpanScrubSql: String =
    s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
       |sp AS (SELECT doc_id, span_start AS s, span_end AS e
       |       FROM ($dDupSpansSql) x),
       |pos AS (
       |  SELECT doc_id, i, w[i + 1] AS word
       |  FROM w, LATERAL (SELECT unnest(range(len(w))) AS i) t),
       |keptw AS (
       |  SELECT p.doc_id, p.i, p.word FROM pos p
       |  WHERE NOT EXISTS (SELECT 1 FROM sp
       |    WHERE sp.doc_id = p.doc_id AND p.i >= sp.s AND p.i < sp.e)),
       |ka AS (SELECT doc_id, array_to_string(list(word ORDER BY i), ' ') AS clean_text
       |       FROM keptw GROUP BY 1),
       |dr AS (SELECT doc_id, sum(e - s)::BIGINT AS n_dropped FROM sp GROUP BY 1)
       |SELECT w.doc_id, coalesce(ka.clean_text, '') AS clean_text,
       |  len(w.w)::BIGINT AS n_words, coalesce(dr.n_dropped, 0)::BIGINT AS n_dropped
       |FROM w LEFT JOIN ka USING (doc_id) LEFT JOIN dr USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  val dDupSpansSql: String =
    s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
       |wins AS (
       |  SELECT doc_id, i,
       |    md5(array_to_string(w[i + 1 : i + $DupSpanWords], ' ')) AS h
       |  FROM w, LATERAL (SELECT unnest(range(len(w) - $DupSpanWords + 1)) AS i) t
       |  WHERE len(w) >= $DupSpanWords),
       |dup AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
       |d AS (SELECT wins.doc_id, wins.i FROM wins JOIN dup USING (h)),
       |fl AS (
       |  SELECT doc_id, i,
       |    CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
       |           OR i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) > $DupSpanWords
       |         THEN 1 ELSE 0 END AS nf
       |  FROM d),
       |isl AS (
       |  SELECT doc_id, i, sum(nf) OVER (PARTITION BY doc_id ORDER BY i
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM fl)
       |SELECT doc_id, min(i)::BIGINT AS span_start,
       |  (max(i) + $DupSpanWords)::BIGINT AS span_end,
       |  count(*)::BIGINT AS n_windows
       |FROM isl GROUP BY doc_id, island
       |ORDER BY doc_id, span_start""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_dup_spans" -> dDupSpans,
    "d_span_scrub" -> dSpanScrub,
    "d_dedup_exact" -> dDedupExact,
    "d_dedup_ngram" -> dDedupNgram,
    "d_dedup_incr" -> dDedupIncr,
    "d_dedup_minhash" -> dDedupMinhash,
    "d_dedup_eval" -> dDedupEval,
    "d_lsh_tune" -> dLshTune,
    "d_dedup_simhash" -> dDedupSimhash,
    "d_dedup_chunk" -> dDedupChunk,
    "d_boilerplate" -> dBoilerplate,
    "d_containment" -> dContainment,
    "d_cluster" -> dCluster,
    "d_cluster_incr" -> dClusterIncr,
    "d_split" -> dSplit,
    "d_decontaminate" -> dDecontaminate,
    "d_decontam_report" -> dDecontamReport,
    "d_decontam_scrub" -> dDecontamScrub,
    "d_source_overlap" -> dSourceOverlap,
  )

  def oracles: Map[String, String] = Map(
    "d_dup_spans" -> dDupSpansSql,
    "d_span_scrub" -> dSpanScrubSql,
    "d_dedup_exact" -> dDedupExactSql,
    "d_dedup_ngram" -> dDedupNgramSql,
    "d_dedup_incr" -> dDedupIncrSql,
    "d_dedup_minhash" -> dDedupMinhashSql,
    "d_dedup_eval" -> dDedupEvalSql,
    "d_lsh_tune" -> dLshTuneSql,
    "d_dedup_simhash" -> dDedupSimhashSql,
    "d_dedup_chunk" -> dDedupChunkSql,
    "d_boilerplate" -> dBoilerplateSql,
    "d_containment" -> dContainmentSql,
    "d_cluster" -> dClusterSql,
    // The incremental plan must reproduce the full recompute exactly —
    // its oracle IS the full-recompute closure.
    "d_cluster_incr" -> dClusterSql,
    "d_split" -> dSplitSql,
    "d_decontaminate" -> dDecontaminateSql,
    "d_decontam_report" -> dDecontamReportSql,
    "d_decontam_scrub" -> dDecontamScrubSql,
    "d_source_overlap" -> dSourceOverlapSql,
  )
}
