package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Parity.stableRound
import graft.functions.TextFunctions.md5_32

/** Similarity search over the `embeddings` table (64-dim float
  * vectors).
  *
  * - [[sAnnBrute]]: exact cosine top-k for a small broadcast query
  *   set — the correctness baseline. Scoring is a narrow map over the
  *   corpus (queries broadcast); per-query top-k is one shuffle on
  *   query_id. At 100 TB corpus this is still the right *exact* plan.
  * - [[sAnnLsh]]: random-hyperplane LSH bucketing — the scale path
  *   when the query set is itself huge: corpus and queries co-shuffle
  *   on (bucket), candidates only within buckets. Hyperplanes are
  *   md5-derived so the plan is deterministic.
  * - [[dDedupEmbedding]]: all near-dup pairs with cosine ≥ τ.
  */
object Similarity {

  /** dot(a,b) in double precision, sequential element order — a custom
    * codegen'd Catalyst expression (identical op sequence to the
    * aggregate/zip_with formulation, ~10× less per-element overhead). */
  def dot(x: Column, y: Column): Column =
    graft.functions.expr.VectorExpressions.dotProduct(x, y)

  /** cos(a,b) — for one-off use; pair pipelines should pre-normalize
    * with [[withUnit]] so norms are computed once per vector, not
    * three dot products per pair. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a)) / sqrt(dot(b, b))

  /** Embeddings spread across the core count so the compute-heavy
    * scoring pipelines never run in one task — see [[Tables.spread]]
    * for the conditional no-shuffle-at-scale semantics, on which the
    * "corpus never shuffles" claims below rest. */
  private[operators] def embSpread(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables(spark, dir).embeddings)

  /** Adds `unitCol`: the vector scaled to unit L2 norm (double).
    * Norm is materialized first so it's computed once per vector;
    * downstream pair scoring is then a single dot product. Divergence
    * from the cos() formulation is ~1 ulp — far below every decision
    * boundary used here. */
  def withUnit(df: DataFrame, vecCol: String, unitCol: String): DataFrame =
    df.withColumn("__nrm", sqrt(dot(col(vecCol), col(vecCol))))
      .withColumn(unitCol, transform(col(vecCol), x => x.cast("double") / col("__nrm")))
      .drop("__nrm")

  val CosTau = 0.3
  val NumQueries = 5
  val TopK = 10

  /** Row budget per block of the pair-join/kernel formulations: bounds
    * what one block-pair task holds (two blocks ≈ 2 × budget × dim ×
    * 8 B ≈ 4 MiB at dim 64) and, in the kernel form, the size of ONE
    * gathered block row — the quantity that must stay far below the
    * 2 GiB row limit no matter the corpus size. */
  val TargetRowsPerBlock = 4096L

  /** Number of blocks for an n-vector corpus: enough that (a) no block
    * exceeds [[TargetRowsPerBlock]] rows and (b) the B(B+1)/2 block
    * pairs keep every core busy (B ≥ the triangular root of the
    * parallelism). Derived from one metadata-cheap count — a hardcoded
    * B means block size grows linearly with the corpus, which is
    * exactly the 100 TB failure mode. */
  def blockCount(n: Long, parallelism: Int): Int = {
    val byRows = (n + TargetRowsPerBlock - 1L) / TargetRowsPerBlock
    val byPar = math.ceil((math.sqrt(8.0 * math.max(parallelism, 1) + 1) - 1) / 2).toLong
    val b = math.max(1L, math.max(byRows, byPar))
    // Fail loudly rather than wrap negative on .toInt: past ~10¹² rows
    // exact all-pairs needs a different algorithm, not a bigger B.
    require(b <= Int.MaxValue, s"block count $b exceeds Int range — corpus too large for exact all-pairs")
    b.toInt
  }

  /** All (bi ≤ bj) block pairs, enumerated DISTRIBUTED: B scales with
    * the corpus, so the B(B+1)/2 pairs must never materialize as a
    * driver-side collection (B ≈ 244k at 10⁹ vectors would be ~3·10¹⁰
    * driver tuples). One range row per bi, exploding the [bi, B)
    * tail — a narrow map, no join (a Range×Range cross join would put
    * a BroadcastNestedLoopJoin in a plan spec-guarded against them).
    * The transient per-row sequence is ≤ B elements (~1 MiB at
    * B = 244k); past ~10⁶ blocks, chunk the sequence — at that point
    * exact all-pairs is infeasible anyway. At bench scale the frame
    * is a few dozen rows and the optimizer's size estimate broadcasts
    * it downstream. */
  private def blockPairsDf(spark: SparkSession, b: Int): DataFrame =
    spark.range(b.toLong)
      .select(col("id").cast("int").as("bi"),
        explode(sequence(col("id").cast("int"), lit(b - 1))).as("bj"))

  /** Embedding near-dup pairs: cosine ≥ τ, exact, via a
    * block-partitioned pair equi-join (the distributed exact
    * all-pairs-similarity shape).
    *
    * Why not LSH candidates here: at τ=0.3 two qualifying vectors
    * agree on a random hyperplane with p ≈ 1−72.5°/180° ≈ 0.60 —
    * barely above the 0.5 of a random pair — so a 6-bit bucket
    * collides with p ≈ 0.045 per table, and the multi-probe radius
    * needed for exact recall covers ~2/3 of all buckets: strictly
    * more work than enumerating pairs. (This corpus has no high-sim
    * structure to exploit: max pair cosine ≈ 0.51.) Sub-quadratic
    * candidate generation is the high-τ near-dup path — MinHash/
    * SimHash bands over documents, [[sAnnLsh]] over embeddings.
    *
    * Exact low-τ similarity join is intrinsically O(n²) compute; what
    * matters at scale is the *shape*: ids+vectors shuffle once, keyed
    * by block pair (bi ≤ bj), so work spreads evenly over B(B+1)/2
    * tasks and no node ever holds more than two id-blocks (pick B so
    * n/B fits an executor — vs. a BroadcastNestedLoopJoin, which
    * ships the whole corpus to every node). Each unordered pair is
    * enumerated exactly once: cross-block pairs appear only under
    * (min-block, max-block); same-block pairs are cut by ida < idb.
    * Pair scoring is one codegen'd [[DotProduct]] on pre-normalized
    * vectors. Output is ids-only: the τ=0.3 decision boundary has
    * ≥6e-5 slack on this data, orders of magnitude above any engine
    * float divergence. */
  def dDedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val B = blockCount(Tables(spark, dir).embeddings.count(), parts)
    val e = withUnit(embSpread(spark, dir), "embedding", "u")
      .select(col("vec_id"), col("u"))
    // All (bi ≤ bj) block pairs, tagging each side with every block
    // pair it participates in. Tiny at small B (auto-broadcast via
    // size estimate), distributed at large B — never driver-resident.
    val blockPairs = blockPairsDf(spark, B)
    val left = e.select(col("vec_id").as("ida"), col("u").as("ua"),
        pmod(col("vec_id"), lit(B)).cast("int").as("bi"))
      .join(blockPairs, "bi")
    val right = e.select(col("vec_id").as("idb"), col("u").as("ub"),
        pmod(col("vec_id"), lit(B)).cast("int").as("bj"))
      .join(blockPairs, "bj")
    left.join(right, Seq("bi", "bj"))
      .filter(col("bi") =!= col("bj") || col("ida") < col("idb"))
      .filter(dot(col("ua"), col("ub")) >= CosTau)
      .select(least(col("ida"), col("idb")).as("id1"),
        greatest(col("ida"), col("idb")).as("id2"))
      .orderBy("id1", "id2")
  }

  /** Block-matrix kernel — the REGISTERED form of the operator:
    * instead of materializing every candidate pair as an SMJ row
    * carrying two vectors, each block's vectors gather into ONE row
    * (collect_list) and the B(B+1)/2 block-pair rows run a tight
    * primitive-array loop. Same shuffle volume and the same per-task
    * memory bound (two blocks) as [[dDedupEmbedding]], no per-pair
    * row machinery — measured ~33% faster at sf0.1. The block count
    * adapts to the corpus ([[blockCount]]): a block row is capped at
    * [[TargetRowsPerBlock]] vectors regardless of scale. PipelineSpec
    * asserts the two formulations emit identical pair sets AND that
    * the pair set is invariant across forced block counts. */
  def dDedupEmbeddingKernel(spark: SparkSession, dir: String): DataFrame =
    dDedupEmbeddingKernelB(spark, dir, forceB = None)

  /** Gathers the unit-normalized corpus into B size-capped block rows
    * and enumerates the B(B+1)/2 (bi ≤ bj) block-pair task rows —
    * the scaffolding shared by every block-matrix kernel here. The
    * same-block (bi == bj) task's two gathered lists come from two
    * INDEPENDENT collect_list evaluations whose element order Spark
    * does not pin, so kernels must cut duplicate/self pairs BY ID
    * (`bi != bj || ia < ib`), never by list index. */
  private[graft] def blockPairTasks(spark: SparkSession, dir: String,
      forceB: Option[Int]): org.apache.spark.sql.Dataset[
        (Int, Int, Seq[(Long, Seq[Double])], Seq[(Long, Seq[Double])])] = {
    import spark.implicits._
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val B = forceB.getOrElse(
      blockCount(Tables(spark, dir).embeddings.count(), parts))
    val e = withUnit(embSpread(spark, dir), "embedding", "u")
      .select(col("vec_id"), col("u"))
    val blocks = e.select(pmod(col("vec_id"), lit(B)).cast("int").as("b"),
        struct(col("vec_id"), col("u")).as("v"))
      .groupBy("b").agg(collect_list(col("v")).as("vecs"))
    val blockPairs = blockPairsDf(spark, B)
    blockPairs
      .join(blocks.select(col("b").as("bi"), col("vecs").as("va")), "bi")
      .join(blocks.select(col("b").as("bj"), col("vecs").as("vb")), "bj")
      .repartition(parts) // one row per block pair; spread the tasks
      .select(col("bi"), col("bj"), col("va"), col("vb"))
      .as[(Int, Int, Seq[(Long, Seq[Double])], Seq[(Long, Seq[Double])])]
  }

  /** [[dDedupEmbeddingKernel]] with an overridable block count —
    * `forceB` exists for the block-invariance spec only. */
  private[graft] def dDedupEmbeddingKernelB(spark: SparkSession, dir: String,
      forceB: Option[Int]): DataFrame = {
    import spark.implicits._
    val tau = CosTau
    blockPairTasks(spark, dir, forceB)
      .flatMap { case (bi, bj, va, vb) =>
        val as = va.iterator.map { case (id, v) => (id, v.toArray) }.toArray
        val bs = vb.iterator.map { case (id, v) => (id, v.toArray) }.toArray
        val out = Seq.newBuilder[(Long, Long)]
        var i = 0
        while (i < as.length) {
          val ia = as(i)._1; val ua = as(i)._2
          var j = 0
          while (j < bs.length) {
            val ib = bs(j)._1
            if (bi != bj || ia < ib) {
              val ub = bs(j)._2
              // sequential accumulation — same op order as DotProduct
              var d = 0.0; var k = 0
              while (k < ua.length) { d += ua(k) * ub(k); k += 1 }
              if (d >= tau) out += ((math.min(ia, ib), math.max(ia, ib)))
            }
            j += 1
          }
          i += 1
        }
        out.result()
      }
      .toDF("id1", "id2")
      .orderBy("id1", "id2")
  }

  val dDedupEmbeddingSql: String =
    s"""SELECT a.vec_id AS id1, b.vec_id AS id2
       |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= $CosTau
       |ORDER BY id1, id2""".stripMargin

  // ------------------------------------------------------ d_semdedup

  /** d_semdedup — SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
    * semantic dedup scoped to pre-assigned clusters. The published
    * pipeline k-means-clusters the corpus, then removes near-identical
    * vectors WITHIN each cluster only — the cluster assignment is what
    * turns an O(n²) corpus problem into Σ|cell|² ≈ n²/k cell-local
    * work. Here the `label` column IS the cluster assignment (on a
    * real corpus it comes from [[sAnnIvf]]'s trained cells — same
    * shape, but `label` keeps the oracle SQL-expressible), and the
    * keeper rule is the deterministic greedy SemDeDup keeps: a vector
    * survives iff no SMALLER-id vector in its cluster sits within
    * cosine [[CosTau]] ([[Dedup.dDedupExact]]'s min-id discipline).
    *
    * Distribution: ONE hash shuffle on the cluster key; pairs
    * enumerate inside label-equi-join groups only (plan-asserted no
    * BNLJ), so no all-pairs anything; the removed-id set is id-only
    * (a corpus fraction — the flag join is a key equi-join Catalyst
    * sizes itself, broadcast at small scale). At 10⁹ vectors
    * with k ~ √n cells this is the standard semantic-dedup shape; a
    * pathological giant cell would re-introduce |cell|² — the
    * [[dDedupEmbeddingKernel]] block decomposition is the in-cell
    * escape hatch documented for that case.
    *
    * Output: every vector with its keep decision — discrete columns
    * only, so the threshold comparison is the single float decision
    * (the [[dDedupEmbedding]] ids-only parity discipline). */
  def dSemdedup(spark: SparkSession, dir: String): DataFrame = {
    val e = withUnit(embSpread(spark, dir), "embedding", "u")
      .select(col("vec_id"), col("label"), col("u"))
    val a = e.select(col("vec_id").as("ida"), col("label").as("la"), col("u").as("ua"))
    val b = e.select(col("vec_id").as("idb"), col("label").as("lb"), col("u").as("ub"))
    val removed = a.join(b, col("la") === col("lb") && col("ida") < col("idb"))
      .filter(dot(col("ua"), col("ub")) >= CosTau)
      .select(col("idb").as("rm_id")).distinct()
    // no broadcast hint: SemDeDup removes a corpus FRACTION (20-50%
    // in the published runs), so the removed set is O(n) — let
    // Catalyst pick broadcast at bench scale and a shuffled join at
    // corpus scale rather than bake in a driver-sized collect.
    e.join(removed, col("vec_id") === col("rm_id"), "left")
      .select(col("vec_id"), col("label"), col("rm_id").isNull.as("keep"))
      .orderBy("vec_id")
  }

  val dSemdedupSql: String =
    s"""SELECT e.vec_id, e.label,
       |  NOT EXISTS (
       |    SELECT 1 FROM embeddings a
       |    WHERE a.label = e.label AND a.vec_id < e.vec_id
       |      AND list_cosine_similarity(a.embedding::DOUBLE[], e.embedding::DOUBLE[]) >= $CosTau
       |  ) AS keep
       |FROM embeddings e
       |ORDER BY vec_id""".stripMargin

  /** Orders candidates best-first: higher score wins, ties break on
    * lower neighbor id — the engine-stable rank order used both by the
    * per-partition heaps and the global merge. */
  private val bestFirst: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
    override def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }

  private type Heaps =
    scala.collection.mutable.LongMap[scala.collection.mutable.PriorityQueue[(Double, Long)]]

  /** Bounded worst-at-head top-k retention under [[bestFirst]] —
    * shared by every heap-based top-k stage so the retention rule
    * (and its tie-break contract with the window merge) cannot
    * silently diverge between operators. PQ head = max under the
    * ordering; under bestFirst ("better compares less") the max IS
    * the worst retained element. */
  private def topKPush(heaps: Heaps, key: Long, cand: (Double, Long), k: Int): Unit = {
    val h = heaps.getOrElseUpdate(key,
      scala.collection.mutable.PriorityQueue.empty[(Double, Long)](bestFirst))
    if (h.size < k) h.enqueue(cand)
    else if (bestFirst.compare(cand, h.head) < 0) { h.dequeue(); h.enqueue(cand) }
  }

  /** The bounded per-partition top-C stage every scored-corpus ANN
    * path runs before anything wide: expects (query_id, neighbor_id,
    * value) rows, emits ≤ partitions×Q×C partials under [[bestFirst]]
    * — the discipline that keeps the scored corpus from ever
    * shuffling. ONE definition (brute/sq8/pq/ivfpq) so the retention
    * rule cannot silently diverge between operators. */
  private[operators] def heapPartials(scored: DataFrame, c: Int, valueCol: String): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    scored.select(col("query_id"), col("neighbor_id"), col(valueCol))
      .as[(Long, Long, Double)]
      .mapPartitions { rows =>
        val heaps: Heaps = scala.collection.mutable.LongMap.empty
        rows.foreach { case (q, n, v) => topKPush(heaps, q, (v, n), c) }
        heaps.iterator.flatMap { case (q, h) => h.iterator.map { case (v, n) => (q, n, v) } }
      }
      .toDF("query_id", "neighbor_id", valueCol)
  }

  /** The shared exact tail of the two-tier retrievals: winnow the
    * coarse partials to the global top C per query, rescore ONLY
    * those with the exact unit cosine, rank to [[TopK]]. One copy so
    * the tie-break order, rounding scale, and output contract cannot
    * drift between sq8/pq/ivfpq. `e` must carry (vec_id, u). */
  private def rescoreTopK(e: DataFrame, partials: DataFrame, c: Int): DataFrame = {
    val wC = Window.partitionBy(col("query_id"))
      .orderBy(col("coarse").desc, col("neighbor_id"))
    val cands = partials.withColumn("ck", row_number().over(wC))
      .filter(col("ck") <= c)
      .select("query_id", "neighbor_id")
    val unit = e.select(col("vec_id"), col("u"))
    val rescored = cands
      .join(unit.select(col("vec_id").as("neighbor_id"), col("u").as("nu")), "neighbor_id")
      .join(broadcast(unit.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("u").as("qu"))), "query_id")
      .withColumn("score", stableRound(dot(col("qu"), col("nu")), 4))
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    rescored.withColumn("rk", row_number().over(wK).cast("long"))
      .filter(col("rk") <= TopK)
      .select("query_id", "neighbor_id", "rk", "score")
      .orderBy("query_id", "rk")
  }

  /** Brute-force exact top-k: the first NumQueries vectors are the
    * query set (broadcast); rank by cosine with ties broken on
    * (rounded score, neighbor id) so the order is engine-stable.
    *
    * Scoring is a narrow map over the corpus (queries broadcast).
    * Top-k is two-phase: a bounded heap per (partition, query) inside
    * `mapPartitions` — so each scan task emits at most queries×k rows
    * and the full scored corpus never shuffles — then a global
    * row_number over the ≤ partitions×queries×k partials. At a 100 TB
    * corpus the wide side of this plan stays scan-local. */
  /** The exact scored (query_id, neighbor_id, score) stream — ONE
    * definition of the broadcast-queries/narrow-corpus scan and the
    * stableRound(4) scoring rule, shared by the top-k ([[sAnnBrute]])
    * and radius ([[sAnnRange]]) tails so the two operators' score
    * columns cannot silently diverge (the [[heapPartials]]
    * single-copy doctrine). */
  private def bruteScored(spark: SparkSession, dir: String): DataFrame = {
    val e = withUnit(embSpread(spark, dir), "embedding", "u")
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("u").as("qv"))
    e.select(col("vec_id").as("neighbor_id"), col("u").as("nv"))
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .withColumn("score", stableRound(dot(col("qv"), col("nv")), 4))
  }

  def sAnnBrute(spark: SparkSession, dir: String): DataFrame = {
    val partials = heapPartials(bruteScored(spark, dir), TopK, "score")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    partials.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TopK)
      .select("query_id", "neighbor_id", "rk", "score")
      .orderBy("query_id", "rk")
  }

  val sAnnBruteSql: String =
    s"""SELECT query_id, neighbor_id, rk, score FROM (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    floor((list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[])) * 1e4 + 0.5) / 1e4 AS score,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY floor((list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[])) * 1e4 + 0.5) / 1e4 DESC,
       |               n.vec_id) AS rk
       |  FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
       |  WHERE q.vec_id < $NumQueries) t
       |WHERE rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin

  /** Cosine radius for [[sAnnRange]] — a 4-decimal value, so the
    * keep decision compares the same ROUNDED score both engines
    * emit. */
  val RangeTau = 0.25

  /** s_ann_range — radius search, the OTHER canonical similarity
    * query (top-k answers "the closest k whatever they look like";
    * radius answers "everything actually similar", the semantics
    * near-dup candidate pulls and threshold-based retrieval
    * augmentation want): every corpus vector with cosine ≥
    * [[RangeTau]] of each query, however many or few. Same shape as
    * [[sAnnBrute]]'s scan — queries broadcast, corpus side narrow,
    * one scan — but the tail is a FILTER, not per-query heaps +
    * rank: no state at all, so the operator is embarrassingly
    * parallel at any corpus size (the presentation sort is the only
    * exchange; plan-asserted). The decision runs on the
    * [[stableRound]]ed score (τ is a 4-decimal value), the same
    * tolerance class as the brute top-k's rank ordering. At scale
    * the LSH/IVF tiers bound WHICH vectors get scored; the radius
    * tail is unchanged. */
  def sAnnRange(spark: SparkSession, dir: String): DataFrame =
    bruteScored(spark, dir)
      .filter(col("score") >= RangeTau)
      .select("query_id", "neighbor_id", "score")
      .orderBy("query_id", "neighbor_id")

  val sAnnRangeSql: String =
    s"""SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |  floor((list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[])) * 1e4 + 0.5) / 1e4 AS score
       |FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
       |WHERE q.vec_id < $NumQueries
       |  AND floor((list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[])) * 1e4 + 0.5) / 1e4 >= $RangeTau
       |ORDER BY query_id, neighbor_id""".stripMargin

  /** Coarse candidate pool per query for the int8 two-tier retrieval
    * — rescored exactly, so this is the only recall knob. */
  val Sq8Candidates = 50

  /** s_ann_sq8 — two-tier scalar-quantized retrieval, the standard
    * memory-bandwidth play at corpus scale: tier 1 scans INT8 codes
    * (4× smaller than float32 — [[Embeddings.eQuantize]]'s output,
    * same formulation inline) and keeps [[Sq8Candidates]] per query
    * by integer dot product; tier 2 rescores only those Q×C
    * candidates with the exact float cosine and reranks.
    *
    * Unlike LSH/IVF this tier-1 is DETERMINISTIC and engine-exact:
    * the coarse score is integer arithmetic (no float divergence
    * possible), ties break on neighbor_id, so the candidate SET is
    * identical in both engines and the whole output hash-matches —
    * an ANN variant with a full SQL oracle rather than a recall
    * bound. (Recall < 1 only where quantization reorders the coarse
    * top-C boundary; the spec bounds it against brute force.)
    *
    * Scale shape: same discipline as [[sAnnBrute]] — queries
    * broadcast, the coarse-scored corpus never shuffles (bounded
    * per-partition heaps emit ≤ partitions×Q×C partials), and the
    * rescore tier touches Q×C rows only. */
  def sAnnSq8(spark: SparkSession, dir: String): DataFrame = {
    val e = embSpread(spark, dir)
    val amax = graft.functions.expr.FoldExpressions.absMaxArray(col("embedding"))
    val coded = e.withColumn("abs_max", amax)
      .select(col("vec_id"),
        transform(col("embedding"), x =>
          when(col("abs_max") === 0.0, lit(0))
            .otherwise(floor(x.cast("double") / col("abs_max") * lit(Embeddings.QuantLevels) + lit(0.5))
              .cast("int"))).as("q8"))
    val queries = coded.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("q8").as("qq"))
    val scored = coded.select(col("vec_id").as("neighbor_id"), col("q8"))
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.expr.FoldExpressions.dotProductLong(col("qq"), col("q8"))
          .cast("double").as("coarse"))
    rescoreTopK(withUnit(e, "embedding", "u"),
      heapPartials(scored, Sq8Candidates, "coarse"), Sq8Candidates)
  }

  val sAnnSq8Sql: String =
    s"""WITH m AS (
       |  SELECT vec_id, embedding,
       |    list_reduce(list_prepend(0.0, list_transform(embedding, x -> abs(x::DOUBLE))),
       |      (a, b) -> greatest(a, b)) AS abs_max
       |  FROM embeddings),
       |c AS (
       |  SELECT vec_id, embedding,
       |    list_transform(embedding, x ->
       |      CASE WHEN abs_max = 0.0 THEN 0
       |           ELSE CAST(floor(x::DOUBLE / abs_max * ${Embeddings.QuantLevels} + 0.5) AS INTEGER)
       |      END) AS q8
       |  FROM m),
       |coarse AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    list_sum(list_transform(list_zip(q.q8, n.q8), p -> p[1]::BIGINT * p[2])) AS coarse
       |  FROM c q JOIN c n ON q.vec_id <> n.vec_id
       |  WHERE q.vec_id < $NumQueries),
       |cand AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY coarse DESC, neighbor_id) AS ck
       |  FROM coarse),
       |resc AS (
       |  SELECT query_id, neighbor_id,
       |    floor((list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[])) * 1e4 + 0.5) / 1e4 AS score
       |  FROM cand
       |  JOIN embeddings q ON cand.query_id = q.vec_id
       |  JOIN embeddings n ON cand.neighbor_id = n.vec_id
       |  WHERE ck <= $Sq8Candidates)
       |SELECT query_id, neighbor_id, rk, score FROM (
       |  SELECT query_id, neighbor_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rk
       |  FROM resc) t
       |WHERE rk <= $TopK
       |ORDER BY query_id, rk""".stripMargin

  /** Neighbors kept per node in the kNN graph. */
  val KnnK = 5

  /** s_knn_graph — exact cosine k-nearest-neighbor graph over the
    * whole corpus (every vector is a query): the building block for
    * graph-based curation — diversity sampling, label propagation,
    * near-dup community detection (reference scans are per-query;
    * corpus×corpus retrieval composes idx.rs-style probes the same
    * way, cf. lib.rs:195-205's find-as-scan semantics).
    *
    * [[sAnnBrute]]'s broadcast-the-queries plan dies here (the query
    * set IS the corpus), so the pair enumeration reuses
    * [[dDedupEmbeddingKernel]]'s block-matrix shape: vectors gather
    * into B size-capped block rows ([[TargetRowsPerBlock]]), the
    * B(B+1)/2 block-pair tasks run a tight primitive loop, and each
    * unordered pair is scored ONCE, feeding a bounded worst-at-head
    * heap per node on BOTH sides. A task therefore emits ≤ (|va|+|vb|)
    * × k partial rows — the n² scored pairs never leave their task —
    * and the global shuffle is n·B·k partials into one row_number
    * merge keyed by node. Exact all-pairs kNN is intrinsically O(n²)
    * compute; past the corpus size where that is affordable the
    * approximate paths ([[sAnnLsh]], [[sAnnIvf]] with queries=corpus)
    * take over. Scores are [[stableRound]]ed at 4 decimals before
    * ranking (same Scala op chain as the Column form: long-floor is
    * lossless at |x| ≤ 1), ties break on neighbor id — engine-stable,
    * full SQL oracle. */
  def sKnnGraph(spark: SparkSession, dir: String): DataFrame =
    sKnnGraphB(spark, dir, forceB = None)

  /** [[sKnnGraph]] with an overridable block count — `forceB` exists
    * for the block-invariance spec only. */
  private[graft] def sKnnGraphB(spark: SparkSession, dir: String,
      forceB: Option[Int]): DataFrame = {
    import spark.implicits._
    val k = KnnK
    val partials = blockPairTasks(spark, dir, forceB)
      .flatMap { case (bi, bj, va, vb) =>
        val as = va.iterator.map { case (id, v) => (id, v.toArray) }.toArray
        val bs = vb.iterator.map { case (id, v) => (id, v.toArray) }.toArray
        val heaps: Heaps = scala.collection.mutable.LongMap.empty
        var i = 0
        while (i < as.length) {
          val ia = as(i)._1; val ua = as(i)._2
          var j = 0
          while (j < bs.length) {
            val ib = bs(j)._1
            // same-block pairs cut BY ID — va/vb are two independent
            // collect_list evaluations, so list positions don't align
            if (bi != bj || ia < ib) {
              val ub = bs(j)._2
              var d = 0.0; var x = 0
              while (x < ua.length) { d += ua(x) * ub(x); x += 1 }
              // stableRound(·, 4): identical op chain to the Column form
              val s = math.floor(d * 1e4 + 0.5) / 1e4
              topKPush(heaps, ia, (s, ib), k); topKPush(heaps, ib, (s, ia), k)
            }
            j += 1
          }
          i += 1
        }
        heaps.iterator.flatMap { case (id, h) =>
          h.iterator.map { case (s, n) => (id, n, s) } }
      }
      .toDF("vec_id", "neighbor_id", "score")
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    partials.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("vec_id", "neighbor_id", "rk", "score")
      .orderBy("vec_id", "rk")
  }

  val sKnnGraphSql: String =
    s"""SELECT vec_id, neighbor_id, rk, score FROM (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
       |    floor((list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])) * 1e4 + 0.5) / 1e4 AS score,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY floor((list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])) * 1e4 + 0.5) / 1e4 DESC,
       |               b.vec_id) AS rk
       |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id) t
       |WHERE rk <= $KnnK
       |ORDER BY vec_id, rk""".stripMargin

  /** Semantic-decontamination flag threshold and eval-set size. */
  val SemTau = 0.35
  val SemTestSet = 50

  /** d_decontaminate_emb — semantic eval-set decontamination: flag
    * every train vector whose cosine against ANY held-out eval vector
    * reaches [[SemTau]] (the embedding-space complement of the
    * shingle-overlap d_decontaminate — catches paraphrased
    * contamination exact n-gram match misses; cf. the reference's
    * find-by-predicate scan semantics, lib.rs:195-205).
    *
    * Scale shape: the eval set is small by construction, so it
    * BROADCASTS and the corpus is scanned once, narrowly — per train
    * row, |eval| codegen'd dots; no corpus shuffle at any size. The
    * only exchange carries the ≤ flagged ids into the per-id max
    * (map-side partials make it tiny). Pair scores round through
    * [[stableRound]] BEFORE both the τ compare and the max, so the
    * flag decision and the reported similarity are engine-identical
    * (max∘round ≡ round∘max under a monotone round — but running the
    * identical op order in both engines is what parity rests on).
    *
    * One deliberate formulation gap: the DuckDB oracle scores via
    * list_cosine_similarity (normalize-LAST: dot/(‖a‖·‖b‖)) while this
    * side dots pre-normalized unit vectors (normalize-FIRST). Measured
    * on this corpus the two differ by ~1e-12, and the closest any
    * floor(c·1e4+0.5) input comes to an integer boundary is 1.1e-7 —
    * five orders of slack — while the one pair whose rounded score
    * equals τ exactly is a same-double compare in both engines, so the
    * round and the τ gate agree despite the differing op order. */
  def dDecontaminateEmb(spark: SparkSession, dir: String): DataFrame = {
    val e = withUnit(embSpread(spark, dir), "embedding", "u")
    val test = e.filter(col("vec_id") < SemTestSet)
      .select(col("vec_id").as("test_id"), col("u").as("tu"))
    e.filter(col("vec_id") >= SemTestSet)
      .select(col("vec_id"), col("u"))
      .join(broadcast(test))
      .withColumn("c", stableRound(dot(col("tu"), col("u")), 4))
      .filter(col("c") >= SemTau)
      .groupBy("vec_id").agg(max(col("c")).as("max_sim"))
      .orderBy("vec_id")
  }

  val dDecontaminateEmbSql: String =
    s"""SELECT vec_id, max(c) AS max_sim FROM (
       |  SELECT n.vec_id AS vec_id,
       |    floor((list_cosine_similarity(t.embedding::DOUBLE[], n.embedding::DOUBLE[])) * 1e4 + 0.5) / 1e4 AS c
       |  FROM embeddings t JOIN embeddings n ON t.vec_id < $SemTestSet AND n.vec_id >= $SemTestSet) x
       |WHERE c >= $SemTau
       |GROUP BY vec_id
       |ORDER BY vec_id""".stripMargin

  val NumTables = 8
  val PlanesPerTable = 6
  val Dim = 64

  /** Fixed random hyperplanes per hash table (seeded, generated once
    * on the driver and shipped as literals — no per-row hashing). */
  private lazy val planes: Seq[Seq[Seq[Double]]] = {
    val rng = new scala.util.Random(42)
    Seq.fill(NumTables, PlanesPerTable, Dim)(rng.nextGaussian())
  }

  /** LSH-bucketed ANN, multi-table random-hyperplane scheme: each of
    * the L=8 tables buckets a vector by the sign pattern over its own
    * 6 hyperplanes; a query's candidates are the union of its buckets
    * across tables (standard recall/cost trade — union-of-tables
    * recovers the recall a single fine-grained table loses).
    * Candidates join on (table, bucket) — one shuffle, never
    * all-pairs. Recall < 1 by construction (bounded in the spec
    * against the brute-force baseline), so rows-only — no SQL
    * oracle. */
  def sAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = embSpread(spark, dir)
    // Sign pattern over the table's hyperplanes: each sign test is one
    // codegen'd DotProduct against the plane literal (the HOF
    // aggregate(zip_with(...)) formulation evaluates a lambda chain
    // per element — the documented SURVEY §8 hazard).
    def bucketOf(v: Column, t: Int): Column =
      planes(t).zipWithIndex.map { case (plane, p) =>
        when(dot(v, typedLit(plane)) > 0, lit(1 << p)).otherwise(lit(0))
      }.reduce(_ + _)
    val buckets = array((0 until NumTables).map(t =>
      struct(lit(t).as("t"), bucketOf(col("embedding"), t).as("bkt"))): _*)
    val bucketed = withUnit(e, "embedding", "u")
      .select(col("vec_id"), col("u"), explode(buckets).as("tb"))
      .select(col("vec_id"), col("u"),
        col("tb.t").as("t"), col("tb.bkt").as("bkt"))
    // Multi-probe on the QUERY side only: each query also probes the 6
    // buckets at hamming distance 1 from its own (one flipped sign
    // bit) in every table. This multiplies the tiny query set ×7, not
    // the corpus, and lifts recall at τ-ish similarity from the coarse
    // single-bucket filter to a usable level (bounded in PipelineSpec).
    val probeBkts = explode(array(
      col("bkt") +: (0 until PlanesPerTable).map(p =>
        col("bkt").bitwiseXOR(lit(1 << p))): _*)).as("probe_bkt")
    val queries = bucketed.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("u").as("qv"),
        col("t"), probeBkts)
      .withColumnRenamed("probe_bkt", "bkt")
    val cand = bucketed.join(broadcast(queries), Seq("t", "bkt"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("qv"), col("u"))
      .dropDuplicates("query_id", "vec_id")
      .withColumn("score", stableRound(dot(col("qv"), col("u")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    cand.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rk"), col("score"))
      .orderBy(col("query_id"), col("rk"))
  }

  val IvfCells = 16
  val IvfProbe = 8

  /** IVF-flat ANN: the corpus is partitioned into K centroid cells
    * (inverted file); a query scans only its nprobe nearest cells.
    *
    * Centroids are K corpus vectors picked by md5(vec_id) order,
    * Lloyd-refined on the driver over a bounded md5-ordered sample
    * ([[trainedModels]] — deterministic, engine-replayable, O(K) to
    * ship; the refinement changed no plan shape, exactly as this
    * scaladoc predicted when the centroids were raw seeds).
    * Cell assignment is argmax over K codegen'd dots against the RAW
    * embedding column: scale-invariant vs unit centroids, and a plain
    * column ref keeps the 16 dot expressions from re-inlining the
    * unit-normalization transform. One narrow assignment pass, one
    * equi-join shuffle on cell id — at 100 TB the per-query read is
    * nprobe/K of the corpus instead of all of it. Recall < 1 by
    * construction → rows-only, bounded against brute in PipelineSpec.
    * (On this corpus neighbors are weak — max cosine ≈ 0.5 — so
    * nprobe=K/2 is needed for useful recall; clustered real-world
    * embeddings separate far better.) */
  /** (dot, cid) structs sorted best-first: head = home cell, prefix =
    * probe cells. Struct ordering is field-by-field, ties → higher cid
    * — identical on both the corpus and query paths. ONE definition
    * shared by [[sAnnIvf]] and [[sAnnIvfPq]], so the "same centroids,
    * same tie convention" identity between them is structural, not a
    * documentation promise. */
  private[operators] def ivfCellsDesc(cents: Array[Seq[Double]])(v: Column): Column =
    sort_array(array(cents.zipWithIndex.map { case (cv, i) =>
      struct(dot(v, typedLit(cv)).as("d"), lit(i).as("cid"))
    }: _*), asc = false)

  def sAnnIvf(spark: SparkSession, dir: String): DataFrame =
    sAnnIvfFrom(spark, dir, persisted = true)

  /** [[sAnnIvf]] with the index source exposed — persisted = the
    * registered sidecar-served path; in-session = the parity spec's
    * baseline. The probe reads (vec_id, u, cid) off the index frame
    * (the IVF-flat inverted file: at 10⁹ vectors the per-query read
    * is nprobe/K of THAT, with no assignment pass); only the tiny
    * query set still evaluates the cell ranking, off the loaded
    * centroids. */
  private[graft] def sAnnIvfFrom(spark: SparkSession, dir: String,
      persisted: Boolean): DataFrame = {
    val e = withUnit(embSpread(spark, dir), "embedding", "u")
    val (cells, _, codes) = annIndex(spark, dir, persisted)
    val cellsDesc = ivfCellsDesc(cells) _
    val corpus = codes.select(col("vec_id"), col("u"), col("cid"))
    val queriesDf = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("u").as("qv"),
        explode(transform(slice(cellsDesc(col("embedding")), 1, IvfProbe),
          s => s.getField("cid"))).as("cid"))
    val cand = corpus.join(broadcast(queriesDf), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score", stableRound(dot(col("qv"), col("u")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id"))
    cand.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rk"), col("score"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** PQ geometry: 64 dims → [[PqSubspaces]] subvectors of [[PqSubDim]]
    * dims, [[PqCodebook]] centroids per subspace → one byte-sized code
    * per subspace, 8 bytes per vector vs 256 for float32 (32×). */
  val PqSubspaces = 8
  val PqSubDim = 8
  val PqCodebook = 32
  /** Coarse ADC pool per query — rescored exactly, the recall knob.
    * Wider than sq8's 50: PQ's seed-subvector codebook is coarser
    * than int8-per-component, so the ADC ordering needs a deeper
    * pool to cover the true top-k on a near-uniform corpus. */
  val PqCandidates = 100

  /** Bounded k-means training sample: the first [[PqTrainSample]]
    * corpus vectors in md5(vec_id) order. Training centroids on a
    * fixed-size sample is the standard billion-scale practice (what
    * FAISS's train() does): at 10⁹ vectors a distributed Lloyd over
    * the full corpus buys nothing a 4k-vector sample doesn't, and
    * the sample pull is one TakeOrdered pass — bounded, constant,
    * deterministic. ~2 MB on the driver at dim 64. */
  val PqTrainSample = 4096
  /** Lloyd iterations refining the seed centroids ([[lloydIp]]).
    * Measured on the fixture (KmeansRecallSpec): quantization error
    * drops steeply in the first iterations and recall is
    * non-degrading, so a small fixed count is the right trade. */
  val PqKmeansIters = 3

  /** Lloyd's k-means over a driver-resident bounded sample, using the
    * ENGINE'S assignment rule — argmax(x·c − ½|c|²) with ties to the
    * higher cid, exactly [[pqCodeOf]]/[[ivfCellsDesc]]'s convention —
    * so the trained model and the distributed coding pass agree on
    * every boundary point. Empty clusters keep their previous
    * centroid (the md5 seed), so k never collapses. `spherical`
    * renormalizes means to unit length (IVF cells: assignment is a
    * raw-vector dot, which ranks by cosine only against unit
    * centroids). Iteration order is the sample's md5 order and the
    * arithmetic is sequential — bit-deterministic across runs. */
  private def lloydIp(points: Array[Array[Double]], init: Array[Array[Double]],
                      iters: Int, spherical: Boolean): Array[Array[Double]] = {
    var cents = init
    val dim = if (points.isEmpty) 0 else points(0).length
    for (_ <- 0 until iters) {
      val k = cents.length
      val halves = cents.map(c => 0.5 * c.map(x => x * x).sum)
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      points.foreach { p =>
        var best = 0
        var bestAdj = Double.NegativeInfinity
        var i = 0
        while (i < k) {
          var d = 0.0
          var j = 0
          while (j < dim) { d += p(j) * cents(i)(j); j += 1 }
          val adj = d - halves(i)
          if (adj >= bestAdj) { bestAdj = adj; best = i }
          i += 1
        }
        counts(best) += 1L
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
      }
      cents = Array.tabulate(k) { i =>
        if (counts(i) == 0L) cents(i)
        else {
          val m = sums(i).map(_ / counts(i))
          if (spherical) {
            val nrm = math.sqrt(m.map(x => x * x).sum)
            if (nrm == 0.0) cents(i) else m.map(_ / nrm)
          } else m
        }
      }
    }
    cents
  }

  /** Training-pass counter — [[graft.AnnIndexSpec]] asserts the
    * sidecar-served probe path runs ZERO training passes (the
    * build-once/probe-many contract). Counts [[trainedModels]] calls;
    * never read by any operator. */
  private[graft] val trainCount = new java.util.concurrent.atomic.AtomicLong

  /** The trained retrieval models — (IVF cell centroids, PQ codebook)
    * — from ONE md5-ordered sample pull ([[pqSeeds]], so the Lloyd
    * inits ARE the previous rounds' seed centroids: iters = 0
    * reproduces the unrefined behavior exactly). IVF cells are
    * spherical k-means over the full-dim unit sample; PQ codebooks
    * are plain k-means per subvector slice. One collect serves both
    * models, preserving the ivf/ivfpq same-centroids identity. */
  private[operators] def trainedModels(e: DataFrame, iters: Int): (Array[Seq[Double]], PqBook) = {
    trainCount.incrementAndGet(): Unit
    val sample = pqSeeds(e, PqTrainSample).map(_.toArray)
    val cells = lloydIp(sample, sample.take(IvfCells), iters, spherical = true)
    val book: PqBook = Array.tabulate(PqSubspaces) { m =>
      val pts = sample.map(_.slice(m * PqSubDim, (m + 1) * PqSubDim))
      lloydIp(pts, pts.take(PqCodebook), iters, spherical = false)
        .map(c => (c.toSeq, 0.5 * c.map(x => x * x).sum))
    }
    (cells.map(_.toSeq), book)
  }

  /** The (vec_id, u, cid, c0..c{M-1}) INDEX FRAME — one row per corpus
    * vector carrying its IVF home cell, its unit vector (the IVF-flat
    * inverted-file payload the exact tiers rescore from) and its PQ
    * codes. ONE definition: the in-session probe paths localCheckpoint
    * it; [[VectorIndex.build]] writes the identical select as the
    * persisted parquet sidecar — so served-from-disk and
    * computed-in-session probes are bit-identical by construction
    * (training is deterministic, and doubles round-trip parquet
    * exactly). */
  private[graft] def codeFrame(e: DataFrame, cells: Array[Seq[Double]],
      book: PqBook): DataFrame =
    codeFrameOpt(e, Some(cells), book)

  /** [[codeFrame]] with the cell assignment optional: a PQ-only
    * consumer ([[sAnnPqIters]]' recall loop) must not be charged the
    * 16-dot cell ranking per corpus vector for a cid column it never
    * reads. */
  private def codeFrameOpt(e: DataFrame, cells: Option[Array[Seq[Double]]],
      book: PqBook): DataFrame = {
    val cid = cells.toSeq.map(cs =>
      element_at(ivfCellsDesc(cs)(col("embedding")), 1).getField("cid").as("cid"))
    e.select(Seq(col("vec_id"), col("u")) ++ cid ++
      (0 until PqSubspaces).map(m => pqCodeOf(book)(col("u"), m).as(s"c$m")): _*)
  }

  /** The ANN index triple (IVF cells, PQ codebook, index frame).
    * persisted = load the [[VectorIndex]] parquet sidecars (build them
    * once if absent) — NO training or coding pass on the probe path,
    * the registered ops' route; in-session = train + code per session,
    * the parity/recall specs' baseline. */
  private[graft] def annIndex(spark: SparkSession, dir: String,
      persisted: Boolean): (Array[Seq[Double]], PqBook, DataFrame) =
    if (persisted) {
      val path = VectorIndex.build(spark, dir)
      val (cells, book) = VectorIndex.models(spark, path)
      (cells, book, VectorIndex.codes(spark, path))
    } else {
      val e = withUnit(embSpread(spark, dir), "embedding", "u")
      val (cells, book) = trainedModels(e, PqKmeansIters)
      (cells, book, codeFrame(e, cells, book).localCheckpoint(false))
    }

  /** s_ann_pq — product-quantization ANN (asymmetric distance
    * computation), the standard MEMORY-resident retrieval tier at
    * corpus scale: each unit vector encodes to [[PqSubspaces]] small
    * codebook ids (8 B/vector — a 10⁹-vector corpus's codes fit in
    * 8 GB of cluster RAM where float32 needs 256 GB); a query scores
    * codes via per-subspace centroid dot products and only the
    * [[PqCandidates]] coarse winners touch float vectors for the
    * exact rescore.
    *
    * Codebooks are deterministic: per-subspace k-means
    * ([[trainedModels]]) over the same md5-ordered bounded sample
    * [[sAnnIvf]]'s cells train on, Lloyd-initialized from the sample
    * prefix — engine-replayable, O(K·d) to ship; the refinement
    * dropped in without changing the plan shape. Encoding is argmin
    * squared-L2
    * per subspace, computed as argmax(x·c − ½|c|²) (sort_array on
    * (adj, cid) structs — same tie convention as IVF's cell pick).
    * The ADC score Σ_m lut_m[code_m] is a double sum in fixed
    * subspace order — deterministic per engine, but float, so the
    * coarse candidate SET is not integer-exact like [[sAnnSq8]]'s:
    * rows-only with the recall bound spec, per the LSH/IVF precedent.
    *
    * Scale shape: the code table is built in one narrow pass (128
    * dim-8 codegen'd dots/vector); scoring is a narrow map over the
    * broadcast query set; per-partition bounded heaps emit
    * ≤ partitions×Q×C partials (the scored corpus never shuffles —
    * the [[sAnnBrute]] discipline); the rescore tier reads Q×C float
    * vectors through one id equi-join. */
  /** Codebook: per subspace, (centroid subvector, ½|c|²) — the adj
    * term folded in for the argmin-L2-as-argmax trick. */
  private[operators] type PqBook = Array[Array[(Seq[Double], Double)]]

  /** The md5-ordered deterministic corpus sample — [[trainedModels]]
    * trains every retrieval model from one pull of this, and the
    * sample prefixes are the Lloyd inits. */
  private def pqSeeds(e: DataFrame, n: Int): Array[Seq[Double]] = {
    val s = e.sparkSession
    import s.implicits._
    e.withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy("h").limit(n)
      .select("u").as[Seq[Double]].collect()
  }

  private def pqSubv(v: Column, m: Int): Column =
    slice(v, m * PqSubDim + 1, PqSubDim)

  /** argmin L2 == argmax (x·c − ½|c|²), with ties → higher cid (the
    * IVF cell-pick convention). LOOP-based on purpose: the earlier
    * 32-way unrolled struct sort_array, fused 8× into one projection,
    * overflowed janino's method limit and silently disabled
    * whole-stage codegen for the heaviest narrow pass (observed WARN
    * WholeStageCodegenExec). Here each centroid is AUGMENTED with a
    * trailing −½|c|² component and the subvector with a trailing 1.0,
    * so the ranking term is ONE dim-9 dot inside a `transform` loop;
    * argmax-with-high-tie is "last index attaining the max"
    * (array_position over the reversed array). Compact generated
    * code, same code ids bit-for-bit (the dot's op order over the
    * first 8 components is unchanged; the +(−half) tail is the same
    * IEEE add the subtraction performed). */
  private[operators] def pqCodeOf(book: PqBook)(v: Column, m: Int): Column = {
    val augCents = typedLit(book(m).map { case (cv, half) => cv :+ (-half) })
    val augSub = concat(pqSubv(v, m), array(lit(1.0)))
    val adjs = transform(augCents, c => dot(augSub, c))
    (lit(book(m).length) - array_position(reverse(adjs), array_max(adjs))).cast("int")
  }

  /** ADC score Σ_m lut_m[code_m]: the query side picks code_m's
    * centroid out of the literal codebook and dots it against its own
    * subvector `qv`; expects columns qv and c0..c{M-1}. */
  private def pqAdc(book: PqBook): Column =
    (0 until PqSubspaces).map { m =>
      dot(pqSubv(col("qv"), m),
        element_at(typedLit(book(m).map(_._1).toSeq), col(s"c$m") + 1))
    }.reduce(_ + _)

  def sAnnPq(spark: SparkSession, dir: String): DataFrame =
    sAnnPqFrom(spark, dir, persisted = true)

  /** [[sAnnPq]] with the index source exposed. The code table IS the
    * index — the persisted path reads it off the parquet sidecar
    * (9 ints per vector, no coding pass; the in-session path
    * lazy-localCheckpoints the same frame) so the ×Q broadcast join
    * downstream replays codes instead of re-evaluating the 8 argmin
    * passes per (vector, query) pair. At 10⁹ vectors this is the 8 GB
    * RAM-resident table the scaladoc describes; recomputing it per
    * query (or per SESSION — the pre-sidecar behavior) is the one way
    * to lose PQ's whole point. */
  private[graft] def sAnnPqFrom(spark: SparkSession, dir: String,
      persisted: Boolean): DataFrame = {
    val e = withUnit(embSpread(spark, dir), "embedding", "u")
    val (_, codebook, codes) = annIndex(spark, dir, persisted)
    pqProbe(e, codebook, codes)
  }

  /** [[sAnnPq]] with the Lloyd iteration count exposed — iters = 0 is
    * the raw-seed codebook (rounds ≤ 6 behavior); KmeansRecallSpec
    * measures the recall curve across counts. Always in-session (the
    * sidecar persists only the production iteration count). */
  private[graft] def sAnnPqIters(spark: SparkSession, dir: String, iters: Int): DataFrame = {
    val e = withUnit(embSpread(spark, dir), "embedding", "u")
    val codebook = trainedModels(e, iters)._2
    pqProbe(e, codebook, codeFrameOpt(e, None, codebook).localCheckpoint(false))
  }

  /** The shared PQ probe tail: ADC-score the code table against the
    * broadcast query set, bounded heaps, exact rescore. `codes` must
    * carry (vec_id, u, c0..c{M-1}) — the rescore reads `u` off the
    * index frame, so the corpus parquet is never re-read. */
  private def pqProbe(e: DataFrame, codebook: PqBook, codes: DataFrame): DataFrame = {
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("u").as("qv"))
    val scored = codes.join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        pqAdc(codebook).as("coarse"))
    rescoreTopK(codes, heapPartials(scored, PqCandidates, "coarse"), PqCandidates)
  }

  /** s_ann_ivfpq — the composed billion-scale index (FAISS-IVFPQ
    * shape): IVF cell pruning bounds WHICH vectors a query reads
    * (nprobe/K of the corpus), PQ codes bound WHAT it reads per
    * vector (8 B), and the exact rescore tier restores precision on
    * the [[PqCandidates]] ADC winners. At 10⁹ vectors: probe work ≈
    * (nprobe/K)·N code reads ≈ nprobe/K × 8 GB — RAM-resident AND
    * sublinear, which neither tier achieves alone.
    *
    * Determinism/reuse: cells and subvector codebooks come from ONE
    * [[trainedModels]] call — one md5-ordered sample collect, one
    * Lloyd refinement pass, both models.
    * Candidates arrive through the ONE cid equi-join (a corpus
    * vector has one home cell, so (query, neighbor) pairs are unique
    * — no dedup pass); ADC ranks them (floats touch nothing yet),
    * the top [[PqCandidates]] rescore exactly. Rows-only + recall
    * spec, per the LSH/IVF/PQ precedent. */
  def sAnnIvfPq(spark: SparkSession, dir: String): DataFrame =
    sAnnIvfPqFrom(spark, dir, persisted = true)

  private[graft] def sAnnIvfPqFrom(spark: SparkSession, dir: String,
      persisted: Boolean): DataFrame = {
    val e = withUnit(embSpread(spark, dir), "embedding", "u")
    val (cells, codebook, codes) = annIndex(spark, dir, persisted)
    val cellsDesc = ivfCellsDesc(cells) _
    val queriesDf = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("u").as("qv"),
        explode(transform(slice(cellsDesc(col("embedding")), 1, IvfProbe),
          s => s.getField("cid"))).as("cid"))
    // ADC-score the cell survivors, then the SAME bounded-heap
    // discipline as every other scored-corpus path: at 10⁹ vectors
    // nprobe/K of the corpus is still ~N/2 scored rows — ranking them
    // through a Q-partition window alone would single-reduce each
    // query's half-corpus (the exact hazard the pq plan spec pins).
    val scored = codes.join(broadcast(queriesDf), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        pqAdc(codebook).as("coarse"))
    rescoreTopK(codes, heapPartials(scored, PqCandidates, "coarse"), PqCandidates)
  }

  // -------------------------------------------------------- ann eval

  /** s_ann_eval — recall@k of every approximate tier against the
    * exact brute-force truth, as a queryable artifact: (tier,
    * n_truth, n_hits, recall) per tier. This is the [[graft.operators.Dedup]]
    * d_dedup_eval / t_retrieval_eval measured-evaluation discipline
    * applied to the ANN family — the number the probe-depth /
    * banding / codebook knobs are actually tuned against, computed
    * by the engine itself instead of living only in a spec
    * (KmeansRecallSpec pins the bounds; this row REPORTS the curve).
    *
    * Cost shape: every arm's rank list is |Q|·k rows — the joins and
    * counts here are corpus-size-independent; the arms themselves are
    * the existing tier pipelines (sidecar-served — no training).
    * No SQL oracle BY DESIGN (the tiers are k-means/LSH artifacts —
    * the s_ann_* rows-only class); the output is deterministic
    * because every arm is, and the spec replays the joins. */
  def sAnnEval(spark: SparkSession, dir: String): DataFrame = {
    // Lazy localCheckpoint, not cache: the truth frame (|Q|·k rows)
    // is referenced by all five arms' joins plus its own count, but a
    // cache() here would pin it for the session (nobody owns the
    // unpersist once this frame is returned) — checkpoint blocks are
    // released by the ContextCleaner when the frame is GC'd.
    val truth = sAnnBrute(spark, dir)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(false)
    val arms: Seq[(String, DataFrame)] = Seq(
      "lsh" -> sAnnLsh(spark, dir),
      "ivf" -> sAnnIvf(spark, dir),
      "sq8" -> sAnnSq8(spark, dir),
      "pq" -> sAnnPq(spark, dir),
      "ivfpq" -> sAnnIvfPq(spark, dir))
    arms.map { case (tier, arm) =>
      val hits = arm.select(col("query_id"), col("neighbor_id"))
        .join(truth, Seq("query_id", "neighbor_id"))
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
        .select(lit(tier).as("tier"), col("n_truth"), col("n_hits"),
          stableRound(col("n_hits").cast("double") /
            col("n_truth").cast("double"), 6).as("recall"))
    }.reduce(_ unionByName _).orderBy("tier")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_dedup_embedding" -> dDedupEmbeddingKernel,
    "s_ann_eval" -> sAnnEval,
    "s_ann_brute" -> sAnnBrute,
    "s_ann_range" -> sAnnRange,
    "s_ann_sq8" -> sAnnSq8,
    "s_ann_lsh" -> sAnnLsh,
    "s_ann_ivf" -> sAnnIvf,
    "s_ann_pq" -> sAnnPq,
    "s_ann_ivfpq" -> sAnnIvfPq,
    "s_knn_graph" -> sKnnGraph,
    "d_decontaminate_emb" -> dDecontaminateEmb,
    "d_semdedup" -> dSemdedup,
  )

  def oracles: Map[String, String] = Map(
    "d_dedup_embedding" -> dDedupEmbeddingSql,
    "s_ann_brute" -> sAnnBruteSql,
    "s_ann_range" -> sAnnRangeSql,
    "s_ann_sq8" -> sAnnSq8Sql,
    "s_knn_graph" -> sKnnGraphSql,
    "d_decontaminate_emb" -> dDecontaminateEmbSql,
    "d_semdedup" -> dSemdedupSql,
  )
}
