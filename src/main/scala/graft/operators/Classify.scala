package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Parity.stableRound

/** Learned quality classification over the documents corpus — the
  * fasttext-style linear filter step of production LLM data pipelines
  * (GPT-3's WebText-vs-CommonCrawl classifier, CCNet, RefinedWeb):
  * label cheaply from a heuristic or trusted source, train a linear
  * model over hashed bag-of-words features, score the whole corpus
  * with one narrow pass.
  *
  * The pipeline here is complete and self-contained: weak labels come
  * from [[TextAnalysis.qualityMetrics]] (quality ≥ [[Tau]]), features
  * are length-normalized hashed term frequencies (feature HASHING, not
  * a vocabulary build — the property that makes the method
  * corpus-size-independent), and training is distributed Newton /
  * IRLS — logistic regression's natural solver, [[Epochs]] second-
  * order steps with a backtracking line search.
  *
  * Distribution shape at 100 TB: the model is [[Dim]] doubles —
  * driver-resident (the bounded-collect class of the IVF centroid and
  * BPE argmax pulls) and BROADCAST into every iteration; each
  * iteration is one broadcast join (weights onto features), one
  * doc-keyed aggregation (margins), one bucket-keyed gradient
  * reduction ([[Dim]] rows) and one pair-keyed Hessian reduction
  * ([[Dim]]² rows via the per-doc nnz×nnz feature self-join — one
  * shuffle), then a D×D driver solve. Feature rows are computed once
  * and localCheckpointed; scoring stays a single narrow pass.
  *
  * Determinism without sacrificing distribution: float sums over
  * shuffled rows commute only approximately, so (a) per-doc margins
  * fold their (bucket, x·w) terms SORTED by bucket (the
  * [[TextAnalysis.tEntropy]] parity discipline — here for run-to-run
  * stability rather than cross-engine parity), and (b) gradient /
  * loss reductions quantize each row's contribution to fixed-point
  * longs (⌊v·1e9+½⌋) and sum EXACTLY — integer addition commutes, so
  * the learned weights are bit-identical however Spark partitions the
  * corpus. The gate records rows-only (an iteratively-learned
  * artifact has no SQL oracle); ClassifySpec pins loss descent,
  * accuracy against the weak labels, agreement with a driver-side
  * reference trainer, and bit-exact determinism.
  */
object Classify {

  /** Hashed feature buckets (xxhash64 mod Dim). Production uses 2^18+;
    * the synthetic corpus's tiny vocabulary saturates far earlier. */
  val Dim = 64

  /** Newton (IRLS) iterations — logistic regression's natural solver;
    * converges in a handful of steps where first-order GD needs
    * thousands here (measured: the separating signal spans a few
    * hundredths of the feature simplex, so useful margins need
    * weights in the tens — GD at a stable step crawls at ~7e-4
    * loss/epoch, and an aggressive step oscillates 1.5 ↔ 13.4).
    * Measured loss trace plateaus by iteration 6 (0.1311 vs the
    * 8-iteration 0.1310) while each iteration costs ~5 small jobs —
    * the top bench line before the cut. */
  val Epochs = 6

  /** Ridge regularizer — REQUIRED, not a tuning nicety: Σ_b x_b = 1
    * per doc makes the feature matrix collinear (the all-ones
    * direction), so the unregularized Hessian is singular. Also what
    * bounds the weights on near-separable data. */
  val Ridge = 1e-6

  /** Max Newton-step halvings per epoch if the measured loss rises. */
  val Backtracks = 6

  /** Weak-label threshold on the t_quality heuristic score. */
  val Tau = 0.70

  /** Fixed-point scale for exact (order-free) float reductions. */
  private val Q = 1e9

  /** Learned model + per-iteration loss trace (the ridge-regularized
    * mean log-loss — the trained objective; see [[lossOf]]). `steps`
    * records each epoch's accepted line-search step (0.0 = rejected,
    * model unmoved). No intercept:
    * Σ_b x_b = 1 per doc puts the all-ones direction in the feature
    * span, so a bias would be exactly collinear (see [[Ridge]]). */
  final case class Model(weights: Array[Double], losses: Seq[Double],
      steps: Seq[Double])

  /** Feature rows (doc_id, bucket, x, y): length-normalized hashed
    * term frequency x = c_bucket / n_words, label y ∈ {0,1}. */
  def features(spark: SparkSession, dir: String): DataFrame = {
    val labels = TextAnalysis.qualityMetrics(spark, dir)
      .select(col("doc_id"), col("n_words"),
        (col("quality") >= Tau).cast("int").as("y"))
    TextAnalysis.docsSpread(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .select(col("doc_id"), pmod(xxhash64(col("word")), lit(Dim)).as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("c"))
      .join(labels, "doc_id")
      .select(col("doc_id"), col("bucket"),
        (col("c") / col("n_words")).as("x"), col("y"))
  }

  /** Scored frame (doc_id, y, p) for a given model: sorted-fold
    * margins (bit-stable under any partitioning) through the sigmoid. */
  private def scoreWith(spark: SparkSession, feats: DataFrame,
      w: Array[Double]): DataFrame = {
    import spark.implicits._
    val wDf = broadcast(w.toSeq.zipWithIndex
      .map { case (v, b) => (b.toLong, v) }.toDF("bucket", "w"))
    feats.join(wDf, "bucket")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("bucket").as("b"),
          (col("x") * col("w")).as("t")))).as("ts"),
        first(col("y")).as("y"))
      .select(col("doc_id"), col("y"),
        (lit(1.0) / (lit(1.0) + exp(-graft.functions.expr.FoldExpressions
          .sumArrayField(col("ts"), "t")))).as("p"))
  }

  /** Ridge-regularized mean log-loss of a scored frame (data term via
    * the exact fixed-point sum, plus 0.5·Ridge·‖w‖²) — the SAME
    * objective the Newton gradient/Hessian system optimizes, so the
    * backtracking accept/reject decision and the reported loss trace
    * are monotone on the objective actually being descended (at
    * Ridge = 1e-6 the penalty is tiny, but an accept rule on a
    * different objective is a latent invariant hole). */
  private def lossOf(spark: SparkSession, scored: DataFrame, nDocs: Long,
      w: Array[Double]): Double = {
    import spark.implicits._
    val q = scored.select(
        floor(-(col("y") * log(greatest(col("p"), lit(1e-12))) +
          (lit(1.0) - col("y")) *
            log(greatest(lit(1.0) - col("p"), lit(1e-12)))) * Q + 0.5)
          .cast("long").as("lq"))
      .agg(sum(col("lq"))).as[Long].head()
    q / Q / nDocs + 0.5 * Ridge * w.map(v => v * v).sum
  }

  /** Solve H·x = b by Gaussian elimination with partial pivoting —
    * deterministic, driver-side, D×D (the model is bounded). */
  private def solve(h: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = b.length
    val a = Array.tabulate(n)(i => h(i).clone() :+ b(i))
    for (c <- 0 until n) {
      val piv = (c until n).maxBy(r => math.abs(a(r)(c)))
      val t = a(c); a(c) = a(piv); a(piv) = t
      for (r <- c + 1 until n) {
        val f = a(r)(c) / a(c)(c)
        for (k <- c to n) a(r)(k) -= f * a(c)(k)
      }
    }
    val x = new Array[Double](n)
    for (r <- n - 1 to 0 by -1) {
      var s = a(r)(n)
      for (k <- r + 1 until n) s -= a(r)(k) * x(k)
      x(r) = s / a(r)(r)
    }
    x
  }

  /** Train the logistic model by distributed Newton / IRLS. `feats`
    * must carry (doc_id, bucket, x, y) and be cheap to rescan (the
    * caller checkpoints). Each iteration: one scored pass, then the
    * exact fixed-point reductions of the gradient (Dim keys) and the
    * Hessian (Dim² keys — the per-doc nnz×nnz feature pair explode,
    * one shuffle), a driver-side D×D solve, and a backtracking halve
    * of the Newton step if the measured loss rises — accepted loss is
    * monotone nonincreasing by construction. */
  def train(spark: SparkSession, feats: DataFrame, nDocs: Long): Model = {
    import spark.implicits._
    var w = Array.fill(Dim)(0.0)
    // the scored frame is carried ACROSS epochs: the accepted line-
    // search candidate's scoring pass becomes the next epoch's
    // gradient input (recomputing it was one redundant corpus job
    // per epoch on the top bench line)
    var scored = scoreWith(spark, feats, w).localCheckpoint(false)
    var loss = lossOf(spark, scored, nDocs, w)
    val losses = Seq.newBuilder[Double]
    val steps = Seq.newBuilder[Double]
    val fa = feats.select(col("doc_id"), col("bucket").as("ba"), col("x").as("xa"),
      col("y"))
    val fb = feats.select(col("doc_id"), col("bucket").as("bb"), col("x").as("xb"))
    // The nnz² feature-pair frame is EPOCH-INVARIANT (only the scored
    // frame changes) and its diagonal (ba = bb) carries each (doc,
    // bucket, x) row exactly once, so the gradient rides the same pass
    // as the Hessian — one keyed aggregation and ONE driver collect
    // per epoch instead of two joins + two collects.
    //
    // Deliberately NOT checkpointed: the frame is REBUILT from the
    // checkpointed feats every epoch. Persisting it was measured 1.4×
    // SLOWER end-to-end (d_classify 5.8 → 8.6 s at sf0.1): the nnz²
    // explode is ~30× wider than its input (4.8M rows, ~230 MB in
    // storage blocks), and scanning those persisted blocks each epoch
    // costs more than re-running the cheap 150k-row self-join the
    // blocks replace — recompute-vs-cache favors recompute exactly as
    // §5 of the optimization guide warns.
    val pairs = fa.join(fb, "doc_id")
      .select(col("doc_id"), col("ba"), col("bb"), col("xa"), col("xb"),
        col("y"))
    for (_ <- 1 to Epochs) {
      // one combined (gradient ⊕ Hessian) pass — gq is summed over the
      // diagonal rows only, where xa IS the (doc, bucket) row's x, so
      // the term is the gradient's floor((p − y)·x·Q + ½) bit for bit
      val combined: Map[(Long, Long), (Long, Long)] = pairs
        .join(scored.select(col("doc_id"), col("p")), "doc_id")
        .select(col("ba"), col("bb"),
          floor((col("p") * (lit(1.0) - col("p"))) * col("xa") * col("xb") * Q + 0.5)
            .cast("long").as("hq"),
          when(col("ba") === col("bb"),
            floor((col("p") - col("y")) * col("xa") * Q + 0.5).cast("long"))
            .as("gq"))
        .groupBy("ba", "bb")
        .agg(sum(col("hq")).as("h"), sum(col("gq")).as("g"))
        .as[(Long, Long, Long, Option[Long])].collect()
        .map { case (i, j, h, gq) => (i, j) -> (h, gq.getOrElse(0L)) }.toMap
      val g = Array.tabulate(Dim)(b =>
        combined.get((b.toLong, b.toLong)).fold(0L)(_._2) / Q / nDocs +
          Ridge * w(b))
      val h = Array.tabulate(Dim, Dim)((i, j) =>
        combined.get((i.toLong, j.toLong)).fold(0L)(_._1) / Q / nDocs +
          (if (i == j) Ridge else 0.0))
      val delta = solve(h, g)
      // backtracking: halve the Newton step until the loss stops
      // rising; if no halving helps, REJECT the step and keep the
      // current point — the monotone-loss invariant holds "by
      // construction" only because a worse candidate is never
      // accepted (an ill-conditioned step near the plateau must not
      // move the model to a worse point)
      var step = 1.0
      var done = false
      var tries = 0
      while (!done) {
        val wc = Array.tabulate(Dim)(b => w(b) - step * delta(b))
        val sc = scoreWith(spark, feats, wc).localCheckpoint(false)
        val lc = lossOf(spark, sc, nDocs, wc)
        if (lc <= loss) {
          w = wc; loss = lc; scored = sc; done = true
          steps += step
        } else if (tries == Backtracks) {
          done = true // keep w/loss/scored unchanged
          steps += 0.0
        } else { step /= 2; tries += 1 }
      }
      losses += loss
    }
    Model(w, losses.result(), steps.result())
  }

  /** d_classify — train on the weak labels, score every document:
    * (doc_id, p, pred, y, correct). One narrow scoring pass with the
    * final weights; rows-only at the gate. */
  def dClassify(spark: SparkSession, dir: String): DataFrame = {
    val feats = features(spark, dir).localCheckpoint(false)
    val nDocs = feats.select("doc_id").distinct().count()
    val m = train(spark, feats, nDocs)
    scoreWith(spark, feats, m.weights)
      .select(col("doc_id"), stableRound(col("p"), 6).as("p"),
        (col("p") >= 0.5).cast("int").as("pred"), col("y"))
      .withColumn("correct", (col("pred") === col("y")).cast("int"))
      .orderBy("doc_id")
  }

  /** Probability bins for the reliability diagram. */
  val CalibBins = 10

  /** Sub-group fan-out of the per-decile probability mean: each bin's
    * p values split into this many deterministic sub-groups
    * (doc_id mod CalibSubs), folded independently, combined in sub
    * order — the [[Embeddings]] e_centroid hierarchical-fold
    * discipline, so no row ever holds a decile's document list. */
  val CalibSubs = 32

  /** The hierarchical pinned fold's streaming stage for the
    * reliability diagram: (bin, y, p, doc_id) rows hash-shuffle once
    * on (bin, sub = doc_id mod [[CalibSubs]]), sort within partitions
    * by p, and each contiguous (bin, sub) group streams to
    * (n, n_pos, Σp) — no row ever materializes a decile's value list;
    * only the ≤ CalibBins×CalibSubs partial rows do. Value-order ties
    * are harmless (equal addends), and the DuckDB oracle mirrors the
    * exact two-level structure. The fold itself is the SHARED
    * [[Embeddings.streamSubFold2]] streaming stage — one
    * implementation for every hierarchical pinned fold. */
  private def calibSubFold(spark: SparkSession, binned: DataFrame): DataFrame =
    Embeddings.streamSubFold2(spark,
      binned.select(col("bin").cast("int").as("bin"),
        lit(0).as("zero"),
        pmod(col("doc_id"), lit(CalibSubs.toLong)).cast("int").as("sub"),
        col("y").cast("long").as("w"), col("p").as("v")),
      "bin", "zero")
      .select(col("bin"), col("sub"), col("n"), col("wsum").as("npos"), col("s"))

  /** The closed-form Naive-Bayes member of the hashed-feature scorer
    * family, scored over the corpus and assigned to its probability
    * decile — the shared front half of [[dClassifyCalib]] and
    * [[dClassifyRecal]]. Returns (bin, y, p, doc_id) per document. */
  private def nbBinned(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val labels = TextAnalysis.qualityMetrics(spark, dir)
      .select(col("doc_id"), (col("quality") >= Tau).cast("int").as("y"))
    val counts = TextAnalysis.docsSpread(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .select(col("doc_id"),
        pmod(graft.functions.TextFunctions.md5_32(col("word")), lit(Dim))
          .as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("c"))
      .join(labels, "doc_id")
      .localCheckpoint(false) // feeds train (2 aggs) AND score (1 join)
    // class priors (docs) and token totals — 2 bounded rows each
    val byClass = labels.groupBy("y").agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect().toMap
    val tokByClass = counts.groupBy("y").agg(sum(col("c")).as("n"))
      .as[(Int, Long)].collect().toMap
    val (d1, d0) = (byClass.getOrElse(1, 0L), byClass.getOrElse(0, 0L))
    val (n1, n0) = (tokByClass.getOrElse(1, 0L), tokByClass.getOrElse(0, 0L))
    require(d1 > 0 && d0 > 0, "calibration needs both classes present")
    val prior = math.log(d1.toDouble / d0)
    // per-bucket evidence weight: smoothed log-likelihood ratio
    val bw = counts.groupBy("bucket").agg(
        sum(when(col("y") === 1, col("c")).otherwise(0L)).as("c1"),
        sum(when(col("y") === 0, col("c")).otherwise(0L)).as("c0"))
      .select(col("bucket"),
        (log((col("c1") + lit(1L)) / lit((n1 + Dim).toDouble)) -
          log((col("c0") + lit(1L)) / lit((n0 + Dim).toDouble))).as("wb"))
    counts.join(bw, "bucket")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("bucket").as("b"),
          (col("c") * col("wb")).as("t")))).as("ts"),
        first(col("y")).as("y"))
      .select(col("y"),
        (lit(1.0) / (lit(1.0) + exp(-(lit(prior) + graft.functions.expr
          .FoldExpressions.sumArrayField(col("ts"), "t"))))).as("p"),
        col("doc_id"))
      .select(least(floor(col("p") * CalibBins), lit(CalibBins - 1))
          .cast("long").as("bin"),
        col("y"), col("p"), col("doc_id"))
  }

  /** d_classify_calib — reliability diagram (calibration curve) for
    * the learned-curation scorer family: per probability decile,
    * document count, positive count, mean predicted probability and
    * empirical positive rate — the standard diagnosis of whether a
    * quality filter's scores can be thresholded as probabilities
    * (ECE/reliability analysis; Guo et al. 2017).
    *
    * The scorer under the hash gate is the CLOSED-FORM member of the
    * family: multinomial Naive Bayes over the same md5-hashed feature
    * buckets, Laplace-smoothed, trained by two count aggregations —
    * one corpus pass, fully SQL-replayable, so the DuckDB oracle
    * reproduces train + score + bin bit-for-bit (the IRLS model's
    * 64×64 Newton solve has no SQL replay, which is why d_classify is
    * rows-only; its own reliability diagram is pinned in ClassifySpec
    * by a driver-side recompute instead). Float parity: smoothed
    * ratios are exact integer-over-integer doubles, ln rides the
    * [[TextAnalysis.tLogprob]] cross-engine discipline, per-doc
    * evidence folds sorted by bucket, per-bin probability means ride
    * the [[calibSubFold]] hierarchical pinned fold (per-sub p-sorted
    * streams, sub-ordered combine — mirrored exactly in the oracle),
    * presentation rounding only.
    *
    * Scale shape: training is two keyed aggregations (Dim×2 and 2
    * rows out), scoring is one broadcast join + doc-keyed fold, the
    * diagram streams through [[calibSubFold]] into a
    * [[CalibBins]]-key combine of ≤ [[CalibSubs]] partials per bin —
    * one corpus scan end-to-end, nothing corpus-sized ever collects
    * and no row ever holds a decile's document list. */
  def dClassifyCalib(spark: SparkSession, dir: String): DataFrame =
    calibSubFold(spark, nbBinned(spark, dir))
      .groupBy("bin")
      .agg(sum(col("n")).cast("long").as("n_docs"),
        sum(col("npos")).cast("long").as("n_pos"),
        sort_array(collect_list(struct(col("sub"), col("s")))).as("ss"))
      .select(col("bin").cast("long").as("bin"), col("n_docs"), col("n_pos"),
        stableRound(graft.functions.expr.FoldExpressions
          .sumArrayField(col("ss"), "s") / col("n_docs"), 6).as("avg_p"),
        stableRound(col("n_pos") / col("n_docs").cast("double"), 6)
          .as("frac_pos"))
      .orderBy("bin")

  /** Isotonic (monotone nondecreasing) fit over a weighted bin frame
    * — Pool-Adjacent-Violators expressed through its MINIMAX identity
    * (Robertson/Wright/Dykstra, "Order Restricted Statistical
    * Inference" §1.2):
    *
    *   iso(i) = max,,j≤i,, min,,k≥i,, pooledMean(j..k)
    *
    * with pooledMean(j..k) = Σ n_pos / Σ n_docs over the bin run.
    * The identity turns the sequential pooling algorithm into three
    * tiny joins over the bin grid ([[CalibBins]]² pairs — every join
    * here is bounded by the bin count, never the corpus), which is
    * what makes it SQL-replayable for the hash gate: pooled means are
    * exact integer-over-integer doubles and min/max are order-free,
    * so BOTH engines compute bit-identical values with no float-
    * parity machinery at all. Input: (bin, n_docs, n_pos); output:
    * (bin, iso_p). */
  private[graft] def isotonicFit(bins: DataFrame): DataFrame = {
    val b = bins.select(col("bin"), col("n_docs"), col("n_pos"))
    // the grid sides are CalibBins-row frames, but they descend from
    // corpus-scale aggregations whose size ESTIMATES block the
    // auto-broadcast — without the explicit hints Spark plans a
    // CartesianProduct (plan-asserted in PlanQualitySpec)
    val pooled = b.select(col("bin").as("j"))
      .join(broadcast(b.select(col("bin").as("k"))), col("j") <= col("k"))
      .join(broadcast(b), col("bin").between(col("j"), col("k")))
      .groupBy("j", "k")
      .agg((sum(col("n_pos")) / sum(col("n_docs")).cast("double")).as("m"))
    b.select(col("bin").as("i"))
      .join(broadcast(pooled), col("j") <= col("i") && col("k") >= col("i"))
      .groupBy("i", "j").agg(min(col("m")).as("mm"))
      .groupBy("i").agg(max(col("mm")).as("iso_p"))
      .select(col("i").as("bin"), col("iso_p"))
  }

  /** d_classify_recal — isotonic RECALIBRATION of the scorer: the
    * reliability diagram says how miscalibrated the probabilities
    * are; this is the standard fix (isotonic regression / PAV —
    * Zadrozny & Elkan 2002), fitting the best monotone map from
    * predicted probability to empirical positive rate over the
    * [[CalibBins]] deciles. Emits the diagram with its recalibrated
    * probability column: a downstream curation threshold reads iso_p
    * instead of the raw score and thresholds AS a probability.
    *
    * Same hash-gate discipline as [[dClassifyCalib]] (the closed-form
    * NB scorer is fully SQL-replayable); the fit itself is exact in
    * both engines via the minimax identity — see [[isotonicFit]].
    * Monotonicity, the PAV pooling structure, and equality with the
    * sequential stack algorithm are spec-pinned on random weighted
    * fixtures (ClassifySpec).
    *
    * Scale shape: everything after the corpus scan operates on
    * [[CalibBins]] rows; the fit's grid joins are bin-bounded. At
    * 100 TB the diagram aggregation is the same single pass as
    * d_classify_calib — recalibration adds zero corpus-sized work. */
  def dClassifyRecal(spark: SparkSession, dir: String): DataFrame = {
    val bins = nbBinned(spark, dir)
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("y")).cast("long").as("n_pos"))
    bins.join(isotonicFit(bins), "bin")
      .select(col("bin"), col("n_docs"), col("n_pos"),
        stableRound(col("n_pos") / col("n_docs").cast("double"), 6)
          .as("frac_pos"),
        stableRound(col("iso_p"), 6).as("iso_p"))
      .orderBy("bin")
  }

  /** The shared WITH-chain replaying the NB scorer (train + score) —
    * the common front half of the calib and recal oracles. Ends at
    * `scored(doc_id, y, p)`. */
  private val nbScoredCtes: String = {
    import graft.functions.TextFunctions.normSql
    s"""WITH q AS (SELECT doc_id, quality FROM (${TextAnalysis.tQualitySql}) x),
       |lbl AS (SELECT doc_id, (quality >= $Tau)::INT AS y FROM q),
       |cnt AS (
       |  SELECT doc_id, ('0x' || substr(md5(word), 1, 8))::BIGINT % $Dim AS bucket,
       |    count(*) AS c
       |  FROM (SELECT doc_id, unnest(string_split($normSql, ' ')) AS word
       |        FROM documents) u
       |  WHERE length(word) > 0
       |  GROUP BY 1, 2),
       |f AS (SELECT cnt.*, lbl.y FROM cnt JOIN lbl USING (doc_id)),
       |cls AS (SELECT
       |    sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)::BIGINT AS d1,
       |    sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)::BIGINT AS d0
       |  FROM lbl),
       |tok AS (SELECT
       |    sum(CASE WHEN y = 1 THEN c ELSE 0 END)::BIGINT AS n1,
       |    sum(CASE WHEN y = 0 THEN c ELSE 0 END)::BIGINT AS n0
       |  FROM f),
       |bw AS (
       |  SELECT bucket,
       |    ln((sum(CASE WHEN y = 1 THEN c ELSE 0 END) + 1) / (tok.n1 + $Dim)::DOUBLE) -
       |    ln((sum(CASE WHEN y = 0 THEN c ELSE 0 END) + 1) / (tok.n0 + $Dim)::DOUBLE) AS wb
       |  FROM f CROSS JOIN tok
       |  GROUP BY bucket, tok.n1, tok.n0),
       |scored AS (
       |  SELECT f.doc_id, first(f.y) AS y,
       |    1.0 / (1.0 + exp(-(ln(cls.d1 / cls.d0::DOUBLE) +
       |      list_reduce(list_prepend(0.0, list(f.c * bw.wb ORDER BY f.bucket)),
       |        (a, b) -> a + b)))) AS p
       |  FROM f JOIN bw USING (bucket) CROSS JOIN cls
       |  GROUP BY f.doc_id, cls.d1, cls.d0)""".stripMargin
  }

  /** Mirrors [[calibSubFold]]'s two-level structure exactly: per-sub
    * p-sorted list_reduce, then a sub-ordered combine — every double
    * bit-identical to the Spark stream fold. */
  val dClassifyCalibSql: String =
    s"""$nbScoredCtes,
       |binned AS (
       |  SELECT least(floor(p * $CalibBins), ${CalibBins - 1})::BIGINT AS bin,
       |    doc_id % $CalibSubs AS sub, y, p
       |  FROM scored),
       |subs AS (
       |  SELECT bin, sub, count(*)::BIGINT AS n, sum(y)::BIGINT AS npos,
       |    list_reduce(list_prepend(0.0, list(p ORDER BY p)), (a, b) -> a + b) AS s
       |  FROM binned GROUP BY 1, 2)
       |SELECT bin,
       |  sum(n)::BIGINT AS n_docs,
       |  sum(npos)::BIGINT AS n_pos,
       |  floor((list_reduce(list_prepend(0.0, list(s ORDER BY sub)),
       |    (a, b) -> a + b) / sum(n)) * 1e6 + 0.5) / 1e6 AS avg_p,
       |  floor((sum(npos) / sum(n)::DOUBLE) * 1e6 + 0.5) / 1e6 AS frac_pos
       |FROM subs
       |GROUP BY bin
       |ORDER BY bin""".stripMargin

  /** The recal oracle: the shared scorer replay, binned, then the
    * minimax isotonic fit as three grid joins. `b` is MATERIALIZED —
    * DuckDB inlines multiply-referenced CTEs, and `b` is referenced
    * four times on top of a corpus-scan chain. */
  val dClassifyRecalSql: String =
    s"""$nbScoredCtes,
       |b AS MATERIALIZED (
       |  SELECT least(floor(p * $CalibBins), ${CalibBins - 1})::BIGINT AS bin,
       |    count(*)::BIGINT AS n_docs, sum(y)::BIGINT AS n_pos
       |  FROM scored GROUP BY 1),
       |pooled AS MATERIALIZED (
       |  SELECT j.bin AS j, k.bin AS k,
       |    sum(l.n_pos) / sum(l.n_docs)::DOUBLE AS m
       |  FROM b j JOIN b k ON j.bin <= k.bin
       |    JOIN b l ON l.bin BETWEEN j.bin AND k.bin
       |  GROUP BY j.bin, k.bin),
       |iso AS (
       |  SELECT i, max(mm) AS iso_p FROM (
       |    SELECT i.bin AS i, p.j, min(p.m) AS mm
       |    FROM b i JOIN pooled p ON p.j <= i.bin AND p.k >= i.bin
       |    GROUP BY i.bin, p.j) g
       |  GROUP BY i)
       |SELECT b.bin, b.n_docs, b.n_pos,
       |  floor((b.n_pos / b.n_docs::DOUBLE) * 1e6 + 0.5) / 1e6 AS frac_pos,
       |  floor(iso.iso_p * 1e6 + 0.5) / 1e6 AS iso_p
       |FROM b JOIN iso ON iso.i = b.bin
       |ORDER BY b.bin""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d_classify" -> dClassify,
    "d_classify_calib" -> dClassifyCalib,
    "d_classify_recal" -> dClassifyRecal,
  )

  /** d_classify has no SQL oracle: the scores come from iteratively-
    * learned weights (each epoch's gradient feeds the next). Rows-only
    * at the gate; ClassifySpec carries correctness. The calibration
    * row's closed-form scorer IS SQL-replayable and hash-gates. */
  def oracles: Map[String, String] = Map(
    "d_classify_calib" -> dClassifyCalibSql,
    "d_classify_recal" -> dClassifyRecalSql,
  )
}
