package graft

import org.apache.spark.sql.functions._
import graft.operators.Classify

/** Learned quality classifier: solver correctness pinned by loss
  * descent, first-order optimality of the learned weights (checked
  * against a driver-side recompute of the regularized gradient), skill
  * over the weak labels, and bit-exact determinism — the guarantees a
  * rows-only gate entry can't articulate. */
class ClassifySpec extends SparkSpec {

  private lazy val feats = Classify.features(spark, sf).localCheckpoint(false)
  private lazy val nDocs = feats.select("doc_id").distinct().count()
  private lazy val model = Classify.train(spark, feats, nDocs)

  test("training loss is monotone nonincreasing and converges") {
    val l = model.losses
    assert(l.size == Classify.Epochs)
    assert(l.zip(l.tail).forall { case (a, b) => b <= a },
      s"loss rose: ${l.mkString(", ")}")
    assert(l.last < 0.25, s"did not converge: final loss ${l.last}")
  }

  test("learned weights satisfy first-order optimality (independent recompute)") {
    // Collect the (tiny at test scale) feature rows and recompute the
    // regularized gradient at the learned weights in plain Scala: at
    // a Newton optimum every coordinate is ~0. This checks the whole
    // distributed pipeline (margins, sigmoid, quantized reductions,
    // Hessian solve) against an implementation that shares none of it.
    val rows = feats.collect().map(r =>
      (r.getLong(0), r.getLong(1).toInt, r.getDouble(2), r.getInt(3)))
    val byDoc = rows.groupBy(_._1)
    val w = model.weights
    val g = Array.fill(Classify.Dim)(0.0)
    byDoc.values.foreach { fs =>
      val m = fs.sortBy(_._2).foldLeft(0.0)((a, f) => a + f._3 * w(f._2))
      val p = 1.0 / (1.0 + math.exp(-m))
      val y = fs.head._4
      fs.foreach(f => g(f._2) += (p - y) * f._3)
    }
    val bad = (0 until Classify.Dim).filter(b =>
      math.abs(g(b) / nDocs + Classify.Ridge * w(b)) > 1e-3)
    assert(bad.isEmpty,
      s"gradient not ~0 at buckets ${bad.mkString(",")}")
  }

  test("classifier beats the base rate by a wide margin") {
    val df = Classify.dClassify(spark, sf)
    val n = df.count()
    val acc = df.agg(avg(col("correct"))).head().getDouble(0)
    val ones = df.agg(sum(col("y"))).head().getLong(0)
    val base = math.max(ones.toDouble / n, 1.0 - ones.toDouble / n)
    assert(acc >= 0.85, s"accuracy $acc below bound")
    assert(acc > base + 0.05, s"accuracy $acc does not beat base rate $base")
  }

  test("IRLS reliability diagram is well-formed (the spec-side calibration pin)") {
    // d_classify_calib hash-gates the closed-form NB scorer (the SQL-
    // replayable family member); the IRLS model's own calibration is
    // pinned here instead: bin from the op's per-doc output and check
    // the diagram's structural invariants + a loose ECE sanity bound.
    val rows = Classify.dClassify(spark, sf)
      .select("p", "y").collect()
      .map(r => (r.getDouble(0), r.getInt(1)))
    val n = rows.length
    val bins = rows.groupBy { case (p, _) =>
      math.min((p * Classify.CalibBins).toInt, Classify.CalibBins - 1)
    }
    assert(bins.valuesIterator.map(_.length).sum == n, "bins partition the corpus")
    val ece = bins.valuesIterator.map { members =>
      val avgP = members.map(_._1).sum / members.length
      val frac = members.count(_._2 == 1).toDouble / members.length
      members.length.toDouble / n * math.abs(avgP - frac)
    }.sum
    bins.foreach { case (b, members) =>
      val avgP = members.map(_._1).sum / members.length
      assert(avgP >= b.toDouble / Classify.CalibBins - 1e-9 &&
        avgP < (b + 1).toDouble / Classify.CalibBins + 1e-9,
        s"bin $b mean $avgP outside its own bounds")
    }
    assert(ece < 0.25, s"IRLS scores badly uncalibrated: ECE $ece")
  }

  test("isotonic minimax fit equals the sequential PAV stack algorithm") {
    // d_classify_recal's fit is the minimax identity over the bin
    // grid; the classical reference is the sequential pool-adjacent-
    // violators stack. They must agree exactly (both are pooled
    // integer-over-integer means) on arbitrary weighted inputs.
    def pavStack(bins: Seq[(Long, Long, Long)]): Map[Long, Double] = {
      // blocks of (binIds, n_docs, n_pos); merge while out of order
      val stack = collection.mutable.Stack[(List[Long], Long, Long)]()
      bins.sortBy(_._1).foreach { case (b, nd, np) =>
        stack.push((List(b), nd, np))
        while (stack.size > 1 && {
          val top = stack(0); val below = stack(1)
          below._3.toDouble / below._2 >= top._3.toDouble / top._2
        }) {
          val top = stack.pop(); val below = stack.pop()
          stack.push((below._1 ++ top._1, below._2 + top._2, below._3 + top._3))
        }
      }
      stack.toList.flatMap { case (ids, nd, np) =>
        ids.map(_ -> np.toDouble / nd)
      }.toMap
    }
    val rnd = new scala.util.Random(42)
    (1 to 25).foreach { trial =>
      val nBins = 1 + rnd.nextInt(Classify.CalibBins)
      val bins = (0L until nBins.toLong).map { b =>
        val nd = 1L + rnd.nextInt(50)
        (b, nd, rnd.nextInt(nd.toInt + 1).toLong) // n_pos ≤ n_docs
      }
      val df = spark.createDataFrame(bins).toDF("bin", "n_docs", "n_pos")
      val got = Classify.isotonicFit(df).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val want = pavStack(bins)
      assert(got.keySet == want.keySet, s"trial $trial: bin set mismatch")
      got.foreach { case (b, v) =>
        assert(v == want(b),
          s"trial $trial bin $b: minimax $v != PAV ${want(b)} on $bins")
      }
      val ordered = bins.map(_._1).sorted.map(got)
      assert(ordered.zip(ordered.tail).forall { case (a, c) => a <= c },
        s"trial $trial: fit not monotone: $ordered")
    }
  }

  test("d_classify_recal emits a monotone recalibration over the NB diagram") {
    val rows = Classify.dClassifyRecal(spark, sf)
      .select("bin", "n_docs", "n_pos", "frac_pos", "iso_p").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq)
    val iso = rows.map(_._5)
    assert(iso.zip(iso.tail).forall { case (a, b) => a <= b },
      s"recalibrated probabilities not monotone: ${iso.mkString(",")}")
    assert(iso.forall(p => p >= 0.0 && p <= 1.0))
    // weighted means must agree: pooling preserves total mass
    val totPos = rows.map(_._3).sum.toDouble
    val isoMass = rows.map(r => r._5 * r._2).sum
    assert(math.abs(isoMass - totPos) < 1e-6 * totPos + 1e-6,
      "PAV must preserve the weighted mean (within presentation rounding)")
  }

  test("training is bit-exact deterministic across runs") {
    val again = Classify.train(spark,
      Classify.features(spark, sf).localCheckpoint(false), nDocs)
    assert(model.weights.sameElements(again.weights))
    assert(model.losses == again.losses)
  }
}
