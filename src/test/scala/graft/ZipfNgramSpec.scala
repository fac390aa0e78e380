package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** The d_dedup_ngram prefix filter on a skewed corpus: on a Zipfian
  * vocabulary (where a few hot shingles make the full inverted index's
  * Σ df² explode) the hash-order prefixes generate fewer candidates
  * than the full index while the verified pair set stays identical to
  * a driver-side all-pairs Jaccard. The driver's synthetic corpus has
  * a near-uniform tiny vocabulary; this fixture is the skewed one.
  */
class ZipfNgramSpec extends SparkSpec {

  test("d_dedup_eval counts reconcile with driver-side set arithmetic") {
    // The audit's TP/FP/FN must equal plain set operations over its
    // two inputs, recomputed independently here (collect + Scala sets
    // vs the op's join + aggregations).
    val ev = Dedup.dDedupEval(spark, sf).head()
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = pairs(Dedup.minhashCandidates(spark, sf))
    val truth = pairs(Dedup.dDedupNgram(spark, sf))
    assert(ev.getLong(0) == cand.size && ev.getLong(1) == truth.size)
    assert(ev.getLong(2) == (cand & truth).size, "tp = |cand ∩ truth|")
    assert(ev.getLong(3) == (cand -- truth).size, "fp = |cand \\ truth|")
    assert(ev.getLong(4) == (truth -- cand).size, "fn = |truth \\ cand|")
    // every VERIFIED minhash pair is a true pair by construction —
    // so the audit's tp bounds the production dedup's output
    val verified = pairs(Dedup.dDedupMinhash(spark, sf))
    assert(verified.subsetOf(truth) && verified.size <= ev.getLong(2))
  }

  test("hash-order prefixes cut candidate volume on a Zipfian corpus, result-identical") {
    val rnd = new scala.util.Random(20260813L)
    val nBase = 600
    val nDups = nBase / 4
    val vocab = 3000
    val zexp = 1.07
    val cum = Array.tabulate(vocab)(r => 1.0 / math.pow(r + 1.0, zexp))
      .scanLeft(0.0)(_ + _).tail
    def draw(): String = {
      val x = rnd.nextDouble() * cum.last
      var lo = 0
      var hi = vocab - 1
      while (lo < hi) {
        val mid = (lo + hi) / 2
        if (cum(mid) < x) lo = mid + 1 else hi = mid
      }
      s"w$lo"
    }
    val base = (0 until nBase).map { i =>
      (i.toLong, Seq.fill(40 + rnd.nextInt(61))(draw()).mkString(" "))
    }
    // near-dups: ~8% of words resampled — most stay over the τ=0.3
    // shingle-Jaccard bar, so the verified pair set is non-trivial
    val dups = (0 until nDups).map { j =>
      val src = base(rnd.nextInt(base.size))._2.split(" ")
      ((nBase + j).toLong,
        src.map(w => if (rnd.nextDouble() < 0.08) draw() else w).mkString(" "))
    }
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_zipf_").toString
    (base ++ dups).toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("zipf"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val sets = Dedup.ngramSets(spark, dir)
    val pairs = Dedup.dDedupNgram(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def candidates(postings: org.apache.spark.sql.DataFrame): Long =
      postings.as("a").join(postings.as("b"), "h")
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id"))
        .dropDuplicates().count()
    val hashCand = candidates(Dedup.hashPrefix(sets))
    val fullCand = candidates(sets.select(col("doc_id"), explode(col("hs")).as("h")))
    // independent truth: all-pairs exact Jaccard over the collected
    // sets (inter·10 ≥ union·3, the operator's integer threshold)
    val bySet = sets.collect().map(r => r.getLong(0) -> r.getSeq[Any](1).toSet)
    val truth = (for {
      (i, a) <- bySet.iterator
      (j, b) <- bySet.iterator if i < j
      inter = (a & b).size if inter > 0 && inter * 10 >= (a.size + b.size - inter) * 3
    } yield (i, j)).toSet

    assert(pairs == truth,
      s"prefix-filtered pairs diverge from all-pairs Jaccard: extra=${pairs -- truth} " +
        s"missing=${truth -- pairs}")
    assert(pairs.nonEmpty, "fixture produced no near-dup pairs — nothing was exercised")
    assert(hashCand < fullCand,
      s"hash-order prefix candidates ($hashCand) not below the full index ($fullCand)")
    info(f"zipf(vocab=$vocab, s=$zexp) ${nBase + nDups} docs: candidates hash=$hashCand " +
      f"full=$fullCand (${hashCand.toDouble / fullCand}%.3f×), verified pairs=${pairs.size}")
  }
}
