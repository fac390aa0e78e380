package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Parity.{stableRound, stableRoundSql}
import graft.functions.TextFunctions._

/** Text-analysis operators over the `documents` table: token
  * counting, quality scoring, language ID, fingerprinting. All are
  * single-pass narrow transformations (no shuffle at all until the
  * final presentation orderBy), so they scale embarrassingly — each
  * 128 MB parquet split is processed independently.
  */
object TextAnalysis {

  /** Documents spread across the core count so the regex-heavy
    * per-row pipelines never run in one task — see [[Tables.spread]]
    * for the conditional no-shuffle-at-scale semantics. */
  private[operators] def docsSpread(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables(spark, dir).documents)

  /** Whitespace + word token counting. The "BPE-ish" count applies the
    * classic subword heuristic (≈ chars/4 for alphanumeric runs)
    * without an external vocab: total normalized chars divided by 4,
    * plus one per word remainder — deterministic integer arithmetic
    * only. */
  def tTokenCount(spark: SparkSession, dir: String): DataFrame = {
    val d = docsSpread(spark, dir)
    val norm = normText(col("text"))
    val w = split(norm, " ")
    d.select(
      col("doc_id"),
      tokenCountWs(col("text")).cast("long").as("ws_tokens"),
      size(w).cast("long").as("word_tokens"),
      aggregate(w, lit(0L), (acc, x) => acc + floor((length(x) + lit(3)) / lit(4)))
        .as("bpeish_tokens"),
      regexp_count(lower(col("text")), lit("[a-z0-9]+|[^a-z0-9 ]+")).cast("long")
        .as("regex_tokens"))
      .orderBy("doc_id")
  }

  val tTokenCountSql: String =
    s"""SELECT doc_id,
       |  len(regexp_split_to_array(trim(text), '\\s+')) AS ws_tokens,
       |  len(w) AS word_tokens,
       |  list_sum(list_transform(w, x -> (length(x) + 3) // 4))::BIGINT AS bpeish_tokens,
       |  len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 ]+'))::BIGINT AS regex_tokens
       |FROM (SELECT doc_id, text, string_split($normSql, ' ') AS w FROM documents) t
       |ORDER BY doc_id""".stripMargin

  /** Quality scoring: doc length, alpha ratio, stopword ratio, mean
    * word length, and a blended 0–1 score. All ratios are exact
    * integer-over-integer divisions rounded to 4 places. */
  def tQuality(spark: SparkSession, dir: String): DataFrame =
    qualityMetrics(spark, dir).orderBy("doc_id")

  /** Unordered quality metrics — the composable form ([[Curation]]
    * filters on `quality` without paying a presentation sort). */
  def qualityMetrics(spark: SparkSession, dir: String): DataFrame =
    qualityMetricsOf(docsSpread(spark, dir))

  /** The metric map over any (doc_id, text) frame — shared with the
    * streaming admission gate ([[graft.streaming.DocStream]]), so the
    * batch and door quality verdicts cannot diverge. */
  def qualityMetricsOf(d: DataFrame): DataFrame =
    d.select(col("doc_id") +: qualityCols: _*)

  /** The ONE construction of every quality metric expression — the
    * named columns in output order, with the blended score LAST.
    * [[qualityCols]] and [[qualityScoreCol]] are both views of this
    * seq, so the score callers filter on can never drift from the
    * score qualityCols emits (the ADVICE-flagged hazard of a
    * positional `.last`). */
  private def qualityColsBuilt: Seq[Column] = {
    val norm = normText(col("text"))
    val w = split(norm, " ")
    val nWords = size(w).cast("long")
    val nChars = length(col("text")).cast("long")
    val nAlpha = length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long")
    val stopHits = Seq(" the ", " a ", " and ", " of ", " to ", " is ")
      .map(m => markerCount(padded(col("text")), m)).reduce(_ + _)
    val alphaRatio = stableRound(nAlpha / nChars.cast("double"), 4)
    val stopRatio = stableRound(stopHits / nWords.cast("double"), 4)
    val meanWordLen = stableRound(length(norm).cast("double") / nWords, 4)
    val score = stableRound(
      least(alphaRatio, lit(1.0)) * 0.4 +
        least(stopRatio * 4, lit(1.0)) * 0.3 +
        when(meanWordLen.between(3.0, 10.0), 0.3).otherwise(0.0), 4)
    Seq(nChars.as("n_chars"), nWords.as("n_words"),
      alphaRatio.as("alpha_ratio"), stopRatio.as("stop_ratio"),
      meanWordLen.as("mean_word_len"), score.as("quality"))
  }

  /** The quality metric COLUMNS over a `text` attribute — the ONE copy
    * of the scoring expressions, exposed so the curation composites
    * ([[Curation.dAudit]]'s one-pass rule frame) can evaluate them in
    * the same projection as the other per-doc rules instead of paying
    * a separate corpus scan per rule. */
  private[operators] def qualityCols: Seq[Column] = qualityColsBuilt

  /** Just the blended `quality` score column — the SAME constructed
    * object qualityCols emits last, asserted by position AND intent:
    * [[qualityColsBuilt]] defines the score as its final element, so
    * this accessor and qualityCols cannot diverge (they read one
    * construction), and the assertion here catches a future reorder. */
  private[operators] def qualityScoreCol: Column = {
    val c = qualityColsBuilt.last
    require(c.toString.contains("AS quality"),
      s"qualityColsBuilt must end with the 'quality' alias, got $c")
    c
  }

  val tQualitySql: String = {
    val stop = Seq("the", "a", "and", "of", "to", "is")
      .map(m => s"(length(p) - length(replace(p, ' $m ', ''))) // ${m.length + 2}")
      .mkString(" + ")
    s"""SELECT doc_id, n_chars, n_words, alpha_ratio, stop_ratio, mean_word_len,
       |  floor((least(alpha_ratio, 1.0) * 0.4 +
       |        least(stop_ratio * 4, 1.0) * 0.3 +
       |        CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END) * 1e4 + 0.5) / 1e4 AS quality
       |FROM (
       |  SELECT doc_id,
       |    length(text)::BIGINT AS n_chars,
       |    len(string_split(norm, ' '))::BIGINT AS n_words,
       |    floor((length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::BIGINT / length(text)::DOUBLE) * 1e4 + 0.5) / 1e4 AS alpha_ratio,
       |    floor((($stop)::BIGINT / len(string_split(norm, ' '))::DOUBLE) * 1e4 + 0.5) / 1e4 AS stop_ratio,
       |    floor((length(norm)::DOUBLE / len(string_split(norm, ' '))) * 1e4 + 0.5) / 1e4 AS mean_word_len
       |  FROM (SELECT doc_id, text, $normSql AS norm,
       |        ' ' || $normSql || ' ' AS p FROM documents) raw) t
       |ORDER BY doc_id""".stripMargin
  }

  /** Marker-word language ID (n-gram heuristic): per-language marker
    * hit counts, argmax with fixed tie order, "und" when zero hits. */
  def tLangId(spark: SparkSession, dir: String): DataFrame =
    langPredictions(spark, dir).orderBy("doc_id")

  /** Unordered language predictions (composable form). */
  def langPredictions(spark: SparkSession, dir: String): DataFrame = {
    val d = docsSpread(spark, dir)
    val scoreCols = langMarkers.map { case (l, _) =>
      langScore(col("text"), l).as(s"score_$l")
    }
    d.select((col("doc_id") +: col("lang").as("labeled_lang") +: scoreCols :+
        langId(col("text")).as("pred_lang")): _*)
  }

  val tLangIdSql: String = {
    def scoreSql(lang: String): String = langMarkers.toMap.apply(lang)
      .map(m => s"(length(p) - length(replace(p, '$m', ''))) // ${m.length}")
      .mkString("(", " + ", ")")
    val scores = langMarkers.map { case (l, _) => s"${scoreSql(l)} AS score_$l" }
    val best = langMarkers.map(l => s"score_${l._1}").mkString("greatest(", ", ", ")")
    val pick = langMarkers.reverse.foldLeft("'und'") { case (acc, (l, _)) =>
      s"CASE WHEN score_$l = best AND best > 0 THEN '$l' ELSE $acc END"
    }
    s"""SELECT doc_id, labeled_lang, ${langMarkers.map(l => s"score_${l._1}").mkString(", ")},
       |  $pick AS pred_lang
       |FROM (
       |  SELECT *, $best AS best FROM (
       |    SELECT doc_id, lang AS labeled_lang, ${scores.mkString(", ")}
       |    FROM (SELECT doc_id, lang, ' ' || $normSql || ' ' AS p FROM documents) raw) s) t
       |ORDER BY doc_id""".stripMargin
  }

  /** Document fingerprinting: full-content md5, a 32-bit numeric
    * fingerprint, and a coarse locality fingerprint (md5 of the sorted
    * distinct word set — order-insensitive, catches permuted docs). */
  def tFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = docsSpread(spark, dir)
    val norm = normText(col("text"))
    val wordSet = array_sort(array_distinct(split(norm, " ")))
    d.select(
      col("doc_id"),
      md5(norm).as("content_fp"),
      md5_32(norm).as("content_fp32"),
      md5(concat_ws(" ", wordSet)).as("wordset_fp"))
      .orderBy("doc_id")
  }

  val tFingerprintSql: String =
    s"""SELECT doc_id,
       |  md5(norm) AS content_fp,
       |  ('0x' || substr(md5(norm), 1, 8))::BIGINT AS content_fp32,
       |  md5(array_to_string(list_sort(list_distinct(string_split(norm, ' '))), ' ')) AS wordset_fp
       |FROM (SELECT doc_id, $normSql AS norm FROM documents) t
       |ORDER BY doc_id""".stripMargin

  /** Corpus report: per (split, language) doc count, word-token
    * volume, and exact-dup rate — the composition of [[Dedup.dSplit]],
    * [[tTokenCount]] and [[Dedup.dDedupExact]] a curation pipeline
    * reports after each run. Every join is on doc_id (one
    * co-partitioned shuffle chain), then a tiny grouped rollup. */
  def tCorpusStats(spark: SparkSession, dir: String): DataFrame = {
    val split = Dedup.dSplit(spark, dir).select("doc_id", "split")
    val toks = tTokenCount(spark, dir).select("doc_id", "word_tokens")
    val dups = Dedup.dDedupExact(spark, dir).select(col("doc_id"), col("is_dup"))
    val lang = Tables(spark, dir).documents.select("doc_id", "lang")
    split.join(toks, "doc_id").join(dups, "doc_id").join(lang, "doc_id")
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("word_tokens")).as("sum_words"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"))
      .withColumn("dup_ratio", stableRound(col("n_dups") / col("n_docs"), 4))
      .orderBy("split", "lang")
  }

  val tCorpusStatsSql: String =
    s"""WITH s AS (
       |  SELECT doc_id,
       |    CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'validation' ELSE 'test' END AS split
       |  FROM (SELECT doc_id,
       |          ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS h
       |        FROM documents) hh),
       |w AS (SELECT doc_id, len(string_split($normSql, ' ')) AS word_tokens FROM documents),
       |d AS (
       |  SELECT doc_id, doc_id <> min(doc_id) OVER (PARTITION BY content_fp) AS is_dup
       |  FROM (SELECT doc_id, md5($normSql) AS content_fp FROM documents) f)
       |SELECT split, lang, count(*) AS n_docs,
       |  sum(word_tokens)::BIGINT AS sum_words,
       |  sum(CASE WHEN is_dup THEN 1 ELSE 0 END)::BIGINT AS n_dups,
       |  floor((sum(CASE WHEN is_dup THEN 1 ELSE 0 END) / count(*)) * 1e4 + 0.5) / 1e4 AS dup_ratio
       |FROM documents
       |JOIN s USING (doc_id) JOIN w USING (doc_id) JOIN d USING (doc_id)
       |GROUP BY split, lang
       |ORDER BY split, lang""".stripMargin

  /** Tokens per training context window for [[tPack]]. */
  val PackBudget = 256L

  /** The shared budget packer: (id, size) rows in id order are laid
    * head-to-tail into fixed-`budget` buckets, emitting each id's
    * bucket and in-bucket offset — the machinery behind both token
    * context-window packing ([[tPack]]) and multimodal byte-shard
    * packing ([[graft.multimodal.Multimodal.mShardPack]]).
    *
    * The global running offset is a DISTRIBUTED prefix sum, not a
    * global window: an `ORDER BY` window with no partition key pulls
    * the entire corpus into one reducer. Instead the input is
    * range-partitioned by id, each partition computes a local running
    * sum, the ~numPartitions per-partition totals are prefixed on the
    * driver, and a second narrow pass adds each partition's base
    * offset — two narrow passes plus one tiny collect, correct at any
    * scale. The range-partitioned frame is frozen as a PER-CALL lazy
    * localCheckpoint so both passes read identical partitions (pid
    * consistency) with no shared mutable cache slot — a slot let one
    * call's release evict the pinned copy a CONCURRENT call's first
    * pass had already counted; checkpoint blocks are instead released
    * by the ContextCleaner when the returned frame is dropped. */
  private[graft] def budgetPack(spark: SparkSession, sized: DataFrame,
      budget: Long): DataFrame = {
    import spark.implicits._
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val pinned = sized.toDF("id", "n")
      .repartitionByRange(parts, col("id"))
      .sortWithinPartitions("id")
      .as[(Long, Long)]
      .localCheckpoint(false)
    val partSums = pinned.mapPartitions { it =>
      Iterator.single(it.map(_._2).sum)
    }.collect()
    val offsets = partSums.scanLeft(0L)(_ + _)
    val out = pinned.toDF("id", "n")
      .withColumn("pid", spark_partition_id())
      .as[(Long, Long, Int)]
      .mapPartitions { it =>
        var run = 0L
        it.map { case (id, n, pid) =>
          val before = offsets(pid) + run
          run += n
          (id, n, before / budget, before % budget)
        }
      }
      .toDF("id", "n", "bucket", "off")
    out
  }

  /** Concatenation packing: documents in doc_id order are laid
    * head-to-tail into fixed 256-token context windows (the standard
    * pretraining packing), emitting each doc's pack id and offset —
    * [[budgetPack]] over word-token counts. */
  def tPack(spark: SparkSession, dir: String): DataFrame =
    budgetPack(spark,
      tTokenCount(spark, dir).select(col("doc_id"), col("word_tokens")), PackBudget)
      .select(col("id").as("doc_id"), col("n").as("n_tokens"),
        col("bucket").as("pack_id"), col("off").as("pack_offset"))
      .orderBy("doc_id")

  val tPackSql: String =
    s"""SELECT doc_id, word_tokens AS n_tokens,
       |  cumb // $PackBudget AS pack_id, cumb % $PackBudget AS pack_offset
       |FROM (
       |  SELECT doc_id, word_tokens,
       |    coalesce(sum(word_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cumb
       |  FROM (SELECT doc_id, len(string_split($normSql, ' ')) AS word_tokens
       |        FROM documents) w) t
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- repetition

  /** Repetitive when the top word's count · 8 ≥ n_words (top-word
    * fraction ≥ 1/8) ... */
  val TopWordTauDen = 8
  /** ... or duplicate-2-gram occurrences · 10 ≥ total 2-grams
    * (duplicate-2-gram fraction ≥ 1/10). Both decisions are integer
    * arithmetic in BOTH engines; the rounded fractions are output
    * columns, never the decision. */
  val Dup2gramTauDen = 10

  /** Within-doc REPETITION metrics — the repetition-quality family of
    * filters (repeated words / repeated n-grams) every training
    * pipeline runs alongside length/stopword heuristics: degenerate
    * generations and boilerplate loops score high here while passing
    * naive quality checks.
    *
    * - `dup_word_frac`: 1 − distinct words / total words (narrow).
    * - `top_word_frac`: most frequent single word's share — the one
    *   shuffled metric: explode → per-(doc, word) partial counts →
    *   per-doc max, two map-side-combining aggregations, linear in
    *   corpus size.
    * - `dup_2gram_frac`: 1 − distinct 2-grams / total 2-grams; total
    *   is n−1 by construction and the distinct count reuses the
    *   single-pass [[graft.functions.expr.WordShingles]] set (narrow,
    *   no per-element lambda over an inlineable expression — SURVEY
    *   §8).
    * - `repetitive`: integer-exact threshold OR ([[TopWordTauDen]],
    *   [[Dup2gramTauDen]]). */
  def tRepetition(spark: SparkSession, dir: String): DataFrame = {
    val d = docsSpread(spark, dir)
    val w = words(col("text"))
    val nWords = size(w).cast("long")
    val nG2 = greatest(nWords - 1L, lit(0L))
    val base = d.select(col("doc_id"),
      nWords.as("n"),
      size(array_distinct(w)).cast("long").as("nd"),
      nG2.as("ng2"),
      size(graft.functions.expr.VectorExpressions.wordShingles(w, 2))
        .cast("long").as("ng2d"))
    val topc = d.select(col("doc_id"), explode(w).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("topc"))
    base.join(topc, "doc_id")
      .select(col("doc_id"), col("n").as("n_words"),
        stableRound(lit(1.0) - col("nd") / col("n").cast("double"), 6).as("dup_word_frac"),
        stableRound(col("topc") / col("n").cast("double"), 6).as("top_word_frac"),
        when(col("ng2") > 0,
          stableRound((col("ng2") - col("ng2d")) / col("ng2").cast("double"), 6))
          .otherwise(lit(0.0)).as("dup_2gram_frac"),
        (col("topc") * TopWordTauDen >= col("n") ||
          (col("ng2") > 0 && (col("ng2") - col("ng2d")) * Dup2gramTauDen >= col("ng2")))
          .as("repetitive"))
      .orderBy("doc_id")
  }

  val tRepetitionSql: String =
    s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
       |base AS (
       |  SELECT doc_id, len(w)::BIGINT AS n, len(list_distinct(w))::BIGINT AS nd,
       |    greatest(len(w) - 1, 0)::BIGINT AS ng2,
       |    len(list_distinct(
       |      [w[i] || ' ' || w[i+1] for i in range(1, len(w))]))::BIGINT AS ng2d
       |  FROM w),
       |tc AS (
       |  SELECT doc_id, max(c)::BIGINT AS topc FROM (
       |    SELECT doc_id, count(*) AS c
       |    FROM (SELECT doc_id, unnest(w) AS word FROM w) u
       |    GROUP BY doc_id, word) v
       |  GROUP BY doc_id)
       |SELECT b.doc_id, n AS n_words,
       |  floor((1 - nd / n::DOUBLE) * 1e6 + 0.5) / 1e6 AS dup_word_frac,
       |  floor((topc / n::DOUBLE) * 1e6 + 0.5) / 1e6 AS top_word_frac,
       |  CASE WHEN ng2 > 0 THEN floor(((ng2 - ng2d) / ng2::DOUBLE) * 1e6 + 0.5) / 1e6
       |       ELSE 0.0 END AS dup_2gram_frac,
       |  (topc * $TopWordTauDen >= n OR
       |    (ng2 > 0 AND (ng2 - ng2d) * $Dup2gramTauDen >= ng2)) AS repetitive
       |FROM base b JOIN tc USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------- entropy

  /** Low-diversity threshold (bits) on the ROUNDED entropy column —
    * both engines compare the value the hash gate already proves
    * identical, so the flag can't straddle. */
  val EntropyTau = 4.2

  /** Per-doc Shannon WORD ENTROPY (bits) — the vocabulary-diversity
    * quality signal: degenerate/templated text scores low while
    * passing length checks; the complement of [[tRepetition]]'s
    * repeated-mass metrics.
    *
    * Cross-engine float parity needs the SUM ORDER pinned: a bare
    * float sum over shuffled rows is order-nondeterministic, so the
    * per-word counts gather per doc (bounded by the doc's vocabulary),
    * sort ascending, and fold left from 0.0 — Spark's `aggregate` and
    * DuckDB's `list_reduce` then add the same IEEE terms in the same
    * order, and each term is built with the identical op sequence
    * (−(c/n)·ln(c/n), one ÷ by ln 2 at the end, round 4). Two linear
    * map-side-combining aggregations, same shape as
    * [[tRepetition]]'s top-word pass. */
  def tEntropy(spark: SparkSession, dir: String): DataFrame = {
    val d = docsSpread(spark, dir)
    val counts = d.select(col("doc_id"), explode(words(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
    counts.groupBy("doc_id")
      .agg(sum("c").as("n"), count(lit(1)).as("nd"),
        sort_array(collect_list(col("c"))).as("cs"))
      .select(col("doc_id"), col("n").cast("long").as("n_words"),
        col("nd").cast("long").as("n_distinct_words"),
        stableRound(graft.functions.expr.FoldExpressions.entropyFold(col("cs"),
          col("n")) / log(lit(2.0)), 4)
          .as("entropy_bits"))
      .withColumn("low_diversity", col("entropy_bits") < EntropyTau)
      .orderBy("doc_id")
  }

  val tEntropySql: String =
    s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
       |counts AS (
       |  SELECT doc_id, word, count(*) AS c
       |  FROM (SELECT doc_id, unnest(w) AS word FROM w) u
       |  GROUP BY doc_id, word),
       |e AS (
       |  SELECT doc_id, sum(c)::BIGINT AS n, count(*)::BIGINT AS nd,
       |    list(c ORDER BY c) AS cs
       |  FROM counts GROUP BY doc_id),
       |ent AS (
       |  SELECT doc_id, n AS n_words, nd AS n_distinct_words,
       |    floor((list_reduce(
       |      list_prepend(0.0, list_transform(cs, c -> -(c/n::DOUBLE) * ln(c/n::DOUBLE))),
       |      (a, b) -> a + b) / ln(2.0)) * 1e4 + 0.5) / 1e4 AS entropy_bits
       |  FROM e)
       |SELECT doc_id, n_words, n_distinct_words, entropy_bits,
       |  entropy_bits < $EntropyTau AS low_diversity
       |FROM ent
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------- logprob

  /** Low-probability threshold on the ROUNDED score — same straddle
    * discipline as [[EntropyTau]]. Flags ~4% of the synthetic corpus. */
  val LogprobTau = -1.50

  /** Per-doc mean unigram log-probability under the corpus's own
    * unigram LM (log10 per token) — the classic cheap perplexity
    * proxy: documents dominated by corpus-rare words (OCR garbage,
    * boilerplate IDs, wrong-language fragments) score low without any
    * external model. p(w) = corpus count / corpus tokens; score =
    * Σ n_w·ln(c_w/total) / n_tokens / ln 10.
    *
    * Distribution: doc-word counts (one map-side-combining
    * aggregation) feed BOTH the corpus frequency table (a second
    * aggregation over words) and the scoring join back on word —
    * Zipf-head skew there is AQE's skew-join case. The counts frame
    * carries a cache barrier: its two consumers would otherwise each
    * re-run the explode + count over the full corpus (the dominant
    * cost — same materialization rationale as the minhash bands).
    * The corpus total joins on as a ONE-ROW broadcast (constant
    * column, not an all-pairs hazard). Float parity pins the SUM ORDER like
    * [[tEntropy]]: each (doc,word) term n·ln(c/total) is one double
    * built with the identical op sequence in both engines, the
    * per-doc term list sorts ascending (ties are identical doubles),
    * and the fold starts from 0.0. */
  def tLogprob(spark: SparkSession, dir: String): DataFrame =
    logprobScored(spark, dir).orderBy("doc_id")

  /** The [[tLogprob]] pipeline without the presentation sort — the
    * unordered (doc_id, n_words, logprob10, low_prob) frame, shared
    * with [[graft.operators.Curation.dPplBucket]]'s tercile ranking.
    * Docs with zero normalized words never enter `counts` and so are
    * absent here (and from every consumer) — same in the oracle. */
  private[operators] def logprobScored(spark: SparkSession, dir: String): DataFrame = {
    val d = docsSpread(spark, dir)
    val counts = d.select(col("doc_id"), explode(words(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("n"))
      .cache()
    val corpus = counts.groupBy("word").agg(sum("n").as("c"))
    // Σc over corpus ≡ Σn over counts (integer arithmetic), and the
    // latter reads the cached frame directly — deriving the total from
    // `corpus` would run the per-word shuffle a second time.
    val total = counts.agg(sum("n").cast("double").as("total"))
    counts.join(corpus, "word")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n"),
        (col("n") * log(col("c") / col("total"))).as("term"))
      .groupBy("doc_id")
      .agg(sum("n").cast("long").as("n_words"),
        sort_array(collect_list(col("term"))).as("ts"))
      .select(col("doc_id"), col("n_words"),
        stableRound(graft.functions.expr.FoldExpressions.sumArray(col("ts"))
          / col("n_words") / log(lit(10.0)), 4).as("logprob10"))
      .withColumn("low_prob", col("logprob10") < LogprobTau)
  }

  /** CTE chain ending in `s(doc_id, n_words, logprob10)` — the ONE
    * SQL copy of the [[logprobScored]] pipeline, shared by the
    * t_logprob and d_ppl_bucket oracles (the [[graft.functions.TextFunctions.normSql]]
    * single-copy discipline: a private duplicate could silently drift
    * from the Spark side in one consumer only). */
  val logprobCoreSql: String =
    s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
       |counts AS (
       |  SELECT doc_id, word, count(*) AS n
       |  FROM (SELECT doc_id, unnest(w) AS word FROM w) u
       |  GROUP BY doc_id, word),
       |corpus AS (SELECT word, sum(n) AS c FROM counts GROUP BY word),
       |tot AS (SELECT sum(n)::DOUBLE AS total FROM counts),
       |terms AS (
       |  SELECT doc_id, n, n * ln(c / total) AS term
       |  FROM counts JOIN corpus USING (word) CROSS JOIN tot),
       |g AS (
       |  SELECT doc_id, sum(n)::BIGINT AS n_words, list(term ORDER BY term) AS ts
       |  FROM terms GROUP BY doc_id),
       |s AS (
       |  SELECT doc_id, n_words,
       |    floor((list_reduce(list_prepend(0.0, ts), (a, b) -> a + b)
       |      / n_words / ln(10)) * 1e4 + 0.5) / 1e4 AS logprob10
       |  FROM g)""".stripMargin

  val tLogprobSql: String =
    s"""$logprobCoreSql
       |SELECT doc_id, n_words, logprob10, logprob10 < $LogprobTau AS low_prob
       |FROM s
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ jsd

  /** One JSD term 0.5·p·ln(p/m) + 0.5·q·ln(q/m), m = (p+q)/2, with
    * the 0·ln0 := 0 CASE guards — THE one copy of the term's parity
    * spelling; both [[tJsd]] and [[tDrift]] (and their oracles' CASE
    * twins) gate on this exact op sequence. */
  private def jsdTerm(p: Column, q: Column): Column = {
    val m = (p + q) / lit(2.0)
    lit(0.5) * when(p > 0, p * log(p / m)).otherwise(lit(0.0)) +
      lit(0.5) * when(q > 0, q * log(q / m)).otherwise(lit(0.0))
  }

  /** Per-source reduction of a (source, term) frame to (source, s)
    * — THE one copy of the JSD fold's parity spelling ([[tJsd]] and
    * [[tDrift]] both gate on it): terms collect sorted ascending and
    * fold from 0.0 (what the oracles' `list(term ORDER BY term)` +
    * `list_reduce` replay), so the divergence is bit-identical to the
    * oracle; row size is bounded by the VOCABULARY. */
  private def foldJsdTerms(terms: DataFrame, keys: Seq[String]): DataFrame =
    terms.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(col("term"))).as("ts"))
      .select(keys.map(col) :+
        graft.functions.expr.FoldExpressions.sumArray(col("ts")).as("s"): _*)

  /** t_jsd — per-source DISTRIBUTION DRIFT: the Jensen–Shannon
    * divergence (bits) between each source's unigram word
    * distribution and the REST of the corpus — the data-mixing
    * telemetry a pre-training pipeline reads before setting mixture
    * weights (d_mix / d_reweight): a source whose JSD spikes is
    * distributionally anomalous (wrong language, template flood,
    * scraper drift) and gets inspected before it gets weighted.
    * JSD(P‖R) = ½ΣP·ln(P/M) + ½ΣR·ln(R/M), M = (P+R)/2 — symmetric,
    * bounded by ln 2, zero iff the source matches the rest exactly.
    *
    * Shape: ONE corpus scan → (source, word) counts (map-side
    * combined, cached — the corpus-vocab, per-source-total, and
    * grid-probe consumers all reuse it); the vocabulary grid is
    * corpus-vocab × sources built by broadcasting the per-source
    * totals (a handful of rows) onto the word-count frame, so the
    * grid is vocab-bounded — never corpus-bounded — and rest-counts
    * are pure integer subtraction C−c_s against the broadcast corpus
    * totals. Float parity: probabilities are integer-over-integer
    * doubles spelled identically in both engines; zero counts route
    * through the same CASE guards (0·ln0 := 0); the per-source fold
    * is [[foldJsdTerms]]. */
  def tJsd(spark: SparkSession, dir: String): DataFrame =
    jsdBySegments(spark, dir, Seq("source"))

  /** t_jsd_seg — [[tJsd]] at SEGMENT granularity: the divergence of
    * each (source, lang) cell's unigram distribution vs the rest of
    * the corpus. The telemetry a mixing pipeline actually pages on —
    * a source can look distributionally calm pooled while one of its
    * language slices floods templates (or flips language) — and the
    * segment keys are exactly the keys d_mix/d_reweight weight on.
    * Same skeleton, one groupBy change: the grid is corpus-vocab ×
    * SEGMENTS, so cost scales with segment count, not a new scan. */
  def tJsdSeg(spark: SparkSession, dir: String): DataFrame =
    jsdBySegments(spark, dir, Seq("source", "lang"))

  /** The shared per-segment JSD skeleton ([[tJsd]] scaladoc): one
    * corpus scan → (segment, word) counts; vocab-bounded grid via
    * broadcast segment totals; integer-over-integer probabilities;
    * the [[foldJsdTerms]] fold. `segCols` is the segment key —
    * ("source") for the pooled gate row, ("source", "lang") for the
    * segmented one. */
  private def jsdBySegments(spark: SparkSession, dir: String,
      segCols: Seq[String]): DataFrame = {
    val d = docsSpread(spark, dir)
    val seg = segCols.map(col)
    val counts = d.select(seg :+ explode(words(col("text"))).as("word"): _*)
      .groupBy((segCols :+ "word").map(col): _*).agg(count(lit(1)).as("cs"))
      .cache()
    val corpus = counts.groupBy("word").agg(sum("cs").as("c"))
    val perSrc = counts.groupBy(seg: _*)
      .agg(sum("cs").as("ns"), count(lit(1)).as("nv"))
    // Σ over per-segment totals ≡ Σ over the vocab frame (integer
    // arithmetic) and folds a handful of rows instead of re-scanning
    // the cached (segment, word) frame a fourth time.
    val tot = perSrc.agg(sum("ns").as("nn"))
    val grid = corpus
      .crossJoin(broadcast(perSrc.select(seg :+ col("ns"): _*)))
      .join(counts.select(seg ++ Seq(col("word"), col("cs")): _*),
        segCols :+ "word", "left")
      .select(seg ++ Seq(col("ns"), col("c"),
        coalesce(col("cs"), lit(0L)).as("cs")): _*)
      .crossJoin(broadcast(tot))
    val ps = when(col("cs") > 0,
      col("cs").cast("double") / col("ns").cast("double")).otherwise(lit(0.0))
    val pr = when(col("c") - col("cs") > 0,
      (col("c") - col("cs")).cast("double") /
        (col("nn") - col("ns")).cast("double")).otherwise(lit(0.0))
    val probs = grid.select(seg ++ Seq(ps.as("ps"), pr.as("pr")): _*)
    val terms = probs.select(seg :+
      jsdTerm(col("ps"), col("pr")).as("term"): _*)
    foldJsdTerms(terms, segCols).join(perSrc, segCols)
      .select(seg ++ Seq(col("ns").cast("long").as("n_words"),
        col("nv").cast("long").as("n_distinct_words"),
        stableRound(col("s") / log(lit(2.0)), 6).as("jsd_bits")): _*)
      .orderBy(seg: _*)
  }

  val tJsdSql: String =
    s"""WITH w AS (SELECT source, string_split($normSql, ' ') AS w FROM documents),
       |counts AS (
       |  SELECT source, word, count(*)::BIGINT AS cs
       |  FROM (SELECT source, unnest(w) AS word FROM w) u
       |  GROUP BY source, word),
       |corpus AS (SELECT word, sum(cs)::BIGINT AS c FROM counts GROUP BY word),
       |per_src AS (
       |  SELECT source, sum(cs)::BIGINT AS ns, count(*)::BIGINT AS nv
       |  FROM counts GROUP BY source),
       |tot AS (SELECT sum(cs)::BIGINT AS nn FROM counts),
       |grid AS (
       |  SELECT p.source, p.ns, v.c, COALESCE(k.cs, 0)::BIGINT AS cs
       |  FROM corpus v
       |  CROSS JOIN per_src p
       |  LEFT JOIN counts k ON k.source = p.source AND k.word = v.word),
       |probs AS (
       |  SELECT source,
       |    CASE WHEN cs > 0 THEN cs::DOUBLE / ns::DOUBLE ELSE 0.0 END AS ps,
       |    CASE WHEN c - cs > 0
       |         THEN (c - cs)::DOUBLE / (nn - ns)::DOUBLE ELSE 0.0 END AS pr
       |  FROM grid CROSS JOIN tot),
       |terms AS (
       |  SELECT source,
       |    0.5 * (CASE WHEN ps > 0
       |           THEN ps * ln(ps / ((ps + pr) / 2.0)) ELSE 0.0 END)
       |    + 0.5 * (CASE WHEN pr > 0
       |             THEN pr * ln(pr / ((ps + pr) / 2.0)) ELSE 0.0 END) AS term
       |  FROM probs),
       |g AS (SELECT source, list(term ORDER BY term) AS ts
       |      FROM terms GROUP BY source)
       |SELECT g.source, p.ns AS n_words, p.nv AS n_distinct_words,
       |  floor((list_reduce(list_prepend(0.0, ts), (a, b) -> a + b)
       |    / ln(2.0)) * 1e6 + 0.5) / 1e6 AS jsd_bits
       |FROM g JOIN per_src p ON g.source = p.source
       |ORDER BY g.source""".stripMargin

  /** [[tJsdSql]] with the (source, lang) segment key — the same CTE
    * chain, every GROUP BY/JOIN widened by the lang column. */
  val tJsdSegSql: String =
    s"""WITH w AS (SELECT source, lang, string_split($normSql, ' ') AS w FROM documents),
       |counts AS (
       |  SELECT source, lang, word, count(*)::BIGINT AS cs
       |  FROM (SELECT source, lang, unnest(w) AS word FROM w) u
       |  GROUP BY source, lang, word),
       |corpus AS (SELECT word, sum(cs)::BIGINT AS c FROM counts GROUP BY word),
       |per_seg AS (
       |  SELECT source, lang, sum(cs)::BIGINT AS ns, count(*)::BIGINT AS nv
       |  FROM counts GROUP BY source, lang),
       |tot AS (SELECT sum(cs)::BIGINT AS nn FROM counts),
       |grid AS (
       |  SELECT p.source, p.lang, p.ns, v.c, COALESCE(k.cs, 0)::BIGINT AS cs
       |  FROM corpus v
       |  CROSS JOIN per_seg p
       |  LEFT JOIN counts k ON k.source = p.source AND k.lang = p.lang
       |    AND k.word = v.word),
       |probs AS (
       |  SELECT source, lang,
       |    CASE WHEN cs > 0 THEN cs::DOUBLE / ns::DOUBLE ELSE 0.0 END AS ps,
       |    CASE WHEN c - cs > 0
       |         THEN (c - cs)::DOUBLE / (nn - ns)::DOUBLE ELSE 0.0 END AS pr
       |  FROM grid CROSS JOIN tot),
       |terms AS (
       |  SELECT source, lang,
       |    0.5 * (CASE WHEN ps > 0
       |           THEN ps * ln(ps / ((ps + pr) / 2.0)) ELSE 0.0 END)
       |    + 0.5 * (CASE WHEN pr > 0
       |             THEN pr * ln(pr / ((ps + pr) / 2.0)) ELSE 0.0 END) AS term
       |  FROM probs),
       |g AS (SELECT source, lang, list(term ORDER BY term) AS ts
       |      FROM terms GROUP BY source, lang)
       |SELECT g.source, g.lang, p.ns AS n_words, p.nv AS n_distinct_words,
       |  floor((list_reduce(list_prepend(0.0, ts), (a, b) -> a + b)
       |    / ln(2.0)) * 1e6 + 0.5) / 1e6 AS jsd_bits
       |FROM g JOIN per_seg p ON g.source = p.source AND g.lang = p.lang
       |ORDER BY g.source, g.lang""".stripMargin

  // ---------------------------------------------------------- drift

  /** t_drift — TWO-SNAPSHOT distribution drift per source: the
    * Jensen–Shannon divergence (bits) between an incoming batch's
    * unigram distribution and the accumulated corpus, per source —
    * what an ingest monitor computes per crawl snapshot before the
    * batch is admitted (the temporal complement to [[tJsd]]'s
    * cross-source divergence; a spike = the scraper broke, the site
    * redesigned, the language mix flipped). Snapshots come from the
    * same md5(doc_id) % 100 split the incremental dedup family pins
    * (base < 90 ≤ delta), so the fixture is deterministic and the
    * "batch" is genuinely held out of the "accumulated" side.
    *
    * Shape: ONE corpus scan → (source, word) rows carrying BOTH
    * snapshot counts from a single grouped aggregation (conditional
    * sums — no second scan, no join to build the base/delta split);
    * per-source totals broadcast back; sources present in only one
    * snapshot are dropped (no batch → nothing to monitor, inner join
    * on the totals). The per-source vocabulary is the grid — never
    * corpus-bounded — and the JSD term/fold/parity discipline is
    * [[tJsd]]'s verbatim (integer-over-integer probabilities, shared
    * CASE guards, ascending-term parity fold). */
  def tDrift(spark: SparkSession, dir: String): DataFrame =
    driftBySegments(spark, dir, Seq("source"))

  /** t_drift_seg — [[tDrift]] at SEGMENT granularity: per (source,
    * lang) JSD between the incoming batch and the accumulated corpus.
    * The ingest-monitor complement of [[tJsdSeg]]: a source's crawl
    * can look temporally calm pooled while one language slice's
    * scraper breaks — and the segment key is what the admit/reweight
    * decision acts on. Same skeleton, one groupBy change. */
  def tDriftSeg(spark: SparkSession, dir: String): DataFrame =
    driftBySegments(spark, dir, Seq("source", "lang"))

  /** t_novelty — per-doc NOVELTY of the incoming snapshot against the
    * accumulated corpus: the fraction of an arriving doc's distinct
    * word-8-grams ([[Dedup.ContamNgram]] — verbatim-reuse width, the
    * memorization-grade unit, not the topical 3-gram) never seen in
    * the base snapshot. The freshness signal mixture design reads
    * next to [[tDrift]]'s distributional shift: drift says the BATCH
    * moved, novelty says which DOCS actually carry new content vs
    * re-crawled boilerplate (novelty ≈ 0 → the crawler is re-fetching;
    * the d_dedup_incr convention supplies the snapshot split).
    * Output: (doc_id, n_grams, n_seen, novelty) per delta doc with ≥1
    * shingle.
    *
    * Shape: the [[Dedup.dDecontaminate]] skeleton with the snapshot
    * split in place of the train/test split and a LEFT join in place
    * of the inner probe (unseen grams must count): base collapses to
    * its DISTINCT gram-hash set once, delta postings hash-join it on
    * the gram key — linear, uniform (gram hashes), never doc×doc. At
    * 100 TB the base set is corpus-sized but the join shuffles only
    * (id, hash) pairs on a key with corpus-scale cardinality.
    *
    * Parity: counts are integers; novelty is one correctly-rounded
    * expression spelled identically in both engines. */
  def tNovelty(spark: SparkSession, dir: String): DataFrame = {
    val d = docsSpread(spark, dir)
      .withColumn("b", md5_32(col("doc_id").cast("string")) % 100)
    val sets = d
      .select(col("doc_id"), col("b"), Dedup.contamHashes(col("text")).as("hs"))
      .filter(size(col("hs")) > 0)
    val posts = sets.select(col("doc_id"), col("b"), explode(col("hs")).as("h"))
    // n_grams stays inside the per-doc aggregation (posts carry
    // every distinct gram, seen or not) — no third corpus pass to
    // re-derive set sizes.
    val base = posts.filter(col("b") < 90)
      .select("h").distinct().withColumn("seen", lit(1L))
    posts.filter(col("b") >= 90)
      .join(base, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("seen"), lit(0L))).as("n_seen"))
      .select(col("doc_id"), col("n_grams"), col("n_seen"),
        stableRound(lit(1.0) - col("n_seen").cast("double") /
          col("n_grams").cast("double"), 6).as("novelty"))
      .orderBy("doc_id")
  }

  lazy val tNoveltySql: String = {
    val n = Dedup.ContamNgram
    s"""WITH sets AS (
       |  SELECT doc_id, b, list_distinct(list_transform(
       |      [array_to_string(w[i:i+${n - 1}], ' ')
       |       for i in range(1, len(w) - ${n - 2})],
       |      s -> ('0x' || substr(md5(s), 1, 8))::BIGINT)) AS hs
       |  FROM (SELECT doc_id,
       |          ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b,
       |          string_split($normSql, ' ') AS w
       |        FROM documents) t
       |  WHERE len(w) >= $n),
       |posts AS (SELECT doc_id, b, unnest(hs) AS h FROM sets),
       |base AS (SELECT DISTINCT h FROM posts WHERE b < 90)
       |SELECT p.doc_id, count(*)::BIGINT AS n_grams,
       |  count(base.h)::BIGINT AS n_seen,
       |  ${stableRoundSql(
            "1.0 - count(base.h)::DOUBLE / count(*)::DOUBLE", 6)} AS novelty
       |FROM posts p LEFT JOIN base ON p.h = base.h
       |WHERE p.b >= 90
       |GROUP BY p.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** The shared two-snapshot drift skeleton ([[tDrift]] scaladoc):
    * ONE grouped aggregation carries BOTH snapshot counts as
    * conditional sums; per-segment totals broadcast back; segments
    * present in only one snapshot are dropped (no batch → nothing to
    * monitor); term/fold/parity discipline is [[jsdBySegments]]'
    * verbatim. */
  private def driftBySegments(spark: SparkSession, dir: String,
      segCols: Seq[String]): DataFrame = {
    val d = docsSpread(spark, dir)
    val seg = segCols.map(col)
    val isDelta = (md5_32(col("doc_id").cast("string")) % 100) >= 90
    val counts = d
      .select(seg ++ Seq(isDelta.as("is_delta"),
        explode(words(col("text"))).as("word")): _*)
      .groupBy((segCols :+ "word").map(col): _*)
      .agg(sum(when(col("is_delta"), lit(0L)).otherwise(lit(1L))).as("cb"),
        sum(when(col("is_delta"), lit(1L)).otherwise(lit(0L))).as("cd"))
      .cache()
    val perSeg = counts.groupBy(seg: _*)
      .agg(sum("cb").as("nb"), sum("cd").as("nd"))
      .filter(col("nb") > 0 && col("nd") > 0)
    val grid = counts.join(broadcast(perSeg), segCols)
    val pb = when(col("cb") > 0,
      col("cb").cast("double") / col("nb").cast("double")).otherwise(lit(0.0))
    val pd = when(col("cd") > 0,
      col("cd").cast("double") / col("nd").cast("double")).otherwise(lit(0.0))
    val probs = grid.select(seg ++ Seq(pb.as("pb"), pd.as("pd")): _*)
    val terms = probs.select(seg :+
      jsdTerm(col("pb"), col("pd")).as("term"): _*)
    foldJsdTerms(terms, segCols).join(perSeg, segCols)
      .select(seg ++ Seq(col("nb").cast("long").as("base_words"),
        col("nd").cast("long").as("delta_words"),
        stableRound(col("s") / log(lit(2.0)), 6).as("jsd_bits")): _*)
      .orderBy(seg: _*)
  }

  val tDriftSql: String =
    s"""WITH w AS (
       |  SELECT source,
       |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 >= 90
       |      AS is_delta,
       |    string_split($normSql, ' ') AS w
       |  FROM documents),
       |counts AS (
       |  SELECT source, word,
       |    sum(CASE WHEN is_delta THEN 0 ELSE 1 END)::BIGINT AS cb,
       |    sum(CASE WHEN is_delta THEN 1 ELSE 0 END)::BIGINT AS cd
       |  FROM (SELECT source, is_delta, unnest(w) AS word FROM w) u
       |  GROUP BY source, word),
       |per_src AS (
       |  SELECT source, sum(cb)::BIGINT AS nb, sum(cd)::BIGINT AS nd
       |  FROM counts GROUP BY source
       |  HAVING sum(cb) > 0 AND sum(cd) > 0),
       |probs AS (
       |  SELECT k.source,
       |    CASE WHEN cb > 0 THEN cb::DOUBLE / nb::DOUBLE ELSE 0.0 END AS pb,
       |    CASE WHEN cd > 0 THEN cd::DOUBLE / nd::DOUBLE ELSE 0.0 END AS pd
       |  FROM counts k JOIN per_src p ON k.source = p.source),
       |terms AS (
       |  SELECT source,
       |    0.5 * (CASE WHEN pb > 0
       |           THEN pb * ln(pb / ((pb + pd) / 2.0)) ELSE 0.0 END)
       |    + 0.5 * (CASE WHEN pd > 0
       |             THEN pd * ln(pd / ((pb + pd) / 2.0)) ELSE 0.0 END) AS term
       |  FROM probs),
       |g AS (SELECT source, list(term ORDER BY term) AS ts
       |      FROM terms GROUP BY source)
       |SELECT g.source, p.nb AS base_words, p.nd AS delta_words,
       |  floor((list_reduce(list_prepend(0.0, ts), (a, b) -> a + b)
       |    / ln(2.0)) * 1e6 + 0.5) / 1e6 AS jsd_bits
       |FROM g JOIN per_src p ON g.source = p.source
       |ORDER BY g.source""".stripMargin

  /** [[tDriftSql]] with the (source, lang) segment key. */
  val tDriftSegSql: String =
    s"""WITH w AS (
       |  SELECT source, lang,
       |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 >= 90
       |      AS is_delta,
       |    string_split($normSql, ' ') AS w
       |  FROM documents),
       |counts AS (
       |  SELECT source, lang, word,
       |    sum(CASE WHEN is_delta THEN 0 ELSE 1 END)::BIGINT AS cb,
       |    sum(CASE WHEN is_delta THEN 1 ELSE 0 END)::BIGINT AS cd
       |  FROM (SELECT source, lang, is_delta, unnest(w) AS word FROM w) u
       |  GROUP BY source, lang, word),
       |per_seg AS (
       |  SELECT source, lang, sum(cb)::BIGINT AS nb, sum(cd)::BIGINT AS nd
       |  FROM counts GROUP BY source, lang
       |  HAVING sum(cb) > 0 AND sum(cd) > 0),
       |probs AS (
       |  SELECT k.source, k.lang,
       |    CASE WHEN cb > 0 THEN cb::DOUBLE / nb::DOUBLE ELSE 0.0 END AS pb,
       |    CASE WHEN cd > 0 THEN cd::DOUBLE / nd::DOUBLE ELSE 0.0 END AS pd
       |  FROM counts k JOIN per_seg p ON k.source = p.source AND k.lang = p.lang),
       |terms AS (
       |  SELECT source, lang,
       |    0.5 * (CASE WHEN pb > 0
       |           THEN pb * ln(pb / ((pb + pd) / 2.0)) ELSE 0.0 END)
       |    + 0.5 * (CASE WHEN pd > 0
       |             THEN pd * ln(pd / ((pb + pd) / 2.0)) ELSE 0.0 END) AS term
       |  FROM probs),
       |g AS (SELECT source, lang, list(term ORDER BY term) AS ts
       |      FROM terms GROUP BY source, lang)
       |SELECT g.source, g.lang, p.nb AS base_words, p.nd AS delta_words,
       |  floor((list_reduce(list_prepend(0.0, ts), (a, b) -> a + b)
       |    / ln(2.0)) * 1e6 + 0.5) / 1e6 AS jsd_bits
       |FROM g JOIN per_seg p ON g.source = p.source AND g.lang = p.lang
       |ORDER BY g.source, g.lang""".stripMargin

  // ---------------------------------------------------- readability

  /** t_readability — Flesch Reading Ease per doc, from the classic
    * deterministic proxies: words (normalized split), sentences
    * (runs of [.!?], clamped ≥ 1 — headline-style fragments count as
    * one), syllables (vowel-group runs per word, vowel-less words
    * count 1 — the standard heuristic). FRE = 206.835 − 1.015·(W/S)
    * − 84.6·(Syll/W). A quality-filter feature alongside
    * [[tQuality]]'s ratios: readability-band cuts are a common
    * curation rule on crawl text.
    *
    * Pure narrow map — three regex counts per row, no shuffle before
    * the presentation sort. Float parity: all inputs are exact
    * integers; the FRE chain is spelled with the identical op order
    * in both engines (decimal literals promote to identical doubles)
    * and [[stableRound]]ed.
    *
    * The synthetic corpus carries no sentence punctuation, so S
    * clamps to 1 there — the sentence mechanics are pinned on
    * punctuated in-test fixtures instead (ReadabilitySpec case in
    * PipelineSpec). */
  def tReadability(spark: SparkSession, dir: String): DataFrame = {
    val d = docsSpread(spark, dir)
    val norm = normText(col("text"))
    val w = split(norm, " ")
    val nWords = size(w).cast("long")
    val nSyll = (regexp_count(norm, lit("[aeiouy]+")) +
      size(filter(w, x => not(x.rlike("[aeiouy]"))))).cast("long")
    val nSent = greatest(lit(1L), regexp_count(col("text"), lit("[.!?]+")).cast("long"))
    d.select(col("doc_id"), nWords.as("n_words"), nSent.as("n_sentences"),
        nSyll.as("n_syllables"),
        stableRound(
          lit(206.835) - (lit(1.015) * (nWords.cast("double") / nSent)) -
            (lit(84.6) * (nSyll.cast("double") / nWords)), 4).as("fre"))
      .orderBy("doc_id")
  }

  val tReadabilitySql: String =
    s"""SELECT doc_id, n_words, n_sentences, n_syllables,
       |  ${stableRoundSql("206.835 - (1.015 * (n_words::DOUBLE / n_sentences)) - (84.6 * (n_syllables::DOUBLE / n_words))", 4)} AS fre
       |FROM (
       |  SELECT doc_id,
       |    len(string_split(norm, ' '))::BIGINT AS n_words,
       |    greatest(1, len(regexp_extract_all(text, '[.!?]+')))::BIGINT AS n_sentences,
       |    (len(regexp_extract_all(norm, '[aeiouy]+')) +
       |     len(list_filter(string_split(norm, ' '), x -> NOT regexp_matches(x, '[aeiouy]'))))::BIGINT AS n_syllables
       |  FROM (SELECT doc_id, text, $normSql AS norm FROM documents) t) g
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- collocations

  /** Min bigram support for a collocation candidate — integer-exact
    * filter, applied before any join. */
  val CollocMinCount = 5

  /** Collocations reported (ties broken on the word pair, so the
    * LIMIT cut is a total order in both engines). */
  val CollocTopK = 20

  /** Top collocations by pointwise mutual information over adjacent
    * word pairs — the classic tokenizer-merge / phrase-mining signal
    * (which adjacent pairs co-occur far above chance). pmi =
    * ln(p(w1,w2) / (p(w1)·p(w2))) with bigram mass from the pair
    * stream and unigram mass from the token stream.
    *
    * Distribution: two map-side-combining aggregations over the
    * corpus (bigram counts, unigram counts) — both outputs are
    * VOCABULARY-sized, so the scoring joins on w1/w2 involve only
    * small frames (Catalyst broadcasts them from stats; at a 100M-word
    * vocabulary they degrade to a linear shuffle join, never a
    * corpus-sized one). The two totals attach as one-row broadcasts.
    * Top-k is orderBy+limit — Spark plans TakeOrderedAndProject:
    * per-partition partial top-k, single merge, no global sort.
    *
    * Float parity: every pmi input is an exact integer count and the
    * quotient chain is written with the identical left-to-right op
    * sequence in both engines (correctly-rounded IEEE ÷/×) — but `ln`
    * is NOT correctly rounded, and the engines' libm really do differ
    * by 1 ulp on some inputs (observed at sf0.001: 0.…93 vs 0.…92),
    * so pmi is [[stableRound]]ed to 6 places like the ANN scores, and
    * the top-k ORDER runs on the rounded value with a (w1, w2)
    * tie-break. Rounding shrinks the divergence window from every
    * value to the ~ulp/10⁻⁶ sliver around each floor boundary
    * (~10⁻¹⁰ per pair) — the same residual-risk discipline as every
    * rounded float in this codebase, not a hard guarantee. */
  def tCollocations(spark: SparkSession, dir: String): DataFrame = {
    val toks = docsSpread(spark, dir).select(words(col("text")).as("w"))
    // Unigram table: consumed by both scoring joins and the token
    // total. Vocabulary-sized — the cache barrier saves a full corpus
    // re-tokenization per consumer (same rationale as tLogprob's
    // counts), at vocabulary cost, not corpus cost.
    val uni = toks.select(explode(col("w")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c1"))
      .cache()
    val nw = uni.agg(sum("c1").cast("double").as("nw"))
    val bi = toks.select(explode(expr(
        "transform(slice(w, 1, greatest(size(w) - 1, 0)), (x, i) -> struct(x AS w1, w[i + 1] AS w2))")).as("p"))
      .select("p.w1", "p.w2")
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      .cache()
    val nb = bi.agg(sum("n_pair").cast("double").as("nb"))
    bi.filter(col("n_pair") >= CollocMinCount)
      .join(uni.select(col("word").as("w1"), col("c1").as("c1a")), "w1")
      .join(uni.select(col("word").as("w2"), col("c1").as("c1b")), "w2")
      .crossJoin(broadcast(nw)).crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("n_pair"),
        stableRound(log(col("n_pair") / col("nb") * col("nw") / col("c1a") * col("nw") / col("c1b")), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(CollocTopK)
  }

  val tCollocationsSql: String =
    s"""WITH w AS (SELECT string_split($normSql, ' ') AS w FROM documents),
       |uni AS (SELECT word, count(*) AS c1
       |        FROM (SELECT unnest(w) AS word FROM w) u GROUP BY word),
       |nwt AS (SELECT sum(c1)::DOUBLE AS nw FROM uni),
       |bi AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS n_pair
       |       FROM (SELECT unnest(list_transform(w[1:len(w)-1],
       |              (x, i) -> struct_pack(w1 := x, w2 := w[i+1]))) AS p FROM w) t
       |       GROUP BY 1, 2),
       |nbt AS (SELECT sum(n_pair)::DOUBLE AS nb FROM bi)
       |SELECT w1, w2, n_pair,
       |  floor((ln(n_pair / nb * nw / u1.c1 * nw / u2.c1)) * 1e6 + 0.5) / 1e6 AS pmi
       |FROM bi JOIN uni u1 ON bi.w1 = u1.word JOIN uni u2 ON bi.w2 = u2.word
       |CROSS JOIN nwt CROSS JOIN nbt
       |WHERE n_pair >= $CollocMinCount
       |ORDER BY pmi DESC, w1, w2
       |LIMIT $CollocTopK""".stripMargin

  /** Keywords kept per document by t_keywords. */
  val KeywordTopK = 5

  /** t_keywords — per-document TF-IDF keyword extraction: score every
    * (doc, word) pair as tf·ln(N/df) and keep each document's top
    * [[KeywordTopK]] terms (the topic-signal / keyword-index step of a
    * curation pipeline; cf. the reference's scan+aggregate surface,
    * lib.rs:195-205). The window orders by the ROUNDED score (desc,
    * then word asc), so both engines rank identical doubles — the same
    * round-before-order discipline as tCollocations.
    *
    * Scale shape: one tokenization into per-(doc,word) counts (keyed
    * shuffle with map-side combine, cached — the df branch and the
    * scoring join both read it, saving a corpus re-tokenization); df
    * counts ROWS of that cached frame per word (vocabulary-keyed
    * shuffle, never corpus×vocab) and joins back on word; the top-k
    * window partitions by doc_id, bounded by per-document vocabulary.
    * N is one count() over parquet footers — no data scan. */
  /** Per-doc TF-IDF keyword ranking — the ONE copy of the scoring
    * chain (score = stableRound(tf·ln(N/df), 6), rank = score desc
    * with word tie-break): [[tKeywords]] reports it and
    * [[Retrieval.tBm25]] extracts query terms with it, so the two
    * operators (and their oracle mirrors) cannot drift apart. Input
    * `tf` must carry (doc_id, word, tf); `dfw` carries (word, df). */
  private[graft] def tfIdfRank(tf: DataFrame, dfw: DataFrame,
      n: Double): DataFrame = {
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("word"))
    tf.join(dfw, "word")
      .withColumn("score", stableRound(col("tf") * log(lit(n) / col("df")), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
  }

  def tKeywords(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables(spark, dir).documents.count().toDouble
    val tf = docsSpread(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .cache()
    val dfw = tf.groupBy("word").agg(count(lit(1)).as("df"))
    tfIdfRank(tf, dfw, n)
      .filter(col("rk") <= KeywordTopK)
      .select(col("doc_id"), col("rk"), col("word"), col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  val tKeywordsSql: String =
    s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
       |nt AS (SELECT count(*)::DOUBLE AS n FROM documents),
       |tf AS (SELECT doc_id, word, count(*) AS tf
       |       FROM (SELECT doc_id, unnest(w) AS word FROM w) u GROUP BY 1, 2),
       |dfw AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
       |s AS (SELECT tf.doc_id, tf.word,
       |        floor((tf.tf * ln(nt.n / dfw.df)) * 1e6 + 0.5) / 1e6 AS score
       |      FROM tf JOIN dfw USING (word) CROSS JOIN nt)
       |SELECT doc_id, rk, word, score FROM (
       |  SELECT doc_id, word, score,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rk
       |  FROM s) t
       |WHERE rk <= $KeywordTopK
       |ORDER BY doc_id, rk""".stripMargin

  // --------------------------------------------------- bigram LM

  /** Low-probability threshold on the ROUNDED bigram score — same
    * straddle discipline as [[LogprobTau]]. Flags ~6-10% of the
    * synthetic corpus at every sf (measured: p10 ≈ -1.488 at
    * sf0.001/0.01, 313/5000 flagged at sf0.1). */
  val BigramLpTau = -1.4870

  /** t_bigram_lm — per-doc mean bigram conditional log-probability
    * under the corpus's own bigram LM (log10 per adjacent pair): the
    * CCNet-style fluency filter one order above [[tLogprob]]'s
    * unigram proxy. p(w2|w1) = C(w1,w2) / C(w1·) with both counts
    * from the corpus itself, so every document bigram has mass ≥ 1 —
    * no smoothing needed for a self-scored corpus. Word-salad and
    * shuffled boilerplate score low even when each word is common,
    * which is exactly what the unigram score cannot see.
    *
    * Distribution: one (doc,w1,w2) aggregation (map-side combine,
    * cached — the corpus table and the scoring join both read it);
    * the corpus bigram table and its first-word marginal are
    * VOCABULARY²-bounded, so the scoring joins are small-side
    * (broadcast from stats; a 100M-vocab corpus degrades them to
    * linear shuffle joins, never corpus-sized). Float parity pins the
    * SUM ORDER like [[tLogprob]]: each term n·ln(cb/cu) is one double
    * with the identical op sequence in both engines (long→double
    * division is correctly rounded in both), the per-doc term list
    * sorts ascending, the fold starts from 0.0. Docs with < 2 words
    * have no bigrams and drop out — in both engines. */
  def tBigramLm(spark: SparkSession, dir: String): DataFrame = {
    val toks = docsSpread(spark, dir).select(col("doc_id"), words(col("text")).as("w"))
    val counts = toks.select(col("doc_id"), explode(expr(
        "transform(slice(w, 1, greatest(size(w) - 1, 0)), (x, i) -> struct(x AS w1, w[i + 1] AS w2))")).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("n"))
      .cache()
    val bi = counts.groupBy("w1", "w2").agg(sum("n").as("cb"))
    val uni = bi.groupBy("w1").agg(sum("cb").as("cu"))
    counts.join(bi, Seq("w1", "w2")).join(uni, Seq("w1"))
      .select(col("doc_id"), col("n"),
        (col("n") * log(col("cb").cast("double") / col("cu").cast("double"))).as("term"))
      .groupBy("doc_id")
      .agg(sum("n").cast("long").as("n_bigrams"),
        sort_array(collect_list(col("term"))).as("ts"))
      .select(col("doc_id"), col("n_bigrams"),
        stableRound(graft.functions.expr.FoldExpressions.sumArray(col("ts"))
          / col("n_bigrams") / log(lit(10.0)), 4).as("bigram_lp10"))
      .withColumn("low_fluency", col("bigram_lp10") < BigramLpTau)
      .orderBy("doc_id")
  }

  val tBigramLmSql: String =
    s"""WITH w AS (SELECT doc_id, string_split($normSql, ' ') AS w FROM documents),
       |counts AS (
       |  SELECT doc_id, p.w1 AS w1, p.w2 AS w2, count(*) AS n
       |  FROM (SELECT doc_id, unnest(list_transform(w[1:len(w)-1],
       |         (x, i) -> struct_pack(w1 := x, w2 := w[i+1]))) AS p FROM w) t
       |  GROUP BY 1, 2, 3),
       |bi AS (SELECT w1, w2, sum(n)::BIGINT AS cb FROM counts GROUP BY 1, 2),
       |uni AS (SELECT w1, sum(cb)::BIGINT AS cu FROM bi GROUP BY 1),
       |terms AS (
       |  SELECT doc_id, n, n * ln(cb::DOUBLE / cu::DOUBLE) AS term
       |  FROM counts JOIN bi USING (w1, w2) JOIN uni USING (w1)),
       |g AS (
       |  SELECT doc_id, sum(n)::BIGINT AS n_bigrams, list(term ORDER BY term) AS ts
       |  FROM terms GROUP BY doc_id),
       |s AS (
       |  SELECT doc_id, n_bigrams,
       |    floor((list_reduce(list_prepend(0.0, ts), (a, b) -> a + b)
       |      / n_bigrams / ln(10)) * 1e4 + 0.5) / 1e4 AS bigram_lp10
       |  FROM g)
       |SELECT doc_id, n_bigrams, bigram_lp10, bigram_lp10 < $BigramLpTau AS low_fluency
       |FROM s
       |ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- heavy hitters

  /** Misra–Gries counters. The guarantee threshold is share >
    * 1/(HhK+1); 64 counters track any word above ~1.5% share in
    * bounded memory whatever the vocabulary size. */
  val HhK = 64

  /** t_heavy_hitters — corpus-level heavy-hitter words via the
    * [[graft.functions.expr.MisraGries]] native aggregate: ONE pass
    * over the token stream with ≤ [[HhK]] counters per partial buffer
    * (map-side combined like any aggregate — no word-keyed
    * corpus-wide shuffle, unlike the exact groupBy), then an EXACT
    * recount of only the summary's candidate words (broadcast semi
    * join — ≤ HhK words) and the integer threshold cnt·(K+1) > n.
    * The MG guarantee makes this exact: every word above the
    * threshold is present in the summary whatever the merge order,
    * so the thresholded recount equals the full exact computation —
    * which is the oracle, and the gate hash-match proves it. Scale:
    * the sketch pass is the only corpus-scale stage and it carries
    * O(K) state per task; the candidate recount scans with a
    * broadcast filter. SketchSpec additionally pins the guarantee on
    * a 50k-word Zipf vocabulary where the summary actually prunes. */
  def tHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = docsSpread(spark, dir)
      .select(explode(words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .cache()
    val summary = toks.agg(
      graft.functions.expr.SketchAggregates.misraGries(col("word"), HhK)
        .as("mg"))
      .select(explode(col("mg")).as("e"))
      .select(col("e.word").as("word"))
    val candidates = summary.as[String].collect().toSeq
    val nTotal = toks.count()
    toks.filter(col("word").isInCollection(candidates))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * (HhK + 1) > nTotal)
      .select(col("word"), col("cnt"),
        stableRound(col("cnt") / lit(nTotal.toDouble), 6).as("share"))
      .orderBy(col("cnt").desc, col("word"))
  }

  val tHeavyHittersSql: String =
    s"""WITH w AS (SELECT string_split($normSql, ' ') AS w FROM documents),
       |toks AS (SELECT unnest(w) AS word FROM w),
       |t AS (SELECT word FROM toks WHERE length(word) > 0),
       |nt AS (SELECT count(*)::BIGINT AS n FROM t),
       |c AS (SELECT word, count(*)::BIGINT AS cnt FROM t GROUP BY word)
       |SELECT word, cnt,
       |  floor((cnt / (SELECT n FROM nt)::DOUBLE) * 1e6 + 0.5) / 1e6 AS share
       |FROM c
       |WHERE cnt * (${HhK} + 1) > (SELECT n FROM nt)
       |ORDER BY cnt DESC, word""".stripMargin

  /** t_lang_eval — language-ID evaluation against the corpus's own
    * labels: the confusion matrix (labeled × predicted, with counts
    * and per-labeled-language recall) every pipeline owes itself
    * before trusting a heuristic classifier's routing decisions —
    * the aggregate health check over [[langPredictions]]'s per-doc
    * output. One keyed aggregation + a labeled-language total joined
    * back; integer counts and one guarded division, linear at any
    * scale. */
  def tLangEval(spark: SparkSession, dir: String): DataFrame = {
    val p = langPredictions(spark, dir)
      .select(col("labeled_lang"), col("pred_lang"))
    val cells = p.groupBy("labeled_lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
    val totals = p.groupBy("labeled_lang").agg(count(lit(1)).as("n_labeled"))
    cells.join(totals, "labeled_lang")
      .select(col("labeled_lang"), col("pred_lang"), col("n"),
        col("n_labeled"),
        (col("labeled_lang") === col("pred_lang")).as("correct"),
        stableRound(col("n") / col("n_labeled").cast("double"), 4)
          .as("share_of_labeled"))
      .orderBy("labeled_lang", "pred_lang")
  }

  val tLangEvalSql: String =
    s"""WITH p AS (SELECT labeled_lang, pred_lang FROM ($tLangIdSql) x),
       |cells AS (
       |  SELECT labeled_lang, pred_lang, count(*)::BIGINT AS n
       |  FROM p GROUP BY 1, 2),
       |totals AS (
       |  SELECT labeled_lang, count(*)::BIGINT AS n_labeled
       |  FROM p GROUP BY 1)
       |SELECT c.labeled_lang, c.pred_lang, c.n, t.n_labeled,
       |  (c.labeled_lang = c.pred_lang) AS correct,
       |  floor((c.n / t.n_labeled::DOUBLE) * 1e4 + 0.5) / 1e4 AS share_of_labeled
       |FROM cells c JOIN totals t USING (labeled_lang)
       |ORDER BY labeled_lang, pred_lang""".stripMargin

  // ------------------------------------------------------------ zipf

  /** Zipf fit depth: OLS over the top-K frequency ranks. Deep-tail
    * ranks are hapax-dominated noise; the head is where the power law
    * (and corpus pathology) shows. */
  val ZipfTopK = 64

  /** t_zipf — per-source Zipf law fit: OLS of ln(frequency) on
    * ln(rank) over the top-[[ZipfTopK]] word ranks. A healthy natural
    * corpus slopes ≈ −1 (Zipf 1949); machine-generated or template
    * text flattens (repetitive head) or steepens (tiny effective
    * vocabulary) — a corpus-level quality signal curation reads per
    * SOURCE before mixing (the [[tCorpusStats]] report class), and a
    * drift sentinel when a source's slope moves between snapshots.
    *
    * Scale shape: word frequencies are ONE map-side-combined count on
    * (source, token) — the vocabulary-bounded [[tCollocations]]
    * discipline; the rank window partitions by source over the
    * VOCABULARY frame (≪ corpus; per-source vocab rows, not doc
    * rows), and the OLS fold touches exactly K=[[ZipfTopK]] rows per
    * source. Nothing downstream of the frequency count scales with
    * corpus size.
    *
    * Float parity: ln is the [[tBigramLm]]-proven shared primitive;
    * the four OLS sums fold rank-ascending from 0.0 over a K-bounded
    * sorted list (bounded-fold class), products computed per element
    * before the fold in BOTH engines; slope/intercept spell the
    * identical op tree and round once at the output. */
  def tZipf(spark: SparkSession, dir: String): DataFrame = {
    val d = docsSpread(spark, dir)
    val freq = d.select(col("source"),
        explode(split(normText(col("text")), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("f"))
    val stats = freq.groupBy("source")
      .agg(count(lit(1)).as("n_types"), sum(col("f")).as("n_tokens"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("f").desc, col("tok").asc)
    val pts = freq.withColumn("r", row_number().over(w))
      .filter(col("r") <= ZipfTopK)
      .select(col("source"), col("r"),
        log(col("r").cast("double")).as("lx"),
        log(col("f").cast("double")).as("ly"))
    def fold(f: Column => Column): Column =
      aggregate(col("ps"), lit(0.0), (a, x) => a + f(x))
    val folded = pts.groupBy("source")
      .agg(count(lit(1)).as("k"),
        sort_array(collect_list(struct(col("r"), col("lx"), col("ly"))))
          .as("ps"))
      .select(col("source"), col("k"),
        fold(_.getField("lx")).as("sx"),
        fold(_.getField("ly")).as("sy"),
        fold(x => x.getField("lx") * x.getField("ly")).as("sxy"),
        fold(x => x.getField("lx") * x.getField("lx")).as("sxx"))
      // a single-rank source (k=1 ⇒ lx=0 ⇒ zero OLS denominator) has
      // no fittable slope — report NULL loudly, never NaN
      .withColumn("slope", when(col("k") >= 2,
        (col("k").cast("double") * col("sxy") - col("sx") * col("sy")) /
          (col("k").cast("double") * col("sxx") - col("sx") * col("sx"))))
      .withColumn("intercept", when(col("k") >= 2,
        (col("sy") - col("slope") * col("sx")) / col("k").cast("double")))
    folded.join(stats, Seq("source"))
      .select(col("source"), col("n_types"), col("n_tokens"),
        col("k").as("k_ranks"),
        stableRound(col("slope"), 6).as("zipf_slope"),
        stableRound(col("intercept"), 6).as("zipf_intercept"))
      .orderBy("source")
  }

  val tZipfSql: String =
    s"""WITH freq AS MATERIALIZED (
       |  SELECT source, tok, count(*)::BIGINT AS f
       |  FROM (SELECT source, unnest(string_split($normSql, ' ')) AS tok
       |        FROM documents) t
       |  GROUP BY 1, 2),
       |stats AS (
       |  SELECT source, count(*)::BIGINT AS n_types, sum(f)::BIGINT AS n_tokens
       |  FROM freq GROUP BY 1),
       |pts AS (
       |  SELECT source, r, ln(r::DOUBLE) AS lx, ln(f::DOUBLE) AS ly
       |  FROM (SELECT source, f, tok,
       |          row_number() OVER (PARTITION BY source
       |            ORDER BY f DESC, tok ASC) AS r
       |        FROM freq) q
       |  WHERE r <= $ZipfTopK),
       |folded AS (
       |  SELECT source, count(*)::BIGINT AS k,
       |    list_reduce(list_prepend(0.0, list(lx ORDER BY r)),
       |      (a, b) -> a + b) AS sx,
       |    list_reduce(list_prepend(0.0, list(ly ORDER BY r)),
       |      (a, b) -> a + b) AS sy,
       |    list_reduce(list_prepend(0.0, list(lx * ly ORDER BY r)),
       |      (a, b) -> a + b) AS sxy,
       |    list_reduce(list_prepend(0.0, list(lx * lx ORDER BY r)),
       |      (a, b) -> a + b) AS sxx
       |  FROM pts GROUP BY source),
       |fit AS (
       |  SELECT source, k, sx, sy,
       |    CASE WHEN k >= 2 THEN
       |      (k::DOUBLE * sxy - sx * sy) / (k::DOUBLE * sxx - sx * sx)
       |    END AS slope
       |  FROM folded),
       |fit2 AS (
       |  SELECT source, k, slope,
       |    CASE WHEN k >= 2 THEN (sy - slope * sx) / k::DOUBLE END AS intercept
       |  FROM fit)
       |SELECT s.source, s.n_types, s.n_tokens, f.k AS k_ranks,
       |  ${stableRoundSql("f.slope", 6)} AS zipf_slope,
       |  ${stableRoundSql("f.intercept", 6)} AS zipf_intercept
       |FROM fit2 f JOIN stats s USING (source)
       |ORDER BY source""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t_heavy_hitters" -> tHeavyHitters,
    "t_zipf" -> tZipf,
    "t_lang_eval" -> tLangEval,
    "t_token_count" -> tTokenCount,
    "t_quality" -> tQuality,
    "t_lang_id" -> tLangId,
    "t_fingerprint" -> tFingerprint,
    "t_corpus_stats" -> tCorpusStats,
    "t_pack" -> tPack,
    "t_repetition" -> tRepetition,
    "t_entropy" -> tEntropy,
    "t_logprob" -> tLogprob,
    "t_collocations" -> tCollocations,
    "t_keywords" -> tKeywords,
    "t_bigram_lm" -> tBigramLm,
    "t_readability" -> tReadability,
    "t_jsd" -> tJsd,
    "t_jsd_seg" -> tJsdSeg,
    "t_drift" -> tDrift,
    "t_drift_seg" -> tDriftSeg,
    "t_novelty" -> tNovelty,
  )

  def oracles: Map[String, String] = Map(
    "t_heavy_hitters" -> tHeavyHittersSql,
    "t_zipf" -> tZipfSql,
    "t_lang_eval" -> tLangEvalSql,
    "t_token_count" -> tTokenCountSql,
    "t_quality" -> tQualitySql,
    "t_lang_id" -> tLangIdSql,
    "t_fingerprint" -> tFingerprintSql,
    "t_corpus_stats" -> tCorpusStatsSql,
    "t_pack" -> tPackSql,
    "t_repetition" -> tRepetitionSql,
    "t_entropy" -> tEntropySql,
    "t_logprob" -> tLogprobSql,
    "t_collocations" -> tCollocationsSql,
    "t_keywords" -> tKeywordsSql,
    "t_bigram_lm" -> tBigramLmSql,
    "t_readability" -> tReadabilitySql,
    "t_jsd" -> tJsdSql,
    "t_jsd_seg" -> tJsdSegSql,
    "t_drift" -> tDriftSql,
    "t_drift_seg" -> tDriftSegSql,
    "t_novelty" -> tNoveltySql,
  )
}
