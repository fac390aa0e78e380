package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextFunctions._
import graft.functions.expr.VectorExpressions
import graft.operators.Dedup

/** The custom codegen expressions must be bit-identical to the
  * higher-order-function formulations they replace — the DuckDB
  * oracles were validated against the latter. */
class ExprSpec extends SparkSpec {

  test("DotProduct ≡ aggregate(zip_with) fold, bit for bit") {
    val e = Tables(spark, sf).embeddings.limit(100)
    val hof = aggregate(
      zip_with(col("embedding"), col("embedding"), (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val diff = e.select(
        VectorExpressions.dotProduct(col("embedding"), col("embedding")).as("a"),
        hof.as("b"))
      .filter(col("a") =!= col("b"))
    assert(diff.count() == 0)
  }

  test("SimHash32 ≡ simhashFromHashes, bit for bit") {
    val d = Tables(spark, sf).documents.limit(100)
      .select(col("doc_id"),
        transform(split(normText(col("text")), " "), w => md5_32(w)).as("hs"))
    val diff = d.select(
        VectorExpressions.simhash32(col("hs")).as("a"),
        Dedup.simhashFromHashes(col("hs")).as("b"))
      .filter(col("a") =!= col("b"))
    assert(diff.count() == 0)
  }

  test("MinHashSigs ≡ per-permutation aggregate, bit for bit") {
    val d = Tables(spark, sf).documents.limit(100)
      .select(col("doc_id"),
        transform(shingles(col("text"), 3), s => md5_32(s)).as("hs"))
    val P = Dedup.P
    val hof = transform(sequence(lit(0), lit(Dedup.NumPerms - 1)), i =>
      aggregate(col("hs"), lit(P),
        (acc, h) => least(acc, ((lit(2L) * i + 1L) * h + (lit(1000003L) * (i + 1)) % P) % P)))
    val diff = d.select(
        VectorExpressions.minhashSigs(col("hs"), Dedup.NumPerms, P).as("a"),
        hof.as("b"))
      .filter(col("a") =!= col("b"))
    assert(diff.count() == 0)
  }

  test("WordChunks ≡ per-chunk slice/join on a materialized word array") {
    val n = Dedup.ChunkWords
    // Reference formulation over a MATERIALIZED array column (safe for
    // a spec; in the operator this shape would re-evaluate the split
    // per chunk after projection collapse — why WordChunks exists).
    val d = Tables(spark, sf).documents.limit(200)
      .select(col("doc_id"), words(col("text")).as("w"))
      .localCheckpoint()
    val ref = expr(
      s"transform(sequence(1, size(w) div $n), c -> array_join(slice(w, (c - 1) * $n + 1, $n), ' '))")
    val diff = d.select(
        VectorExpressions.wordChunks(col("w"), n).as("a"),
        when(size(col("w")) >= n, ref)
          .otherwise(array().cast("array<string>")).as("b"))
      .filter(col("a") =!= col("b"))
    assert(diff.count() == 0)
    // order and duplicates preserved: chunk count is exactly ⌊m/n⌋
    val badLen = d.select(size(VectorExpressions.wordChunks(col("w"), n)).as("k"),
        expr(s"size(w) div $n").as("e"))
      .filter(col("k") =!= col("e"))
    assert(badLen.count() == 0)
  }

  test("NormText ≡ the lower/regex/trim chain on ASCII, Unicode, and edge strings") {
    // the chain normText used to build inline — the reference
    def chain(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))
    val rng = new scala.util.Random(7)
    val ascii = (1 to 300).map { _ =>
      (1 to rng.nextInt(80)).map(_ => rng.nextPrintableChar()).mkString
    }
    val edge = Seq("", " ", "   ", "a", "A", "  a  b  ", "a!b@c#1$2%3",
      "ALL CAPS", "tabs\tand\nnewlines", "mixedÜnicodé", "ünicode only",
      "Kelvin K sign", "emoji 😀 mid", "trailing space ",
      " leading", "1234567890", "!@#$%^&*()")
    val uni = (1 to 100).map { _ =>
      (1 to rng.nextInt(30)).map(_ => (rng.nextInt(0xCFFF) + 1).toChar).mkString
    }
    val rows = (ascii ++ edge ++ uni).map(s => org.apache.spark.sql.Row(s))
    val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
      .localCheckpoint()
    val diff = df.select(normText(col("text")).as("a"), chain(col("text")).as("b"))
      .filter(!(col("a") <=> col("b")))
    assert(diff.count() == 0)
  }

  test("RoundHalfUp ≡ the when/isnan/floor chain, bit for bit incl. non-finite") {
    import graft.functions.Parity
    // the chain stableRound used to build inline — kept here as the
    // reference the expression is pinned against
    def chain(c: org.apache.spark.sql.Column, s: Int): org.apache.spark.sql.Column = {
      val p = math.pow(10, s)
      when(isnan(c) || abs(c) === lit(Double.PositiveInfinity), c)
        .otherwise(floor(c * lit(p) + lit(0.5)) / lit(p))
    }
    val vals = Seq(0.0, -0.0, 1.0 / 3, -1.0 / 3, 0.005, -0.005, 0.015,
      52724.244999999995, -52724.244999999995, 1e15, -1e15, 1e18, -1e18,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, 4.9e-300, 123456.789012345) ++
      (1 to 400).map(i => math.sin(i.toDouble) * math.pow(10, i % 12))
    val df = spark.createDataFrame(
        spark.sparkContext.parallelize(vals.map(org.apache.spark.sql.Row(_)), 2),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.DoubleType))))
      .localCheckpoint()
    for (s <- Seq(0, 2, 4, 6, 15)) {
      val diff = df.select(Parity.stableRound(col("v"), s).as("a"),
          chain(col("v"), s).as("b"))
        // NaN = NaN must count as equal: compare raw bits
        .filter(expr("""
          CASE WHEN isnan(a) AND isnan(b) THEN false ELSE a <=> b = false END"""))
      assert(diff.count() == 0, s"scale $s diverged")
    }
  }

  // ------------------------------------------------- fold expressions
  // Each codegen'd fold is pinned bit-for-bit against the HOF spelling
  // it replaced, over randomized arrays INCLUDING empty arrays, null
  // arrays, and null elements (the null-poisoning / null-skipping
  // semantics are part of the contract).

  import graft.functions.expr.FoldExpressions

  /** Random array<double> frame with empties, a null array, and null
    * elements sprinkled in. */
  private def doubleArrays(withNullElems: Boolean) = {
    val rng = new scala.util.Random(11)
    val rows: Seq[Seq[java.lang.Double]] =
      (1 to 200).map { _ =>
        (1 to rng.nextInt(12)).map { _ =>
          if (withNullElems && rng.nextInt(20) == 0) null
          else java.lang.Double.valueOf((rng.nextDouble() - 0.5) * math.pow(10, rng.nextInt(6)))
        }
      } ++ Seq(Seq.empty[java.lang.Double], null)
    val data = rows.map(r =>
      org.apache.spark.sql.Row(if (r == null) null else r))
    spark.createDataFrame(
        spark.sparkContext.parallelize(data, 2),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("xs",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType, containsNull = true)))))
      .localCheckpoint()
  }

  private def assertBitEqual(df: org.apache.spark.sql.DataFrame): Unit = {
    val diff = df.filter(expr(
      "CASE WHEN isnan(a) AND isnan(b) THEN false ELSE (a <=> b) = false END"))
    assert(diff.count() == 0)
  }

  test("SumArray ≡ aggregate(+) fold incl. empty/null-array/null-element") {
    assertBitEqual(doubleArrays(withNullElems = true).select(
      FoldExpressions.sumArray(col("xs")).as("a"),
      aggregate(col("xs"), lit(0.0), (acc, x) => acc + x).as("b")))
  }

  test("SumArrayField ≡ aggregate(+ getField) fold incl. null fields") {
    val base = doubleArrays(withNullElems = true)
      .select(transform(col("xs"),
        (x, i) => struct(i.cast("long").as("k"), x.as("s"))).as("ss"))
      .localCheckpoint()
    assertBitEqual(base.select(
      FoldExpressions.sumArrayField(col("ss"), "s").as("a"),
      aggregate(col("ss"), lit(0.0), (acc, x) => acc + x.getField("s")).as("b")))
  }

  test("AbsMaxArray ≡ aggregate(greatest∘abs) incl. null-skip and NaN-largest") {
    val extra = Seq(Seq[java.lang.Double](Double.NaN, 5.0),
      Seq[java.lang.Double](null, -7.5), Seq[java.lang.Double](-0.0))
    val df = doubleArrays(withNullElems = true).unionByName(
      spark.createDataFrame(
        spark.sparkContext.parallelize(extra.map(org.apache.spark.sql.Row(_)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("xs",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType, containsNull = true))))))
    assertBitEqual(df.select(
      FoldExpressions.absMaxArray(col("xs")).as("a"),
      aggregate(transform(col("xs"), x => abs(x.cast("double"))),
        lit(0.0), (acc, x) => greatest(acc, x)).as("b")))
    // the float-element path (the operator inputs are float embeddings)
    val f = Tables(spark, sf).embeddings.limit(100)
    assertBitEqual(f.select(
      FoldExpressions.absMaxArray(col("embedding")).as("a"),
      aggregate(transform(col("embedding"), x => abs(x.cast("double"))),
        lit(0.0), (acc, x) => greatest(acc, x)).as("b")))
  }

  test("DotProductLong ≡ aggregate(zip_with int·int→long) incl. unequal lengths") {
    val rng = new scala.util.Random(13)
    val rows = (1 to 200).map { _ =>
      val n = rng.nextInt(10)
      val m = if (rng.nextInt(10) == 0) n + 1 else n // some unequal pairs
      org.apache.spark.sql.Row(
        (1 to n).map(_ => rng.nextInt(255) - 127),
        (1 to m).map(_ => rng.nextInt(255) - 127))
    }
    val it = org.apache.spark.sql.types.IntegerType
    val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("p",
            org.apache.spark.sql.types.ArrayType(it, containsNull = true)),
          org.apache.spark.sql.types.StructField("q",
            org.apache.spark.sql.types.ArrayType(it, containsNull = true)))))
      .localCheckpoint()
    val diff = df.select(
        FoldExpressions.dotProductLong(col("p"), col("q")).as("a"),
        aggregate(zip_with(col("p"), col("q"), (x, y) => (x * y).cast("long")),
          lit(0L), (acc, x) => acc + x).as("b"))
      .filter(!(col("a") <=> col("b")))
    assert(diff.count() == 0)
  }

  test("SquaredL2 ≡ aggregate(zip_with (x−y)²) on float×double arrays") {
    val e = Tables(spark, sf).embeddings.limit(100)
      .select(col("embedding"),
        transform(col("embedding"), x => x.cast("double") * lit(0.75)).as("c"))
      .localCheckpoint()
    assertBitEqual(e.select(
      FoldExpressions.squaredL2(col("embedding"), col("c")).as("a"),
      aggregate(zip_with(col("embedding"), col("c"),
        (x, cc) => (x - cc) * (x - cc)), lit(0.0), (acc, t) => acc + t).as("b")))
  }

  test("IntersectCountSorted ≡ size(array_intersect) on sorted long and string arrays") {
    import graft.functions.expr.FoldExpressions
    val rng = new scala.util.Random(19)
    // longs: random multisets (duplicates common), some empties
    val longRows = (1 to 300).map { _ =>
      org.apache.spark.sql.Row(
        (1 to rng.nextInt(15)).map(_ => rng.nextInt(20).toLong: java.lang.Long),
        (1 to rng.nextInt(15)).map(_ => rng.nextInt(20).toLong: java.lang.Long))
    } ++ Seq(org.apache.spark.sql.Row(Seq.empty, Seq(1L: java.lang.Long)),
      org.apache.spark.sql.Row(null, Seq(1L: java.lang.Long)),
      org.apache.spark.sql.Row(Seq[java.lang.Long](1L, null, null),
        Seq[java.lang.Long](null, 2L)))
    val lt = org.apache.spark.sql.types.LongType
    val at = org.apache.spark.sql.types.ArrayType(lt, containsNull = true)
    val dfL = spark.createDataFrame(
        spark.sparkContext.parallelize(longRows, 2),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("p", at),
          org.apache.spark.sql.types.StructField("q", at))))
      // array_sort (nulls LAST — the operators' sort), not sort_array
      // (nulls first): the expression's null handling assumes the
      // array_sort order
      .select(array_sort(col("p")).as("p"), array_sort(col("q")).as("q"))
      .localCheckpoint()
    val diffL = dfL.select(
        FoldExpressions.intersectCountSorted(col("p"), col("q")).as("a"),
        size(array_intersect(col("p"), col("q"))).as("b"))
      .filter(!(col("a") <=> col("b")))
    assert(diffL.count() == 0)
    // strings: the real shingle shape (sorted distinct corpus shingles)
    val sets = Tables(spark, sf).documents.limit(200)
      .select(col("doc_id"), array_sort(shingles(col("text"), 3)).as("s"))
      .localCheckpoint()
    val pairs = sets.select(col("doc_id").as("i"), col("s").as("p"))
      .crossJoin(sets.limit(20).select(col("s").as("q")))
    val diffS = pairs.select(
        FoldExpressions.intersectCountSorted(col("p"), col("q")).as("a"),
        size(array_intersect(col("p"), col("q"))).as("b"))
      .filter(!(col("a") <=> col("b")))
    assert(diffS.count() == 0)
  }

  test("BPE expressions ≡ their HOF spellings on corpus words") {
    import graft.functions.expr.BpeExpressions
    // token arrays: corpus words split to characters (the BPE input)
    val toks = Tables(spark, sf).documents.limit(300)
      .select(explode(words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .select(split(col("word"), "").as("toks"))
      .localCheckpoint()
    // historical fold spelling of the greedy fuse
    def fuseFold(c: org.apache.spark.sql.Column, l: String, r: String,
        m: String): org.apache.spark.sql.Column =
      aggregate(c, array().cast("array<string>"),
        (acc, t) => when(
          size(acc) > 0 && element_at(acc, -1) === lit(l) && t === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(m))))
          .otherwise(concat(acc, array(t))))
    // single merge, a CHAINED-tail merge (m participates as l), and a
    // two-rank replay
    val onePass = toks.select(
        BpeExpressions.fuse(col("toks"), "e", "r", "er").as("a"),
        fuseFold(col("toks"), "e", "r", "er").as("b"))
      .filter(!(col("a") <=> col("b")))
    assert(onePass.count() == 0)
    val chained = toks.select(
        BpeExpressions.fuseAll(col("toks"),
          Seq(("a", "a", "aa"), ("aa", "a", "aaa"))).as("a"),
        fuseFold(fuseFold(col("toks"), "a", "a", "aa"), "aa", "a", "aaa").as("b"))
      .filter(!(col("a") <=> col("b")))
    assert(chained.count() == 0)
    // adjacent pairs ≡ zip_with(slice, slice, struct)
    val pairsDiff = toks.select(
        BpeExpressions.adjacentPairs(col("toks")).as("a"),
        zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("l"), b.as("r"))).as("b"))
      .filter(!(col("a").cast("array<struct<l:string,r:string>>") <=>
        col("b").cast("array<struct<l:string,r:string>>")))
    assert(pairsDiff.count() == 0)
    // hasAdjacentPair ≡ exists(zip_with(...))
    val hasDiff = toks.select(
        BpeExpressions.hasAdjacentPair(col("toks"), "t", "h").as("a"),
        exists(
          zip_with(
            slice(col("toks"), lit(1), size(col("toks")) - 1),
            slice(col("toks"), lit(2), size(col("toks")) - 1),
            (a, b) => a === lit("t") && b === lit("h")),
          x => x).as("b"))
      .filter(!(col("a") <=> col("b")))
    assert(hasDiff.count() == 0)
  }

  test("Md5_32 ≡ conv(substring(md5,1,8),16,10) chain on corpus words and edge strings") {
    val words_ = Tables(spark, sf).documents.limit(300)
      .select(explode(words(col("text"))).as("w"))
      .unionByName(spark.range(1).select(lit("").as("w")))
      .unionByName(spark.range(1).select(lit("ünicode π").as("w")))
      .localCheckpoint()
    val diff = words_.select(
        md5_32(col("w")).as("a"),
        conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long").as("b"))
      .filter(!(col("a") <=> col("b")))
    assert(diff.count() == 0)
  }

  test("HistogramBins ≡ transform(sequence, size∘filter) incl. out-of-range and null elems") {
    import graft.functions.expr.FoldExpressions
    val rng = new scala.util.Random(23)
    val rows = (1 to 200).map { _ =>
      org.apache.spark.sql.Row((1 to rng.nextInt(40)).map { _ =>
        val r = rng.nextInt(20)
        if (r == 0) null
        else if (r == 1) java.lang.Long.valueOf(-3L) // out of range low
        else if (r == 2) java.lang.Long.valueOf(99L) // out of range high
        else java.lang.Long.valueOf(rng.nextInt(16).toLong)
      })
    } :+ org.apache.spark.sql.Row(Seq.empty[java.lang.Long])
    val lt = org.apache.spark.sql.types.LongType
    val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("xs",
            org.apache.spark.sql.types.ArrayType(lt, containsNull = true)))))
      .localCheckpoint()
    val diff = df.select(
        FoldExpressions.histogramBins(col("xs"), 16).as("a"),
        transform(sequence(lit(0), lit(15)),
          i => size(filter(col("xs"), b => b === i)).cast("long")).as("b"))
      .filter(!(col("a") <=> col("b")))
    assert(diff.count() == 0)
  }

  test("EntropyFold ≡ aggregate(−(c/n)·ln(c/n)) on long counts") {
    val rng = new scala.util.Random(17)
    val rows = (1 to 200).map { _ =>
      val cs = (1 to (1 + rng.nextInt(10))).map(_ => 1L + rng.nextInt(50).toLong)
      org.apache.spark.sql.Row(cs, java.lang.Long.valueOf(cs.sum))
    }
    val lt = org.apache.spark.sql.types.LongType
    val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cs",
            org.apache.spark.sql.types.ArrayType(lt, containsNull = true)),
          org.apache.spark.sql.types.StructField("n", lt))))
      .localCheckpoint()
    assertBitEqual(df.select(
      FoldExpressions.entropyFold(col("cs"), col("n")).as("a"),
      aggregate(col("cs"), lit(0.0),
        (acc, c) => acc - (c / col("n")) * log(c / col("n"))).as("b")))
  }

  test("fold expressions reject mistyped input at analysis") {
    val df = spark.range(1).select(
      array(lit(1)).as("ai"), array(lit(1L)).as("al"),
      array(lit(1.0)).as("ad"), array(lit("x")).as("as"),
      lit(1).as("i"), lit(1L).as("l"))
    val mistyped = Seq(
      "EntropyFold(array<int>, bigint)" ->
        FoldExpressions.entropyFold(col("ai"), col("l")),
      "EntropyFold(array<bigint>, int)" ->
        FoldExpressions.entropyFold(col("al"), col("i")),
      "DotProductLong(array<bigint>, array<int>)" ->
        FoldExpressions.dotProductLong(col("al"), col("ai")),
      "IntersectCountSorted(array<bigint>, array<string>)" ->
        FoldExpressions.intersectCountSorted(col("al"), col("as")),
      "IntersectCountSorted(array<int>, array<int>)" ->
        FoldExpressions.intersectCountSorted(col("ai"), col("ai")),
      "SquaredL2(array<bigint>, array<double>)" ->
        FoldExpressions.squaredL2(col("al"), col("ad")))
    mistyped.foreach { case (what, c) =>
      withClue(what) { intercept[org.apache.spark.sql.AnalysisException](df.select(c)) }
    }
    // the types each expression reads still analyze
    df.select(FoldExpressions.entropyFold(col("al"), col("l")),
      FoldExpressions.dotProductLong(col("ai"), col("ai")),
      FoldExpressions.intersectCountSorted(col("as"), col("as")),
      FoldExpressions.squaredL2(col("ad"), col("ad"))).collect()
  }

  test("BPE expressions read a null slot of an UnsafeArrayData as a null token") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeArrayData, UnsafeProjection}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.expr.{AdjacentPairs, FuseBpeAll, HasAdjacentPair}
    val at = ArrayType(StringType, containsNull = true)
    val u = UTF8String.fromString _
    val row = UnsafeProjection.create(Array[DataType](at))
      .apply(InternalRow(new GenericArrayData(Array[Any](u("a"), null, u("b"), u("a"), u("b")))))
    assert(row.getArray(0).isInstanceOf[UnsafeArrayData] && row.getArray(0).isNullAt(1))
    val toks = BoundReference(0, at, nullable = true)
    def strings(v: Any): Seq[String] = {
      val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      (0 until a.numElements()).map(i =>
        if (a.isNullAt(i)) null else a.getUTF8String(i).toString)
    }
    // a null token never fuses and is kept in place
    assert(strings(FuseBpeAll(toks, Seq(("a", "b", "ab"))).eval(row)) ==
      Seq("a", null, "b", "ab"))
    // pairs keep the null on either side
    val pairs = AdjacentPairs(toks).eval(row)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val got = (0 until pairs.numElements()).map { i =>
      val s = pairs.getStruct(i, 2)
      (if (s.isNullAt(0)) null else s.getUTF8String(0).toString,
        if (s.isNullAt(1)) null else s.getUTF8String(1).toString)
    }
    assert(got == Seq(("a", null), (null, "b"), ("b", "a"), ("a", "b")))
    // exists semantics: a match wins; else a null comparison → null;
    // else false
    assert(HasAdjacentPair(toks, "a", "b").eval(row) == true)
    assert(HasAdjacentPair(toks, "q", "b").eval(row) == null)
    assert(HasAdjacentPair(toks, "q", "z").eval(row) == false)
  }
}
