package graft.perf

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of the
  * seed and a row's key, so executors build the frames in parallel
  * while the driver rebuilds the same rows for the reference model.
  * Shapes follow the sf0.1 synthetic tables: lineitem is 150k orders
  * of 1–7 lines (~600k rows, orderkeys and linenumbers dense), ship
  * dates are whole days over ~7 years; documents are 5,000 texts over
  * a 30-word vocabulary with 5% near-duplicates; embeddings are 2,000
  * unit 64-d vectors in 10 labelled clusters. */
object Gen {
  val Orders = 150000
  val Parts = 20000
  val Suppliers = 1000
  val ShipDays = 2500
  val ShipEpoch: LocalDateTime = LocalDateTime.parse("1995-01-02T00:00:00")

  /** The seed every pipeline run uses for its corpus: the committed
    * output fingerprints are for exactly this corpus. */
  val CorpusSeed = 42L

  private def rng(seed: Long, key: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ key * 0xBF58476D1CE4E5B9L ^ stream)

  /** One lineitem row: the columns the model keeps plus the rest. */
  final case class Line(orderkey: Long, partkey: Long, suppkey: Long,
      linenumber: Int, quantity: Double, price: Double, discount: Double,
      tax: Double, returnflag: String, linestatus: String, shipDay: Int) {
    def shipdate: LocalDateTime = ShipEpoch.plusDays(shipDay.toLong)
    def toRow: Row = Row(orderkey, partkey, suppkey, linenumber, quantity,
      price, discount, tax, returnflag, linestatus, shipdate)
  }

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_partkey", LongType, nullable = false),
    StructField("l_suppkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_quantity", DoubleType, nullable = false),
    StructField("l_extendedprice", DoubleType, nullable = false),
    StructField("l_discount", DoubleType, nullable = false),
    StructField("l_tax", DoubleType, nullable = false),
    StructField("l_returnflag", StringType, nullable = false),
    StructField("l_linestatus", StringType, nullable = false),
    StructField("l_shipdate", TimestampNTZType, nullable = false)))

  /** The lines of one order, linenumbers 1..n. */
  def lines(seed: Long, orderkey: Long): Seq[Line] = {
    val r = rng(seed, orderkey, 1L)
    val n = 1 + r.nextInt(7)
    (1 to n).map { ln =>
      val qty = (1 + r.nextInt(50)).toDouble
      val unit = 900 + r.nextInt(1200)
      Line(orderkey, r.nextInt(Parts).toLong, r.nextInt(Suppliers).toLong, ln,
        qty, math.round(qty * unit * 100.0 / 57) / 100.0, r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, "ANR".charAt(r.nextInt(3)).toString,
        "FO".charAt(r.nextInt(2)).toString, r.nextInt(ShipDays))
    }
  }

  /** Lineitem for orderkeys [from, until), built on the executors. */
  def lineitem(spark: SparkSession, seed: Long, from: Long, until: Long): DataFrame = {
    val rows = spark.sparkContext
      .range(from, until, 1, spark.sparkContext.defaultParallelism)
      .flatMap(ok => lines(seed, ok).map(_.toRow))
    spark.createDataFrame(rows, lineitemSchema)
  }

  private val Vocab = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val Langs = Array("en", "en", "en", "en", "en", "en", "en", "en",
    "zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")

  val Documents = 5000

  private def baseText(seed: Long, docId: Long): String = {
    val r = rng(seed, docId, 2L)
    val words = 10 + r.nextInt(91)
    (0 until words).map(_ => Vocab(r.nextInt(Vocab.length))).mkString(" ")
  }

  /** documents(doc_id, text, lang, source, n_chars): every 20th doc
    * past the first 250 repeats an earlier doc's text plus " dup". */
  def documents(spark: SparkSession, seed: Long, count: Int = Documents): DataFrame = {
    val rows = (0L until count).map { id =>
      val r = rng(seed, id, 3L)
      val text =
        if (id >= 250 && id % 20 == 7) baseText(seed, r.nextLong(id)) + " dup"
        else baseText(seed, id)
      Row(id, text, Langs(r.nextInt(Langs.length)), s"src${id % 20}",
        text.length.toLong)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
  }

  val Embeddings = 2000
  val Dim = 64

  /** embeddings(vec_id, embedding, label): unit vectors around ten
    * weak label centroids. */
  def embeddings(spark: SparkSession, seed: Long, count: Int = Embeddings): DataFrame = {
    val centroids = (0 until 10).map { l =>
      val r = rng(seed, l.toLong, 4L)
      Array.fill(Dim)(r.nextDouble(-1.0, 1.0))
    }
    val rows = (0L until count).map { id =>
      val r = rng(seed, id, 5L)
      val label = r.nextInt(10)
      val v = Array.tabulate(Dim)(i => centroids(label)(i) * 0.1 + gaussian(r))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(id, v.map(x => (x / norm).toFloat).toSeq, label)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box–Muller on the split stream keeps the draw a pure function of
    // the row's key
    val u1 = r.nextDouble(1e-12, 1.0)
    val u2 = r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Write the pipeline corpus (lineitem, documents, embeddings) as
    * one parquet file per table under `dir`, the layout the operators'
    * table loaders read. Smaller counts give a corpus of the same shape
    * (the warm-up's). */
  def writeCorpus(spark: SparkSession, dir: String, orders: Int = Orders,
      documents: Int = Documents, embeddings: Int = Embeddings): Unit = {
    def one(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    one(lineitem(spark, CorpusSeed, 0L, orders), "lineitem")
    one(this.documents(spark, CorpusSeed, documents), "documents")
    one(this.embeddings(spark, CorpusSeed, embeddings), "embeddings")
  }
}
