package graft.storage

import java.util.Properties

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import graft.core.{Comparison, Condition, Value}
import graft.storage.IndexedStore.BucketCol

/** A generation's physical layout — the bucketing that serves its
  * primary index — parsed once from the `layout` sidecar key. It owns
  * the on-disk string, the `__bucket` expression write and append
  * share, the within-bucket sort, the probe-side bucket predicate and
  * the indexed columns. A bucket id is a pure function of the layout
  * value and the row, so a generation rewritten into its own layout
  * (compact) keeps every row's bucket. Formats: `hash:<col>:<n>`,
  * `range:<col>:<cuts>`, the legacy 2-d curves
  * `zorder|hilbert:<a>:<b>:<bits>:<cutsA>|<cutsB>` and
  * `zordern:<c1>,..,<cn>:<bits>:<cuts1>|..|<cutsn>` (comma-joined
  * double cuts). */
private[storage] sealed trait Layout {
  /** The indexed columns, in layout order. */
  def columns: Seq[String]
  /** The `layout` sidecar value. */
  def render: String
  /** A row's `__bucket`. */
  def bucket: Column
  /** The column rows sort by within a bucket, if any. */
  def sortColumn: Option[String]
  /** The `kind.*` the layout gives its columns (which probes it serves). */
  def kind: String = "range"

  /** Columns whose per-file zone bounds prune nothing: a hash key's
    * zones span the domain, curve columns are pruned cell-wise. A
    * range key keeps its zones — appends make buckets multi-file. */
  def unzoned: Seq[String]

  /** The bucket predicate for a probe whose chosen index is `chosen`;
    * None when the layout does not serve that index. `typeOf` gives a
    * column's stored type. */
  def probe(chosen: String, conds: Seq[Condition],
      typeOf: String => DataType): Option[Column]
}

private[storage] object Layout {
  /** Equality buckets: `pmod(hash(col), n)`. */
  final case class Hash(column: String, buckets: Int) extends Layout {
    def columns: Seq[String] = Seq(column)
    def render: String = s"hash:$column:$buckets"
    def bucket: Column = pmod(hash(col(column)), lit(buckets))
    def sortColumn: Option[String] = None
    override def kind: String = "hash"
    def unzoned: Seq[String] = columns
    def probe(chosen: String, conds: Seq[Condition],
        typeOf: String => DataType): Option[Column] =
      if (chosen != column) None
      else conds.collect {
        case Condition(`column`, Comparison.Equal(Value.Const(v))) =>
          // Murmur3 is type-sensitive: hash the literal as the stored
          // type, or an Int probe of a Long column prunes to the wrong
          // bucket. An equality probe constant-folds to one bucket.
          col(BucketCol) === pmod(hash(lit(v).cast(typeOf(column))), lit(buckets))
      }.reduceOption(_ && _)
  }

  /** Quantile buckets over one numeric key, sorted by it. */
  final case class Range(column: String, cuts: Seq[Double]) extends Layout {
    def columns: Seq[String] = Seq(column)
    def render: String = s"range:$column:${cuts.mkString(",")}"
    def bucket: Column = rangeBucket(col(column), cuts)
    def sortColumn: Option[String] = Some(column)
    def unzoned: Seq[String] = Nil
    def probe(chosen: String, conds: Seq[Condition],
        typeOf: String => DataType): Option[Column] =
      if (chosen != column) None
      else conds.collect {
        case Condition(`column`, cmp) => cmp match {
          case Comparison.Equal(Value.Const(v)) =>
            col(BucketCol) === rangeBucket(lit(v), cuts)
          case Comparison.Between(Value.Const(lo), _, Value.Const(hi), _) =>
            col(BucketCol).between(rangeBucket(lit(lo), cuts), rangeBucket(lit(hi), cuts))
          case Comparison.Less(Value.Const(v), _) =>
            col(BucketCol) <= rangeBucket(lit(v), cuts)
          case Comparison.Greater(Value.Const(v), _) =>
            col(BucketCol) >= rangeBucket(lit(v), cuts)
          case _ => lit(true)
        }
      }.reduceOption(_ && _)
  }

  /** Curve cells over per-column quantile ranks (`2^bits` each), cell
    * = bit-interleave of the ranks. `name` is the on-disk kind:
    * `zorder`, `hilbert` (2-d) or `zordern`; Hilbert only renumbers. */
  final case class Curve(name: String, columns: Seq[String], bits: Int,
      cuts: Seq[Seq[Double]]) extends Layout {
    private def hilbert = name == "hilbert"

    def render: String = {
      val cutStr = cuts.map(_.mkString(",")).mkString("|")
      if (name == "zordern") s"zordern:${columns.mkString(",")}:$bits:$cutStr"
      else s"$name:${columns.mkString(":")}:$bits:$cutStr"
    }

    def bucket: Column = {
      val zc = zBucketN(columns.map(col), cuts, bits)
      if (hilbert) hilbertFromZ(zc, bits) else zc
    }

    def sortColumn: Option[String] = Some(columns.head)
    def unzoned: Seq[String] = columns

    /** The grid walk: conditions on curve columns bound their
      * dimensions; the cells inside the box are kept, whatever index
      * was chosen. */
    def probe(chosen: String, conds: Seq[Condition],
        typeOf: String => DataType): Option[Column] = {
      val n = columns.size
      val ranges: Seq[(Int, (Int, Int))] = conds.flatMap { cond =>
        val d = columns.indexOf(cond.column)
        if (d < 0) None
        else bucketRange(cuts(d), cond.cmp, (1 << bits) - 1).map((d, _))
      }
      val cells = (0 until (1 << (n * bits))).flatMap { z =>
        val keep = ranges.forall { case (d, (lo, hi)) =>
          val v = zCoordN(z, n, bits, d); v >= lo && v <= hi
        }
        if (keep) Some(if (hilbert) hilbertOfZ(z, bits) else z) else None
      }
      Some(col(BucketCol).isin(cells: _*))
    }
  }

  /** The layout a generation's sidecar records. */
  def of(props: Properties): Layout = parse(props.getProperty("layout"))

  /** A `layout` sidecar value (formats above); throws on any other. */
  def parse(s: String): Layout = {
    def cutsOf(c: String): Seq[Double] = c.split(",").toSeq.filter(_.nonEmpty).map(_.toDouble)
    def cutList(c: String): Seq[Seq[Double]] = c.split("\\|", -1).toSeq.map(cutsOf)
    s.split(":", -1) match {
      case Array("hash", c, n) => Hash(c, n.toInt)
      case Array("range", c, cuts) => Range(c, cutsOf(cuts))
      case Array("zordern", cs, bits, cuts) =>
        Curve("zordern", cs.split(",").toSeq, bits.toInt, cutList(cuts))
      case Array(name @ ("zorder" | "hilbert"), a, b, bits, cuts) =>
        Curve(name, Seq(a, b), bits.toInt, cutList(cuts))
      case _ => throw new IllegalArgumentException(s"unknown store layout '$s'")
    }
  }

  /** Bucket id = number of cuts ≤ value (monotone in the key, so a
    * range of keys maps to a contiguous bucket range). */
  private def rangeBucket(c: Column, cuts: Seq[Double]): Column =
    cuts.foldLeft(lit(0)) { (acc, b) => acc + when(c >= b, 1).otherwise(0) }

  /** N-dim z-cell id: bit k of dimension d lands at position
    * k·N + (N-1-d) (at n=2, the 2-d a/b interleave: a-bits odd). */
  private def zBucketN(cols: Seq[Column], cuts: Seq[Seq[Double]], bits: Int): Column = {
    val n = cols.size
    val ranks = cols.zip(cuts).map { case (c, cu) => rangeBucket(c, cu) }
    (0 until bits).flatMap { k =>
      ranks.zipWithIndex.map { case (r, d) =>
        shiftleft(shiftright(r, k).bitwiseAND(lit(1)), k * n + (n - 1 - d))
      }
    }.reduce(_ bitwiseOR _)
  }

  /** Dimension-d coordinate of N-dim z-cell `z` (inverse of
    * [[zBucketN]], driver-side). */
  private def zCoordN(z: Int, n: Int, bits: Int, d: Int): Int =
    (0 until bits).map(k => ((z >> (k * n + (n - 1 - d))) & 1) << k).sum

  /** Probe-side bucket range for one comparison over one dimension's
    * cuts; `nMax` is the top bucket id. None when the value doesn't
    * parse as a number (a mistyped probe degrades to an unpruned scan).
    * A lower bound exactly on a cut widens one bucket down: the literal
    * rounds through double, so the pruned set stays a superset. */
  private def bucketRange(cuts: Seq[Double], cmp: Comparison,
      nMax: Int): Option[(Int, Int)] = {
    def bk(v: Any): Option[Int] =
      scala.util.Try(v.toString.toDouble).toOption.map(d => cuts.count(_ <= d))
    def loBk(v: Any): Option[Int] = bk(v).map { b =>
      val d = v.toString.toDouble
      if (cuts.contains(d)) math.max(b - 1, 0) else b
    }
    cmp match {
      case Comparison.Equal(Value.Const(v)) =>
        for (lo <- loBk(v); hi <- bk(v)) yield (lo, hi)
      case Comparison.Between(Value.Const(lo), _, Value.Const(hi), _) =>
        for (l <- loBk(lo); h <- bk(hi)) yield (l, h)
      case Comparison.Less(Value.Const(v), _) => bk(v).map((0, _))
      case Comparison.Greater(Value.Const(v), _) => loBk(v).map((_, nMax))
      case _ => None
    }
  }

  /** Hilbert index of grid cell (x, y) on a 2^bits × 2^bits grid: the
    * standard rotate-and-accumulate walk, driver-side. */
  private def xy2d(bits: Int, x0: Int, y0: Int): Int = {
    var x = x0; var y = y0; var d = 0
    var s = 1 << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1 else 0
      val ry = if ((y & s) > 0) 1 else 0
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) { // rotate the quadrant so the walk stays contiguous
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Hilbert cell id from the z-cell id: a 4^bits-entry lookup built on
    * the driver and shipped as a constant-folded array literal. */
  private def hilbertFromZ(zc: Column, bits: Int): Column = {
    val lut = (0 until (1 << (2 * bits))).map(hilbertOfZ(_, bits))
    element_at(array(lut.map(lit): _*), zc + 1)
  }

  /** Hilbert cell id of 2-d z-cell `z` (driver-side). */
  private def hilbertOfZ(z: Int, bits: Int): Int =
    xy2d(bits, zCoordN(z, 2, bits, 0), zCoordN(z, 2, bits, 1))
}
