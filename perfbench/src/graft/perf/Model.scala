package graft.perf

import graft.core.Condition

/** A probe or delete predicate the store workloads issue: ANDed
  * equalities on l_orderkey / l_partkey and a ship-day range
  * [dayLo, dayHi). `cls` is the probe class (get, sec, and, range). */
final case class Pred(cls: String, orderkey: Option[Long] = None,
    partkey: Option[Long] = None, days: Option[(Int, Int)] = None) {

  def conditions: Seq[Condition] =
    orderkey.map(Condition.eq("l_orderkey", _)).toSeq ++
      partkey.map(Condition.eq("l_partkey", _)) ++
      days.map { case (lo, hi) =>
        Condition.between("l_shipdate", Gen.ShipEpoch.plusDays(lo.toLong),
          Gen.ShipEpoch.plusDays(hi.toLong), minIncl = true, maxIncl = false)
      }

  def matches(ok: Long, pk: Long, day: Int): Boolean =
    orderkey.forall(_ == ok) && partkey.forall(_ == pk) &&
      days.forall { case (lo, hi) => day >= lo && day < hi }
}

/** What a probe must return: its row count and the sum of its rowids. */
final case class Expect(rows: Long, rowidSum: Long)

/** The reference model of the store, after shortcut's own test
  * oracle (a `BTreeMap<rowid, row>`): the columns a probe can name,
  * indexed by rowid, with a live bit per row. Seeded from the same
  * generator that feeds the store and updated by every append and
  * delete the workload issues, so each probe's expected answer is
  * computed without Spark. */
final class Model {
  private var n = 0
  private var orderkeys = new Array[Long](1 << 16)
  private var partkeys = new Array[Long](1 << 16)
  private var shipDays = new Array[Int](1 << 16)
  private val live = new java.util.BitSet()

  /** Rows ever added; the next appended row gets this rowid (the
    * store numbers densely from 0 and never reuses a rowid). */
  def nextRowId: Long = n.toLong
  def liveRows: Long = live.cardinality().toLong

  def add(l: Gen.Line): Unit = {
    if (n == orderkeys.length) {
      orderkeys = java.util.Arrays.copyOf(orderkeys, n * 2)
      partkeys = java.util.Arrays.copyOf(partkeys, n * 2)
      shipDays = java.util.Arrays.copyOf(shipDays, n * 2)
    }
    orderkeys(n) = l.orderkey; partkeys(n) = l.partkey; shipDays(n) = l.shipDay
    live.set(n)
    n += 1
    lowest = None
  }

  private def scan(p: Pred)(f: Int => Unit): Unit = {
    var i = live.nextSetBit(0)
    while (i >= 0) {
      if (p.matches(orderkeys(i), partkeys(i), shipDays(i))) f(i)
      i = live.nextSetBit(i + 1)
    }
  }

  def expect(p: Pred): Expect = {
    var rows = 0L; var sum = 0L
    scan(p) { i => rows += 1; sum += i }
    Expect(rows, sum)
  }

  /** Apply a delete; returns what it removed. */
  def delete(p: Pred): Expect = {
    val hit = scala.collection.mutable.ArrayBuffer.empty[Int]
    scan(p)(hit += _)
    hit.foreach(live.clear)
    lowest = None
    Expect(hit.size.toLong, hit.map(_.toLong).sum)
  }

  /** A uniformly chosen live row's (orderkey, partkey, shipDay). */
  def liveRow(r: java.util.SplittableRandom): (Long, Long, Int) = {
    var i = live.nextSetBit(r.nextInt(n))
    if (i < 0) i = live.nextSetBit(0)
    (orderkeys(i), partkeys(i), shipDays(i))
  }

  def maxOrderkey: Long = {
    var m = -1L; var i = 0
    while (i < n) { m = math.max(m, orderkeys(i)); i += 1 }
    m
  }

  private var lowest: Option[String] = None

  /** Of the two indexed probe columns, the one with the lower
    * estimate(): the index an eq ∧ eq probe must choose. Recomputed
    * after any change to the rows. */
  def lowerEstimate: String = lowest.getOrElse {
    val c = Seq("l_orderkey", "l_partkey").minBy(estimate)
    lowest = Some(c)
    c
  }

  /** The reference's estimate(): live rows per distinct live value. */
  def estimate(column: String): Double = {
    val vals = column match {
      case "l_orderkey" => orderkeys
      case "l_partkey" => partkeys
      case other => throw new IllegalArgumentException(s"no model column $other")
    }
    val ndv = new java.util.HashSet[Long]()
    var i = live.nextSetBit(0)
    while (i >= 0) { ndv.add(vals(i)); i = live.nextSetBit(i + 1) }
    liveRows.toDouble / math.max(ndv.size, 1)
  }

  /** A copy, so every repetition of the mixed workload starts from
    * the model of the setup snapshot. */
  def copy(): Model = {
    val m = new Model
    m.n = n
    m.orderkeys = orderkeys.clone(); m.partkeys = partkeys.clone()
    m.shipDays = shipDays.clone()
    m.live.or(live)
    m
  }
}
