package graft.perf

/** The benchmark's own unit tests (`python3 perfbench/run.py
  * --selftest`): the tail-percentile rule, the job-interval union
  * behind driver idle time, and the reference model the store probes
  * are checked against. No Spark session is started. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = scala.util.Try(cond).getOrElse(false)
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val hundred = (1 to 100).map(_.toDouble)
    check("tail: 100 samples give p90, the highest with 10 beyond") {
      Stats.tail(hundred) == Stats.Tail(90, 90.0, 100, 10)
    }
    check("tail: 1000 samples give p99") {
      val t = Stats.tail((1 to 1000).map(_.toDouble))
      t.pct == 99 && t.value == 990.0 && t.beyond == 10
    }
    check("tail: 250 samples give p96 (ten beyond), not p99") {
      val t = Stats.tail((1 to 250).map(_.toDouble))
      t.pct == 96 && t.beyond == 10 && t.value == 240.0
    }
    check("tail: too few samples for p50 report the maximum, nothing beyond") {
      Stats.tail(Seq(3.0, 1.0, 2.0)) == Stats.Tail(100, 3.0, 3, 0)
    }
    check("tail: order of the samples does not matter") {
      Stats.tail(scala.util.Random.shuffle(hundred)) == Stats.tail(hundred)
    }
    check("median: odd and even counts") {
      Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0 && Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5
    }
    check("geomean of 1, 10, 100 is 10") {
      math.abs(Stats.geomean(Seq(1.0, 10.0, 100.0)) - 10.0) < 1e-9
    }
    check("union: disjoint intervals add") {
      Stats.unionLength(Seq((0L, 10L), (20L, 25L))) == 15L
    }
    check("union: overlaps and containment count once") {
      Stats.unionLength(Seq((0L, 10L), (5L, 15L), (6L, 7L), (30L, 31L))) == 16L
    }
    check("union: touching intervals, unsorted input, empty intervals") {
      Stats.unionLength(Seq((10L, 20L), (0L, 10L), (40L, 40L))) == 20L
    }
    check("union: no intervals") { Stats.unionLength(Nil) == 0L }
    check("clip: intervals are cut to the window") {
      Stats.clip(Seq((0L, 10L), (15L, 30L), (40L, 50L)), 5L, 20L) == Seq((5L, 10L), (15L, 20L))
    }

    def line(ok: Long, pk: Long, day: Int) =
      Gen.Line(ok, pk, 0L, 1, 1.0, 1.0, 0.0, 0.0, "A", "F", day)
    def model = {
      val m = new Model
      // rowids 0..5
      Seq(line(1, 7, 10), line(1, 8, 11), line(2, 7, 10), line(3, 9, 12),
        line(3, 7, 13), line(4, 8, 10)).foreach(m.add)
      m
    }
    check("model: equality probes count rows and sum rowids") {
      val m = model
      m.expect(Pred("get", orderkey = Some(3L))) == Expect(2, 3 + 4) &&
        m.expect(Pred("sec", partkey = Some(7L))) == Expect(3, 0 + 2 + 4) &&
        m.expect(Pred("get", orderkey = Some(99L))) == Expect(0, 0)
    }
    check("model: eq ∧ eq and half-open day ranges") {
      val m = model
      m.expect(Pred("and", Some(1L), Some(8L))) == Expect(1, 1) &&
        m.expect(Pred("range", days = Some((10, 12)))) == Expect(4, 0 + 1 + 2 + 5)
    }
    check("model: deletes hide rows and never free their rowids") {
      val m = model
      val gone = m.delete(Pred("delete", partkey = Some(7L)))
      gone == Expect(3, 6) && m.liveRows == 3 &&
        m.expect(Pred("range", days = Some((0, 100)))) == Expect(3, 1 + 3 + 5) &&
        m.nextRowId == 6
    }
    check("model: appends continue the rowid run past every row ever added") {
      val m = model
      m.delete(Pred("delete", orderkey = Some(4L)))
      m.add(line(5, 7, 10))
      m.expect(Pred("get", orderkey = Some(5L))) == Expect(1, 6)
    }
    check("model: copies are independent") {
      val m = model
      val c = m.copy()
      c.delete(Pred("delete", orderkey = Some(1L)))
      m.liveRows == 6 && c.liveRows == 4
    }
    check("model: the lower estimate() follows the live rows") {
      val m = new Model
      // 4 orders of 1 line over 1 part: orderkey estimate 1, partkey 4
      (1L to 4L).foreach(ok => m.add(line(ok, 7, 1)))
      val before = m.lowerEstimate
      // 1 order of 4 lines over 4 parts flips it
      val n = new Model
      (1L to 4L).foreach(pk => n.add(line(9, pk, 1)))
      before == "l_orderkey" && n.lowerEstimate == "l_partkey"
    }
    check("generator: lines are a pure function of seed and orderkey") {
      Gen.lines(7L, 123L) == Gen.lines(7L, 123L) && Gen.lines(7L, 123L) != Gen.lines(8L, 123L)
    }
    check("generator: linenumbers run 1..n, n in 1..7") {
      (0L until 200L).forall { ok =>
        val ls = Gen.lines(1L, ok)
        ls.map(_.linenumber) == (1 to ls.size) && ls.size >= 1 && ls.size <= 7
      }
    }
    check("json: nested objects, escapes, non-finite numbers") {
      Json.write(Json.obj("a" -> 1, "b" -> Seq(1.5, Double.NaN), "c" -> "q\"\n")) ==
        """{"a":1,"b":[1.5,null],"c":"q\"\n"}"""
    }
    if (failures > 0) {
      println(s"$failures check(s) failed")
      sys.exit(1)
    }
    println("all checks passed")
  }
}
