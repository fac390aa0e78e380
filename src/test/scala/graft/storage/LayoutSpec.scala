package graft.storage

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.Store

/** The layout value: its props string round-trips for every kind (the
  * two legacy 2-d curve formats included), so a store written before
  * the value existed reads back unchanged, and the bucket expression
  * the parsed value builds reproduces the bucket every written row
  * sits in — what append and compact rely on to keep bucket ids. */
class LayoutSpec extends SparkSpec {

  test("render(parse(s)) == s for every layout kind, the legacy 2-d curves included") {
    val literals = Seq(
      "hash:c_mktsegment:8",
      "range:q:23.0,47.0,71.0",
      "range:q:",
      "zorder:a:b:3:1.0,2.5|10.0,20.0",
      "hilbert:a:b:2:1.0|-3.5,7.25",
      "zordern:a,b,c:2:1.0,2.0,3.0|4.0|5.0,6.0")
    literals.foreach(s => assert(Layout.parse(s).render == s, s))
    assert(Layout.parse("range:q:23.0,47.0,71.0") == Layout.Range("q", Seq(23.0, 47.0, 71.0)))
    assert(Layout.parse("hilbert:a:b:2:1.0|-3.5,7.25") ==
      Layout.Curve("hilbert", Seq("a", "b"), 2, Seq(Seq(1.0), Seq(-3.5, 7.25))))
    assert(Layout.parse("zordern:a,b:1:0.5|") ==
      Layout.Curve("zordern", Seq("a", "b"), 1, Seq(Seq(0.5), Nil)))
    intercept[IllegalArgumentException](Layout.parse("btree:a:1"))
  }

  test("each written layout's sidecar round-trips and its bucket reproduces every row's") {
    val raw = spark.range(0, 600).select(col("id").as("k"),
      (col("id") % 97).cast("double").as("q"), (col("id") % 41).as("d"),
      (col("id") % 13).as("e"))
    val data = Store.fromData(raw, Seq("k")).data
    val specs = Seq(HashIndex("d", 8), RangeIndex("q", 8), ZOrderIndex("q", "d", 2),
      HilbertIndex("q", "d", 2), ZOrderNIndex(Seq("q", "d", "e"), 1))
    specs.foreach { spec =>
      val path = java.nio.file.Files.createTempDirectory("graft_layout_spec").toString + "/store"
      IndexedStore.write(data, path, spec)
      val gen = s"$path/${IndexedStore.generations(path).last}"
      val props = new java.util.Properties()
      val in = new java.io.FileInputStream(s"$gen/_graft_stats.properties")
      try props.load(in) finally in.close()
      val s = props.getProperty("layout")
      val layout = Layout.parse(s)
      assert(layout.render == s, s"$spec: $s")
      val moved = spark.read.parquet(gen)
        .filter(col("__bucket") =!= layout.bucket).count()
      assert(moved == 0, s"$spec: $moved rows sit outside the bucket $s gives them")
    }
  }
}
