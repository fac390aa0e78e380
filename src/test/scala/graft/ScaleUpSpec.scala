package graft

/** [[ScaleUp]]'s replication contract on a tiny in-memory frame:
  * replica ids must not collide, and replica 0 is the source. */
class ScaleUpSpec extends SparkSpec {

  test("replication rejects ids at or past the offset; replica 0 keeps the source n_chars") {
    val s = spark
    import s.implicits._
    // n_chars deliberately differs from length(text): replica 0 must
    // copy it, not recompute it
    val docs = Seq((1L, "abc", "en", "web", 7L), (2L, "de", "en", "web", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = ScaleUp.replicateDocs(docs, 2)
      .as[(Long, String, String, String, Long)].collect().toSet
    assert(out == Set((1L, "abc", "en", "web", 7L), (2L, "de", "en", "web", 9L),
      (1L + ScaleUp.DocOffset, "abc r1", "en", "web", 6L),
      (2L + ScaleUp.DocOffset, "de r1", "en", "web", 5L)))
    val tooBig = Seq((ScaleUp.DocOffset, "x", "en", "web", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val e = intercept[IllegalArgumentException](ScaleUp.replicateDocs(tooBig, 2))
    assert(e.getMessage.contains("doc_id"), e.getMessage)
    intercept[IllegalArgumentException](
      ScaleUp.replicate(Seq(5L).toDF("vec_id"), "vec_id", 5L, 2))
  }
}
