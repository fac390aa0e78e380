package graft

import graft.core.Confs

/** The shared strict-conf contract ([[graft.core.Confs]]): typo'd
  * values throw naming the key and the expected values; defaults are
  * implicitly allowed; booleans are case-insensitive (the
  * `--conf x=TRUE` tooling class that `parseBoolean` accepted before
  * the strict readers landed). */
class ConfsSpec extends SparkSpec {

  private val key = "graft.test.confsSpec"
  private def withConf[A](v: Option[String])(body: => A): A = {
    v match {
      case Some(x) => spark.conf.set(key, x)
      case None => spark.conf.unset(key)
    }
    try body finally spark.conf.unset(key)
  }

  test("enumConf: default when unset, default implicitly allowed, typo throws") {
    withConf(None) {
      assert(Confs.enumConf(spark, key, "parity", "free") == "parity")
    }
    // setting the DEFAULT explicitly must be accepted — the call sites
    // do not repeat the default inside the allowed list
    withConf(Some("parity")) {
      assert(Confs.enumConf(spark, key, "parity", "free") == "parity")
    }
    withConf(Some("free")) {
      assert(Confs.enumConf(spark, key, "parity", "free") == "free")
    }
    withConf(Some("fre")) {
      val ex = intercept[IllegalArgumentException] {
        Confs.enumConf(spark, key, "parity", "free")
      }
      assert(ex.getMessage.contains(key) && ex.getMessage.contains("'parity'")
        && ex.getMessage.contains("'free'"), ex.getMessage)
    }
  }

  test("boolConf: case-insensitive true/false, typo throws, never parseBoolean's silent false") {
    withConf(None)(assert(Confs.boolConf(spark, key, default = true)))
    for (v <- Seq("true", "TRUE", "True")) withConf(Some(v)) {
      assert(Confs.boolConf(spark, key, default = false))
    }
    for (v <- Seq("false", "FALSE", "False")) withConf(Some(v)) {
      assert(!Confs.boolConf(spark, key, default = true))
    }
    // the parseBoolean trap: 'ture' must throw, not silently disable
    withConf(Some("ture")) {
      val ex = intercept[IllegalArgumentException] {
        Confs.boolConf(spark, key, default = true)
      }
      assert(ex.getMessage.contains(key), ex.getMessage)
    }
  }

  test("intConf/parseInt: bounded parse, malformed and below-min name the key") {
    withConf(None)(assert(Confs.intConf(spark, key, 7) == 7))
    withConf(Some("12"))(assert(Confs.intConf(spark, key, 7) == 12))
    for (bad <- Seq("abc", "0", "-3", "1.5")) withConf(Some(bad)) {
      val ex = intercept[IllegalArgumentException] {
        Confs.intConf(spark, key, 7)
      }
      assert(ex.getMessage.contains(key) && ex.getMessage.contains(bad),
        ex.getMessage)
    }
    // the raw-value core shares the exact contract (env-var readers)
    assert(Confs.parseInt("SOME_ENV", "3") == 3)
    val ex = intercept[IllegalArgumentException](Confs.parseInt("SOME_ENV", "x"))
    assert(ex.getMessage.contains("SOME_ENV"))
  }

  test("every graft.* key a Confs reader takes is in README's Session confs table, and no other") {
    def files(d: java.io.File): Seq[java.io.File] =
      if (d.isDirectory) d.listFiles().toSeq.flatMap(files)
      else if (d.getName.endsWith(".scala")) Seq(d) else Nil
    val sources = files(new java.io.File("src/main/scala")).map(f =>
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    assert(sources.nonEmpty, "no main sources found from the project root")
    // every reader call must pass its key as a literal, so the set
    // below is complete rather than a lower bound
    val ReaderCall = """Confs\.(?:enumConf|boolConf|intConf)\(""".r
    val LiteralKey = """Confs\.(?:enumConf|boolConf|intConf)\(\s*[^,()]+,\s*"(graft\.[^"]+)"""".r
    val calls = sources.map(ReaderCall.findAllMatchIn(_).size).sum
    val inCode = sources.flatMap(LiteralKey.findAllMatchIn(_).map(_.group(1)))
    assert(inCode.size == calls,
      s"$calls Confs reader calls but ${inCode.size} literal graft.* keys")
    // an enumConf call's allowed values: every string literal after the key
    val EnumCall = """Confs\.enumConf\(\s*[^,()]+,\s*"(graft\.[^"]+)"((?:\s*,\s*"[^"]*")+)\s*\)""".r
    val Literal = """"([^"]*)"""".r
    val enumValues = sources.flatMap(EnumCall.findAllMatchIn(_).map(m =>
      m.group(1) -> Literal.findAllMatchIn(m.group(2)).map(_.group(1)).toSet))
    assert(enumValues.size == sources.map("""Confs\.enumConf\(""".r.findAllMatchIn(_).size).sum,
      "an enumConf call's values are not all string literals")
    val readme = scala.io.Source.fromFile("README.md", "UTF-8")
    val lines = try readme.getLines().toSeq finally readme.close()
    // the conf table only: its header row, the rule, then the rows
    // (the retired-conf table in the same section is not read here)
    val section = lines.dropWhile(_ != "## Session confs").drop(1)
      .takeWhile(!_.startsWith("## "))
      .dropWhile(!_.startsWith("| conf |")).drop(2).takeWhile(_.startsWith("|"))
    val Row = """\| `(graft\.[^`]+)` \| ([^|]*) \|.*""".r
    val inTable = section.collect { case Row(k, values) => k -> values }
    assert(inTable.nonEmpty, "README has no Session confs table")
    val (code, table, listed) = (inCode.toSet, inTable.map(_._1).toSet, Confs.Keys.toSet)
    assert(Confs.Keys.size == listed.size, s"Confs.Keys repeats a key: ${Confs.Keys}")
    assert((code -- table).isEmpty, s"read in code, missing from README: ${code -- table}")
    assert((table -- code).isEmpty, s"in README, read nowhere: ${table -- code}")
    assert(listed == code, s"Confs.Keys ≠ keys read in code: " +
      s"unlisted ${code -- listed}, read nowhere ${listed -- code}")
    val Backticked = """`([^`]+)`""".r
    enumValues.foreach { case (k, allowed) =>
      val cell = inTable.collectFirst { case (`k`, v) => v }.get
      val documented = Backticked.findAllMatchIn(cell).map(_.group(1)).toSet
      assert(documented == allowed,
        s"README values for $k name $documented, the code takes $allowed")
    }
  }

  test("SPARK_GRAFT_CONF rejects a graft.* key graft does not read, naming it") {
    try for (retired <- Seq("graft.profile.ndv=approx", "graft.cluster.ccMode=star")) {
      val key = retired.takeWhile(_ != '=')
      val ex = intercept[RuntimeException] {
        graft.core.Sessions.applyEnvConf(spark, Some(s"graft.store.zonemap=true,$retired"))
      }
      assert(ex.getMessage.contains(s"'$key'"), ex.getMessage)
      assert(spark.conf.getOption(key).isEmpty, s"$key was set before the throw")
    } finally spark.conf.unset("graft.store.zonemap")
    // known graft keys and non-graft keys pass through
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      graft.core.Sessions.applyEnvConf(spark,
        Some("graft.store.zonemap=false,spark.sql.shuffle.partitions=3"))
      assert(spark.conf.get("graft.store.zonemap") == "false")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")
    } finally {
      spark.conf.unset("graft.store.zonemap")
      spark.conf.set("spark.sql.shuffle.partitions", parts)
    }
  }
}
