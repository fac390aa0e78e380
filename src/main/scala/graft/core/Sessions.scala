package graft.core

import org.apache.spark.sql.SparkSession

/** The ONE copy of the session configuration every graft entry point
  * (Bench, Verify, PlanDump, StageProfile) builds on, so the oracle
  * gate's "Verify hash-proves the exact configuration the bench runs
  * under" invariant cannot drift copy by copy.
  *
  * Confs and why they are scale-free (not local[32] tunings):
  *  - `spark.sql.shuffle.partitions = cpus`: the session's scale knob —
  *    every conditional width in the operators derives from it.
  *  - UTC session time zone: the cross-engine timestamp contract.
  *  - `spark.sql.icu.caseMappings.enabled=false` — JVM (not ICU) case
  *    mapping for UTF8_BINARY lower()/upper(): sampled profiles showed
  *    ICU Lower as 38% of executor CPU across the text suite; the
  *    corpus is pure ASCII at every SF, where the two paths are
  *    byte-identical. Verify ENFORCES that contract with a loud
  *    non-ASCII scan ([[assertAsciiCorpus]]) and re-proves every query
  *    against the DuckDB oracle under this same conf. Per-row CPU
  *    cost, not a local artifact.
  *  - `spark.sql.codegen.cache.maxEntries=4096`: the 200-query suite
  *    compiles ~1k codegen units per pass; the default 100-entry cache
  *    thrashes (every pass re-pays Janino compilation and first-run
  *    stages block all tasks on the compile lock). Per-JVM memory
  *    (~100 KB/entry) against recompilation any 200-query workload
  *    pays regardless of data volume. Static conf — set before the
  *    first session is created.
  */
object Sessions {

  /** Builder with the shared gate confs applied; callers add their
    * entry-point-specific confs (UI, AQE toggles) before getOrCreate. */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")

  /** Apply SPARK_GRAFT_CONF=k=v[,k=v...] session overrides — the shared
    * bench/dev-loop contract (a silently dropped override would
    * attribute a run to a plan that never executed, so malformed
    * entries and `graft.*` keys outside [[Confs.Keys]] throw). `raw`
    * is the variable's value; specs pass it directly. */
  def applyEnvConf(spark: SparkSession,
      raw: Option[String] = sys.env.get("SPARK_GRAFT_CONF")): Unit =
    raw.foreach(_.split(",").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, _) if k.trim.startsWith("graft.") &&
            !Confs.Keys.contains(k.trim) =>
          sys.error(s"SPARK_GRAFT_CONF key '${k.trim}' is not a graft conf " +
            s"(known: ${Confs.Keys.mkString(", ")})")
        case Array(k, v) if k.trim.nonEmpty =>
          System.err.println(s"[conf] ${k.trim}=${v.trim}")
          spark.conf.set(k.trim, v.trim)
        case _ => sys.error(s"SPARK_GRAFT_CONF entry '$kv' is not k=v")
      }
    })

  /** Enforce the ASCII-corpus contract the ICU conf above relies on:
    * lower()/upper() under JVM vs ICU mapping differ on some non-ASCII
    * code points (İ, ß, ...), so a testdata refresh that introduced
    * non-ASCII text would silently change results vs a default
    * session. This scans EVERY string column of every input table for
    * a non-ASCII character and throws with the offending table/column
    * rather than letting that happen. One cheap pass at verify time
    * (the gate SFs are small; the scan is a short-circuiting rlike). */
  def assertAsciiCorpus(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.{col, count, when}
    val t = Tables(spark, sfDir)
    Tables.names.foreach { name =>
      val df = t.table(name)
      val strCols = df.schema.fields.filter(
        _.dataType == org.apache.spark.sql.types.StringType).map(_.name)
      if (strCols.nonEmpty) {
        val offending = df.select(strCols.map(c =>
            count(when(col(c).rlike("[^\\x00-\\x7F]"), 1)).as(c)): _*)
          .head()
        strCols.zipWithIndex.foreach { case (c, i) =>
          if (offending.getLong(i) > 0L) throw new IllegalStateException(
            s"$name.$c carries ${offending.getLong(i)} non-ASCII value(s): " +
              "the spark.sql.icu.caseMappings.enabled=false sessions are only " +
              "byte-identical to default sessions on ASCII input — either the " +
              "testdata changed or this conf must be dropped (graft.core.Sessions)")
        }
      }
    }
  }
}
