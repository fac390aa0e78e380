package graft.core

import org.apache.spark.sql.SparkSession

/** Strict session-conf readers — the ONE copy of the validation
  * contract every graft knob follows (previously hand-rolled at each
  * site, where the formats had already started to drift): a typo'd
  * value throws `IllegalArgumentException` naming the conf and the
  * expected values; it never silently runs a default or flips a tier
  * off. Enum modes are case-sensitive (the documented values are the
  * lowercase spellings); booleans are case-insensitive (`--conf`
  * tooling routinely uppercases true/false, and
  * `Boolean.parseBoolean` accepted those before the strict readers
  * landed).
  */
object Confs {

  /** Every `graft.*` session conf graft reads — the check
    * [[Sessions.applyEnvConf]] runs outside input against, so an
    * override naming a retired or misspelled key fails instead of
    * being set and never read. ConfsSpec pins this list ≡ the keys the
    * readers below are called with ≡ README's Session confs table. */
  val Keys: Seq[String] = Seq(
    "graft.store.ckptFileIndex.collectThreshold",
    "graft.store.ckptFileIndex.inputFilesMax",
    "graft.store.zonemap",
    "graft.graph.bfsMaxRounds",
    "graft.cc.maxRounds",
    "graft.streaming.finalize",
    "graft.streaming.statePartitions")

  /** The conf's value: `default` when unset, else one of `default`
    * or `allowed` (the default is implicitly allowed — call sites
    * don't repeat it). */
  def enumConf(spark: SparkSession, key: String, default: String,
      allowed: String*): String = {
    val ok = default +: allowed
    val v = spark.conf.getOption(key).getOrElse(default)
    if (ok.contains(v)) v
    else throw new IllegalArgumentException(
      s"$key = '$v' (expected ${ok.map(a => s"'$a'").mkString(" or ")})")
  }

  /** Strict boolean: only true/false in any case, never the
    * parseBoolean anything-else-is-false trap. */
  def boolConf(spark: SparkSession, key: String, default: Boolean): Boolean =
    spark.conf.getOption(key) match {
      case None => default
      case Some(v) => v.toLowerCase match {
        case "true" => true
        case "false" => false
        case _ => throw new IllegalArgumentException(
          s"$key = '$v' (expected 'true' or 'false')")
      }
    }

  /** Strict bounded int parse of a RAW value (the core shared by
    * [[intConf]] and env-var readers — one copy of the contract):
    * malformed values and values below `min` both name the key (a
    * bare NumberFormatException names nothing, and a non-positive
    * round cap would surface as a bogus convergence error
    * downstream). */
  def parseInt(key: String, raw: String, min: Int = 1): Int = {
    val n =
      try raw.toInt
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$key = '$raw' (expected an integer >= $min)")
      }
    if (n < min) throw new IllegalArgumentException(
      s"$key = '$raw' (expected an integer >= $min)")
    n
  }

  /** Strict bounded int session conf. */
  def intConf(spark: SparkSession, key: String, default: Int,
      min: Int = 1): Int =
    spark.conf.getOption(key).map(parseInt(key, _, min)).getOrElse(default)
}
