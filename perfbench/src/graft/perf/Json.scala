package graft.perf

/** Minimal JSON writer for the bench records: maps (insertion-ordered
  * via Seq of pairs or sorted Map), sequences, strings, numbers and
  * booleans. Non-finite doubles become null. */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def go(x: Any): Unit = x match {
      case null | None => sb.append("null")
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double =>
        if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d.toString)
      case f: Float => go(f.toDouble)
      case n: Int => sb.append(n)
      case n: Long => sb.append(n)
      case m: scala.collection.Map[_, _] =>
        go(m.toSeq.map { case (k, v) => (k.toString, v) }.sortBy(_._1))
      case kvs: Seq[_] if kvs.nonEmpty && kvs.forall {
          case (_: String, _) => true; case _ => false } =>
        sb.append('{')
        kvs.zipWithIndex.foreach { case ((k: String, v), i) =>
          if (i > 0) sb.append(',')
          str(k); sb.append(':'); go(v)
        case _ => ()
        }
        sb.append('}')
      case xs: Iterable[_] =>
        sb.append('[')
        xs.zipWithIndex.foreach { case (y, i) => if (i > 0) sb.append(','); go(y) }
        sb.append(']')
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }

  /** An ordered JSON object (keys kept in the given order). */
  def obj(kvs: (String, Any)*): Seq[(String, Any)] = kvs
}
