package perfbench

/** Minimal JSON writer for the raw results file (maps, sequences, numbers,
  * strings, Spark rows). Non-finite doubles become null. */
object Json {
  def write(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(x, sb)
    case s: String => str(s, sb)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(java.lang.Double.toString(d))
    case f: Float => write(f.toDouble, sb)
    case n: Long => sb.append(n)
    case n: Int => sb.append(n)
    case n: Short => sb.append(n.toInt)
    case n: Byte => sb.append(n.toInt)
    case d: java.math.BigDecimal => sb.append(d.toPlainString)
    case d: BigDecimal => sb.append(d.bigDecimal.toPlainString)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        str(k.toString, sb); sb.append(':'); write(x, sb)
      }
      sb.append('}')
    case r: org.apache.spark.sql.Row => write(r.toSeq, sb)
    case a: Array[_] => write(a.toSeq, sb)
    case it: Iterable[_] =>
      sb.append('[')
      var first = true
      it.foreach { x =>
        if (!first) sb.append(',')
        first = false
        write(x, sb)
      }
      sb.append(']')
    case other => str(other.toString, sb)
  }

  private def str(s: String, sb: java.lang.StringBuilder): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case _ if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }
}
