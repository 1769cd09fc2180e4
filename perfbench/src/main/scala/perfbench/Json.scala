package perfbench

/** Minimal JSON rendering for the run artifact and the row dumps the
  * DuckDB check reads. Doubles use `Double.toString`, which parses back to
  * the same bits in Python; NaN and infinities become strings. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => render(f.toDouble)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case a: Array[_] => render(a.toSeq)
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  /** A collected Spark value in the tagged form the DuckDB check decodes:
    * decimals, timestamps, dates and binaries carry a one-key tag so their
    * exact value survives JSON; structs become positional lists. */
  def cell(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal => Map("dec" -> d.toPlainString)
    case d: scala.math.BigDecimal => Map("dec" -> d.bigDecimal.toPlainString)
    case t: java.sql.Timestamp => Map("ts" -> micros(t.toInstant))
    case t: java.time.Instant => Map("ts" -> micros(t))
    case t: java.time.LocalDateTime => Map("ts" -> micros(t.toInstant(java.time.ZoneOffset.UTC)))
    case d: java.sql.Date => Map("date" -> d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Map("date" -> d.toEpochDay)
    case b: Array[Byte] => Map("bin" -> b.map("%02x".format(_)).mkString)
    case r: org.apache.spark.sql.Row => r.toSeq.map(cell)
    case m: scala.collection.Map[_, _] =>
      Map("map" -> m.toSeq.map { case (k, x) => Seq(cell(k), cell(x)) }
        .sortBy(kv => render(kv.head)))
    case s: Iterable[_] => s.map(cell).toSeq
    case a: Array[_] => a.toSeq.map(cell)
    case f: Float => f.toDouble
    case s: Short => s.toInt
    case b: Byte => b.toInt
    case o => o
  }

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
}
