package filterbench

/** Minimal JSON writer for the raw run record (maps, sequences, case
  * classes, numbers, strings, booleans and pre-rendered JSON). */
object Json {
  /** A value that is already JSON text (e.g. `StreamingQueryProgress.json`). */
  final case class Raw(text: String)

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
    b.result()
  }

  def apply(v: Any): String = v match {
    case null => "null"
    case Raw(t) => t
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case p: Product if p.productArity > 0 && !p.isInstanceOf[Seq[_]] =>
      p.productElementNames.zip(p.productIterator)
        .map { case (k, x) => str(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case it: IterableOnce[_] => it.iterator.map(apply).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}
