package graft

/** Driver-side JSON string escaping, shared by Verify and Bench (the two
  * places that hand-assemble the oracle-SQL JSON): backslash, quote, and
  * ALL control chars (<0x20) — a tab or CR in builder-authored SQL would
  * otherwise make the driver's json.load fail and silently zero the
  * round's correctness. One copy so an escaping fix can't drift.
  */
object Jsons {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A flat string→string map as one JSON object. */
  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")

  /** A number at 3 dp. Locale.ROOT: an f-interpolator uses the JVM default
    * locale, and a comma-decimal host would emit invalid JSON.
    */
  def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** A flat string→number map as one JSON object, numbers via [[num]]. */
  def nums(m: Iterable[(String, Double)]): String =
    m.map { case (k, v) => s"${quote(k)}:${num(v)}" }.mkString("{", ",", "}")
}
