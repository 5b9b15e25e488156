package graftbench

/** Minimal JSON writer for the result line and the run records. */
object Json {
  sealed trait Value { def render: String }

  case object Null extends Value { def render = "null" }

  final case class Bool(b: Boolean) extends Value { def render: String = b.toString }

  final case class Num(d: Double) extends Value {
    require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
    def render: String =
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }

  final case class Str(s: String) extends Value {
    def render: String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case '\n' => b ++= "\\n"
        case '\t' => b ++= "\\t"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    }
  }

  final case class Arr(items: Seq[Value]) extends Value {
    def render: String = items.map(_.render).mkString("[", ", ", "]")
  }

  final case class Obj(fields: (String, Value)*) extends Value {
    def render: String =
      fields.map { case (k, v) => Str(k).render + ": " + v.render }.mkString("{", ", ", "}")
  }

  def nums(xs: Seq[Double]): Arr = Arr(xs.map(Num))
}
