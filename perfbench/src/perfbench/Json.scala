package perfbench

import scala.collection.mutable

/** Just enough JSON output for the harness's result and trace files. */
object Json {
  sealed trait V { def render: String }

  final class Obj extends V {
    private val fields = mutable.LinkedHashMap.empty[String, V]
    def put(k: String, v: V): Obj = { fields(k) = v; this }
    def put(k: String, v: Double): Obj = put(k, num(v))
    def put(k: String, v: Long): Obj = put(k, Raw(v.toString))
    def put(k: String, v: Int): Obj = put(k, Raw(v.toString))
    def put(k: String, v: Boolean): Obj = put(k, Raw(v.toString))
    def put(k: String, v: String): Obj = put(k, str(v))
    def render: String =
      fields.map { case (k, v) => quote(k) + ":" + v.render }.mkString("{", ",", "}")
  }

  final case class Raw(render: String) extends V

  def obj(): Obj = new Obj
  def arr(vs: V*): V = Raw(vs.map(_.render).mkString("[", ",", "]"))
  def str(s: String): V = Raw(quote(s))
  def num(d: Double): V =
    Raw(if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d))

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
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
}
