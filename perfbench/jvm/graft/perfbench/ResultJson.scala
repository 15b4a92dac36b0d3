package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** A flat JSON object of numbers, number lists and strings, in insertion
  * order. NaN (a value that could not be measured) renders as null.
  */
final class ResultJson {
  private val fields = ArrayBuffer.empty[(String, String)]

  private def n(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(name: String, x: Double): Unit = fields += name -> n(x)
  def nums(name: String, xs: Seq[Double]): Unit =
    fields += name -> xs.map(n).mkString("[", ",", "]")
  def str(name: String, x: String): Unit = fields += name -> q(x)
  def strs(name: String, xs: Seq[String]): Unit =
    fields += name -> xs.map(q).mkString("[", ",", "]")

  def render: String = fields.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
}
