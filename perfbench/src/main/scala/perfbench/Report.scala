package perfbench

import scala.collection.mutable

/** The run's result, written as one JSON file for `run.py`. */
final class Report {
  val e2eMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layerMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val infos = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0
  var failures: Seq[(String, String)] = Nil
  var ops: Seq[(Int, String, String, Double)] = Nil
  var digests: Seq[(String, String)] = Nil

  def e2e(name: String, v: Double, unit: String): Unit = e2eMetrics(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layerMetrics(name) = (v, unit)
  def info(name: String, v: Double): Unit = infos(name) = v

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  private def metrics(m: mutable.LinkedHashMap[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
      .mkString("{", ", ", "}")

  def write(path: String): Unit = {
    val json = Seq(
      "\"e2e\": " + metrics(e2eMetrics),
      "\"layers\": " + metrics(layerMetrics),
      "\"info\": " + infos.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}"),
      s"\"attempted\": $attempted",
      "\"failures\": " + failures.map { case (n, e) => s"[${str(n)}, ${str(e)}]" }
        .mkString("[", ", ", "]"),
      "\"ops\": " + ops.map { case (p, n, m, s) => s"[$p, ${str(n)}, ${str(m)}, ${num(s)}]" }
        .mkString("[", ", ", "]"),
      "\"digests\": " + digests.map { case (n, d) => s"${str(n)}: ${str(d)}" }
        .mkString("{", ", ", "}")
    ).mkString("{", ",\n", "}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path), json.getBytes("UTF-8"))
  }
}
