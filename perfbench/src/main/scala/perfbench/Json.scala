package perfbench

import scala.collection.mutable

/** Minimal JSON writing for the run record. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A flat object of already-encoded values, in insertion order. */
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** What one invocation measured: end-to-end metrics, per-layer metrics,
  * and a free-form record (parameters, telemetry, the workload's own
  * named figures). Every value is kept with its unit. */
final class Result(val workload: String) {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val record = mutable.LinkedHashMap.empty[String, String]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def fail(n: Long, why: String): Unit = { failed += n; errors += why; System.err.println(s"[perfbench] FAILED: $why") }
  def num(k: String, v: Double): Unit = record(k) = Json.num(v)
  def text(k: String, v: String): Unit = record(k) = Json.str(v)

  def toJson: String = {
    def metrics(m: mutable.Map[String, (Double, String)]) = Json.obj(m.map { case (k, (v, u)) =>
      k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
    })
    Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "errors" -> errors.map(e => Json.str(e.take(300))).mkString("[", ",", "]"),
      "end_to_end" -> metrics(e2e),
      "per_layer" -> metrics(layers),
      "record" -> Json.obj(record)))
  }
}
