package perfbench

/** Minimal JSON rendering for the run's result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")
}

final case class Metric(name: String, value: Double, unit: String)

/** A correctness check: `failed` of `attempted` operations went wrong. */
final case class Check(name: String, attempted: Long, failed: Long, detail: String)

/** Everything one JVM run hands back to run.py.
  *
  *  - `endToEnd`: the end-to-end metrics, the same names on every workload;
  *  - `named`: the same measurements under the names a reader of this
  *    workload knows them by (value latency, bulk events/s, board seconds);
  *  - `layers`: per-layer metrics, filled only by a traced run;
  *  - `notes`: why a metric could not be measured, contention, and so on.
  */
final case class RunResult(
    workload: String,
    checks: Seq[Check],
    endToEnd: Seq[Metric],
    named: Seq[Metric],
    layers: Seq[Metric],
    foreignCores: Double,
    notes: Seq[String]) {

  def attempted: Long = checks.map(_.attempted).sum
  def failed: Long = checks.map(_.failed).sum

  def toJson: String = {
    def metrics(ms: Seq[Metric]) = Json.obj(ms.map(m =>
      m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))
    Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "checks" -> Json.arr(checks.map(c => Json.obj(Seq(
        "name" -> Json.str(c.name), "attempted" -> c.attempted.toString,
        "failed" -> c.failed.toString, "detail" -> Json.str(c.detail))))),
      "end_to_end" -> metrics(endToEnd),
      "named" -> metrics(named),
      "layers" -> metrics(layers),
      "foreign_cores" -> Json.num(foreignCores),
      "notes" -> Json.arr(notes.map(Json.str))))
  }
}
