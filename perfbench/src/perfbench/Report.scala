package perfbench

import scala.collection.mutable

/** Minimal JSON writer for the result object (maps, sequences, strings,
  * numbers, booleans); the benchmark has no JSON dependency of its own.
  */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Order statistics by the "exclusive" method, the default of Python's
  * `statistics.quantiles`, clamped to the sample's range; the median is
  * the usual one.
  */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Exclusive-method quantile at fraction p of the sorted sample. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n == 1) return s.head
    val pos = p * (n + 1) // 1-based
    if (pos <= 1) s.head
    else if (pos >= n) s.last
    else {
      val lo = pos.toInt
      val frac = pos - lo
      s(lo - 1) + frac * (s(lo) - s(lo - 1))
    }
  }

  /** Median, quartiles, count and values of one sample, for the detail
    * line.
    */
  def summary(xs: Seq[Double], unit: String): Map[String, Any] =
    if (xs.isEmpty) Map("n" -> 0, "unit" -> unit)
    else Map("median" -> median(xs), "q1" -> quantile(xs, 0.25),
      "q3" -> quantile(xs, 0.75), "n" -> xs.size, "unit" -> unit,
      "values" -> xs)
}

/** What one measured run produced: timed samples per metric, failed
  * operations with their cause, output checks, and (traced runs only)
  * per-layer metrics.
  */
final class Report(val workload: String, val seed: Long, val cores: Int) {
  val samples = mutable.LinkedHashMap[String, (String, mutable.ArrayBuffer[Double])]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val layers = mutable.LinkedHashMap[String, Double]()
  val failures = mutable.ArrayBuffer[Map[String, Any]]()
  val checks = mutable.ArrayBuffer[Map[String, Any]]()
  /** Output fingerprints that must repeat exactly for the same seed. */
  val fingerprints = mutable.LinkedHashMap[String, String]()
  var attempted = 0L

  def sample(name: String, unit: String, v: Double): Unit =
    samples.getOrElseUpdate(name, unit -> mutable.ArrayBuffer[Double]())._2 += v

  def metric(name: String, unit: String, v: Double): Unit =
    metrics(name) = v -> unit

  /** Run one operation, counting it as attempted; a throw is recorded
    * with its exception class and message and yields None.
    */
  def op[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f) catch { case e: Throwable => fail(name, e); None }
  }

  def fail(name: String, e: Throwable): Unit =
    failures += Map("op" -> name, "class" -> e.getClass.getName,
      "message" -> Option(e.getMessage).getOrElse("").take(2000))

  /** An output check; a failed or throwing check counts as a failed
    * operation as well.
    */
  def check(name: String)(f: => (Boolean, String)): Unit = {
    val (ok, detail) = op(s"check $name")(f).getOrElse(false -> "check threw")
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    if (!ok && !failures.exists(_("op") == s"check $name"))
      failures += Map("op" -> s"check $name", "class" -> "CheckFailed",
        "message" -> detail)
  }

  def json: String = Json.render(Map(
    "workload" -> workload, "seed" -> seed, "cores" -> cores,
    "attempted" -> attempted, "failed" -> failures.size.toLong,
    "failures" -> failures,
    "checks" -> checks,
    "fingerprints" -> fingerprints,
    "metrics" -> metrics.map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u) },
    "detail" -> samples.map { case (k, (u, xs)) => k -> Stats.summary(xs.toSeq, u) },
    "layers" -> layers))
}
