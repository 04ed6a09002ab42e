package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** What one run hands back to `run.py`: metrics by name with their unit,
  * operations attempted and failed per class, and the outputs that
  * `checks.py` compares with SQLite FTS5 and DuckDB.
  */
final class Result {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val classes = mutable.LinkedHashMap.empty[String, Array[Long]]
  private val checks = mutable.LinkedHashMap.empty[String, String]

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def op(cls: String, ok: Boolean): Unit = {
    val a = classes.getOrElseUpdate(cls, Array(0L, 0L))
    a(0) += 1
    if (!ok) a(1) += 1
  }

  /** The value of a metric recorded so far. */
  def apply(name: String): Double = metrics.getOrElse(name,
    throw new NoSuchElementException(s"metric $name was not measured"))._1

  def attempted: Long = classes.values.map(_(0)).sum

  /** Everything `other` recorded, but the metrics named in `skip`. */
  def absorb(other: Result, skip: Set[String]): Unit = {
    other.metrics.foreach { case (k, v) => if (!skip(k)) metrics(k) = v }
    other.classes.foreach { case (k, a) =>
      val mine = classes.getOrElseUpdate(k, Array(0L, 0L))
      mine(0) += a(0)
      mine(1) += a(1)
    }
    checks ++= other.checks
  }

  /** A value for the Python checks, already encoded as JSON. */
  def check(name: String, json: String): Unit = checks(name) = json

  def write(path: String): Unit = {
    val body = Json.obj(Seq(
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.arr(Seq(Json.num(v), Json.str(u))) }),
      "classes" -> Json.obj(classes.map { case (k, a) =>
        k -> Json.arr(a.map(_.toString)) }),
      "checks" -> Json.obj(checks)))
    Files.write(Paths.get(path), body.getBytes(StandardCharsets.UTF_8))
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) str(d.toString) else java.lang.Double.toString(d)
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geometric mean of $xs")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The `p` quantile (nearest rank) of request latencies in which every
    * failed request ranks above every successful one. None when that
    * rank falls on a failed request.
    */
  def rankedQuantile(okMs: Seq[Double], failed: Int, p: Double): Option[Double] = {
    val n = okMs.size + failed
    if (n == 0) None
    else {
      val rank = math.max(1, math.ceil(p * n).toInt)
      if (rank > okMs.size) None else Some(okMs.sorted.apply(rank - 1))
    }
  }
}
