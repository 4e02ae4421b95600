package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Metrics, failure accounting and run context of one benchmark run,
  * printed as one JSON line.
  */
final class Report(val workload: String) {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val context = mutable.LinkedHashMap.empty[String, String]
  val checks = mutable.LinkedHashMap.empty[String, String]
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val failures = new ConcurrentLinkedQueue[String]

  /** A failed or wrong operation; the first few are kept for the log. */
  def fail(what: String): Unit = {
    failed.incrementAndGet()
    if (failures.size < 20) failures.add(what.take(300))
  }

  /** Counts `ok == false` as a failed operation. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) fail(what)
    ok
  }

  def ctx(k: String, v: Any): Unit = context(k) = Report.json(v)

  def json: String = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) =>
        s"${Report.str(k)}:{" + "\"value\":" + Report.num(v) + ",\"unit\":" + Report.str(u) + "}"
      }.mkString("{", ",", "}")
    val ctxJson = context.map { case (k, v) => s"${Report.str(k)}:$v" }.mkString("{", ",", "}")
    val checkJson = checks.map { case (k, v) => s"${Report.str(k)}:${Report.str(v)}" }
      .mkString("{", ",", "}")
    s"""{"workload":${Report.str(workload)},"attempted":${attempted.get},""" +
      s""""failed":${failed.get},"failures":${failures.asScala.map(Report.str).mkString("[", ",", "]")},""" +
      s""""e2e":${metrics(e2e)},"layer":${metrics(layer)},"context":$ctxJson,"checks":$checkJson}"""
  }
}

object Report {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Full-precision JSON number; non-finite values become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** Nearest-rank percentile of `xs` (any order). */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.length).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}
