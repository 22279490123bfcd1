package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Order statistics as Python's `statistics.quantiles(method="exclusive")`
  * gives them, so the figures printed here and the ones the steadiness
  * script computes agree. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    require(s.nonEmpty, "quantile of no samples")
    if (s.size == 1) return s.head
    val pos = q * (s.size + 1) - 1 // exclusive method, 0-based
    if (pos <= 0) s.head
    else if (pos >= s.size - 1) s.last
    else {
      val lo = pos.toInt
      s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
    }
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** Minimal JSON writer for the result lines (Map, Seq, String, numbers,
  * Boolean). Doubles print with all their digits. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric $d")
      d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case other => apply(other.toString)
  }
}

/** Operation log of one phase: latency samples, attempted and failed
  * counts per operation type. Only time inside an operation counts; the
  * benchmark's own checks run between operations, untimed. */
final class OpLog {
  val latency = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val attempted = mutable.LinkedHashMap.empty[String, Long]
  val failed = mutable.LinkedHashMap.empty[String, Long]

  /** Per round of the workload: operation type -> (completed, seconds). */
  val rounds = mutable.ArrayBuffer.empty[mutable.Map[String, (Int, Double)]]

  def beginRound(): Unit = rounds += mutable.Map.empty[String, (Int, Double)]

  def record(kind: String, seconds: Double): Unit = {
    latency.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += seconds
    rounds.lastOption.foreach { r =>
      val (n, t) = r.getOrElse(kind, (0, 0.0))
      r(kind) = (n + 1, t + seconds)
    }
  }

  /** Median over rounds of the seconds spent in operations of `kinds`.
    * A median, so one slow round (a GC, a neighbour on the host) does
    * not move it. */
  def medianRoundSeconds(kinds: Seq[String]): Double = Stats.median(rounds.toSeq.map { r =>
    r.collect { case (k, (_, t)) if kinds.contains(k) => t }.sum
  })

  /** Completed operations per second of operation time, the median over
    * rounds. */
  def opsPerSecond: Double = Stats.median(rounds.toSeq.map { r =>
    r.values.map(_._1).sum / r.values.map(_._2).sum
  })

  def samples(kind: String): Seq[Double] = latency.get(kind).map(_.toSeq).getOrElse(Nil)
  def median(kind: String): Double = {
    val s = samples(kind)
    require(s.nonEmpty, s"no completed '$kind' operation")
    Stats.median(s)
  }
  def totalAttempted: Long = attempted.values.sum
  def totalFailed: Long = failed.values.sum

  /** Median, sample count and — only when at least ten samples lie
    * beyond it — the 90th percentile of one operation type. */
  def summary(kind: String): Map[String, Any] = {
    val s = samples(kind)
    val base = Map[String, Any](
      "attempted" -> attempted.getOrElse(kind, 0L),
      "failed" -> failed.getOrElse(kind, 0L),
      "samples" -> s.size,
      "latency_s" -> s)
    if (s.isEmpty) base
    else {
      val withMedian = base + ("p50_s" -> Stats.median(s))
      if (s.size >= 100) withMedian + ("p90_s" -> Stats.quantile(s, 0.9)) else withMedian
    }
  }
}

/** Correctness checks: each compares the program's output with the
  * benchmark's own model of what it must be. */
final class Checks {
  var passed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  def apply(ok: Boolean, what: => String): Unit =
    if (ok) passed += 1
    else {
      if (failures.size < 20) System.err.println(s"[perfbench] CHECK FAILED: $what")
      failures += what
    }
  def ok: Boolean = failures.isEmpty
}

/** Sizes of the regular files under a directory, and the files that
  * appeared since the previous look. */
final class DirWatch(root: String) {
  private var seen = Map.empty[String, Long]
  def list(): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }
  /** Files created since the last call (path -> bytes). */
  def created(): Map[String, Long] = {
    val now = list()
    val fresh = now.filter { case (k, _) => !seen.contains(k) }
    seen = now
    fresh
  }
  def totalBytes: Long = list().values.sum
}
