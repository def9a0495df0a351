package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

/** Correctness checks and operation accounting. The checks are pure
  * functions, so their failure paths are unit-tested without Spark. */
object Checks {

  private def oneLine(s: String): String =
    Option(s).getOrElse("").replaceAll("\\s+", " ").take(200)

  def describe(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${oneLine(t.getMessage)}"

  /** A query's row count against its committed expected count. A query
    * that throws, or that has no expected count, fails. */
  def queryCount(name: String, expected: Map[String, Long],
                 got: Try[Long]): Option[String] =
    (got, expected.get(name)) match {
      case (Failure(t), _) => Some(s"query $name threw ${describe(t)}")
      case (Success(_), None) => Some(s"query $name has no expected row count")
      case (Success(n), Some(want)) if n != want =>
        Some(s"query $name returned $n rows, expected $want")
      case _ => None
    }

  /** One replayed stream hour. `curatedRows` is what ingest wrote to the
    * hour's curated partition, `rowsCopied` what the hour load staged,
    * `inserted` the keys it merged, `visibleDelta` the stream rows the BI
    * view gained. */
  final case class Hour(label: String, curatedRows: Long, rowsCopied: Long,
                        inserted: Long, visibleDelta: Long)

  def hour(h: Hour): Option[String] =
    if (h.curatedRows <= 0)
      Some(s"hour ${h.label}: no curated rows reached the lake")
    else if (h.rowsCopied != h.curatedRows)
      Some(s"hour ${h.label}: staged ${h.rowsCopied} rows of ${h.curatedRows} curated")
    else if (h.inserted <= 0)
      Some(s"hour ${h.label}: no rows merged into the star")
    else if (h.visibleDelta != h.inserted)
      Some(s"hour ${h.label}: ${h.visibleDelta} rows became visible, ${h.inserted} merged")
    else None

  def equal(label: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$label: got $got, expected $want")

  /** Operations attempted and failed in one run. */
  final class Ledger {
    private var attemptedN = 0L
    private val failuresBuf = ArrayBuffer.empty[String]
    def attempted: Long = attemptedN
    def failed: Long = failuresBuf.size.toLong
    def failures: Seq[String] = failuresBuf.toSeq

    /** Record one operation; every failed check of it fails the operation
      * once. An operation that throws is a failure too. */
    def op(label: String)(checks: => Seq[Option[String]]): Boolean = {
      attemptedN += 1
      val problems = Try(checks.flatten) match {
        case Success(ps) => ps
        case Failure(t) => Seq(s"$label threw ${describe(t)}")
      }
      if (problems.nonEmpty) failuresBuf += problems.mkString("; ")
      problems.isEmpty
    }

    def exitCode: Int = if (failed > 0 || attempted == 0) 1 else 0
  }
}

/** Order statistics over measured samples. */
object Stats {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (every thread), in seconds. Time the
    * hypervisor gives to other guests is not in it. */
  def processCpuS: Double = os.getProcessCpuTime / 1e9

  /** Linear-interpolation quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = xs.sum / xs.size
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}
