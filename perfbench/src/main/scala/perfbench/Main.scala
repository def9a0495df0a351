package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see run.py, which builds the
  * program and passes these). */
final case class Opts(workload: String, seed: Long, trace: Boolean,
                      cpus: Int, fixtures: String, work: String, out: String,
                      expectedFile: String, recordExpected: Boolean)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(
      workload = req("workload"), seed = req("seed").toLong,
      trace = req("trace") == "1",
      cpus = req("cpus").toInt, fixtures = req("fixtures"), work = req("work"),
      out = req("out"), expectedFile = req("expected"),
      recordExpected = m.get("record-expected").contains("1"))
  }
}

/** State of one run: the session's tracer and counters, the operation
  * ledger, and the metrics the workload reports. */
final class Run(val opts: Opts, val tracer: Tracer,
                val counters: Option[SparkCounters], startNs: Long) {
  val ledger = new Checks.Ledger
  private var setupNs: Option[Long] = None
  val e2eMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layerMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Row count each query returned, for --record-expected. */
  val observed = mutable.LinkedHashMap.empty[String, Long]
  /** Raw samples behind the metrics, kept in the run's output file. */
  val series = mutable.LinkedHashMap.empty[String, Seq[Double]]

  /** Marks the end of set-up: session start plus the workload's set-up. */
  def setupDone(): Unit = setupNs = Some(System.nanoTime())
  def setupS: Double = (setupNs.getOrElse(System.nanoTime()) - startNs) / 1e9

  def e2e(name: String, v: Double, unit: String): Unit = e2eMetrics(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layerMetrics(name) = (v, unit)

  /** Committed expected row counts, `name<TAB>rows` per line. */
  lazy val expected: Map[String, Long] = {
    val p = Paths.get(opts.expectedFile)
    if (!Files.exists(p)) Map.empty[String, Long]
    else Files.readAllLines(p).asScala.map(_.trim).filter(_.nonEmpty)
      .map(_.split("\t")).map(a => a(0) -> a(1).toLong).toMap
  }

  /** Bytes under every java.io.tmpdir entry whose name starts with `prefix`
    * (the run's temp dir is private to it). */
  def scratchBytes(prefix: String): Long = {
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    Files.list(tmp).iterator().asScala
      .filter(_.getFileName.toString.startsWith(prefix))
      .map(Fs.bytesUnder).sum
  }
}

/** File counting for the ops-layer metrics. */
object Fs {
  def files(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
  def bytesUnder(root: Path): Long = files(root).values.sum

  /** Files present in `after` but not in `before`, and their bytes. */
  def written(before: Map[String, Long], after: Map[String, Long]): (Long, Long) = {
    val fresh = after.keySet -- before.keySet
    (fresh.size.toLong, fresh.toSeq.map(after).sum)
  }
}

object Main {
  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** Heap still reachable at the end of the run, after full collections:
    * what the session keeps (memos, caches, table state). Unlike peak RSS
    * it does not depend on when the collector happened to run. */
  private def retainedHeapMb: Double = {
    System.gc(); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  private def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString

  private def jmetrics(m: Iterable[(String, (Double, String))]): String =
    m.map { case (k, (v, u)) => s"${jstr(k)}:{\"value\":${jnum(v)},\"unit\":${jstr(u)}}" }
      .mkString("{", ",", "}")

  def session(cpus: Int, work: String): SparkSession =
    graft.SparkEntry.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse"))
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val runner: (SparkSession, Run) => Unit = opts.workload match {
      case "query_surface" => QuerySurface.run
      case "stream_hours" => StreamHours.run
      case w => sys.error(s"unknown workload $w")
    }
    val tracer = new Tracer(opts.trace)
    val t0 = System.nanoTime()
    val spark = tracer.span("session:start")(session(opts.cpus, opts.work))
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(opts, tracer,
      if (opts.trace) Some(SparkCounters.register(spark)) else None, t0)
    val crashed =
      try { runner(spark, run); None }
      catch { case t: Throwable => Some(Checks.describe(t)) }
    val wallS = (System.nanoTime() - t0) / 1e9
    run.e2e("setup_s", run.setupS, "s")
    run.layer("jvm.peak_rss_mb", peakRssMb, "MB")
    run.counters.foreach { c =>
      run.layer("jvm.retained_heap_mb", retainedHeapMb, "MB")
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      c.metrics.foreach { case (n, v, u) => run.layer(n, v, u) }
    }
    val failures = run.ledger.failures ++ crashed.map(c => s"workload aborted: $c")
    val correct = failures.isEmpty && run.ledger.attempted > 0
    val line = s"""{"correct":$correct,"attempted":${run.ledger.attempted},""" +
      s""""failed":${run.ledger.failed + crashed.size},""" +
      s""""e2e":${jmetrics(run.e2eMetrics)},"layers":${jmetrics(run.layerMetrics)},""" +
      s""""series":${run.series.map { case (k, v) => s"${jstr(k)}:${v.map(jnum).mkString("[", ",", "]")}" }.mkString("{", ",", "}")},""" +
      s""""wall_s":${jnum(wallS)},"failures":${failures.map(jstr).mkString("[", ",", "]")}}"""
    if (opts.recordExpected)
      Files.writeString(Paths.get(opts.expectedFile),
        (run.expected ++ run.observed).toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v\n" }.mkString,
        StandardCharsets.UTF_8)
    if (opts.trace) writeTrace(opts, run)
    spark.stop()
    println("PERFBENCH_RESULT " + line)
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** The traced run's spans and call-site table, for trace_table.py. */
  private def writeTrace(opts: Opts, run: Run): Unit = {
    val spans = run.tracer.all.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${jstr(s.name)},""" +
        s""""start_s":${jnum(s.startNs / 1e9)},"end_s":${jnum(s.endNs / 1e9)}}""")
    val sites = run.counters.toSeq.flatMap(_.callSites).map { case (s, n, sec) =>
      s"""{"call_site":${jstr(s)},"jobs":$n,"job_s":${jnum(sec)}}"""
    }
    val body = s"""{"workload":${jstr(opts.workload)},"seed":${opts.seed},""" +
      s""""spans":${spans.mkString("[", ",", "]")},"call_sites":${sites.mkString("[", ",", "]")}}"""
    Files.createDirectories(Paths.get(opts.out))
    Files.writeString(Paths.get(opts.out, s"trace-${opts.workload}-seed${opts.seed}.json"),
      body + "\n", StandardCharsets.UTF_8): Unit
  }
}
