package perfbench

import scala.util.{Random, Try}

import org.apache.spark.sql.SparkSession

import graft.QFn
import graft.queries._

/** The `query_surface` workload: a fixed systematic sample of the declared
  * queries, each reduced to its row count, after the memo warm-ups.
  * Read-only: it never commits to a lake or warehouse. */
object QuerySurface {

  final case class Query(name: String, family: String, fn: QFn)

  /** The declared surface by family, i.e. the module that declares it. */
  def all: Seq[Query] = Seq(
    "taxi" -> TaxiQueries.queries, "stream" -> StreamQueries.queries,
    "docs" -> DocQueries.queries, "scan" -> ScanQueries.queries,
    "media" -> MediaQueries.queries, "olap" -> OlapQueries.queries,
  ).flatMap { case (family, qs) =>
    qs.toSeq.sortBy(_._1).map { case (n, fn) => Query(n, family, fn) }
  }

  val families: Seq[String] = Seq("taxi", "stream", "docs", "scan", "media", "olap")

  /** Every query's first execution must fit in one run, and one pass over
    * all of them takes minutes on a small host. The sample takes every
    * `SampleStride`-th query of each family in name order (from the first),
    * so it spans the families in proportion and picks nothing by cost. */
  val SampleStride = 18

  def sample(qs: Seq[Query]): Seq[Query] =
    qs.groupBy(_.family).toSeq.sortBy(_._1).flatMap { case (_, fq) =>
      fq.sortBy(_.name).zipWithIndex.collect { case (q, i) if i % SampleStride == 0 => q }
    }

  /** Build (the QFn call, eager sub-jobs included) and exec (the action),
    * and the process CPU time both took. */
  final case class Sample(buildS: Double, execS: Double, cpuS: Double) {
    def totalS: Double = buildS + execS
  }

  /** Runs each of `queries` once, in an order drawn from `seed`. Every
    * execution is an operation: a wrong row count or an exception fails
    * it, and a failed execution keeps no time. Returns the sample of each
    * query that passed. */
  def runOnce(spark: SparkSession, sfDir: String, queries: Seq[Query],
              expected: Map[String, Long], seed: Long,
              ctx: Run): Map[String, Sample] = {
    val samples = scala.collection.mutable.LinkedHashMap.empty[String, Sample]
    new Random(seed).shuffle(queries).foreach { q =>
      ctx.counters.foreach(_.ownBy(spark, q.name))
      var timed: Option[Sample] = None
      val got = Try {
        val c0 = Stats.processCpuS
        val b0 = System.nanoTime()
        val df = ctx.tracer.span(s"queries.${q.family}:build")(q.fn(spark, sfDir))
        val b1 = System.nanoTime()
        val n = ctx.tracer.span(s"queries.${q.family}:exec")(df.count())
        val b2 = System.nanoTime()
        timed = Some(Sample((b1 - b0) / 1e9, (b2 - b1) / 1e9, Stats.processCpuS - c0))
        n
      }
      got.foreach(n => ctx.observed(q.name) = n)
      // recording takes the observed count as the expected one
      val want = if (ctx.opts.recordExpected) expected ++ got.toOption.map(q.name -> _) else expected
      val ok = ctx.ledger.op(s"query ${q.name}")(
        Seq(Checks.queryCount(q.name, want, got)))
      if (ok) timed.foreach(s => samples(q.name) = s)
      System.err.println(f"[perfbench] ${q.name} ${timed.fold(-1.0)(_.totalS)}%.3f s")
    }
    ctx.counters.foreach(_.ownBy(spark, ""))
    samples.foreach { case (n, s) => ctx.series(s"query.$n") = Seq(s.totalS) }
    samples.toMap
  }

  def run(spark: SparkSession, ctx: Run): Unit = {
    val sfDir = ctx.opts.fixtures
    def warm(name: String): Double = {
      val t0 = System.nanoTime()
      ctx.tracer.span(s"warm:$name")(graft.SparkEntry.warmups(name)(spark, sfDir))
      (System.nanoTime() - t0) / 1e9
    }
    // The chains build concurrently, as the program's own bench does: each
    // alone leaves most task slots idle. Each chain's time is its own wall
    // time beside the others.
    val names = graft.SparkEntry.warmups.keys.toSeq.sorted
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(names.size, ctx.opts.cpus))
    val warmS =
      try names.map(n => pool.submit(() => warm(n))).map(_.get())
      finally pool.shutdown()
    ctx.setupDone()
    names.zip(warmS).foreach { case (n, s) => ctx.layer(s"warm.${n}_s", s, "s") }
    ctx.layer("memo.cached_bytes", ctx.scratchBytes("graft-memo").toDouble, "bytes")

    val queries = if (ctx.opts.recordExpected) all else sample(all)
    val samples = runOnce(spark, sfDir, queries, ctx.expected, ctx.opts.seed, ctx)

    // each query's first execution in the warmed session
    val first = queries.flatMap(q => samples.get(q.name).map(q -> _))
    if (first.nonEmpty) {
      val totals = first.map(_._2.totalS)
      ctx.e2e("op_geomean_ms", Stats.geomean(totals) * 1e3, "ms")
      ctx.layer("queries.p50_ms", Stats.median(totals) * 1e3, "ms")
      ctx.e2e("op_cpu_ms", Stats.mean(first.map(_._2.cpuS)) * 1e3, "ms")
      ctx.layer("queries.total_s", totals.sum, "s")
      ctx.layer("queries.p95_ms", Stats.quantile(totals, 0.95) * 1e3, "ms")
      families.foreach { f =>
        val fm = first.filter(_._1.family == f).map(_._2)
        ctx.layer(s"queries.$f.build_s", fm.map(_.buildS).sum, "s")
        ctx.layer(s"queries.$f.exec_s", fm.map(_.execS).sum, "s")
      }
    }
    ctx.counters.foreach { c =>
      val perQuery = queries.map(q => c.executionsOf(q.name))
      ctx.layer("queries.sql_executions", perQuery.sum.toDouble, "count")
      ctx.layer("queries.multi_execution_queries", perQuery.count(_ > 1).toDouble, "count")
    }
  }
}
