package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.lambda.{Lambda, LaneLock}
import graft.model.{EventsModel, TaxiModel}
import graft.stream.{Ingest, SegmentLogStreamSource}

/** The `stream_hours` workload: a closed-loop replay with one producer.
  * Each event hour is appended as one broker segment, ingested with
  * `AvailableNow`, loaded into the shared star by `Lambda.runHour`, and
  * read back through `Lambda.biView`; the next hour starts only once the
  * previous one is visible. Set-up seeds the star with one `runDaily`
  * over the whole fixture (the batch lane's daily load). A traced run
  * also re-runs that day (the idempotent batch replay) beside the stream
  * rows, and times the taxi clean/dedup chain alone. */
object StreamHours {

  /** Stream rows carry the decimal hash64 key; batch rows the 64-char hex. */
  private val isStream = length(col("trip_id")) < 64

  private def writeSegment(dir: String, name: String, lines: Seq[String]): Unit = {
    val tmp = Paths.get(dir, s".tmp-$name")
    Files.write(tmp, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dir, name)): Unit
  }

  /** Rows ingest wrote to one curated hour partition (headerless CSV). */
  private def curatedRows(curated: String, date: String, hour: String): Long = {
    val dir = Paths.get(curated, s"p_date=$date", s"p_hour=$hour")
    if (!Files.isDirectory(dir)) 0L
    else Files.list(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith(".") && !p.getFileName.toString.startsWith("_"))
      .map(p => Files.readAllLines(p).asScala.count(_.nonEmpty).toLong).sum
  }

  /** Exact fare total, for reconciling the fact table with the BI view. */
  private val fare = sum(col("fare_amount").cast("decimal(18,6)"))

  private def commits(wh: Lambda.SharedWarehouse): Long =
    Seq(wh.core, wh.fact, wh.dimVendor, wh.dimPayment, wh.dimRate, wh.dimFlag,
      wh.dimLocation, wh.stg, wh.slice, wh.audit, wh.fileAudit)
      .map(_.versions.size.toLong).sum

  /** One daily run: seconds, core rows loaded, and when traced the bytes
    * and commits it wrote. */
  final case class DailyRun(seconds: Double, core: Long, bytesWritten: Long, commits: Long)

  final case class HourTimes(ingestS: Double, runHourS: Double, biReadS: Double,
                             cpuS: Double) {
    def freshnessS: Double = ingestS + runHourS + biReadS
  }

  def run(spark: SparkSession, ctx: Run): Unit = {
    val work = ctx.opts.work
    val logDir = s"$work/seglog"
    Files.createDirectories(Paths.get(logDir))
    val dirs = Ingest.LakeDirs(raw = s"$work/lake/raw", curated = s"$work/lake/curated",
      dlq = s"$work/lake/dlq", checkpoint = s"$work/lake/chk")
    val wh = Lambda.SharedWarehouse(spark, s"$work/wh")

    // the producer's hours: event envelopes grouped by arrival hour
    val hours: IndexedSeq[((String, String), Seq[String])] =
      ctx.tracer.span("model:envelopes") {
        EventsModel.envelopes(spark, ctx.opts.fixtures)
          .select(col("json"), date_format(col("arrival_ts"), "yyyy-MM-dd").as("d"),
            date_format(col("arrival_ts"), "HH").as("h"))
          .collect().toSeq
          .groupBy(r => (r.getString(1), r.getString(2)))
          .toIndexedSeq.sortBy(_._1)
          .map { case (k, rows) => k -> rows.map(_.getString(0)).sorted }
      }
    def daily(runId: String): DailyRun = {
      val before = if (ctx.opts.trace) Fs.files(Paths.get(wh.dir)) else Map.empty[String, Long]
      val c0 = if (ctx.opts.trace) commits(wh) else 0L
      val t0 = System.nanoTime()
      val (core, _) = ctx.tracer.span("lambda:runDaily")(
        Lambda.runDaily(wh, ctx.opts.fixtures, runId))
      val s = (System.nanoTime() - t0) / 1e9
      if (!ctx.opts.trace) DailyRun(s, core, 0L, 0L)
      else DailyRun(s, core, Fs.written(before, Fs.files(Paths.get(wh.dir)))._2,
        commits(wh) - c0)
    }
    val load = daily("seed-day")
    val batchCore = load.core
    ctx.layer("batch.load_s", load.seconds, "s")

    // The seed picks the first hour replayed. An untraced run measures one
    // hour; a traced run measures that hour and the next, so the per-hour
    // layers have a trend to show. Both draw from the same range, so the
    // two modes of one seed replay the same first hour.
    val measured = if (ctx.opts.trace) 2 else 1
    val start = new Random(ctx.opts.seed).nextInt(hours.size - 1)
    def ingest(): Unit = {
      val q = Ingest.start(spark, SegmentLogStreamSource(logDir), dirs, Trigger.AvailableNow())
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }
    def visibleStreamRows(): Long = Lambda.biView(wh).filter(isStream).count()
    ctx.setupDone()

    val whFiles0 = if (ctx.opts.trace) Fs.files(Paths.get(wh.dir)) else Map.empty[String, Long]
    val commits0 = if (ctx.opts.trace) commits(wh) else 0L
    var visible = 0L
    var inserted = 0L
    val times = Vector.newBuilder[HourTimes]
    val counts = Vector.newBuilder[Double]
    (start until start + measured).foreach { i =>
      val ((date, hour), lines) = hours(i)
      val label = s"$date/$hour"
      val c0 = Stats.processCpuS
      val a0 = System.nanoTime()
      ctx.tracer.span("sources:append_segment")(writeSegment(logDir, f"$i%08d.seg", lines))
      ctx.tracer.span("stream:Ingest")(ingest())
      val a1 = System.nanoTime()
      val res = ctx.tracer.span("lambda:runHour")(
        Lambda.runHour(wh, dirs.curated, date, hour, s"hour-$i"))
      val a2 = System.nanoTime()
      val nowVisible = ctx.tracer.span("lambda:biView")(visibleStreamRows())
      val a3 = System.nanoTime()
      times += HourTimes((a1 - a0) / 1e9, (a2 - a1) / 1e9, (a3 - a2) / 1e9,
        Stats.processCpuS - c0)
      counts += lines.size.toDouble
      val curated = curatedRows(dirs.curated, date, hour)
      ctx.ledger.op(s"hour $label")(Seq(Checks.hour(Checks.Hour(label, curated,
        res.rowsCopied, res.inserted, nowVisible - visible))))
      visible = nowVisible
      inserted += res.inserted
    }
    val ts = times.result()
    val events = counts.result()

    ctx.ledger.op("star invariants") {
      val core = wh.core.read.agg(count(col("trip_id")),
        count(when(col("trip_id").isNull, 1))).collect()(0)
      val (streamCore, batchRows) = (core.getLong(0), core.getLong(1))
      val fact = wh.fact.read.agg(count(when(isStream, 1)), fare).collect()(0)
      Seq(
        Checks.equal("stream rows in core vs merged", streamCore, inserted),
        Checks.equal("stream rows in fact vs core", fact.getLong(0), streamCore),
        Checks.equal("batch rows conserved", batchRows, batchCore),
        Checks.equal("fact fare sum vs BI view fare sum",
          fact.getDecimal(1), Lambda.biView(wh).agg(fare).collect()(0).getDecimal(0)))
    }

    val fresh = ts.map(_.freshnessS)
    ctx.e2e("op_geomean_ms", Stats.geomean(fresh) * 1e3, "ms")
    ctx.e2e("op_cpu_ms", Stats.mean(ts.map(_.cpuS)) * 1e3, "ms")
    ctx.series("freshness_s") = fresh
    ctx.series("events") = events
    ctx.layer("stream.events_per_s", events.sum / fresh.sum, "1/s")
    ctx.layer("stream.freshness_p50_s", Stats.median(fresh), "s")
    ctx.layer("stream.freshness_p90_s", Stats.quantile(fresh, 0.9), "s")
    ctx.layer("stream.ingest_s.p50", Stats.median(ts.map(_.ingestS)), "s")
    ctx.layer("lambda.run_hour_s.p50", Stats.median(ts.map(_.runHourS)), "s")
    ctx.layer("lambda.bi_read_s.p50", Stats.median(ts.map(_.biReadS)), "s")
    // the second measured hour's runHour over the first's (1 untraced)
    ctx.layer("lambda.run_hour_growth", ts.last.runHourS / ts.head.runHourS, "ratio")
    if (ctx.opts.trace) {
      val (files, bytes) = Fs.written(whFiles0, Fs.files(Paths.get(wh.dir)))
      ctx.layer("ops.commits_per_hour", (commits(wh) - commits0).toDouble / ts.size, "count")
      ctx.layer("ops.files_per_hour", files.toDouble / ts.size, "count")
      ctx.layer("ops.bytes_written_per_event", bytes.toDouble / events.sum, "bytes")
      ctx.layer("ops.core_live_commit_dirs", wh.core.liveCommitDirs.toDouble, "count")
      ctx.layer("ops.fact_live_commit_dirs", wh.fact.liveCommitDirs.toDouble, "count")
      ctx.layer("lambda.lock_retries", LaneLock.events(spark, wh.dir)
        .filter(col("event") === "usurped_retry").count().toDouble, "count")

      val replay = daily("seed-day-replay")
      ctx.ledger.op("daily replay") {
        val core = wh.core.read
        Seq(Checks.equal("replay core rows vs load", replay.core, batchCore),
          Checks.equal("batch rows after replay",
            core.filter(col("trip_id").isNull).count(), batchCore),
          Checks.equal("stream rows after replay",
            core.filter(col("trip_id").isNotNull).count(), inserted),
          Checks.equal("fact rows vs core rows after replay",
            wh.fact.read.count(), core.count()))
      }
      ctx.layer("batch.replay_s", replay.seconds, "s")
      ctx.layer("ops.bytes_written_load", load.bytesWritten.toDouble, "bytes")
      ctx.layer("ops.bytes_written_replay", replay.bytesWritten.toDouble, "bytes")
      ctx.layer("ops.replay_write_amplification",
        replay.bytesWritten.toDouble / math.max(1L, load.bytesWritten), "ratio")
      ctx.layer("ops.commits_load", load.commits.toDouble, "count")
      ctx.layer("ops.commits_replay", replay.commits.toDouble, "count")

      val m0 = System.nanoTime()
      ctx.tracer.span("model:clean_dedup")(TaxiModel.deduped(TaxiModel.cleaned(
        TaxiModel.tripsWithDups(spark, ctx.opts.fixtures),
        TaxiModel.paymentTypeMap(spark))).count())
      ctx.layer("model.clean_dedup_s", (System.nanoTime() - m0) / 1e9, "s")
    }
  }
}
