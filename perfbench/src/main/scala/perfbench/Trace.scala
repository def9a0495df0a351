package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around each call into a module: (name, start, end, parent),
  * held in memory and written out at the end of a traced run. Disabled,
  * a span is just its body. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val origin = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.synchronized {
          spans += Span(id, parents.headOption.getOrElse(0), name, t0 - origin, t1 - origin)
        }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toSeq.sortBy(_.id))
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}

/** Spark listener counts for a traced run, registered by the benchmark
  * itself: jobs, stages, tasks, shuffle and spill bytes, executor CPU,
  * run and GC time, job time grouped by the program line that launched
  * the job, and SQL executions per benchmark-chosen owner. */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val executorCpuNs = new AtomicLong
  val executorRunMs = new AtomicLong
  val gcMs = new AtomicLong

  private val jobStarts = new ConcurrentHashMap[Int, (Long, String)]()
  /** SQL execution id -> the call site that started the execution */
  private val executionSites = new ConcurrentHashMap[Long, String]()
  /** call site -> (jobs, total job ms) */
  private val sites = new ConcurrentHashMap[String, (Long, Long)]()
  @volatile private var owner: String = ""
  private val perOwner = new ConcurrentHashMap[String, AtomicLong]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => executionSites.put(s.executionId, s.description)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    // A SQL job is charged to the line that started its execution: the
    // jobs of adaptive query stages run on a pool thread, where their own
    // call site names that thread, not the program. Other jobs are named
    // by their result stage, whose name is the job's call site.
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(executionSites.get(id.toLong)))
    val site = execution.getOrElse(
      if (e.stageInfos.isEmpty) "unknown" else e.stageInfos.maxBy(_.stageId).name)
    jobStarts.put(e.jobId, (e.time, site))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (t0, site) =>
      sites.merge(site, (1L, e.time - t0), (a, b) => (a._1 + b._1, a._2 + b._2))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet(): Unit

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      executorCpuNs.addAndGet(m.executorCpuTime)
      executorRunMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  private def countExecution(): Unit =
    perOwner.computeIfAbsent(owner, _ => new AtomicLong).incrementAndGet(): Unit
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    countExecution()
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    countExecution()

  /** Attribute the SQL executions that follow to `name`. Drains the bus
    * first so no queued execution lands on the next owner. */
  def ownBy(spark: SparkSession, name: String): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    owner = name
  }

  def executionsOf(name: String): Long =
    Option(perOwner.get(name)).map(_.get).getOrElse(0L)

  /** (call site, jobs, total job seconds), most expensive first. */
  def callSites: Seq[(String, Long, Double)] =
    sites.asScala.toSeq.map { case (s, (n, ms)) => (s, n, ms / 1e3) }.sortBy(-_._3)

  def metrics: Seq[(String, Double, String)] = Seq(
    ("spark.jobs", jobs.get.toDouble, "count"),
    ("spark.stages", stages.get.toDouble, "count"),
    ("spark.tasks", tasks.get.toDouble, "count"),
    ("spark.shuffle_read_bytes", shuffleReadBytes.get.toDouble, "bytes"),
    ("spark.shuffle_write_bytes", shuffleWriteBytes.get.toDouble, "bytes"),
    ("spark.spill_bytes", spillBytes.get.toDouble, "bytes"),
    ("spark.executor_cpu_s", executorCpuNs.get / 1e9, "s"),
    ("spark.executor_run_s", executorRunMs.get / 1e3, "s"),
    ("spark.gc_s", gcMs.get / 1e3, "s"))
}

object SparkCounters {
  def register(spark: SparkSession): SparkCounters = {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }
}
