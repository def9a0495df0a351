package perfbench

import scala.util.{Failure, Success}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {

  private val expected = Map("q_a" -> 3L, "q_b" -> 5L)

  test("a wrong row count is a failed operation") {
    val ledger = new Checks.Ledger
    assert(!ledger.op("query q_a")(Seq(Checks.queryCount("q_a", expected, Success(4L)))))
    assert(ledger.attempted == 1 && ledger.failed == 1)
    assert(ledger.failures.head.contains("returned 4 rows, expected 3"))
    assert(ledger.exitCode != 0)
  }

  test("a thrown query is a failed operation, and so is a query with no expected count") {
    val ledger = new Checks.Ledger
    ledger.op("query q_b")(Seq(Checks.queryCount("q_b", expected,
      Failure(new IllegalStateException("boom")))))
    ledger.op("query q_new")(Seq(Checks.queryCount("q_new", expected, Success(1L))))
    assert(ledger.failed == 2)
    assert(ledger.failures.head.contains("threw IllegalStateException: boom"))
    assert(ledger.exitCode != 0)
  }

  test("a missing hour is a failed operation") {
    val ledger = new Checks.Ledger
    // the hour reached the lake but was never loaded: nothing staged,
    // merged or made visible
    ledger.op("hour 2024-01-03/07")(Seq(Checks.hour(
      Checks.Hour("2024-01-03/07", curatedRows = 12, rowsCopied = 0, inserted = 0,
        visibleDelta = 0))))
    // the hour never reached the lake at all
    ledger.op("hour 2024-01-03/08")(Seq(Checks.hour(
      Checks.Hour("2024-01-03/08", curatedRows = 0, rowsCopied = 0, inserted = 0,
        visibleDelta = 0))))
    // loaded, but the BI view does not show it
    ledger.op("hour 2024-01-03/09")(Seq(Checks.hour(
      Checks.Hour("2024-01-03/09", curatedRows = 12, rowsCopied = 12, inserted = 12,
        visibleDelta = 0))))
    assert(ledger.attempted == 3 && ledger.failed == 3)
  }

  test("a clean run exits zero; a check that throws fails its operation") {
    val ok = new Checks.Ledger
    assert(ok.op("hour h")(Seq(Checks.hour(Checks.Hour("h", 12, 12, 11, 11)))))
    assert(ok.op("query q_a")(Seq(Checks.queryCount("q_a", expected, Success(3L)))))
    assert(ok.exitCode == 0)
    ok.op("star")(throw new RuntimeException("read failed"))
    assert(ok.failed == 1 && ok.exitCode != 0)
    assert(new Checks.Ledger().exitCode != 0, "a run that attempted nothing fails")
  }

  test("order statistics") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(math.abs(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.9) - 4.6) < 1e-12)
  }

  test("a query run records failed queries as failures and keeps no time for them") {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val work = java.nio.file.Files.createTempDirectory("perfbench-spec").toString
      val opts = Opts("query_surface", 1L, trace = false, cpus = 1, fixtures = "",
        work = work, out = work, expectedFile = s"$work/none.tsv",
        recordExpected = false)
      val run = new Run(opts, new Tracer(false), None, System.nanoTime())
      val queries = Seq(
        QuerySurface.Query("q_a", "taxi", (s: SparkSession, _: String) => s.range(3).toDF()),
        QuerySurface.Query("q_b", "taxi", (s: SparkSession, _: String) => s.range(4).toDF()),
        QuerySurface.Query("q_c", "olap", (_: SparkSession, _: String) =>
          throw new IllegalStateException("planted")))
      val samples = QuerySurface.runOnce(spark, "", queries,
        Map("q_a" -> 3L, "q_b" -> 5L, "q_c" -> 1L), seed = 7L, run)
      assert(run.ledger.attempted == 3)
      assert(run.ledger.failed == 2)
      assert(samples.keySet == Set("q_a"), "only the correct query keeps a time")
      assert(run.ledger.exitCode != 0)
    } finally spark.stop()
  }
}
