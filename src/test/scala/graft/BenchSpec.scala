package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The bench main's own code paths: the child-JVM protocol (argv in, one
  * CrawlRun JSON line out) and the query suite's failure accounting. */
class BenchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a tiny leg runs in a child JVM and reads back as a CrawlRun") {
    val run = Bench.crawlBenchIsolated(cores = 1, nHosts = 4, nPages = 200)
    assert(run.isDefined, "the child printed no CrawlRun")
    val r = run.get
    assert(r.cores === 1)
    assert(r.pages > 0 && r.fetched > 0 && r.secs > 0, r)
    assert(r.calKey === "c1_p200")
    assert(r.sentinel > 0, "the sentinel ran for the child's lifetime")
  }

  test("a query that throws is listed as failed, not timed") {
    import spark.implicits._
    // only `orders.o_orderstatus` exists: the warmup query runs, most others throw
    val dir = Files.createTempDirectory("graft-sf-partial")
    Seq("F", "O", "P").toDF("o_orderstatus").write.parquet(dir.resolve("orders.parquet").toString)
    val (timed, failed) = Bench.querySuite(spark, dir.toString)
    assert(timed.map(_._1).contains("q14_o9_status_counts"))
    assert(failed.contains("q01_pricing_agg"), "lineitem is missing")
    assert((timed.map(_._1) ++ failed).sorted === SparkEntry.queries.keys.filter(_ != "entry").toSeq.sorted)
  }
}
