package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite
import graft.driver.CrawlEngine
import graft.model.CrawlConfig
import graft.plans.SnapTable

class SnapTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("failed commit waits for sibling writes and leaves no v<version> dir behind") {
    val root = Files.createTempDirectory("graft-snap").toString
    val store = new SnapTable(spark, root)
    val base = store.commit(0L,
      cowTables = Map("frontier" -> ((Seq((0, "a")).toDF("bucket", "x"), "bucket", Set(0)))))
    val version = base.version + 1
    val boom = udf((i: Long) =>
      if (i >= 0) throw new IllegalStateException("injected write failure") else i)
    val slowMs = 3000L
    val slow = udf((i: Long) => { Thread.sleep(slowMs); i })
    val failing = spark.range(4).select(col("id").cast("int").as("bucket"), boom(col("id")).as("x"))
    val t0 = System.nanoTime()
    intercept[Exception](store.commit(1L,
      cowTables = Map("frontier" -> ((failing, "bucket", Set(0, 1)))),
      appends = Map("lineage" -> spark.range(1).select(slow(col("id")).as("x")))))
    // let any write the failed commit left running finish before looking
    val deadline = t0 + 60L * 1000000000L
    while (System.nanoTime() < deadline &&
      (System.nanoTime() - t0 < (slowMs + 1000L) * 1000000L ||
        spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty)) Thread.sleep(100)
    Seq("frontier", "lineage").foreach { t =>
      val dir = Paths.get(root, "data", t, s"v$version")
      assert(!Files.exists(dir), s"orphan $dir")
    }
    assert(store.latestVersion === Some(base.version))

    val next = store.commit(1L,
      cowTables = Map("frontier" -> ((Seq((1, "b")).toDF("bucket", "x"), "bucket", Set(1)))),
      appends = Map("lineage" -> spark.range(1).toDF("x")))
    assert(next.version === version)
    assert(store.readTable(next, "frontier").get.count() === 2)
    assert(store.readAppended(next, "lineage").get.count() === 1)
  }

  test("a manifest round-trips a table name with a quote, backslash and control char; NaN is written as 0") {
    val root = Files.createTempDirectory("graft-manifest").toString
    val store = new SnapTable(spark, root)
    val odd = "we\"ird\\name\u0001"
    val snap = store.commit(0L, appends = Map(odd -> spark.range(2).toDF("x")),
      metrics = Map("rate" -> Double.NaN, "rows" -> 2.0, odd -> 1.5))
    val back = new SnapTable(spark, root).readSnapshot(snap.version)
    assert(back === snap.copy(metrics = snap.metrics + ("rate" -> 0.0)))
  }

  test("a snapshot root or workDir holding a glob character is refused at construction") {
    val base = Files.createTempDirectory("graft-glob").toString
    Seq("\\", "[", "]", "{", "}", "*", "?").foreach { c =>
      val dir = s"$base/a${c}b"
      val e = intercept[IllegalArgumentException](new SnapTable(spark, dir))
      assert(e.getMessage.contains("glob characters"), e.getMessage)
      intercept[IllegalArgumentException](new CrawlEngine(spark, CrawlConfig(),
        spark.emptyDataFrame, spark.emptyDataFrame, dir))
      assert(!Files.exists(Paths.get(dir)), s"$dir created")
    }
    val plain = new SnapTable(spark, s"$base/plain")
    assert(plain.latestVersion.isEmpty)
  }
}
