package graft.driver

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.CrawlConfig
import graft.corpus.Corpus

/**
 * spark-submit entry point (SURVEY §7.3.8 / reference StartNode.scala:38-59):
 * synthesizes the deterministic corpus, seeds the frontier, drives micro-
 * cycles to completion, prints per-cycle metrics and a final summary line.
 *
 *   sbt "runMain graft.driver.CrawlMain --hosts 20 --pages 2000 --seeds 3 \
 *        --budget 10 --max-depth 4 --workdir /tmp/crawl1 [--resume] [--cores 8] \
 *        [--add-urls http://h0.test/extra,http://h1.test/]"
 *
 * `--add-urls` is the reference's remote AddTasks entry point
 * (AddTasks.scala:11-50: a CLI that injects NewTasks into a RUNNING crawl's
 * master): it injects the urls into an existing workdir's frontier (O5
 * dedup applies) and resumes the crawl to completion.
 */
object CrawlMain {

  /** One row per cycle from the per-bucket lineage: (cycle, drained,
    * enqueued, deduped, deferred_polite, errors). `deduped` and
    * `deferred_polite` are per-wave totals repeated on every bucket row of
    * that wave, so they take the max, not the sum. */
  def cycleSummary(lineage: DataFrame): DataFrame =
    lineage.groupBy("cycle").agg(
      sum("drained").as("drained"), sum("enqueued").as("enqueued"),
      max("deduped").as("deduped"), max("deferred_polite").as("deferred_polite"),
      sum("errors").as("errors"))
      .orderBy("cycle")

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val hosts = a.getOrElse("--hosts", "10").toInt
    val pages = a.getOrElse("--pages", "500").toInt
    val seeds = a.getOrElse("--seeds", "3").toInt
    val budget = a.getOrElse("--budget", "10").toInt
    val maxDepth = a.getOrElse("--max-depth", "4").toInt
    val maxCycles = a.getOrElse("--max-cycles", "1000").toInt
    val waves = a.getOrElse("--waves", "1").toInt
    val workdir = a.getOrElse("--workdir",
      s"/tmp/graft-crawl-$hosts-$pages-$seeds")
    val cores = a.getOrElse("--cores", "8")
    val resume = args.contains("--resume")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-crawl")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val spec = Corpus.WebSpec(hosts, pages)
    val cfg = CrawlConfig(maxDepth = maxDepth, hostBudget = budget,
      wavesPerCommit = waves)
    val engine = new CrawlEngine(spark, cfg,
      Corpus.pages(spark, spec).toDF(), Corpus.images(spark, spec).toDF(), workdir)

    val addUrls = a.get("--add-urls")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)

    val t0 = System.nanoTime()
    val snap =
      if (addUrls.nonEmpty) { // AddTasks parity: inject mid-crawl, then drive
        val added = engine.addSeeds(addUrls)
        println(s"""{"seeds_added":$added}""")
        engine.resume(maxCycles)
      } else if (resume) engine.resume(maxCycles)
      else engine.run(Corpus.seeds(spec, seeds), maxCycles)
    val secs = (System.nanoTime() - t0) / 1e9

    val statuses = engine.frontierNow.groupBy("status").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val outputs = engine.outputNow.count()
    val okPsnr = engine.outputNow.filter(col("psnr") >= 40.0 && col("caption_ok")).count()
    val fetched = statuses.getOrElse("Completed", 0L) + statuses.getOrElse("WithError", 0L)
    println(cycleSummary(engine.lineageNow).collect()
      .map(r => s"cycle=${r.getLong(0)} drained=${r.getLong(1)} enqueued=${r.getLong(2)} " +
        s"deduped=${r.getLong(3)} deferred_polite=${r.getLong(4)} errors=${r.getLong(5)}")
      .mkString("\n"))
    println(f"""{"snapshot":${snap.version},"cycles":${snap.cycle},""" +
      f""""completed":${statuses.getOrElse("Completed", 0L)},""" +
      f""""withError":${statuses.getOrElse("WithError", 0L)},""" +
      f""""outputs":$outputs,"validated":$okPsnr,""" +
      f""""fetched_per_sec":${fetched / secs}%.1f,"secs":$secs%.1f}""")
    spark.stop()
  }
}
