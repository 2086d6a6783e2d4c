package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Fixtures
import graft.driver.CrawlEngine
import graft.model.CrawlConfig
import graft.pipeline.Dedup
import graft.streaming.{CrawlStream, StreamDedup}

/**
 * Structured Streaming surface (SURVEY §2.5 streaming): foreachBatch-driven
 * micro-cycles must produce the identical crawl outcome as the plain loop,
 * with state in snapshot tables (exact resume independent of the streaming
 * checkpoint).
 */
class StreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("foreachBatch-driven crawl matches the batch engine on site3") {
    val pages = Fixtures.site3
    val dir = Files.createTempDirectory("graft-stream").toString
    val engine = new CrawlEngine(spark, CrawlConfig(),
      spark.createDataset(pages).toDF(),
      spark.createDataset(Fixtures.imagesFor(pages)).toDF(), dir)
    CrawlStream.crawl(engine, Fixtures.site3Seeds)
    val visited = engine.visited.select("url").as[String].collect().toSet
    assert(visited === Set("http://host0.test/", "http://host0.test/resource",
      "http://host0.test/stuff"))
    val out = engine.outputNow.select("psnr", "caption_ok").collect()
    assert(out.length === 3)
    assert(out.forall(r => r.getDouble(0) >= 40.0 && r.getBoolean(1)))
  }

  def engineOn(pages: Seq[graft.model.PageRow], cfg: CrawlConfig,
      dir: String = Files.createTempDirectory("graft-stream").toString): CrawlEngine =
    new CrawlEngine(spark, cfg, spark.createDataset(pages).toDF(),
      spark.createDataset(Fixtures.imagesFor(pages)).toDF(), dir)
  def dump(df: org.apache.spark.sql.DataFrame): Seq[String] = df.toJSON.collect().sorted.toSeq

  test("a streaming crawl commits every wavesPerCommit cycles and matches a plain run") {
    val cfg = CrawlConfig(maxDepth = 10, hostBudget = 5, wavesPerCommit = 3)
    val streamed = engineOn(Fixtures.hotHost, cfg)
    val last = CrawlStream.crawl(streamed, Fixtures.hotHostSeeds)
    val plain = engineOn(Fixtures.hotHost, cfg)
    plain.run(Fixtures.hotHostSeeds)
    assert(dump(streamed.frontierNow) === dump(plain.frontierNow), "frontier")
    assert(dump(streamed.outputNow) === dump(plain.outputNow), "output")
    // v0 holds the seeds; every later version commits a group of cycles
    assert(last.version < last.cycle, s"${last.version} snapshots for ${last.cycle} cycles")
  }

  test("CrawlStream.resume finishes a crawl cut after one group, as an uninterrupted run") {
    val pages = Fixtures.hotHost ++ Fixtures.site3
    val seeds = Fixtures.hotHostSeeds ++ Fixtures.site3Seeds
    val cfg = CrawlConfig(maxDepth = 10, hostBudget = 5)
    val dir = Files.createTempDirectory("graft-stream-resume").toString
    val cut = engineOn(pages, cfg, dir)
    cut.init(seeds)
    cut.drive(1) // one committed group, then "crash"
    val resumed = engineOn(pages, cfg, dir)
    CrawlStream.resume(resumed)
    val plain = engineOn(pages, cfg)
    plain.run(seeds)
    assert(dump(resumed.frontierNow) === dump(plain.frontierNow), "frontier")
    assert(dump(resumed.outputNow) === dump(plain.outputNow), "output")
    assert(dump(resumed.lineageNow) === dump(plain.lineageNow), "lineage")
  }

  test("addSeeds mid-crawl injects new URLs which are then crawled (AddTasks parity)") {
    val pages = Fixtures.site3 ++ Fixtures.httpFilter
    val dir = Files.createTempDirectory("graft-addseeds").toString
    val engine = new CrawlEngine(spark, CrawlConfig(),
      spark.createDataset(pages).toDF(),
      spark.createDataset(Fixtures.imagesFor(pages)).toDF(), dir)
    engine.run(Fixtures.site3Seeds)
    assert(engine.visited.count() === 3)
    // inject the second site's seed and resume; dedup drops the known URL
    val added = engine.addSeeds(Fixtures.httpFilterSeeds ++ Fixtures.site3Seeds)
    assert(added === 1, "only the unseen URL enqueued (O5 first-wins)")
    engine.resume()
    val visited = engine.visited.select("url").as[String].collect().toSet
    assert(visited.contains("http://hf.test/"))
    assert(visited.contains("http://hf.test/fine"))
    // 403/500 pages end WithError, not Completed (P6)
    assert(!visited.contains("http://hf.test/forbidden"))
  }

  test("StreamDedup.firstSeen: cross-batch state suppresses re-arrivals; min-id kept within a batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val out = StreamDedup.firstSeen(ms.toDS().toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      // batch 1: ids 1 and 2 normalize to the same text — min id wins
      ms.addData((2L, "Alpha  beta"), (1L, "alpha beta"), (3L, "gamma"))
      q.processAllAvailable()
      // batch 2: id 4 re-arrives as a dup of the batch-1 key — state filters it
      ms.addData((4L, "ALPHA beta"), (5L, "delta"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sdedup").as[(Long, String)].collect().map(_._1).toSet
    assert(got === Set(1L, 3L, 5L))
  }

  test("StreamNearDup: cross-batch LSH candidates cover the batch minhash pairs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = (0L until 30L).map(i =>
      (i, s"the quick brown fox $i jumps over the lazy dog number $i end of text"))
    val mutants = (0L until 30L by 3).map(i => (i + 100, base(i.toInt)._2 + " tail"))
    val all = base ++ mutants
    val truth = graft.pipeline.Dedup
      .minhashPairs(all.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture must contain near-dups")
    val ms = MemoryStream[(Long, String)]
    val out = graft.streaming.StreamNearDup.candidates(
      ms.toDS().toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("snd")
      .outputMode("append").start()
    try {
      // originals mostly in batch 1, mutants in batch 2 → the pairs that
      // matter span micro-batches and need the bucket state to survive
      val (b1, b2) = all.splitAt(all.size / 2)
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val cands = spark.table("snd").as[(Long, Long)].collect().toSet
    assert(truth.subsetOf(cands),
      s"streaming candidates missing verified pairs: ${truth -- cands}")
  }

  test("StreamDedup.firstSeen on a static frame reproduces exactDedup keepers") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val batchKeepers = Dedup.exactDedup(docs, "doc_id", "text")
      .select("keep_id").as[Long].collect().toSet
    val streamKeepers = StreamDedup.firstSeen(docs, "doc_id", "text")
      .map(_._1).collect().toSet
    assert(streamKeepers === batchKeepers)
  }
}
