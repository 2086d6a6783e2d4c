package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.driver.CrawlEngine

/**
 * Structured Streaming driver for the crawl loop (north_star: "batched
 * frontier-drain → fetch → parse → enqueue micro-cycles driven by
 * foreachBatch").
 *
 * A rate source supplies monotonic ticks; each micro-batch runs the
 * engine's crawl loop ([[CrawlEngine.advance]], the loop `drive` runs) for
 * one commit group of `config.wavesPerCommit` micro-cycles. All crawl state
 * lives in the engine's snapshot tables — NOT in the streaming state store
 * — so exact resume reopens the LATEST snapshot regardless of the streaming
 * checkpoint (the reference's continuous Manager pull loop, reference
 * Manager.scala:242-256, with the idle re-pull tick becoming the trigger
 * interval). The loop numbers cycles from the latest snapshot, not from the
 * streaming batchId, so a restarted query (whose batchIds reset) continues
 * the same logical clock.
 */
object CrawlStream {

  /** Start a streaming crawl over an initialized engine; stops itself at
    * Finished (O9) and returns the live query for the caller to await. */
  def start(engine: CrawlEngine, tick: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    val spark = engine.spark
    val checkpoint = Files.createTempDirectory("graft-stream-ckpt").toString
    val ticks = spark.readStream.format("rate")
      .option("rowsPerSecond", 1).load()
    // stop ONLY this crawl's query at Finished — the SparkSession may host
    // other streaming queries (another concurrent crawl, metrics feeds);
    // killing spark.streams.active wholesale would take them down too
    val self = new java.util.concurrent.atomic.AtomicReference[StreamingQuery]()
    val query = ticks.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(tick)
      .foreachBatch { (_: DataFrame, _: Long) =>
        val (_, finished) = engine.advance(engine.config.wavesPerCommit)
        if (finished) {
          // Finished: stop from a separate thread (stop() inside
          // foreachBatch would deadlock the micro-batch thread)
          new Thread(() => {
            var q = self.get()
            while (q == null) { Thread.sleep(10); q = self.get() }
            q.stop()
          }).start()
        }
      }
      .start()
    self.set(query)
    query
  }

  /** Run a full crawl via the streaming surface: seed, stream micro-cycles
    * until Finished, return the final snapshot. */
  def crawl(engine: CrawlEngine, seeds: Seq[String]): graft.plans.Snapshot = {
    engine.init(seeds)
    val q = start(engine)
    q.awaitTermination()
    engine.snap.latest.get
  }

  /** Resume a streaming crawl from the latest committed snapshot. */
  def resume(engine: CrawlEngine): graft.plans.Snapshot = {
    engine.prepareResume()
    val q = start(engine)
    q.awaitTermination()
    engine.snap.latest.get
  }
}
