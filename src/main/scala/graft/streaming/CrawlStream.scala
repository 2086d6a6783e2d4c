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
 * A rate source supplies monotonic ticks; each micro-batch drives exactly
 * one engine micro-cycle. All crawl state lives in the engine's snapshot
 * tables — NOT in the streaming state store — so exact resume reopens the
 * LATEST snapshot regardless of the streaming checkpoint (the reference's
 * continuous Manager pull loop, reference Manager.scala:242-256, with the
 * idle re-pull tick becoming the trigger interval).
 *
 * The cycle number is always re-derived from the latest snapshot rather
 * than the streaming batchId, so a restarted query (whose batchIds reset)
 * continues the same logical clock.
 *
 * A streaming crawl commits synchronously: each micro-batch runs
 * [[CrawlEngine.runCycle]], which returns once its snapshot has landed, so
 * it does not get [[CrawlEngine.drive]]'s overlap of each commit with the
 * next group's waves (nor its `wavesPerCommit` grouping) until the two
 * loops share one step.
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
        val cycle = engine.snap.latest.map(_.cycle + 1).getOrElse(1L)
        val (_, progressed, pending) = engine.runCycle(cycle)
        if (progressed == 0 || pending == 0) {
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
