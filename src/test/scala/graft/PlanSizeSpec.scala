package graft

import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Fixtures
import graft.driver.CrawlEngine
import graft.model.CrawlConfig

/** Records the length of every physical-plan description Spark builds: one
  * per SQL execution start and one per AQE stage update. */
final class PlanStringListener extends SparkListener {
  private val sizes = ArrayBuffer.empty[Int]
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(sizes += s.physicalPlanDescription.length)
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      synchronized(sizes += u.physicalPlanDescription.length)
    case _ =>
  }
  def recorded: Seq[Int] = synchronized(sizes.toList)
}

/**
 * Plan-size regression: each wave intermediate is a plan leaf, so the plan
 * Spark describes for any cycle action stays O(layer). Stacked caches made
 * every cached layer print its cached subtree again, doubling the string
 * per layer. The bound is on string length, a count no host load can move.
 */
class PlanSizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("politeness-bounded cycles describe plans of bounded size") {
    val listener = new PlanStringListener
    val engine = new CrawlEngine(spark, CrawlConfig(maxDepth = 10, hostBudget = 5),
      spark.createDataset(Fixtures.hotHost).toDF(),
      spark.createDataset(Fixtures.imagesFor(Fixtures.hotHost)).toDF(),
      Files.createTempDirectory("graft-plansize").toString)
    engine.init(Fixtures.hotHostSeeds)
    spark.sparkContext.addSparkListener(listener)
    try engine.drive(6)
    finally {
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    val sizes = listener.recorded
    info(s"${sizes.size} plan descriptions, ${sizes.map(_.toLong).sum} chars total, " +
      s"largest ${sizes.max}")
    val deferred = engine.lineageNow.groupBy().sum("deferred_polite").as[Long].head()
    assert(deferred > 0, "the crawl must be politeness-bounded")
    assert(sizes.max <= 256 * 1024, s"largest plan description ${sizes.max} chars")
  }
}
