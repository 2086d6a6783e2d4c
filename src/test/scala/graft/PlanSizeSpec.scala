package graft

import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
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

/** Keeps the executed plan of every successful query. */
final class ExecutedPlans extends QueryExecutionListener {
  private val plans = ArrayBuffer.empty[SparkPlan]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized(plans += qe.executedPlan)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def recorded: Seq[SparkPlan] = synchronized(plans.toList)
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

  /** Every node of an executed plan, through AQE's final plan and its query
    * stages. A reused exchange is a leaf: its subtree runs once. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case _ => (p.children ++ p.subqueries).flatMap(nodes)
  })

  test("the resolved-corpus write scans the wide corpus a constant number of times") {
    val dir = Files.createTempDirectory("graft-resolveplan").toString
    spark.createDataset(RedirectEdges.pages).write.parquet(s"$dir/pages")
    val pages = spark.read.parquet(s"$dir/pages")
    val images = spark.createDataset(Fixtures.imagesFor(RedirectEdges.pages)).toDF()
    val bodyScans = Seq(1, 5, 10).map { k =>
      val plans = new ExecutedPlans
      spark.listenerManager.register(plans)
      try new CrawlEngine(spark, CrawlConfig(maxRedirects = k), pages, images, s"$dir/k$k")
        .prepareCorpus()
      finally {
        ListenerBusDrain(spark.sparkContext)
        spark.listenerManager.unregister(plans)
      }
      val write = plans.recorded.map(nodes).filter(_.exists {
        case w: DataWritingCommandExec => w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand =>
            i.outputPath.getName == "corpus_resolved"
          case _ => false
        }
        case _ => false
      })
      assert(write.size === 1, s"one corpus write at maxRedirects=$k")
      val carriers = write.head.collect {
        case e @ (_: Exchange | _: ReusedExchangeExec) if e.output.exists(_.name.contains("body")) => e
      }
      assert(carriers.isEmpty, s"an exchange carries the body at maxRedirects=$k: $carriers")
      val scans = write.head.collect { case f: FileSourceScanExec => f }
      info(s"maxRedirects=$k: ${scans.size} file scans, " +
        s"${scans.count(_.output.exists(_.name == "body"))} reading body")
      scans.count(_.output.exists(_.name == "body"))
    }
    assert(bodyScans.distinct.size === 1, s"the same count at maxRedirects 1, 5, 10: $bodyScans")
    assert(bodyScans.head <= 2)
  }
}
