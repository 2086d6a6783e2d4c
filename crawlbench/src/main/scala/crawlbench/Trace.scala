package crawlbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import graft.plans.{Snapshot, SnapshotStore}

/** Clock shared by spans and Spark job events: epoch nanoseconds. */
object Clock {
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Long = epoch0 + (System.nanoTime() - nano0)
}

final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long,
    attrs: Map[String, String] = Map.empty) {
  def wall: Long = end - start
}

/** A Spark job as the listener saw it; task counters summed over its tasks. */
final class JobRec(val id: Int, val start: Long, val module: String,
    val op: String, val file: String) {
  @volatile var end: Long = -1L
  var taskNs, inputB, shufWriteB, spillB: Long = 0L
}

/**
 * Spark listener for the traced run. Each job is attributed to a module by
 * the first `graft.*` frame of its call site (the file and operation, never
 * the line, so edits elsewhere in a file do not rename it); jobs the
 * benchmark itself launches count as `bench`.
 */
final class JobTrace extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val byId = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execSites = mutable.Map.empty[Long, (String, String)]
  /** Jobs start being recorded only while a traced crawl runs. */
  @volatile var active = false

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart if active =>
      synchronized(execSites(x.executionId) = (x.description, x.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) synchronized {
    // a job inside a SQL execution (AQE runs one per query stage, from its
    // own threads) takes the call site of the action that started the
    // execution; any other job, that of its result stage
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(s => (s.name, s.details))
    val (short, long) = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSites.get(id.toLong)).orElse(site)
      .getOrElse(("unknown at unknown", ""))
    val op = short.takeWhile(_ != ' ')
    val frame = long.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") || l.startsWith("crawlbench."))
    val (module, file) = frame match {
      case Some(f) if f.startsWith("graft.") =>
        val pkg = f.split('.').take(2).mkString(".")
        (pkg, f.dropWhile(_ != '(').drop(1).takeWhile(c => c != ':' && c != ')'))
      case _ => ("bench", short.split(" at ").lift(1).getOrElse("").takeWhile(_ != ':'))
    }
    val r = new JobRec(e.jobId, e.time * 1000000L, module, op, file)
    jobs += r
    byId(e.jobId) = r
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).flatMap(byId.get).foreach { r =>
      r.taskNs += m.executorRunTime * 1000000L
      r.inputB += m.inputMetrics.bytesRead
      r.shufWriteB += m.shuffleWriteMetrics.bytesWritten
      r.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot(): Seq[JobRec] = synchronized(jobs.toList)
}

/** One commit: the store wrapper's clock readings, and what it wrote — the
  * data dirs its snapshot references and its parent's did not, plus its
  * manifest — with the counts its snapshot records. */
final case class CommitRec(version: Long, start: Long, end: Long, bytes: Long,
    files: Long, metrics: Map[String, Double])

/**
 * Delegating [[SnapshotStore]] passed as the engine's `store`. It only
 * reads the clock around each commit; what a commit wrote is measured after
 * the crawl ([[TracingStore.records]]), so no tracer I/O falls inside a
 * cycle.
 */
final class TracingStore(inner: SnapshotStore) extends SnapshotStore {
  /** (version, start, end) of every commit, in commit order. */
  val commits = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  def latestVersion: Option[Long] = inner.latestVersion
  def readSnapshot(version: Long): Snapshot = inner.readSnapshot(version)
  override def latest: Option[Snapshot] = inner.latest
  def readTable(s: Snapshot, t: String): Option[DataFrame] = inner.readTable(s, t)
  def readTableBuckets(s: Snapshot, t: String, b: Set[Int]): Option[DataFrame] =
    inner.readTableBuckets(s, t, b)
  def readAppended(s: Snapshot, t: String): Option[DataFrame] = inner.readAppended(s, t)

  def commit(cycle: Long, fullTables: Map[String, DataFrame],
      cowTables: Map[String, (DataFrame, String, Set[Int])],
      appends: Map[String, DataFrame], metrics: Map[String, Double]): Snapshot = {
    val t0 = Clock.now()
    val s = inner.commit(cycle, fullTables, cowTables, appends, metrics)
    commits += ((s.version, t0, Clock.now()))
    s
  }

  /** The commits with their sizes and counts, read back from the snapshot
    * versions the store keeps under `root`. */
  def records(root: Path): Seq[CommitRec] = {
    var parentDirs = Set.empty[String]
    commits.toSeq.map { case (v, t0, t1) =>
      val s = inner.readSnapshot(v)
      val dirs = TracingStore.dirs(s)
      val written = (dirs -- parentDirs).toSeq.map(d => Disk.usage(Paths.get(d))) :+
        Disk.usage(root.resolve(s"snapshots/v$v.json"))
      parentDirs = dirs
      CommitRec(v, t0, t1, written.map(_._1).sum, written.map(_._2).sum, s.metrics)
    }
  }
}

object TracingStore {
  def dirs(s: Snapshot): Set[String] =
    s.tables.values.flatMap(_.values).toSet ++ s.appended.values.flatten
}

object Disk {
  /** (bytes, regular files) under `p`. */
  def usage(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val st = Files.walk(p)
      try {
        var b = 0L; var n = 0L
        st.iterator().forEachRemaining { f =>
          if (Files.isRegularFile(f)) { b += Files.size(f); n += 1 }
        }
        (b, n)
      } finally st.close()
    }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally st.close()
    }
}

/** Interval arithmetic for self time: the length of a union of intervals. */
object Intervals {
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def clip(iv: (Long, Long), lo: Long, hi: Long): (Long, Long) =
    (math.max(iv._1, lo), math.min(iv._2, hi))
}
