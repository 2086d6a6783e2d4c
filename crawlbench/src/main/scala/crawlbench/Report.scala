package crawlbench

import scala.collection.mutable
import org.json4s._

/**
 * In-memory span tree of a traced run: run ▸ setup ▸ crawl ▸ seed / cycle k
 * ▸ commit. Spark jobs join the tree at the end as children of the
 * innermost span they started in. Written out once, when the run ends.
 */
final class Spans(origin: Long) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  def add(name: String, parent: Int, start: Long, end: Long,
      attrs: Map[String, String] = Map.empty): Int = {
    val id = nextId
    nextId += 1
    buf += Span(id, parent, name, start, end, attrs)
    id
  }
  def open(name: String, parent: Int, start: Long): Int = add(name, parent, start, Long.MaxValue)
  def close(id: Int, end: Long): Unit = {
    val i = buf.indexWhere(_.id == id)
    buf(i) = buf(i).copy(end = end)
  }

  /** Every span plus one span per job, each with its parent and self time. */
  def tree(jobs: Seq[JobRec]): Seq[Span] = {
    val base = buf.toList
    val jobSpans = jobs.filter(_.end >= 0).map { j =>
      val parent = base.filter(s => s.start <= j.start && j.start < s.end)
        .sortBy(s => (s.start, -s.id)).lastOption.map(_.id).getOrElse(0)
      Span(-j.id - 1, parent, s"job ${j.id}", j.start, j.end, Map(
        "module" -> j.module, "op" -> j.op, "file" -> j.file,
        "task_s" -> (j.taskNs / 1e9).toString,
        "shuffle_write_mb" -> (j.shufWriteB / 1e6).toString))
    }
    base ++ jobSpans
  }

  def json(jobs: Seq[JobRec]): JValue = {
    val all = tree(jobs)
    val kids = all.groupBy(_.parent)
    JArray(all.map { s =>
      val covered = Intervals.covered(kids.getOrElse(s.id, Nil)
        .map(k => Intervals.clip((k.start, k.end), s.start, s.end)))
      JObject(List(
        "id" -> JInt(s.id), "parent" -> JInt(s.parent), "name" -> JString(s.name),
        "start_s" -> JDouble((s.start - origin) / 1e9),
        "wall_s" -> JDouble(s.wall / 1e9),
        "self_s" -> JDouble((s.wall - covered) / 1e9)) ++
        s.attrs.toList.sorted.map { case (k, v) => k -> JString(v) })
    }.toList)
  }

  /** Job count and task seconds per (module, file, op). */
  def byModule(jobs: Seq[JobRec]): JValue =
    JArray(jobs.groupBy(j => (j.module, j.file, j.op)).toList.sortBy(_._1).map {
      case ((m, f, op), js) => JObject("module" -> JString(m), "file" -> JString(f),
        "op" -> JString(op), "jobs" -> JInt(js.size),
        "task_s" -> JDouble(js.map(_.taskNs).sum / 1e9))
    })
}

/** Per-layer metrics of one traced crawl. */
object Layers {
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
  private def mean(xs: Seq[Double]): Double = ratio(xs.sum, xs.size)

  def crawl(spans: Spans, runId: Int, allJobs: Seq[JobRec], commits: Seq[CommitRec],
      t0: Long, tEnd: Long, gcS: Double, peakHeapMb: Double, manifestKb: Double,
      versions: Long): Seq[(String, Double, String)] = {
    val crawlId = spans.add("crawl", runId, t0, tEnd)
    val seed = commits.head
    val seedId = spans.add("seed", crawlId, t0, seed.end)
    spans.add("commit", seedId, seed.start, seed.end, Map("version" -> seed.version.toString))
    val jobs = allJobs.filter(j => j.end >= 0 && j.start >= t0 && j.start < tEnd)
    def jobsIn(lo: Long, hi: Long) = jobs.filter(j => j.start >= lo && j.start < hi)

    final case class Cyc(wall: Long, driver: Long, jobWall: Long, commit: Long,
        jobs: Int, taskNs: Long)
    val cycles = commits.sliding(2).collect { case Seq(prev, c) =>
      val cid = spans.add(s"cycle ${c.metrics.getOrElse("cycle", c.version.toDouble).toLong}",
        crawlId, prev.end, c.end)
      spans.add("commit", cid, c.start, c.end, Map("version" -> c.version.toString))
      val inCycle = jobsIn(prev.end, c.end)
      val outside = inCycle.filter(j => j.start < c.start)
        .map(j => Intervals.clip((j.start, j.end), prev.end, c.end))
      val covered = Intervals.covered(outside :+ ((c.start, c.end)))
      val wall = c.end - prev.end
      Cyc(wall, wall - covered, covered - (c.end - c.start), c.end - c.start,
        inCycle.size, inCycle.map(_.taskNs).sum)
    }.toSeq
    val cycleCommits = commits.tail
    def m(k: String) = cycleCommits.map(_.metrics.getOrElse(k, 0.0)).sum
    val changed = m("drained") + m("enqueued") + m("robots_fetched")
    val taskS = jobs.map(_.taskNs).sum / 1e9
    Seq(
      ("driver.seed_s", (seed.end - t0) / 1e9, "s"),
      ("driver.cycles", cycles.size.toDouble, "count"),
      ("driver.cycle_wall_s", mean(cycles.map(_.wall / 1e9)), "s"),
      ("driver.cycle_jobs", mean(cycles.map(_.jobs.toDouble)), "count"),
      ("driver.cycle_driver_s", mean(cycles.map(_.driver / 1e9)), "s"),
      ("driver.cycle_job_s", mean(cycles.map(_.jobWall / 1e9)), "s"),
      ("driver.cycle_task_s", mean(cycles.map(_.taskNs / 1e9)), "s"),
      ("driver.busy_cores", ratio(taskS, (tEnd - t0) / 1e9), "cores"),
      ("plans.commit_s", mean(cycles.map(_.commit / 1e9)), "s"),
      ("plans.commit_mb", mean(cycleCommits.map(_.bytes / 1e6)), "MB"),
      ("plans.commit_files", mean(cycleCommits.map(_.files.toDouble)), "count"),
      ("plans.bytes_per_changed_row", ratio(cycleCommits.map(_.bytes).sum.toDouble, changed), "B/row"),
      ("plans.manifest_kb", manifestKb, "KB"),
      ("plans.versions", versions.toDouble, "count"),
      ("functions.dup_frac", ratio(m("deduped"), m("deduped") + m("enqueued")), "ratio"),
      ("spark.shuffle_write_mb", jobs.map(_.shufWriteB).sum / 1e6, "MB"),
      ("spark.input_mb", jobs.map(_.inputB).sum / 1e6, "MB"),
      ("spark.spill_mb", jobs.map(_.spillB).sum / 1e6, "MB"),
      ("jvm.gc_s", gcS, "s"),
      ("jvm.peak_heap_mb", peakHeapMb, "MB"))
  }
}
