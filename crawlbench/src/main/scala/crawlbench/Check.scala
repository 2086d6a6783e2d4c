package crawlbench

import graft.model.PageRow
import graft.oracle.RefOracle

/**
 * Outcome check of one crawl against `RefOracle.crawl` on the same pages,
 * seeds and config. One operation is one oracle task (its final
 * `(status, depth, reason)`) or one oracle output image; a failure is a
 * task or image the engine got wrong, missed or invented, or an output row
 * below 40 dB PSNR or with a wrong caption.
 */
object Check {
  /** Final frontier row as compared: url -> (status, depth, reason). */
  type Tasks = Map[String, (String, Int, String)]
  /** Output row: (image_id, src_url, depth, psnr, caption_ok). */
  final case class Out(imageId: String, srcUrl: String, depth: Int,
      psnr: Double, captionOk: Boolean)

  final case class Expected(tasks: Tasks, images: Map[(String, String, Int), Int]) {
    def attempted: Long = tasks.size.toLong + images.values.sum
  }

  def expected(pages: Seq[PageRow], seeds: Seq[String],
      cfg: graft.model.CrawlConfig): Expected = {
    val o = RefOracle.crawl(pages, seeds, cfg)
    Expected(
      o.tasks.map { case (u, t) => u -> ((t.status, t.depth, Option(t.reason).getOrElse(""))) },
      o.outputImages.groupBy(identity).map { case (k, v) => k -> v.size })
  }

  /** Number of failed operations (see the object comment). */
  def failures(exp: Expected, tasks: Tasks, outs: Seq[Out]): Long = {
    val taskFails = (exp.tasks.keySet ++ tasks.keySet).count(u => exp.tasks.get(u) != tasks.get(u))
    val got = outs.groupBy(o => (o.imageId, o.srcUrl, o.depth)).map { case (k, v) => k -> v.size }
    val imageFails = (exp.images.keySet ++ got.keySet).iterator
      .map(k => math.abs(exp.images.getOrElse(k, 0) - got.getOrElse(k, 0))).sum
    val payloadFails = outs.count(o => !(o.psnr >= 40.0 && o.captionOk))
    taskFails.toLong + imageFails + payloadFails
  }

  /** The checker must see a planted defect: one task with a wrong status. */
  def plantedDefectSeen(exp: Expected, tasks: Tasks, outs: Seq[Out]): Boolean =
    tasks.headOption.exists { case (u, (st, d, r)) =>
      val wrong = if (st == graft.model.Status.Completed) graft.model.Status.WithError
        else graft.model.Status.Completed
      failures(exp, tasks.updated(u, (wrong, d, r)), outs) > failures(exp, tasks, outs)
    }
}
