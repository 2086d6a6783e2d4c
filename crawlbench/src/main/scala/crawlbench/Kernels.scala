package crawlbench

import graft.functions.{SeenSketch, XxHash}
import graft.html.Html
import graft.image.ImageCodec
import graft.model.{ImageRow, PageRow}
import graft.robots.RobotRules
import graft.urls.CUrl

/**
 * Single-thread timings of the public per-row kernels the micro-cycle runs
 * inside its Spark tasks, on inputs sampled from the run. Each kernel is
 * warmed up, then timed in rounds over its whole sample; the median round
 * gives the time per call.
 */
object Kernels {
  @volatile private var sink: Long = 0L

  /** Median seconds per call of `f` over `inputs`. */
  private def perCall[A](inputs: IndexedSeq[A], budgetNs: Long)(f: A => Long): Double = {
    require(inputs.nonEmpty, "empty kernel sample")
    def round(): Long = {
      val t0 = System.nanoTime()
      var acc = 0L; var i = 0
      while (i < inputs.length) { acc += f(inputs(i)); i += 1 }
      sink += acc
      System.nanoTime() - t0
    }
    val warmEnd = System.nanoTime() + budgetNs / 3
    while (System.nanoTime() < warmEnd) round()
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val end = System.nanoTime() + budgetNs
    while (rounds.size < 5 || System.nanoTime() < end) rounds += round()
    Stats.median(rounds.map(_.toDouble).toSeq) / inputs.length / 1e9
  }

  /** Per-layer kernel metrics, named as in BENCHMARK.json. */
  def run(urls: IndexedSeq[String], pages: IndexedSeq[PageRow],
      robots: IndexedSeq[PageRow], images: IndexedSeq[ImageRow],
      ua: String, budgetNs: Long): Seq[(String, Double, String)] = {
    val html = pages.filter(p => p.status == 200 && p.body.nonEmpty)
    val hrefs = html.flatMap(p => Html.rawHrefs(p.body).map(h => (CUrl.parseAbsolute(p.url).get, h)))
    val robotBodies = robots.filter(_.body.nonEmpty).map(_.body)
    val encoded = robotBodies.map(b => RobotRules.parse(b).encode)
    val paths = urls.flatMap(CUrl.parseAbsolute).map(_.path)
    val gates = paths.indices.map(i => (encoded(i % encoded.size), paths(i)))
    val sketch = SeenSketch.create("bloom", math.max(urls.size.toLong, 1L) * 2, 0.01)
    val probes = urls.map(_ + "#probe") ++ urls
    Seq(
      ("urls.canonicalize_ns", perCall(urls, budgetNs)(u => CUrl.canonicalize(u).size.toLong) * 1e9, "ns"),
      ("urls.resolve_ns", perCall(hrefs, budgetNs) { case (b, h) => CUrl.resolve(b, h).size.toLong } * 1e9, "ns"),
      ("html.extract_links_us", perCall(html, budgetNs)(p =>
        Html.extractLinks(p.body, p.url, p.content_type).size.toLong) * 1e6, "us"),
      ("html.rewrite_ajax_us", perCall(html, budgetNs)(p =>
        Html.rewriteAjax(p.body, p.url, p.content_type).length.toLong) * 1e6, "us"),
      ("robots.parse_us", perCall(robotBodies, budgetNs)(b =>
        RobotRules.parse(b).encode.length.toLong) * 1e6, "us"),
      ("robots.allowed_ns", perCall(gates, budgetNs) { case (e, p) =>
        if (RobotRules.decode(e).allowed(ua, p)) 1L else 0L } * 1e9, "ns"),
      ("image.psnr_us", perCall(images, budgetNs)(im =>
        ImageCodec.psnrVsReference(im.image_id, im.bytes).toLong) * 1e6, "us"),
      ("functions.sketch_put_ns", perCall(urls, budgetNs) { u => sketch.put(u); 1L } * 1e9, "ns"),
      ("functions.sketch_contains_ns", perCall(probes, budgetNs)(u =>
        if (sketch.mightContain(u)) 1L else 0L) * 1e9, "ns"),
      ("functions.xxhash_ns", perCall(urls, budgetNs)(u => XxHash.hash64(u)) * 1e9, "ns"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    require(s.nonEmpty, "quantile of an empty sample")
    val pos = q * (s.size - 1)
    val lo = pos.toInt; val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
