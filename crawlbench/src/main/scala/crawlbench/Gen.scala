package crawlbench

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.corpus.Corpus
import graft.corpus.Corpus.WebSpec
import graft.image.ImageCodec
import graft.model.{ImageRow, PageRow}

/**
 * Seeded corpus generator: `Corpus.pageAt` / `imageAt` with the hash seed
 * as a parameter (Corpus bakes in 42), so seed 42 reproduces
 * `Corpus.pages` / `Corpus.images` row for row ([[selfCheck]]).
 *
 * The seed moves the content: href forms (absolute, root-relative or
 * relative) and image sizes and formats. The crawl's shape stays on
 * Corpus's own seed: host sizes, which pages answer 404/403/500, redirect
 * or carry noise links, and which hosts' robots.txt disallow `/p1`. Those
 * set how many cycles a crawl takes (a 404 retries one cycle later, an
 * ajax link is fetched one cycle later, a disallowed page is not fetched),
 * so every seed of a workload crawls the same number of cycles. Images are built with the
 * public `ImageCodec.encode/caption/phash`, so the engine's PSNR and
 * caption checks hold on every seed.
 */
object Gen {
  private def h(seed: Long, parts: Long*): Long =
    parts.foldLeft(seed)((acc, p) => ImageCodec.mix64(acc ^ p))
  private def pct(x: Long, p: Int): Boolean = math.floorMod(x, 100L) < p
  private val Shape = Corpus.Seed

  def pageAt(spec: WebSpec, seed: Long, idx: Long): PageRow = {
    val (hi, pj) = Corpus.locate(spec, idx)
    val host = Corpus.hostName(hi)
    val url = Corpus.pageUrl(hi, pj)
    val n = spec.sizes(hi)
    val k = h(Shape, idx, 0x9e01L)
    val status =
      if (!spec.withScenarios) 200
      else if (pct(k, 2)) 404
      else if (pct(h(Shape, k, 1), 1)) 403
      else if (pct(h(Shape, k, 2), 1)) 500
      else 200
    val kidLinks = (1 to 3).map(c => 3 * pj + c).filter(_ < n).map { c =>
      math.floorMod(h(seed, idx, c), 3L) match {
        case 0 => Corpus.pageUrl(hi, c)
        case 1 => if (c == 0) "/" else s"/p$c"
        case _ => if (c == 0) "./" else s"./p$c"
      }
    }
    val crossLinks =
      if (pj == 0) (1 to 2).map(d => Corpus.pageUrl((hi + d) % spec.nHosts, 0))
      else Seq.empty
    val noise =
      if (spec.withScenarios && pct(h(Shape, k, 3), 10))
        Seq("", ":/:/bad", "#!state=" + pj, "mailto:x@y.z")
      else Seq.empty
    val hrefs = (kidLinks ++ crossLinks ++ noise)
      .map(l => s"""<a href="$l">x</a>""").mkString
    val imgId = Corpus.imageId(hi, pj)
    val body =
      s"""<html><body>$hrefs<img src="/$imgId"><p>${ImageCodec.caption(imgId)}</p></body></html>"""
    val redirect =
      if (spec.withScenarios && pct(h(Shape, k, 4), 1) && pj + 1 < n)
        Corpus.pageUrl(hi, pj + 1)
      else null
    PageRow(url, host,
      if (redirect != null) 301 else status,
      "text/html",
      if (redirect != null) "" else body,
      if (redirect != null || status != 200) null else imgId,
      redirect)
  }

  def imageAt(spec: WebSpec, seed: Long, idx: Long): ImageRow = {
    val (hi, pj) = Corpus.locate(spec, idx)
    val id = Corpus.imageId(hi, pj)
    val k = h(seed, idx, 0x1337L)
    val w = 16 + math.floorMod(k, 17L).toInt
    val hh = 16 + math.floorMod(h(seed, k, 9), 17L).toInt
    val fmt = if (math.floorMod(k, 2L) == 0) "png" else "jpg"
    ImageRow(id, ImageCodec.encode(id, w, hh, fmt), w, hh, fmt,
      ImageCodec.caption(id), ImageCodec.phash(id, w, hh))
  }

  def pages(spark: SparkSession, spec: WebSpec, seed: Long): Dataset[PageRow] = {
    import spark.implicits._
    spark.range(spec.n).map(i => pageAt(spec, seed, i))
      .unionByName(spark.createDataset(Corpus.robotsPages(spec)))
  }

  def images(spark: SparkSession, spec: WebSpec, seed: Long): Dataset[ImageRow] = {
    import spark.implicits._
    spark.range(spec.n).map(i => imageAt(spec, seed, i))
  }

  /** In-memory copy of the pages table, for the reference oracle. */
  def pagesLocal(spec: WebSpec, seed: Long): Seq[PageRow] =
    (0L until spec.n).map(pageAt(spec, seed, _)) ++ Corpus.robotsPages(spec)

  /** Seed 42 must reproduce Corpus row for row. Checks up to `sample`
    * page and image indices spread over the spec (robots rows are
    * Corpus's own) and returns the number of rows that differ. */
  def selfCheck(spec: WebSpec, sample: Int): Int = {
    val step = math.max(1L, spec.n / sample)
    val idxs = (0L until spec.n by step) :+ (spec.n - 1)
    val pageDiffs = idxs.count(i => pageAt(spec, Corpus.Seed, i) != Corpus.pageAt(spec, i))
    val imageDiffs = idxs.count { i =>
      val a = imageAt(spec, Corpus.Seed, i); val b = Corpus.imageAt(spec, i)
      !(java.util.Arrays.equals(a.bytes, b.bytes) &&
        a.copy(bytes = null) == b.copy(bytes = null))
    }
    pageDiffs + imageDiffs
  }
}
