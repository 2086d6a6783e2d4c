package graft.driver

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.{CrawlConfig, Reasons}
import graft.urls.CUrl

/**
 * The production HTTP implementation of the S3 fetcher seam
 * (CrawlConfig.fetcher): a politeness-grouped `mapPartitions` over the
 * claimed batch using JDK `java.net.http.HttpClient`, replaying the
 * reference Downloader's observable behavior (reference:
 * src/main/scala/es/udc/scrawl/Downloader.scala:30-49, asserted by
 * DownloaderTest.scala:20-98):
 *
 *  - GET with the row's request headers, plus the crawl's User-Agent
 *    (`CrawlConfig.userAgent`) unless a header named User-Agent (any case)
 *    is already among them → status/content-type/body passthrough;
 *  - connection-level failure → `f_err = ConnectionError` (the reference's
 *    Error(task, reason) channel, Downloader.scala:44-48);
 *  - redirects followed HERE, not by the client (Redirect.NEVER): the
 *    engine's S4 contract — ≤ `CrawlConfig.maxRedirects` hops tracked in
 *    `hops`, the row keeps its ORIGINAL url (spray's host connector follows
 *    ≤5 transparently, reference.conf:33), more ⇒ `f_err =
 *    MaxRedirectsReached` — matching prepareCorpus' offline resolution
 *    byte for byte.
 *
 * Scale/shape notes:
 *  - input is the politeness/robots-gated claimed batch `(url, host,
 *    bucket, depth, prio, retries, headers)` — bounded per cycle, so the
 *    repartition below shuffles only narrow key rows; the fetched BODIES
 *    are born on the fetching executor and never shuffle (exactly the
 *    property the corpus-join strategies preserve);
 *  - the batch also holds the wave's robots.txt requests (one per host
 *    without known rules, marked `depth = -1`, carrying the triggering page
 *    request's headers): they are fetched like any other row, so a live
 *    crawl obeys the robots.txt its servers serve (RFC 9309);
 *  - `repartition(host)` keeps one authority's requests on one task for
 *    connection reuse and per-host serialization (the per-cycle volume per
 *    host is already ≤ hostBudget, enforced upstream by O12);
 *  - one lazily-built HttpClient per partition, torn down with the task.
 *
 * `f_image_id` is recovered from the body by the corpus' own embedding
 * convention (`<img src="/<id>">`, Corpus.pageAt) so the default
 * image+caption extractInformation works over live fetches of the
 * synthetic web; a real deployment replaces CrawlConfig.extractInfo and
 * can ignore the column.
 */
object HttpFetcher {

  final case class Claimed(url: String, host: String, bucket: Int, depth: Int,
      prio: Long, retries: Int, headers: Map[String, String])

  final case class Fetched(url: String, host: String, bucket: Int, depth: Int,
      prio: Long, retries: Int, headers: Map[String, String],
      f_status: Option[Int], f_ct: Option[String], f_body: Option[String],
      f_image_id: Option[String], hops: Int, f_err: Option[String])

  private val ImgRe = """<img src="/([^"]+)">""".r
  /** HTTP statuses followed as redirects — here and by the corpus' offline
    * resolution (CrawlEngine.prepareCorpus). */
  private[driver] val RedirectCodes = Set(301, 302, 303, 307, 308)
  // hop-by-hop / client-managed headers HttpRequest refuses to set manually
  private val RestrictedHeaders =
    Set("host", "connection", "content-length", "upgrade")

  /** The fetcher serving `config`: it sends `config.userAgent`, the agent
    * the engine judges robots.txt rules for, and follows at most
    * `config.maxRedirects` hops, the corpus' offline limit. */
  def apply(config: CrawlConfig, connectTimeoutMs: Int = 5000,
      requestTimeoutMs: Int = 10000): DataFrame => DataFrame = claimed => {
    val userAgent = config.userAgent // the closure below ships these two, not the config
    val maxRedirects = config.maxRedirects
    val spark = claimed.sparkSession
    import spark.implicits._
    claimed
      .select(col("url"), col("host"), col("bucket"), col("depth"),
        col("prio"), col("retries"), col("headers"))
      .repartition(col("host"))
      .as[Claimed]
      .mapPartitions { it =>
        lazy val client = HttpClient.newBuilder()
          .followRedirects(HttpClient.Redirect.NEVER)
          .connectTimeout(Duration.ofMillis(connectTimeoutMs.toLong))
          .build()
        it.map(c => fetchOne(client, c, userAgent, maxRedirects, requestTimeoutMs))
      }
      .toDF()
  }

  /** One claimed row → one wide fetch row (the seam's output contract). */
  private[graft] def fetchOne(client: HttpClient, c: Claimed, userAgent: String,
      maxRedirects: Int, requestTimeoutMs: Int): Fetched = {
    def errRow(status: Option[Int], hops: Int, reason: String): Fetched =
      Fetched(c.url, c.host, c.bucket, c.depth, c.prio, c.retries, c.headers,
        status, None, None, None, hops, Some(reason))
    var target = c.url
    var hops = 0
    var lastStatus: Option[Int] = None
    while (hops <= maxRedirects) {
      val b = HttpRequest.newBuilder(URI.create(target))
        .timeout(Duration.ofMillis(requestTimeoutMs.toLong))
        .GET()
      val hdrs = Option(c.headers).getOrElse(Map.empty[String, String])
      val withAgent =
        if (hdrs.keys.exists(_.equalsIgnoreCase("user-agent"))) hdrs
        else hdrs + ("User-Agent" -> userAgent)
      withAgent.foreach { case (k, v) =>
        if (!RestrictedHeaders.contains(k.toLowerCase)) b.header(k, v) }
      val resp =
        try client.send(b.build(), HttpResponse.BodyHandlers.ofString())
        catch { case _: Exception => // connect refused / timeout / DNS / IO
          return errRow(None, hops, Reasons.connectionError)
        }
      val status = resp.statusCode()
      lastStatus = Some(status)
      val location = resp.headers().firstValue("Location")
      if (RedirectCodes.contains(status) && location.isPresent) {
        // resolve the Location against the CURRENT hop (relative allowed)
        CUrl.parseAbsolute(target).flatMap(u =>
            CUrl.resolve(u, location.get())) match {
          case Some(next) => target = next.canonical; hops += 1
          case None => // unparseable Location ≙ broken hop (corpus: -1 status)
            return errRow(None, hops, Reasons.connectionError)
        }
      } else {
        val body = resp.body()
        val ct = resp.headers().firstValue("Content-Type")
        return Fetched(c.url, c.host, c.bucket, c.depth, c.prio, c.retries,
          c.headers, Some(status),
          if (ct.isPresent) Some(ct.get()) else None,
          Option(body),
          Option(body).flatMap(ImgRe.findFirstMatchIn(_)).map(_.group(1)),
          hops, None)
      }
    }
    // still redirecting after maxRedirects hops (prepareCorpus parity)
    errRow(lastStatus, hops, Reasons.maxRedirects)
  }
}
