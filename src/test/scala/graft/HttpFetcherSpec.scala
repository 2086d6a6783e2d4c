package graft

import java.net.InetSocketAddress
import java.net.http.HttpClient
import java.nio.charset.StandardCharsets
import java.time.Duration
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Fixtures
import graft.driver.{CrawlEngine, HttpFetcher}
import graft.model.{CrawlConfig, PageRow, Reasons, Status}

/**
 * The production HTTP fetcher behind the S3 seam, tested fully offline
 * against an in-process loopback `com.sun.net.httpserver.HttpServer` —
 * the same scenarios the reference drives against its live in-process
 * server (reference DownloaderTest.scala:20-98: GET → Response with
 * status passthrough, redirect following, connection error → Error),
 * plus e2e fixture crawls over localhost asserting byte-identical state
 * vs the default corpus-join engine, robots.txt included.
 */
class HttpFetcherSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** path → (status, response headers, body) */
  private type Routes = Map[String, (Int, Map[String, String], String)]

  /** Serve `routes(port)` on a loopback port (unknown paths: 404) while
    * `body(port)` runs; returns every request seen as (path, User-Agent). */
  private def withServer(routes: Int => Routes)(body: Int => Unit): Seq[(String, String)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val port = server.getAddress.getPort
    val served = routes(port)
    server.createContext("/", (x: HttpExchange) => {
      val path = x.getRequestURI.getPath
      seen.add(path -> x.getRequestHeaders.getFirst("User-Agent"))
      val (status, headers, resp) = served.getOrElse(path,
        (404, Map("Content-Type" -> "text/plain"), "not found"))
      headers.foreach { case (k, v) => x.getResponseHeaders.set(k, v) }
      val bytes = resp.getBytes(StandardCharsets.UTF_8)
      x.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length.toLong)
      if (bytes.nonEmpty) x.getResponseBody.write(bytes)
      x.close()
    })
    server.start()
    try body(port)
    finally server.stop(0)
    seen.toArray(Array.empty[(String, String)]).toSeq
  }

  private def client: HttpClient = HttpClient.newBuilder()
    .followRedirects(HttpClient.Redirect.NEVER)
    .connectTimeout(Duration.ofMillis(3000)).build()

  private def claimed(url: String) = HttpFetcher.Claimed(
    url, url.split("/")(2), 0, 0, 0L, 0, Map.empty)

  private def fetch(url: String, maxRedirects: Int = 5) =
    HttpFetcher.fetchOne(client, claimed(url), "GraftBot/0.1", maxRedirects, 5000)

  // ---- DownloaderTest scenario replays (status / redirect / error) ------

  test("GET returns status, content-type and body (DownloaderTest status passthrough)") {
    val routes = Map(
      "/ok" -> ((200, Map("Content-Type" -> "text/html"), "<html>hi</html>")),
      "/missing" -> ((404, Map("Content-Type" -> "text/plain"), "")),
      "/forbidden" -> ((403, Map("Content-Type" -> "text/plain"), "no")))
    withServer(_ => routes) { port =>
      val ok = fetch(s"http://127.0.0.1:$port/ok")
      assert(ok.f_status === Some(200))
      assert(ok.f_ct === Some("text/html"))
      assert(ok.f_body === Some("<html>hi</html>"))
      assert(ok.f_err === None)
      assert(ok.hops === 0)
      assert(fetch(s"http://127.0.0.1:$port/missing").f_status === Some(404))
      assert(fetch(s"http://127.0.0.1:$port/forbidden").f_status === Some(403))
    }
  }

  test("redirect chains are followed <= maxRedirects, row keeps its original url") {
    withServer(_ => Map(
      "/r0" -> ((302, Map("Location" -> "/r1"), "")),
      "/r1" -> ((301, Map("Location" -> "/r2"), "")),
      "/r2" -> ((200, Map("Content-Type" -> "text/html"), "final")))) { port =>
      val r = fetch(s"http://127.0.0.1:$port/r0")
      assert(r.url === s"http://127.0.0.1:$port/r0") // original url preserved
      assert(r.f_status === Some(200))
      assert(r.f_body === Some("final"))
      assert(r.hops === 2)
      assert(r.f_err === None)
    }
  }

  test("more than maxRedirects hops => MaxRedirectsReached (reference.conf:33)") {
    val chain = (0 until 8).map(i =>
      s"/l$i" -> ((301, Map("Location" -> s"/l${i + 1}"), ""))).toMap
    withServer(_ => chain) { port =>
      val r = fetch(s"http://127.0.0.1:$port/l0")
      assert(r.f_err === Some(Reasons.maxRedirects))
      assert(r.f_body === None)
      assert(r.hops === 6) // 6 requests sent: initial + 5 follows, all 301
    }
  }

  test("connection failure => ConnectionError (Downloader error channel)") {
    // bind-then-close yields a port that refuses connections
    val sock = new java.net.ServerSocket(0, 1, java.net.InetAddress.getByName("127.0.0.1"))
    val deadPort = sock.getLocalPort
    sock.close()
    val r = fetch(s"http://127.0.0.1:$deadPort/x")
    assert(r.f_err === Some(Reasons.connectionError))
    assert(r.f_status === None)
  }

  test("the configured User-Agent rides along with a row's own headers") {
    val seen = withServer(_ => Map("/h" -> ((200, Map("Content-Type" -> "text/plain"), "ok")))) { port =>
      val row = claimed(s"http://127.0.0.1:$port/h").copy(headers = Map("X-Test" -> "1"))
      assert(HttpFetcher.fetchOne(client, row, "GraftBot/0.1", 5, 5000).f_status === Some(200))
    }
    assert(seen === Seq(("/h", "GraftBot/0.1")))
  }

  // ---- e2e: live-HTTP crawl == corpus-join crawl, byte for byte ---------

  // site3 shape + a redirect hop, rehosted on the loopback authority; the
  // bodies embed images + captions exactly like Fixtures.pageWithImage
  private def sitePages(base: String): Seq[PageRow] = {
    def img(url: String, id: String, hrefs: String*) = {
      val caption = graft.image.ImageCodec.caption(id)
      Fixtures.page(url,
        s"""<html><body>${hrefs.map(h => s"""<a href="$h">l</a>""").mkString}""" +
          s"""<img src="/$id"><p>$caption</p></body></html>""", imageId = id)
    }
    Seq(
      img(s"$base/", "img-http-root", "/resource", "/stuff", "/hop0"),
      img(s"$base/resource", "img-http-resource"),
      img(s"$base/stuff", "img-http-stuff"),
      Fixtures.page(s"$base/hop0", "", status = 301, redirectTo = s"$base/hop1"),
      img(s"$base/hop1", "img-http-hop1"))
  }

  private def base(port: Int) = s"http://127.0.0.1:$port"

  /** The pages as loopback routes (redirects as relative Locations). */
  private def routesOf(port: Int, pages: Seq[PageRow]): Routes = pages.map { p =>
    val path = p.url.stripPrefix(base(port)) match { case "" => "/"; case s => s }
    if (p.redirect_to != null)
      path -> ((p.status, Map("Location" -> p.redirect_to.stripPrefix(base(port))), ""))
    else
      path -> ((p.status, Map("Content-Type" -> p.content_type), p.body))
  }.toMap

  /** Crawl `corpus` from the loopback root; the image table always holds
    * the images of `pages`, so live and corpus crawls validate alike. */
  private def crawl(port: Int, pages: Seq[PageRow], corpus: Seq[PageRow],
      cfg: CrawlConfig): CrawlEngine = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-httpe2e").toString
    val engine = new CrawlEngine(spark, cfg,
      spark.createDataset(corpus).toDF(),
      spark.createDataset(Fixtures.imagesFor(pages)).toDF(), dir)
    engine.run(Seq(s"${base(port)}/"))
    engine
  }

  /** `c` fetching over HTTP with the agent and redirect limit it names. */
  private def live(c: CrawlConfig) = c.copy(fetcher = Some(HttpFetcher(c)))

  private val liveConfig = live(CrawlConfig())

  private def dump(df: org.apache.spark.sql.DataFrame) = df.toJSON.collect().sorted.toSeq

  test("e2e localhost crawl matches the corpus-join engine byte-identically") {
    withServer(port => routesOf(port, sitePages(base(port)))) { port =>
      val pages = sitePages(base(port))
      val defEngine = crawl(port, pages, pages, CrawlConfig())
      val httpEngine = crawl(port, pages, pages, liveConfig)
      assert(dump(httpEngine.frontierNow) === dump(defEngine.frontierNow),
        "frontier must be identical across live-HTTP and corpus fetchers")
      assert(dump(httpEngine.outputNow) === dump(defEngine.outputNow),
        "output table must be identical across live-HTTP and corpus fetchers")
      // sanity on the HTTP leg itself: root/resource/stuff plus hop0 (whose
      // redirect resolved to hop1's content) complete; hop1 itself is never
      // linked, so it is fetched only through the redirect
      assert(httpEngine.visited.count() === 4)
      assert(httpEngine.outputNow.count() === 4)
    }
  }

  test("live crawl fetches robots.txt over HTTP and obeys it (RFC 9309)") {
    import org.apache.spark.sql.functions.col
    def robotsPage(port: Int) = Fixtures.page(s"${base(port)}/robots.txt",
      "User-agent: *\nDisallow: /stuff\n", ct = "text/plain")
    val seen = withServer(port => routesOf(port,
        sitePages(base(port)) :+ robotsPage(port))) { port =>
      val pages = sitePages(base(port))
      // the live engine's corpus is EMPTY: robots.txt can only come over HTTP
      val live = crawl(port, pages, Nil, liveConfig)
      val corpusEngine = crawl(port, pages, pages :+ robotsPage(port), CrawlConfig())
      assert(dump(live.frontierNow) === dump(corpusEngine.frontierNow),
        "frontier must be identical across live-HTTP and corpus fetchers")
      val stuff = live.frontierNow.filter(col("url") === s"${base(port)}/stuff")
        .select("status", "reason").collect().map(r => (r.getString(0), r.getString(1)))
        .toSeq
      assert(stuff === Seq((Status.WithError,
        Reasons.robotsPathFiltered(CrawlConfig().userAgent))))
    }
    val robotsGets = seen.filter(_._1 == "/robots.txt")
    assert(robotsGets === Seq(("/robots.txt", CrawlConfig().userAgent)),
      "exactly one robots.txt GET, sent with the agent its rules are judged for")
  }

  test("live crawl asks for robots.txt as the agent its rules are judged for") {
    // the catch-all group allows everything; only the group named for the
    // configured agent (matched by its name before the '/') disallows /stuff
    val robots = "User-agent: *\nDisallow:\n\nUser-agent: testbot\nDisallow: /stuff\n"
    val agent = "TestBot/2.0"
    val seen = withServer(port => routesOf(port, sitePages(base(port))) +
        ("/robots.txt" -> ((200, Map("Content-Type" -> "text/plain"), robots)))) { port =>
      val engine = crawl(port, sitePages(base(port)), Nil, live(CrawlConfig(userAgent = agent)))
      val status = engine.frontierNow.select("url", "status", "reason").collect()
        .map(r => r.getString(0).stripPrefix(base(port)) -> ((r.getString(1), r.getString(2))))
        .toMap
      assert(status("/stuff") === ((Status.WithError, Reasons.robotsPathFiltered(agent))))
      assert(status("/resource") === ((Status.Completed, null)))
    }
    assert(seen.filter(_._1 == "/robots.txt") === Seq(("/robots.txt", agent)))
    assert(seen.forall(_._2 == agent), s"a request went out as another agent: $seen")
  }
}
