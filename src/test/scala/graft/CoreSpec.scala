package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.urls.CUrl
import graft.robots.RobotRules
import graft.html.Html
import graft.image.ImageCodec

/** Golden tests replaying the reference's pure-function unit scenarios. */
class UrlCanonSpec extends AnyFunSuite {
  val base = CUrl.parseAbsolute("http://test.test/").get

  // reference LinkExtractorTest.scala:45-64
  test("relative URL resolves against base") {
    assert(CUrl.resolve(base, "./relative").map(_.canonical) === Some("http://test.test/relative"))
  }
  test("root-relative URL resolves against base") {
    assert(CUrl.resolve(base, "/relative").map(_.canonical) === Some("http://test.test/relative"))
  }
  test("protocol-relative URL resolves against base") {
    assert(CUrl.resolve(base, "//test.test/relative").map(_.canonical) === Some("http://test.test/relative"))
  }
  test("absolute URL passes through") {
    assert(CUrl.resolve(base, "http://test1.test").map(_.canonical) === Some("http://test1.test/"))
  }
  // reference LinkExtractorTest.scala:31-43
  test("malformed and empty links dropped") {
    assert(CUrl.resolve(base, ":/:/test1.test").isEmpty)
    assert(CUrl.resolve(base, "").isEmpty)
  }
  test("unknown scheme (no effective port) dropped — LinkExtractor.scala:29-33") {
    assert(CUrl.resolve(base, "mailto:a@b.c").isEmpty)
    assert(CUrl.resolve(base, "foo://x.y/z").isEmpty)
  }
  test("canonicalization: lowercase scheme/host, default port dropped, empty path is /") {
    assert(CUrl.canonicalize("HTTP://Example.COM:80") === Some("http://example.com/"))
    assert(CUrl.canonicalize("https://Example.com:8443/A/b") === Some("https://example.com:8443/A/b"))
    assert(CUrl.canonicalize("http://a.b/x/../y/./z") === Some("http://a.b/y/z"))
  }
  test("query and fragment preserved (id = url.toString, Master.scala:34-36)") {
    assert(CUrl.canonicalize("http://a.b/p?q=1#frag") === Some("http://a.b/p?q=1#frag"))
  }
  test("relative with query resolves") {
    val b = CUrl.parseAbsolute("http://h.x/dir/page").get
    assert(CUrl.resolve(b, "other?x=2").map(_.canonical) === Some("http://h.x/dir/other?x=2"))
    assert(CUrl.resolve(b, "../up").map(_.canonical) === Some("http://h.x/up"))
  }
  test("canonicalize is idempotent (scalacheck property)") {
    val genUrl: Gen[String] = for {
      host <- Gen.nonEmptyListOf(Gen.alphaNumChar).map(cs => "h" + cs.take(8).mkString)
      segs <- Gen.listOf(Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.take(6).mkString))
      port <- Gen.oneOf("", ":80", ":8080")
      q <- Gen.oneOf("", "?a=1", "?x=%20y")
    } yield s"http://$host$port/${segs.take(4).mkString("/")}$q"
    val prop = Prop.forAll(genUrl) { url =>
      CUrl.canonicalize(url) match {
        case Some(c) => CUrl.canonicalize(c) == Some(c)
        case None => true
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }
}

/** The reference's 11 RobotsParserTest grammar cases, 1:1. */
class RobotsSpec extends AnyFunSuite {
  def parse(s: String): RobotRules = RobotRules.parse(s)

  test("disallow paths by user agent") {
    val r = parse("User-Agent: Mozilla\nDisallow: /path\n")
    assert(!r.allowed("Mozilla", "/path"))
    assert(r.allowed("Opera", "/path"))
  }
  test("disallow directories and their contents") {
    val r = parse("User-Agent: Mozilla\nDisallow: /dir/\n")
    assert(!r.allowed("Mozilla", "/dir/"))
    assert(!r.allowed("Mozilla", "/dir/path"))
    assert(r.allowed("Opera", "/dir/"))
    assert(r.allowed("Opera", "/dir/path"))
  }
  test("ignore comment lines") {
    val r = parse("User-Agent: Mozilla #Comment\n#Whole line comment\n  #Spaces before comment\nDisallow: /path #Comment\n")
    assert(!r.allowed("Mozilla", "/path"))
    assert(r.allowed("Opera", "/path"))
  }
  test("* rules apply to all user agents") {
    val r = parse("User-Agent: *\nDisallow: /path\n")
    assert(!r.allowed("Mozilla", "/path"))
    assert(!r.allowed("Opera", "/path"))
  }
  test("multiple user agents per group") {
    val r = parse("User-Agent: Mozilla\nUser-Agent: Opera\nDisallow: /path\n")
    assert(!r.allowed("Mozilla", "/path"))
    assert(!r.allowed("Opera", "/path"))
    assert(r.allowed("Chrome", "/path"))
  }
  test("multiple disallow rules") {
    val r = parse("User-Agent: Mozilla\nDisallow: /ping\nDisallow: /pong\n")
    assert(!r.allowed("Mozilla", "/ping"))
    assert(!r.allowed("Mozilla", "/pong"))
    assert(r.allowed("Opera", "/ping"))
    assert(r.allowed("Opera", "/pong"))
  }
  test("specific UA beats default *; empty Disallow = allow-all") {
    val r = parse("User-Agent: *\nDisallow: /path\nUser-Agent: Mozilla\nDisallow:\n")
    assert(r.allowed("Mozilla", "/path"))
    assert(!r.allowed("Opera", "/path"))
  }
  test("wildcard-all rule") {
    val r = parse("User-Agent: Mozilla\nDisallow: *\n")
    assert(!r.allowed("Mozilla", "/path"))
    assert(r.allowed("Opera", "/path"))
  }
  test("start wildcard (suffix) rule *.png") {
    val r = parse("User-Agent: Mozilla\nDisallow: *.png\n")
    assert(!r.allowed("Mozilla", "/image.png"))
    assert(r.allowed("Mozilla", "/image.jpg"))
  }
  test("end wildcard (prefix) rule /path-*") {
    val r = parse("User-Agent: Mozilla\nDisallow: /path-*\n")
    assert(!r.allowed("Mozilla", "/path-private"))
    assert(r.allowed("Mozilla", "/public-path"))
  }
  test("start+end wildcard rule /path-*-private") {
    val r = parse("User-Agent: Mozilla\nDisallow: /path-*-private\n")
    assert(!r.allowed("Mozilla", "/path-this-private"))
    assert(r.allowed("Mozilla", "/public-path"))
  }
  // extra semantics locked by the reference implementation
  test("UA matched on token before slash, lowercased — RobotsParser.scala:96") {
    val r = parse("User-Agent: mozilla\nDisallow: /p\n")
    assert(!r.allowed("Mozilla/5.0 (X11)", "/p"))
  }
  test("first * group wins — RobotsParser.scala:23-26") {
    val r = parse("User-Agent: *\nDisallow: /a\n\nUser-Agent: *\nDisallow: /b\n")
    assert(!r.allowed("X", "/a"))
    assert(r.allowed("X", "/b"))
  }
  test("encode/decode roundtrip preserves decisions") {
    val bodies = Seq(
      "User-Agent: *\nDisallow: /path\nUser-Agent: Mozilla\nDisallow:\n",
      "User-Agent: Mozilla\nDisallow: /path-*-private\nDisallow: *.png\nDisallow: *\n",
      "User-Agent: a\nUser-Agent: b\nDisallow: /x/\n")
    for (b <- bodies; ua <- Seq("Mozilla", "Opera", "a", "b", "*");
         p <- Seq("/path", "/x/", "/x/y", "/i.png", "/path-z-private", "/q")) {
      val orig = RobotRules.parse(b)
      val rt = RobotRules.decode(orig.encode)
      assert(rt.allowed(ua, p) === orig.allowed(ua, p), s"body=$b ua=$ua p=$p")
    }
  }
}

/** Reference LinkExtractorTest + AjaxLinksTransformTest semantics. */
class HtmlSpec extends AnyFunSuite {
  val ct = "text/html"

  test("extracts links in document order") {
    val got = Html.extractLinks(
      """<html><body><a href="http://test1.test"/><a href="http://test2.test"></a></body></html>""",
      "http://test.test/", ct)
    assert(got === Seq("http://test1.test/", "http://test2.test/"))
  }
  test("ignores malformed links") {
    val got = Html.extractLinks(
      """<html><body><a href=":/:/test1.test"/><a href="http://test2.test"></a></body></html>""",
      "http://test.test/", ct)
    assert(got === Seq("http://test2.test/"))
  }
  test("ignores empty links") {
    val got = Html.extractLinks(
      """<html><body><a href=""/><a href="http://test2.test"></a></body></html>""",
      "http://test.test/", ct)
    assert(got === Seq("http://test2.test/"))
  }
  test("resolves relative, root-relative, protocol-relative") {
    for (href <- Seq("./relative", "/relative", "//test.test/relative")) {
      val got = Html.extractLinks(s"""<a href="$href"/>""", "http://test.test/", ct)
      assert(got === Seq("http://test.test/relative"), href)
    }
  }
  test("non-HTML content type yields no links — LinkExtractor.scala:42") {
    assert(Html.extractLinks("""<a href="/x"/>""", "http://t.t/", "text/plain") === Seq())
  }
  test("href on any element is collected — `\\\\ \"@href\"`") {
    val got = Html.extractLinks("""<link href="/style.css"><area href="/map">""",
      "http://t.t/", ct)
    assert(got === Seq("http://t.t/style.css", "http://t.t/map"))
  }
  test("ajax #! rewrite — AjaxLinksTransformTest.scala:40-48") {
    val body = """<html><body><a href="#!key=value"/></body></html>"""
    val got = Html.rewriteAjax(body, "http://www.example.com/", ct)
    assert(got ===
      """<html><body><a href="http://www.example.com/?_escaped_fragment_=key%3Dvalue"/></body></html>""")
  }
  test("ajax rewrite leaves non-HTML and normal hrefs alone") {
    val body = """<a href="#!x"/>"""
    assert(Html.rewriteAjax(body, "http://t.t/", "image/png") === body)
    val normal = """<a href="/plain"/>"""
    assert(Html.rewriteAjax(normal, "http://t.t/", ct) === normal)
  }
  test("rewritten ajax links then extract as normal URLs") {
    val body = """<a href="#!state=1"/>"""
    val rewritten = Html.rewriteAjax(body, "http://h.x/page", ct)
    val links = Html.extractLinks(rewritten, "http://h.x/page", ct)
    assert(links === Seq("http://h.x/?_escaped_fragment_=state%3D1"))
  }
}

class ImageCodecSpec extends AnyFunSuite {
  test("lossless roundtrip is exact (PSNR sentinel 999)") {
    val b = ImageCodec.encode("img-h0-p1", 32, 24, "png")
    assert(ImageCodec.psnrVsReference("img-h0-p1", b) === 999.0)
  }
  test("lossy roundtrip is >=40dB but not perfect") {
    val b = ImageCodec.encode("img-h0-p2", 48, 32, "jpg")
    val p = ImageCodec.psnrVsReference("img-h0-p2", b)
    assert(p >= 40.0 && p < 999.0, s"psnr=$p")
  }
  test("deterministic across calls; distinct ids differ") {
    assert(ImageCodec.encode("a", 16, 16, "png").toSeq === ImageCodec.encode("a", 16, 16, "png").toSeq)
    assert(ImageCodec.encode("a", 16, 16, "png").toSeq !== ImageCodec.encode("b", 16, 16, "png").toSeq)
  }
  test("phash stable and payload-sensitive") {
    val p1 = ImageCodec.phash("a", 32, 32)
    assert(p1 === ImageCodec.phash("a", 32, 32))
  }
  test("caption deterministic") {
    assert(ImageCodec.caption("img-x") === ImageCodec.caption("img-x"))
    assert(ImageCodec.caption("img-x").contains("img-x"))
  }
  test("mismatched pixels fail the 40dB bar") {
    val a = ImageCodec.raster("a", 32, 32)
    val b = ImageCodec.raster("b", 32, 32)
    assert(ImageCodec.psnr(a, b) < 40.0)
  }
}

class SeenSketchSpec extends AnyFunSuite {
  test("broadcast-freeze roundtrip preserves answers") {
    val s = graft.functions.SeenSketch.create("bloom", 1000, 0.01)
    val in = (0 until 400).map(i => s"http://z$i.test/p$i")
    in.foreach(s.put)
    val frozen = s.frozenCopy()
    assert(in.forall(frozen.mightContain), "no false negatives after freeze")
    s.put("http://after-freeze.test/")
    assert(s.mightContain("http://after-freeze.test/"))
    assert(!frozen.mightContain("http://after-freeze.test/"),
      "frozen copy must not see later inserts")
  }
}

class MainSourceSpec extends AnyFunSuite {
  test("no RDD API under src/main/scala (BASELINE.json: DataFrame/Dataset only)") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val rdd = """[.]rdd\b|RDD\[""".r
    val hits = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if rdd.findFirstIn(line).nonEmpty => s"$f:${i + 1}: ${line.trim}"
        }
      }.toList
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
