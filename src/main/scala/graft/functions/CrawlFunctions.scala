package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.urls.CUrl
import graft.html.Html
import graft.robots.RobotRules
import graft.image.ImageCodec

/**
 * Column-level functions of the crawl engine. Everything that CAN be a
 * built-in Catalyst function is (xxhash64, pmod, explode, when/otherwise —
 * all codegen'd); the genuinely domain-specific scalar functions are Scala
 * UDFs over the pure core (deterministic, null-safe). UDF-heavy projections
 * are kept in narrow dedicated stages so they don't break whole-stage
 * codegen for the surrounding joins/windows (SURVEY §4.2).
 */
object CrawlFunctions {
  /** canonical-URL identity — reference Master.generateId (Master.scala:34-36) */
  val canonicalizeUdf = udf((s: String) =>
    Option(s).flatMap(CUrl.canonicalize).orNull)

  val hostOfUdf = udf((s: String) =>
    Option(s).flatMap(CUrl.parseAbsolute).map(_.authority).orNull)

  /** X1: extract + resolve + filter links (LinkExtractor.scala:19-44). */
  val extractLinksUdf = udf((body: String, base: String, ct: String) =>
    if (body == null || base == null) Seq.empty[String]
    else Html.extractLinks(body, base, ct))

  /** P5: AJAX #! rewrite (AjaxLinksTransform.scala:26-50). */
  val ajaxRewriteUdf = udf((body: String, base: String, ct: String) =>
    if (body == null || base == null) body
    else Html.rewriteAjax(body, base, ct))

  /** P4: robots decision over the encoded rules of the host's robots row. */
  val robotsAllowedUdf = udf((rules: String, ua: String, url: String) => {
    // reference matches on Uri.toRelative.path (RobotsParser.scala:95) —
    // path only, query excluded
    val p = Option(url).flatMap(CUrl.parseAbsolute).map(_.path).getOrElse("/")
    RobotRules.decode(rules).allowed(if (ua == null) "*" else ua, p)
  })

  /** P3/P4: parse a fetched robots.txt body; null ⇒ parse error ⇒ all-allowed
    * (RobotsFilter.scala:99-103). */
  val robotsParseUdf = udf((body: String) =>
    try RobotRules.parse(if (body == null) "" else body).encode
    catch { case _: Exception => null })

  /** PSNR of an encoded payload vs the authoritative raster (input_hint). */
  val psnrUdf = udf((imageId: String, bytes: Array[Byte]) =>
    if (imageId == null || bytes == null) 0.0
    else try ImageCodec.psnrVsReference(imageId, bytes)
    catch { case _: Exception => 0.0 })

  val refCaptionUdf = udf((imageId: String) =>
    if (imageId == null) null else ImageCodec.caption(imageId))

  /** URL-seen membership over the engine's two-level sketch (main = full
    * frontier at last rebuild; recent = everything enqueued since). Both
    * sketches ship via `SparkContext.broadcast` — once per executor, never
    * per task closure — so at 10^10-URL scale the multi-GB main sketch is
    * sent to each executor exactly once per rebuild. */
  def bloomContainsUdf(
      main: org.apache.spark.broadcast.Broadcast[SeenSketch],
      recent: org.apache.spark.broadcast.Broadcast[SeenSketch]): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((s: String) => s != null &&
      (main.value.mightContain(s) || recent.value.mightContain(s)))

  /** host bucket — pmod(xxhash64(host), n); built-in, codegen'd. Plain
    * (unsalted) placement: one bucket per host. Hot-host skew is handled by
    * [[saltedHostBucket]] — the engine switches a host to salted placement
    * once its row count crosses CrawlConfig.hotHostThreshold. */
  def hostBucket(host: Column, n: Int): Column =
    pmod(xxhash64(host), lit(n.toLong)).cast("int")

  /**
   * Salted host bucket (north_rule: "salted host-hash — explicit skew
   * handling for hot domains"): hosts in `hot` spread across `k` adjacent
   * (mod n) buckets by a url-derived salt; everyone else keeps the plain
   * placement. The result is a PURE function of (host, url, hot, n, k) —
   * the dedup-confirm prune can still compute the exact single bucket a
   * url's frontier row lives in, and COW placement stays reproducible at
   * load. `hot` is bounded by totalRows/threshold (every member holds more
   * than hotHostThreshold rows), so the literal set stays driver-small;
   * Catalyst compiles large `isin` lists to an O(1) InSet probe.
   */
  def saltedHostBucket(host: Column, url: Column, n: Int, k: Int,
      hot: Set[String]): Column =
    if (hot.isEmpty || k <= 1) hostBucket(host, n)
    else when(host.isin(hot.toSeq: _*),
        // reduce mod n BEFORE adding the salt: `xxhash64(host) + salt`
        // on the raw hash can overflow Long, which throws under ANSI
        // mode; (h mod n) + salt < n + k stays tiny and floorMod(h+s, n)
        // == floorMod(floorMod(h,n)+s, n), so placement is unchanged
        pmod(pmod(xxhash64(host), lit(n.toLong)) + pmod(xxhash64(url), lit(k.toLong)),
          lit(n.toLong)).cast("int"))
      .otherwise(hostBucket(host, n))

  /** The k bucket ids salted placement can assign to a hot host — the dirs
    * a promotion must rewrite (mirrors [[saltedHostBucket]] exactly). */
  def saltedBucketsOf(host: String, n: Int, k: Int): Set[Int] = {
    val h = math.floorMod(XxHash.hash64(host), n.toLong)
    (0L until k.toLong).map(s => ((h + s) % n).toInt).toSet
  }

  /** Plain bucket id of a host on the driver (mirrors [[hostBucket]]). */
  def plainBucketOf(host: String, n: Int): Int =
    math.floorMod(XxHash.hash64(host), n.toLong).toInt
}

/** Driver-side xxHash64 matching Spark's `xxhash64(string)` exactly (seed
  * 42, UTF-8 bytes) — needed wherever the driver must predict a Column
  * hash (salted-bucket dir sets). Delegates to Spark's own implementation
  * so the two can never drift. */
object XxHash {
  def hash64(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }
}
