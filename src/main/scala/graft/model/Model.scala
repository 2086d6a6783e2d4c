package graft.model

/**
 * Row models for the engine's state tables (FIXTURES.md §2), mirroring the
 * reference's case-class messages (reference: src/main/scala/es/udc/scrawl/
 * Task.scala:9-15, master/Master.scala:24-39) flattened into columnar rows.
 * The task identity is the canonical URL string itself, exactly as
 * `Master.generateId(url) = url.toString()` (Master.scala:34-36).
 */
object Status {
  val New = "New"
  val InProgress = "InProgress"
  val Completed = "Completed"
  val WithError = "WithError"
}

/** Error reason classes — reference exception types, as strings. */
object Reasons {
  // reference: pipeline/RobotsFilter.scala:16
  def robotsPathFiltered(ua: String) = s"RobotsPathFiltered($ua)"
  // reference: pipeline/FilterHttpError.scala:11
  def filteredHttpCode(status: Int) = s"FilteredHttpCode($status)"
  // reference: pipeline/RetryHttpError.scala:10 (sic: "Masx")
  val maxRetriesReached = "HttpErrorMaxRetriesReached"
  // reference: Downloader.scala:44-48 — connection-level failure
  val connectionError = "ConnectionError"
  // reference: spray host-connector max-redirects=5, reference.conf:33
  val maxRedirects = "MaxRedirectsReached"
}

/** One frontier row ≙ reference Task + TaskStatus (Master.scala:42). */
final case class TaskRow(
    url: String, // canonical URL = identity (Master.scala:34-36)
    host: String, // authority, robots + politeness key
    bucket: Int, // pmod(xxhash64(host), numBuckets) — partition key
    depth: Int,
    prio: Long, // cycle of first enqueue (BFS-layer observability)
    status: String,
    started: Long, // logical-clock cycle when claimed InProgress
    retries: Int, // RetryHttpError count (RetryHttpError.scala:13)
    reason: String, // null unless WithError
    headers: Map[String, String]) // request headers (Protocol.scala:33)

/** Synthetic-web page (FIXTURES.md §1.2): what "HTTP fetch" joins against. */
final case class PageRow(
    url: String,
    host: String,
    status: Int,
    content_type: String,
    body: String,
    image_id: String, // nullable
    redirect_to: String) // nullable

/** input_hint corpus row: image + caption pair. */
final case class ImageRow(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,
    caption: String,
    phash: Long)

/** robots state row ≙ RobotsFilter caches (RobotsFilter.scala:22-24).
  * `req_headers` records the headers the synthesized robots fetch was
  * issued with — the reference synthesizes the robots request WITH THE SAME
  * HEADERS as the page request that triggered it (RobotsFilter.scala:63-68,
  * asserted by RobotsFilterTest.scala:38-60). */
final case class RobotsRow(
    host: String,
    all_allowed: Boolean,
    rules: String, // RobotRules.encode wire form; null when all_allowed
    fetched_cycle: Long,
    req_headers: Map[String, String])

/** Validated output row (S7): image+caption pair extracted per page.
  * Carries the payload REFERENCE (image_id) + validation evidence
  * (psnr, caption_ok, phash), not the raw bytes: at 10^10-URL scale the
  * output table must not duplicate the corpus pixels; bytes stay in the
  * immutable corpus files and join back by image_id when needed. */
final case class OutputRow(
    image_id: String,
    w: Int,
    h: Int,
    fmt: String,
    caption: String,
    phash: Long,
    src_url: String,
    depth: Int,
    cycle: Long,
    psnr: Double,
    caption_ok: Boolean)

/** Per-cycle, per-bucket lineage/metrics row. */
final case class LineageRow(
    cycle: Long,
    bucket: Int,
    drained: Long,
    fetched: Long,
    completed: Long,
    errors: Long,
    retried: Long,
    enqueued: Long,
    deduped: Long,
    deferred_robots: Long,
    deferred_polite: Long,
    output_rows: Long)

/** Engine configuration ≙ reference.conf knobs (BASELINE.md §A).
  *
  * The stage lists mirror the reference's config-driven pluggable pipeline
  * (reference.conf:66-75 instantiates stage classes reflectively via
  * Pipeline.scala:39-46; doc/Requisitos.md:15-23 names pluggable stages as a
  * requirement). A stage is a pure `DataFrame => DataFrame` over the wide
  * fetch-row schema; `None` selects the reference-default chain
  * (RetryHttpError → FilterHttpError → AjaxLinksTransform on the response
  * leg, MaxDepthFilter on the result leg — see graft.operators.Stages).
  * `extractInfo` is the extractInformation subclass hook
  * (reference crawler/Crawler.scala:18): it maps the parsed OK batch to the
  * rows appended to the output table; `None` = built-in image+caption
  * extraction and PSNR validation. */
final case class CrawlConfig(
    maxDepth: Int = 2, // scrawl.max-depth-filter.max-depth
    filterCodes: Set[Int] = Set(403, 500), // scrawl.filter-http-error.errors
    retryCodes: Set[Int] = Set(404), // scrawl.retry-http-error.errors
    maxRetries: Int = 1, // scrawl.retry-http-error.max-retries
    hostBudget: Int = 10, // spray host-connector max-connections
    maxRedirects: Int = 5, // spray host-connector max-redirects
    staleCycles: Long = 1000L, // scrawl.master.retry-timeout, in cycles
    userAgent: String = "Mozilla/5.0 (X11; Linux x86_64) GraftBot/0.1",
    numBuckets: Int = 32,
    /** Hot-host skew handling (north_rule "salted host-hash"): a host whose
      * frontier rows exceed hotHostThreshold is promoted to SALTED placement
      * — its rows spread across hotHostSalts adjacent (mod numBuckets)
      * buckets by a url-derived salt — so one mega-domain cannot funnel its
      * whole frontier through a single COW partition + per-bucket quota.
      * Promotion happens at commit time (detection rides per-bucket row
      * estimates, costing no extra jobs until a bucket crosses the
      * threshold), rewrites the affected bucket dirs in the same atomic
      * snapshot, and persists the hot set as a snapshot table so placement
      * stays a pure function of (host, url, hot set) across resume.
      * hotHostSalts <= 1 disables salting. */
    hotHostSalts: Int = 8,
    hotHostThreshold: Long = 1000000L,
    globalBatchCap: Int = Int.MaxValue, // per-cycle drain cap (reference pulls 25/manager, unbounded pulls/cycle)
    wavesPerCommit: Int = 1, // drain waves chained in memory per snapshot commit: K > 1 amortizes the COW write + frontier re-read over K cycles (semantics unchanged; resume granularity = the group)
    broadcastBatchLimit: Long = 250000L, // claimed batches estimated above this switch fetch/validate joins from broadcast to shuffle-hash
    bucketedCorpusTable: Option[String] = None, // catalog table holding the RESOLVED corpus bucketed by src_url (Spark bucketBy / Iceberg bucket(url)): mega-wave fetch joins become co-located — the corpus side plans with NO Exchange, bodies never shuffle at any batch size
    defaultHeaders: Map[String, String] = Map.empty, // Request headers (Protocol.scala:33); per-seed overrides via initSeeds/addSeeds
    responseStages: Option[Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame]] = None,
    resultStages: Option[Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame]] = None,
    extractInfo: Option[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = None,
    /** S3's production seam — the reference's Downloader
      * (reference Downloader.scala:30-49) as an injectable function, called
      * ONCE per wave. Input: the claimed batch `(url, host, bucket, depth,
      * prio, retries, headers)` — the politeness/robots-gated page requests,
      * bounded by hostBudget / globalBatchCap per cycle, plus one
      * `scheme://host/robots.txt` request per host whose rules are not yet
      * known, marked `depth = -1` and carrying the headers of the page
      * request that triggered it (reference RobotsFilter.scala:63-68).
      * Output contract: exactly one row per input row, robots rows
      * included, the input columns preserved, plus
      * `f_status:int` (null or -1 ⇒ connection error), `f_ct:string`,
      * `f_body:string`, `f_image_id:string`, `hops:int`,
      * `f_err:string` (non-null ⇒ pre-classified fetch error).
      * `None` (default) fetches via the corpus join (3 batch-size-adaptive
      * strategies — see CrawlEngine step 4); a real deployment injects an
      * HTTP client here (e.g. `mapPartitions` with a connection pool inside
      * the already host-grouped batch). Everything downstream — response
      * stages, parse, dedup, outcomes — is fetcher-agnostic. */
    fetcher: Option[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = None)
