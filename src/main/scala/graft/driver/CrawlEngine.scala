package graft.driver

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.model._
import graft.functions.SeenSketch
import graft.functions.CrawlFunctions._
import graft.plans.{SnapTable, Snapshot, SnapshotStore}
import graft.operators.Stages

/**
 * The crawl micro-cycle engine (SURVEY §3.4): the reference's continuous
 * actor loop (Manager pull → pipelines → Downloader → Crawler → Master;
 * reference: src/main/scala/es/udc/scrawl/Manager.scala:82-147) re-expressed
 * as batched cycles of pure DataFrame transforms over snapshot tables.
 *
 * Per cycle: DRAIN (window top-k per host) → POLITE (per-host budget) →
 * ROBOTS (gate; pages of hosts without rules defer, and one robots.txt
 * request per such host joins the fetch batch) → FETCH (one call of the
 * configured fetcher or the corpus join, for pages and robots.txt alike) →
 * RESPOND (retry 404 / filter 403,500 / ajax rewrite; robots.txt responses
 * become rules) → PARSE (extract links + image payload) → DEPTH → ENQUEUE
 * (bloom prefilter + anti-join dedup) → COMMIT (atomic snapshot: frontier
 * COW by hostBucket + robots + output + lineage). All state lives in
 * tables; resume = reopen LATEST snapshot. One loop runs the cycles
 * ([[CrawlEngine.advance]], behind `drive` and the streaming surface); in it
 * each COMMIT overlaps the next group's waves, which drain the frontier the
 * commit is writing; commits still land one at a time, in order.
 *
 * Scale notes (north_rule): the frontier is partitioned by a SALTED host
 * hash — `bucket = pmod(xxhash64(host), P)` for normal hosts, spread across
 * `hotHostSalts` url-salted buckets for promoted hot domains (see
 * CrawlConfig.hotHostSalts / promoteHotHosts) — and a cycle rewrites only
 * touched buckets.
 * Shuffles per cycle: drain window (by host), fetch join (by url), dedup
 * anti-join (by url) — ≤3 as designed (SURVEY §4.3). Logical clock = cycle
 * number; no wall-clock in executors.
 */
final class CrawlEngine(
    val spark: SparkSession,
    val config: CrawlConfig,
    pages: DataFrame,
    images: DataFrame,
    val workDir: String,
    store: SnapshotStore = null) {

  import spark.implicits._
  SnapTable.requireGlobFree(workDir, "workDir") // the resolved corpus is read under it

  /** Durable-table layer: the bundled manifest store by default; inject an
    * Iceberg-backed [[SnapshotStore]] here to run on a real catalog. */
  val snap: SnapshotStore =
    Option(store).getOrElse(new SnapTable(spark, s"$workDir/state"))
  // codegen'd URL expressions (graft_canonicalize / graft_host) for the
  // hot enqueue projection — registered idempotently per session
  graft.functions.UrlExpressions.register(spark)
  private val corpusPath = s"$workDir/corpus_resolved"
  private val imagesPath = s"$workDir/images_resolved"
  private var seenCountEstimate: Long = 0L
  // Upper-bound estimate of next cycle's claimed-batch size (maintained from
  // seed counts and each cycle's pending total — no extra jobs). Picks the
  // fetch/validate join strategy: politeness-bounded batches broadcast
  // (bodies never shuffle); a mega-wave above broadcastBatchLimit switches
  // to shuffle-hash joins — the plan a cluster planner would pick when the
  // batch no longer fits a driver-built broadcast relation.
  private var expectedBatch: Long = 0L
  // Cycle-persistent URL-seen filter (north_star), two-level:
  //  - MAIN covers the whole frontier as of its last rebuild (amortized
  //    O(1)/url: rebuilt only when the seen count doubles);
  //  - RECENT covers every url enqueued since that rebuild (per-cycle merge
  //    cost is O(enqueued): the merge sketch is sized to the recent window,
  //    never to the full frontier).
  // Both ship to executors via sc.broadcast. A url is "maybe seen" iff
  // either sketch says so; false positives fall through to the exact
  // anti-join, false negatives are impossible because every enqueue path
  // (a wave's enqueue AND mid-crawl addSeeds) feeds RECENT before the next
  // drain — so dedup stays exact.
  // Hot-host salting state (north_rule "salted host-hash"; see
  // CrawlConfig.hotHostSalts). `hotHosts` is the PERSISTED promotion set —
  // bucket placement is a pure function of (host, url, hotHosts), loaded
  // with each snapshot so COW dirs, the dedup prune, and resumed runs all
  // compute identical placement. `bucketRowEst` tracks cumulative rows per
  // bucket (seeds + enqueues — an upper bound on live rows, which is the
  // right signal: COW write cost is proportional to total bucket size);
  // detection only scans a bucket's hosts when its estimate crosses the
  // threshold and re-scans on doubling, so promotion costs no extra jobs
  // until a bucket is actually suspect.
  private var hotHosts: Set[String] = Set.empty
  private var hotLoadedVersion: Long = -1L
  private val bucketRowEst = scala.collection.mutable.Map.empty[Int, Long]
  private val lastHotCheck = scala.collection.mutable.Map.empty[Int, Long]
  private var mainBloom: Option[Broadcast[SeenSketch]] = None
  private var mainItems: Long = 0L
  private var recentMaster: Option[SeenSketch] = None
  private var recentBloom: Option[Broadcast[SeenSketch]] = None
  private var recentItems: Long = 1L << 17
  private var recentCount: Long = 0L

  /** Rebuild MAIN from the live frontier when it is absent or outgrown, or
    * when RECENT has outgrown its sizing (then RECENT also doubles). */
  private def ensureBloom(frontier: DataFrame): Unit = {
    val mainStale = mainBloom.isEmpty || seenCountEstimate > mainItems / 2
    val recentFull = recentCount > recentItems / 2
    if (!mainStale && !recentFull) return
    if (recentFull) recentItems *= 2
    mainItems = math.max(math.max(seenCountEstimate * 4, mainItems), 1L << 20)
    val fresh = SeenSketch.build(frontier, "url", mainItems, 0.01)
    mainBloom.foreach(_.unpersist(false))
    mainBloom = Some(spark.sparkContext.broadcast(fresh))
    recentMaster = Some(SeenSketch.create("bloom", recentItems, 0.01))
    recentCount = 0L
    rebroadcastRecent()
  }

  /** Broadcast a frozen copy of RECENT (the driver-side master keeps
    * mutating; broadcasts must be immutable snapshots). */
  private def rebroadcastRecent(): Unit = {
    val frozen = recentMaster.get.frozenCopy()
    recentBloom.foreach(_.unpersist(false))
    recentBloom = Some(spark.sparkContext.broadcast(frozen))
  }

  /**
   * Pre-resolve redirect chains once per run (S4): spray's host connector
   * follows ≤ maxRedirects redirects transparently (reference.conf:33),
   * keeping the task's original URL, so a cycle's fetch is one equi-join.
   * Chains are chased over the narrow (url, status, redirect_to) edges of the
   * redirecting pages, one left join per hop; then each source takes its
   * final target's content in one join built on the small chased map, so the
   * wide corpus is scanned twice at any maxRedirects and never shuffles.
   * robots.txt files are ordinary corpus rows, fetched like pages.
   */
  def prepareCorpus(): Unit = {
    // materialize the images table once: the input may be a *generated*
    // Dataset (bench/CrawlMain synthesize it), and every join against a
    // generated plan would re-run the whole synthesis — parquet-backing it
    // makes the per-cycle image join a columnar scan instead
    if (!new java.io.File(imagesPath).exists())
      images.write.mode("overwrite").parquet(imagesPath)
    // a user-supplied bucketed corpus table IS the resolved corpus (the
    // Iceberg bucket(url) layout): no redirect pre-resolution pass here
    if (config.bucketedCorpusTable.nonEmpty || new java.io.File(corpusPath).exists())
      return
    def redirecting(status: Column, next: Column): Column =
      status.isin(HttpFetcher.RedirectCodes.toSeq: _*) && next.isNotNull
    val moving = redirecting($"f_status", $"next")
    def step(moved: Column, stayed: Column) = when(moving, moved).otherwise(stayed)
    val hop = pages.select($"url".as("h_url"), $"status".as("h_status"), $"redirect_to".as("h_next"))
    var chased = pages.filter(redirecting($"status", $"redirect_to")).select($"url".as("src_url"),
      $"url".as("tgt"), $"status".as("f_status"), $"redirect_to".as("next"), lit(0).as("hops"))
    for (_ <- 1 to config.maxRedirects)
      chased = chased.join(hop, $"next" === $"h_url", "left").select($"src_url",
        step($"h_url", $"tgt").as("tgt"), // a broken hop has no target and status -1
        step(coalesce($"h_status", lit(-1)), $"f_status").as("f_status"),
        step($"h_next", $"next").as("next"), step($"hops" + 1, $"hops").as("hops"))
    val content = Seq($"content_type".as("f_ct"), $"body".as("f_body"), $"image_id".as("f_image_id"))
    val passed = pages.filter(!redirecting($"status", $"redirect_to")).select(Seq($"url".as("src_url"),
      $"status".as("f_status")) ++ content ++ Seq($"redirect_to".as("next"), lit(0).as("hops")): _*)
    val resolved = pages.select($"url" +: content: _*)
      .join(broadcast(chased), $"url" === $"tgt").drop("url", "tgt")
    val broken = chased.filter($"tgt".isNull).drop("tgt") // no target page: no content
    passed.unionByName(resolved).unionByName(broken, allowMissingColumns = true)
      .withColumn("f_err", when($"f_status" === -1, lit(Reasons.connectionError))
        .when(moving, lit(Reasons.maxRedirects))) // still redirecting after maxRedirects hops
      .drop("next").write.mode("overwrite").parquet(corpusPath)
  }

  /** The resolved corpus: the user-registered url-bucketed catalog table
    * when configured (co-located fetch joins — no Exchange on the corpus
    * side at any batch size), else the redirect-resolved parquet built by
    * [[prepareCorpus]]. Schema either way:
    * (src_url, f_status, f_ct, f_body, f_image_id, hops, f_err).
    *
    * Both tables are immutable for the lifetime of the engine, so the
    * DataFrames are memoized: a fresh `spark.read.parquet` per wave costs a
    * driver-side directory listing + schema read each time — measurable in
    * the per-wave plan-build budget, pure waste. `lazy` so construction
    * still happens after [[prepareCorpus]] wrote the files. */
  lazy val resolvedCorpus: DataFrame = config.bucketedCorpusTable
    .map(spark.table).getOrElse(spark.read.parquet(corpusPath))
  lazy val resolvedImages: DataFrame = spark.read.parquet(imagesPath)

  /** Seed injection (S1): depth-0 New rows, deduped (Master.scala:104-113).
    * `headers` (Request headers, Protocol.scala:33) ride the frontier rows;
    * null selects `config.defaultHeaders`. */
  def init(seeds: Seq[String], headers: Map[String, String] = null): Unit =
    initSeeds(seeds.toDF("raw"), headers)

  /**
   * Distributed seed injection: `seedsRaw` is any DataFrame with a `raw`
   * URL column. Seeds never pass through the driver — a 10^10-URL seed
   * list stays a distributed scan end to end.
   */
  def initSeeds(seedsRaw: DataFrame, headers: Map[String, String] = null): Unit = {
    require(snap.latestVersion.isEmpty,
      s"$workDir already holds crawl state (snapshot v${snap.latestVersion.get}); " +
        "use resume() or point at a fresh workdir")
    prepareCorpus()
    val rows = newFrontierRows(canonicalSeeds(seedsRaw), lit(0), lit(0L),
      Option(headers).getOrElse(config.defaultHeaders))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val perBucket = countPerBucket(rows)
    val buckets = perBucket.keySet
    seenCountEstimate = perBucket.values.sum
    expectedBatch = seenCountEstimate
    snap.commit(cycle = 0,
      cowTables = Map("frontier" -> ((rows, "bucket", buckets))),
      metrics = Map("seeded" -> seenCountEstimate.toDouble,
        "num_buckets" -> config.numBuckets.toDouble))
    rows.unpersist(): Unit
  }

  /**
   * Bucket-keyed state (frontier/robots COW dirs, the dedup-confirm
   * partition pruning) is only valid under the numBuckets that keyed it:
   * resuming a workdir with a different numBuckets would prune the wrong
   * bucket dirs and silently re-enqueue seen URLs (an O5 exactness break)
   * and replace COW dirs holding rows that now hash elsewhere. Every commit
   * records `num_buckets`; any reuse of committed state must match.
   */
  private def requireBucketCompat(s: Snapshot): Unit = {
    s.metrics.get("num_buckets").foreach { nb =>
      require(nb.toInt == config.numBuckets,
        s"workdir state was committed with numBuckets=${nb.toInt} but " +
          s"config.numBuckets=${config.numBuckets}; bucket-keyed snapshot " +
          "dirs and dedup pruning would silently mismatch — resume with " +
          "the original numBuckets")
    }
    // salted placement is keyed by hotHostSalts exactly like numBuckets:
    // once any host has been promoted, resuming with a different salt
    // count would re-derive buckets that no longer match the COW dirs
    if (s.metrics.get("hot_hosts").exists(_ > 0))
      s.metrics.get("hot_host_salts").foreach { k =>
        require(k.toInt == config.hotHostSalts,
          s"workdir state holds hot hosts salted with k=${k.toInt} but " +
            s"config.hotHostSalts=${config.hotHostSalts}; resume with the " +
            "original salt count")
      }
  }

  /**
   * Mid-crawl seed injection (S2 — the reference's remote AddTasks entry
   * point, reference AddTasks.scala:42-48 sending NewTasks to the master):
   * dedups against the live frontier (O5: first insertion wins,
   * Master.scala:104-113) and commits unseen URLs as depth-0 New rows.
   * Returns the number of rows actually enqueued.
   */
  def addSeeds(seeds: Seq[String], headers: Map[String, String] = null): Long = {
    val prev = snap.latest.getOrElse(sys.error("engine not initialized"))
    requireBucketCompat(prev)
    val frontier = loadFrontier(prev)
    val rows = newFrontierRows(
        canonicalSeeds(seeds.toDF("raw")).join(frontier.select("url"), Seq("url"), "left_anti"),
        lit(0), lit(prev.cycle), Option(headers).getOrElse(config.defaultHeaders))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val perBucket = countPerBucket(rows)
    val touched = perBucket.keySet
    val added = if (touched.isEmpty) 0L else {
      val next = frontier
        .filter($"bucket".isin(touched.toSeq: _*))
        .unionByName(rows.select(frontier.columns.map(col): _*))
      val n = perBucket.values.sum
      snap.commit(prev.cycle,
        cowTables = Map("frontier" -> ((next, "bucket", touched))),
        metrics = Map("seeds_added" -> n.toDouble,
          "num_buckets" -> config.numBuckets.toDouble,
          // the salt-compat resume guard reads the LATEST snapshot's
          // metrics — an addSeeds commit must carry them too
          "hot_hosts" -> hotHosts.size.toDouble,
          "hot_host_salts" -> config.hotHostSalts.toDouble))
      seenCountEstimate += n
      expectedBatch += n
      // injected seeds must become visible to the URL-seen filter BEFORE the
      // next drain: a later-crawled page linking back to an injected seed
      // would otherwise take the "bloom says no => definitely unseen" fast
      // path and re-enqueue a duplicate. Feeding RECENT (superset is fine —
      // dedup-dropped urls only add harmless maybes) keeps O5 exact.
      recentMaster.foreach { r =>
        seeds.iterator.flatMap(graft.urls.CUrl.canonicalize).foreach(r.put)
        recentCount += n
        rebroadcastRecent()
      }
      n
    }
    rows.unpersist()
    added
  }

  /** Distinct canonical urls of a `raw` url column; unparseable urls drop. */
  private def canonicalSeeds(raw: DataFrame): DataFrame =
    raw.select(call_function("graft_canonicalize", $"raw").as("url"))
      .filter($"url".isNotNull).dropDuplicates("url")

  /** New frontier rows for a `url` column: every enqueue path (seeds,
    * mid-crawl seeds, a wave's unseen links) builds its rows here. */
  private def newFrontierRows(urls: DataFrame, depth: Column, prio: Column,
      headers: Map[String, String]): DataFrame =
    urls.select($"url", call_function("graft_host", $"url").as("host"),
        depth.as("depth"), prio.as("prio"), lit(Status.New).as("status"),
        lit(-1L).as("started"), lit(0).as("retries"),
        lit(null).cast("string").as("reason"), typedlit(headers).as("headers"))
      .withColumn("bucket", bucketCol($"host", $"url"))

  /** Per-bucket row counts of `rows` (one job), added to the hot-host row
    * estimates. */
  private def countPerBucket(rows: DataFrame): Map[Int, Long] = {
    val perBucket = rows.groupBy($"bucket").agg(count(lit(1))).as[(Int, Long)]
      .collect().toMap
    perBucket.foreach { case (b, n) => bucketRowEst(b) = bucketRowEst.getOrElse(b, 0L) + n }
    perBucket
  }

  /** The frontier placement function: plain host bucket, or url-salted for
    * promoted hot hosts — every site that assigns or re-derives a frontier
    * row's bucket MUST go through this one definition. */
  private def bucketCol(host: Column, url: Column): Column =
    saltedHostBucket(host, url, config.numBuckets, config.hotHostSalts, hotHosts)

  /** Load the persisted hot-host set for snapshot `s` (memoized per
    * version) — MUST precede any bucket re-derivation against `s`. */
  private def ensureHotHosts(s: Snapshot): Unit = {
    if (config.hotHostSalts <= 1 || s.version == hotLoadedVersion) return
    hotHosts = snap.readTable(s, "hothosts")
      .map(_.select("host").as[String].collect().toSet)
      .getOrElse(Set.empty)
    hotLoadedVersion = s.version
  }

  def loadFrontier(s: Snapshot): DataFrame = {
    ensureHotHosts(s)
    snap.readTable(s, "frontier").get
      .withColumn("bucket", bucketCol($"host", $"url"))
  }

  /** Robots state, bucketed by the SAME hostBucket as the frontier (the
    * bucket column is re-derived from host after load, like loadFrontier —
    * COW dirs drop it via partitionBy). Absent table (fresh workdir) =
    * empty: the first cycle requests every needed robots.txt. */
  def loadRobots(s: Snapshot): DataFrame =
    snap.readTable(s, "robots")
      .getOrElse(spark.emptyDataset[RobotsRow].toDF())
      .withColumn("bucket", hostBucket($"host", config.numBuckets))

  private def drainablePredicate(cycle: Long) =
    $"status" === Status.New ||
      ($"status" === Status.InProgress && $"started" < lit(cycle - config.staleCycles))

  /**
   * The default fetcher — the corpus join. Join strategy by estimated batch
   * size (bigBatch, computed at the robots gate): bounded batches broadcast
   * into the corpus scan (bodies never shuffle); a mega-wave too big for a
   * driver-built broadcast relation shuffle-hash-joins by url instead — one
   * distributed shuffle of the claimed wave's pages, no O(batch)
   * single-threaded driver work. Three strategies, picked by batch estimate
   * + corpus layout:
   *  - bounded batch: broadcast the claimed keys into the corpus scan;
   *  - mega-wave over a url-BUCKETED corpus table: CO-LOCATED join — the
   *    planner reads the corpus bucket-aligned with zero Exchange on the
   *    corpus side and shuffles only the (narrow) claimed batch into the
   *    corpus' bucketing, so pixel/body bytes never shuffle at ANY size;
   *  - mega-wave over the plain parquet stand-in: shuffle-hash by url.
   */
  private def corpusFetch(claimed: DataFrame, bigBatch: Boolean): DataFrame = {
    val corpus = resolvedCorpus.withColumnRenamed("src_url", "url")
    val coLocated = config.bucketedCorpusTable.nonEmpty
    val hits =
      if (bigBatch && coLocated) corpus.join(claimed, Seq("url"), "inner")
      else if (bigBatch) corpus.join(claimed.hint("shuffle_hash"), Seq("url"), "inner")
      else corpus.join(broadcast(claimed), Seq("url"), "inner")
    // urls claimed but absent from the corpus => connection error; the semi/
    // anti joins read only the corpus url column (pruned scan, no bodies)
    val misses = (if (bigBatch && coLocated)
      claimed.join(corpus.select($"url"), Seq("url"), "left_anti")
    else if (bigBatch)
      claimed.join(corpus.select($"url").hint("shuffle_hash"), Seq("url"), "left_anti")
    else {
      // the semi probe broadcasts claimed's urls only; both broadcasts
      // read the claimed leaf's blocks
      val present = corpus.select($"url")
        .join(broadcast(claimed), Seq("url"), "left_semi")
      claimed.join(broadcast(present), Seq("url"), "left_anti")
    })
      .withColumns(Map( // one batched analysis (was 6 chained withColumn re-analyses)
        "f_status" -> lit(null).cast("int"),
        "f_ct" -> lit(null).cast("string"),
        "f_body" -> lit(null).cast("string"),
        "f_image_id" -> lit(null).cast("string"),
        "hops" -> lit(0),
        "f_err" -> lit(null).cast("string")))
    hits.unionByName(misses)
  }

  import CrawlEngine.{BucketTally, Committing, GroupStart, GroupWaves, WaveOut, WaveTally}

  /**
   * One drain → robots → fetch → parse → enqueue wave (SURVEY §3.4 steps
   * 1-8) as pure transforms over the IN-MEMORY frontier/robots state,
   * without committing: [[runWaves]] chains `wavesPerCommit` of these
   * through their checkpointed outputs into one commit, so the snapshot
   * write (the dominant fixed cost at small wave sizes) amortizes over K
   * waves while crawl semantics stay wave-per-cycle identical.
   *
   * Design rule: wave intermediates are plan leaves (`localCheckpoint`); no
   * cycle-path DataFrame is persisted on top of another persisted one. A
   * persisted plan is printed in full inside every plan that reads it, at
   * every SQL execution start and AQE stage update, so stacked caches doubled
   * the printed tree per layer. Checkpoint blocks are not recomputed after
   * executor loss: a failed group replays from the last committed snapshot,
   * exactly as the checkpointed wave chaining of [[runWaves]] already does.
   */
  private def runWave(frontier: DataFrame, robots: DataFrame, cycle: Long): WaveOut = {
    // ---- 1. DRAIN candidates (O1): window top-k per host ----------------
    val drainable = frontier.filter(drainablePredicate(cycle))
    // ---- 2. POLITE (O12): ≤ hostBudget rows per host per cycle ----------
    val hostW = Window.partitionBy($"host").orderBy($"depth", $"prio", $"url")
    val polite0 =
      if (config.hostBudget >= Int.MaxValue / 2) drainable // unbounded budget: top-k is identity, skip the shuffle
      else drainable.withColumn("rn", row_number().over(hostW))
        .filter($"rn" <= config.hostBudget).drop("rn")
    val polite = (if (config.globalBatchCap == Int.MaxValue) polite0
      else {
        // bounded cycles via PER-BUCKET quotas: a global Window.orderBy
        // would funnel every drainable row through ONE partition to rank it;
        // capping each hostBucket at ceil(cap / numBuckets) keeps the plan
        // fully parallel (WindowGroupLimit folds the top-k map-side) and
        // still bounds the batch at <= cap rows
        val quota = math.max(1L,
          (config.globalBatchCap.toLong + config.numBuckets - 1) / config.numBuckets)
        polite0.withColumn("grn", row_number().over(
            Window.partitionBy($"bucket").orderBy($"depth", $"prio", $"url")))
          .filter($"grn" <= quota).drop("grn")
      }).localCheckpoint(false)

    // ---- 3. ROBOTS gate (P3): known-allow / known-deny / defer+fetch ----
    // The gate NEVER broadcasts the full robots table (at 10^7-10^8
    // authorities that is a multi-GB broadcast per cycle): the batch's
    // hosts semi-join the robots table first — a column-pruned scan whose
    // survivors are O(batch hosts) — and only those rules ship to the
    // gate join. Mirrors the reference's per-host robots cache lookup
    // (pipeline/RobotsFilter.scala:22-24: one map probe per request host,
    // not a scan of every cached authority). A mega-wave batch above the
    // broadcast limit joins the robots table by a shuffle-hash join
    // instead, like the fetch: both sides shuffle by host once, which
    // prunes the table as the semi-join would, and the batch is read by
    // one exchange.
    val bigBatch = expectedBatch > config.broadcastBatchLimit
    val robotsPruned =
      if (bigBatch) robots.drop("bucket")
      else robots.drop("bucket") // a broadcast probe needs no distinct hosts
        .join(broadcast(polite.select($"host")), Seq("host"), "left_semi")
    // the allow/deny verdict is computed ONCE per row as a column (the
    // parse+match UDF is the priciest scalar in the gate), then split —
    // not re-evaluated per branch
    val withRobots = (if (bigBatch)
        polite.join(robotsPruned.hint("shuffle_hash"), Seq("host"), "left")
      else polite.join(broadcast(robotsPruned), Seq("host"), "left"))
      .withColumn("robots_ok", $"fetched_cycle".isNotNull &&
        ($"all_allowed" ||
          robotsAllowedUdf($"rules", lit(config.userAgent), $"url")))
      .localCheckpoint(false)
    val robotsUnknown = withRobots.filter($"fetched_cycle".isNull)

    val denied = withRobots.filter($"fetched_cycle".isNotNull && !$"robots_ok")
    val allowed = withRobots.filter($"robots_ok")

    // hosts lacking robots: ONE robots.txt request per authority joins this
    // wave's fetch batch, carrying THE SAME HEADERS as the (deterministically
    // first) page request that triggered it — reference RobotsFilter.scala:
    // 63-68, asserted by RobotsFilterTest.scala:38-60. It is marked
    // depth = -1 (a crawl depth is never negative). Its host's page rows
    // stay New (deferral ≙ the reference's `waiting` queue, ≤1 extra cycle
    // latency).
    val robotsRequests = robotsUnknown.groupBy($"host")
      .agg(min($"url").as("any_url"), min_by($"headers", $"url").as("headers"))
      .select(concat(split($"any_url", "/")(0), lit("//"), $"host",
          lit("/robots.txt")).as("url"),
        $"host", hostBucket($"host", config.numBuckets).as("bucket"),
        lit(-1).as("depth"), lit(cycle).as("prio"), lit(0).as("retries"), $"headers")

    // ---- 4. FETCH (S3/S4): ONE fetch per wave, pages and robots.txt alike,
    // as RobotsFilter hands its request to the Downloader like any other
    // (reference Downloader.scala:30-49): the configured fetcher, or the
    // corpus join (see corpusFetch). The batch is bounded by hostBudget /
    // globalBatchCap plus one robots row per host, so broadcasting it stays
    // executor-memory-sized at any frontier scale.
    // headers ride along: the pluggable-stage contract (operators/Stages
    // .scala) exposes the wide fetch row INCLUDING per-request headers —
    // the reference's stages receive the full Response with its headers
    // (pipeline/Stage.scala, Protocol.scala:33-36). The map column costs
    // broadcast bytes, but the batch is politeness/cap-bounded and default
    // headers are a handful of entries.
    // A bounded batch is checkpointed EAGERLY: the corpus fetch broadcasts
    // it twice from concurrent stages (the hits join, and the present
    // semi-join's url-pruned copy), and two first readers of a lazy leaf
    // would each compute its partitions. The shuffled joins of a mega-wave
    // read it through one reused exchange.
    val claimed = allowed.select($"url", $"host", $"bucket", $"depth",
        $"prio", $"retries", $"headers")
      .unionByName(robotsRequests).localCheckpoint(eager = !bigBatch)
    val fetched = config.fetcher match {
      case Some(fetch) =>
        // injected fetcher (S3 production seam, CrawlConfig.fetcher): the
        // claimed batch goes in, wide fetch rows come out — the engine
        // neither knows nor cares whether rows came from the corpus join
        // or a live HTTP client; parity vs the default is pinned in
        // EngineParitySpec ("fetcher seam") and HttpFetcherSpec
        fetch(claimed)
      case None => corpusFetch(claimed, bigBatch)
    }
    // ---- 5. RESPOND: the pluggable response-leg stage chain -------------
    // reference.conf:66-71 traversed right-to-left: RetryHttpError →
    // FilterHttpError → AjaxLinksTransform. The chain is config-driven
    // (CrawlConfig.responseStages ≙ the reference's reflective stage list,
    // Pipeline.scala:39-46); the Downloader's own error channel (connection
    // failures, Downloader.scala:44-48) is marked before any stage runs, and
    // robots.txt rows are marked ROBOTS, so stages (which touch only rows
    // whose outcome is null) pass them through.
    val preTagged = fetched
      .withColumns(Map(
        "outcome" ->
          when($"depth" === -1, lit("ROBOTS"))
            .when($"f_err".isNotNull || $"f_status".isNull || $"f_status" === -1,
              lit("ERROR")).otherwise(lit(null).cast("string")),
        "reason" ->
          when($"f_err".isNotNull, $"f_err")
            .when($"f_status".isNull, lit(Reasons.connectionError))))
    val responseChain = config.responseStages.getOrElse(Seq(
      Stages.retryHttpError(config.retryCodes, config.maxRetries),
      Stages.filterHttpError(config.filterCodes),
      Stages.ajaxRewrite))
    // the body's consumers run BEFORE the wave leaf: link extraction for OK
    // pages, and for robots.txt the reference's cache step —
    // 200 + parse-ok ⇒ rules; 200 + parse-fail / non-200 / missing / error
    // ⇒ null rules = all allowed (RobotsFilter.scala:74-81, 99-103, 110-119).
    // CACHE SLIMMING (bandwidth at scale): when both downstream hooks are
    // the defaults, nothing else reads f_body/f_ct, so they are dropped from
    // the leaf. Otherwise the two fattest wave leaves (`responded`, `ok`)
    // each hold every fetched body for the whole wave: cache fill + the 2-3
    // downstream reads stream those bytes through memory again, and on the
    // single-box bench that traffic contends with the shuffle/COW writes
    // for the same memory channels. Custom result stages or an
    // extractInformation hook may read f_body, so they keep the wide rows.
    val slimWave = config.extractInfo.isEmpty && config.resultStages.isEmpty
    val respondedWide = responseChain.foldLeft(preTagged)((df, s) => s(df))
      .withColumn("outcome", coalesce($"outcome", lit("OK")))
      .withColumns(Map(
        "links" -> when($"outcome" === "OK", extractLinksUdf($"f_body", $"url", $"f_ct")),
        "rules" -> when($"outcome" === "ROBOTS" && $"f_status" === 200 && $"f_err".isNull,
          robotsParseUdf($"f_body"))))
    val responded = (if (slimWave) respondedWide.drop("f_body", "f_ct") else respondedWide)
      .localCheckpoint(false)
    val robotsNew = responded.filter($"outcome" === "ROBOTS")
      .select($"host", $"rules".isNull.as("all_allowed"), $"rules",
        lit(cycle).as("fetched_cycle"), $"headers".as("req_headers"), $"bucket")
    val robotsOut = robots.unionByName(robotsNew)

    // ---- 6. PARSE (X1/X2) + 7. result-leg stage chain (P8 by default) ---
    // ajax rewrite already mutated f_body in the response chain; the
    // Crawler extracted links for every OK page above and the RESULT stages
    // (default: MaxDepthFilter) now prune them — exactly the reference's
    // Crawler → result-pipeline traversal (Manager.scala:137-147)
    val parsed = responded.filter($"outcome" === "OK").drop("rules")
    val resultChain = config.resultStages
      .getOrElse(Seq(Stages.maxDepth(config.maxDepth)))
    val ok = resultChain.foldLeft(parsed)((df, s) => s(df))
      .localCheckpoint(false)

    // outcomes ledger for the claimed pages (O6/O7) + robots denials
    // (RobotsFilter.scala:58-61 — deny ⇒ Error(task, RobotsPathFiltered(ua)))
    val outcomes = responded.filter($"outcome" =!= "ROBOTS")
      .select($"url", $"host", $"bucket", $"depth",
        $"prio", $"retries", $"outcome", $"reason")
      .unionByName(denied.select($"url", $"host", $"bucket", $"depth",
        $"prio", $"retries", lit("ERROR").as("outcome"),
        lit(Reasons.robotsPathFiltered(config.userAgent)).as("reason")))
      .localCheckpoint(false)

    // ---- output rows (S7): image payload + per-row validation -----------
    // join direction matters at scale: broadcast the (small) batch keys to
    // the images table so the pixel bytes are validated IN PLACE — a
    // shuffle join here would move the whole payload column across the
    // cluster just to compute a per-row PSNR
    val okImages = ok.filter($"f_image_id".isNotNull)
      .select($"f_image_id".as("image_id"), $"url".as("src_url"), $"depth")
    // okImages is ids-only (~tens of bytes/row) — broadcast beats a
    // shuffle-hash join at ANY realistic batch size here, because the
    // shuffle alternative moves the wide pixel-bytes column; bytes are
    // validated in place at every batch size. (Beyond ~10^7-row batches,
    // bucket both tables by image_id for a co-located join instead.)
    val matchedImages = resolvedImages
      .join(broadcast(okImages), Seq("image_id"), "inner")
      .select($"image_id", $"w", $"h", $"fmt", $"caption",
        $"phash", $"src_url", $"depth", lit(cycle).as("cycle"),
        psnrUdf($"image_id", $"bytes").as("psnr"),
        ($"caption" === refCaptionUdf($"image_id")).as("caption_ok"))
    // dangling references (page names an image_id absent from the images
    // table) surface as failed-validation rows — psnr 0, caption_ok false —
    // instead of silently vanishing from the output; the id-only semi join
    // is a pruned scan (no pixel bytes read)
    val presentImages = resolvedImages.select($"image_id")
      .join(broadcast(okImages), Seq("image_id"), "left_semi") // same exchange as matchedImages' — reused
    val danglingImages = okImages
      .join(broadcast(presentImages), Seq("image_id"), "left_anti")
      .select($"image_id", lit(null).cast("int").as("w"),
        lit(null).cast("int").as("h"), lit(null).cast("string").as("fmt"),
        lit(null).cast("string").as("caption"), lit(null).cast("long").as("phash"),
        $"src_url", $"depth", lit(cycle).as("cycle"),
        lit(0.0).as("psnr"), lit(false).as("caption_ok"))
    // extractInformation hook (X3 — reference crawler/Crawler.scala:18):
    // a custom extractor maps the parsed OK batch to output rows; default
    // is the built-in image+caption extraction with PSNR validation
    val (outRows, danglingDf) = config.extractInfo match {
      case Some(hook) => (hook(ok).withColumn("cycle", lit(cycle)), None)
      case None => (matchedImages.unionByName(danglingImages), Some(danglingImages))
    }

    // ---- 8. ENQUEUE (O5): explode → canonical → dedup → anti-join -------
    val rawLinks = ok.select(explode($"links").as("url"),
      ($"depth" + 1).as("depth"))
    // first-seen depth wins; within a commit the deterministic contract is
    // min(depth) then BFS order (SURVEY §3.5)
    val batchLinks = rawLinks.groupBy($"url")
      .agg(min($"depth").as("depth"))
      .localCheckpoint(false)

    // ---- first action over the wave leaves -----------------------------
    // each localCheckpoint above ran only its plan's shuffle stages; this
    // aggregate computes the remaining leaf partitions along the chain in
    // one job, and returns the bloom-maybe candidates' host buckets, so the
    // seen-side partition pruning costs no extra job.
    ensureBloom(frontier)
    val recent = recentMaster.get
    val mightContain = bloomContainsUdf(mainBloom.get, recentBloom.get)
    // the prune must compute the SAME placement as the COW write — salted
    // placement is still a pure per-url function, so each candidate url
    // still maps to exactly one bucket dir
    val bucketOfUrl = bucketCol(call_function("graft_host", $"url"), $"url")
    val aggRow = batchLinks.agg(
      count(lit(1)),
      collect_set(when(mightContain($"url"), bucketOfUrl))).head()
    val linksCount = aggRow.getLong(0)
    val candBuckets = aggRow.getSeq[Int](1).toSet
    // bloom=no ⇒ definitely unseen (skip the exact join); bloom=maybe ⇒
    // confirm with exact left_anti against the seen ledger
    val definitelyNew = batchLinks.filter(!mightContain($"url"))
    val maybe = batchLinks.filter(mightContain($"url"))
    // partition pruning on the seen side: a url's frontier row can only live
    // in bucket(host(url)), so the exact confirm join reads ONLY the
    // candidate urls' buckets of the frontier this wave drains (persisted or
    // a checkpoint leaf, already read in full by the drain)
    val seenSide =
      if (candBuckets.isEmpty) frontier.select("url").where(lit(false))
      else if (candBuckets.size * 2 <= config.numBuckets)
        frontier.filter($"bucket".isin(candBuckets.toSeq: _*)).select("url")
      else frontier.select("url") // most buckets touched: cached full scan wins
    val confirmed = maybe.join(seenSide, Seq("url"), "left_anti")
    // child requests get fresh default headers, exactly as the reference
    // Manager issues Request(task, Map()) for every pulled task
    // (Manager.scala:100-110) — headers are per-request, not inherited
    val newRows = newFrontierRows(definitelyNew.unionByName(confirmed),
        $"depth", lit(cycle), config.defaultHeaders)
      .localCheckpoint(false)

    // ---- per-bucket tally in ONE aggregate ------------------------------
    // The reference's counters (Master.scala:46-47) are driver-side ints;
    // ours are one aggregate collected once per wave. Every branch a
    // statistic reads contributes narrow (bucket, kind, url) rows to one
    // union, grouped once by bucket: a single shuffle stage, where one
    // aggregate per branch cost one AQE stage (one Spark job) each. A page
    // outcome's kind is the outcome itself (OK/ERROR/RETRY); the other kinds
    // name the branch. Lineage, touched buckets, robots buckets and every
    // wave total derive from the collected tallies (see WaveTally).
    // Small waves ride the enqueued urls back on the same collect (bounded
    // by linksCount — ≤ ~5 MB) so the RECENT-sketch maintenance becomes
    // driver-side puts instead of a separate distributed sketch-build job;
    // big waves keep the distributed build (urls must not flood the driver)
    val collectUrls = linksCount <= 50000
    val noUrl = lit(null).cast("string")
    def kind(df: DataFrame, k: Column, url: Column = noUrl): DataFrame =
      df.select($"bucket", k.as("kind"), url.as("url"))
    val branches = Seq(
      kind(outcomes, $"outcome"),
      kind(newRows, lit("NEW"), if (collectUrls) $"url" else noUrl),
      kind(robotsNew, lit("ROBOTS")),
      kind(robotsUnknown, lit("DEFER_ROBOTS")),
      kind(drainable, lit("DRAINABLE"))) ++
      danglingDf.map(d => kind(d.withColumn("bucket", lit(-1)), lit("DANGLING")))
    def tally(k: String) = count_if($"kind" === k)
    val tallies = branches.reduce(_ unionByName _)
      .groupBy($"bucket")
      .agg(count_if(!$"kind".isin("NEW", "ROBOTS", "DEFER_ROBOTS", "DRAINABLE",
          "DANGLING")).as("drained"),
        tally("OK").as("ok"), tally("ERROR").as("errors"), tally("RETRY").as("retried"),
        tally("NEW").as("enqueued"), tally("ROBOTS").as("robots"),
        tally("DEFER_ROBOTS").as("deferredRobots"), tally("DANGLING").as("dangling"),
        tally("DRAINABLE").as("drainable"), collect_list($"url").as("urls"))
      .as[BucketTally].collect().sortBy(_.bucket).toSeq
    val wave = WaveTally(cycle, linksCount, tallies)
    seenCountEstimate += wave.enqueued

    // URL-seen maintenance: fold this cycle's enqueued urls into RECENT.
    // The merge sketch is sized to the recent window (recentItems), never to
    // the full frontier — per-cycle cost is O(enqueued) puts plus a
    // recent-sized allocation; the multi-GB main sketch is untouched until
    // its amortized doubling rebuild.
    if (wave.enqueued > 0) {
      if (collectUrls) tallies.foreach(_.urls.foreach(recent.put))
      else recent.mergeIn(SeenSketch.build(newRows, "url", recentItems, 0.01))
      recentCount += wave.enqueued
      rebroadcastRecent()
    }

    // ---- 9. NEXT FRONTIER: status updates restricted to touched buckets -
    // The status-update join runs over ONLY the buckets drained or enqueued
    // this wave (the tally's touched set), so per-wave cost scales with the
    // batch, not with a 10^10-row frontier; untouched buckets pass through
    // as an untouched cached subtree and, at commit time, carry forward in
    // the manifest without being read or rewritten.
    val updates = outcomes.select($"url",
      when($"outcome" === "OK", Status.Completed)
        .when($"outcome" === "ERROR", Status.WithError)
        .otherwise(Status.New).as("u_status"),
      when($"outcome" === "RETRY", $"retries" + 1).otherwise($"retries").as("u_retries"),
      $"reason".as("u_reason"),
      lit(cycle).as("u_started"))
    val frontierNext = frontier
      .filter(if (wave.touched.isEmpty) lit(false) else $"bucket".isin(wave.touched.toSeq: _*))
      .join(updates.hint("shuffle_hash"), Seq("url"), "left")
      .select($"url", $"host", $"bucket", $"depth", $"prio",
        coalesce($"u_status", $"status").as("status"),
        coalesce($"u_started", $"started").as("started"),
        coalesce($"u_retries", $"retries").as("retries"),
        coalesce($"u_reason", $"reason").as("reason"),
        $"headers")
      .unionByName(newRows.select($"url", $"host", $"bucket", $"depth",
        $"prio", $"status", $"started", $"retries", $"reason", $"headers"))
    expectedBatch = wave.pending
    WaveOut(
      frontierNext = frontierNext,
      robotsOut = if (wave.robotsFetched == 0) robots else robotsOut,
      outRows = if (wave.drained > 0) Some(outRows) else None,
      tally = wave)
  }

  /**
   * Hot-host promotion (north_rule "salted host-hash"): scan suspect
   * buckets — those whose cumulative row estimate crossed
   * config.hotHostThreshold (re-scanned only on estimate doubling) — for
   * hosts above the threshold, add them to the persisted hot set, and
   * return the commit-ready frontier with placement RECOMPUTED under the
   * new set plus the bucket dirs the promotion rewrites (the host's plain
   * bucket, which loses its rows, and its k salted buckets, which gain
   * them). Runs entirely inside the group commit, so placement changes are
   * atomic with the snapshot: a crash either resumes pre-promotion (plain
   * placement + old hot set) or post (salted placement + persisted set) —
   * never a mix. Costs zero extra jobs until a bucket is actually suspect.
   */
  private def promoteHotHosts(frontier: DataFrame)
      : (DataFrame, Set[Int], Option[DataFrame]) = {
    if (config.hotHostSalts <= 1) return (frontier, Set.empty, None)
    val th = config.hotHostThreshold
    val suspects = bucketRowEst.collect {
      case (b, est) if est > th &&
        est >= 2 * lastHotCheck.getOrElse(b, (th + 1) / 2) => b
    }.toSet
    if (suspects.isEmpty) return (frontier, Set.empty, None)
    suspects.foreach(b => lastHotCheck(b) = bucketRowEst(b))
    val found = frontier.filter($"bucket".isin(suspects.toSeq: _*))
      .groupBy($"host").agg(count(lit(1)).as("c"))
      .filter($"c" > th).select("host").as[String].collect().toSet
    val newlyHot = found -- hotHosts
    if (newlyHot.isEmpty) return (frontier, Set.empty, None)
    hotHosts ++= newlyHot
    val rebucket = newlyHot.flatMap(h =>
      saltedBucketsOf(h, config.numBuckets, config.hotHostSalts) +
        plainBucketOf(h, config.numBuckets))
    (frontier.withColumn("bucket", bucketCol($"host", $"url")),
      rebucket, Some(hotHosts.toSeq.sorted.toDF("host")))
  }

  /**
   * The WAVES half of a group: run up to `maxWaves` waves from `start` and
   * build, without running it, the commit of their snapshot. Everything the
   * commit writes is fixed here, on the calling thread (its metrics read
   * `hotHosts` now), so the commit may run while later waves mutate the
   * engine's driver-side state. Resume granularity is the group: a crash
   * replays at most `maxWaves` deterministic waves, so the final state is
   * unchanged.
   *
   * @param lastCycle the last cycle the caller may run: a group that ends
   *   before it with work left is followed by the next group, which drains
   *   `next` while this commit writes it. The changed frontier and robots
   *   are then carried as eager leaves ([[stateLeaf]]); an untouched
   *   frontier carries over as it is.
   */
  private def runWaves(start: GroupStart, startCycle: Long, maxWaves: Int,
      lastCycle: Long): GroupWaves = {
    var frontier = start.frontier
    var robots = start.robots
    // full next frontier: untouched buckets pass through, touched buckets
    // replaced — what the next wave drains and what the commit COW-writes
    // (the cow write filters to the group's touched buckets itself)
    def fullNext(w: WaveOut): DataFrame = {
      val untouched =
        if (w.tally.touched.isEmpty) frontier
        else frontier.filter(!$"bucket".isin(w.tally.touched.toSeq: _*))
      untouched.unionByName(w.frontierNext)
    }
    def finished(w: WaveOut) = w.tally.drained + w.tally.robotsFetched == 0 || w.tally.pending == 0
    var outs = List.empty[WaveOut]
    var stop = false
    while (!stop) {
      val w = runWave(frontier, robots, startCycle + outs.size)
      outs = outs :+ w
      if (finished(w) || outs.size >= maxWaves) stop = true
      else {
        // chain into the next wave through a LOCAL CHECKPOINT, not a bare
        // plan: the full-next plan references the previous frontier three
        // times (untouched filter, update join, dedup), so K chained waves
        // would grow the logical tree ~3^K — checkpointing truncates each
        // wave's state to a leaf (one in-memory materialization, which the
        // next wave's drain would have paid anyway). Blocks are reclaimed
        // by the context cleaner once nothing references the leaf.
        frontier = stateLeaf(fullNext(w), frontier, w.tally.enqueued, carried = false)
        robots =
          if (w.robotsOut ne robots)
            stateLeaf(w.robotsOut, robots, w.tally.robotsFetched, carried = false)
          else robots
      }
    }
    val last = outs.last
    val waves = outs.size
    val endCycle = startCycle + waves - 1

    // per-bucket cumulative row estimates feed hot-host detection (the
    // lineage rows already carry per-bucket enqueue counts — no extra job)
    val lineageRows = outs.flatMap(_.tally.lineageRows)
    lineageRows.foreach(lr =>
      bucketRowEst(lr.bucket) = bucketRowEst.getOrElse(lr.bucket, 0L) + lr.enqueued)
    val (promotedFrontier, promoted, hotTable) = promoteHotHosts(fullNext(last))
    val touchedAll = outs.iterator.flatMap(_.tally.touched).toSet ++ promoted
    val followed = !finished(last) && endCycle < lastCycle
    val frontierCommit =
      if (touchedAll.isEmpty) start.frontier
      else if (followed) stateLeaf(promotedFrontier, start.frontier,
        outs.map(_.tally.enqueued).sum, carried = true)
      else promotedFrontier
    val robotsCommit =
      if (followed && (last.robotsOut ne start.robots)) stateLeaf(last.robotsOut, start.robots,
        outs.map(_.tally.robotsFetched).sum, carried = true)
      else last.robotsOut
    // robots is COW-committed by hostBucket exactly like the frontier: a
    // robots-fetching group rewrites only the buckets that gained hosts,
    // not the whole table
    val robotsChangedAll = outs.iterator.flatMap(_.tally.robotsChanged).toSet
    // waves with drained == 0 have structurally empty output; skipping them
    // avoids a full images-table scan against an empty batch
    val outAppend = outs.flatMap(_.outRows).reduceOption(_ unionByName _)
    val lineage = spark.createDataset(lineageRows).toDF()
    val fullTables = hotTable.map(t => Map("hothosts" -> t)).getOrElse(Map.empty[String, DataFrame])
    val cowTables = Map("frontier" -> ((frontierCommit, "bucket", touchedAll))) ++
      (if (robotsChangedAll.nonEmpty)
        Map("robots" -> ((robotsCommit, "bucket", robotsChangedAll)))
      else Map.empty)
    val appends = outAppend.map(o => Map("output" -> o))
      .getOrElse(Map.empty[String, DataFrame]) + ("lineage" -> lineage)
    val metrics = Map(
      "cycle" -> endCycle.toDouble,
      "waves" -> waves.toDouble,
      "num_buckets" -> config.numBuckets.toDouble,
      "hot_hosts" -> hotHosts.size.toDouble,
      "hot_host_salts" -> config.hotHostSalts.toDouble,
      "drained" -> outs.map(_.tally.drained).sum.toDouble,
      "enqueued" -> outs.map(_.tally.enqueued).sum.toDouble,
      "deduped" -> outs.map(_.tally.deduped).sum.toDouble,
      "robots_fetched" -> outs.map(_.tally.robotsFetched).sum.toDouble,
      "deferred_robots" -> last.tally.deferredRobots.toDouble,
      "dangling_images" -> outs.map(_.tally.dangling).sum.toDouble)
    GroupWaves(start, waves, finished(last), GroupStart(frontierCommit, robotsCommit),
      () => snap.commit(endCycle, fullTables, cowTables, appends, metrics))
  }

  /**
   * `state` — a next frontier or robots table: the `base` state plus
   * `added` rows — as the checkpoint leaf the next wave or group reads.
   *
   * The leaf is sized as Spark sizes a union of `base` and `added` rows of
   * its schema (a local relation's estimate). Left alone, a checkpoint keeps
   * its origin plan's estimate, in which a join weighs the product of its
   * inputs: every chained leaf would square the frontier's size (past ~16
   * waves planning stalls in big-integer products), and no join would ever
   * broadcast the frontier's urls.
   *
   * A leaf `carried` across its group's commit is computed eagerly, so one
   * job computes it and both readers — the commit's write and the next
   * group's drain — read its blocks (two first readers of a lazy leaf would
   * each compute it). It is also coalesced to one partition per core: the
   * union of the previous state's partitions and the wave's would otherwise
   * add up along the crawl, which a group that re-read LATEST never saw.
   */
  private def stateLeaf(state: DataFrame, base: DataFrame, added: Long,
      carried: Boolean): DataFrame = {
    val leaf = (if (carried) state.coalesce(spark.sparkContext.defaultParallelism) else state)
      .localCheckpoint(eager = carried)
    val session = spark.asInstanceOf[classic.SparkSession]
    val r = leaf.queryExecution.logical.asInstanceOf[LogicalRDD]
    val size = base.queryExecution.optimizedPlan.stats.sizeInBytes +
      EstimationUtils.getOutputSize(r.output, added)
    new classic.Dataset(session,
      r.copy()(session, Some(Statistics(sizeInBytes = size)), Some(r.constraints)), leaf.encoder)
  }

  /** Drive cycles until Finished (O9/O10); returns final snapshot. */
  def run(seeds: Seq[String], maxCycles: Int = 1000): Snapshot = {
    init(seeds)
    drive(maxCycles)
  }

  /** Drive at most `maxCycles` micro-cycles until Finished (see
    * [[advance]]); returns the final snapshot. */
  def drive(maxCycles: Int = 1000): Snapshot = advance(maxCycles)._1

  /**
   * The crawl loop, and the only one: [[drive]] and each micro-batch of
   * [[graft.streaming.CrawlStream]] run it. It runs at most `maxCycles`
   * micro-cycles, starting after the latest committed cycle, until Finished
   * (O9: the last wave made no progress or left nothing pending) —
   * committing every `config.wavesPerCommit` cycles (O10 batch loop) — and
   * returns the final snapshot and whether the crawl reached Finished.
   *
   * The loop is a two-stage pipeline, like the reference's asynchronous
   * Manager loop (Manager.scala:82-147): when group k's waves finish, its
   * COMMIT starts on its own daemon thread and group k+1's waves start
   * at once from group k's in-memory frontier and robots — the promoted
   * frontier the commit writes, with the updated hot-host set.
   * Commits stay strictly ordered: commit k+1 starts only after commit k's
   * manifest and LATEST have landed. A failed commit stops the loop and is
   * rethrown here; the waves that ran after it are dropped, and resume
   * replays them from LATEST. The in-memory state lives for one call: the
   * first group loads LATEST, so a commit made between calls (addSeeds) is
   * always seen. Returns, or throws, only once no commit is running.
   */
  def advance(maxCycles: Int): (Snapshot, Boolean) = {
    var last = snap.latest.getOrElse(sys.error("engine not initialized"))
    requireBucketCompat(last)
    val end = last.cycle + maxCycles
    var cycle = last.cycle + 1
    // the first group's frontier is persisted: its waves read it several times
    var start = GroupStart(loadFrontier(last).persist(StorageLevel.MEMORY_AND_DISK),
      loadRobots(last))
    var inFlight: Option[(Committing, GroupWaves)] = None
    // wait for the running commit; its group's persisted input frontier is
    // free once it has landed, unless the next group carried it over (the
    // leaves the commit read are reclaimed by the context cleaner once
    // nothing references them)
    def land(): Unit = inFlight.foreach { case (c, g) =>
      try last = c.land()
      finally {
        inFlight = None
        if (g.next.frontier ne g.start.frontier) g.start.frontier.unpersist()
      }
    }
    var done = false
    try {
      while (!done && cycle <= end) {
        val maxWaves =
          math.max(1, math.min(config.wavesPerCommit.toLong, end - cycle + 1).toInt)
        val g = runWaves(start, cycle, maxWaves, end)
        land()
        inFlight = Some((new Committing(g.commit), g))
        start = g.next
        done = g.finished
        cycle += g.waves
      }
      land()
      hotLoadedVersion = last.version // every promotion so far is committed
      (last, done)
    } catch { case e: Throwable =>
      try land() catch { case t: Throwable => e.addSuppressed(t) } // never leave a commit writing
      hotLoadedVersion = -1L // hotHosts may hold uncommitted promotions
      throw e
    } finally start.frontier.unpersist()
  }

  /** Reopen state for a resumed crawl: corpus + bloom sizing estimate. */
  def prepareResume(): Unit = {
    prepareCorpus()
    require(snap.latest.nonEmpty, "nothing to resume")
    requireBucketCompat(snap.latest.get)
    // rebuild the seen estimate (bloom sizing), the next-batch estimate
    // (join-strategy choice), and the per-bucket row estimates (hot-host
    // detection cadence) in one pass over the frontier
    val perBucket = loadFrontier(snap.latest.get)
      .groupBy($"bucket")
      .agg(count(lit(1)), count(when($"status" === Status.New, 1))).collect()
    perBucket.foreach { r =>
      bucketRowEst(r.getInt(0)) = r.getLong(1)
      // suppress an immediate re-scan of buckets whose hosts are already
      // classified (promoted or checked below threshold) at this size
      lastHotCheck(r.getInt(0)) = r.getLong(1)
    }
    seenCountEstimate = math.max(perBucket.map(_.getLong(1)).sum, 1L)
    expectedBatch = perBucket.map(_.getLong(2)).sum
  }

  /** Resume from the latest committed snapshot (exactness: SURVEY §7.2). */
  def resume(maxCycles: Int = 1000): Snapshot = {
    prepareResume()
    drive(maxCycles)
  }

  // ---- result views ------------------------------------------------------
  def frontierNow: DataFrame = loadFrontier(snap.latest.get)
  def outputNow: DataFrame =
    snap.readAppended(snap.latest.get, "output")
      .getOrElse(spark.emptyDataset[OutputRow].toDF())
  def lineageNow: DataFrame =
    snap.readAppended(snap.latest.get, "lineage")
      .getOrElse(spark.emptyDataset[LineageRow].toDF())
  /** visited = successfully completed page fetches (NodeTest.scala:77,89). */
  def visited: DataFrame = frontierNow.filter($"status" === Status.Completed)
}

object CrawlEngine {
  /** One bucket's share of a wave: its page outcomes (drained, of which ok,
    * errors and retried), the new frontier rows it gained, its robots.txt
    * responses, its robots-deferred and drainable frontier rows, dangling
    * image refs (bucket -1) and, on small waves, the enqueued urls.
    * Package-private, not private: Spark's generated deserializer must be
    * able to call its constructor. */
  private[driver] final case class BucketTally(bucket: Int, drained: Long, ok: Long,
      errors: Long, retried: Long, enqueued: Long, robots: Long,
      deferredRobots: Long, dangling: Long, drainable: Long, urls: Seq[String])

  /** A wave's collected tallies and everything derived from them. */
  private final case class WaveTally(cycle: Long, links: Long, buckets: Seq[BucketTally]) {
    private def total(f: BucketTally => Long): Long = buckets.iterator.map(f).sum
    val drained: Long = total(_.drained)
    val enqueued: Long = total(_.enqueued)
    val deduped: Long = links - enqueued
    val robotsFetched: Long = total(_.robots)
    val deferredRobots: Long = total(_.deferredRobots)
    // polite = allowed + denied + robots-deferred, and the outcomes hold
    // exactly the allowed and denied pages (robots.txt rows excluded)
    val deferredPolite: Long = total(_.drainable) - drained - deferredRobots
    val dangling: Long = total(_.dangling)
    // O9: work remains iff something was enqueued, deferred (robots or
    // politeness) or re-enqueued for retry — saves the final empty
    // confirmation cycle (and its full plan/codegen cost)
    val pending: Long = enqueued + deferredRobots + deferredPolite + total(_.retried)
    private val active = buckets.filter(t => t.drained > 0 || t.enqueued > 0)
    /** buckets drained or enqueued this wave: the frontier dirs it rewrites */
    val touched: Set[Int] = active.map(_.bucket).toSet
    /** buckets whose hosts gained robots rules: the robots dirs it rewrites */
    val robotsChanged: Set[Int] = buckets.filter(_.robots > 0).map(_.bucket).toSet
    def lineageRows: Seq[LineageRow] = active.map(t => LineageRow(cycle, t.bucket,
      t.drained, t.ok, t.ok, t.errors, t.retried, t.enqueued, deduped,
      deferredRobots, deferredPolite, 0L))
  }

  /** What a group's first wave drains: the frontier and robots state. */
  private final case class GroupStart(frontier: DataFrame, robots: DataFrame)

  /** A group whose waves have run: whether its last wave found the crawl
    * Finished, the state the next group starts from, and its commit, built
    * but not yet run. */
  private final case class GroupWaves(start: GroupStart, waves: Int, finished: Boolean,
      next: GroupStart, commit: () => Snapshot)

  /** A group's commit, started at once on its own daemon thread. */
  private final class Committing(commit: () => Snapshot) extends Thread("graft-commit") {
    @volatile private var result: Either[Throwable, Snapshot] = _
    setDaemon(true)
    start()
    override def run(): Unit =
      result = try Right(commit()) catch { case e: Throwable => Left(e) }

    /** Wait for the commit to finish, even through an interrupt (which is
      * then rethrown), and return its snapshot or throw its error. */
    def land(): Snapshot = {
      var interrupted: Option[InterruptedException] = None
      while (isAlive) try join() catch { case e: InterruptedException => interrupted = Some(e) }
      interrupted.foreach(e => throw e)
      result.fold(e => throw e, identity)
    }
  }

  /** Everything one wave hands the group commit (see runWaves). */
  private final case class WaveOut(
      frontierNext: DataFrame, // replacement rows for the touched buckets
      robotsOut: DataFrame, // full next robots (same reference when nothing was fetched)
      outRows: Option[DataFrame], // this wave's output append (None when drained == 0)
      tally: WaveTally)
}
