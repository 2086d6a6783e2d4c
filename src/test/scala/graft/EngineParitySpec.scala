package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import java.nio.file.Files
import graft.model._
import graft.corpus.Fixtures
import graft.driver.{CrawlEngine, CrawlMain}
import graft.oracle.RefOracle

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Redirect edges for `prepareCorpus`: every chain shape its resolution
  * distinguishes, on one host. Each page's body names its path, so a
  * resolved row shows whose content it carries. */
object RedirectEdges {
  private def p(path: String, status: Int = 200, to: String = null,
      imageId: String = null): PageRow =
    Fixtures.page(s"http://re.test/$path", s"body:$path", status = status,
      imageId = imageId, redirectTo = Option(to).map(t => s"http://re.test/$t").orNull)
  def pages: Seq[PageRow] =
    (0 until 5).map(i => p(s"a$i", 301, s"a${i + 1}")) ++ Seq(p("a5")) ++ // resolves in 5
      (0 until 7).map(i => p(s"b$i", 302, s"b${i + 1}")) ++ Seq(p("b7")) ++ // 7 hops
      Seq(p("c0", 307, "missing"), // hop to a url with no page
        p("d0", 308, "d0"), // self-redirect
        p("e0", 303, "e1"), p("e1", 404), // redirect onto a 404
        p("f0", 301, "f1"), p("f1", imageId = "img-f1"), // onto an image page
        p("g0", 301)) // a 301 without a target passes as it is
}

/**
 * End-to-end crawl parity: the Spark engine must reproduce the
 * reference-semantics oracle on every fixture (visited set, per-URL depth,
 * final statuses incl. error reason classes, depth-layer ordering, output
 * payload invariants). This is the Spark-side replay of the reference's
 * NodeTest e2e plus each stage's behavioral suite (SURVEY §5).
 */
class EngineParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def runBoth(pages: Seq[PageRow], seeds: Seq[String],
      cfg: CrawlConfig = CrawlConfig()): (CrawlEngine, RefOracle.Outcome) = {
    val dir = Files.createTempDirectory("graft-e2e").toString
    val images = pages.filter(_.image_id != null).map { p =>
      val id = p.image_id
      val k = math.abs(graft.image.ImageCodec.seedOf(id))
      val w = 16 + (k % 9).toInt
      val h = 16 + ((k >> 4) % 9).toInt
      val fmt = if (k % 2 == 0) "png" else "jpg"
      ImageRow(id, graft.image.ImageCodec.encode(id, w, h, fmt), w, h, fmt,
        graft.image.ImageCodec.caption(id), graft.image.ImageCodec.phash(id, w, h))
    }
    val engine = new CrawlEngine(spark, cfg,
      spark.createDataset(pages).toDF(), spark.createDataset(images).toDF(), dir)
    engine.run(seeds)
    (engine, RefOracle.crawl(pages, seeds, cfg))
  }

  /** CrawlMain's per-cycle summary must report each cycle's `deduped` as
    * that cycle's snapshot metric (at wavesPerCommit = 1 every snapshot
    * commits exactly one cycle). Returns the summary's (cycle, deduped). */
  def assertCycleSummary(engine: CrawlEngine): Seq[(Long, Long)] = {
    assert(engine.config.wavesPerCommit === 1)
    val snapDeduped = (1L to engine.snap.latestVersion.get).map(engine.snap.readSnapshot)
      .map(s => s.cycle -> s.metrics("deduped").toLong).toMap
    val rows = CrawlMain.cycleSummary(engine.lineageNow)
      .select("cycle", "deduped").as[(Long, Long)].collect().toSeq
    assert(rows.nonEmpty, "lineage holds cycles")
    rows.foreach { case (c, d) => assert(d === snapDeduped(c), s"cycle $c deduped") }
    rows
  }

  def assertParity(engine: CrawlEngine, oracle: RefOracle.Outcome,
      checkLayers: Boolean = true): Unit = {
    val frontier = engine.frontierNow
      .select("url", "depth", "status", "reason", "started").collect()
    val gotStatuses = frontier.map(r =>
      r.getString(0) -> ((r.getString(2), Option(r.getString(3)).getOrElse("")))).toMap
    val gotDepths = frontier.map(r => r.getString(0) -> r.getInt(1)).toMap

    assert(gotStatuses.keySet === oracle.statuses.keySet, "URL-seen set")
    assert(gotDepths === oracle.depths, "per-URL depth")
    assert(gotStatuses === oracle.statuses, "final statuses + reasons")

    val gotVisited = frontier.filter(_.getString(2) == Status.Completed)
      .map(_.getString(0)).toSet
    assert(gotVisited === oracle.visited, "visited set")

    if (checkLayers) {
      // depth-layer ordering: completed URLs grouped by claim cycle must
      // equal the oracle's per-cycle layers (SURVEY §3.5 contract)
      val gotLayers = frontier.filter(_.getString(2) == Status.Completed)
        .groupBy(_.getLong(4)).toSeq.sortBy(_._1)
        .map(_._2.map(_.getString(0)).sorted.toSeq)
      assert(gotLayers === oracle.visitedByLayer, "depth-layer ordering")
    }

    // output payload invariants (input_hint): PSNR ≥ 40 dB + caption equality
    val out = engine.outputNow
      .select("image_id", "src_url", "depth", "psnr", "caption_ok").collect()
    val gotOut = out.map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(gotOut === oracle.outputImages.toSet, "output image rows")
    assert(out.forall(_.getDouble(3) >= 40.0), "PSNR >= 40dB per output row")
    assert(out.forall(_.getBoolean(4)), "caption equality per output row")
  }

  /** The loop `drive` pipelines, run synchronously: one `advance` call per
    * group, each starting from LATEST and returning once its commit has
    * landed. */
  def driveSync(e: CrawlEngine): Unit =
    while (!e.advance(e.config.wavesPerCommit)._2) {}

  /** Every snapshot version as what it records — cycle, metrics, and the
    * data dir of each bucket and append (relative to the store root) — and
    * the rows of every data dir those name. A version reads exactly the
    * union of its dirs, so equal manifests over equal dirs are equal
    * lineage, frontier (per bucket), robots and output rows. */
  def versions(e: CrawlEngine): (Seq[String], Map[String, Seq[String]]) = {
    import org.apache.spark.sql.functions.{col, regexp_extract, struct, to_json}
    val root = s"${e.workDir}/state/"
    def rel(dir: String) = dir.stripPrefix(root)
    val snaps = (0L to e.snap.latestVersion.get).map(e.snap.readSnapshot)
    val manifests = snaps.map { s =>
      val tables = s.tables.toSeq.sortBy(_._1).map { case (t, bs) =>
        t + bs.toSeq.sorted.map { case (b, d) => s"$b:${rel(d)}" }.mkString("[", ",", "]") }
      val appended = s.appended.toSeq.sortBy(_._1).map { case (t, ds) =>
        t + ds.map(rel(_)).mkString("[", ",", "]") }
      (Seq(s"v${s.version} cycle=${s.cycle}") ++ s.metrics.toSeq.sorted.map { case (k, x) => s"$k=$x" } ++
        tables ++ appended).mkString(" ")
    }
    val dirs = snaps.flatMap(s => s.tables.values.flatMap(_.values) ++ s.appended.values.flatten).distinct
    val rows = dirs.groupBy(d => rel(d).split('/')(1)).toSeq.flatMap { case (_, ds) =>
      val df = spark.read.parquet(ds: _*)
      df.select(regexp_extract(col("_metadata.file_path"), "/state/(data/.*)/[^/]+$", 1),
        to_json(struct(df.columns.toIndexedSeq.map(col): _*))).as[(String, String)].collect().toSeq
    }
    (manifests, rows.groupMap(_._1)(_._2).map { case (d, rs) => d -> rs.sorted })
  }

  /** Crawl `pages` twice under `cfg` — `drive` (run) and the synchronous
    * group loop — and require the same snapshot at every version. */
  def assertPipelineParity(pages: Seq[PageRow], seeds: Seq[String],
      cfg: CrawlConfig): Seq[String] = {
    def engine() = new CrawlEngine(spark, cfg, spark.createDataset(pages).toDF(),
      spark.createDataset(Fixtures.imagesFor(pages)).toDF(),
      Files.createTempDirectory("graft-pipe").toString)
    val piped = engine()
    piped.run(seeds)
    val sync = engine()
    sync.init(seeds)
    driveSync(sync)
    val ((got, gotRows), (want, wantRows)) = (versions(piped), versions(sync))
    assert(got.size === want.size, "snapshot versions")
    got.zip(want).foreach { case (g, w) => assert(g === w) }
    assert(gotRows.keySet === wantRows.keySet, "data dirs")
    gotRows.foreach { case (d, rs) => assert(rs === wantRows(d), d) }
    got
  }

  test("site3 — NodeTest.scala:74-92: visited {/, /resource, /stuff}, depths {0,1,1}") {
    val (e, o) = runBoth(Fixtures.site3, Fixtures.site3Seeds)
    assertParity(e, o)
    assert(o.visited === Set("http://host0.test/", "http://host0.test/resource",
      "http://host0.test/stuff"))
    assert(o.depths("http://host0.test/resource") === 1)
    assert(o.outputImages.size === 3)
  }

  test("extractor — LinkExtractorTest: href forms, malformed/empty dropped") {
    val (e, o) = runBoth(Fixtures.extractor, Fixtures.extractorSeeds)
    assertParity(e, o)
    assert(o.visited.contains("http://abs.test/x"))
    assert(o.visited.contains("http://ex.test/relative"))
    assert(o.visited.contains("http://ex.test/rootrel"))
    assert(o.visited.contains("http://ex.test/protorel"))
    assert(!o.statuses.keySet.exists(_.contains("bad")))
  }

  test("robots-basic — RobotsFilterTest:47-96: /path denied, /test crawled") {
    val (e, o) = runBoth(Fixtures.robotsBasic, Fixtures.robotsBasicSeeds)
    assertParity(e, o)
    assert(o.visited.contains("http://rb.test/test"))
    val (st, reason) = o.statuses("http://rb.test/path")
    assert(st === Status.WithError && reason.startsWith("RobotsPathFiltered"))
  }

  test("robots-missing — 404/parse-error/absent robots ⇒ all allowed") {
    val (e, o) = runBoth(Fixtures.robotsMissing, Fixtures.robotsMissingSeeds)
    assertParity(e, o)
    assert(o.visited.contains("http://ra.test/a"))
    assert(o.visited.contains("http://rc.test/b"))
    assert(o.visited.contains("http://rd.test/c"))
  }

  test("http-filter — FilterHttpErrorTest: 403/500 ⇒ WithError(FilteredHttpCode)") {
    val (e, o) = runBoth(Fixtures.httpFilter, Fixtures.httpFilterSeeds)
    assertParity(e, o)
    assert(o.statuses("http://hf.test/forbidden") ===
      ((Status.WithError, "FilteredHttpCode(403)")))
    assert(o.statuses("http://hf.test/broken") ===
      ((Status.WithError, "FilteredHttpCode(500)")))
    assert(o.visited.contains("http://hf.test/fine"))
  }

  test("http-retry — RetryHttpErrorTest: 404 retried once then MaxRetries") {
    val (e, o) = runBoth(Fixtures.httpRetry, Fixtures.httpRetrySeeds)
    assertParity(e, o)
    assert(o.statuses("http://hr.test/missing") ===
      ((Status.WithError, Reasons.maxRetriesReached)))
    val retries = e.frontierNow.filter($"url" === "http://hr.test/missing")
      .select("retries").as[Int].head()
    assert(retries === 1, "exactly one retry recorded")
  }

  test("depth — MaxDepthFilterTest: links dropped at depth >= 2 (inclusive)") {
    val (e, o) = runBoth(Fixtures.depthChain, Fixtures.depthChainSeeds)
    assertParity(e, o)
    assert(o.visited === Set("http://dc.test/", "http://dc.test/b", "http://dc.test/c"))
    assert(!o.statuses.contains("http://dc.test/d"), "d never enqueued")
  }

  test("ajax — AjaxLinksTransformTest: #! rewritten to _escaped_fragment_ and followed") {
    val (e, o) = runBoth(Fixtures.ajax, Fixtures.ajaxSeeds)
    assertParity(e, o)
    assert(o.visited.contains("http://ax.test/?_escaped_fragment_=key%3Dvalue"))
  }

  test("dedup — MasterTest diamond: child crawled once, first-seen depth kept") {
    val (e, o) = runBoth(Fixtures.dedupDiamond, Fixtures.dedupDiamondSeeds)
    assertParity(e, o)
    assert(o.depths("http://dd.test/child") === 2)
    assert(o.visited.size === 4)
  }

  test("redirects — chains ≤5 followed, >5 error") {
    val (e, o) = runBoth(Fixtures.redirects, Fixtures.redirectsSeeds)
    assertParity(e, o)
    assert(o.visited.contains("http://rr.test/hop0"), "5-hop chain resolves")
    assert(o.statuses("http://rr.test/long0") ===
      ((Status.WithError, Reasons.maxRedirects)))
  }

  test("hot-host — politeness budget respected per cycle; skew metrics emitted") {
    val cfg = CrawlConfig(maxDepth = 10, hostBudget = 5)
    val (e, o) = runBoth(Fixtures.hotHost, Fixtures.hotHostSeeds, cfg)
    assertParity(e, o)
    // politeness: no cycle drains more than budget rows for the hot host
    val perCycle = e.frontierNow
      .filter($"host" === "hot.test" && $"status" === Status.Completed)
      .groupBy($"started").count().as[(Long, Long)].collect()
    assert(perCycle.forall(_._2 <= cfg.hostBudget),
      s"politeness violated: ${perCycle.mkString(",")}")
    // lineage records deferred_polite > 0 at least once (60 pages / 5 budget)
    val lin = e.lineageNow.groupBy().sum("deferred_polite").as[Long].head()
    assert(lin > 0, "politeness deferral recorded in lineage")
    assertCycleSummary(e)
  }

  test("hot-host salting: promotion spreads the host across k buckets, crawl identical, resume exact") {
    import graft.functions.CrawlFunctions.{saltedBucketsOf, plainBucketOf}
    // hot.test: 40-page binary tree where every page ALSO links back to /p1
    // — so dedup evidence keeps arriving AFTER the mid-crawl promotion and
    // the salted-placement prune is exercised, not just the write path
    val hot = (0 until 40).map { i =>
      val kids = Seq(2 * i + 1, 2 * i + 2).filter(_ < 40).map(k => s"/p$k") :+ "/p1"
      Fixtures.page(if (i == 0) "http://hot.test/" else s"http://hot.test/p$i",
        "<html><body>" + kids.map(h => s"""<a href="$h">x</a>""").mkString +
          "</body></html>")
    }
    val cold = (1 to 3).flatMap { hn =>
      Seq(Fixtures.page(s"http://cold$hn.test/",
        """<html><body><a href="/only">x</a></body></html>"""),
        Fixtures.page(s"http://cold$hn.test/only", "<html><body></body></html>"))
    }
    val pages = hot ++ cold
    val seeds = Fixtures.hotHostSeeds
    val salted = CrawlConfig(maxDepth = 10, hostBudget = 5,
      hotHostSalts = 4, hotHostThreshold = 12)
    val (se, oracle) = runBoth(pages, seeds, salted)
    assertParity(se, oracle)
    // the /p1 back-links dedup in cycles whose lineage spans several buckets
    assert(assertCycleSummary(se).exists(_._2 > 0), "some cycle deduped a link")
    // promotion happened and persisted in the snapshot's hot-host table
    assert(se.snap.readTable(se.snap.latest.get, "hothosts")
      .map(_.select("host").as[String].collect().toSet) === Some(Set("hot.test")),
      "hot.test must be promoted and persisted")
    // placement: hot rows spread across (a subset of) the k salted buckets,
    // cold hosts stay plain
    val hotBuckets = se.frontierNow.filter($"host" === "hot.test")
      .select("bucket").distinct().as[Int].collect().toSet
    assert(hotBuckets.subsetOf(saltedBucketsOf("hot.test", salted.numBuckets,
      salted.hotHostSalts)), s"salted placement dirs: $hotBuckets")
    assert(hotBuckets.size > 1, "hot host must span more than one bucket")
    val coldBuckets = se.frontierNow.filter($"host" === "cold1.test")
      .select("bucket").distinct().as[Int].collect().toSet
    assert(coldBuckets === Set(plainBucketOf("cold1.test", salted.numBuckets)))
    // balanced COW partitions: no salted bucket holds more than half the
    // hot rows (40 rows over >=2 url-hash buckets)
    val counts = se.frontierNow.filter($"host" === "hot.test")
      .groupBy("bucket").count().as[(Int, Long)].collect().map(_._2)
    assert(counts.max <= 25, s"skewed salted placement: ${counts.mkString(",")}")
    // identical crawl vs unsalted placement (bucket column aside)
    val (pe, _) = runBoth(pages, seeds, CrawlConfig(maxDepth = 10, hostBudget = 5))
    def dump(e: CrawlEngine) =
      e.frontierNow.drop("bucket").toJSON.collect().sorted.toSeq
    assert(dump(se) === dump(pe), "salting must not change crawl semantics")
    // resume over salted state is exact (placement reproducible from the
    // persisted hot set): a fresh engine resumes to the identical frontier
    val resumed = new CrawlEngine(spark, salted,
      spark.createDataset(pages).toDF(),
      spark.createDataset(Fixtures.imagesFor(pages)).toDF(), se.workDir)
    resumed.resume()
    assert(dump(resumed) === dump(se), "resume must reproduce the salted state")
    // resuming with a DIFFERENT salt count must fail loudly, like numBuckets
    val bad = new CrawlEngine(spark, salted.copy(hotHostSalts = 2),
      spark.createDataset(pages).toDF(),
      spark.createDataset(Fixtures.imagesFor(pages)).toDF(), se.workDir)
    val err = intercept[IllegalArgumentException](bad.resume())
    assert(err.getMessage.contains("hotHostSalts"))
  }

  test("mega-batch shuffle-join variant produces identical crawl") {
    // broadcastBatchLimit=0 forces every cycle down the shuffle-hash fetch
    // path (the plan used when a wave outgrows a driver-built broadcast);
    // results must be byte-identical to the default broadcast plan
    val cfg = CrawlConfig(maxDepth = 10, hostBudget = 5, broadcastBatchLimit = 0L)
    val (e, o) = runBoth(Fixtures.hotHost, Fixtures.hotHostSeeds, cfg)
    assertParity(e, o)
    // misses leg of the shuffle path: an off-corpus link must surface as a
    // connection error through the shuffle anti-join
    val dead = Seq(
      Fixtures.page("http://dl.test/", """<a href="/gone">x</a><a href="/ok">y</a>"""),
      Fixtures.page("http://dl.test/ok", "fine"))
    val (e2, o2) = runBoth(dead, Seq("http://dl.test/"), cfg)
    assertParity(e2, o2)
    assert(o2.statuses("http://dl.test/gone")._1 === Status.WithError)
  }

  test("wavesPerCommit=4: K waves per snapshot commit, identical crawl") {
    // the group loop chains waves through in-memory frontiers and commits
    // once per K — crawl semantics (statuses, depths, LAYERS: started still
    // advances one logical cycle per wave) must be bit-identical to K=1
    val cfg = CrawlConfig(maxDepth = 10, hostBudget = 5, wavesPerCommit = 4)
    val (e, o) = runBoth(Fixtures.hotHost, Fixtures.hotHostSeeds, cfg)
    assertParity(e, o)
    // robots fixture too: deferral + robots COW inside a group
    val (e2, o2) = runBoth(Fixtures.robotsBasic, Fixtures.robotsBasicSeeds,
      CrawlConfig(wavesPerCommit = 3))
    assertParity(e2, o2)
    // fewer snapshots than cycles proves the commits actually grouped
    assert(e.snap.latestVersion.get < e.snap.latest.get.cycle)
  }

  test("pipelined drive commits the same snapshots as the synchronous group loop") {
    val hotCfg = CrawlConfig(maxDepth = 10, hostBudget = 5)
    assertPipelineParity(Fixtures.hotHost, Fixtures.hotHostSeeds, hotCfg)
    assertPipelineParity(Fixtures.hotHost, Fixtures.hotHostSeeds, hotCfg.copy(wavesPerCommit = 3))
    assertPipelineParity(Fixtures.robotsBasic, Fixtures.robotsBasicSeeds, CrawlConfig())
    // hot.test is promoted mid-crawl: the group after the promotion drains
    // the re-bucketed frontier while the promoting commit writes it
    val promoting = assertPipelineParity(Fixtures.hotHost, Fixtures.hotHostSeeds,
      hotCfg.copy(hotHostSalts = 8, hotHostThreshold = 12))
    val hot = promoting.map(_.contains("hot_hosts=1.0"))
    assert(hot.contains(false) && hot.indexOf(true) > 0 && hot.indexOf(true) < hot.size - 1,
      s"promotion must land mid-crawl: $hot")
  }

  /** Delegates to `inner`; its commit of version `failAt` waits until a
    * Spark job starts after the commit began — the next group's waves are
    * the only other work then — and throws. */
  final class FailingCommitStore(inner: graft.plans.SnapshotStore, failAt: Long)
      extends graft.plans.SnapshotStore {
    import graft.plans.Snapshot
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val attempted = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var waveJobSeen = false
    def latestVersion = inner.latestVersion
    def readSnapshot(v: Long) = inner.readSnapshot(v)
    def readTable(s: Snapshot, t: String) = inner.readTable(s, t)
    def readTableBuckets(s: Snapshot, t: String, b: Set[Int]) = inner.readTableBuckets(s, t, b)
    def readAppended(s: Snapshot, t: String) = inner.readAppended(s, t)
    def commit(cycle: Long, fullTables: Map[String, DataFrame],
        cowTables: Map[String, (DataFrame, String, Set[Int])],
        appends: Map[String, DataFrame], metrics: Map[String, Double]): Snapshot = {
      val version = inner.latestVersion.map(_ + 1).getOrElse(0L)
      attempted.add(version)
      if (version != failAt) return inner.commit(cycle, fullTables, cowTables, appends, metrics)
      val since = System.currentTimeMillis()
      val started = new java.util.concurrent.CountDownLatch(1)
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.time > since) started.countDown()
      }
      spark.sparkContext.addSparkListener(listener)
      try waveJobSeen = started.await(2, java.util.concurrent.TimeUnit.MINUTES)
      finally spark.sparkContext.removeSparkListener(listener)
      throw new IllegalStateException(s"injected failure committing v$version")
    }
  }

  /** Crash commit v2 of a site3 crawl while group 3's waves run, on the
    * store `mk(dir)` makes; `written(dir, v)` tells whether any data of
    * version v was written. */
  def assertInFlightCommitFailure(mk: String => graft.plans.SnapshotStore,
      written: (String, Long) => Boolean): Unit = {
    import org.apache.spark.sql.DataFrame
    val pages = Fixtures.site3
    def engine(dir: String, store: graft.plans.SnapshotStore) = new CrawlEngine(spark,
      CrawlConfig(), spark.createDataset(pages).toDF(),
      spark.createDataset(Fixtures.imagesFor(pages)).toDF(), dir, store)
    val dir = Files.createTempDirectory("graft-inflight").toString
    val failing = new FailingCommitStore(mk(dir), failAt = 2)
    val e = engine(dir, failing)
    e.init(Fixtures.site3Seeds)
    val err = intercept[IllegalStateException](e.drive())
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "drive threw while a Spark job it started still ran")
    assert(err.getMessage === "injected failure committing v2")
    assert(failing.waveJobSeen, "group 3's waves never started a job during commit v2")
    assert(e.snap.latestVersion === Some(1L))
    assert(failing.attempted.toArray.toSeq === Seq(0L, 1L, 2L), "commit v3 must never start")
    assert(!written(dir, 2L) && !written(dir, 3L), "data of an uncommitted version")
    // resume in a fresh engine replays from v1 to the uninterrupted state
    val resumed = engine(dir, mk(dir))
    resumed.resume()
    val refDir = Files.createTempDirectory("graft-inflight-ref").toString
    val ref = engine(refDir, mk(refDir))
    ref.run(Fixtures.site3Seeds)
    def dump(df: DataFrame) = df.toJSON.collect().sorted.toSeq
    assert(dump(resumed.frontierNow) === dump(ref.frontierNow), "frontier")
    assert(dump(resumed.outputNow) === dump(ref.outputNow), "output")
    assert(dump(resumed.lineageNow) === dump(ref.lineageNow), "lineage")
  }

  test("a commit failing while the next group's waves run stops drive; resume completes the crawl") {
    import graft.plans.{CatalogSnapshotStore, SnapTable}
    import org.apache.spark.sql.functions.col
    assertInFlightCommitFailure(dir => new SnapTable(spark, s"$dir/state"), (dir, v) =>
      Option(new java.io.File(s"$dir/state/data").listFiles).toSeq.flatten
        .exists(t => new java.io.File(t, s"v$v").exists))
    val prefix = s"inflight${System.nanoTime() % 1000000}"
    assertInFlightCommitFailure(dir => new CatalogSnapshotStore(spark, prefix + dir.hashCode.abs,
      s"$dir/manifest"), (dir, v) => spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith(prefix + dir.hashCode.abs))
      .exists(t => !spark.table(t).where(col("snap_v") === v).isEmpty))
  }

  test("resume from snapshot reproduces the identical final state") {
    val dir = Files.createTempDirectory("graft-resume").toString
    val pages = Fixtures.hotHost
    val cfg = CrawlConfig(maxDepth = 10, hostBudget = 5)
    val mkEngine = () => new CrawlEngine(spark, cfg,
      spark.createDataset(pages).toDF(),
      spark.emptyDataset[ImageRow].toDF(), dir)
    // run only 3 cycles, then "crash"
    val e1 = mkEngine()
    e1.init(Fixtures.hotHostSeeds)
    (1 to 3).foreach(_ => e1.drive(1))
    // a capped resume commits exactly maxCycles more snapshots
    val before = e1.snap.latestVersion.get
    mkEngine().resume(maxCycles = 1)
    assert(e1.snap.latestVersion.get === before + 1, "resume(maxCycles = 1) commits one cycle")
    // resume in a fresh engine over the same state dir
    val e2 = mkEngine()
    e2.resume()
    val oracle = RefOracle.crawl(pages, Fixtures.hotHostSeeds, cfg)
    val got = e2.frontierNow.select("url", "status").as[(String, String)]
      .collect().toMap
    assert(got.keySet === oracle.statuses.keySet)
    assert(got === oracle.statuses.map { case (u, (s, _)) => u -> s })
  }

  test("resume mid-crawl with wavesPerCommit=3 reproduces the identical final state") {
    // group-committed crawls resume at group granularity: a crash after any
    // commit replays at most one (deterministic) group — the final state
    // must equal the reference oracle regardless of where the cut fell
    val dir = Files.createTempDirectory("graft-resume-w").toString
    val pages = Fixtures.hotHost
    val cfg = CrawlConfig(maxDepth = 10, hostBudget = 5, wavesPerCommit = 3)
    val mkEngine = () => new CrawlEngine(spark, cfg,
      spark.createDataset(pages).toDF(),
      spark.emptyDataset[ImageRow].toDF(), dir)
    val e1 = mkEngine()
    e1.init(Fixtures.hotHostSeeds)
    e1.drive(3) // one committed group (logical cycles 1..3), then "crash"
    val e2 = mkEngine()
    e2.resume()
    val oracle = RefOracle.crawl(pages, Fixtures.hotHostSeeds, cfg)
    val got = e2.frontierNow.select("url", "status").as[(String, String)]
      .collect().toMap
    assert(got.keySet === oracle.statuses.keySet)
    assert(got === oracle.statuses.map { case (u, (s, _)) => u -> s })
  }

  test("resume with a different numBuckets fails loudly (no silent O5 break)") {
    // bucket-keyed COW dirs + dedup pruning are only valid under the
    // numBuckets that keyed them (ADVICE r2): a mismatched resume used to
    // prune the WRONG frontier buckets and silently re-enqueue seen URLs
    val dir = Files.createTempDirectory("graft-nbmismatch").toString
    val mk = (nb: Int) => new CrawlEngine(spark, CrawlConfig(numBuckets = nb),
      spark.createDataset(Fixtures.site3).toDF(),
      spark.emptyDataset[ImageRow].toDF(), dir)
    val e1 = mk(32)
    e1.init(Fixtures.site3Seeds)
    e1.drive(1)
    val e2 = mk(16)
    val ex = intercept[IllegalArgumentException] { e2.resume() }
    assert(ex.getMessage.contains("numBuckets"))
    intercept[IllegalArgumentException] { e2.addSeeds(Seq("http://x.test/")) }
    // the matching config still resumes fine
    mk(32).resume()
  }

  test("addSeeds: page linking BACK to an injected seed is deduped (O5 stays exact)") {
    val pages = Fixtures.site3 ++ Fixtures.loopback
    // crawl, inject, then crawl on: by resume() (CrawlMain's --add-urls
    // path) and by a second drive() of the same engine, whose first group
    // loads the injection
    for (crawlOn <- Seq[CrawlEngine => Unit](_.resume(), _.drive())) {
      val dir = Files.createTempDirectory("graft-loopback").toString
      val engine = new CrawlEngine(spark, CrawlConfig(),
        spark.createDataset(pages).toDF(),
        spark.createDataset(Fixtures.imagesFor(pages)).toDF(), dir)
      engine.run(Fixtures.site3Seeds)
      val added = engine.addSeeds(Fixtures.loopbackSeeds)
      assert(added === 1)
      crawlOn(engine)
      // /loop links "/" back to the injected seed: exactly ONE frontier row
      // (a duplicate here means the seen filter missed the injection)
      val dupes = engine.frontierNow.filter($"url" === "http://bb.test/").count()
      assert(dupes === 1, "injected seed re-enqueued by its loopback link")
      val visited = engine.visited.select("url").as[String].collect().toSet
      assert(visited.contains("http://bb.test/") && visited.contains("http://bb.test/loop"))
    }
  }

  test("a wave of more than 50,000 links folds into RECENT by a distributed build, dedup stays exact") {
    // above 50,000 links runWave stops collecting urls to the driver and
    // merges a sketch built from the wave's new rows into RECENT
    val leaves = (0 to 50000).map(i => s"http://leaf${i % 4}.test/p$i")
    val relinked = leaves(7)
    val pages = Seq(
      Fixtures.page("http://hub.test/",
        (leaves :+ "/back").map(h => s"""<a href="$h">l</a>""").mkString("<html><body>", "", "</body></html>")),
      Fixtures.page("http://hub.test/back", s"""<html><body><a href="$relinked">l</a></body></html>""")) ++
      leaves.map(u => Fixtures.page(u, "<html><body></body></html>"))
    val dir = Files.createTempDirectory("graft-bigwave").toString
    val engine = new CrawlEngine(spark, CrawlConfig(maxDepth = 3, hostBudget = Int.MaxValue / 2),
      spark.createDataset(pages).toDF(), spark.emptyDataset[ImageRow].toDF(), dir)
    engine.run(Seq("http://hub.test/"))
    val waveEnqueued = engine.lineageNow.groupBy("cycle")
      .agg(org.apache.spark.sql.functions.sum("enqueued").as("e"))
      .agg(org.apache.spark.sql.functions.max("e")).as[Long].head()
    assert(waveEnqueued > 50000, "no wave reached the distributed RECENT merge")
    val frontier = engine.frontierNow.select("url", "depth").as[(String, Int)].collect()
    assert(frontier.filter(_._1 == relinked).map(_._2).toSeq === Seq(1),
      "the leaf /back links to again must keep one frontier row at depth 1")
    assert(frontier.length === frontier.map(_._1).distinct.length, "a url appears twice")
    assert(frontier.length === leaves.size + 2)
  }

  test("globalBatchCap: bounded cycles via per-bucket quotas, full parity") {
    val cfg = CrawlConfig(maxDepth = 10, globalBatchCap = 7)
    val (e, o) = runBoth(Fixtures.hotHost, Fixtures.hotHostSeeds, cfg)
    // caps change WHICH cycle claims a row, never the final state — layer
    // ordering is batching-dependent under a cap, so it's excluded
    assertParity(e, o, checkLayers = false)
    // the cap is enforced as ceil(cap/numBuckets) rows per hostBucket (no
    // single-partition global rank); verify via per-bucket lineage
    val quota = (cfg.globalBatchCap.toLong + cfg.numBuckets - 1) / cfg.numBuckets
    val maxDrained = e.lineageNow.groupBy("cycle", "bucket")
      .agg(org.apache.spark.sql.functions.sum("drained").as("d"))
      .agg(org.apache.spark.sql.functions.max("d")).as[Long].head()
    assert(maxDrained <= quota, s"bucket drained $maxDrained > quota $quota")
  }

  test("dangling image refs surface as failed-validation rows, not dropped") {
    val dir = Files.createTempDirectory("graft-dangling").toString
    val engine = new CrawlEngine(spark, CrawlConfig(),
      spark.createDataset(Fixtures.site3).toDF(),
      spark.emptyDataset[ImageRow].toDF(), dir) // every image ref dangles
    engine.run(Fixtures.site3Seeds)
    val out = engine.outputNow.select("image_id", "psnr", "caption_ok").collect()
    assert(out.length === 3, "dangling refs must still produce output rows")
    assert(out.forall(r => r.getDouble(1) === 0.0 && !r.getBoolean(2)))
    // the dangling count is recorded in some cycle's snapshot metrics
    val dangled = (0L to engine.snap.latest.get.version)
      .map(v => engine.snap.readSnapshot(v).metrics.getOrElse("dangling_images", 0.0))
      .sum
    assert(dangled === 3.0, s"dangling_images metric: $dangled")
  }

  test("headers ride frontier rows; robots fetch synthesized WITH the request's headers") {
    import org.apache.spark.sql.functions.col
    val hdrs = Map("Authorization" -> "Bearer tok-1", "Accept" -> "text/html")
    val dir = Files.createTempDirectory("graft-headers").toString
    val engine = new CrawlEngine(spark, CrawlConfig(),
      spark.createDataset(Fixtures.robotsBasic).toDF(),
      spark.emptyDataset[ImageRow].toDF(), dir)
    engine.init(Fixtures.robotsBasicSeeds, hdrs)
    engine.drive()
    // seed frontier row carries the MapType headers column (SURVEY §1.4)
    val seedHdrs = engine.frontierNow.filter(col("url") === "http://rb.test/")
      .select("headers").as[Map[String, String]].head()
    assert(seedHdrs === hdrs)
    // the synthesized robots fetch carried the SAME headers as the page
    // request that triggered it (reference RobotsFilter.scala:63-68,
    // RobotsFilterTest.scala:38-60)
    val robotsHdrs = engine.snap.readTable(engine.snap.latest.get, "robots").get
      .filter(col("host") === "rb.test")
      .select("req_headers").as[Map[String, String]].head()
    assert(robotsHdrs === hdrs)
    // enqueued children get fresh default headers, like the reference
    // Manager issuing Request(task, Map()) per pulled task
    val childHdrs = engine.frontierNow.filter(col("url") === "http://rb.test/test")
      .select("headers").as[Map[String, String]].head()
    assert(childHdrs === Map.empty[String, String])
  }

  test("pluggable response stages: EmptyStage + custom deny stage injected") {
    import org.apache.spark.sql.functions.{col, lit, when}
    import graft.operators.Stages
    val deny: Stages.Stage = df => df
      .withColumn("reason", when(col("outcome").isNull &&
        col("url") === "http://hf.test/fine", lit("CustomStageDenied"))
        .otherwise(col("reason")))
      .withColumn("outcome", when(col("outcome").isNull &&
        col("url") === "http://hf.test/fine", lit("ERROR"))
        .otherwise(col("outcome")))
    val cfg = CrawlConfig(responseStages = Some(Seq(
      Stages.empty,
      Stages.retryHttpError(Set(404), 1),
      deny,
      Stages.filterHttpError(Set(403, 500)),
      Stages.ajaxRewrite)))
    val dir = Files.createTempDirectory("graft-stages").toString
    val engine = new CrawlEngine(spark, cfg,
      spark.createDataset(Fixtures.httpFilter).toDF(),
      spark.emptyDataset[ImageRow].toDF(), dir)
    engine.run(Fixtures.httpFilterSeeds)
    val got = engine.frontierNow.select("url", "status", "reason")
      .as[(String, String, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3.getOrElse("")))).toMap
    assert(got("http://hf.test/fine") === ((Status.WithError, "CustomStageDenied")))
    assert(got("http://hf.test/forbidden") === ((Status.WithError, "FilteredHttpCode(403)")))
    assert(got("http://hf.test/") === ((Status.Completed, "")))
  }

  test("extractInformation hook replaces the built-in output extractor") {
    import org.apache.spark.sql.functions.{col, length}
    val hook: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      ok => ok.select(col("url").as("src_url"), length(col("f_body")).as("body_len"))
    val dir = Files.createTempDirectory("graft-hook").toString
    val engine = new CrawlEngine(spark, CrawlConfig(extractInfo = Some(hook)),
      spark.createDataset(Fixtures.site3).toDF(),
      spark.emptyDataset[ImageRow].toDF(), dir)
    engine.run(Fixtures.site3Seeds)
    val out = engine.snap.readAppended(engine.snap.latest.get, "output").get
    assert(out.columns.toSet === Set("src_url", "body_len", "cycle"))
    assert(out.count() === 3)
    assert(out.filter(col("body_len") > 0).count() === 3)
  }

  test("SnapshotStore seam: a custom injected store backs the whole crawl") {
    import graft.plans.{SnapTable, Snapshot, SnapshotStore}
    // delegating store (what an Iceberg-backed implementation would be):
    // the engine must route every read/commit through the injected trait
    val dir = Files.createTempDirectory("graft-store").toString
    val inner = new SnapTable(spark, s"$dir/custom-store")
    var commits = 0
    val recording = new SnapshotStore {
      def latestVersion = inner.latestVersion
      def readSnapshot(v: Long) = inner.readSnapshot(v)
      def readTable(s: Snapshot, t: String) = inner.readTable(s, t)
      def readTableBuckets(s: Snapshot, t: String, b: Set[Int]) =
        inner.readTableBuckets(s, t, b)
      def readAppended(s: Snapshot, t: String) = inner.readAppended(s, t)
      def commit(cycle: Long,
          fullTables: Map[String, org.apache.spark.sql.DataFrame],
          cowTables: Map[String, (org.apache.spark.sql.DataFrame, String, Set[Int])],
          appends: Map[String, org.apache.spark.sql.DataFrame],
          metrics: Map[String, Double]) = {
        commits += 1
        inner.commit(cycle, fullTables, cowTables, appends, metrics)
      }
    }
    val engine = new CrawlEngine(spark, CrawlConfig(),
      spark.createDataset(Fixtures.site3).toDF(),
      spark.createDataset(Fixtures.imagesFor(Fixtures.site3)).toDF(),
      dir, store = recording)
    engine.run(Fixtures.site3Seeds)
    assert(commits >= 2, "engine must commit through the injected store")
    val oracle = RefOracle.crawl(Fixtures.site3, Fixtures.site3Seeds, CrawlConfig())
    val visited = engine.visited.select("url").as[String].collect().toSet
    assert(visited === oracle.visited)
  }

  test("a drive call reads the committed frontier once; its dedup confirm prunes in memory") {
    import graft.plans.{SnapTable, Snapshot, SnapshotStore}
    import org.apache.spark.sql.DataFrame
    val dir = Files.createTempDirectory("graft-reads").toString
    val inner = new SnapTable(spark, s"$dir/state")
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val counting = new SnapshotStore {
      def latestVersion = inner.latestVersion
      def readSnapshot(v: Long) = inner.readSnapshot(v)
      def readTable(s: Snapshot, t: String) = { reads.add(t); inner.readTable(s, t) }
      def readTableBuckets(s: Snapshot, t: String, b: Set[Int]) = {
        reads.add(s"$t buckets"); inner.readTableBuckets(s, t, b)
      }
      def readAppended(s: Snapshot, t: String) = inner.readAppended(s, t)
      def commit(cycle: Long, fullTables: Map[String, DataFrame],
          cowTables: Map[String, (DataFrame, String, Set[Int])],
          appends: Map[String, DataFrame], metrics: Map[String, Double]) =
        inner.commit(cycle, fullTables, cowTables, appends, metrics)
    }
    val pages = Fixtures.site3
    val engine = new CrawlEngine(spark, CrawlConfig(), spark.createDataset(pages).toDF(),
      spark.createDataset(Fixtures.imagesFor(pages)).toDF(), dir, store = counting)
    def frontierReads(crawl: => Snapshot): Seq[String] = {
      reads.clear()
      crawl
      reads.toArray(Array.empty[String]).toSeq.filter(_.startsWith("frontier"))
    }
    // every page seeded: the first wave fetches only robots.txt (a fresh
    // host's pages defer for it); the next call's first wave links to seeded
    // pages, which the sketch flags, all in one candidate bucket of 32
    engine.init(pages.map(_.url))
    assert(frontierReads(engine.drive(1)) === Seq("frontier"))
    assert(frontierReads(engine.drive()) === Seq("frontier"))
    assert(engine.visited.count() === 3)
  }

  test("fetcher seam: injected mock fetcher reproduces the corpus-join crawl byte-identically") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    // hits, resolved + over-limit redirects, and a genuine fetch MISS (a
    // link to a url absent from the corpus ⇒ ConnectionError) all cross the
    // seam; site3 keeps the image/PSNR output leg in play
    val pages = Fixtures.site3 ++ Fixtures.redirects ++
      Seq(Fixtures.page("http://ms.test/", "<a href=\"/missing\">x</a>"))
    val seeds = Fixtures.site3Seeds ++ Fixtures.redirectsSeeds ++ Seq("http://ms.test/")
    val (defEngine, oracle) = runBoth(pages, seeds)
    // mock fetcher with the shape a real HTTP client has — a per-url lookup
    // (driver map standing in for the connection pool), sharing NO plan
    // with the default corpus join; a missing url yields a null struct ⇒
    // null f_status ⇒ the engine's connection-error channel
    val mockMap: Map[String, (Int, String, String, String, Int, String)] =
      defEngine.resolvedCorpus.collect().map { r =>
        r.getAs[String]("src_url") -> ((r.getAs[Int]("f_status"),
          r.getAs[String]("f_ct"), r.getAs[String]("f_body"),
          r.getAs[String]("f_image_id"), r.getAs[Int]("hops"),
          r.getAs[String]("f_err")))
      }.toMap
    val mockFetcher: DataFrame => DataFrame = claimed => {
      val look = udf((url: String) => mockMap.get(url))
      claimed.withColumn("_f", look(col("url")))
        .withColumns(Map(
          "f_status" -> col("_f._1"), "f_ct" -> col("_f._2"),
          "f_body" -> col("_f._3"), "f_image_id" -> col("_f._4"),
          "hops" -> coalesce(col("_f._5"), lit(0)), "f_err" -> col("_f._6")))
        .drop("_f")
    }
    val (injEngine, _) = runBoth(pages, seeds, CrawlConfig(fetcher = Some(mockFetcher)))
    assertParity(injEngine, oracle)
    // byte-identical final state vs the default fetch path
    def dump(df: DataFrame) = df.toJSON.collect().sorted.toSeq
    assert(dump(injEngine.frontierNow) === dump(defEngine.frontierNow),
      "frontier must be identical across fetchers")
    assert(dump(injEngine.outputNow) === dump(defEngine.outputNow),
      "output table must be identical across fetchers")
  }

  test("CatalogSnapshotStore: catalog-table-backed crawl + resume parity") {
    // the Iceberg-shaped store: per-bucket COW commits become dynamic
    // partition overwrites of (snap_v, bucket) partitions on Spark catalog
    // tables; the engine must crawl AND resume through it unchanged
    import graft.plans.CatalogSnapshotStore
    val dir = Files.createTempDirectory("graft-cat").toString
    val prefix = s"cat${System.nanoTime() % 1000000}"
    val pages = Fixtures.site3
    val pagesDf = spark.createDataset(pages).toDF()
    val imagesDf = spark.createDataset(Fixtures.imagesFor(pages)).toDF()
    val engine = new CrawlEngine(spark, CrawlConfig(), pagesDf, imagesDf, dir,
      store = new CatalogSnapshotStore(spark, prefix, s"$dir/manifest"))
    engine.run(Fixtures.site3Seeds)
    assertParity(engine, RefOracle.crawl(pages, Fixtures.site3Seeds, CrawlConfig()))
    // state genuinely lives in catalog tables, partitioned by (snap_v, bucket)
    assert(spark.catalog.tableExists(s"${prefix}_frontier"))
    assert(spark.catalog.tableExists(s"${prefix}_app_output"))
    assert(spark.table(s"${prefix}_frontier").columns.contains("snap_v"))
    // resume through a FRESH store instance over the same catalog + manifest
    val engine2 = new CrawlEngine(spark, CrawlConfig(), pagesDf, imagesDf, dir,
      store = new CatalogSnapshotStore(spark, prefix, s"$dir/manifest"))
    engine2.resume()
    def dump(df: org.apache.spark.sql.DataFrame) = df.toJSON.collect().sorted.toSeq
    assert(dump(engine2.frontierNow) === dump(engine.frontierNow),
      "catalog-store resume must reproduce the frontier")
    assert(dump(engine2.outputNow) === dump(engine.outputNow),
      "catalog-store resume must reproduce the output table")
  }

  test("stale-retry — MasterTest.scala:128-138: stuck InProgress re-drained") {
    // inject an InProgress row older than staleCycles directly, then cycle
    val dir = Files.createTempDirectory("graft-stale").toString
    val cfg = CrawlConfig(staleCycles = 2)
    val pages = Fixtures.site3
    val engine = new CrawlEngine(spark, cfg,
      spark.createDataset(pages).toDF(), spark.emptyDataset[ImageRow].toDF(), dir)
    engine.init(Fixtures.site3Seeds)
    // simulate a claim that never completed: overwrite frontier with InProgress
    val stuck = engine.frontierNow
      .withColumn("status", org.apache.spark.sql.functions.lit(Status.InProgress))
      .withColumn("started", org.apache.spark.sql.functions.lit(0L))
    engine.snap.commit(cycle = 1,
      cowTables = Map("frontier" -> ((stuck, "bucket",
        stuck.select("bucket").distinct().as[Int].collect().toSet))))
    // cycles 2..3: not yet stale (started=0, staleCycles=2 ⇒ drainable when c>2)
    def progressed(s: graft.plans.Snapshot) =
      (s.metrics("drained") + s.metrics("robots_fetched")).toLong
    val p2 = progressed(engine.drive(1))
    assert(p2 === 0, "not yet stale at cycle 2")
    val p3 = progressed(engine.drive(1))
    assert(p3 > 0, "stale InProgress re-drained at cycle 3")
    var going = true
    while (going) { val p = progressed(engine.drive(1)); going = p > 0 }
    val visited = engine.visited.select("url").as[String].collect().toSet
    assert(visited === Set("http://host0.test/", "http://host0.test/resource",
      "http://host0.test/stuff"))
  }

  test("wave bookkeeping: lineage rows and snapshot metrics pinned as goldens") {
    // one crawl that hits every tallied kind: robots deferral (each seed
    // host's first wave, and abs.test found mid-crawl), politeness deferral
    // (hf.test links 3 pages at budget 2), a 404 retry, a 403 error, a
    // robots denial, dedup (the diamond's child within a wave, bb.test/loop
    // linking back to a seen seed) and a dangling image (site3's /stuff
    // image is withheld)
    val pages = Fixtures.robotsBasic ++ Fixtures.httpRetry ++ Fixtures.httpFilter ++
      Fixtures.dedupDiamond ++ Fixtures.site3 ++ Fixtures.loopback ++ Fixtures.extractor
    val seeds = Fixtures.robotsBasicSeeds ++ Fixtures.httpRetrySeeds ++
      Fixtures.httpFilterSeeds ++ Fixtures.dedupDiamondSeeds ++ Fixtures.site3Seeds ++
      Fixtures.loopbackSeeds ++ Fixtures.extractorSeeds
    val images = Fixtures.imagesFor(pages).filter(_.image_id != "img-site3-stuff")
    def crawl(waves: Int): (Seq[String], Seq[String]) = {
      val dir = Files.createTempDirectory("graft-pin").toString
      val engine = new CrawlEngine(spark,
        CrawlConfig(maxDepth = 10, hostBudget = 2, wavesPerCommit = waves),
        spark.createDataset(pages).toDF(), spark.createDataset(images).toDF(), dir)
      engine.run(seeds)
      val lineage = engine.lineageNow.as[LineageRow].collect()
        .sortBy(r => (r.cycle, r.bucket)).map(_.productIterator.mkString(",")).toSeq
      val metrics = (0L to engine.snap.latestVersion.get).map { v =>
        s"v$v " + engine.snap.readSnapshot(v).metrics.toSeq.sorted
          .map { case (k, x) => s"$k=$x" }.mkString(" ")
      }
      (lineage, metrics)
    }
    // literal goldens: a change to how a wave counts must reproduce them.
    // A LineageRow is (cycle, bucket, drained, fetched, completed, errors,
    // retried, enqueued, deduped, deferred_robots, deferred_polite,
    // output_rows), and grouping waves into commits leaves it unchanged
    val lineageGolden = Seq(
      "2,8,1,1,1,0,0,3,0,0,0,0",
      "2,11,1,1,1,0,0,2,0,0,0,0",
      "2,15,1,1,1,0,0,2,0,0,0,0",
      "2,22,1,1,1,0,0,3,0,0,0,0",
      "2,23,1,1,1,0,0,2,0,0,0,0",
      "2,24,1,1,1,0,0,2,0,0,0,0",
      "2,27,1,1,1,0,0,2,0,0,0,0",
      "3,8,2,2,2,0,0,0,1,1,2,0",
      "3,11,2,1,1,0,1,0,1,1,2,0",
      "3,15,2,1,1,1,0,0,1,1,2,0",
      "3,22,2,1,1,1,0,0,1,1,2,0",
      "3,23,2,2,2,0,0,0,1,1,2,0",
      "3,24,2,2,2,0,0,1,1,1,2,0",
      "3,27,1,1,1,0,0,0,1,1,2,0",
      "4,8,1,1,1,0,0,0,0,0,0,0",
      "4,11,1,0,0,1,0,0,0,0,0,0",
      "4,22,1,0,0,1,0,0,0,0,0,0",
      "4,24,1,1,1,0,0,0,0,0,0,0",
      "4,27,1,1,1,0,0,0,0,0,0,0")
    val (lineage1, metrics1) = crawl(1)
    assert(lineage1 === lineageGolden)
    assert(metrics1 === Seq(
      "v0 num_buckets=32.0 seeded=7.0",
      "v1 cycle=1.0 dangling_images=0.0 deduped=0.0 deferred_robots=7.0 drained=0.0 enqueued=0.0 hot_host_salts=8.0 hot_hosts=0.0 num_buckets=32.0 robots_fetched=7.0 waves=1.0",
      "v2 cycle=2.0 dangling_images=0.0 deduped=0.0 deferred_robots=0.0 drained=7.0 enqueued=16.0 hot_host_salts=8.0 hot_hosts=0.0 num_buckets=32.0 robots_fetched=0.0 waves=1.0",
      "v3 cycle=3.0 dangling_images=1.0 deduped=1.0 deferred_robots=1.0 drained=13.0 enqueued=1.0 hot_host_salts=8.0 hot_hosts=0.0 num_buckets=32.0 robots_fetched=1.0 waves=1.0",
      "v4 cycle=4.0 dangling_images=0.0 deduped=0.0 deferred_robots=0.0 drained=5.0 enqueued=0.0 hot_host_salts=8.0 hot_hosts=0.0 num_buckets=32.0 robots_fetched=0.0 waves=1.0"))
    val (lineage2, metrics2) = crawl(2)
    assert(lineage2 === lineageGolden)
    assert(metrics2 === Seq(
      "v0 num_buckets=32.0 seeded=7.0",
      "v1 cycle=2.0 dangling_images=0.0 deduped=0.0 deferred_robots=0.0 drained=7.0 enqueued=16.0 hot_host_salts=8.0 hot_hosts=0.0 num_buckets=32.0 robots_fetched=7.0 waves=2.0",
      "v2 cycle=4.0 dangling_images=1.0 deduped=1.0 deferred_robots=0.0 drained=18.0 enqueued=1.0 hot_host_salts=8.0 hot_hosts=0.0 num_buckets=32.0 robots_fetched=1.0 waves=2.0"))
  }

  test("prepareCorpus: resolved corpus rows pinned as goldens at maxRedirects 0, 1 and 5") {
    def resolved(k: Int): Seq[String] = {
      val engine = new CrawlEngine(spark, CrawlConfig(maxRedirects = k),
        spark.createDataset(RedirectEdges.pages).toDF(),
        spark.createDataset(Fixtures.imagesFor(RedirectEdges.pages)).toDF(),
        Files.createTempDirectory("graft-resolve").toString)
      engine.prepareCorpus()
      assert(engine.resolvedCorpus.columns.toSeq ===
        Seq("src_url", "f_status", "f_ct", "f_body", "f_image_id", "hops", "f_err"))
      engine.resolvedCorpus.collect()
        .map(_.mkString(",").replace("http://re.test/", "")).sorted.toSeq
    }
    // literal goldens, captured from the hop loop this resolution replaced.
    // A row is (src_url, f_status, f_ct, f_body, f_image_id, hops, f_err)
    val goldens = Map(
    0 -> Seq(
      "a0,301,text/html,body:a0,null,0,MaxRedirectsReached",
      "a1,301,text/html,body:a1,null,0,MaxRedirectsReached",
      "a2,301,text/html,body:a2,null,0,MaxRedirectsReached",
      "a3,301,text/html,body:a3,null,0,MaxRedirectsReached",
      "a4,301,text/html,body:a4,null,0,MaxRedirectsReached",
      "a5,200,text/html,body:a5,null,0,null",
      "b0,302,text/html,body:b0,null,0,MaxRedirectsReached",
      "b1,302,text/html,body:b1,null,0,MaxRedirectsReached",
      "b2,302,text/html,body:b2,null,0,MaxRedirectsReached",
      "b3,302,text/html,body:b3,null,0,MaxRedirectsReached",
      "b4,302,text/html,body:b4,null,0,MaxRedirectsReached",
      "b5,302,text/html,body:b5,null,0,MaxRedirectsReached",
      "b6,302,text/html,body:b6,null,0,MaxRedirectsReached",
      "b7,200,text/html,body:b7,null,0,null",
      "c0,307,text/html,body:c0,null,0,MaxRedirectsReached",
      "d0,308,text/html,body:d0,null,0,MaxRedirectsReached",
      "e0,303,text/html,body:e0,null,0,MaxRedirectsReached",
      "e1,404,text/html,body:e1,null,0,null",
      "f0,301,text/html,body:f0,null,0,MaxRedirectsReached",
      "f1,200,text/html,body:f1,img-f1,0,null",
      "g0,301,text/html,body:g0,null,0,null"),
    1 -> Seq(
      "a0,301,text/html,body:a1,null,1,MaxRedirectsReached",
      "a1,301,text/html,body:a2,null,1,MaxRedirectsReached",
      "a2,301,text/html,body:a3,null,1,MaxRedirectsReached",
      "a3,301,text/html,body:a4,null,1,MaxRedirectsReached",
      "a4,200,text/html,body:a5,null,1,null",
      "a5,200,text/html,body:a5,null,0,null",
      "b0,302,text/html,body:b1,null,1,MaxRedirectsReached",
      "b1,302,text/html,body:b2,null,1,MaxRedirectsReached",
      "b2,302,text/html,body:b3,null,1,MaxRedirectsReached",
      "b3,302,text/html,body:b4,null,1,MaxRedirectsReached",
      "b4,302,text/html,body:b5,null,1,MaxRedirectsReached",
      "b5,302,text/html,body:b6,null,1,MaxRedirectsReached",
      "b6,200,text/html,body:b7,null,1,null",
      "b7,200,text/html,body:b7,null,0,null",
      "c0,-1,null,null,null,1,ConnectionError",
      "d0,308,text/html,body:d0,null,1,MaxRedirectsReached",
      "e0,404,text/html,body:e1,null,1,null",
      "e1,404,text/html,body:e1,null,0,null",
      "f0,200,text/html,body:f1,img-f1,1,null",
      "f1,200,text/html,body:f1,img-f1,0,null",
      "g0,301,text/html,body:g0,null,0,null"),
    5 -> Seq(
      "a0,200,text/html,body:a5,null,5,null",
      "a1,200,text/html,body:a5,null,4,null",
      "a2,200,text/html,body:a5,null,3,null",
      "a3,200,text/html,body:a5,null,2,null",
      "a4,200,text/html,body:a5,null,1,null",
      "a5,200,text/html,body:a5,null,0,null",
      "b0,302,text/html,body:b5,null,5,MaxRedirectsReached",
      "b1,302,text/html,body:b6,null,5,MaxRedirectsReached",
      "b2,200,text/html,body:b7,null,5,null",
      "b3,200,text/html,body:b7,null,4,null",
      "b4,200,text/html,body:b7,null,3,null",
      "b5,200,text/html,body:b7,null,2,null",
      "b6,200,text/html,body:b7,null,1,null",
      "b7,200,text/html,body:b7,null,0,null",
      "c0,-1,null,null,null,1,ConnectionError",
      "d0,308,text/html,body:d0,null,5,MaxRedirectsReached",
      "e0,404,text/html,body:e1,null,1,null",
      "e1,404,text/html,body:e1,null,0,null",
      "f0,200,text/html,body:f1,img-f1,1,null",
      "f1,200,text/html,body:f1,img-f1,0,null",
      "g0,301,text/html,body:g0,null,0,null"))
    goldens.foreach { case (k, rows) =>
      assert(resolved(k) === rows, s"resolved corpus at maxRedirects=$k")
    }
  }
}
