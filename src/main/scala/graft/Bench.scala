package graft

import java.nio.file.Files
import scala.util.Try
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods
import graft.HostWindow.{Round, Window, dec3}
import graft.corpus.Corpus
import graft.driver.CrawlEngine
import graft.model.CrawlConfig

/**
 * Benchmark main (driver-run per round; prints ONE JSON line).
 *
 * Two parts:
 *  1. per-query wall times for every SparkEntry query over
 *     SPARK_GRAFT_SF_DIR at local[SPARK_GRAFT_CPUS] (default: nproc) — the
 *     "queries" map; a query that throws is listed under "failed_queries"
 *     and left out of the total;
 *  2. crawl throughput: a mega-frontier micro-cycle (every corpus URL
 *     seeded at depth 0, one full drain → robots → fetch → parse →
 *     validate → dedup cycle) over the same deterministic corpus at
 *     local[N] and local[4N], N = max(1, min(4, cores / 4)) — the sandbox
 *     stand-in for the north_rule's N vs 4N executors; reports fetched
 *     URLs/sec and frontier-enqueue rows/sec at both levels plus scaling
 *     efficiency tput(4N)/(4·tput(N)), null when 4N exceeds the cores.
 *     Corpus synthesis + redirect resolution are excluded from the timed
 *     region (they are one-time setup, not crawl throughput); seeding/
 *     enqueue and all micro-cycle work are included.
 *
 * Which leg pairs count is decided by [[HostWindow.admit]]. Settings:
 * SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_OUT (the artifact,
 * rewritten after every round), SPARK_GRAFT_BENCH_HOSTCAL (sentinel
 * calibration), SPARK_GRAFT_BENCH_MAX_WALL_SECS, SPARK_GRAFT_BENCH_SKIP_CRAWL
 * and SPARK_GRAFT_BENCH_SKIP_QUERIES.
 */
object Bench {

  /** Mega-frontier legs: strong at full pages, weak at pages/4 on N cores. */
  private val Pages = 600000
  private val Hosts = 256
  /** Base rounds: the host's storms can triple a single trial. */
  private val Trials = 4
  /** Politeness legs: the reference envelope (10 connections/host,
    * BASELINE.md §A) over a smaller corpus, capped at a fixed cycle count:
    * the zipf-hot host holds ~8% of all pages, and crawling it out at
    * 10/cycle is a politeness-wait tail that measures the corpus skew. Four
    * waves per commit amortize the COW write without inflating the
    * crash-replay window. */
  private val PoliteTrials = 2
  private val PoliteHosts = 256
  private val PolitePages = 12800
  private val PoliteBudget = CrawlConfig().hostBudget
  private val PoliteCycles = 25
  private val PoliteWaves = 4

  private def mkSpark(cores: Int, shuffleParts: Int): SparkSession = {
    // shuffle/spill files follow the bench state onto tmpfs: this VM's
    // block device is both slow and noisy, and a disk-bound shuffle wave
    // serializes the whole stage regardless of core count
    val localDir = {
      val shm = java.nio.file.Paths.get("/dev/shm")
      if (Files.isWritable(shm)) s"/dev/shm/spark-local-$cores-${ProcessHandle.current().pid()}" else null
    }
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
      .config("spark.sql.shuffle.partitions", shuffleParts.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val s = (if (localDir != null) b.config("spark.local.dir", localDir) else b)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One timed leg. The child JVM fills the fields up to `inputMB`; the
    * parent adds the sentinel's rate (ops/s), stall fraction and the leg
    * shape `calKey` its calibration is kept under. */
  final case class CrawlRun(cores: Int, pages: Long, fetched: Long,
      enqueued: Long, secs: Double, taskSecs: Double = 0.0, gcSecs: Double = 0.0,
      spilledMB: Double = 0.0, shufRdMB: Double = 0.0, shufWrMB: Double = 0.0,
      inputMB: Double = 0.0, sentinel: Double = 0.0, calKey: String = "",
      sentStall: Double = 0.0) {
    def fetchedPerSec: Double = fetched / secs
    def enqueuePerSec: Double = enqueued / secs
    /** mean busy executor threads: task-time / wall — vs `cores` shows
      * whether a level is latency-bound (idle cores) or compute-bound */
    def busyCores: Double = if (secs > 0) taskSecs / secs else 0.0
  }

  /** Accumulates executor task wall time, JVM-GC time, spill, and the
    * memory-traffic story (shuffle read/write + input bytes) across all
    * jobs — the per-leg bandwidth budget the weak-scaling analysis needs
    * (every shuffled/spilled byte on this single-box stand-in is tmpfs
    * traffic contending for the same memory channels the probes measure). */
  private final class TaskClock extends org.apache.spark.scheduler.SparkListener {
    val taskNanos = new java.util.concurrent.atomic.AtomicLong
    val gcMillis = new java.util.concurrent.atomic.AtomicLong
    val spilledBytes = new java.util.concurrent.atomic.AtomicLong
    val shufReadBytes = new java.util.concurrent.atomic.AtomicLong
    val shufWriteBytes = new java.util.concurrent.atomic.AtomicLong
    val inputBytes = new java.util.concurrent.atomic.AtomicLong
    def reset(): Unit = {
      taskNanos.set(0L); gcMillis.set(0L); spilledBytes.set(0L)
      shufReadBytes.set(0L); shufWriteBytes.set(0L); inputBytes.set(0L)
    }
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        taskNanos.addAndGet(m.executorRunTime * 1000000L)
        gcMillis.addAndGet(m.jvmGCTime)
        spilledBytes.addAndGet(m.memoryBytesSpilled)
        shufReadBytes.addAndGet(
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        shufWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  /** One leg in this JVM. Shuffle partitions are 2x cores at every width:
    * with one task per core, task-length skew stalls every cycle barrier by
    * the max over `cores` tasks, a penalty that grows with width; two waves
    * of half-size tasks let early finishers absorb it. */
  def crawlBench(cores: Int, nHosts: Int, nPages: Int, budget: Int,
      maxCycles: Int, waves: Int): CrawlRun = {
    val spark = mkSpark(cores, 2 * cores)
    val clock = new TaskClock
    spark.sparkContext.addSparkListener(clock)
    try {
      val spec = Corpus.WebSpec(nHosts, nPages)
      // bench state lives in tmpfs when available: the crawl bench measures
      // engine throughput, not this VM's (noisy) block device
      val base = java.nio.file.Paths.get("/dev/shm")
      val dir = if (Files.isWritable(base)) Files.createTempDirectory(base, s"graft-bench-c$cores")
        else Files.createTempDirectory(s"graft-bench-c$cores")
      val pagesDf = Corpus.pages(spark, spec).toDF()
      val imagesDf = Corpus.images(spark, spec).toDF()
      val engine = new CrawlEngine(spark,
        CrawlConfig(hostBudget = budget, maxDepth = 2,
          wavesPerCommit = waves), pagesDf,
        imagesDf, dir.toString)
      engine.prepareCorpus() // one-time setup excluded from the timed region
      val seedsDf = spark.read.parquet(s"$dir/corpus_resolved")
        .filter(!col("src_url").endsWith("/robots.txt"))
        .select(col("src_url").as("raw"))
      val t0 = System.nanoTime()
      clock.reset() // setup excluded
      engine.initSeeds(seedsDf) // distributed: seeds never touch the driver
      engine.drive(maxCycles)
      val secs = (System.nanoTime() - t0) / 1e9
      // snapshot the task-clock counters NOW: the status count below is a
      // post-run job whose executor time must not leak into busy_cores/gc
      val run = CrawlRun(cores, 0L, 0L, 0L, secs, clock.taskNanos.get / 1e9,
        clock.gcMillis.get / 1e3, clock.spilledBytes.get / 1e6,
        clock.shufReadBytes.get / 1e6, clock.shufWriteBytes.get / 1e6,
        clock.inputBytes.get / 1e6)
      val seeded = engine.snap.readSnapshot(0).metrics("seeded").toLong
      val statuses = engine.frontierNow.groupBy("status").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val fetched = statuses.getOrElse("Completed", 0L) +
        statuses.getOrElse("WithError", 0L)
      // tmpfs hygiene: drop this trial's corpus + snapshots so successive
      // trials don't accumulate gigabytes of shared-memory state
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      run.copy(pages = seeded, fetched = fetched, enqueued = seeded)
    } finally spark.stop()
  }

  /**
   * Run one leg in a CHILD JVM (`graft.Bench --leg ...`, which prints its
   * CrawlRun as one JSON line): the two parallelism levels must not share a
   * JVM (GC/heap state from the first session skews the second by 2-3x),
   * and separate processes mirror separate spark-submit runs at two
   * cluster sizes. The sentinel brackets the whole child lifetime (startup
   * + corpus prep + crawl + teardown): steal during prep is the same host
   * window as steal during the crawl, and flagging on either is the
   * conservative direction. None when the child printed no CrawlRun.
   */
  def crawlBenchIsolated(cores: Int, nHosts: Int, nPages: Int,
      budget: Int = Int.MaxValue / 2, maxCycles: Int = 1000,
      waves: Int = 1): Option[CrawlRun] = {
    val java = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar")
      .flatMap(x => Seq("--add-opens", s"$x=ALL-UNNAMED"))
    // fixed heap at every width: a real cluster scales out with CONSTANT
    // per-executor heap (more executors, not bigger ones), and measured here
    // a 32 GiB single-JVM heap at 16 threads was 3x slower than 8 GiB purely
    // from G1 overhead (151 s vs 11 s GC on the same input)
    val heap = sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")
    // MaxGCPauseMillis relaxed uniformly at EVERY width: local[N] shares
    // ONE heap across all N "executors", so each young-gen pause stops
    // every core at once — penalizing the wide leg only because of the
    // single-JVM stand-in. 2000 ms lets G1 grow the young gen (fewer,
    // slightly longer collections). Measured on the same input/window:
    // local[16] 51.0->41.1 s and 41.0->32.2 s; local[4] unchanged.
    val cmd = Seq(java) ++ addOpens ++ Seq(
      s"-Xmx$heap", "-XX:MaxGCPauseMillis=2000",
      "-Dspark.ui.enabled=false", "-Dspark.sql.adaptive.enabled=false",
      "-cp", cp, "graft.Bench", "--leg") ++
      Seq(cores, nHosts, nPages, budget, maxCycles, waves).map(_.toString)
    val (out, rate, stall) = HostWindow.sentinel {
      val proc = new ProcessBuilder(cmd: _*).start()
      val drainer = new Thread(() => proc.getErrorStream.readAllBytes(): Unit)
      drainer.setDaemon(true); drainer.start()
      val o = new String(proc.getInputStream.readAllBytes())
      proc.waitFor()
      o
    }
    // calibration keys carry the FULL leg shape (width AND pages): at the
    // same width a full-pages leg reads ~20% below a quarter-pages one
    // (SMT/turbo sharing with heavier child phases)
    implicit val formats: Formats = DefaultFormats
    out.linesIterator.filter(_.startsWith("{")).toSeq.lastOption
      .flatMap(l => JsonMethods.parseOpt(l)).flatMap(_.extractOpt[CrawlRun])
      .map(_.copy(sentinel = rate, calKey = s"c${cores}_p$nPages", sentStall = stall))
  }

  /** Leg widths (N, 4N) from the host's cores, N = max(1, min(4, cores / 4)),
    * and whether a scaling ratio may be published (4N ≤ cores). */
  def legWidths(cores: Int): (Int, Int, Boolean) = {
    val n = math.max(1, math.min(4, cores / 4))
    (n, 4 * n, 4 * n <= cores)
  }

  /** Time every SparkEntry query; returns (name, secs) for the queries that
    * ran and the names of those that threw. */
  private[graft] def querySuite(spark: SparkSession, sfDir: String)
      : (Seq[(String, Double)], Seq[String]) = {
    // JVM/codegen warmup so the first measured query isn't charged for it
    SparkEntry.queries.get("q14_o9_status_counts").foreach(f => f(spark, sfDir).count())
    // "entry" is the end-to-end correctness fixture (3-page crawl through
    // the full engine) — gated by Verify/CORRECTNESS and the crawl bench
    // at 4 orders of magnitude more pages
    val timed = SparkEntry.queries.toSeq.filter(_._1 != "entry").sortBy(_._1).map {
      case (name, fn) =>
        val t0 = System.nanoTime()
        val run = Try(fn(spark, sfDir).write.mode("overwrite").format("noop").save())
          .orElse(Try(fn(spark, sfDir).count()))
        val secs = (System.nanoTime() - t0) / 1e9
        run.failed.foreach { e => System.err.println(s"bench: query $name failed"); e.printStackTrace() }
        (name, secs, run.isSuccess)
    }
    (timed.collect { case (n, s, true) => n -> s }, timed.collect { case (n, _, false) => n })
  }

  /** The whole artifact: run metadata, the query suite and the admitted blocks. */
  private[graft] def artifact(sf: String, cores: Int, queries: Seq[(String, Double)],
      failed: Seq[String], wallSecs: Double, budgetSecs: Double, exhausted: Boolean,
      blocks: JObject): JObject =
    ("metric" -> "total") ~ ("value" -> dec3(queries.map(_._2).sum)) ~ ("unit" -> "sec") ~
      ("queries" -> JObject(queries.map { case (k, v) => k -> dec3(v) }.toList)) ~
      ("failed_queries" -> failed.toList) ~ ("sf" -> sf) ~ ("cores" -> cores) ~
      ("bench_wall_secs" -> dec3(wallSecs)) ~ ("wall_budget_secs" -> dec3(budgetSecs)) ~
      ("wall_exhausted" -> exhausted) ~ blocks

  def main(args: Array[String]): Unit = args.toList match {
    case "--leg" :: leg =>
      val Seq(cores, hosts, pages, budget, maxCycles, waves) = leg.map(_.toInt)
      val run = crawlBench(cores, hosts, pages, budget, maxCycles, waves)
      println(JsonMethods.compact(Extraction.decompose(run)(DefaultFormats)))
    case _ => bench()
  }

  /** A round to run: a politeness or a crawl round, a base round or a retry. */
  private[graft] final case class Next(polite: Boolean, extra: Boolean)

  /** Where the schedule stands: the wall used and allowed, the rounds so far,
    * and the clean weak (crawl) and strong (politeness) pairs they hold. */
  private[graft] final case class Progress(elapsed: Double, maxWall: Double,
      crawl: Seq[Round], polite: Seq[Round], weakClean: Int, politeClean: Int)

  /**
   * The bench's next round, if any, and whether the wall budget turned a
   * wanted round down. Order: base trial rounds → base politeness rounds →
   * slim weak retries → politeness retries. A round starts only when the
   * wall left covers 1.2x its estimated cost: the largest same-kind round so
   * far, 0.8x a trial round for a slim retry (it skips the lo leg), 2x a
   * trial round for a first politeness round (300 s stands in for a trial
   * round before one ran). Base round 1 always runs: an artifact with one
   * round beats none. Slim retries run only after a politeness round and
   * before any politeness retry: a retry is estimated cheaper than a first
   * politeness round, so a tight wall would otherwise go to retries and
   * publish no `polite` block.
   */
  private[graft] def nextRound(p: Progress): (Option[Next], Boolean) = {
    var declined = false
    def fits(estSecs: Double): Boolean = {
      val ok = p.maxWall - p.elapsed > estSecs * 1.2
      declined ||= !ok
      ok
    }
    val trialWall = p.crawl.map(_.wall).maxOption.getOrElse(300.0)
    val politeEst = p.polite.map(_.wall).maxOption.getOrElse(2.0 * trialWall)
    val next =
      if (p.crawl.size < Trials && (p.crawl.isEmpty || fits(trialWall))) Some(Next(false, false))
      else if (p.polite.size < PoliteTrials && fits(politeEst)) Some(Next(true, false))
      else if (p.polite.nonEmpty && !p.polite.exists(_.extra) &&
        p.weakClean < HostWindow.TargetCleanPairs &&
        p.crawl.count(_.extra) < HostWindow.MaxExtraTrials && fits(0.8 * trialWall))
        Some(Next(false, true))
      else if (p.polite.nonEmpty && p.politeClean < HostWindow.MinCleanPairs &&
        p.polite.count(_.extra) < HostWindow.MaxExtraPolite && fits(politeEst))
        Some(Next(true, true))
      else None
    (next, declined)
  }

  private def bench(): Unit = {
    val benchT0 = System.nanoTime()
    def elapsedSecs: Double = (System.nanoTime() - benchT0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val skipCrawl = sys.env.get("SPARK_GRAFT_BENCH_SKIP_CRAWL").contains("1")
    val skipQueries = sys.env.get("SPARK_GRAFT_BENCH_SKIP_QUERIES").contains("1")
    // WALL-CLOCK BUDGET: rounds stop on elapsed seconds, not just count, so a
    // contended window cannot stretch the bench past an outer time limit;
    // the artifact is rewritten after every round
    val maxWallSecs = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_WALL_SECS", "2700").toDouble
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/BENCH_partial.json")
    val cal = new HostWindow.Calibration(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_HOSTCAL", "bench/HOSTCAL.json"))

    val (queries, failed) = if (skipQueries) (Nil, Nil) else {
      val spark = mkSpark(cores, cores)
      try querySuite(spark, sfDir) finally spark.stop()
    }

    // Two scaling views, because the host time-shares its CPUs and
    // identical runs vary up to 3-4x:
    //  - STRONG: same frontier at both widths;
    //  - WEAK (Gustafson): fixed per-core load — pages/4 URLs at N cores
    //    vs pages URLs at 4N; efficiency = T_lo/T_hi (1.0 = perfect).
    val (nLo, nHi, ratios) = legWidths(cores)
    val start = if (skipCrawl) Window(1.0, 1.0) else HostWindow.probe(nLo, nHi)
    var crawl = Vector.empty[Round]
    var polite = Vector.empty[Round]
    var exhausted = false
    val politeMeta = ("budget" -> PoliteBudget) ~ ("cycles_cap" -> PoliteCycles) ~
      ("waves_per_commit" -> PoliteWaves)
    def compose(): JObject = artifact(sfDir, cores, queries, failed, elapsedSecs,
      maxWallSecs, exhausted,
      HostWindow.admit(cal.all, ratios, start, crawl, polite, politeMeta))
    def emit(): Unit = try {
      cal.write()
      HostWindow.writeAtomic(outPath, JsonMethods.compact(compose()))
    } catch { case NonFatal(_) => () } // emission must never sink the bench
    def crawlLeg(cores: Int, shrink: Int) =
      crawlBenchIsolated(cores, Hosts / shrink, Pages / shrink).map(cal.note)
    def politeLeg(cores: Int) = crawlBenchIsolated(cores, PoliteHosts, PolitePages,
      PoliteBudget, PoliteCycles, PoliteWaves).map(cal.note)
    // every round is stamped with the min of probes before and after its legs
    def round(extra: Boolean)(legs: => (Option[CrawlRun], Option[CrawlRun], Option[CrawlRun])): Round = {
      val t0 = System.nanoTime()
      val before = HostWindow.probe(nLo, nHi)
      val (lo, hi, wk) = legs
      val window = before.min(HostWindow.probe(nLo, nHi))
      Round(lo, hi, wk, window, (System.nanoTime() - t0) / 1e9, extra)
    }
    // extra rounds run slim: the weak criterion needs only the weak and
    // local[4N] legs, so retries skip the local[N] strong leg
    def crawlRound(extra: Boolean): Unit = {
      crawl :+= round(extra)((if (extra) None else crawlLeg(nLo, 1),
        crawlLeg(nHi, 1), crawlLeg(nLo, 4)))
      emit()
    }
    def politeRound(extra: Boolean): Unit = {
      polite :+= round(extra)((politeLeg(nLo), politeLeg(nHi), None))
      emit()
    }
    def progress = Progress(elapsedSecs, maxWallSecs, crawl, polite,
      cleanCount(HostWindow.weakPairs(crawl)), cleanCount(HostWindow.strongPairs(polite)))
    def cleanCount(ps: Seq[HostWindow.Pair]): Int = new HostWindow.Rules(cal.all).cleanPairs(ps).size
    @annotation.tailrec def schedule(): Unit = {
      val (next, declined) = nextRound(progress)
      exhausted ||= declined
      next match {
        case Some(Next(isPolite, extra)) =>
          if (isPolite) politeRound(extra) else crawlRound(extra)
          schedule()
        case None =>
      }
    }
    if (!skipCrawl) schedule()
    emit()
    println(JsonMethods.compact(compose()))
  }
}
