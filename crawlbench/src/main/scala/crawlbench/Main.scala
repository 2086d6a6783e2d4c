package crawlbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.jackson.JsonMethods.compact
import graft.corpus.Corpus.WebSpec
import graft.driver.CrawlEngine
import graft.model.{CrawlConfig, Status}
import graft.plans.{SnapTable, SnapshotStore}

/** A crawl workload: a generated web whose every page URL is seeded at
  * depth 0, and the engine config. */
final case class Workload(name: String, spec: WebSpec, cfg: CrawlConfig)

object Workloads {
  private val Unlimited = Int.MaxValue / 2
  val all: Seq[Workload] = Seq(
    // one wide wave: every page seeded at depth 0, unlimited budget, so
    // nearly every extracted link is already seeded (dedup confirms). The
    // batch limit is lowered from 250k so the big cycle takes the
    // shuffle-hash fetch path at a corpus size that fits one run.
    Workload("mega_wave", WebSpec(64, 12000),
      CrawlConfig(maxDepth = 2, hostBudget = Unlimited, broadcastBatchLimit = 4000L)),
    // politeness-bounded: every page seeded, 10 fetches per host per
    // cycle. The crawl runs to completion in four cycles: robots.txt
    // files, then three drains of about 110, 20 and 10 rows as the
    // zipf-hot host (23 pages) runs dry. Per-cycle fixed cost dominates.
    // Ten cycles, as a hotter host would give, cost more time than the
    // benchmark's run budget allows.
    Workload("polite", WebSpec(24, 140),
      CrawlConfig(maxDepth = 2, hostBudget = 10)))
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n; one of ${all.map(_.name).mkString(", ")}"))
}

/** One finished crawl, as measured from outside the engine. `cycleS` and
  * `drained` hold each cycle's wall time and the rows it drained. */
final case class CrawlResult(fetched: Long, wallS: Double, cycleS: Seq[Double], drained: Seq[Long],
    stateMb: Double, attempted: Long, failed: Long, selfCheckOk: Boolean,
    layers: Seq[(String, Double, String)])

object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      workdir: Path, out: Path, commit: String)
  /** Set-ups per run; setup_s takes their median. */
  val Setups = 3

  def parse(args: Array[String]): Opts = {
    val a = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      Paths.get(req("workdir")), Paths.get(req("out")), a.getOrElse("commit", "unknown"))
  }

  def session(cores: Int, work: Path): SparkSession = {
    // built the way CrawlMain builds it: Spark defaults, AQE on,
    // shuffle partitions = cores; scratch space stays inside the work dir
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("crawlbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.wholeStage", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workloads.byName(o.workload)
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(o.workdir)
    val tRun = Clock.now()
    val spark = session(cores, o.workdir)
    val sessionS = secs(tRun, Clock.now())
    try run(spark, o, wl, cores, tRun, sessionS)
    finally spark.stop()
  }

  def run(spark: SparkSession, o: Opts, wl: Workload, cores: Int, tRun: Long,
      sessionS: Double): Unit = {
    val cpu0 = cpuJiffies()
    val trace = if (o.trace) Some(new JobTrace) else None
    trace.foreach(spark.sparkContext.addSparkListener)
    val spans = new Spans(tRun)
    val runId = spans.open("run", 0, tRun)

    // generator self-check: seed 42 must reproduce Corpus row for row
    val genDiffs = Gen.selfCheck(wl.spec, 400)

    // set-up, repeated: input materialization + prepareCorpus into fresh dirs
    val setups = (1 to Setups).map { r =>
      val dir = o.workdir.resolve(s"setup$r")
      val (t0, t1, t2) = setup(spark, wl, o.seed, dir)
      val sid = spans.add("setup", runId, t0, t2)
      spans.add("corpus.synth", sid, t0, t1)
      spans.add("driver.prepare_corpus", sid, t1, t2)
      (dir, secs(t0, t1), secs(t1, t2))
    }
    val dir = setups.last._1
    setups.init.foreach(s => Disk.delete(s._1))
    val setupS = sessionS + Stats.median(setups.map(s => s._2 + s._3))

    // the reference outcome for these pages, seeds and config
    val pagesLocal = Gen.pagesLocal(wl.spec, o.seed)
    val expected = Check.expected(pagesLocal,
      pagesLocal.map(_.url).filterNot(isRobots), wl.cfg)

    // closed loop: one crawl at a time while the next is expected to end
    // within the time. A traced run alternates traced / untraced crawls,
    // at least one of each. The traced crawl comes first, so its layers
    // describe the same cold-JVM crawl the untraced runs measure; the
    // overhead is then overstated by the warm-up the untraced crawl gains.
    val results = scala.collection.mutable.ArrayBuffer.empty[(Boolean, CrawlResult)]
    val tLoop = System.nanoTime()
    def fits = secs(tLoop, System.nanoTime()) +
      Stats.median(results.map(_._2.wallS).toSeq) <= o.seconds
    while (results.isEmpty || (trace.nonEmpty && results.size < 2) || fits) {
      val traced = trace.nonEmpty && results.size % 2 == 0
      val r = crawl(spark, wl, dir, s"state${results.size}", expected,
        if (traced) trace else None, spans, runId)
      log(s"crawl ${results.size} traced=$traced", r)
      results += ((traced, r))
    }
    spans.close(runId, Clock.now())

    val untraced = results.filterNot(_._1).map(_._2).toSeq
    val measured = if (trace.isEmpty) untraced else results.filter(_._1).map(_._2).toSeq
    val checked = results.map(_._2).toSeq
    val attempted = checked.map(_.attempted).sum
    val failed = checked.map(_.failed).sum + genDiffs
    val correct = failed == 0 && checked.forall(_.selfCheckOk)

    def fetchedPerS(rs: Seq[CrawlResult]) = Stats.median(rs.map(r => r.fetched / r.wallS))
    def cycleP50(rs: Seq[CrawlResult]) = Stats.median(rs.flatMap(_.cycleS))
    val metrics: Seq[(String, Double, String)] =
      if (trace.isEmpty) Seq(
        ("fetched_per_s", fetchedPerS(untraced), "URL/s"),
        ("cycle_p50_s", cycleP50(untraced), "s"),
        ("setup_s", setupS, "s"),
        ("state_mb", Stats.median(untraced.map(_.stateMb)), "MB"))
      else {
        val layerNames = measured.head.layers.map(l => (l._1, l._3))
        layerNames.map { case (n, u) =>
          (n, Stats.median(measured.map(_.layers.find(_._1 == n).get._2)), u)
        } ++ Seq(
          ("corpus.synth_s", Stats.median(setups.map(_._2)), "s"),
          ("driver.prepare_corpus_s", Stats.median(setups.map(_._3)), "s"),
          ("trace.overhead_fetched_per_s", fetchedPerS(measured) - fetchedPerS(untraced), "URL/s"),
          ("trace.overhead_cycle_p50_s", cycleP50(measured) - cycleP50(untraced), "s")) ++
          kernels(wl, o.seed, pagesLocal)
      }
    Disk.delete(dir)

    val failedFrac = failed.toDouble / math.max(attempted, 1L)
    metrics.foreach { case (n, v, u) => println(f"$n%-32s $v%14.6f $u") }
    println(f"${"failed_frac"}%-32s $failedFrac%14.6f ratio  ($failed of $attempted; generator self-check diffs $genDiffs)")
    // time the host gave this VM's CPUs to others: high steal marks a
    // contended window whose timings are not comparable
    val cpu1 = cpuJiffies()
    val stealFrac = (cpu1._1 - cpu0._1).toDouble / math.max(cpu1._2 - cpu0._2, 1L)
    val env = JObject(
      "workload" -> JString(wl.name), "seed" -> JLong(o.seed),
      "nproc" -> JInt(cores), "cores" -> JInt(cores),
      "master" -> JString(spark.sparkContext.master),
      "spark" -> JString(spark.version),
      "jdk" -> JString(System.getProperty("java.version")),
      "heap_max_mb" -> JLong(Runtime.getRuntime.maxMemory / (1 << 20)),
      "aqe" -> JString(spark.conf.get("spark.sql.adaptive.enabled")),
      "shuffle_partitions" -> JString(spark.conf.get("spark.sql.shuffle.partitions")),
      "commit" -> JString(o.commit), "trace" -> JBool(o.trace),
      "crawls_measured" -> JInt(measured.size), "setups" -> JInt(Setups),
      "cpu_steal_frac" -> JDouble(stealFrac))
    println(compact(JObject("env" -> env)))
    trace.foreach { t =>
      Files.createDirectories(o.out.getParent)
      Files.write(o.out, compact(JObject("env" -> env,
        "spans" -> spans.json(t.snapshot()),
        "jobs_by_module" -> spans.byModule(t.snapshot()))).getBytes)
    }
    metrics.foreach { case (n, v, _) =>
      require(!v.isNaN && !v.isInfinite, s"$n is not a finite number: $v") }
    println(compact(JObject(
      "correct" -> JBool(correct),
      "attempted" -> JLong(attempted),
      "failed" -> JLong(failed),
      "metrics" -> JObject(metrics.toList.map { case (n, v, u) =>
        n -> JObject("value" -> JDouble(v), "unit" -> JString(u)) }))))
  }

  private def log(what: String, r: CrawlResult): Unit =
    System.err.println(f"crawlbench: $what fetched=${r.fetched} wall=${r.wallS}%.2fs " +
      f"cycles=${r.cycleS.map(c => f"$c%.2f").mkString(",")} drained=${r.drained.mkString(",")} " +
      s"failed=${r.failed}")

  /** Materialize the generated inputs as parquet, then prepareCorpus.
    * Returns (start, inputs written, corpus prepared) clock readings. */
  def setup(spark: SparkSession, wl: Workload, seed: Long, dir: Path): (Long, Long, Long) = {
    val t0 = Clock.now()
    Gen.pages(spark, wl.spec, seed).write.parquet(dir.resolve("in_pages").toString)
    Gen.images(spark, wl.spec, seed).write.parquet(dir.resolve("in_images").toString)
    val t1 = Clock.now()
    engine(spark, wl, dir, null).prepareCorpus()
    (t0, t1, Clock.now())
  }

  def engine(spark: SparkSession, wl: Workload, dir: Path, store: SnapshotStore): CrawlEngine =
    new CrawlEngine(spark, wl.cfg,
      spark.read.parquet(dir.resolve("in_pages").toString),
      spark.read.parquet(dir.resolve("in_images").toString),
      dir.toString, store)

  private def isRobots(u: String) = u.endsWith("/robots.txt")

  /** One crawl into a fresh state dir: initSeeds, drive to completion,
    * check the outcome, measure, delete the state. */
  def crawl(spark: SparkSession, wl: Workload, dir: Path, stateName: String,
      expected: Check.Expected, trace: Option[JobTrace], spans: Spans, runId: Int): CrawlResult = {
    import spark.implicits._
    val stateDir = dir.resolve(stateName)
    val base = new SnapTable(spark, stateDir.toString)
    val tracing = trace.map(_ => new TracingStore(base))
    val eng = engine(spark, wl, dir, tracing.getOrElse(base))
    // every page URL, as a distributed scan of the inputs
    val seeds = spark.read.parquet(dir.resolve("in_pages").toString)
      .filter(!col("url").endsWith("/robots.txt")).select(col("url").as("raw"))
    val gc0 = gcMillis()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    trace.foreach(_.active = true)
    val t0 = Clock.now()
    eng.initSeeds(seeds)
    eng.drive()
    val tEnd = Clock.now()
    val gcS = (gcMillis() - gc0) / 1e3
    // retained heap: peaks of the heap pools that outlive a young GC (the
    // eden peak is just its size)
    val peakHeapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && !p.getName.contains("Eden"))
      .map(_.getPeakUsage.getUsed).sum / 1e6

    // commit end times: the manifest, written last, of every version
    val versions = eng.snap.latestVersion.get
    val commitEnds = (0L to versions).map { v =>
      val ft = Files.getLastModifiedTime(stateDir.resolve(s"snapshots/v$v.json")).toInstant
      ft.getEpochSecond * 1000000000L + ft.getNano
    }
    val cycleS = commitEnds.sliding(2).collect { case Seq(a, b) => secs(a, b) }.toSeq
    val wallS = secs(t0, commitEnds.last)

    val tasks = eng.frontierNow.select("url", "status", "depth", "reason")
      .as[(String, String, Int, String)].collect()
      .map { case (u, s, d, r) => u -> ((s, d, Option(r).getOrElse(""))) }.toMap
    val outs = eng.outputNow.select("image_id", "src_url", "depth", "psnr", "caption_ok")
      .as[(String, String, Int, Double, Boolean)].collect().toSeq
      .map { case (a, b, c, d, e) => Check.Out(a, b, c, d, e) }
    trace.foreach(_.active = false)
    val fetched = tasks.values.count(t => t._1 == Status.Completed || t._1 == Status.WithError)
    val failed = Check.failures(expected, tasks, outs)
    val stateMb = Disk.usage(stateDir)._1 / 1e6
    val layers = (trace, tracing) match {
      case (Some(t), Some(ts)) =>
        Layers.crawl(spans, runId, t.snapshot(), ts.records(stateDir), t0, tEnd, gcS, peakHeapMb,
          Disk.usage(stateDir.resolve(s"snapshots/v$versions.json"))._1 / 1e3, versions + 1)
      case _ => Nil
    }
    val drained = (1L to versions).map(v =>
      eng.snap.readSnapshot(v).metrics.getOrElse("drained", 0.0).toLong)
    Disk.delete(stateDir)
    CrawlResult(fetched, wallS, cycleS, drained, stateMb, expected.attempted, failed,
      Check.plantedDefectSeen(expected, tasks, outs), layers)
  }

  /** Aggregate CPU (steal, total) jiffies from /proc/stat; zeros elsewhere. */
  private def cpuJiffies(): (Long, Long) = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) (0L, 0L)
    else {
      val xs = Files.readAllLines(f).get(0).split("\\s+").drop(1).map(_.toLong)
      (if (xs.length > 7) xs(7) else 0L, xs.sum)
    }
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Kernel inputs sampled from this run's pages, robots files and images. */
  def kernels(wl: Workload, seed: Long,
      pages: Seq[graft.model.PageRow]): Seq[(String, Double, String)] = {
    // pagesLocal holds page idx at position idx, robots rows after them
    val rnd = new scala.util.Random(seed)
    val idx = IndexedSeq.fill(2000)(rnd.nextInt(wl.spec.n.toInt))
    val sample = idx.map(pages(_))
    val robots = pages.filter(p => isRobots(p.url)).toIndexedSeq
    val images = idx.take(200).map(i => Gen.imageAt(wl.spec, seed, i.toLong))
    Kernels.run(sample.map(_.url), sample, robots, images, wl.cfg.userAgent, 300000000L)
  }
}
