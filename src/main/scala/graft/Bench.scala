package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.driver.CrawlEngine
import graft.model.CrawlConfig

/**
 * Benchmark main (driver-run per round; prints ONE JSON line).
 *
 * Two parts:
 *  1. per-query wall times for every SparkEntry query over
 *     SPARK_GRAFT_SF_DIR at local[SPARK_GRAFT_CPUS] — the "queries" map;
 *  2. crawl throughput: a mega-frontier micro-cycle (every corpus URL
 *     seeded at depth 0, one full drain → robots → fetch → parse →
 *     validate → dedup cycle) over the same deterministic corpus at
 *     local[N] and local[4N], N = SPARK_GRAFT_BENCH_N (default 4) — the
 *     sandbox stand-in for the north_rule's N vs 4N executors; reports
 *     fetched URLs/sec and frontier-enqueue rows/sec at both levels plus
 *     scaling efficiency tput(4N)/(4·tput(N)). Corpus synthesis + redirect
 *     resolution are excluded from the timed region (they are one-time
 *     setup, not crawl throughput); seeding/enqueue and all micro-cycle
 *     work are included.
 */
object Bench {

  private def mkSpark(cores: Int): SparkSession = {
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
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cores.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val s = (if (localDir != null) b.config("spark.local.dir", localDir) else b)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

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

  def crawlBench(cores: Int, nHosts: Int, nPages: Int,
      budget: Int = Int.MaxValue / 2, maxCycles: Int = 1000,
      waves: Int = 1): CrawlRun = {
    val spark = mkSpark(cores)
    val clock = new TaskClock
    spark.sparkContext.addSparkListener(clock)
    try {
      val spec = Corpus.WebSpec(nHosts, nPages)
      // bench state lives in tmpfs when available: the crawl bench measures
      // engine throughput, not this VM's (noisy) block device
      val base = java.nio.file.Paths.get("/dev/shm")
      val dir = (if (Files.isWritable(base))
        Files.createTempDirectory(base, s"graft-bench-c$cores")
      else Files.createTempDirectory(s"graft-bench-c$cores")).toString
      val pagesDf = Corpus.pages(spark, spec).toDF()
      val imagesDf = Corpus.images(spark, spec).toDF()
      val engine = new CrawlEngine(spark,
        CrawlConfig(hostBudget = budget, maxDepth = 2,
          wavesPerCommit = waves), pagesDf,
        imagesDf, dir)
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
      val taskSecs = clock.taskNanos.get / 1e9
      val gcSecs = clock.gcMillis.get / 1e3
      val spilledMB = clock.spilledBytes.get / 1e6
      val shufRdMB = clock.shufReadBytes.get / 1e6
      val shufWrMB = clock.shufWriteBytes.get / 1e6
      val inputMB = clock.inputBytes.get / 1e6
      val seeded = engine.snap.readSnapshot(0).metrics("seeded").toLong
      val statuses = engine.frontierNow.groupBy("status").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val fetched = statuses.getOrElse("Completed", 0L) +
        statuses.getOrElse("WithError", 0L)
      val run = CrawlRun(cores, seeded, fetched, seeded, secs,
        taskSecs, gcSecs, spilledMB, shufRdMB, shufWrMB, inputMB)
      // tmpfs hygiene: drop this trial's corpus + snapshots so successive
      // trials don't accumulate gigabytes of shared-memory state
      deleteRec(new java.io.File(dir))
      run
    } finally spark.stop()
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(): Unit
  }

  /**
   * In-leg sentinel: one register busy-loop thread running for exactly the
   * duration of a child leg, reporting its achieved ops/s. The before/after
   * round probes are RELATIVE (a 4N-vs-N throughput ratio) and sampled at
   * the round's edges, so they are doubly blind to the failure mode a
   * fourth round-5 window exposed: uniform hypervisor time-sharing that
   * arrives DURING the several-minute legs and steals proportionally at
   * both widths — every leg slows 1.5-2.2x with inflated task-seconds, no
   * wall outlier, no GC signal, and clean probe ratios (observed: caps
   * 0.944/0.788 around legs running 2.2x the committed clean walls). A
   * single-thread register loop is engine-independent, consumes no shared
   * resource but CPU cycles (one core of 32 — the legs use 4/16), and its
   * absolute rate on a clean host is stable; under time-sharing it drops by
   * the stolen share, measured over the leg's exact window. Rates are only
   * comparable between identical leg SHAPES (keyed c<cores>_p<pages>):
   * turbo/DVFS down-clocks with active width, the politeness legs idle
   * most cores, and at the same width a full-pages leg reads ~20% below a
   * quarter-pages one. JIT steady-state lands within the first work
   * chunks — noise well under 1% for legs of 20 s and up.
   */
  private object Sentinel {
    /** A chunk of 1M float ops takes ~1-3 ms; any inter-chunk gap beyond
     * this is a deschedule (run-queue wait), not a slow chunk — even a 4x
     * DVFS slowdown keeps chunks under 6 ms. */
    private val StallGapNanos = 10L * 1000 * 1000
    /** Returns (result, opsPerSec, stallFrac). The RATE signal is muted
     * under steal — CFS gives one thread a near-fair share even while a
     * 16-thread child starves collectively (measured: a leg at 3.7x its
     * clean task-seconds depressed the sentinel rate only to ~0.74) — so
     * the primary signal is the STALL FRACTION: the share of the leg's
     * wall the sentinel spent parked in the run queue (sum of inter-chunk
     * gaps beyond StallGapNanos). On a host with spare cores it is ~0; an
     * oversubscribed host parks the thread for scheduler quanta at a time.
     * Absolute and calibration-free: DVFS shifts the rate but not
     * queueing. */
    def measure[T](body: => T): (T, Double, Double) = {
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val ops = new java.util.concurrent.atomic.AtomicLong
      val stallNanos = new java.util.concurrent.atomic.AtomicLong
      val t = new Thread(() => {
        var x = 0.0d
        var last = System.nanoTime()
        while (!stop.get) {
          var k = 0; while (k < 1000000) { x += k * 1.000000001d; k += 1 }
          val now = System.nanoTime()
          if (now - last > StallGapNanos)
            stallNanos.addAndGet(now - last - StallGapNanos): Unit
          last = now
          ops.addAndGet(1000000L): Unit
        }
        if (x == 42.0) println(x) // defeat DCE
      })
      t.setDaemon(true)
      val t0 = System.nanoTime()
      t.start()
      val r = try body finally { stop.set(true); t.join() }
      val nanos = System.nanoTime() - t0
      (r, if (nanos > 0) ops.get * 1e9 / nanos else 0.0,
        if (nanos > 0) math.min(1.0, stallNanos.get.toDouble / nanos) else 0.0)
    }
  }

  // --- sentinel calibration: monotonic max across runs -------------------
  // The sentinel floor needs an absolute reference for "what this host's
  // cycles look like when they are actually delivered". Within one run a
  // uniformly stolen window has no clean reference, so the best observed
  // rate per leg kind is persisted (bench/HOSTCAL.json, temp+atomic-rename)
  // and merged max-wise across runs. Failure modes are conservative by
  // construction: with no file the floor self-anchors to this run's best
  // (flags only legs >25% below it — today's behavior at worst), and a file
  // from a cleaner window tightens the floor monotonically. The calibration
  // is pure hardware measurement — it knows nothing about the engine, so a
  // slow engine change cannot be laundered into "the host was contended".
  private val hostcalPath =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_HOSTCAL", "bench/HOSTCAL.json")
  private val hostcalFile: Map[String, Double] = try {
    val s = Files.readString(java.nio.file.Paths.get(hostcalPath))
    "\"(\\w+)\"\\s*:\\s*([0-9.eE+]+)".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  } catch { case _: Throwable => Map.empty }
  private val sentinelSeen =
    scala.collection.concurrent.TrieMap.empty[String, Double]
  private def noteSentinel(key: String, rate: Double): Unit =
    if (rate > 0 && key.nonEmpty)
      sentinelSeen.updateWith(key)(v => Some(math.max(v.getOrElse(0.0), rate))): Unit
  private def sentinelCal(key: String): Double =
    math.max(hostcalFile.getOrElse(key, 0.0), sentinelSeen.getOrElse(key, 0.0))
  private def writeHostcal(): Unit = try {
    val keys = (hostcalFile.keySet ++ sentinelSeen.keySet).toSeq.sorted
    if (keys.nonEmpty) {
      val p = java.nio.file.Paths.get(hostcalPath).toAbsolutePath
      Files.createDirectories(p.getParent)
      val tmp = Files.createTempFile(p.getParent, ".hostcal", ".tmp")
      Files.writeString(tmp,
        keys.map(k => s""""$k":${sentinelCal(k)}""").mkString("{", ",", "}") + "\n")
      Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }
  } catch { case _: Throwable => () }

  /**
   * Run the crawl bench in a CHILD JVM: the two parallelism levels must not
   * share a JVM (GC/heap state from the first session skews the second by
   * 2-3x), and separate processes mirror separate spark-submit runs at two
   * cluster sizes. The sentinel brackets the whole child lifetime (startup
   * + corpus prep + crawl + teardown): steal during prep is the same host
   * window as steal during the crawl, and flagging on either is the
   * conservative direction.
   */
  def crawlBenchIsolated(cores: Int, nHosts: Int, nPages: Int,
      budget: Int = Int.MaxValue / 2, maxCycles: Int = 1000,
      waves: Int = 1, calKey: String = ""): Option[CrawlRun] = {
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
    // from G1 overhead (151 s vs 11 s GC on the same input) — scaling heap
    // with cores simulates nothing real and wrecks the high-parallelism leg
    val heap = sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")
    // MaxGCPauseMillis relaxed uniformly at EVERY width: local[N] shares
    // ONE heap across all N "executors", so each young-gen pause stops
    // every core at once — pause frequency scales with aggregate
    // allocation, penalizing the wide leg only because of the single-JVM
    // stand-in (a real 4-executor cluster pauses per-executor,
    // uncorrelated). G1's default 200 ms goal sizes the young gen small
    // under 16-thread allocation; 2000 ms lets it grow (fewer, slightly
    // longer collections — less total overhead for a batch workload).
    // Measured on the same input/window: local[16] 51.0->41.1 s and
    // 41.0->32.2 s across two interleaved rounds; local[4] unchanged.
    // (Scaling the HEAP with cores was tried instead and wrecks the wide
    // leg — 32 GiB at 16 threads was 3x slower purely from G1 overhead.)
    val cmd = Seq(java) ++ addOpens ++ Seq(
      s"-Xmx$heap", "-XX:MaxGCPauseMillis=2000",
      "-Dspark.ui.enabled=false", "-Dspark.sql.adaptive.enabled=false",
      "-cp", cp, "graft.Bench")
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_BENCH_ONLY_CRAWL", "1")
    pb.environment().put("SPARK_GRAFT_BENCH_CORES", cores.toString)
    pb.environment().put("SPARK_GRAFT_BENCH_PAGES", nPages.toString)
    pb.environment().put("SPARK_GRAFT_BENCH_HOSTS", nHosts.toString)
    pb.environment().put("SPARK_GRAFT_BENCH_BUDGET", budget.toString)
    pb.environment().put("SPARK_GRAFT_BENCH_MAXCYCLES", maxCycles.toString)
    pb.environment().put("SPARK_GRAFT_BENCH_WAVES", waves.toString)
    // 2x cores at every width (standard practice for spark.sql.shuffle.
    // partitions): with exactly one task per core, any task-length skew
    // stalls the whole cycle barrier, and the stall is the MAX over
    // `cores` tasks — a variance penalty that grows with width and has
    // nothing to do with the engine's scaling. Two waves of half-size
    // tasks let early finishers absorb the skew; same ratio at both
    // widths keeps the comparison fair.
    pb.environment().put("SPARK_GRAFT_SHUFFLE_PARTS", (2 * cores).toString)
    val (out, sentinelRate, sentinelStall) = Sentinel.measure {
      val proc = pb.start()
      val drainer = new Thread(() => proc.getErrorStream.readAllBytes(): Unit)
      drainer.setDaemon(true); drainer.start()
      val o = new String(proc.getInputStream.readAllBytes())
      proc.waitFor()
      o
    }
    // calibration keys carry the FULL leg shape (width AND pages): measured
    // at the same width, a long full-pages leg reads ~20% below a short
    // quarter-pages leg (heavier child phases under the sentinel's window —
    // SMT/turbo sharing), so rates are only comparable between identical
    // leg shapes. cores+pages determine the shape for a given config, and
    // the politeness legs (distinct pages) separate automatically.
    val key = if (calKey.nonEmpty) calKey else s"c${cores}_p$nPages"
    noteSentinel(key, sentinelRate)
    val Re = ("CRAWLRUN cores=(\\d+) pages=(\\d+) fetched=(\\d+) " +
      "enqueued=(\\d+) secs=([\\d.]+) taskSecs=([\\d.]+) gcSecs=([\\d.]+)" +
      "(?: spilledMB=([\\d.]+))?" +
      "(?: shufRdMB=([\\d.]+) shufWrMB=([\\d.]+) inMB=([\\d.]+))?").r
    Re.findFirstMatchIn(out).map(m => CrawlRun(m.group(1).toInt,
      m.group(2).toLong, m.group(3).toLong, m.group(4).toLong, m.group(5).toDouble,
      m.group(6).toDouble, m.group(7).toDouble,
      Option(m.group(8)).map(_.toDouble).getOrElse(0.0),
      Option(m.group(9)).map(_.toDouble).getOrElse(0.0),
      Option(m.group(10)).map(_.toDouble).getOrElse(0.0),
      Option(m.group(11)).map(_.toDouble).getOrElse(0.0),
      sentinel = sentinelRate, calKey = key, sentStall = sentinelStall))
  }

  /**
   * Hardware parallel-scaling calibration: this VM's cores downclock as
   * more of them go busy (turbo/DVFS), so even perfectly-scaling software
   * cannot show 4x throughput at 4x threads. Measure the machine's own
   * aggregate-throughput ratio with a pure busy-loop at both widths; the
   * engine's normalized efficiency = raw efficiency / this hardware cap.
   */
  def hwScalingCap(n1: Int, n2: Int): Double =
    hwCap(n1, n2) { iters =>
      var x = 0.0d; var i = 0L
      while (i < iters) { x += i * 1.000000001d; i += 1 }
      if (x == 42.0) println(x) // defeat DCE
    }

  /**
   * Memory-bandwidth parallel-scaling calibration: the register busy-loop
   * above captures DVFS but not the memory subsystem, which is what
   * data-processing threads actually contend for on ONE box (random hash
   * probes + columnar scans are bandwidth-bound). Each thread streams its
   * own 64 MiB array; the aggregate-throughput ratio at n2 vs n1 threads
   * bounds what ANY memory-touching workload can scale to on this host. A
   * real n2-executor cluster has n2/n1 x the memory channels — this cap is
   * a property of the single-VM stand-in, not of the engine.
   */
  def hwMemScalingCap(n1: Int, n2: Int): Double = {
    val words = 8 * 1024 * 1024 // 64 MiB per thread
    // arrays are pooled and reused across samples (threads are fresh per
    // sample, so keying by thread id would retain one 64 MiB array per
    // spawned thread — gigabytes over the warmup+trial schedule); live
    // arrays never exceed the widest concurrent width, and the warmup
    // samples pre-populate the pool so trial timing excludes allocation
    val pool = new java.util.concurrent.ConcurrentLinkedQueue[Array[Long]]()
    // 0.5 x 600M word-reads = ~2.4 GiB streamed per thread per sample —
    // long enough to saturate and measure the memory subsystem at width
    hwCap(n1, n2, itersScale = 0.5) { iters =>
      val a = Option(pool.poll()).getOrElse(Array.tabulate(words)(_.toLong))
      try {
        var sum = 0L; var pass = 0L
        val passes = math.max(1L, iters / words)
        while (pass < passes) {
          var i = 0
          while (i < words) { sum += a(i); i += 1 }
          pass += 1
        }
        if (sum == 42L) println(sum) // defeat DCE
      } finally pool.offer(a): Unit
    }
  }

  private def hwCap(n1: Int, n2: Int, itersScale: Double = 1.0)(
      body: Long => Unit): Double = {
    val iters = (600000000L * itersScale).toLong
    def aggPerSec(threads: Int): Double = {
      val t0 = System.nanoTime()
      val ts = (1 to threads).map { _ =>
        val t = new Thread(() => body(iters))
        t.start(); t
      }
      ts.foreach(_.join())
      threads * iters / ((System.nanoTime() - t0) / 1e9)
    }
    aggPerSec(n1); aggPerSec(n2) // warmup JIT and clocks
    // best-of-3 per width (host time-sharing depresses arbitrary trials);
    // a cap > 1 is physically impossible — clamp, leaving normalization a no-op
    val a = (1 to 3).map(_ => aggPerSec(n1)).max
    val b = (1 to 3).map(_ => aggPerSec(n2)).max
    math.min(1.0, b / (n2.toDouble / n1 * a))
  }

  def main(args: Array[String]): Unit = {
    val benchT0 = System.nanoTime()
    def elapsedSecs: Double = (System.nanoTime() - benchT0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val benchPages = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAGES", "600000").toInt
    val benchHosts = sys.env.getOrElse("SPARK_GRAFT_BENCH_HOSTS", "256").toInt
    val skipCrawl = sys.env.get("SPARK_GRAFT_BENCH_SKIP_CRAWL").contains("1")

    if (sys.env.get("SPARK_GRAFT_BENCH_HWCAP_ONLY").contains("1")) {
      val nLo0 = sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "4").toInt
      println(f"HWCAP cpu=${hwScalingCap(nLo0, 4 * nLo0)}%.3f " +
        f"mem=${hwMemScalingCap(nLo0, 4 * nLo0)}%.3f")
      return
    }

    val onlyCrawl = sys.env.get("SPARK_GRAFT_BENCH_ONLY_CRAWL").contains("1")
    if (onlyCrawl) {
      val coreList = sys.env.getOrElse("SPARK_GRAFT_BENCH_CORES", "8,32")
        .split(",").map(_.trim.toInt).toSeq
      val budget = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET",
        (Int.MaxValue / 2).toString).toInt
      val maxCycles = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAXCYCLES", "1000").toInt
      val waves = sys.env.getOrElse("SPARK_GRAFT_BENCH_WAVES", "1").toInt
      val runs = coreList.map(c =>
        crawlBench(c, benchHosts, benchPages, budget, maxCycles, waves))
      runs.foreach(r => println(
        f"CRAWLRUN cores=${r.cores} pages=${r.pages} fetched=${r.fetched} " +
          f"enqueued=${r.enqueued} secs=${r.secs}%.3f " +
          f"taskSecs=${r.taskSecs}%.3f gcSecs=${r.gcSecs}%.3f " +
          f"spilledMB=${r.spilledMB}%.1f " +
          f"shufRdMB=${r.shufRdMB}%.1f shufWrMB=${r.shufWrMB}%.1f " +
          f"inMB=${r.inputMB}%.1f"))
      return
    }

    // ---- part 1: query suite over the sf dir ---------------------------
    val skipQueries = sys.env.get("SPARK_GRAFT_BENCH_SKIP_QUERIES").contains("1")
    val results = if (skipQueries) Seq.empty[(String, Double)] else {
      val spark = mkSpark(cpus.toInt)
      // JVM/codegen warmup so the first measured query isn't charged for it
      SparkEntry.queries.get("q14_o9_status_counts")
        .foreach(f => f(spark, sfDir).count())
      // "entry" is the end-to-end correctness fixture (3-page crawl through
      // the full engine) — gated by Verify/CORRECTNESS and the crawl bench
      // below at 4 orders of magnitude more pages; timing a fixture crawl in
      // the query suite would only measure Spark's fixed per-job latency
      val rs = SparkEntry.queries.toSeq.filter(_._1 != "entry")
        .sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).write.mode("overwrite").format("noop").save() }
        catch { case _: Throwable =>
          try fn(spark, sfDir).count() catch { case _: Throwable => () } }
        name -> (System.nanoTime() - t0) / 1e9
      }
      spark.stop()
      rs
    }

    // ---- part 2: crawl throughput at two parallelism levels ------------
    // N=4 and 4N=16 cores (both well inside this VM's 32 physical cores).
    // Two scaling views, because the host time-shares its CPUs and
    // identical runs vary up to 3-4x:
    //  - STRONG: same 600k-URL frontier at both widths, min over trials;
    //  - WEAK (Gustafson): fixed per-core load — pages/4 URLs at 4 cores
    //    vs pages URLs at 16; efficiency = T_lo/T_hi (1.0 = perfect).
    // All trials interleave and report raw per-trial times for
    // transparency; the hardware's own turbo cap is calibrated first.
    //
    // WALL-CLOCK BUDGET (round-5 fix for the r4 rc-124 loss): the retry
    // machinery is bounded by elapsed seconds, not just round count — a
    // fully-contended window can no longer stretch the bench past the
    // driver's kill limit. Additionally the CURRENT full JSON is written
    // to `outPath` (temp file + atomic rename) after every round, so even
    // a hard kill leaves the latest complete snapshot on disk instead of
    // nothing. Stdout still carries exactly ONE final JSON line.
    val nLo = sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "4").toInt
    val nHi = 4 * nLo
    val maxWallSecs =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_WALL_SECS", "2700").toDouble
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/BENCH_partial.json")
    // 4 interleaved trials: the host time-shares CPUs in storms that can
    // triple a single trial (raw arrays in the JSON show them); min-of-4
    // makes one clean trial per level near-certain
    val trials = sys.env.getOrElse("SPARK_GRAFT_BENCH_TRIALS", "4").toInt
    // politeness-constrained leg: the reference envelope (10 connections/
    // host, BASELINE.md §A) over a smaller corpus => a genuinely multi-cycle
    // crawl. Capped at a fixed cycle count: the zipf-hot host holds ~8% of
    // all pages, so crawling it OUT at 10/cycle is a pure politeness-wait
    // tail (cycles ∝ hot-host pages; same bound in the reference: 10
    // connections/host) — the steady-state cycles measure the engine, the
    // tail would measure the corpus skew.
    val politeTrials = sys.env.getOrElse("SPARK_GRAFT_BENCH_POLITE_TRIALS", "2").toInt
    val politeHosts = sys.env.getOrElse("SPARK_GRAFT_BENCH_POLITE_HOSTS", "256").toInt
    val politePages = sys.env.getOrElse("SPARK_GRAFT_BENCH_POLITE_PAGES", "12800").toInt
    val politeBudget = sys.env.getOrElse("SPARK_GRAFT_BENCH_POLITE_BUDGET", "10").toInt
    val politeCycles = sys.env.getOrElse("SPARK_GRAFT_BENCH_POLITE_CYCLES", "25").toInt
    // the politeness envelope runs many small budget-bounded cycles — the
    // regime wavesPerCommit exists for (K waves chained in memory per
    // snapshot commit); 4 amortizes the COW write without inflating the
    // crash-replay window
    val politeWaves = sys.env.getOrElse("SPARK_GRAFT_BENCH_POLITE_WAVES", "4").toInt
    val hwCap = if (skipCrawl) 1.0 else hwScalingCap(nLo, nHi)
    val hwMemCap = if (skipCrawl) 1.0 else hwMemScalingCap(nLo, nHi)
    // every run and pair is tagged with its trial round's own busy-loop
    // hardware caps (measured immediately before the round's legs): the
    // third storm signal below needs to know what the HOST could scale to
    // in the window the legs actually ran in, not at bench start. BOTH
    // probes matter: the register loop senses DVFS/time-slicing, the
    // memory-streaming loop senses bandwidth contention from co-tenants —
    // which the register loop is blind to, and which is exactly what a
    // shuffle-heavy engine contends for.
    case class HostWindow(cpu: Double, mem: Double)
    def probeWindow(): HostWindow =
      if (skipCrawl) HostWindow(1.0, 1.0)
      else HostWindow(hwScalingCap(nLo, nHi), hwMemScalingCap(nLo, nHi))
    var runsLo = List.empty[(CrawlRun, HostWindow)] // nLo cores, full pages (strong)
    var runsHi = List.empty[(CrawlRun, HostWindow)] // nHi cores, full pages (strong+weak)
    var runsWk = List.empty[(CrawlRun, HostWindow)] // nLo cores, pages/4 (weak)
    var runsPlLo = List.empty[(CrawlRun, HostWindow)] // politeness envelope, nLo cores
    var runsPlHi = List.empty[(CrawlRun, HostWindow)] // politeness envelope, nHi cores
    // same-trial (adjacent) leg pairs for the paired estimators: kept as
    // explicit pairs so a failed/unparseable trial in one leg cannot shift
    // the alignment and silently pair runs from different host windows
    var pairsWkHi = List.empty[(CrawlRun, CrawlRun, HostWindow)]
    var pairsLoHi = List.empty[(CrawlRun, CrawlRun, HostWindow)]
    var pairsPl = List.empty[(CrawlRun, CrawlRun, HostWindow)]
    var roundCaps = List.empty[HostWindow] // per trial round, in run order
    var politeRoundCaps = List.empty[HostWindow] // per POLITE round (own list — r4 ADVICE: do not overload the pair count)
    var roundWalls = List.empty[Double] // wall secs per trial round (probes incl.)
    var politeWalls = List.empty[Double]
    var wallExhausted = false
    var emitRound: () => Unit = () => () // bound to the snapshot emitter below
    // each round's cap = per-component MIN of a probe BEFORE and a probe
    // AFTER its legs (r4 ADVICE: a single start-of-round probe can
    // misclassify when the host window drifts during the several-minute
    // legs; the min is the conservative choice — a window that was choked
    // at either edge does not count as clean)
    def politeRound(): Unit = {
      val t0 = System.nanoTime()
      val capA = probeWindow()
      val lo = crawlBenchIsolated(nLo, politeHosts, politePages,
        politeBudget, politeCycles, politeWaves)
      val hi = crawlBenchIsolated(nHi, politeHosts, politePages,
        politeBudget, politeCycles, politeWaves)
      val capB = probeWindow()
      val cap = HostWindow(math.min(capA.cpu, capB.cpu), math.min(capA.mem, capB.mem))
      politeRoundCaps = politeRoundCaps :+ cap
      runsPlLo = runsPlLo ++ lo.map((_, cap)); runsPlHi = runsPlHi ++ hi.map((_, cap))
      for (l <- lo; h <- hi) pairsPl = pairsPl :+ ((l, h, cap))
      politeWalls = politeWalls :+ (System.nanoTime() - t0) / 1e9
      emitRound()
    }
    // retry rounds run SLIM (r4 verdict #2): the weak criterion needs only
    // the weak + local[nHi] legs; the nLo strong leg gates nothing beyond
    // the base rounds, so retries skip it and fit more windows per budget
    def trialRound(slim: Boolean): Unit = {
      val t0 = System.nanoTime()
      val capA = probeWindow()
      val lo = if (slim) None else crawlBenchIsolated(nLo, benchHosts, benchPages)
      val hi = crawlBenchIsolated(nHi, benchHosts, benchPages)
      val wk = crawlBenchIsolated(nLo, benchHosts / 4, benchPages / 4)
      val capB = probeWindow()
      val cap = HostWindow(math.min(capA.cpu, capB.cpu), math.min(capA.mem, capB.mem))
      roundCaps = roundCaps :+ cap
      runsLo = runsLo ++ lo.map((_, cap)); runsHi = runsHi ++ hi.map((_, cap))
      runsWk = runsWk ++ wk.map((_, cap))
      for (h <- hi; w <- wk) pairsWkHi = pairsWkHi :+ ((w, h, cap))
      for (h <- hi; l <- lo) pairsLoHi = pairsLoHi :+ ((l, h, cap))
      roundWalls = roundWalls :+ (System.nanoTime() - t0) / 1e9
      emitRound()
    }
    // a round only starts when the remaining budget comfortably covers its
    // estimated cost (1.2x the largest same-kind round observed so far)
    def wallAllows(estSecs: Double): Boolean = {
      val ok = maxWallSecs - elapsedSecs > estSecs * 1.2
      if (!ok) wallExhausted = true
      ok
    }
    // CLEAN-WINDOW detection: this host time-shares its CPUs in storms
    // that stretch arbitrary trials 2-4x (BASELINE.md §C). Four storm
    // signals, all disqualifying:
    //  - WALL storms: a leg lands above CleanSlack x that leg's observed
    //    minimum (relative — needs at least one clean reference trial);
    //  - GC storms: a leg spends more than GcStormFrac of its EXECUTOR
    //    task time in JVM GC (absolute — catches the round-3 failure mode
    //    where EVERY trial of a leg ran 55 s of GC in a 72 s wall under
    //    host memory pressure, so the wall-relative rule saw a
    //    "consistent" leg and passed it). The denominator is task time,
    //    not wall: gc_secs sums across concurrent task threads (a stop-
    //    the-world pause bills every running task), so clean local[16]
    //    legs sit at gc/wall ~0.25 while gc/task stays ~0.03 — calibrated
    //    against every committed artifact: clean legs 0.016-0.028, the
    //    round-3 driver storm 0.076; the 0.05 threshold splits them with
    //    ~2x margin on both sides.
    //  - CONTENDED WINDOWS: the round's own busy-loop hardware caps
    //    (measured right before its legs) land below HwCapClean (register
    //    loop) or HwMemCapClean (memory-streaming loop) — the host is
    //    uniformly time-shared or bandwidth-choked, so every leg slows
    //    together with no wall outlier and no GC signal, yet even a
    //    perfectly-scaling probe cannot reach 4x throughput at 4x threads
    //    in that window. The register cap catches DVFS/time-slicing
    //    (clean committed windows 0.976/0.993; an observed 0.858 window
    //    scored weak-paired 0.714 with wall+GC rules green while its
    //    hw-normalized number was 0.852 — 0.93 splits them). The MEM cap
    //    catches bandwidth co-tenancy the register loop is blind to: the
    //    r3 clean windows (engine weak 0.856-0.890) measured mem caps
    //    0.682/0.788, while windows measuring 0.511-0.628 scored the
    //    engine 0.71-0.74 AT OR ABOVE the cap itself (the 16-thread legs
    //    burned 1.7-2x the task-seconds of the clean windows for
    //    identical work — per-core capacity loss, not engine behavior);
    //    0.65 splits them. Both probes are engine-independent by
    //    construction — they know nothing about the crawl — so retrying
    //    until the caps pass cannot select for favorable engine numbers;
    //    it selects for windows where the HOST can physically express
    //    scaling.
    //  - SENTINEL floors (fourth signal, defined just below capClean): the
    //    edge probes above are relative ratios sampled between legs, so
    //    they cannot see uniform steal that arrives DURING a leg and hits
    //    both widths proportionally — an in-leg single-thread busy-loop's
    //    ABSOLUTE rate can, compared against a per-leg-shape calibrated
    //    best (monotonic max across runs, bench/HOSTCAL.json).
    // A same-trial pair is "clean" when BOTH its legs pass all four
    // rules. The paired estimators below use ONLY clean pairs; if the
    // base trials yield fewer than MinCleanPairs of them, keep running
    // extra trial rounds (bounded) until a qualifying window is captured,
    // and record the regime (clean_pairs / gc_dirty_legs / round_caps /
    // extra_trials) in the JSON instead of silently reporting storm
    // numbers — a window that never cleans is visible as an all-low
    // round_caps array with clean_pairs 0.
    val CleanSlack = 1.30
    val GcStormFrac = 0.05
    val HwCapClean = sys.env.getOrElse("SPARK_GRAFT_BENCH_HWCAP_CLEAN", "0.93").toDouble
    val HwMemCapClean = sys.env.getOrElse("SPARK_GRAFT_BENCH_MEMCAP_CLEAN", "0.65").toDouble
    val MinCleanPairs = 2
    // Retry GOAL (value-blind): a median over exactly MinCleanPairs pairs is
    // the midpoint of two draws — high variance either direction (observed:
    // a strict 0.790 from pairs {0.883, 0.698}, the second at 0.757x
    // sentinel rate — inside every threshold but visibly degraded). Keep
    // collecting clean pairs up to TargetCleanPairs within the retry/wall
    // budget and publish the median over ALL of them. The stopping rule
    // stays count-based, never value-based, so extra pairs dilute a lucky
    // 2-pair draw exactly as they rescue an unlucky one.
    val TargetCleanPairs =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_TARGET_CLEAN", "4").toInt
    val maxExtraTrials = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_EXTRA", "6").toInt
    def gcStormed(r: CrawlRun): Boolean =
      r.gcSecs > GcStormFrac * math.max(r.taskSecs, r.secs)
    def capClean(w: HostWindow): Boolean =
      w.cpu >= HwCapClean && w.mem >= HwMemCapClean
    // FOURTH storm signal — the in-leg sentinel (see Sentinel's scaladoc):
    // a leg whose single-thread busy-loop rate, measured over the leg's own
    // window, lands below SentinelClean x the calibrated best for its leg
    // shape was CPU-starved while it ran, however clean the round's edge
    // probes read. Threshold: within one leg shape the clean-window rate is
    // stable (one thread, fixed width, fixed child profile) while the
    // observed uniform-steal windows run legs at 1.5-2.8x their clean
    // task-seconds (a ~0.4-0.65x cycle share); 0.70 is set below clean
    // variance and above the steal regime, env-overridable while the
    // per-shape record accumulates. With no calibration (first run, no
    // HOSTCAL.json) the floor self-anchors to this run's best per shape —
    // it can only flag legs >30% below a rate the SAME run proved
    // attainable.
    // Two sentinel criteria, either disqualifies:
    //  - STALL: the share of the leg's wall the sentinel thread spent
    //    parked in the run queue. Absolute and calibration-free — a host
    //    with spare cores never parks it (~0), an oversubscribed one parks
    //    it for scheduler quanta; 0.10 sits far above clean noise (parent
    //    safepoints are sub-ms) and far below observed steal regimes.
    //  - RATE floor vs the per-shape calibrated best: the backstop for
    //    regimes that slow cycles without queueing (frequency capping).
    //    Muted under steal (a single thread keeps a near-fair share while
    //    a 16-thread child starves collectively), hence secondary.
    val SentinelClean =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SENTINEL_CLEAN", "0.70").toDouble
    val SentinelStallMax =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SENTINEL_STALL_MAX", "0.10").toDouble
    def sentinelDirty(r: CrawlRun): Boolean = {
      val cal = sentinelCal(r.calKey)
      r.sentStall > SentinelStallMax ||
        (cal > 0 && r.sentinel > 0 && r.sentinel < SentinelClean * cal)
    }
    // Wall-slack minimums are taken over ALL GC-clean pairs, not just the
    // cap-clean subset: a contended window only ever makes legs SLOWER, so
    // the GC-clean min is a valid wall reference for every round — whereas
    // normalizing within the cap-clean subset lets a lone cap-clean round
    // compare its legs to themselves and pass the wall rule arbitrarily
    // stormed (observed: a 66.1 s wide leg, 1.85x the window's GC-clean
    // min and 2.3x its task-seconds, published as a 0.394 "clean" pair).
    def cleanPairs(pairs: List[(CrawlRun, CrawlRun, HostWindow)]): List[(CrawlRun, CrawlRun, HostWindow)] = {
      val noGc = pairs.filter { case (a, b, _) => !gcStormed(a) && !gcStormed(b) }
      if (noGc.isEmpty) Nil
      else {
        val minA = noGc.map(_._1.secs).min
        val minB = noGc.map(_._2.secs).min
        noGc.filter { case (a, b, cap) => capClean(cap) &&
          !sentinelDirty(a) && !sentinelDirty(b) &&
          a.secs <= minA * CleanSlack && b.secs <= minB * CleanSlack }
      }
    }
    // best single leg for the min-based headline numbers: prefer legs that
    // were neither GC-stormed nor in a contended window (their walls
    // measure the host, not the engine); degrade to GC-clean-only, then to
    // the raw min only if every trial of a leg was stormed
    def bestLeg(rs: List[(CrawlRun, HostWindow)]): Option[CrawlRun] = {
      val cleanCap = rs.filter { case (r, cap) =>
        !gcStormed(r) && capClean(cap) && !sentinelDirty(r) }
      val noGc = rs.filterNot { case (r, _) => gcStormed(r) }
      (if (cleanCap.nonEmpty) cleanCap else if (noGc.nonEmpty) noGc else rs)
        .map(_._1).sortBy(_.secs).headOption
    }
    // wall+GC-clean pairs REGARDLESS of the round's cap probes: feeds the
    // contended-window fallback median and the *_paired_best estimators so
    // neither is contaminated by wall- or GC-stormed legs (r4 ADVICE — the
    // previous fallback median filtered only GC storms and the previous
    // best ranged over ALL pairs, stormed ones included)
    def gcWallCleanPairs(pairs: List[(CrawlRun, CrawlRun, HostWindow)]): List[(CrawlRun, CrawlRun, HostWindow)] = {
      val noGc = pairs.filter { case (a, b, _) => !gcStormed(a) && !gcStormed(b) }
      if (noGc.isEmpty) Nil
      else {
        val minA = noGc.map(_._1.secs).min
        val minB = noGc.map(_._2.secs).min
        noGc.filter { case (a, b, _) =>
          a.secs <= minA * CleanSlack && b.secs <= minB * CleanSlack }
      }
    }
    var extraTrials = 0
    var extraPolite = 0
    def composeJson(): String = {
      val gcDirtyLegs = (runsLo ++ runsHi ++ runsWk).count(p => gcStormed(p._1))
      val contendedRounds = roundCaps.count(w => !capClean(w))
      // normalization denominators: the best hardware window observed across
      // the whole bench (start-of-bench sample + per-round samples) —
      // conservative by construction, dividing by the LARGEST observed cap
      // can only shrink the normalized number
      val normCap = (hwCap :: roundCaps.map(_.cpu)).max
      val normMemCap = (hwMemCap :: roundCaps.map(_.mem)).max
      val cLo = bestLeg(runsLo)
      val cHi = bestLeg(runsHi)
      val cWk = bestLeg(runsWk)
      val cPlLo = bestLeg(runsPlLo)
      val cPlHi = bestLeg(runsPlHi)
      val effStrong = for (a <- cLo; b <- cHi) yield b.fetchedPerSec / (4.0 * a.fetchedPerSec)
      // weak: per-core load equal; perfect scaling => equal wall time
      val effWeak = for (a <- cWk; b <- cHi) yield a.secs / b.secs
      // PAIRED estimators: min-of-each-leg is one-sided under host noise (a
      // clean window for one leg and storms for the other skews the ratio in
      // either direction); legs of the same trial run adjacently and so share
      // one host window. `paired` = MEDIAN ratio over the clean same-trial
      // pairs (the robust estimate); `paired_best` = max over the wall+GC-
      // clean pairs (the most favorable NON-STORMED pairing — an upper
      // bound; `*_best_raw` keeps the over-all-pairs max for transparency,
      // storm-contaminated pairs included).
      def median(xs: List[Double]): Option[Double] = {
        val s = xs.sorted
        if (s.isEmpty) None
        else if (s.size % 2 == 1) Some(s(s.size / 2))
        else Some((s(s.size / 2 - 1) + s(s.size / 2)) / 2)
      }
      def weakRatio(p: (CrawlRun, CrawlRun, HostWindow)) =
        math.min(1.0, p._1.secs / p._2.secs)
      def strongRatio(p: (CrawlRun, CrawlRun, HostWindow)) =
        math.min(1.0, p._2.fetchedPerSec / (4.0 * p._1.fetchedPerSec))
      // the strict headline needs MinCleanPairs — a 1-pair "median" IS that
      // pair, and MinCleanPairs exists because one pair is not evidence
      // (observed: a probe-blind starved round published 0.546 as the
      // strict headline from a single "clean" pair when the wall budget ran
      // out before retries; the same rule symmetrically suppresses a lone
      // FAVORABLE pair). Below the threshold the artifact publishes the
      // clean_pairs count, the contended-window median, and the retry trail.
      def strictMedian(ps: List[(CrawlRun, CrawlRun, HostWindow)],
          ratio: ((CrawlRun, CrawlRun, HostWindow)) => Double): Option[Double] =
        if (ps.size >= MinCleanPairs) median(ps.map(ratio)) else None
      val effWeakPaired = strictMedian(cleanPairs(pairsWkHi), weakRatio)
      // paired_best excludes sentinel-dirty pairs too ("the most favorable
      // NON-STORMED pairing" — a starved weak leg inflates the ratio); the
      // contended-window fallback median below deliberately does not: it is
      // the record of what the host allowed when it never cleaned
      def sentinelCleanPair(p: (CrawlRun, CrawlRun, HostWindow)): Boolean =
        !sentinelDirty(p._1) && !sentinelDirty(p._2)
      val effWeakPairedBest =
        gcWallCleanPairs(pairsWkHi).filter(sentinelCleanPair).map(weakRatio).maxOption
      val effWeakPairedBestRaw = pairsWkHi.map(weakRatio).maxOption
      // fallback record when no round's window ever cleaned: the median
      // over wall+GC-clean pairs (cap-contended rounds included — that is
      // the point: it records what the host allowed when it never cleaned)
      // — published under an explicit *_contended name, never as the
      // headline estimator
      val effWeakPairedContended =
        if (cleanPairs(pairsWkHi).size >= MinCleanPairs) None
        else median(gcWallCleanPairs(pairsWkHi).map(weakRatio))
      val effStrongPaired = strictMedian(cleanPairs(pairsLoHi), strongRatio)
      val effStrongPairedBest =
        gcWallCleanPairs(pairsLoHi).filter(sentinelCleanPair).map(strongRatio).maxOption
      val effStrongPairedBestRaw = pairsLoHi.map(strongRatio).maxOption
      val politeCleanPairs = cleanPairs(pairsPl)
      // same MinCleanPairs gate as the crawl strict median: a 1-pair
      // "median" IS that pair regardless of which block it sits in
      val effPolitePaired = strictMedian(politeCleanPairs, strongRatio)

      def f(d: Double) = BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      val qs = results.map { case (k, v) => s""""$k":${f(v)}""" }.mkString("{", ",", "}")
      val total = results.map(_._2).sum
      def legArr(rs: List[(CrawlRun, HostWindow)], g: CrawlRun => Double) =
        rs.map(r => f(g(r._1))).mkString("[", ",", "]")
      def trialsJson(rs: List[(CrawlRun, HostWindow)]) = legArr(rs, _.secs)
      // per-trial executor task-seconds, GC-seconds, and shuffle/input MB:
      // the capacity story (identical work costing more CPU-seconds in a
      // contended window) and the bandwidth story (how many bytes each leg
      // streams through the memory subsystem) are invisible in wall arrays
      // alone — record both in the artifact itself
      def legStats(rs: List[(CrawlRun, HostWindow)]) =
        s""""trials":${trialsJson(rs)},"trials_task_secs":${legArr(rs, _.taskSecs)},""" +
          s""""trials_gc_secs":${legArr(rs, _.gcSecs)},""" +
          s""""trials_shuf_rd_mb":${legArr(rs, _.shufRdMB)},""" +
          s""""trials_shuf_wr_mb":${legArr(rs, _.shufWrMB)},""" +
          s""""trials_input_mb":${legArr(rs, _.inputMB)},""" +
          s""""trials_spill_mb":${legArr(rs, _.spilledMB)},""" +
          s""""trials_sentinel_mops":${legArr(rs, _.sentinel / 1e6)},""" +
          s""""trials_sentinel_stall":${legArr(rs, _.sentStall)}"""
      def sentinelCalJson() =
        (hostcalFile.keySet ++ sentinelSeen.keySet).toSeq.sorted
          .map(k => s""""$k":${f(sentinelCal(k) / 1e6)}""").mkString("{", ",", "}")
      def capsJson(cs: List[HostWindow]) =
        s""""round_caps":${cs.map(w => f(w.cpu)).mkString("[", ",", "]")},""" +
          s""""round_mem_caps":${cs.map(w => f(w.mem)).mkString("[", ",", "]")}"""
      val politeJson = (for (a <- cPlLo; b <- cPlHi) yield
        s""","polite":{"pages":${a.pages},"budget":$politeBudget,"cycles_cap":$politeCycles,"waves_per_commit":$politeWaves,""" +
          s""""local$nLo":{"secs":${f(a.secs)},"fetched_per_sec":${f(a.fetchedPerSec)},${legStats(runsPlLo)}},""" +
          s""""local$nHi":{"secs":${f(b.secs)},"fetched_per_sec":${f(b.fetchedPerSec)},${legStats(runsPlHi)}},""" +
          s""""scaling_efficiency_strong":${f(b.fetchedPerSec / (4.0 * a.fetchedPerSec))},""" +
          s""""scaling_efficiency_strong_paired":${effPolitePaired.map(f).getOrElse("null")},""" +
          s""""clean_pairs":${politeCleanPairs.size},""" +
          s""""extra_trials":$extraPolite,""" +
          s""""gc_dirty_legs":${(runsPlLo ++ runsPlHi).count(p => gcStormed(p._1))},""" +
          s""""sentinel_dirty_legs":${(runsPlLo ++ runsPlHi).count(p => sentinelDirty(p._1))},""" +
          s"""${capsJson(politeRoundCaps)},""" +
          s""""contended_rounds":${politeRoundCaps.count(w => !capClean(w))},""" +
          s""""contended_pairs":${pairsPl.count(p => !capClean(p._3))},""" +
          s""""round_walls":${politeWalls.map(f).mkString("[", ",", "]")}}""")
        .getOrElse("")
      val crawlJson = (for (a <- cLo; b <- cHi; w <- cWk; es <- effStrong; ew <- effWeak) yield
        s""","crawl":{"pages":${a.pages},""" +
          s""""local$nLo":{"secs":${f(a.secs)},"fetched_per_sec":${f(a.fetchedPerSec)},"enqueue_per_sec":${f(a.enqueuePerSec)},"busy_cores":${f(a.busyCores)},"gc_secs":${f(a.gcSecs)},${legStats(runsLo)}},""" +
          s""""local$nHi":{"secs":${f(b.secs)},"fetched_per_sec":${f(b.fetchedPerSec)},"enqueue_per_sec":${f(b.enqueuePerSec)},"busy_cores":${f(b.busyCores)},"gc_secs":${f(b.gcSecs)},${legStats(runsHi)}},""" +
          s""""weak_local$nLo":{"pages":${w.pages},"secs":${f(w.secs)},"fetched_per_sec":${f(w.fetchedPerSec)},${legStats(runsWk)}},""" +
          s""""scaling_efficiency_strong":${f(es)},""" +
          s""""scaling_efficiency_strong_paired":${effStrongPaired.map(f).getOrElse("null")},""" +
          s""""scaling_efficiency_strong_paired_best":${effStrongPairedBest.map(f).getOrElse("null")},""" +
          s""""scaling_efficiency_strong_paired_best_raw":${effStrongPairedBestRaw.map(f).getOrElse("null")},""" +
          s""""scaling_efficiency_weak":${f(ew)},""" +
          s""""scaling_efficiency_weak_paired":${effWeakPaired.map(f).getOrElse("null")},""" +
          s""""scaling_efficiency_weak_paired_best":${effWeakPairedBest.map(f).getOrElse("null")},""" +
          s""""scaling_efficiency_weak_paired_best_raw":${effWeakPairedBestRaw.map(f).getOrElse("null")},""" +
          effWeakPairedContended.map(v =>
            s""""scaling_efficiency_weak_paired_contended_window":${f(v)},""").getOrElse("") +
          s""""clean_pairs":${cleanPairs(pairsWkHi).size},""" +
          s""""min_clean_pairs":$MinCleanPairs,""" +
          s""""target_clean_pairs":$TargetCleanPairs,""" +
          s""""extra_trials":$extraTrials,""" +
          s""""gc_dirty_legs":$gcDirtyLegs,""" +
          s""""gc_storm_frac":$GcStormFrac,""" +
          s""""sentinel_dirty_legs":${(runsLo ++ runsHi ++ runsWk).count(p => sentinelDirty(p._1))},""" +
          s""""sentinel_clean_frac":$SentinelClean,""" +
          s""""sentinel_stall_max":$SentinelStallMax,""" +
          s""""sentinel_cal_mops":${sentinelCalJson()},""" +
          s"""${capsJson(roundCaps)},""" +
          s""""contended_rounds":$contendedRounds,""" +
          s""""hwcap_clean_threshold":$HwCapClean,""" +
          s""""memcap_clean_threshold":$HwMemCapClean,""" +
          s""""scaling_efficiency_weak_hw_normalized":${f(math.min(1.0, ew / math.max(normCap, 1e-9)))},""" +
          s""""scaling_efficiency_weak_mem_normalized":${f(math.min(1.0, ew / math.max(normMemCap, 1e-9)))},""" +
          s""""hw_scaling_cap":${f(normCap)},""" +
          s""""hw_mem_scaling_cap":${f(normMemCap)},""" +
          s""""round_walls":${roundWalls.map(f).mkString("[", ",", "]")}}$politeJson""").getOrElse("")
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"sf":"$sfDir",""" +
        s""""bench_wall_secs":${f(elapsedSecs)},"wall_budget_secs":${f(maxWallSecs)},""" +
        s""""wall_exhausted":$wallExhausted$crawlJson}"""
    }
    // incremental atomic emission: after every round the CURRENT full JSON
    // lands at outPath via temp-file + rename, so a driver kill at any
    // point leaves the latest complete snapshot instead of nothing
    def emitSnapshot(): Unit = try {
      writeHostcal() // monotonic-max merge; same temp+rename durability
      val p = java.nio.file.Paths.get(outPath).toAbsolutePath
      Files.createDirectories(p.getParent)
      val tmp = Files.createTempFile(p.getParent, ".bench", ".tmp")
      Files.writeString(tmp, composeJson() + "\n")
      Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    } catch { case _: Throwable => () } // emission must never sink the bench
    emitRound = () => emitSnapshot()
    if (!skipCrawl) {
      // schedule: base trial rounds → base politeness rounds → slim weak
      // retries → politeness retries, every step gated by the wall budget
      // (base round 1 always runs — an artifact with one round beats none)
      var t = 0
      while (t < trials &&
        (t == 0 || wallAllows(roundWalls.maxOption.getOrElse(0.0)))) {
        trialRound(slim = false); t += 1
      }
      // the politeness leg gets the same clean-pair machinery (its 2-trial
      // r3 record spread 96-212 s for identical configs — noise published
      // as signal); bounded retries, metadata recorded either way. First-
      // round cost is unknown → estimate 2x a trial round.
      def politeEst: Double = politeWalls.maxOption
        .getOrElse(2.0 * roundWalls.maxOption.getOrElse(300.0))
      var p = 0
      while (p < politeTrials && wallAllows(politeEst)) { politeRound(); p += 1 }
      while (cleanPairs(pairsWkHi).size < TargetCleanPairs && extraTrials < maxExtraTrials &&
        wallAllows(0.8 * roundWalls.maxOption.getOrElse(300.0))) { // slim rounds skip the lo leg
        extraTrials += 1
        trialRound(slim = true)
      }
      while (p > 0 && cleanPairs(pairsPl).size < MinCleanPairs && extraPolite < 2 &&
        wallAllows(politeEst)) {
        extraPolite += 1
        politeRound()
      }
    }
    emitSnapshot()
    println(composeJson())
  }
}
