package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods
import graft.Bench.CrawlRun

/**
 * Host-window admission for [[Bench]]: the probes that measure what the
 * host delivered while a leg ran, and the rules that decide which N/4N leg
 * pairs are clean enough to publish. The co-tenanted host that made the
 * committed artifacts time-shares its CPUs in storms that stretch
 * arbitrary legs 2-4x (BASELINE.md §C), so a leg pair
 * counts only when BOTH legs pass every rule:
 *  - GC storm: a leg spends more than GcStormFrac of its executor task time
 *    in JVM GC;
 *  - wall slack: a leg lands above CleanSlack x that leg's minimum over the
 *    GC-clean pairs;
 *  - contended window: the round's edge probes (register loop, memory
 *    stream) fall below HwCapClean / HwMemCapClean;
 *  - sentinel: the in-leg single-thread busy loop stalled in the run queue
 *    for more than SentinelStallMax of the leg, or ran below SentinelClean x
 *    the calibrated best rate for the leg's shape.
 * Every probe is engine-independent, so retrying until a window cleans
 * selects for windows where the host can express scaling, never for
 * favorable engine numbers. [[admit]] is pure: it sees only the measured
 * legs, round windows and calibration, so committed artifacts replay
 * through it (BenchReplaySpec).
 */
private[graft] object HostWindow {

  /** Legs above 1.30x the GC-clean minimum of their kind are wall storms. */
  val CleanSlack = 1.30
  /** gc/task splits clean legs (0.016-0.028 in every committed artifact)
    * from the round-3 storm (0.076) with ~2x margin on both sides.
    * Task time, not wall: gc_secs sums over concurrent task threads. */
  val GcStormFrac = 0.05
  /** Register-loop cap: clean committed windows read 0.976/0.993; a 0.858
    * window scored weak-paired 0.714 with every other rule green. */
  val HwCapClean = 0.93
  /** Memory-stream cap: r3 clean windows read 0.682/0.788, windows at
    * 0.511-0.628 scored the engine at or above the cap itself. */
  val HwMemCapClean = 0.65
  /** Rate floor vs the calibrated best for the leg shape: below clean
    * variance, above the uniform-steal regime (legs at 1.5-2.8x their clean
    * task-seconds). Backstop for slowdowns without queueing (DVFS caps). */
  val SentinelClean = 0.70
  /** Run-queue share: ~0 on a host with spare cores, scheduler quanta on an
    * oversubscribed one. Absolute and calibration-free. */
  val SentinelStallMax = 0.10
  /** A 1-pair "median" IS that pair: one pair is not evidence. */
  val MinCleanPairs = 2
  /** Retry goal (count-based, never value-based): a median over exactly two
    * pairs is high-variance either way. */
  val TargetCleanPairs = 4
  val MaxExtraTrials = 6
  val MaxExtraPolite = 2

  /** A round's scaling caps: the per-component min of the probes taken
    * before and after its legs (a window choked at either edge is not clean). */
  final case class Window(cpu: Double, mem: Double) {
    def clean: Boolean = cpu >= HwCapClean && mem >= HwMemCapClean
    def min(o: Window): Window = Window(math.min(cpu, o.cpu), math.min(mem, o.mem))
  }

  /** One round's legs (None: not run, or its child failed). Crawl rounds
    * run lo (local[N], full pages), hi (local[4N], full pages) and wk
    * (local[N], pages/4); extra crawl rounds are slim and skip lo.
    * Politeness rounds run lo and hi only. */
  final case class Round(lo: Option[CrawlRun], hi: Option[CrawlRun],
      wk: Option[CrawlRun], window: Window, wall: Double, extra: Boolean)

  /** Same-round leg pairs (narrow, wide, window): legs of one round run
    * adjacently and share one host window. */
  type Pair = (CrawlRun, CrawlRun, Window)
  def weakPairs(rs: Seq[Round]): Seq[Pair] =
    rs.flatMap(r => for (h <- r.hi; w <- r.wk) yield (w, h, r.window))
  def strongPairs(rs: Seq[Round]): Seq[Pair] =
    rs.flatMap(r => for (h <- r.hi; l <- r.lo) yield (l, h, r.window))

  /** The admission rules under one sentinel calibration (leg shape → best
    * ops/s seen on this host). */
  final class Rules(cal: Map[String, Double]) {
    def gcStormed(r: CrawlRun): Boolean =
      r.gcSecs > GcStormFrac * math.max(r.taskSecs, r.secs)
    def sentinelDirty(r: CrawlRun): Boolean = {
      val best = cal.getOrElse(r.calKey, 0.0)
      r.sentStall > SentinelStallMax ||
        (best > 0 && r.sentinel > 0 && r.sentinel < SentinelClean * best)
    }
    /** GC-clean pairs within the wall slack, regardless of window. The wall
      * minimum ranges over ALL GC-clean pairs: a contended window only makes
      * legs slower, and a minimum taken within the cap-clean subset would
      * let a lone clean round compare its legs to themselves. */
    def gcWallCleanPairs(ps: Seq[Pair]): Seq[Pair] = {
      val noGc = ps.filter { case (a, b, _) => !gcStormed(a) && !gcStormed(b) }
      if (noGc.isEmpty) Nil
      else {
        val minA = noGc.map(_._1.secs).min
        val minB = noGc.map(_._2.secs).min
        noGc.filter { case (a, b, _) =>
          a.secs <= minA * CleanSlack && b.secs <= minB * CleanSlack }
      }
    }
    def sentinelClean(p: Pair): Boolean = !sentinelDirty(p._1) && !sentinelDirty(p._2)
    def cleanPairs(ps: Seq[Pair]): Seq[Pair] =
      gcWallCleanPairs(ps).filter(p => p._3.clean && sentinelClean(p))
    /** The headline leg: the fastest fully clean one, degrading to GC-clean,
      * then to the raw minimum only if every trial of the leg stormed. */
    def bestLeg(rs: Seq[(CrawlRun, Window)]): Option[CrawlRun] = {
      val clean = rs.filter { case (r, w) => !gcStormed(r) && w.clean && !sentinelDirty(r) }
      val noGc = rs.filterNot(p => gcStormed(p._1))
      (if (clean.nonEmpty) clean else if (noGc.nonEmpty) noGc else rs)
        .map(_._1).sortBy(_.secs).headOption
    }
  }

  /** Every published number is rounded half-up to 3 decimals. */
  def dec3(d: Double): JValue = JDecimal(BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP))

  private def median(xs: Seq[Double]): Option[Double] = Option.when(xs.nonEmpty) {
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }
  private def weakRatio(p: Pair): Double = math.min(1.0, p._1.secs / p._2.secs)
  private def strongRatio(p: Pair): Double =
    math.min(1.0, p._2.fetchedPerSec / (4.0 * p._1.fetchedPerSec))

  /**
   * The published `crawl` and `polite` blocks (each present once its legs
   * have a headline run). `cal` is the sentinel calibration in ops/s,
   * `start` the windows probed before the first round, `ratios` false when
   * 4N exceeds the host's cores (every scaling ratio is then null).
   *
   * Estimators: `*_paired` is the median ratio over clean same-round pairs,
   * published only from MinCleanPairs pairs; `*_paired_best` the max over
   * wall+GC-clean, sentinel-clean pairs; `*_best_raw` the max over all
   * pairs; `*_contended_window` (weak, only when the strict median is
   * withheld) the median over wall+GC-clean pairs of any window.
   */
  def admit(cal: Map[String, Double], ratios: Boolean, start: Window,
      crawl: Seq[Round], polite: Seq[Round], politeMeta: JObject): JObject = {
    val rules = new Rules(cal)
    import rules._
    def ratio(v: Option[Double]): JValue = v.filter(_ => ratios).map(dec3).getOrElse(JNull)
    def strict(ps: Seq[Pair], r: Pair => Double): Option[Double] =
      if (ps.size >= MinCleanPairs) median(ps.map(r)) else None
    def legs(rs: Seq[Round], leg: Round => Option[CrawlRun]) =
      rs.flatMap(r => leg(r).map((_, r.window)))
    def trials(rs: Seq[(CrawlRun, Window)]): JObject = {
      def arr(g: CrawlRun => Double): JValue = JArray(rs.map(r => dec3(g(r._1))).toList)
      ("trials" -> arr(_.secs)) ~ ("trials_task_secs" -> arr(_.taskSecs)) ~
        ("trials_gc_secs" -> arr(_.gcSecs)) ~ ("trials_shuf_rd_mb" -> arr(_.shufRdMB)) ~
        ("trials_shuf_wr_mb" -> arr(_.shufWrMB)) ~ ("trials_input_mb" -> arr(_.inputMB)) ~
        ("trials_spill_mb" -> arr(_.spilledMB)) ~
        ("trials_sentinel_mops" -> arr(_.sentinel / 1e6)) ~
        ("trials_sentinel_stall" -> arr(_.sentStall))
    }
    def head(r: CrawlRun): JObject =
      ("secs" -> dec3(r.secs)) ~ ("fetched_per_sec" -> dec3(r.fetchedPerSec))
    def caps(ws: Seq[Window]): JObject =
      ("round_caps" -> JArray(ws.map(w => dec3(w.cpu)).toList)) ~
        ("round_mem_caps" -> JArray(ws.map(w => dec3(w.mem)).toList))
    def dirty(rs: Seq[(CrawlRun, Window)], rule: CrawlRun => Boolean) = rs.count(p => rule(p._1))

    val (lo, hi, wk) = (legs(crawl, _.lo), legs(crawl, _.hi), legs(crawl, _.wk))
    val (wkHi, loHi) = (weakPairs(crawl), strongPairs(crawl))
    val crawlBlock = for (a <- bestLeg(lo); b <- bestLeg(hi); w <- bestLeg(wk)) yield {
      val ew = w.secs / b.secs
      val clean = cleanPairs(wkHi)
      // normalization divides by the LARGEST cap observed in the run, which
      // can only shrink the normalized number
      val normCap = (start.cpu +: crawl.map(_.window.cpu)).max
      val normMemCap = (start.mem +: crawl.map(_.window.mem)).max
      def crawlLeg(r: CrawlRun, rs: Seq[(CrawlRun, Window)]) = head(r) ~
        ("enqueue_per_sec" -> dec3(r.enqueuePerSec)) ~ ("busy_cores" -> dec3(r.busyCores)) ~
        ("gc_secs" -> dec3(r.gcSecs)) ~ trials(rs)
      def best(ps: Seq[Pair], r: Pair => Double) =
        gcWallCleanPairs(ps).filter(sentinelClean).map(r).maxOption
      val contended =
        if (clean.size >= MinCleanPairs) None else median(gcWallCleanPairs(wkHi).map(weakRatio))
      ("pages" -> a.pages) ~
        (s"local${a.cores}" -> crawlLeg(a, lo)) ~ (s"local${b.cores}" -> crawlLeg(b, hi)) ~
        (s"weak_local${w.cores}" -> (("pages" -> w.pages) ~ head(w) ~ trials(wk))) ~
        ("scaling_efficiency_strong" -> ratio(Some(b.fetchedPerSec / (4.0 * a.fetchedPerSec)))) ~
        ("scaling_efficiency_strong_paired" -> ratio(strict(cleanPairs(loHi), strongRatio))) ~
        ("scaling_efficiency_strong_paired_best" -> ratio(best(loHi, strongRatio))) ~
        ("scaling_efficiency_strong_paired_best_raw" -> ratio(loHi.map(strongRatio).maxOption)) ~
        ("scaling_efficiency_weak" -> ratio(Some(ew))) ~
        ("scaling_efficiency_weak_paired" -> ratio(strict(clean, weakRatio))) ~
        ("scaling_efficiency_weak_paired_best" -> ratio(best(wkHi, weakRatio))) ~
        ("scaling_efficiency_weak_paired_best_raw" -> ratio(wkHi.map(weakRatio).maxOption)) ~
        JObject(contended.map(v =>
          "scaling_efficiency_weak_paired_contended_window" -> ratio(Some(v))).toList) ~
        ("clean_pairs" -> clean.size) ~ ("min_clean_pairs" -> MinCleanPairs) ~
        ("target_clean_pairs" -> TargetCleanPairs) ~ ("extra_trials" -> crawl.count(_.extra)) ~
        ("gc_dirty_legs" -> dirty(lo ++ hi ++ wk, gcStormed)) ~ ("gc_storm_frac" -> GcStormFrac) ~
        ("sentinel_dirty_legs" -> dirty(lo ++ hi ++ wk, sentinelDirty)) ~
        ("sentinel_clean_frac" -> SentinelClean) ~ ("sentinel_stall_max" -> SentinelStallMax) ~
        ("sentinel_cal_mops" -> JObject(cal.toList.sortBy(_._1).map { case (k, v) => k -> dec3(v / 1e6) })) ~
        caps(crawl.map(_.window)) ~ ("contended_rounds" -> crawl.count(!_.window.clean)) ~
        ("hwcap_clean_threshold" -> HwCapClean) ~ ("memcap_clean_threshold" -> HwMemCapClean) ~
        ("scaling_efficiency_weak_hw_normalized" -> ratio(Some(math.min(1.0, ew / math.max(normCap, 1e-9))))) ~
        ("scaling_efficiency_weak_mem_normalized" -> ratio(Some(math.min(1.0, ew / math.max(normMemCap, 1e-9))))) ~
        ("hw_scaling_cap" -> dec3(normCap)) ~ ("hw_mem_scaling_cap" -> dec3(normMemCap)) ~
        ("round_walls" -> JArray(crawl.map(r => dec3(r.wall)).toList))
    }

    val (plLo, plHi) = (legs(polite, _.lo), legs(polite, _.hi))
    val pl = strongPairs(polite)
    val politeBlock = for (a <- bestLeg(plLo); b <- bestLeg(plHi)) yield {
      val clean = cleanPairs(pl)
      ("pages" -> a.pages) ~ politeMeta ~
        (s"local${a.cores}" -> (head(a) ~ trials(plLo))) ~
        (s"local${b.cores}" -> (head(b) ~ trials(plHi))) ~
        ("scaling_efficiency_strong" -> ratio(Some(b.fetchedPerSec / (4.0 * a.fetchedPerSec)))) ~
        ("scaling_efficiency_strong_paired" -> ratio(strict(clean, strongRatio))) ~
        ("clean_pairs" -> clean.size) ~ ("extra_trials" -> polite.count(_.extra)) ~
        ("gc_dirty_legs" -> dirty(plLo ++ plHi, gcStormed)) ~
        ("sentinel_dirty_legs" -> dirty(plLo ++ plHi, sentinelDirty)) ~
        caps(polite.map(_.window)) ~ ("contended_rounds" -> polite.count(!_.window.clean)) ~
        ("contended_pairs" -> pl.count(!_._3.clean)) ~
        ("round_walls" -> JArray(polite.map(r => dec3(r.wall)).toList))
    }
    JObject(crawlBlock.map("crawl" -> _).toList ++ politeBlock.map("polite" -> _))
  }

  // ---- probes -------------------------------------------------------------

  /** Both scaling caps of the host window at widths n1 → n2. */
  def probe(n1: Int, n2: Int): Window = Window(cpuCap(n1, n2), memCap(n1, n2))

  /** Register busy-loop cap: this VM's cores downclock as more go busy
    * (turbo/DVFS), so even perfectly-scaling software cannot show 4x
    * throughput at 4x threads. */
  private def cpuCap(n1: Int, n2: Int): Double =
    cap(n1, n2) { iters =>
      var x = 0.0d; var i = 0L
      while (i < iters) { x += i * 1.000000001d; i += 1 }
      if (x == 42.0) println(x) // defeat DCE
    }

  /** Memory-bandwidth cap: the register loop is blind to the memory
    * subsystem, which data-processing threads on ONE box contend for. Each
    * thread streams its own 64 MiB array; a real n2-executor cluster has
    * n2/n1 x the channels, so this is a property of the single-VM stand-in. */
  private def memCap(n1: Int, n2: Int): Double = {
    val words = 8 * 1024 * 1024 // 64 MiB per thread
    // pooled across samples (threads are fresh per sample): live arrays never
    // exceed the widest width, and warmup pre-populates the pool so trial
    // timing excludes allocation
    val pool = new java.util.concurrent.ConcurrentLinkedQueue[Array[Long]]()
    // 0.5 x 600M word-reads ≈ 2.4 GiB streamed per thread per sample
    cap(n1, n2, itersScale = 0.5) { iters =>
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

  private def cap(n1: Int, n2: Int, itersScale: Double = 1.0)(body: Long => Unit): Double = {
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
    // best-of-3 per width (time-sharing depresses arbitrary trials); a cap
    // > 1 is physically impossible, so clamp
    val a = (1 to 3).map(_ => aggPerSec(n1)).max
    val b = (1 to 3).map(_ => aggPerSec(n2)).max
    math.min(1.0, b / (n2.toDouble / n1 * a))
  }

  /** A chunk of 1M float ops takes ~1-3 ms; a longer inter-chunk gap is a
    * deschedule (run-queue wait) — even a 4x DVFS slowdown stays under 6 ms. */
  private val StallGapNanos = 10L * 1000 * 1000

  /**
   * In-leg sentinel: one register busy-loop thread for exactly the duration
   * of `body`. Returns (result, ops/s, stall fraction). The edge probes are
   * relative ratios sampled between legs, so they miss uniform steal that
   * arrives DURING a leg and slows both widths alike; the sentinel sees it.
   * Its stall fraction (share of the wall parked in the run queue) is the
   * primary signal: CFS gives one thread a near-fair share even while a
   * 16-thread child starves, so the rate is muted under steal. Rates are
   * comparable only between identical leg shapes (turbo varies with width
   * and child profile), hence the per-shape calibration key.
   */
  def sentinel[T](body: => T): (T, Double, Double) = {
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

  // ---- calibration I/O ----------------------------------------------------

  /**
   * The sentinel floor needs an absolute reference for what this host's
   * cycles look like when delivered; a uniformly stolen window has none of
   * its own. So the best rate per leg shape is kept in a HOSTCAL file and
   * merged max-wise across runs. With no file the floor self-anchors to
   * this run's best; a file from a cleaner window only tightens it. Pure
   * hardware measurement: a slow engine cannot be laundered into "the host
   * was contended".
   */
  final class Calibration(path: String) {
    private val stored: Map[String, Double] =
      try JsonMethods.parse(Files.readString(Paths.get(path)))
        .extract[Map[String, Double]](DefaultFormats, implicitly)
      catch { case NonFatal(_) => Map.empty }
    private val seen = TrieMap.empty[String, Double]
    def note(r: CrawlRun): CrawlRun = {
      if (r.sentinel > 0)
        seen.updateWith(r.calKey)(v => Some(math.max(v.getOrElse(0.0), r.sentinel))): Unit
      r
    }
    /** Leg shape → best ops/s, stored or seen in this run. */
    def all: Map[String, Double] = (stored.keySet ++ seen.keySet).map(k =>
      k -> math.max(stored.getOrElse(k, 0.0), seen.getOrElse(k, 0.0))).toMap
    /** Rewrites the file only when this run measured a leg. */
    def write(): Unit = if (seen.nonEmpty) writeAtomic(path, JsonMethods.compact(
      JObject(all.toList.sortBy(_._1).map { case (k, v) => k -> JDouble(v) })))
  }

  /** Write `text` + newline to `path` via a temp file and atomic rename, so a
    * kill at any point leaves the previous or the new file, never half. */
  def writeAtomic(path: String, text: String): Unit = {
    val p = Paths.get(path).toAbsolutePath
    Files.createDirectories(p.getParent)
    val tmp = Files.createTempFile(p.getParent, ".bench", ".tmp")
    Files.writeString(tmp, text + "\n")
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING): Unit
  }
}
