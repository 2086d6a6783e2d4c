package graft

import java.nio.file.{Files, Paths}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite
import graft.Bench.CrawlRun
import graft.HostWindow.{Round, Window}

/**
 * The bench's admission rules, replayed over the committed round-5
 * artifacts: each artifact's own per-trial arrays, round windows and
 * sentinel calibration go through [[HostWindow.admit]], which must
 * reproduce the values that run published. Pure: no JVM children, no probes.
 */
class BenchReplaySpec extends AnyFunSuite {
  implicit val formats: Formats = DefaultFormats

  private def load(name: String): JValue =
    JsonMethods.parse(Files.readString(Paths.get("bench", name)))

  private def dbl(v: JValue): Double = v match {
    case JDouble(d) => d
    case JInt(i) => i.toDouble
    case JDecimal(d) => d.toDouble
    case other => fail(s"not a number: $other")
  }
  private def arr(v: JValue): Seq[Double] = v.asInstanceOf[JArray].arr.map(dbl)

  /** Per-trial legs of one leg block; `fetched` per trial is the block's
    * fetched_per_sec x secs (the leg's work is identical every trial). */
  private def legs(block: JValue, cores: Int, calKey: String): Seq[CrawlRun] = {
    val fetched = math.round(dbl(block \ "fetched_per_sec") * dbl(block \ "secs"))
    val secs = arr(block \ "trials")
    secs.indices.map(i => CrawlRun(cores, 0L, fetched, fetched, secs(i),
      arr(block \ "trials_task_secs")(i), arr(block \ "trials_gc_secs")(i),
      sentinel = arr(block \ "trials_sentinel_mops")(i) * 1e6, calKey = calKey,
      sentStall = arr(block \ "trials_sentinel_stall")(i)))
  }

  private def windows(block: JValue): Seq[Window] =
    arr(block \ "round_caps").zip(arr(block \ "round_mem_caps")).map { case (c, m) => Window(c, m) }

  /** Rounds by index: hi(i) with wk(i) and window(i); lo only in the base
    * rounds (extra crawl rounds are slim). */
  private def rounds(lo: Seq[CrawlRun], hi: Seq[CrawlRun], wk: Seq[CrawlRun],
      ws: Seq[Window], base: Int): Seq[Round] =
    ws.indices.map(i => Round(lo.lift(i), hi.lift(i), wk.lift(i), ws(i), 0.0, i >= base))

  /** One artifact's arrays as `admit`'s inputs. */
  private final case class Replay(art: JValue, cal: Map[String, Double],
      crawl: Seq[Round], polite: Seq[Round]) {
    def admit(meta: JObject = JObject()): JObject =
      HostWindow.admit(cal, ratios = true, Window(0.0, 0.0), crawl, polite, meta)
  }

  /** Leg shapes as the r5 runs keyed them: c<cores>_p<requested pages>. */
  private def replay(name: String): Replay = {
    val art = load(name)
    val crawl = art \ "crawl"
    val polite = art \ "polite"
    val n = crawl.asInstanceOf[JObject].obj.map(_._1).collectFirst {
      case k if k.startsWith("local") => k.stripPrefix("local").toInt }.get
    val cal = (crawl \ "sentinel_cal_mops").extract[Map[String, Double]]
      .map { case (k, v) => k -> v * 1e6 }
    def leg(b: JValue, key: String, c: Int, pages: Int) = legs(b \ key, c, s"c${c}_p$pages")
    Replay(art, cal,
      rounds(leg(crawl, s"local$n", n, 600000), leg(crawl, s"local${4 * n}", 4 * n, 600000),
        leg(crawl, s"weak_local$n", n, 150000), windows(crawl), base = 4),
      rounds(leg(polite, s"local$n", n, 12800), leg(polite, s"local${4 * n}", 4 * n, 12800),
        Nil, windows(polite), base = 2))
  }

  private val crawlKeys = Seq("clean_pairs", "gc_dirty_legs", "sentinel_dirty_legs",
    "contended_rounds", "scaling_efficiency_weak_paired", "scaling_efficiency_strong_paired",
    "scaling_efficiency_weak_paired_best", "scaling_efficiency_weak_paired_best_raw")
  private val politeKeys = Seq("clean_pairs", "scaling_efficiency_strong_paired")

  private def assertSame(where: String, got: JValue, published: JValue): Unit =
    (got, published) match {
      case (JNull, JNull) =>
      case (JNull, p) => fail(s"$where: replay withheld, published $p")
      case (g, JNull | JNothing) => fail(s"$where: replay $g, published none")
      case (g, p) => assert(math.abs(dbl(g) - dbl(p)) <= 0.001, s"$where: replay $g vs published $p")
    }

  private val r5 = Seq("r5h_crawl", "r5i_crawl", "r5j_crawl", "r5k_crawl", "r5l_crawl",
    "r5m_crawl", "r5n", "r5o_crawl", "r5p_crawl").map(w => s"BENCH_local_$w.json")

  r5.foreach { name =>
    test(s"admit reproduces the published admission of $name") {
      val r = replay(name)
      val (art, got) = (r.art, r.admit())
      crawlKeys.foreach(k => assertSame(s"crawl.$k", got \ "crawl" \ k, art \ "crawl" \ k))
      politeKeys.foreach(k => assertSame(s"polite.$k", got \ "polite" \ k, art \ "polite" \ k))
    }
  }

  test("contended-window fallback: no clean window withholds the strict median") {
    def run(cores: Int, secs: Double) =
      CrawlRun(cores, 1000L, 1000L, 1000L, secs, taskSecs = secs * cores, calKey = s"c$cores")
    // every round's register cap is below HwCapClean, the legs are otherwise clean
    val ws = Seq(Window(0.90, 0.80), Window(0.91, 0.80), Window(0.92, 0.80))
    val weak = Seq(8.0, 9.0, 9.5)
    val rs = ws.indices.map(i =>
      Round(Some(run(1, 20.0)), Some(run(4, 10.0)), Some(run(1, weak(i))), ws(i), 1.0, extra = false))
    val block = HostWindow.admit(Map.empty, ratios = true, Window(0.9, 0.8), rs, Nil, JObject()) \ "crawl"
    assert(block \ "clean_pairs" === JInt(0))
    assert(block \ "contended_rounds" === JInt(3))
    assert(block \ "scaling_efficiency_weak_paired" === JNull)
    assertSame("contended", block \ "scaling_efficiency_weak_paired_contended_window", JDouble(0.9))
    assertSame("best", block \ "scaling_efficiency_weak_paired_best", JDouble(0.95))
    // a GC-stormed pair leaves the fallback median, wall slack still applies
    val stormed = rs.updated(2, rs(2).copy(wk = Some(run(1, 9.5).copy(gcSecs = 5.0))))
    val b2 = HostWindow.admit(Map.empty, ratios = true, Window(0.9, 0.8), stormed, Nil, JObject()) \ "crawl"
    assertSame("contended without storm", b2 \ "scaling_efficiency_weak_paired_contended_window", JDouble(0.85))
    assert(b2 \ "gc_dirty_legs" === JInt(1))
    // with ratios refused every scaling value is null, the counts stay
    val refused = HostWindow.admit(Map.empty, ratios = false, Window(0.9, 0.8), rs, Nil, JObject()) \ "crawl"
    assert(refused \ "scaling_efficiency_weak_paired_contended_window" === JNull)
    assert(refused \ "scaling_efficiency_weak" === JNull)
    assert(refused \ "contended_rounds" === JInt(3))
  }

  test("sentinel rules: a stall above 0.10 or a rate below 0.70x its shape's calibration") {
    // no committed leg stalled above 0.028, so the replays above never reach the stall rule
    def leg(stall: Double, rate: Double) =
      CrawlRun(4, 1L, 1L, 1L, 1.0, sentinel = rate, calKey = "c4", sentStall = stall)
    val rules = new HostWindow.Rules(Map("c4" -> 1000.0))
    assert(!rules.sentinelDirty(leg(0.10, 701.0)))
    assert(rules.sentinelDirty(leg(0.11, 1000.0)))
    assert(rules.sentinelDirty(leg(0.0, 699.0)))
    assert(!new HostWindow.Rules(Map.empty).sentinelDirty(leg(0.0, 1.0)), "no calibration, no rate floor")
  }

  private def paths(v: JValue, prefix: String = ""): Set[String] = v match {
    case JObject(fs) => fs.flatMap { case (k, x) => paths(x, s"$prefix/$k") + s"$prefix/$k" }.toSet
    case _ => Set.empty
  }

  test("the artifact emitted for r5p's replayed legs has r5p's key paths plus cores and failed_queries") {
    import org.json4s.JsonDSL._
    val r = replay("BENCH_local_r5p_crawl.json")
    val meta = ("budget" -> 10) ~ ("cycles_cap" -> 25) ~ ("waves_per_commit" -> 4)
    val emitted = Bench.artifact("/sf", 32, Nil, Nil, 1.0, 2.0, exhausted = false, r.admit(meta))
    assert(paths(emitted) === paths(r.art) + "/cores" + "/failed_queries")
    val text = JsonMethods.compact(emitted)
    assert(text.contains("\"scaling_efficiency_weak_paired\":0.747"), text)
    assert(text.contains("\"trials\":[50.464,44.199,46.980,40.357]"), text)
  }

  test("legWidths sizes N from the cores and refuses the ratio when 4N exceeds them") {
    assert(Bench.legWidths(4) === ((1, 4, true)))
    assert(Bench.legWidths(32) === ((4, 16, true)))
    assert(Bench.legWidths(2) === ((1, 4, false)))
  }

  test("nextRound: a 229 s crawl round and a 600 s wall run no crawl retry before politeness") {
    def round(wall: Double, extra: Boolean) = Round(None, None, None, Window(1.0, 1.0), wall, extra)
    // every query-suite time the wall leaves room for; from a start of
    // 100-140 s a slim retry (est. 0.8x) fits where a first politeness
    // round (est. 2x) does not
    val schedules = (0 to 370 by 10).map { start =>
      var p = Bench.Progress(start, 600, Nil, Nil, weakClean = 0, politeClean = 0)
      val ran = Iterator.continually(Bench.nextRound(p)._1).takeWhile(_.nonEmpty).map(_.get)
        .map { n =>
          assert(n.polite || !n.extra || p.polite.nonEmpty,
            s"start $start: a crawl retry ahead of any politeness round")
          val wall = if (n.polite) 2 * 229.0 else 229.0
          p = if (n.polite) p.copy(elapsed = p.elapsed + wall, polite = p.polite :+ round(wall, n.extra))
            else p.copy(elapsed = p.elapsed + wall, crawl = p.crawl :+ round(wall, n.extra))
          n
        }.toList
      assert(Bench.nextRound(p)._2, s"start $start: the wall turned a round down")
      ran
    }
    assert(schedules.forall(_.forall(n => !n.extra)), schedules)
    assert(schedules.head === List(Bench.Next(false, false), Bench.Next(false, false)))
    // with the politeness rounds in, 270 s left (no room for a trial round)
    // does buy a slim retry
    val p = Bench.Progress(330, 600, Seq(round(229, false)),
      Seq(round(60, false), round(60, false)), 0, 0)
    assert(Bench.nextRound(p) === ((Some(Bench.Next(false, true)), true)))
  }
}
