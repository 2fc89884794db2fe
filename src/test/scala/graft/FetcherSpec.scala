package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

import graft.fetch._
import graft.fixtures._
import graft.frontier.CrawlConfig
import graft.schema.{CrawlStatus, Doc, FetchTask, Span}
import graft.url.{PrefixUrlFilter, Urls}

/** Politeness + robots semantics of the fetch executor, mirroring the
  * reference's TestFetcher politeness-budget assertion
  * (reference/src/test/org/apache/nutch/fetcher/TestFetcher.java:118-121). */
class FetcherSpec extends AnyFunSuite {

  val cfg = CrawlConfig(serverDelayMs = 1000, fetchLatencyMs = 10, maxCrawlDelayMs = 30000)
  val t0 = 1700000000000L

  def task(url: String, score: Float = 1f): FetchTask = {
    val host = Urls.hostOf(url)
    FetchTask(url, Urls.hash64(url), host, Urls.registeredDomainOf(host),
      CrawlStatus.DB_UNFETCHED, t0, 0, 2592000, score, 1)
  }

  /** A fully scripted fetcher for exact assertions. */
  case class ScriptedFetcher(
      behaviors: Map[String, ProtocolResponse],
      robotsMap: Map[String, Option[Robots.RobotRules]],
      latency: Long = 10
  ) extends Fetcher {
    override def fetch(url: String): ProtocolResponse =
      behaviors.getOrElse(url, ProtocolResponse("SUCCESS", null,
        Doc(url, Seq(Span("text", "hello world content", null, 0))), "text/html", latency))
    override def robotsRules(host: String): Option[Robots.RobotRules] =
      robotsMap.getOrElse(host, Some(Robots.AllowAll))
  }

  def run(tasks: Seq[FetchTask], fetcher: Fetcher, c: CrawlConfig = cfg): (Seq[FetchedPage], Seq[FetchPartitionMetrics]) = {
    val ms = mutable.ArrayBuffer.empty[FetchPartitionMetrics]
    val out = PolitenessExecutor.run(0, tasks.iterator, fetcher, c, t0, 1, ms += _).toSeq
    (out, ms.toSeq)
  }

  test("in-task outlink follow: same-host links fetched to depth, politeness kept") {
    def page(url: String, links: Seq[String]) = ProtocolResponse("SUCCESS", null,
      Doc(url, links.zipWithIndex.map { case (l, i) => Span("link", "t", l, i) }),
      "text/html", 10)
    val A = "http://f.fix.test/a"; val B = "http://f.fix.test/b"
    val C = "http://x.fix.test/c" // external
    val D = "http://f.fix.test/d"; val E = "http://f.fix.test/e"
    val behaviors = Map(A -> page(A, Seq(B, C)), B -> page(B, Seq(D)), D -> page(D, Seq(E)))

    // depth 2: A → B → D; E is one level too deep, C is external (default skip)
    val c2 = cfg.copy(followOutlinksDepth = 2)
    val (out, _) = run(Seq(task(A)), ScriptedFetcher(behaviors, Map.empty), c2)
    assert(out.map(_.url).toSet == Set(A, B, D),
      s"depth 2 must fetch A→B→D, not E (too deep) or C (external): ${out.map(_.url)}")
    // politeness still applies to followed fetches (all same host)
    val times = out.map(_.fetch_time).sorted
    times.zip(times.tail).foreach { case (x, y) =>
      assert(y - x >= cfg.serverDelayMs, s"followed fetch gap ${y - x} < delay") }

    // a followed target goes through the configured URL chain: a filter
    // that rejects D stops the follow there (and E behind it)
    val cf = c2.copy(extraUrlFilters = Seq(PrefixUrlFilter(Seq(D), deny = true)))
    val (outf, _) = run(Seq(task(A)), ScriptedFetcher(behaviors, Map.empty), cf)
    assert(outf.map(_.url).toSet == Set(A, B), s"filtered D must not be fetched: ${outf.map(_.url)}")

    // depth 0 (reference default): nothing followed
    val (out0, _) = run(Seq(task(A)), ScriptedFetcher(behaviors, Map.empty), cfg)
    assert(out0.map(_.url) == Seq(A))

    // external follow is opt-in
    val cx = cfg.copy(followOutlinksDepth = 1, followOutlinksIgnoreExternal = false)
    val (outx, _) = run(Seq(task(A)), ScriptedFetcher(behaviors, Map.empty), cx)
    assert(outx.map(_.url).toSet == Set(A, B, C))

    // per-page link budget (follow.outlinks.num.links)
    val wide = "http://f.fix.test/wide"
    val targets = (1 to 5).map(i => s"http://f.fix.test/w$i")
    val cw = cfg.copy(followOutlinksDepth = 1, followOutlinksNumLinks = 2)
    val (outw, _) = run(Seq(task(wide)),
      ScriptedFetcher(Map(wide -> page(wide, targets)), Map.empty), cw)
    assert(outw.map(_.url).toSet == Set(wide, targets(0), targets(1)),
      s"only the first 2 links follow: ${outw.map(_.url)}")
  }

  test("per-host gap ≥ crawl delay (politeness budget)") {
    val tasks = (1 to 8).map(i => task(s"http://a.fix.test/p$i")) ++
      (1 to 8).map(i => task(s"http://b.fix.test/p$i"))
    val (out, metrics) = run(tasks, ScriptedFetcher(Map.empty, Map.empty))
    assert(out.size == 16)
    for ((host, pages) <- out.groupBy(_.host)) {
      val times = pages.map(_.fetch_time).sorted
      val gaps = times.zip(times.tail).map { case (a, b) => b - a }
      assert(gaps.forall(_ >= cfg.serverDelayMs), s"$host gaps $gaps must be ≥ ${cfg.serverDelayMs}")
    }
    // politeness floor like the reference test: total virtual time for 8
    // same-host fetches > (n-1) * delay
    assert(metrics.head.virtual_ms >= 7 * cfg.serverDelayMs)
    // but the two hosts interleave: virtual time far below 15 * delay
    assert(metrics.head.virtual_ms < 15 * cfg.serverDelayMs)
  }

  test("variable fetch delay (_variableFetchDelay_): stamped delay presets the queue, robots wins") {
    // slow host carries a 3000 ms generator-stamped delay (> serverDelayMs)
    val slow = (1 to 5).map(i => task(s"http://slow.fix.test/p$i").copy(fetch_delay_ms = 3000L))
    val fast = (1 to 5).map(i => task(s"http://fast.fix.test/p$i"))
    val (out, _) = run(slow ++ fast, ScriptedFetcher(Map.empty, Map.empty))
    val byHost = out.groupBy(_.host)
    def gaps(host: String) = {
      val times = byHost(host).map(_.fetch_time).sorted
      times.zip(times.tail).map { case (a, b) => b - a }
    }
    assert(gaps("slow.fix.test").forall(_ >= 3000L),
      s"variable delay must widen the gap: ${gaps("slow.fix.test")}")
    assert(gaps("fast.fix.test").forall(g => g >= cfg.serverDelayMs && g < 3000L),
      "unstamped host keeps the default server delay")
    // robots Crawl-delay still wins over the stamped delay
    val robots = (1 to 3).map(i => task(s"http://cd.fix.test/p$i").copy(fetch_delay_ms = 500L))
    val (out2, _) = run(robots, ScriptedFetcher(Map.empty,
      Map("cd.fix.test" -> Some(Robots.RobotRules(Nil, Some(6.0))))))
    val t2 = out2.map(_.fetch_time).sorted
    assert(t2.zip(t2.tail).forall { case (a, b) => b - a >= 6000L },
      "robots Crawl-delay must override the variable delay")
  }

  test("generator stamps hostDelays onto selected fetch tasks (broadcast join)") {
    val spark = SparkSpecBase.session
    import spark.implicits._
    val now = t0
    val entries = (1 to 4).map { i =>
      val url = s"http://slow.fix.test/p$i"
      graft.schema.FrontierEntry(url, Urls.hash64(url), "slow.fix.test", "slow.fix.test",
        CrawlStatus.DB_UNFETCHED, now - 1000, 0, 2592000, 1f, null, 0L, null, -1L, Map.empty)
    } ++ (1 to 4).map { i =>
      val url = s"http://fast.fix.test/p$i"
      graft.schema.FrontierEntry(url, Urls.hash64(url), "fast.fix.test", "fast.fix.test",
        CrawlStatus.DB_UNFETCHED, now - 1000, 0, 2592000, 1f, null, 0L, null, -1L, Map.empty)
    }
    val frontier = spark.createDataset(entries)
    val delays = Seq(("slow.fix.test", 2500L)).toDF("host", "delay_ms")
    val c = CrawlConfig(topN = 100, maxPerHost = 50, numFetchPartitions = 1)
    val (fl, _) = graft.generate.Generator.generate(frontier, c, now, 1,
      Map.empty, None, Some(delays))
    val tasks = fl.collect()
    assert(tasks.filter(_.host == "slow.fix.test").forall(_.fetch_delay_ms == 2500L))
    assert(tasks.filter(_.host == "fast.fix.test").forall(_.fetch_delay_ms == -1L))
  }

  test("robots deny-all → fetch_gone ROBOTS_DENIED, no politeness wait") {
    val tasks = (1 to 5).map(i => task(s"http://deny.fix.test/p$i"))
    val (out, m) = run(tasks, ScriptedFetcher(Map.empty, Map("deny.fix.test" -> Some(Robots.DenyAll))))
    assert(out.size == 5)
    assert(out.forall(p => p.status == CrawlStatus.FETCH_GONE && p.protocol_status == "ROBOTS_DENIED"))
    assert(m.head.robots_denied == 5)
    assert(m.head.virtual_ms == 0)
  }

  test("crawl-delay above max → host skipped as gone; below max → clamped delay honored") {
    val over = (1 to 3).map(i => task(s"http://slow.fix.test/p$i"))
    val (outOver, _) = run(over, ScriptedFetcher(Map.empty, Map("slow.fix.test" -> Some(Robots.RobotRules(Nil, Some(120.0))))))
    assert(outOver.forall(p => p.protocol_status == "ROBOTS_DELAY_TOO_LONG"))

    val ok = (1 to 4).map(i => task(s"http://meh.fix.test/p$i"))
    val (outOk, _) = run(ok, ScriptedFetcher(Map.empty, Map("meh.fix.test" -> Some(Robots.RobotRules(Nil, Some(2.0))))))
    val times = outOk.map(_.fetch_time).sorted
    val gaps = times.zip(times.tail).map { case (a, b) => b - a }
    assert(gaps.forall(_ >= 2000), s"crawl-delay 2s must be honored, gaps=$gaps")
  }

  test("robots 5xx → visits deferred as fetch_retry") {
    val (out, m) = run(Seq(task("http://err.fix.test/")),
      ScriptedFetcher(Map.empty, Map("err.fix.test" -> None)))
    assert(out.head.status == CrawlStatus.FETCH_RETRY)
    assert(out.head.protocol_status == "ROBOTS_DEFERRED")
    assert(m.head.robots_deferred == 1)
  }

  test("redirect: repr url election + target emitted as redirect span") {
    val f = ScriptedFetcher(Map(
      "http://a.fix.test/old" -> ProtocolResponse("MOVED", "http://a.fix.test/new", null, null, 10),
      "http://a.fix.test/tmp" -> ProtocolResponse("TEMP_MOVED", "http://a.fix.test/elsewhere-longer", null, null, 10)
    ), Map.empty)
    val (out, _) = run(Seq(task("http://a.fix.test/old"), task("http://a.fix.test/tmp")), f)
    val perm = out.find(_.url.endsWith("/old")).get
    assert(perm.status == CrawlStatus.FETCH_REDIR_PERM)
    assert(perm.repr_url == "http://a.fix.test/new") // permanent: destination wins
    assert(perm.spans == Seq(Span("redirect", null, "http://a.fix.test/new", 0)))
    val temp = out.find(_.url.endsWith("/tmp")).get
    assert(temp.status == CrawlStatus.FETCH_REDIR_TEMP)
    assert(temp.repr_url == "http://a.fix.test/tmp") // temporary: source stays
  }

  test("exception threshold purges the host queue") {
    val c = cfg.copy(maxExceptionsPerQueue = 3)
    val boom = (1 to 10).map(i => s"http://bad.fix.test/p$i" ->
      ProtocolResponse("RETRY", null, null, null, 10)).toMap
    val (out, m) = run((1 to 10).map(i => task(s"http://bad.fix.test/p$i")), ScriptedFetcher(boom, Map.empty), c)
    assert(out.size == 10)
    assert(out.count(_.protocol_status == "EXCEPTION") == 3)
    assert(out.count(_.protocol_status == "QUEUE_PURGED") == 7)
    assert(out.forall(_.status == CrawlStatus.FETCH_RETRY))
  }

  test("success carries spans and a content signature") {
    val (out, _) = run(Seq(task("http://a.fix.test/")), ScriptedFetcher(Map.empty, Map.empty))
    val p = out.head
    assert(p.status == CrawlStatus.FETCH_SUCCESS)
    assert(p.spans.nonEmpty && p.signature != null && p.signature.length == 16)
  }

  test("bounded admission: executor never materializes the whole fetchlist") {
    // 10_000 tasks across 100 hosts stream through a small admission window
    val tasks = for (i <- 1 to 10000) yield task(s"http://h${i % 100}.fix.test/p$i")
    val it = PolitenessExecutor.run(0, tasks.iterator, ScriptedFetcher(Map.empty, Map.empty, latency = 0),
      cfg.copy(serverDelayMs = 1, queueDepth = 4), t0, 1, _ => ())
    var n = 0
    while (it.hasNext) { it.next(); n += 1 }
    assert(n == 10000)
  }
}
