package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

import graft.fetch._
import graft.fixtures._
import graft.frontier.CrawlConfig
import graft.schema.{CrawlStatus, Doc, FetchTask, Span}
import graft.url.{PrefixUrlFilter, Urls}

/** Round-2 fetch-runtime features: per-path robots enforcement, per-host
  * politeness slots (fetcher.threads.per.queue), exponential exception
  * backoff, and in-task redirect following (http.redirect.max > 0) —
  * semantics per reference FetcherThread / FetchItemQueue(s). */
class FetchRuntime2Spec extends AnyFunSuite {

  val cfg = CrawlConfig(serverDelayMs = 1000, fetchLatencyMs = 10)
  val t0 = 1700000000000L

  def task(url: String, score: Float = 1f): FetchTask = {
    val host = Urls.hostOf(url)
    FetchTask(url, Urls.hash64(url), host, Urls.registeredDomainOf(host),
      CrawlStatus.DB_UNFETCHED, t0, 0, 2592000, score, 0)
  }

  /** Fetcher whose robots come from real robots.txt bodies (per-path rules). */
  case class BodyFetcher(
      bodies: Map[String, String],
      behaviors: Map[String, ProtocolResponse] = Map.empty,
      latency: Long = 10
  ) extends Fetcher {
    override def fetch(url: String): ProtocolResponse =
      behaviors.getOrElse(url, ProtocolResponse("SUCCESS", null,
        Doc(url, Seq(Span("text", "hello world", null, 0))), "text/html", latency))
    override def robotsRules(host: String): Option[Robots.RobotRules] =
      bodies.get(host).map(Robots.parse(_, "graftbot")).orElse(Some(Robots.AllowAll))
  }

  def run(tasks: Seq[FetchTask], fetcher: Fetcher, c: CrawlConfig = cfg): (Seq[FetchedPage], Seq[FetchPartitionMetrics]) = {
    val ms = mutable.ArrayBuffer.empty[FetchPartitionMetrics]
    val out = PolitenessExecutor.run(0, tasks.iterator, fetcher, c, t0, 1, ms += _).toSeq
    (out, ms.toSeq)
  }

  test("per-path robots rules: disallowed paths denied per URL, rest fetched") {
    val f = BodyFetcher(Map("a.fix.test" ->
      "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"))
    val tasks = Seq(
      task("http://a.fix.test/"),
      task("http://a.fix.test/public/page"),
      task("http://a.fix.test/private/secret"),
      task("http://a.fix.test/private/ok"),    // Allow beats shorter Disallow
      task("http://a.fix.test/private2"))      // prefix match: also denied
    val (out, m) = run(tasks, f)
    val byUrl = out.map(p => p.url -> p).toMap
    assert(byUrl("http://a.fix.test/").status == CrawlStatus.FETCH_SUCCESS)
    assert(byUrl("http://a.fix.test/public/page").status == CrawlStatus.FETCH_SUCCESS)
    assert(byUrl("http://a.fix.test/private/secret").protocol_status == "ROBOTS_DENIED")
    assert(byUrl("http://a.fix.test/private/ok").status == CrawlStatus.FETCH_SUCCESS)
    assert(byUrl("http://a.fix.test/private2").protocol_status == "ROBOTS_DENIED")
    assert(m.head.robots_denied == 2)
  }

  test("path-denied items consume no politeness wait") {
    val f = BodyFetcher(Map("a.fix.test" -> "User-agent: *\nDisallow: /no\n"))
    // 1 allowed + 5 denied: virtual time = one fetch latency only
    val tasks = task("http://a.fix.test/yes") +: (1 to 5).map(i => task(s"http://a.fix.test/no$i"))
    val (out, m) = run(tasks, f)
    assert(out.count(_.protocol_status == "ROBOTS_DENIED") == 5)
    assert(m.head.virtual_ms <= 10)
  }

  test("threadsPerQueue k: k fetches proceed per delay window (k slots)") {
    val n = 8
    val tasks = (1 to n).map(i => task(s"http://a.fix.test/p$i"))
    val f = BodyFetcher(Map.empty)
    val (_, m1) = run(tasks, f, cfg.copy(threadsPerQueue = 1))
    val (_, m2) = run(tasks, f, cfg.copy(threadsPerQueue = 2))
    // 2 slots halve the serialized wait (within a latency of slack)
    assert(m2.head.virtual_ms <= m1.head.virtual_ms / 2 + 2 * cfg.serverDelayMs)
    // each slot still honors the delay: time ≥ (ceil(n/k)-1) × delay
    assert(m2.head.virtual_ms >= (n / 2 - 1) * cfg.serverDelayMs)
  }

  test("robots Crawl-delay forces a single politeness slot") {
    val tasks = (1 to 4).map(i => task(s"http://cd.fix.test/p$i"))
    val f = BodyFetcher(Map("cd.fix.test" -> "User-agent: *\nDisallow:\nCrawl-delay: 2\n"))
    val (out, _) = run(tasks, f, cfg.copy(threadsPerQueue = 4))
    val times = out.map(_.fetch_time).sorted
    val gaps = times.zip(times.tail).map { case (a, b) => b - a }
    assert(gaps.forall(_ >= 2000), s"crawl-delay must serialize the queue, gaps=$gaps")
  }

  test("exponential exception backoff: retry gaps double until purge") {
    val boom = (1 to 4).map(i => s"http://bad.fix.test/p$i" ->
      ProtocolResponse("RETRY", null, null, null, 10)).toMap
    val c = cfg.copy(maxExceptionsPerQueue = 10, exceptionBackoffMaxMs = 1000000)
    val (out, _) = run((1 to 4).map(i => task(s"http://bad.fix.test/p$i")),
      BodyFetcher(Map.empty, boom), c)
    val times = out.map(_.fetch_time).sorted
    val gaps = times.zip(times.tail).map { case (a, b) => b - a }
    // delays: 1000×2^0, ×2^1, ×2^2 → gaps ≥ 1000, 2000, 4000 (plus latency)
    assert(gaps(0) >= 1000 && gaps(0) < 2000, s"gaps=$gaps")
    assert(gaps(1) >= 2000 && gaps(1) < 4000, s"gaps=$gaps")
    assert(gaps(2) >= 4000, s"gaps=$gaps")
  }

  test("exception backoff is capped") {
    val boom = (1 to 6).map(i => s"http://bad.fix.test/p$i" ->
      ProtocolResponse("RETRY", null, null, null, 10)).toMap
    val c = cfg.copy(maxExceptionsPerQueue = 10, exceptionBackoffMaxMs = 1500)
    val (out, _) = run((1 to 6).map(i => task(s"http://bad.fix.test/p$i")),
      BodyFetcher(Map.empty, boom), c)
    val times = out.map(_.fetch_time).sorted
    val gaps = times.zip(times.tail).map { case (a, b) => b - a }
    assert(gaps.forall(_ <= 1500 + 10), s"gaps must cap at 1500, gaps=$gaps")
  }

  test("redirectMax > 0 follows redirects in-task, up to the hop limit") {
    val behaviors = Map(
      "http://a.fix.test/r0" -> ProtocolResponse("MOVED", "http://a.fix.test/r1", null, null, 10),
      "http://a.fix.test/r1" -> ProtocolResponse("MOVED", "http://a.fix.test/r2", null, null, 10),
      "http://a.fix.test/r2" -> ProtocolResponse("MOVED", "http://a.fix.test/r3", null, null, 10))
    val f = BodyFetcher(Map.empty, behaviors)
    // redirectMax = 2: r0 → r1 (hop1) → r2 (hop2) → STOP; r3 not fetched
    val (out, m) = run(Seq(task("http://a.fix.test/r0")), f, cfg.copy(redirectMax = 2))
    val urls = out.map(_.url)
    assert(urls.toSet == Set("http://a.fix.test/r0", "http://a.fix.test/r1", "http://a.fix.test/r2"))
    assert(m.head.redirects == 3) // three redirect responses seen
    // a redirect target goes through the configured URL chain: a filter
    // that rejects r2 ends the chain at r1 (no fetch, no redirect span)
    val (outf, _) = run(Seq(task("http://a.fix.test/r0")), f, cfg.copy(redirectMax = 2,
      extraUrlFilters = Seq(PrefixUrlFilter(Seq("http://a.fix.test/r2"), deny = true))))
    assert(outf.map(_.url).toSet == Set("http://a.fix.test/r0", "http://a.fix.test/r1"))
    assert(outf.find(_.url == "http://a.fix.test/r1").get.spans.isEmpty)
    // default (redirectMax = 0): only the source is touched
    val (out0, _) = run(Seq(task("http://a.fix.test/r0")), f)
    assert(out0.map(_.url) == Seq("http://a.fix.test/r0"))
  }

  test("in-task redirect follow lands on success and respects cross-host queues") {
    val behaviors = Map(
      "http://a.fix.test/go" -> ProtocolResponse("MOVED", "http://b.fix.test/landing", null, null, 10))
    val f = BodyFetcher(Map.empty, behaviors)
    val (out, _) = run(Seq(task("http://a.fix.test/go")), f, cfg.copy(redirectMax = 3))
    val landing = out.find(_.url == "http://b.fix.test/landing").get
    assert(landing.status == CrawlStatus.FETCH_SUCCESS)
    assert(landing.host == "b.fix.test")
    // a second source redirecting to the SAME target is not fetched twice
    val behaviors2 = behaviors + ("http://a.fix.test/go2" ->
      ProtocolResponse("MOVED", "http://b.fix.test/landing", null, null, 10))
    val (out2, _) = run(Seq(task("http://a.fix.test/go"), task("http://a.fix.test/go2")),
      BodyFetcher(Map.empty, behaviors2), cfg.copy(redirectMax = 3))
    assert(out2.count(_.url == "http://b.fix.test/landing") == 1)
  }

  test("robots parser collects host-wide Sitemap lines") {
    val r = Robots.parse(
      "Sitemap: http://a.fix.test/sitemap.xml\nUser-agent: *\nDisallow: /x\nSitemap: http://a.fix.test/s2.xml\n",
      "graftbot")
    assert(r.sitemaps == Seq("http://a.fix.test/sitemap.xml", "http://a.fix.test/s2.xml"))
    assert(!r.isAllowed("/x/y") && r.isAllowed("/y"))
  }
}

/** Surrogate-safe URL escaping (distinct emoji paths must stay distinct in
  * the URL-seen key) and path extraction. */
class UrlEscapes2Spec extends AnyFunSuite {
  test("non-BMP characters escape as full-code-point UTF-8, not unpaired surrogates") {
    val a = Urls.canonicalize("http://a.fix.test/🎉") // 🎉
    val b = Urls.canonicalize("http://a.fix.test/🎊") // 🎊
    assert(a != b, s"distinct emoji paths must canonicalize distinctly: $a vs $b")
    assert(a == "http://a.fix.test/%F0%9F%8E%89")
    assert(Urls.hash64(a) != Urls.hash64(b))
    // idempotent
    assert(Urls.canonicalize(a) == a)
  }

  test("pathQueryOf extracts the robots-matchable portion") {
    assert(Urls.pathQueryOf("http://a.fix.test") == "/")
    assert(Urls.pathQueryOf("http://a.fix.test/") == "/")
    assert(Urls.pathQueryOf("http://a.fix.test/x/y?q=1") == "/x/y?q=1")
    assert(Urls.pathQueryOf("http://a.fix.test?q=1") == "/?q=1")
  }
}
