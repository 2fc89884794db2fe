package graft.fixtures

import org.apache.spark.sql.{Dataset, SparkSession}
import scala.util.Random

import graft.schema.{Doc, Span}
import graft.url.Urls

/** Deterministic synthetic web (FIXTURES.md §3): the crawl target.
  *
  * Everything about a URL — its robots policy, fetch outcome, latency and
  * rendered spans — is a pure function of (config, url), so the fetch stage
  * needs no side table or network: "the internet" is a deterministic
  * function shipped in the task closure. Seeded; no ambient clock/random
  * (unlike reference/src/java/org/apache/nutch/crawl/Generator.java:1067,1100-1109
  * whose partition seed and segment names come from ambient time).
  *
  * Host population is Zipf-skewed: host 0 carries `hotFactor` times the
  * pages of a normal host, to exercise per-host caps and salting.
  */
case class WebConfig(
    nHosts: Int = 10,
    pagesPerHost: Int = 20,
    hotFactor: Int = 8,     // host-000 has hotFactor × pagesPerHost pages
    seed: Long = 42L,
    linkFanout: Int = 8,    // max outlinks per page
    externalLinkPct: Int = 20
)

/** Fetch outcome classes of the synthetic site. */
sealed trait PageBehavior extends Serializable
object PageBehavior {
  case object Ok extends PageBehavior
  case object NotFound extends PageBehavior
  case class RedirectTemp(to: String) extends PageBehavior
  case class RedirectPerm(to: String) extends PageBehavior
  case object ServerError extends PageBehavior // transient → fetch_retry
}

/** Per-host robots policy of the fixture web (served as robots.txt bodies). */
sealed trait RobotsPolicy extends Serializable
object RobotsPolicy {
  case object AllowAll extends RobotsPolicy
  case object DenyAll extends RobotsPolicy
  case class CrawlDelay(seconds: Int) extends RobotsPolicy
  case object Unavailable5xx extends RobotsPolicy // defer visits
}

case class SyntheticWeb(cfg: WebConfig) extends Serializable {
  import PageBehavior._

  private val words = Array(
    "spark", "crawl", "frontier", "fetch", "parse", "merge", "score", "host",
    "queue", "robots", "link", "anchor", "page", "index", "batch", "round",
    "shard", "bloom", "hash", "delta", "graph", "rank", "seed", "delay")

  def hostName(i: Int): String = f"host-$i%03d.fix.test"
  def pageCount(hostIdx: Int): Int =
    if (hostIdx == 0) cfg.pagesPerHost * cfg.hotFactor else cfg.pagesPerHost
  def pageUrl(hostIdx: Int, page: Int): String =
    if (page == 0) s"http://${hostName(hostIdx)}/"
    else s"http://${hostName(hostIdx)}/page-$page"

  def seedUrls: Seq[String] = (0 until cfg.nHosts).map(pageUrl(_, 0))

  /** Parse (hostIdx, pageIdx) back out of a synthetic URL; None if foreign. */
  def locate(url: String): Option[(Int, Int)] = {
    val host = Urls.hostOf(url)
    if (host == null || !host.endsWith(".fix.test") || !host.startsWith("host-")) return None
    val idx = host.substring(5, host.indexOf('.')).toIntOption.getOrElse(return None)
    if (idx < 0 || idx >= cfg.nHosts) return None
    val path = url.substring(url.indexOf(host) + host.length)
    val page =
      if (path.isEmpty || path == "/") 0
      else if (path.startsWith("/page-")) path.substring(6).takeWhile(_.isDigit).toIntOption.getOrElse(return None)
      else return None
    if (page >= pageCount(idx)) None else Some((idx, page))
  }

  private def rng(url: String, salt: Long): Random =
    new Random(Urls.hash64(url) ^ cfg.seed ^ salt)

  /** Robots policy per host, deterministic from host name. */
  def robots(host: String): RobotsPolicy = {
    val h = math.floorMod(Urls.hash64(host) ^ cfg.seed, 20L).toInt
    h match {
      case 0 => RobotsPolicy.DenyAll
      case 1 => RobotsPolicy.CrawlDelay(2)
      case 2 => RobotsPolicy.CrawlDelay(120) // > fetcher.max.crawl.delay → host skipped
      case 3 => RobotsPolicy.Unavailable5xx
      case _ => RobotsPolicy.AllowAll
    }
  }

  /** Hosts advertising a sitemap (deterministic subset of the allow-all
    * hosts) and the page indices it lists: every 3rd page (some of which
    * the link graph may never reach — the point of sitemap injection). */
  def sitemapPages(host: String): Option[Seq[Int]] = {
    if (robots(host) != RobotsPolicy.AllowAll) return None
    if (math.floorMod(Urls.hash64(host) ^ (cfg.seed * 17), 3L) != 0L) return None
    locateHost(host).map(idx => (0 until pageCount(idx) by 3))
  }

  private def locateHost(host: String): Option[Int] = {
    if (host == null || !host.endsWith(".fix.test") || !host.startsWith("host-")) return None
    host.substring(5, host.indexOf('.')).toIntOption.filter(i => i >= 0 && i < cfg.nHosts)
  }

  def sitemapUrl(host: String): String = s"http://$host/sitemap.xml"

  /** The robots.txt BODY a host serves (None = robots endpoint 5xx).
    * Real text, so the fetch stack exercises the actual robots parser;
    * sitemap hosts advertise their sitemap via a Sitemap: line. */
  def robotsTxt(host: String): Option[String] = {
    val sm = sitemapPages(host).map(_ => s"Sitemap: ${sitemapUrl(host)}\n").getOrElse("")
    robots(host) match {
      case RobotsPolicy.AllowAll => Some(s"User-agent: *\nDisallow:\n$sm")
      case RobotsPolicy.DenyAll => Some("User-agent: *\nDisallow: /\n")
      case RobotsPolicy.CrawlDelay(s) => Some(s"User-agent: *\nDisallow:\nCrawl-delay: $s\n")
      case RobotsPolicy.Unavailable5xx => None
    }
  }

  /** Fetch behavior per URL: ~82% ok, 5% 404, 7% redirects, 6% 5xx.
    * Sitemap endpoints always serve (their doc is the URL list). */
  def behavior(url: String): PageBehavior =
    locate(url) match {
      case None if isSitemap(url) => Ok
      case None => NotFound
      case Some((hostIdx, page)) =>
        if (page == 0) Ok // homepages always fetch (seeds must succeed)
        else {
          val r = math.floorMod(Urls.hash64(url) ^ (cfg.seed * 31), 100L).toInt
          if (r < 82) Ok
          else if (r < 87) NotFound
          else if (r < 91) RedirectTemp(pageUrl(hostIdx, (page + 1) % pageCount(hostIdx)))
          else if (r < 94) RedirectPerm(pageUrl(hostIdx, math.max(0, page - 1)))
          else ServerError
        }
    }

  private def isSitemap(url: String): Boolean = {
    val host = Urls.hostOf(url)
    host != null && url.endsWith("/sitemap.xml") && sitemapPages(host).isDefined
  }

  /** Render the interleaved spans of a page. Deterministic per URL.
    * Duplicate-content trap: pages with page % 17 == 5 render the same text
    * as page-1 on the same host (signature-dedup fixture).
    * Sitemap endpoints render as pure link-span lists (the processor reads
    * them like the reference parses sitemap XML). */
  def render(url: String): Doc = {
    if (isSitemap(url)) {
      val host = Urls.hostOf(url)
      val hostIdx = locateHost(host).get
      val spans = sitemapPages(host).get.zipWithIndex.map { case (p, i) =>
        Span("link", null, pageUrl(hostIdx, p), i)
      }
      return Doc(url, spans)
    }
    val (hostIdx, page) = locate(url).getOrElse(return Doc(url, Seq.empty))
    val contentKey = if (page % 17 == 5 && page > 0) pageUrl(hostIdx, page - 1) else url
    val r = rng(contentKey, 0x7ea7L)
    val linkR = rng(url, 0x11aaL) // link structure stays per-URL even for dup text
    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    var offset = 0
    def add(kind: String, text: String, ref: String): Unit = {
      spans += Span(kind, text, ref, offset); offset += 1
    }
    val nText = 2 + r.nextInt(5)
    val nLinks = linkR.nextInt(cfg.linkFanout + 1)
    val nMedia = linkR.nextInt(4)
    var t = 0
    var l = 0
    var m = 0
    while (t < nText || l < nLinks || m < nMedia) {
      if (t < nText) {
        val sent = (0 until (4 + r.nextInt(8))).map(_ => words(r.nextInt(words.length))).mkString(" ")
        add("text", sent, null); t += 1
      }
      if (l < nLinks) {
        val external = linkR.nextInt(100) < cfg.externalLinkPct && cfg.nHosts > 1
        val targetHost = if (external) (hostIdx + 1 + linkR.nextInt(cfg.nHosts - 1)) % cfg.nHosts else hostIdx
        val target = pageUrl(targetHost, linkR.nextInt(pageCount(targetHost)))
        add("link", words(linkR.nextInt(words.length)), target); l += 1
      }
      if (m < nMedia) {
        add("media", words(linkR.nextInt(words.length)), s"http://${hostName(hostIdx)}/img-${linkR.nextInt(50)}.png")
        m += 1
      }
    }
    Doc(url, spans.toSeq)
  }

  /** The page as REAL HTML bytes (the raw-content protocol path): spans
    * rendered through the reference's tag vocabulary — text as prose, links
    * as anchors, media as img+alt, redirects as meta refresh. Parsing this
    * back through `graft.parse.Html` recovers the span sequence (adjacent
    * text spans merge — HTML has no boundary marker between text runs). */
  def renderHtml(url: String): String = {
    val doc = render(url)
    val sb = new StringBuilder
    // title deliberately empty: the parser folds title text into the leading
    // text span, which would shift the round-trip comparison
    sb.append("<html><head><title></title>")
    doc.spans.filter(_.kind == "redirect").foreach { s =>
      sb.append("<meta http-equiv=\"refresh\" content=\"0; url=").append(s.media_ref).append("\">")
    }
    sb.append("</head><body>")
    doc.spans.foreach {
      case Span("text", t, _, _) => sb.append("<p>").append(t).append("</p>")
      case Span("link", t, ref, _) =>
        sb.append("<a href=\"").append(ref).append("\">").append(if (t == null) "" else t).append("</a>")
      case Span("media", t, ref, _) =>
        sb.append("<img src=\"").append(ref).append("\" alt=\"").append(if (t == null) "" else t).append("\">")
      case _ => // redirect handled in head
    }
    sb.append("</body></html>")
    sb.toString
  }

  def allUrls: Seq[String] =
    for (h <- 0 until cfg.nHosts; p <- 0 until pageCount(h)) yield pageUrl(h, p)

  /** All page URLs, distributed (no rendering — cheap seed enumeration). */
  def urls(spark: SparkSession): Dataset[String] = {
    import spark.implicits._
    val self = this
    val hostStarts = (0 until cfg.nHosts).scanLeft(0L)((acc, h) => acc + pageCount(h))
    val starts = hostStarts.toArray
    val total = hostStarts.last
    spark.range(0, total, 1, math.max(4, spark.sparkContext.defaultParallelism)).map { i =>
      var lo = 0
      var hi = cfg.nHosts - 1
      while (lo < hi) {
        val mid = (lo + hi + 1) / 2
        if (starts(mid) <= i) lo = mid else hi = mid - 1
      }
      self.pageUrl(lo, (i - starts(lo)).toInt)
    }
  }

  /** The authoritative `documents` input table (doc_id, spans), generated
    * distributed (no driver-side loop over pages). */
  def documents(spark: SparkSession): Dataset[Doc] = {
    import spark.implicits._
    val self = this
    val hostStarts = (0 until cfg.nHosts).scanLeft(0L)((acc, h) => acc + pageCount(h))
    val total = hostStarts.last
    val starts = hostStarts.toArray
    spark.range(0, total, 1, math.max(4, spark.sparkContext.defaultParallelism)).map { i =>
      // binary search host for global page index i
      var lo = 0
      var hi = cfg.nHosts - 1
      while (lo < hi) {
        val mid = (lo + hi + 1) / 2
        if (starts(mid) <= i) lo = mid else hi = mid - 1
      }
      self.render(self.pageUrl(lo, (i - starts(lo)).toInt))
    }
  }
}
