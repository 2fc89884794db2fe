package graft.fetch

import graft.fixtures.{PageBehavior, SyntheticWeb}
import graft.schema.{Doc, Span}

/** Protocol layer. The reference's Protocol plugin surface
  * (reference/src/java/org/apache/nutch/protocol/Protocol.java:60) reduced
  * to a pure trait; the synthetic impl serves the fixture web with zero I/O
  * so fetch throughput measures engine overhead, not network.
  */
case class ProtocolResponse(
    code: String,            // SUCCESS | NOTFOUND | MOVED | TEMP_MOVED | RETRY
    redirectTo: String,      // for MOVED/TEMP_MOVED
    doc: Doc,                // for SUCCESS with pre-parsed (synthetic) content
    contentType: String,
    latencyMs: Long,
    content: Array[Byte] = null // raw protocol bytes; when present the fetch
                                // executor parses them through the
                                // mime-dispatched DocParser registry instead
                                // of taking doc.spans (real-data path)
)

trait Fetcher extends Serializable {
  def fetch(url: String): ProtocolResponse

  /** Whether this fetcher can return raw content bytes that the DocParser
    * registry may explode into MULTIPLE fetched rows per task (ParseResult
    * container semantics: zip members, feed entries). Updatedb uses this to
    * decide whether the one-fetch-row-per-URL fast plan is safe. Fetchers
    * that serve pre-parsed single documents (the synthetic span path)
    * override to false. */
  def multiDoc: Boolean = true

  /** Per-path robots rules for a host (its parsed robots.txt); None = robots
    * endpoint 5xx (defer visits). The executor checks isAllowed(path) PER
    * FETCH URL — the reference does this in FetcherThread per fetch item. */
  def robotsRules(host: String): Option[Robots.RobotRules]
}

/** Serves the synthetic web as RAW HTML BYTES instead of pre-parsed spans:
  * the fetch executor must recover the span sequence through the real
  * mime-dispatched HTML parser (differential fixture for the content path). */
case class HtmlSyntheticFetcher(web: SyntheticWeb, latencyMs: Long) extends Fetcher {
  private val inner = SyntheticFetcher(web, latencyMs)
  // always text/html → the single-doc HTML parser; keeps the differential
  // fixture on the same updatedb plan as the span-serving twin
  override def multiDoc: Boolean = false
  override def fetch(url: String): ProtocolResponse = {
    val r = inner.fetch(url)
    if (r.code == "SUCCESS")
      r.copy(doc = null, contentType = "text/html; charset=utf-8",
        content = web.renderHtml(url).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    else r
  }
  override def robotsRules(host: String): Option[Robots.RobotRules] = inner.robotsRules(host)
}

case class SyntheticFetcher(web: SyntheticWeb, latencyMs: Long) extends Fetcher {
  import PageBehavior._
  // serves pre-parsed spans (content = null) — never a multi-doc container
  override def multiDoc: Boolean = false
  override def fetch(url: String): ProtocolResponse = web.behavior(url) match {
    case Ok               => ProtocolResponse("SUCCESS", null, web.render(url), "text/html", latencyMs)
    case NotFound         => ProtocolResponse("NOTFOUND", null, null, null, latencyMs)
    case RedirectTemp(to) => ProtocolResponse("TEMP_MOVED", to, null, null, latencyMs)
    case RedirectPerm(to) => ProtocolResponse("MOVED", to, null, null, latencyMs)
    case ServerError      => ProtocolResponse("RETRY", null, null, null, latencyMs)
  }
  /** Fetch + parse the host's real robots.txt body (5xx body → defer). */
  override def robotsRules(host: String): Option[Robots.RobotRules] = web.robotsTxt(host) match {
    case None       => None
    case Some(body) => Some(Robots.parse(body, "graftbot"))
  }
}
