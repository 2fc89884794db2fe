package graft.fetch

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** Real HTTP protocol behind the [[Fetcher]] trait (the reference's
  * protocol-http / protocol-okhttp plugins behind ProtocolFactory —
  * reference/src/java/org/apache/nutch/protocol/ProtocolFactory.java:243,
  * src/plugin/protocol-okhttp/, HttpRobotRulesParser.java — reduced to the
  * one seam the engine actually needs). Everything stateful — politeness
  * clocks, per-host queues, the robots GATE, redirect hop policy, retry
  * backoff, the updatedb retry→gone classification — already lives in the
  * engine; this class only maps HTTP onto ProtocolResponse codes
  * (protocol/ProtocolStatus.java semantics):
  *
  *  - 2xx                    → SUCCESS (raw bytes + Content-Type header; the
  *                             executor parses via the mime registry)
  *  - 301/308                → MOVED (Location resolved against the request)
  *  - 302/303/307            → TEMP_MOVED
  *  - 304                    → NOTMODIFIED
  *  - 404/410                → NOTFOUND
  *  - 401/403/451            → GONE (access denied)
  *  - 429/5xx/timeout/IO     → RETRY (transient; executor backoff applies)
  *
  * Redirects are NEVER followed here — the executor owns hop policy
  * (cfg.redirectMax), exactly like the reference's FetcherThread.
  *
  * robots.txt (HttpRobotRulesParser semantics): 2xx → parse the body for
  * the agent product token; 404/410 → allow all; 401/403 → deny all
  * (configurable allow, http.robots.403.allow); 5xx/IO → None, which the
  * executor treats as "defer visits" (RFC 9309 unreachable-robots).
  *
  * Deploy with cfg.realClock = true so politeness waits are real sleeps.
  * Instantiation is cheap and the HttpClient is per-JVM-task lazy, so the
  * case class ships in task closures like every other Fetcher.
  *
  * `robotsPortOverride`: the engine keys host queues by bare host (ports
  * ride in the task URLs), so a non-default-port deployment — e.g. the
  * politeness e2e spec's in-process server — names the robots port here.
  */
case class HttpFetcher(
    agent: String = "graftbot/1.0 (graft crawler)",
    connectTimeoutMs: Long = 10000L,
    readTimeoutMs: Long = 30000L,
    maxContentBytes: Int = 4 * 1024 * 1024,
    http403AllowsAll: Boolean = false,
    robotsPortOverride: Int = -1,
    robotsScheme: String = "http"
) extends Fetcher {

  /** Product token for robots group matching (RFC 9309): the agent string
    * up to the first '/' or space. */
  def agentToken: String = agent.takeWhile(c => c != '/' && c != ' ')

  @transient private lazy val client: HttpClient = HttpClient.newBuilder()
    .followRedirects(HttpClient.Redirect.NEVER)
    .connectTimeout(Duration.ofMillis(connectTimeoutMs))
    .build()

  private def request(url: String): HttpRequest =
    HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofMillis(readTimeoutMs))
      .header("User-Agent", agent)
      .header("Accept", "*/*")
      .GET().build()

  /** Read at most `limit` bytes, then stop — the caller closes the stream,
    * aborting the rest of the exchange. The reference enforces
    * http.content.limit while streaming (Http.java truncated reads); a
    * ofByteArray() handler would buffer a multi-GB response fully in
    * executor memory before any truncation could apply. */
  private def readLimited(in: java.io.InputStream, limit: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.min(limit, 64 * 1024))
    val buf = new Array[Byte](16 * 1024)
    var remaining = limit
    var n = 0
    while (remaining > 0 && { n = in.read(buf, 0, math.min(buf.length, remaining)); n >= 0 }) {
      out.write(buf, 0, n)
      remaining -= n
    }
    out.toByteArray
  }

  override def fetch(url: String): ProtocolResponse = {
    val t0 = System.nanoTime()
    def latency: Long = (System.nanoTime() - t0) / 1000000
    try {
      val resp = client.send(request(url), HttpResponse.BodyHandlers.ofInputStream())
      val code = resp.statusCode()
      val contentType = resp.headers().firstValue("Content-Type").orElse(null)
      // a malformed Location (unencoded spaces etc.) must degrade to a
      // recorded-but-unfollowable redirect, not a permanent NOTFOUND
      def location: String =
        try resp.headers().firstValue("Location")
          .map(l => URI.create(url).resolve(l.trim).toString).orElse(null)
        catch { case _: IllegalArgumentException => null }
      val in = resp.body()
      try {
        code match {
          case c if c >= 200 && c < 300 =>
            // truncation guard (http.content.limit): oversized bodies are
            // cut AT the limit while streaming — closing the stream below
            // aborts the remainder without ever buffering it
            val content = readLimited(in, maxContentBytes)
            ProtocolResponse("SUCCESS", null, null, contentType, latency, content)
          case 301 | 308 => ProtocolResponse("MOVED", location, null, contentType, latency)
          case 302 | 303 | 307 => ProtocolResponse("TEMP_MOVED", location, null, contentType, latency)
          case 304 => ProtocolResponse("NOTMODIFIED", null, null, contentType, latency)
          case 404 | 410 => ProtocolResponse("NOTFOUND", null, null, contentType, latency)
          case 401 | 403 | 451 => ProtocolResponse("GONE", null, null, contentType, latency)
          case _ => ProtocolResponse("RETRY", null, null, contentType, latency) // 429/5xx/1xx/…
        }
      } finally {
        try in.close() catch { case _: Exception => () }
      }
    } catch {
      case _: InterruptedException =>
        Thread.currentThread().interrupt()
        ProtocolResponse("RETRY", null, null, null, latency)
      case _: IllegalArgumentException => // unparseable URI: permanently bad
        ProtocolResponse("NOTFOUND", null, null, null, latency)
      case scala.util.control.NonFatal(_) => // IO/TLS/DNS/protocol errors:
        // one bad URL must never fail a million-row fetch task (the
        // reference maps any protocol exception to a retry status)
        ProtocolResponse("RETRY", null, null, null, latency)
    }
  }

  private def robotsUrl(host: String): String = {
    val port = if (robotsPortOverride > 0) s":$robotsPortOverride" else ""
    s"$robotsScheme://$host$port/robots.txt"
  }

  override def robotsRules(host: String): Option[Robots.RobotRules] = {
    try {
      // robots.txt FOLLOWS redirects (up to 3 hops — the http→https bounce
      // is the common case; crawler-commons does the same): a host whose
      // robots 301s to https must not be deferred forever
      var url = robotsUrl(host)
      var hops = 0
      while (hops <= 3) {
        val resp = client.send(request(url), HttpResponse.BodyHandlers.ofString())
        resp.statusCode() match {
          case c if c >= 200 && c < 300 => return Some(Robots.parse(resp.body(), agentToken))
          case 404 | 410 => return Some(Robots.AllowAll)
          case 401 | 403 =>
            return Some(if (http403AllowsAll) Robots.AllowAll else Robots.DenyAll)
          case c if c >= 300 && c < 400 =>
            val loc = resp.headers().firstValue("Location").orElse(null)
            if (loc == null) return None
            url = URI.create(url).resolve(loc.trim).toString
            hops += 1
          case _ => return None // 5xx etc: robots unreachable → defer visits
        }
      }
      None // redirect loop: unreachable → defer
    } catch {
      case _: InterruptedException => Thread.currentThread().interrupt(); None
      case scala.util.control.NonFatal(_) => None // unreachable robots → defer
    }
  }
}
