package graft.url

import java.util.Locale

/** URL accept/deny filtering.
  *
  * Semantics derived from the reference's default filter rules
  * (reference/conf/regex-urlfilter.txt.template, engine
  * reference/src/plugin/urlfilter-regex/.../RegexURLFilter.java:113):
  * drop non-web schemes, media/binary suffixes, path loops, over-long URLs;
  * accept the rest. Implemented as an ordered chain of pure predicates
  * (trait UrlFilter) compiled into one accept() function usable from a
  * Catalyst StaticInvoke (no per-row regex compilation).
  */
trait UrlFilter extends Serializable {
  /** true = pass, false = drop. */
  def accept(url: String): Boolean
}

/** urlfilter-prefix: pass only URLs starting with a listed prefix
  * (deny = true inverts: drop listed prefixes). */
case class PrefixUrlFilter(prefixes: Seq[String], deny: Boolean = false) extends UrlFilter {
  override def accept(url: String): Boolean = {
    if (url == null) return false
    val hit = prefixes.exists(url.startsWith)
    if (deny) !hit else hit
  }
}

/** urlfilter-suffix: drop URLs whose path ends with a listed suffix
  * (deny = false inverts into an allow-list). Suffixes are matched on the
  * path only, case-insensitively, like the reference's suffix filter. */
case class SuffixUrlFilter(suffixes: Seq[String], deny: Boolean = true) extends UrlFilter {
  private val lower = suffixes.map(_.toLowerCase(Locale.ROOT))
  override def accept(url: String): Boolean = {
    if (url == null) return false
    // match on the PATH only (never scheme/host): a deny-suffix ".co" must
    // not drop "http://site.co/" just because the host ends with it
    val pq = Urls.pathQueryOf(url)
    val q = pq.indexOf('?')
    val path = (if (q < 0) pq else pq.substring(0, q)).toLowerCase(Locale.ROOT)
    val hit = lower.exists(path.endsWith)
    if (deny) !hit else hit
  }
}

/** urlfilter-domain: pass only URLs whose host, registered domain or TLD is
  * listed (deny = true inverts — the urlfilter-domaindenylist behavior). */
case class DomainUrlFilter(domains: Set[String], deny: Boolean = false) extends UrlFilter {
  private val lower = domains.map(_.toLowerCase(Locale.ROOT))
  override def accept(url: String): Boolean = {
    val host = Urls.hostOf(url)
    if (host == null) return false
    val dom = Urls.registeredDomainOf(host)
    val suffix = PublicSuffix.publicSuffixOf(host) // reference matches host|domain|suffix
    val tld = host.substring(host.lastIndexOf('.') + 1)
    val hit = lower.contains(host) || lower.contains(dom) ||
      lower.contains(suffix) || lower.contains(tld)
    if (deny) !hit else hit
  }
}

/** urlfilter-regex: ordered +/- rules, FIRST match decides; no match ⇒ drop
  * (reference RegexURLFilter.java:113 returns null when nothing matches —
  * the shipped template ends with `+.` to accept the rest). */
case class RegexUrlFilter(rules: Seq[(Boolean, String)]) extends UrlFilter {
  private val compiled = rules.map { case (sign, re) => (sign, re.r.unanchored) }
  override def accept(url: String): Boolean = {
    if (url == null) return false
    compiled.collectFirst {
      case (sign, re) if re.findFirstIn(url).isDefined => sign
    }.getOrElse(false)
  }
}

/** urlfilter-validator (reference src/plugin/urlfilter-validator/
  * UrlValidator.java — the Commons-Validator RFC 2396 syntax check):
  * rejects URLs that merely *look* crawlable but are syntactically broken.
  * Checks, in the reference's order (:112-137):
  *   - printable-ASCII only (0x21–0x7E, no spaces/control/UTF-8);
  *   - RFC 2396 appendix-B decomposition into scheme/authority/path/query;
  *   - scheme present, letters only;
  *   - authority = IPv4 (each octet ≤ 255) or hostname whose dot-separated
  *     atoms avoid the special set `;/@&=,.?:+$`, with a ≥2-char TLD that
  *     starts with a letter and at least two labels; optional `:digits{1,5}`
  *     port; nothing trailing;
  *   - path matches the allowed-character production and `..` traversal
  *     segments are out-numbered by real segments (slashes − doubled
  *     slashes − 1 > dot-dot count);
  *   - query: anything (always valid once the split succeeded). */
object ValidatorUrlFilter extends UrlFilter {
  // RFC 2396 appendix-B reference regex (the spec's own decomposition)
  private val UrlRe = """^(([^:/?#]+):)?(//([^/?#]*))?([^?#]*)(\?([^#]*))?(#(.*))?""".r
  private val AsciiRe = """^[\x21-\x7E]+$""".r
  private val SchemeRe = "^[a-zA-Z]+$".r
  private val AuthorityRe = """^([a-zA-Z0-9\-.]*)(:\d*)?(.*)?$""".r
  private val Ipv4Re = """^(\d{1,3})[.](\d{1,3})[.](\d{1,3})[.](\d{1,3})$""".r
  private val AtomStr = """[^\s;/@&=,.?:+$]+"""
  private val DomainRe = ("^" + AtomStr + "(\\." + AtomStr + ")*$").r
  private val PathRe = """^(/[-\w:@&?=+,.!/~*'%$_;()]*)?$""".r
  private val PortRe = """^:\d{1,5}$""".r

  private def count(token: String, s: String): Int = {
    var n = 0; var i = s.indexOf(token)
    while (i >= 0) { n += 1; i = s.indexOf(token, i + token.length) }
    n
  }

  override def accept(url: String): Boolean = {
    if (url == null || AsciiRe.findFirstIn(url).isEmpty) return false
    url match {
      case UrlRe(_, scheme, _, authority, path, _, _, _, _) =>
        if (scheme == null || SchemeRe.findFirstIn(scheme).isEmpty) return false
        if (authority == null) return false
        authority match {
          case AuthorityRe(hostIp, port, extra) =>
            val okHost = hostIp match {
              case Ipv4Re(a, b, c, d) =>
                Seq(a, b, c, d).forall(s => s.nonEmpty && s.toInt <= 255)
              case _ =>
                if (DomainRe.findFirstIn(hostIp).isEmpty) false
                else {
                  val segments = hostIp.split("\\.", -1)
                  val top = segments.last
                  segments.length >= 2 && top.length >= 2 && top.head.isLetter
                }
            }
            if (!okHost) return false
            if (port != null && PortRe.findFirstIn(port).isEmpty) return false
            if (extra != null && extra.trim.nonEmpty) return false
          case _ => return false
        }
        if (path == null || PathRe.findFirstIn(path).isEmpty) return false
        val dot2 = count("..", path)
        dot2 <= 0 || (count("/", path) - count("//", path) - 1) > dot2
      case _ => false
    }
  }
}

/** urlfilter-fast (reference src/plugin/urlfilter-fast/FastURLFilter.java):
  * deny rules scoped to a host or domain so only that bucket's regexes ever
  * run per URL — a hash lookup on the host plus its domain suffixes instead
  * of a flat regex chain; built for web-scale rule files. Semantics mirror
  * the reference exactly: Host rules (exact host) before Domain rules
  * (every complete-label suffix of the host, longest first), then global
  * `Domain .` rules; DenyPath matches the path, DenyPathQuery path+query
  * (Matcher.find semantics); `DenyPath .*`/`.?` collapses to deny-all;
  * first matching rule rejects; no match ⇒ accept; unparseable URLs are
  * rejected; hostless URLs (file:) check only global rules; optional
  * whole-URL/path/query length caps reject before any rule runs. */
case class FastUrlFilter(
    hostRules: Map[String, Seq[FastUrlFilter.Rule]],
    domainRules: Map[String, Seq[FastUrlFilter.Rule]],
    maxLength: Int = -1,
    maxLengthPath: Int = -1,
    maxLengthQuery: Int = -1
) extends UrlFilter {
  import FastUrlFilter._

  override def accept(url: String): Boolean = {
    if (url == null) return false
    if (maxLength != -1 && url.length > maxLength) return false
    val u =
      try new java.net.URI(url)
      catch { case _: Exception => return false }
    val path = Option(u.getRawPath).getOrElse("")
    if (maxLengthPath != -1 && path.length > maxLengthPath) return false
    val query = u.getRawQuery
    if (maxLengthQuery != -1 && query != null && query.length > maxLengthQuery) return false
    val pathQuery = if (query == null) path else s"$path?$query"

    val host = u.getHost
    if (host != null) {
      val hs = hostRules.getOrElse(host, Nil)
      var i = 0
      while (i < hs.length) { if (hs(i).matches(url, path, pathQuery)) return false; i += 1 }
      // domain rules for the full host, then every complete-label suffix
      var h = host
      while (h != null) {
        val ds = domainRules.getOrElse(h, Nil)
        var j = 0
        while (j < ds.length) { if (ds(j).matches(url, path, pathQuery)) return false; j += 1 }
        val dot = h.indexOf('.')
        h = if (dot < 0) null else h.substring(dot + 1)
      }
    }
    // global rules (`Domain .`) apply to every URL, hostless included
    val gs = domainRules.getOrElse(".", Nil)
    var k = 0
    while (k < gs.length) { if (gs(k).matches(url, path, pathQuery)) return false; k += 1 }
    true
  }
}

object FastUrlFilter {
  sealed trait Rule extends Serializable {
    def matches(url: String, path: String, pathQuery: String): Boolean
  }
  case object DenyAll extends Rule {
    def matches(url: String, path: String, pathQuery: String): Boolean = true
  }
  final case class DenyPath(regex: String) extends Rule {
    private val p = java.util.regex.Pattern.compile(regex)
    def matches(url: String, path: String, pathQuery: String): Boolean =
      p.matcher(path).find()
  }
  final case class DenyPathQuery(regex: String) extends Rule {
    private val p = java.util.regex.Pattern.compile(regex)
    def matches(url: String, path: String, pathQuery: String): Boolean =
      p.matcher(pathQuery).find()
  }

  private val CatchAll = """^\s*DenyPath(?:Query)?\s+\.[*?]\s*$""".r

  /** Parse the reference rule-file format (FastURLFilter.reloadRules:270-340):
    * `Host <name>` / `Domain <name>` open a scope; indented
    * DenyPath/DenyPathQuery lines add rules to it; `#` comments stripped;
    * malformed rule lines skipped. */
  def parse(rulesText: String,
            maxLength: Int = -1, maxLengthPath: Int = -1, maxLengthQuery: Int = -1): FastUrlFilter = {
    val host = collection.mutable.LinkedHashMap.empty[String, Vector[Rule]]
    val domain = collection.mutable.LinkedHashMap.empty[String, Vector[Rule]]
    var current: String = null
    var isHost = false
    for (raw <- rulesText.linesIterator) {
      val line = {
        val h = raw.indexOf('#')
        (if (h >= 0) raw.substring(0, h) else raw).trim
      }
      if (line.nonEmpty) {
        // a bare "Host"/"Domain" scope line (no name) is malformed — skip it
        // like the reference skips unparseable lines, rather than aborting
        if (line.startsWith("Host")) {
          isHost = true; current = line.split("\\s+").lift(1).orNull
        } else if (line.startsWith("Domain")) {
          isHost = false; current = line.split("\\s+").lift(1).orNull
        }
        else if (current != null) {
          val rule: Option[Rule] =
            try {
              if (CatchAll.findFirstIn(line).isDefined) Some(DenyAll)
              else if (line.startsWith("DenyPathQuery")) Some(DenyPathQuery(line.split("\\s+")(1)))
              else if (line.startsWith("DenyPath")) Some(DenyPath(line.split("\\s+")(1)))
              else None
            } catch { case _: Exception => None }
          rule.foreach { r =>
            val m = if (isHost) host else domain
            m(current) = m.getOrElse(current, Vector.empty) :+ r
          }
        }
      }
    }
    FastUrlFilter(host.toMap, domain.toMap, maxLength, maxLengthPath, maxLengthQuery)
  }
}

object UrlFilters {

  /** Media/binary suffixes dropped by the default rules. */
  private val DeniedSuffixes = Set(
    "gif", "jpg", "jpeg", "png", "ico", "css", "sit", "eps", "wmf", "zip",
    "ppt", "mpg", "xls", "gz", "rpm", "tgz", "mov", "exe", "jpeg", "bmp",
    "js", "mp3", "mp4", "wav", "avi", "svg", "webp", "woff", "ttf", "pdf")

  final val MaxUrlLength = 4096

  /** Opt-in for file:// crawls (protocol-file). Default comes from the
    * GRAFT_ALLOW_FILE_SCHEME env / graft.allow.file.scheme property so a
    * cluster deployment can switch it via executor env or extraJavaOptions
    * (this is process-local state, like the reference's edited filter
    * config file shipped to every node). */
  @volatile var allowFileScheme: Boolean =
    sys.props.get("graft.allow.file.scheme")
      .orElse(sys.env.get("GRAFT_ALLOW_FILE_SCHEME"))
      .exists(_.equalsIgnoreCase("true"))

  /** The default filter chain, fused into one static function. */
  def accept(url: String): Boolean = {
    if (url == null) return false
    if (url.length > MaxUrlLength) return false
    val lower = url.toLowerCase(Locale.ROOT)
    // scheme allow-list (reference denies file:/ftp:/mailto: by default and
    // a protocol-file crawl edits regex-urlfilter; the equivalent switch
    // here is allowFileScheme)
    if (!(lower.startsWith("http://") || lower.startsWith("https://") ||
        (allowFileScheme && lower.startsWith("file://")))) return false
    // media suffix deny
    val qIdx = lower.indexOf('?')
    val path = if (qIdx < 0) lower else lower.substring(0, qIdx)
    val dot = path.lastIndexOf('.')
    val slash = path.lastIndexOf('/')
    if (dot > slash && dot >= 0) {
      val suffix = path.substring(dot + 1)
      if (DeniedSuffixes.contains(suffix)) return false
    }
    // path-loop repeats (3+ identical consecutive segments ⇒ crawler trap)
    if (hasSegmentLoop(path)) return false
    true
  }

  private def hasSegmentLoop(path: String): Boolean = {
    val segs = path.split('/')
    var run = 1
    var i = 1
    while (i < segs.length) {
      if (segs(i).nonEmpty && segs(i) == segs(i - 1)) {
        run += 1
        if (run >= 3) return true
      } else run = 1
      i += 1
    }
    false
  }
}
