package graft.url

import java.util.Locale

/** The reference's pluggable URLNormalizer variants beyond basic+regex
  * (src/plugin/urlnormalizer-{ajax,querystring,protocol,host,slash}),
  * re-expressed as composable pure functions. The chain contract matches
  * URLNormalizers.normalize: each normalizer sees the previous output;
  * null propagates (drop). Ajax runs on the RAW url (the canonicalizer
  * strips fragments, so `#!` must be rewritten first); everything else
  * operates on canonical `scheme://host[:port]/path[?query]` strings. */
sealed trait UrlNormalizer extends Serializable {
  def name: String
  def normalize(url: String): String
}

/** urlnormalizer-ajax (AjaxURLNormalizer.java:64-131): crawlable-AJAX
  * `#!fragment` rewritten to `?_escaped_fragment_=fragment` (appended with
  * `&` when a query exists), fragment escaped per the AJAX crawling spec
  * (bytes < 33 and # % & + percent-encoded — :190-215). */
case object AjaxNormalizer extends UrlNormalizer {
  val EscapedPart = "_escaped_fragment_="
  override def name: String = "ajax"
  override def normalize(url: String): String = {
    if (url == null) return null
    val pos = url.indexOf("#!")
    if (pos < 0) return url
    val fragment = escape(url.substring(pos + 2))
    val head = url.substring(0, pos)
    val sep = if (head.indexOf('?') >= 0) "&" else "?"
    head + sep + EscapedPart + fragment
  }
  private def escape(s: String): String = {
    val sb = new StringBuilder(s.length)
    for (b <- s.getBytes(java.nio.charset.StandardCharsets.UTF_8)) {
      val v = b & 0xff
      if (v < 33 || v == '#' || v == '%' || v == '&' || v == '+')
        sb.append('%').append(f"$v%02X")
      else sb.append(v.toChar)
    }
    sb.toString
  }
}

/** urlnormalizer-querystring (QuerystringURLNormalizer.java:55-80): sort
  * query parameters lexicographically — unsorted querystrings are a major
  * duplicate-URL source. */
case object QuerystringSortNormalizer extends UrlNormalizer {
  override def name: String = "querystring"
  override def normalize(url: String): String = {
    if (url == null) return null
    val q = url.indexOf('?')
    if (q < 0) return url
    val parts = url.substring(q + 1).split("&", -1).sorted
    url.substring(0, q + 1) + parts.mkString("&")
  }
}

/** urlnormalizer-protocol (ProtocolURLNormalizer.java): force a configured
  * scheme for listed hosts (e.g. example.com → always https). */
final case class ProtocolNormalizer(hostToScheme: Map[String, String]) extends UrlNormalizer {
  override def name: String = "protocol"
  override def normalize(url: String): String = {
    if (url == null) return null
    val host = Urls.hostOf(url)
    if (host == null) return url
    hostToScheme.get(host) match {
      case Some(scheme) =>
        val i = url.indexOf("://")
        if (i < 0) url else scheme + url.substring(i)
      case None => url
    }
  }
}

/** urlnormalizer-host (HostURLNormalizer.java): host aliasing — rewrite
  * listed hosts to their canonical alias (www-stripping, CDN aliases). */
final case class HostAliasNormalizer(aliases: Map[String, String]) extends UrlNormalizer {
  override def name: String = "host"
  override def normalize(url: String): String = {
    if (url == null) return null
    val host = Urls.hostOf(url)
    if (host == null) return url
    aliases.get(host.toLowerCase(Locale.ROOT)) match {
      case Some(canonical) if canonical != host =>
        val i = url.indexOf("://")
        if (i < 0) return url
        val afterScheme = i + 3
        val hostEnd = afterScheme + {
          val rest = url.substring(afterScheme)
          val e = rest.indexWhere(c => c == '/' || c == '?' || c == ':')
          if (e < 0) rest.length else e
        }
        url.substring(0, afterScheme) + canonical + url.substring(hostEnd)
      case _ => url
    }
  }
}

/** urlnormalizer-slash (SlashURLNormalizer.java:151-210): per-host trailing-
  * slash policy — `+` hosts get a trailing slash appended to extension-less
  * paths, `-` hosts get it removed; root path untouched. */
final case class SlashNormalizer(rules: Map[String, Boolean]) extends UrlNormalizer {
  override def name: String = "slash"
  override def normalize(url: String): String = {
    if (url == null) return null
    val host = Urls.hostOf(url)
    val rule = if (host == null) None else rules.get(host)
    if (rule.isEmpty) return url
    val schemeEnd = url.indexOf("://")
    if (schemeEnd < 0) return url
    val pathStart = url.indexOf('/', schemeEnd + 3)
    if (pathStart < 0) return url
    val qIdx = url.indexOf('?', pathStart)
    val path = if (qIdx < 0) url.substring(pathStart) else url.substring(pathStart, qIdx)
    val tail = if (qIdx < 0) "" else url.substring(qIdx)
    if (path.length <= 1) return url // root: basic normalizer owns "/"
    val hasSlash = path.endsWith("/")
    if (rule.get && !hasSlash) {
      // only extension-less paths gain a slash (reference :177-181)
      val lastDot = path.lastIndexOf('.')
      if (path.length < 6 || lastDot == -1 || lastDot < path.length - 6)
        url.substring(0, pathStart) + path + "/" + tail
      else url
    } else if (!rule.get && hasSlash)
      url.substring(0, pathStart) + path.substring(0, path.length - 1) + tail
    else url
  }
}

/** urlnormalizer-pass (reference src/plugin/urlnormalizer-pass
  * PassURLNormalizer.java): the identity normalizer — the chain's no-op
  * element, kept so a configuration slot can be explicitly disabled. */
case object PassNormalizer extends UrlNormalizer {
  override def name: String = "pass"
  override def normalize(url: String): String = url
}

/** urlnormalizer-regex with USER rules (reference src/plugin/
  * urlnormalizer-regex RegexURLNormalizer.regexNormalize:171-207 — the
  * built-in session-id/`?&`-tidy defaults already live in
  * Urls.normalizeQuery): ordered (pattern, substitution) rules, each
  * applied globally (`Matcher.replaceAll`) to the previous rule's output.
  * Substitutions support `$n` group references like the reference's. */
final case class RegexRuleNormalizer(rules: Seq[(String, String)]) extends UrlNormalizer {
  override def name: String = "regex"
  @transient private lazy val compiled =
    rules.flatMap { case (p, s) =>
      // invalid patterns are skipped like readConfigurationFile:262-268
      try Some((java.util.regex.Pattern.compile(p), s))
      catch { case _: java.util.regex.PatternSyntaxException => None }
    }
  override def normalize(url: String): String = {
    if (url == null) return null
    var u = url
    compiled.foreach { case (p, s) => u = p.matcher(u).replaceAll(s) }
    u
  }
}

object RegexRuleNormalizer {
  /** Parse the reference's `regex-normalize.xml` format
    * (`<regex-normalize><regex><pattern>…<substitution>…`): rules in file
    * order; a missing/empty substitution element means "" (delete the
    * match); regexes with a missing pattern are dropped, malformed XML
    * yields the empty rule set — all per readConfigurationFile:230-280. */
  def parseXml(text: String): RegexRuleNormalizer = {
    try {
      val builder = javax.xml.parsers.DocumentBuilderFactory.newInstance()
        .newDocumentBuilder()
      // malformed XML → exception via the catch below, no stderr spam (the
      // JDK default handler prints "[Fatal Error]" before throwing)
      builder.setErrorHandler(new org.xml.sax.helpers.DefaultHandler())
      val doc = builder.parse(new org.xml.sax.InputSource(new java.io.StringReader(text)))
      val regexes = doc.getDocumentElement.getChildNodes
      val rules = Seq.newBuilder[(String, String)]
      var i = 0
      while (i < regexes.getLength) {
        regexes.item(i) match {
          case e: org.w3c.dom.Element if e.getTagName == "regex" =>
            var pattern: String = null
            var sub: String = ""
            val fields = e.getChildNodes
            var j = 0
            while (j < fields.getLength) {
              fields.item(j) match {
                case f: org.w3c.dom.Element =>
                  if (f.getTagName == "pattern" && f.hasChildNodes)
                    pattern = f.getFirstChild.getNodeValue
                  else if (f.getTagName == "substitution" && f.hasChildNodes)
                    sub = f.getFirstChild.getNodeValue
                case _ =>
              }
              j += 1
            }
            if (pattern != null) rules += ((pattern, sub))
          case _ =>
        }
        i += 1
      }
      RegexRuleNormalizer(rules.result())
    } catch { case scala.util.control.NonFatal(_) => RegexRuleNormalizer(Nil) }
  }
}
