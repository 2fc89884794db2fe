package graft.fetch

import java.util.Locale

/** Minimal RFC 9309 robots.txt parser — the subset the reference honors
  * (reference/src/java/org/apache/nutch/protocol/RobotRulesParser.java via
  * crawler-commons): user-agent group matching (longest-match, * fallback),
  * Allow/Disallow path prefixes (longest rule wins, Allow wins ties),
  * Crawl-delay. No wildcards-in-paths beyond '*' and '$' anchors.
  */
object Robots {

  case class Rule(allow: Boolean, path: String)
  case class Group(agents: Seq[String], rules: Seq[Rule], crawlDelay: Option[Double])

  case class RobotRules(rules: Seq[Rule], crawlDelay: Option[Double],
                        sitemaps: Seq[String] = Seq.empty) {
    def isAllowed(path: String): Boolean = {
      val p = if (path == null || path.isEmpty) "/" else path
      // longest (most specific) matching rule wins; Allow wins length ties
      val matching = rules.filter(r => pathMatches(r.path, p))
      if (matching.isEmpty) true
      else {
        val best = matching.maxBy(r => (r.path.length, r.allow))
        best.allow
      }
    }
    /** True when every path is disallowed (whole-host drain fast path). */
    def deniesAll: Boolean = !isAllowed("/") && !rules.exists(_.allow)
  }

  val AllowAll: RobotRules = RobotRules(Seq.empty, None)
  val DenyAll: RobotRules = RobotRules(Seq(Rule(allow = false, "/")), None)

  /** '*' matches any char sequence; trailing '$' anchors the end. */
  def pathMatches(rulePath: String, path: String): Boolean = {
    if (rulePath.isEmpty) return true
    val anchored = rulePath.endsWith("$")
    val rp = if (anchored) rulePath.dropRight(1) else rulePath
    val parts = rp.split("\\*", -1)
    var pos = 0
    var i = 0
    while (i < parts.length) {
      val part = parts(i)
      if (i == 0) {
        if (!path.startsWith(part)) return false
        pos = part.length
      } else {
        val idx = path.indexOf(part, pos)
        if (idx < 0) return false
        pos = idx + part.length
      }
      i += 1
    }
    if (anchored) {
      // last part must reach the end (if rule ends with '*', always true)
      if (parts.last.nonEmpty) path.endsWith(parts.last) && pos == path.length
      else true
    } else true
  }

  /** Parse robots.txt for the given agent (case-insensitive; the most
    * specific matching group wins, '*' as fallback, per RFC 9309 §2.2.1). */
  def parse(content: String, agent: String): RobotRules = {
    if (content == null) return AllowAll
    val wanted = agent.toLowerCase(Locale.ROOT)
    val groups = scala.collection.mutable.ArrayBuffer.empty[Group]
    val sitemaps = scala.collection.mutable.ArrayBuffer.empty[String]
    var curAgents = scala.collection.mutable.ArrayBuffer.empty[String]
    var curRules = scala.collection.mutable.ArrayBuffer.empty[Rule]
    var curDelay: Option[Double] = None
    var inGroup = false // currently collecting rules (vs agent lines)

    def flush(): Unit = {
      if (curAgents.nonEmpty)
        groups += Group(curAgents.toSeq, curRules.toSeq, curDelay)
      curAgents = scala.collection.mutable.ArrayBuffer.empty[String]
      curRules = scala.collection.mutable.ArrayBuffer.empty[Rule]
      curDelay = None
    }

    for (raw <- content.linesIterator) {
      val line = raw.split("#", 2)(0).trim
      if (line.nonEmpty) {
        val colon = line.indexOf(':')
        if (colon > 0) {
          val key = line.substring(0, colon).trim.toLowerCase(Locale.ROOT)
          val value = line.substring(colon + 1).trim
          key match {
            case "user-agent" =>
              if (inGroup) { flush(); inGroup = false }
              curAgents += value.toLowerCase(Locale.ROOT)
            case "disallow" =>
              inGroup = true
              if (value.nonEmpty) curRules += Rule(allow = false, value)
            case "allow" =>
              inGroup = true
              if (value.nonEmpty) curRules += Rule(allow = true, value)
            case "crawl-delay" =>
              inGroup = true
              value.toDoubleOption.foreach(d => curDelay = Some(d))
            case "sitemap" =>
              // host-wide per RFC 9309 §2.2.4 / sitemaps.org: not group-scoped
              if (value.nonEmpty) sitemaps += value
            case _ => // unknown directives ignored
          }
        }
      }
    }
    flush()

    // pick the group: exact product-token match beats '*' (RFC 9309 §2.2.1 /
    // the reference's crawler-commons matching — a group named
    // "examplebot-special" must NOT capture agent "examplebot"). The agent's
    // product token is its name up to the first '/' (version suffix).
    val wantedToken = wanted.split('/')(0).trim
    val named = groups.filter(_.agents.exists(a => a != "*" && a.split('/')(0).trim == wantedToken))
    val starGroups = groups.filter(_.agents.contains("*"))
    val chosen = if (named.nonEmpty) named else starGroups
    if (chosen.isEmpty) AllowAll.copy(sitemaps = sitemaps.toSeq)
    else RobotRules(chosen.flatMap(_.rules).toSeq, chosen.flatMap(_.crawlDelay).headOption,
      sitemaps.toSeq)
  }
}
