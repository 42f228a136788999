package graft.codec

import java.util.Locale

/** RFC 9309 (robots.txt) subset for the frontier's politeness layer
  * (BASELINE.json north_star; absent from the reference — SURVEY.md
  * appendix). Supports: user-agent groups, Allow/Disallow with `*`
  * wildcards and `$` end-anchor, longest-match precedence (allow wins
  * ties), Crawl-delay extension.
  */
final case class RobotsRules(rules: Vector[(String, Boolean)], crawlDelay: Option[Double]) {
  /** Longest-match-wins; tie → allow; no match → allow. */
  def allows(path: String): Boolean = {
    val p = if (path.isEmpty) "/" else path
    var bestLen = -1
    var bestAllow = true
    rules.foreach { case (pattern, allow) =>
      if (Robots.matches(pattern, p)) {
        val len = pattern.length
        if (len > bestLen || (len == bestLen && allow && !bestAllow)) {
          bestLen = len
          bestAllow = allow
        }
      }
    }
    bestAllow
  }
}

object Robots {

  val AllowAll: RobotsRules = RobotsRules(Vector.empty, None)

  /** Prefix match with `*` (any run) and terminal `$` (end anchor). */
  private[codec] def matches(pattern: String, path: String): Boolean = {
    if (pattern.isEmpty) return true
    val anchored = pattern.endsWith("$")
    val pat = if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    // greedy backtracking match over segments split by '*'
    def matchFrom(pi: Int, si: Int): Boolean = {
      var p = pi
      var s = si
      while (p < pat.length) {
        val c = pat.charAt(p)
        if (c == '*') {
          // collapse consecutive stars
          while (p < pat.length && pat.charAt(p) == '*') p += 1
          if (p == pat.length) return !anchored || true // '*' absorbs rest
          var k = s
          while (k <= path.length) {
            if (matchFrom(p, k)) return true
            k += 1
          }
          return false
        } else {
          if (s >= path.length || path.charAt(s) != c) return false
          p += 1
          s += 1
        }
      }
      if (anchored) s == path.length else true
    }
    matchFrom(0, 0)
  }

  /** All absolute `Sitemap:` URLs in the body — the sitemaps.org extension
    * is group-independent (RFC 9309 §2.3 treats unknown lines as opaque;
    * sitemap lines apply to every agent wherever they appear). Relative
    * values are ignored (the protocol requires absolute URLs). */
  def sitemaps(body: String): Vector[String] = {
    if (body == null) return Vector.empty
    body.split("\n", -1).iterator.flatMap { raw =>
      val line = {
        val noComment = raw.indexOf('#') match {
          case -1 => raw
          case i => raw.substring(0, i)
        }
        noComment.trim
      }
      val colon = line.indexOf(':')
      if (colon > 0 && line.substring(0, colon).trim.equalsIgnoreCase("sitemap")) {
        val value = line.substring(colon + 1).trim
        if (value.contains("://")) Some(value) else None
      } else None
    }.toVector
  }

  /** Parse robots.txt for a given agent. Group selection: the longest
    * user-agent token that is a case-insensitive prefix of `agent`, else
    * the `*` group. */
  def parse(body: String, agent: String = "*"): RobotsRules = {
    if (body == null) return AllowAll
    final case class Group(agents: List[String], rules: Vector[(String, Boolean)], delay: Option[Double])
    var groups = Vector.empty[Group]
    var curAgents = List.empty[String]
    var curRules = Vector.empty[(String, Boolean)]
    var curDelay: Option[Double] = None
    var inRules = false
    def flush(): Unit = {
      if (curAgents.nonEmpty) groups :+= Group(curAgents, curRules, curDelay)
      curAgents = Nil; curRules = Vector.empty; curDelay = None; inRules = false
    }
    body.split("\n", -1).foreach { raw =>
      val line = {
        val noComment = raw.indexOf('#') match {
          case -1 => raw
          case i => raw.substring(0, i)
        }
        noComment.trim
      }
      val colon = line.indexOf(':')
      if (colon > 0) {
        val key = line.substring(0, colon).trim.toLowerCase(Locale.ROOT)
        val value = line.substring(colon + 1).trim
        key match {
          case "user-agent" =>
            if (inRules) flush()
            curAgents ::= value
          case "allow" =>
            inRules = true
            if (value.nonEmpty) curRules :+= (value, true)
          case "disallow" =>
            inRules = true
            if (value.nonEmpty) curRules :+= (value, false)
          // empty Disallow = allow all (historical form): no rule added
          case "crawl-delay" =>
            inRules = true
            curDelay = scala.util.Try(value.toDouble).toOption
          case _ => // sitemap etc. ignored
        }
      }
    }
    flush()
    val agentLower = agent.toLowerCase(Locale.ROOT)
    val matching = groups
      .flatMap(g => g.agents.map(a => (a.toLowerCase(Locale.ROOT), g)))
      .filter { case (a, _) => a == "*" || agentLower.startsWith(a) }
    if (matching.isEmpty) AllowAll
    else {
      val best = matching.maxBy { case (a, _) => if (a == "*") 0 else a.length }
      RobotsRules(best._2.rules, best._2.delay)
    }
  }
}
