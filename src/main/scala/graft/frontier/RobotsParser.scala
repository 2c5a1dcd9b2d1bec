package graft.frontier

import graft.model.RobotsRule
import org.apache.spark.sql.{DataFrame, Dataset}

/** robots.txt → rules-table parser (SURVEY.md §3 P3/J4 input side).
  *
  * Implements the core of the public robots exclusion protocol
  * (user-agent groups, Allow/Disallow path prefixes, `*` agent,
  * case-insensitive directives, `#` comments; directives outside any
  * user-agent group are ignored). The crawl pipeline
  * consumes the resulting (host, path_prefix, allowed) rules via the
  * longest-prefix gate in [[Wave.robotsGate]] — parsing is a
  * distributed flatMap over fetched robots.txt bodies.
  */
object RobotsParser {

  /** Rules applying to `agent` — RFC 9309 group selection: when any
    * group names the specific agent, ONLY those groups apply; the `*`
    * groups apply only when no specific group matches (they are a
    * FALLBACK, not a union — 'User-agent: specialbot / Allow: /public'
    * followed by 'User-agent: * / Disallow: /' must leave specialbot
    * fully allowed, not denied by the star group's Disallow). */
  def parse(host: String, robotsTxt: String, agent: String = "*"): Seq[RobotsRule] = {
    var groupSpecific = false // current group names `agent` specifically
    var groupStar = false // current group names `*`
    var groupHasAgents = false // directives before any User-agent are global
    val specific = Seq.newBuilder[RobotsRule]
    val star = Seq.newBuilder[RobotsRule]
    var sawSpecificGroup = false
    val wanted = agent.toLowerCase

    robotsTxt.linesIterator.foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      if (line.nonEmpty) {
        val idx = line.indexOf(':')
        if (idx > 0) {
          val key = line.substring(0, idx).trim.toLowerCase
          val value = line.substring(idx + 1).trim
          key match {
            case "user-agent" =>
              if (!groupHasAgents) {
                groupSpecific = false; groupStar = false; groupHasAgents = true
              }
              val a = value.toLowerCase
              if (a == "*") groupStar = true
              // empty UA value must match nothing; match on product-token
              // PREFIX (RFC 9309 product tokens), not substring — a group
              // for an unrelated bot whose name merely appears inside this
              // agent ('bot' vs 'graftbot') must not count as specific and
              // silently suppress the `*` group's Disallow rules. The
              // prefix must end at a token boundary of the agent ('graft'
              // names 'graft-news' or 'graft/1.0', never 'graftbot')
              else if (a.nonEmpty && wanted.startsWith(a) &&
                  (a.length == wanted.length || !wanted.charAt(a.length).isLetterOrDigit)) {
                groupSpecific = true
                sawSpecificGroup = true
              }
            case "allow" | "disallow" =>
              groupHasAgents = false
              if (value.nonEmpty) {
                val rule = RobotsRule(host, value, allowed = key == "allow")
                // a group naming both the agent and `*` counts as specific
                if (groupSpecific) specific += rule
                else if (groupStar) star += rule
              }
            case _ => groupHasAgents = false // crawl-delay/sitemap etc: ignored
          }
        }
      }
    }
    // `wanted == "*"` only ever matches star groups, so sawSpecificGroup
    // stays false and the default crawl reads the star rules as before
    val rules = if (sawSpecificGroup) specific.result() else star.result()
    // default-allow root so hosts with only Disallow rules still permit "/"
    if (rules.exists(r => r.path_prefix == "/" )) rules
    else rules :+ RobotsRule(host, "/", allowed = true)
  }

  /** Distributed parse: (host STRING, robots_txt STRING) → rules table. */
  def parseTable(robotsPages: DataFrame, agent: String = "*"): DataFrame = {
    val spark = robotsPages.sparkSession
    import spark.implicits._
    robotsPages.select("host", "robots_txt").as[(String, String)]
      .flatMap { case (h, txt) => parse(h, Option(txt).getOrElse(""), agent) }
      .toDF()
  }
}
