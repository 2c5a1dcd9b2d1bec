package graft.frontier

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RobotsParserSpec extends SparkSpec {
  import spark.implicits._

  val txt =
    """# example robots.txt
      |User-agent: *
      |Disallow: /private/
      |Allow: /private/ok/
      |Disallow: /tmp/
      |
      |User-agent: graftbot
      |Disallow: /graft-only/
      |
      |Sitemap: https://h.example/sitemap.xml
      |""".stripMargin

  test("parses groups, allow/disallow, comments; default-allows root") {
    val r = RobotsParser.parse("h.example", txt)
    assert(r.contains(graft.model.RobotsRule("h.example", "/private/", false)))
    assert(r.contains(graft.model.RobotsRule("h.example", "/private/ok/", true)))
    assert(r.contains(graft.model.RobotsRule("h.example", "/tmp/", false)))
    assert(r.contains(graft.model.RobotsRule("h.example", "/", true)))
    assert(!r.exists(_.path_prefix == "/graft-only/"), "* group must not include bot-specific rules")
    val bot = RobotsParser.parse("h.example", txt, agent = "graftbot")
    assert(bot.exists(_.path_prefix == "/graft-only/"))
    // RFC 9309 group selection: the specific group REPLACES the * group
    assert(!bot.exists(_.path_prefix == "/private/"),
      "a matching specific group must override the * group, not union with it")
  }

  test("specific group overrides * (RFC 9309); * is a fallback only") {
    // an Allow-only specific group next to a Disallow-all * group: the
    // specific agent must be fully allowed (union semantics would deny)
    val t = "User-agent: specialbot\nAllow: /public\n\nUser-agent: *\nDisallow: /\n"
    val special = RobotsParser.parse("h", t, agent = "specialbot")
    assert(!special.exists(r => !r.allowed), s"no Disallow may leak from *: $special")
    assert(special.contains(graft.model.RobotsRule("h", "/public", true)))
    assert(special.contains(graft.model.RobotsRule("h", "/", true)), "default-allow root")
    // other agents still get the * group
    val other = RobotsParser.parse("h", t, agent = "otherbot")
    assert(other.contains(graft.model.RobotsRule("h", "/", false)))
    // an EMPTY matching specific group means everything allowed. NB: a
    // blank line does NOT close a group (RFC 9309 — consecutive UA lines
    // join one group even across blanks), so the group is closed by the
    // classic empty `Disallow:` (no value → no rule emitted).
    val t2 = "User-agent: specialbot\nDisallow:\n\nUser-agent: *\nDisallow: /\n"
    val empty = RobotsParser.parse("h", t2, agent = "specialbot")
    assert(empty === Seq(graft.model.RobotsRule("h", "/", true)))
    // a group naming BOTH the agent and * counts as the specific group
    val t3 = "User-agent: specialbot\nUser-agent: *\nDisallow: /both/\n"
    val both = RobotsParser.parse("h", t3, agent = "specialbot")
    assert(both.contains(graft.model.RobotsRule("h", "/both/", false)))
    // ...and across a blank line it is STILL one group (RFC 9309)
    val t4 = "User-agent: specialbot\n\nUser-agent: *\nDisallow: /both/\n"
    val both2 = RobotsParser.parse("h", t4, agent = "specialbot")
    assert(both2.contains(graft.model.RobotsRule("h", "/both/", false)))
  }

  test("specific-group match is product-token prefix, not substring (r5 advice)") {
    // a group for an unrelated bot whose token merely appears INSIDE this
    // agent's name must NOT count as specific — under substring matching
    // it would silently suppress the * group's Disallow rules (over-crawl)
    val t = "User-agent: bot\nAllow: /other\n\nUser-agent: *\nDisallow: /\n"
    val r = RobotsParser.parse("h", t, agent = "graftbot")
    assert(r.contains(graft.model.RobotsRule("h", "/", false)),
      "the * group's Disallow must survive an unrelated substring group")
    assert(!r.exists(_.path_prefix == "/other"))
    // a true token PREFIX does match (RFC 9309 product-token matching)
    val t2 = "User-agent: graft\nAllow: /mine\n\nUser-agent: *\nDisallow: /\n"
    val r2 = RobotsParser.parse("h", t2, agent = "graft-news")
    assert(r2.contains(graft.model.RobotsRule("h", "/mine", true)))
    assert(!r2.exists(r => !r.allowed), "prefix-matched group replaces *")
  }

  test("specific-group prefix must end at a token boundary of the agent") {
    val star = "User-agent: *\nDisallow: /\n"
    // 'g' and 'graft' are prefixes of 'graftbot' but not tokens of it:
    // the * group's Disallow must still apply
    Seq("g", "graft", "graftbo").foreach { ua =>
      val r = RobotsParser.parse("h", s"User-agent: $ua\nAllow: /other\n\n$star", agent = "graftbot")
      assert(r.contains(graft.model.RobotsRule("h", "/", false)), s"'$ua' must not suppress *")
      assert(!r.exists(_.path_prefix == "/other"), s"'$ua' must not count as specific")
    }
    // exact name, and a prefix ending at '/', '-' or ' ' of the agent, do match
    Seq("graftbot" -> "graftbot", "graftbot" -> "GraftBot/2.1",
        "graft" -> "graft-bot", "graftbot" -> "graftbot crawler").foreach { case (ua, agent) =>
      val r = RobotsParser.parse("h", s"User-agent: $ua\nAllow: /mine\n\n$star", agent = agent)
      assert(r.contains(graft.model.RobotsRule("h", "/mine", true)), s"'$ua' must name '$agent'")
      assert(!r.exists(r => !r.allowed), s"'$ua' must replace * for '$agent'")
    }
  }

  test("parsed rules drive the wave gate with longest-prefix-wins") {
    val rules = RobotsParser.parseTable(
      Seq(("h.example", txt)).toDF("host", "robots_txt"))
    val frontier = Seq(
      ("https://h.example/private/x", "h.example"),
      ("https://h.example/private/ok/y", "h.example"),
      ("https://h.example/public/z", "h.example"),
      ("https://other.example/q", "other.example")) // no rules → allow
      .toDF("url", "host")
    val (allowed, denied) = Wave.robotsGate(frontier, rules)
    assert(allowed.select("url").as[String].collect().toSet ===
      Set("https://h.example/private/ok/y", "https://h.example/public/z",
        "https://other.example/q"))
    assert(denied.select("url").as[String].collect().toSet ===
      Set("https://h.example/private/x"))
  }

  test("path-less urls are gated as path / (parse_url returns empty string)") {
    val rules = Seq(("closed.example", "/", false)).toDF("host", "path_prefix", "allowed")
    val frontier = Seq(
      ("https://closed.example", "closed.example"),       // no path at all
      ("https://closed.example/x", "closed.example"))
      .toDF("url", "host")
    val (allowed, denied) = Wave.robotsGate(frontier, rules)
    assert(allowed.count() === 0)
    assert(denied.count() === 2, "a Disallow:/ must also catch the path-less url")
  }

  test("empty User-agent value matches no crawler") {
    val r = RobotsParser.parse("h", "User-agent:\nDisallow: /\n")
    assert(!r.exists(x => x.path_prefix == "/" && !x.allowed))
  }

  test("empty / junk robots.txt default-allows") {
    assert(RobotsParser.parse("h", "") === Seq(graft.model.RobotsRule("h", "/", true)))
    val junk = RobotsParser.parse("h", "%%% not robots\nDisallow /oops-no-colon")
    assert(junk.exists(r => r.path_prefix == "/" && r.allowed))
  }
}
