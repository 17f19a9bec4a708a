package graft.crawl

import graft.expressions.ExprOps

/** robots.txt-aware admission (north rule). The reference *claims* robots
  * compliance but implements it as rate-limiting + a fixed UA
  * (README.md:386-388; no robots parsing anywhere in src/main — SURVEY.md
  * §4 note). Our engine makes it a real stage: parsed deny-by-default
  * rules, checked per row by [[Robots.allows]] in a narrow pass
  * ([[Politeness.prefilter]] in the crawl, with the rules broadcast) —
  * no shuffle, so a Zipf mega-host costs no more than its rows.
  */
case class RobotsRule(host: String, allowAll: Boolean,
    disallowPrefixes: Seq[String],
    /** `Crawl-delay: N` of the applicable group (non-standard but widely
      * honored); consumed by [[Politeness.schedule]]'s opt-in
      * `epochWindowSec` budget clamp. */
    crawlDelaySec: Option[Int] = None)

object Robots {

  /** Parse a robots.txt body into a [[RobotsRule]] for `host`, honoring
    * the group that applies to `userAgent` (longest-match agent
    * selection per RFC 9309 §2.2.1; `*` matches all). Only `Disallow`
    * prefix rules are modeled (the subset the admission stage enforces):
    * `Disallow: /` → full deny, empty `Disallow:` → allow everything,
    * comments (#) and unknown directives ignored, case-insensitive
    * directive names, first matching group wins ties at equal
    * specificity. A missing/blank file allows all (RFC 9309 §2.3.1.4). */
  def parseRobotsTxt(host: String, body: String,
      userAgent: String = "graftbot"): RobotsRule = {
    if (body == null || body.trim.isEmpty)
      return RobotsRule(host, allowAll = true, Seq.empty)
    final case class Group(agents: Seq[String], disallows: Seq[String],
        delaySec: Option[Int])
    val groups = scala.collection.mutable.ArrayBuffer.empty[Group]
    var agents = Vector.empty[String]
    var disallows = Vector.empty[String]
    var delay: Option[Int] = None
    var inRules = false
    def flush(): Unit = {
      if (agents.nonEmpty) groups += Group(agents, disallows, delay)
      agents = Vector.empty; disallows = Vector.empty; delay = None; inRules = false
    }
    body.linesIterator.foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val idx = line.indexOf(':')
      if (idx > 0) {
        val key = line.substring(0, idx).trim.toLowerCase
        val value = line.substring(idx + 1).trim
        key match {
          case "user-agent" =>
            if (inRules) flush() // a new group starts after rule lines
            agents :+= value.toLowerCase
          case "disallow" =>
            inRules = true
            if (value.nonEmpty) disallows :+= value
          case "crawl-delay" =>
            inRules = true
            delay = scala.util.Try(value.toDouble).toOption
              .filter(_ > 0).map(d => math.max(1, math.ceil(d).toInt))
          case "allow" | "sitemap" => inRules = true // recognized, not modeled
          case _ => () // unknown directive: ignored
        }
      }
    }
    flush()
    val ua = userAgent.toLowerCase
    // most-specific agent match: longest agent token that is a prefix of
    // the UA; '*' has specificity 0
    val applicable = groups.flatMap { g =>
      g.agents.collect {
        case a if a == "*" => (0, g)
        case a if ua.startsWith(a) => (a.length, g)
      }
    }
    applicable.sortBy(-_._1).headOption match {
      case None => RobotsRule(host, allowAll = true, Seq.empty)
      case Some((_, g)) =>
        if (g.disallows.contains("/"))
          RobotsRule(host, allowAll = false, Seq.empty, g.delaySec)
        else RobotsRule(host, allowAll = true, g.disallows, g.delaySec)
    }
  }

  /** Deterministic synthetic robots.txt BODIES for the synthetic hosts —
    * the fixtures run through the real parser, so the admission stage
    * consumes parsed rules, not hand-built structs:
    *  - ~1/23 hosts fully denied (`Disallow: /`);
    *  - every allowed host disallows the /private prefix (matching the
    *    FrontierSynth /private path fixture). */
  def syntheticRobotsTxt(hostIdx: Int, seed: Long): String = {
    val denied = java.lang.Long.remainderUnsigned(
      ExprOps.mix(hostIdx.toLong ^ seed), 23L) == 0L
    if (denied)
      s"""# synthetic robots fixture (denied host)
         |User-agent: *
         |Disallow: /
         |""".stripMargin
    else
      s"""# synthetic robots fixture
         |User-agent: graftbot
         |Disallow: /private
         |
         |User-agent: *
         |Disallow: /private
         |Disallow: /admin
         |""".stripMargin
  }

  /** Parsed rules for all synthetic hosts (what the epoch loop
    * broadcasts). */
  def syntheticRules(numHosts: Int, seed: Long): Map[String, RobotsRule] =
    (0 until numHosts).map { i =>
      val host = f"h$i%04d.courts.example"
      host -> parseRobotsTxt(host, syntheticRobotsTxt(i, seed))
    }.toMap

  def allows(rule: Option[RobotsRule], path: String): Boolean = rule match {
    case None => false // deny-by-default: unknown host not admitted
    case Some(r) =>
      r.allowAll && !r.disallowPrefixes.exists(p => path.startsWith(p))
  }
}
