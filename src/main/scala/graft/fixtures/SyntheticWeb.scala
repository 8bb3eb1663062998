package graft.fixtures

import graft.canon.{Hashing, Robots, RobotsRules, UrlCanon}
import graft.schema.{PageRow, RobotsRow}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic synthetic web (FIXTURES.md §2-3). Pure functions of
  * (host, index) so the Spark engine (Dataset generated via spark.range)
  * and the single-threaded oracle (direct lookup) see byte-identical pages.
  * Seeded by xxh64 — no RNG state, fully parallel-generation-safe: page i
  * is computable with no knowledge of page i-1, which is what lets the
  * fixture scale to 10^8+ rows by `spark.range(n).map(pageAt)`.
  */
final case class WebSpec(
    hosts: Int = 4, // h0..h{hosts-1}.example.com
    pagesPerHost: Int = 250,
    otherOrgPages: Int = 50, // cross-domain host
    subHostPages: Int = 50, // sub.h0.example.com (same-domain, not same-hostname)
    skewHost: Int = -1, // if >=0: this host gets 4x out-degree toward itself (hot-host skew)
    nImages: Int = 1000,
    linkFactor: Int = 1, // out-degree multiplier (bench: real pages carry 50-150 links)
    blockedEvery: Int = 0, // if >0: every Nth page body carries a blocked-content marker (F11)
    nofollowEvery: Int = 0, // if >0: every Nth page head carries a robots-nofollow meta tag
    // how page links are marked up: ("a", "href") renders <a href="...">,
    // ("img", "src") renders <img src="..."/> — exercises the
    // selector-parametrized extractor (reference selector/attribute params)
    linkTag: String = "a",
    linkAttr: String = "href"
) {
  def totalPages: Int = hosts * pagesPerHost + otherOrgPages + subHostPages
}

/** The synthetic web as a crawl engine fetches it: the page table
  * (PageRow schema), the parsed robots rules per host, and the status a
  * fetch of (url, attempt) answers. A caller that varies one part copies
  * the site (`site.copy(statusAt = ...)`) or transforms `pages`.
  */
final case class Site(pages: DataFrame, robots: Map[String, RobotsRules], statusAt: (String, Int) => Int)

object SyntheticWeb {

  /** The fetch surface of `spec`'s web: pages generated in parallel by
    * `spark.range(n).map(pageAt)`, and a status closure that captures
    * only `spec`, so it serializes into the engine's fetch tasks.
    */
  def site(spark: SparkSession, spec: WebSpec): Site = {
    import spark.implicits._
    Site(
      spark.range(spec.totalPages.toLong).map(g => pageAt(spec, g)).toDF(),
      robots(spec),
      (url, attempt) => statusAt(spec, hostIdx(spec, UrlCanon.parse(url).host), pageIdx(url), attempt))
  }

  /** Parsed robots rules of every host, keyed by host name. */
  def robots(spec: WebSpec): Map[String, RobotsRules] =
    allRobots(spec).map(r => r.host -> Robots.fromFetch(s"https://${r.host}", r.status, r.body)).toMap

  private def h64(parts: Any*): Long = Hashing.xxh64(parts.mkString(""))
  private def pos(l: Long): Long = l & Long.MaxValue

  /** Host name for host index. Index `hosts` = other.org, `hosts+1` = sub.h0. */
  def hostName(spec: WebSpec, h: Int): String =
    if (h < spec.hosts) s"h$h.example.com"
    else if (h == spec.hosts) "other.org"
    else s"sub.h0.example.com"

  def pagesOn(spec: WebSpec, h: Int): Int =
    if (h < spec.hosts) spec.pagesPerHost
    else if (h == spec.hosts) spec.otherOrgPages
    else spec.subHostPages

  /** Canonical (already-normalized) URL of page (h, i). Pages at i%17==0
    * live under /private (robots-disallowed on some hosts).
    */
  def urlOf(spec: WebSpec, h: Int, i: Int): String = {
    val prefix = if (i % 17 == 0 && i > 0) "/private/p/" else "/p/"
    s"https://${hostName(spec, h)}$prefix$i"
  }

  /** Host index of a host name: the inverse of [[hostName]]. */
  def hostIdx(spec: WebSpec, host: String): Int =
    if (host == "other.org") spec.hosts
    else if (host.startsWith("sub.")) spec.hosts + 1
    else host.drop(1).takeWhile(_.isDigit).toInt

  /** Page index of a page URL: the inverse of [[urlOf]] within its host. */
  def pageIdx(url: String): Int =
    url.substring(url.lastIndexOf('/') + 1).toInt

  /** Global page index <-> (host, idx) mapping for range-based generation. */
  def hostOfGlobal(spec: WebSpec, g: Long): (Int, Int) = {
    var rem = g
    var h = 0
    while (h <= spec.hosts + 1) {
      val n = pagesOn(spec, h)
      if (rem < n) return (h, rem.toInt)
      rem -= n
      h += 1
    }
    throw new IndexOutOfBoundsException(s"global page $g of ${spec.totalPages}")
  }

  /** Base status of the page (before retry dynamics): 200/301/404/500/429. */
  def baseStatus(spec: WebSpec, h: Int, i: Int): Int = {
    val r = pos(h64("status", h, i)) % 100
    if (r < 2) 301 else if (r < 4) 404 else if (r < 6) 500 else if (r < 7) 429 else 200
  }

  /** Status observed on a given fetch attempt: transient 429 always clears
    * on the next attempt; 500 clears unless the page is a hard-500
    * (hash-chosen half of them) — exercising both retry-success and
    * retry-exhaustion paths deterministically.
    */
  def statusAt(spec: WebSpec, h: Int, i: Int, attempt: Int): Int = {
    val base = baseStatus(spec, h, i)
    if (attempt == 0) base
    else
      base match {
        case 429 => 200
        case 500 => if (hard500(spec, h, i)) 500 else 200
        case s => s
      }
  }

  /** Whether page (h, i) answers 500 on every attempt. */
  def hard500(spec: WebSpec, h: Int, i: Int): Boolean =
    baseStatus(spec, h, i) == 500 && pos(h64("hard500", h, i)) % 2 == 0

  /** Redirect target on the same host; guaranteed not itself a redirect so
    * a single hop always lands on content (both engine and oracle rely on
    * this to keep redirect resolution a bounded join).
    */
  def redirectTarget(spec: WebSpec, h: Int, i: Int): String = {
    val n = pagesOn(spec, h)
    var j = ((i + 1 + pos(h64("redir", h, i)) % 7) % n).toInt
    var tries = 0
    while (baseStatus(spec, h, j) == 301 && tries < 50) {
      j = (j + 1) % n
      tries += 1
    }
    urlOf(spec, h, j)
  }

  def outDegree(spec: WebSpec, h: Int, i: Int): Int = {
    val base = (pos(h64("deg", h, i)) % 9).toInt * spec.linkFactor
    if (spec.skewHost >= 0 && h == spec.skewHost) base * 4 else base
  }

  /** The k-th raw (messy) link on page (h, i). Covers: relative, absolute,
    * utm-polluted dup, fragment dup, rejected schemes, cross-host,
    * same-domain subhost, http-twin (same-hostname-not-same-origin).
    */
  def linkAt(spec: WebSpec, h: Int, i: Int, k: Int): String = {
    val n = pagesOn(spec, h)
    val j = (pos(h64("tgt", h, i, k)) % n).toInt
    val form = pos(h64("form", h, i, k)) % 12
    val target = urlOf(spec, h, j)
    val path = target.substring(target.indexOf('/', 8)) // after scheme://host
    form match {
      case 0 | 1 | 2 => path // relative
      case 3 | 4 => target // absolute same host
      case 5 => target + "?utm_source=x&utm_medium=y" // normalizes to target
      case 6 => target + "#sec" + k // fragment dup
      case 7 => s"MAILTO:user$k@example.com" // rejected scheme
      case 8 => // cross-host (other.org)
        urlOf(spec, spec.hosts, (pos(h64("x", h, i, k)) % spec.otherOrgPages).toInt)
      case 9 => // same-domain subhost
        urlOf(spec, spec.hosts + 1, (pos(h64("s", h, i, k)) % spec.subHostPages).toInt)
      case 10 => "http://" + target.substring(8) // http twin
      case _ => // uppercase messy variant of an existing URL (normalizes down)
        val up = urlOf(spec, h, j)
        up.replace("https://", "HTTPS://").replace(".example.com", ".EXAMPLE.com")
    }
  }

  def links(spec: WebSpec, h: Int, i: Int): Array[String] =
    Array.tabulate(outDegree(spec, h, i))(k => linkAt(spec, h, i, k))

  def baseHref(spec: WebSpec, h: Int, i: Int): String =
    if (pos(h64("base", h, i)) % 20 == 0) s"https://${hostName(spec, h)}/" else null

  def imageIds(spec: WebSpec, h: Int, i: Int, globalIdx: Long): Array[String] = {
    val n = (pos(h64("nimg", h, i)) % 4).toInt
    Array.tabulate(n)(k => f"img-${(globalIdx * 3 + k) % spec.nImages}%08d")
  }

  def body(spec: WebSpec, h: Int, i: Int): String = {
    val sb = new StringBuilder("<html><head>")
    val base = baseHref(spec, h, i)
    if (base != null) sb.append(s"""<base href="$base">""")
    // page-level robots meta (beyond-reference nofollow gate; the engine
    // and the oracle both read it straight from this body)
    if (spec.nofollowEvery > 0 && i > 0 && i % spec.nofollowEvery == 0)
      sb.append("""<meta name="robots" content="nofollow">""")
    sb.append("</head><body>")
    // F11 fixture: the cloudflare challenge marker Blocked.blockedReason
    // detects — a blocked page stays blocked on refetch (rotation exhausts)
    if (spec.blockedEvery > 0 && i > 0 && i % spec.blockedEvery == 0)
      sb.append("""<iframe src="https://challenges.cloudflare.com/turnstile"></iframe>""")
    links(spec, h, i).foreach { l =>
      if (spec.linkTag == "a" && spec.linkAttr == "href")
        sb.append(s"""<p><a href="$l">link</a></p>""")
      else
        sb.append(s"""<p><${spec.linkTag} ${spec.linkAttr}="$l">link</${spec.linkTag}></p>""")
    }
    sb.append("</body></html>")
    sb.toString
  }

  def pageAt(spec: WebSpec, g: Long): PageRow = {
    val (h, i) = hostOfGlobal(spec, g)
    val st = baseStatus(spec, h, i)
    PageRow(
      url = urlOf(spec, h, i),
      host = hostName(spec, h),
      status = st,
      redirect_to = if (st == 301) redirectTarget(spec, h, i) else null,
      base_href = baseHref(spec, h, i),
      body = body(spec, h, i),
      links = links(spec, h, i),
      image_ids = imageIds(spec, h, i, g)
    )
  }

  /** robots.txt per host (FIXTURES.md §3): h0 disallows /private and sets
    * no delay; h1 crawl-delay 2; h2 robots 404 (allow all); h3 robots 503
    * (disallow all); others allow-all. other.org and sub host allow-all.
    */
  def robotsAt(spec: WebSpec, h: Int): RobotsRow = {
    val host = hostName(spec, h)
    if (h >= spec.hosts) RobotsRow(host, 200, "User-agent: *\nAllow: /")
    else
      h % 4 match {
        case 0 => RobotsRow(host, 200, "User-agent: *\nDisallow: /private")
        case 1 => RobotsRow(host, 200, "User-agent: *\nCrawl-delay: 2\nAllow: /")
        case 2 => RobotsRow(host, 404, "")
        case 3 => RobotsRow(host, 503, "")
      }
  }

  def allRobots(spec: WebSpec): Seq[RobotsRow] =
    (0 until (spec.hosts + 2)).map(h => robotsAt(spec, h))
}
