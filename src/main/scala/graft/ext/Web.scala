package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.States

/** Web-curation operators: URL parsing / canonicalization / dedup /
  * registered-domain extraction, and HTML boilerplate stripping with a
  * link-density screen. The reference (dbt-SQL credit marts,
  * `dbt/credit_mart/models/` SQL) has no web handling — this is the
  * LLM-pipeline extension layer: every scraped-web corpus (C4,
  * RefinedWeb, Dolma) dedups by canonical URL, aggregates and screens
  * by registered domain, and strips markup before any text filter runs.
  *
  * Discipline mirrors the codec family: the fixtures are assembled by
  * pinned arithmetic off `doc_id` (so a DuckDB oracle can state the
  * EXPECTED components without parsing), while the operators do real
  * work on the assembled strings — regexp structure extraction for
  * URLs, a hand-written character state machine for HTML. A parse bug
  * on either side hash-fails against the generator truth.
  *
  * Scale posture: everything here is a narrow per-row transform
  * (codegen'd regexp / string expressions, or a mapPartitions state
  * machine) except the dedup/count rollups, which are single
  * hash-aggregations on the canonical key — no window, no self-join,
  * no driver state. The blocklist screen is a broadcast join against a
  * tiny dimension, exactly the shape a 100 TB run wants.
  */
object Web {

  // ---------------------------------------------------------------------
  // URL fixture: four crawl variants of one canonical page per key.
  // ---------------------------------------------------------------------

  /** Derive a deterministic `url` per document. Four consecutive
    * doc_ids share a canonical page key `k = doc_id div 4` and carry
    * four crawl variants of the same page (the real-world re-crawl
    * mess a URL canonicalizer exists to merge):
    *
    *  - v0: the canonical form itself,
    *  - v1: UPPERCASE scheme+host, an explicit default port (`:443` /
    *    `:80` — or `:8080`, a REAL port that must survive, when
    *    k % 7 == 0), and a `#sec<doc_id%7>` fragment,
    *  - v2: `utm_*` tracking params (decorating the real query, or
    *    standing alone so the whole query must vanish),
    *  - v3: a trailing slash and a `#top` fragment.
    *
    * Page-key arithmetic (all replayable in SQL): sub = k%4 →
    * {www., cdn., blog., ∅}; name = (k div 4)%5 → {alpha…echo};
    * suffix = (k div 20)%6 → {com, org, co.uk, io, ac.uk, net};
    * scheme = k%2 → {https, http}; path = /p/(k%40); query =
    * ?ref=(k%3) when k%5 < 2 else none. */
  def urlTable(documents: DataFrame): DataFrame = {
    val k = expr("doc_id div 4")
    val v = expr("doc_id % 4")
    val sub = element_at(
      array(lit("www."), lit("cdn."), lit("blog."), lit("")),
      (k % 4 + 1).cast(IntegerType))
    val name = element_at(
      array(lit("alpha"), lit("bravo"), lit("charlie"), lit("delta"), lit("echo")),
      (expr("(doc_id div 4) div 4") % 5 + 1).cast(IntegerType))
    val suffix = element_at(
      array(lit("com"), lit("org"), lit("co.uk"), lit("io"), lit("ac.uk"), lit("net")),
      (expr("(doc_id div 4) div 20") % 6 + 1).cast(IntegerType))
    val host = concat(sub, name, lit("."), suffix)
    val scheme = when(k % 2 === 0, lit("https")).otherwise(lit("http"))
    val path = concat(lit("/p/"), (k % 40).cast(StringType))
    val ref = (k % 3).cast(StringType)
    val hasRef = k % 5 < 2
    val canonQuery = when(hasRef, concat(lit("?ref="), ref)).otherwise(lit(""))
    val v1Port = when(k % 7 === 0, lit(":8080"))
      .otherwise(when(k % 2 === 0, lit(":443")).otherwise(lit(":80")))
    val url = when(v === 0,
        concat(scheme, lit("://"), host, path, canonQuery))
      .when(v === 1,
        concat(upper(scheme), lit("://"), upper(host), v1Port, path, canonQuery,
          lit("#sec"), (col("doc_id") % 7).cast(StringType)))
      .when(v === 2,
        concat(scheme, lit("://"), host, path,
          when(hasRef, concat(lit("?utm_source=feed&ref="), ref))
            .otherwise(lit("?utm_campaign=x"))))
      .otherwise(
        concat(scheme, lit("://"), host, path, lit("/"), canonQuery, lit("#top")))
    documents.select(col("doc_id"), url.as("url"))
  }

  // ---------------------------------------------------------------------
  // URL structure extraction (RFC-3986 component split, regexp-driven).
  // ---------------------------------------------------------------------

  private val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"

  /** Split `url` into scheme / host / port / path / query / fragment
    * with codegen'd regexps (no UDF). Absent port is -1; absent
    * query/fragment are empty strings. A string with no `scheme://`
    * prefix yields EMPTY scheme/host/path (pinned, spec-tested): this
    * is a column expression, so malformed rows degrade to empties a
    * downstream `filter(col("scheme") =!= "")` screens, rather than
    * failing the batch — the row-level-parser fail-loud rule applies
    * to decoders, not to per-row screens over untrusted crawl data.
    * The oracle states each component from the GENERATOR arithmetic,
    * so the regexps are under test, not shared with the oracle. */
  def urlParse(urls: DataFrame): DataFrame =
    urls.select(
      col("doc_id"), col("url"),
      regexp_extract(col("url"), SchemeRe, 1).as("scheme"),
      regexp_extract(col("url"), SchemeRe + "([^/:?#]*)", 2).as("host"),
      when(regexp_extract(col("url"), SchemeRe + "[^/:?#]*:([0-9]+)", 2) === "",
        lit(-1L))
        .otherwise(regexp_extract(col("url"), SchemeRe + "[^/:?#]*:([0-9]+)", 2)
          .cast(LongType)).as("port"),
      regexp_extract(col("url"), SchemeRe + "[^/?#]*([^?#]*)", 2).as("path"),
      regexp_extract(col("url"), "\\?([^#]*)", 1).as("query"),
      regexp_extract(col("url"), "#(.*)", 1).as("fragment"))

  /** Canonicalize: lowercase scheme+host, drop the fragment, drop the
    * scheme's default port (443/80) but KEEP real ones, drop `utm_*`
    * query params (dropping `?` when the query empties), and strip one
    * trailing slash from a non-root path. Normalization is total —
    * every rule is a pure string/array expression, so the whole thing
    * stays inside whole-stage codegen. */
  def urlNormalize(urls: DataFrame): DataFrame =
    urlParse(urls).select(col("doc_id"), col("url"), canonUrlCol.as("canon_url"))

  /** The canonical-URL rule as ONE column expression over [[urlParse]]'s
    * output — shared by [[urlNormalize]] and the fused single-projection
    * [[crawlTrapReport]] pass (Catalyst does not collapse self-joins, so
    * every consumer that needs canon_url NEXT TO other per-row URL
    * derivations must compose columns, not join frames). */
  private def canonUrlCol: Column = {
    val schemeN = lower(col("scheme"))
    val hostN = lower(col("host"))
    val portPart = when(col("port") === -1L, lit(""))
      .when(schemeN === "https" && col("port") === 443L, lit(""))
      .when(schemeN === "http" && col("port") === 80L, lit(""))
      .otherwise(concat(lit(":"), col("port").cast(StringType)))
    val pathN = when(length(col("path")) > 1 && col("path").endsWith("/"),
        expr("substring(path, 1, length(path) - 1)"))
      .otherwise(col("path"))
    val keptQuery = array_join(
      filter(split(col("query"), "&"),
        t => !t.startsWith("utm_") && t =!= ""), "&")
    val queryPart = when(length(keptQuery) > 0, concat(lit("?"), keptQuery))
      .otherwise(lit(""))
    concat(schemeN, lit("://"), hostN, portPart, pathN, queryPart)
  }

  /** URL-level dedup: group the corpus by canonical URL; survivorship
    * is the house min-id rule. ONE shuffle: a naive
    * `countDistinct(url)` plans the two-exchange distinct rewrite, so
    * this pre-partitions on the canonical key and lets both nested
    * aggregations (per-variant, then per-page) reuse that
    * partitioning — the PlanSpec pin holds the plan to one exchange.
    * Per-key variant counts are bounded by true duplication. Not a
    * read of [[urlDedupAdd]]: that state's own groupBy would add the
    * second exchange the pinned one-exchange plan avoids. */
  def urlDupGroups(urls: DataFrame): DataFrame =
    urlNormalize(urls)
      .repartition(col("canon_url"))
      .groupBy(col("canon_url"), col("url"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("m"))
      .groupBy(col("canon_url"))
      .agg(
        sum(col("n")).as("n_docs"),
        min(col("m")).as("survivor"),
        count(lit(1)).as("n_variants"))

  /** Ingest contract for URL dedup: one delta's per-(canonical, raw)
    * counts and min-id. [[mergeUrlStates]] is plain (sum, min) — order-
    * free and exact even when a page's crawls split across deltas —
    * and [[urlDupGroupsFromState]] reads any merged ingest
    * bit-identically to the batch [[urlDupGroups]]. State is one row
    * per observed raw variant, bounded by true crawl diversity. */
  def urlDedupAdd(urls: DataFrame): DataFrame =
    urlNormalize(urls)
      .groupBy(col("canon_url"), col("url"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("m"))

  /** Exact merge of any number of [[urlDedupAdd]] states: per-variant
    * integer sums and min survivorship. */
  def mergeUrlStates(states: DataFrame*): DataFrame =
    States.merge(states, Seq("canon_url", "url"), "n" -> States.Sum, "m" -> States.Min)

  /** Group read off a maintained state — the second level of
    * [[urlDupGroups]]' nested aggregation, so batch ≡ FromState(Add)
    * by construction. */
  def urlDupGroupsFromState(state: DataFrame): DataFrame =
    state.groupBy(col("canon_url"))
      .agg(
        sum(col("n")).as("n_docs"),
        min(col("m")).as("survivor"),
        count(lit(1)).as("n_variants"))

  // ---------------------------------------------------------------------
  // Registered-domain (eTLD+1) extraction over a pinned mini suffix list.
  // ---------------------------------------------------------------------

  /** Pinned MULTI-label public-suffix fragment the fixture exercises
    * (a production run swaps in the full PSL — same longest-match
    * rule). Single-label TLDs need no list here: the else-branch of
    * [[suffixAndRegDomain]] is the PSL's own unknown-TLD convention —
    * treat the last label as the suffix and the last TWO labels as the
    * registered domain — which is also the correct answer for every
    * known single-label TLD, so enumerating them would change nothing. */
  val MultiLabelSuffixes: Seq[String] = Seq("co.uk", "ac.uk")

  /** (public suffix, registered domain) as column expressions over the
    * lowered host — shared by [[registeredDomain]] and the fused
    * one-projection [[crawlTrapReport]] pass. A multi-label public
    * suffix claims the last THREE labels as the registered domain;
    * otherwise (known single-label TLD and unknown TLD alike, see
    * [[MultiLabelSuffixes]]) the last two. */
  private def suffixAndRegDomain(hostN: Column): (Column, Column) = {
    val labels = split(hostN, "\\.")
    val last1 = element_at(labels, -1)
    val last2 = concat(element_at(labels, -2), lit("."), last1)
    val isMulti = last2.isin(MultiLabelSuffixes: _*)
    (when(isMulti, last2).otherwise(last1),
      when(isMulti, concat(element_at(labels, -3), lit("."), last2))
        .otherwise(last2))
  }

  /** eTLD+1 by longest-suffix match over the pinned fragment. Pure
    * array expressions over the lowered host. */
  def registeredDomain(urls: DataFrame): DataFrame = {
    val hostN = lower(regexp_extract(col("url"), SchemeRe + "([^/:?#]*)", 2))
    val (suffix, regDomain) = suffixAndRegDomain(hostN)
    urls.select(
      col("doc_id"),
      hostN.as("host"),
      suffix.as("suffix"),
      regDomain.as("reg_domain"))
  }

  /** Per-registered-domain rollup a crawl-health dashboard reads:
    * documents, distinct canonical pages, distinct hosts. */
  def domainDocCounts(urls: DataFrame): DataFrame = {
    val canon = urlNormalize(urls).select(col("doc_id"), col("canon_url"))
    registeredDomain(urls)
      .join(canon, Seq("doc_id"))
      .groupBy(col("reg_domain"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("canon_url")).as("n_pages"),
        countDistinct(col("host")).as("n_hosts"))
  }

  /** Pinned blocklist the screen joins against (a real run feeds a
    * curated table of spam/SEO domains — the plan shape is the point:
    * a broadcast join against a tiny dimension, never a giant IN). */
  val BlockedDomains: Seq[String] = Seq("delta.co.uk", "echo.io", "charlie.net")

  /** Domain blocklist screen: broadcast-join the per-doc registered
    * domain against the blocklist; `kept` is the keep verdict. */
  def domainScreen(urls: DataFrame): DataFrame = {
    val spark = urls.sparkSession
    import spark.implicits._
    val block = broadcast(BlockedDomains.toDF("reg_domain")
      .withColumn("blocked_flag", lit(1)))
    registeredDomain(urls)
      .join(block, Seq("reg_domain"), "left")
      .select(
        col("doc_id"), col("reg_domain"),
        coalesce(col("blocked_flag"), lit(0)).as("blocked"),
        (lit(1) - coalesce(col("blocked_flag"), lit(0))).as("kept"))
  }

  /** Domain-reputation screen: aggregate a per-doc quality margin to
    * the registered domain and keep docs whose DOMAIN averages at or
    * above the threshold (RefinedWeb's move — reputation is a domain
    * property, so one spammy page taints its siblings and one good
    * page on a content farm doesn't rescue it). The verdict compares
    * cross-multiplied integers (domain_margin ≥ thr·domain_docs, both
    * exact int64 sums); the per-doc rows are localCheckpointed so the
    * rollup and the join-back read ONE materialization instead of
    * recomputing the margin join twice (the drift monitor's lesson). */
  def domainReputationScreen(urls: DataFrame, margins: DataFrame,
      thr: Long = 0L): DataFrame = {
    val scored = registeredDomain(urls)
      .select(col("doc_id"), col("reg_domain"))
      .join(margins.select(col("doc_id"), col("margin")), Seq("doc_id"), "left")
      .select(col("doc_id"), col("reg_domain"),
        coalesce(col("margin"), lit(0L)).as("margin"))
      .localCheckpoint(false)
    val rep = scored.groupBy(col("reg_domain"))
      .agg(count(lit(1)).as("domain_docs"), sum(col("margin")).as("domain_margin"))
    scored.join(broadcast(rep), Seq("reg_domain"))
      .select(col("doc_id"), col("reg_domain"), col("margin"),
        col("domain_docs"), col("domain_margin"),
        (col("domain_margin") >= lit(thr) * col("domain_docs"))
          .cast(IntegerType).as("kept"))
  }

  // ---------------------------------------------------------------------
  // HTML fixture + extraction state machine + boilerplate screen.
  // ---------------------------------------------------------------------

  /** Wrap each document's text in a deterministic HTML page: head with
    * a `<script>` (whose content a real extractor must DROP), nav
    * boilerplate with two links, a link farm for doc_id % 7 == 0 (the
    * SEO page the density screen exists to reject), and an
    * entity-laden prefix exercising all five decoded entities plus an
    * unknown one that must stay literal. Pure string concat —
    * replayable in SQL. */
  def htmlTable(documents: DataFrame): DataFrame = {
    val nav = "<nav><a href=\"/\">home</a> " +
      "<a href=\"/about\">about &amp; contact</a></nav>"
    val farmItem = "<li><a href=\"/x\">x y z w</a></li>"
    val farm = "<ul>" + (farmItem * 6) + "</ul>"
    val ent = "&lt;tag&gt; &amp; &quot;q&quot; &#39;s &nope; "
    val idStr = col("doc_id").cast(StringType)
    documents.select(
      col("doc_id"),
      concat(
        lit("<!DOCTYPE html><html><head><title>doc "), idStr,
        lit("</title><script>var x = 1 < 2;</script></head><body>"),
        lit(nav),
        when(col("doc_id") % 7 === 0, lit(farm)).otherwise(lit("")),
        lit("<h1>doc "), idStr, lit("</h1><p>"),
        lit(ent), col("text"),
        lit("</p></body></html>")).as("html"))
  }

  final case class HtmlDoc(doc_id: Long, html: String)
  final case class ExtractedDoc(doc_id: Long, title: String, extracted: String,
      content_chars: Long, anchor_chars: Long, n_links: Long)

  /** Decode one entity reference starting at `&` (bounded lookahead to
    * `;` within 8 chars); unknown references stay literal. Returns the
    * decoded char (or 0 for "not an entity") and the consumed length. */
  private def decodeEntity(s: String, i: Int): (Char, Int) = {
    val semi = s.indexOf(';', i + 1)
    if (semi < 0 || semi - i > 8) (' ', 0)
    else s.substring(i + 1, semi) match {
      case "lt" => ('<', semi - i + 1)
      case "gt" => ('>', semi - i + 1)
      case "quot" => ('"', semi - i + 1)
      case "#39" => ('\'', semi - i + 1)
      case "amp" => ('&', semi - i + 1)
      case _ => (' ', 0)
    }
  }

  /** REAL extraction: a single-pass character state machine (the
    * independent implementation the DuckDB regexp-chain oracle checks
    * against — the two sides share only the pinned semantics, not
    * code). Rules: `<script>`/`<style>` elements vanish with their
    * content; every other tag becomes one space; the five standard
    * entities decode (unknown ones stay literal); whitespace runs
    * collapse to single spaces and the result is trimmed. Alongside
    * the text it counts non-space chars emitted inside `<a>` elements
    * (`anchor_chars`) and `<a>` openings (`n_links`), and captures the
    * `<title>` text — everything the boilerplate screen needs in one
    * narrow pass, no shuffle. */
  def htmlExtract(pages: Dataset[HtmlDoc]): Dataset[ExtractedDoc] = {
    val spark = pages.sparkSession
    import spark.implicits._
    // Scan-aware spread (the charTrigrams discipline, gated since r21):
    // the per-char state machine is the heaviest narrow pass of the web
    // stack and must not ride a ONE-task single-file scan stage — but
    // exchanging the full html payload "for parallelism" the source
    // already has would be pure cost at 100 TB, so the repartition only
    // fires when the input arrives with fewer partitions than the
    // session's parallelism. N comes from the shared accessor so this
    // Dataset site cannot drift from Partitioning.spread (r20 advisor).
    val nPart = graft.operators.Partitioning.numPartitions(spark)
    val src = if (pages.rdd.getNumPartitions < nPart)
      pages.repartition(nPart, col("doc_id")) else pages
    src.mapPartitions(_.map { p =>
      val s = p.html
      val out = new StringBuilder
      var title = ""
      var i = 0
      var anchorDepth = 0
      var anchorChars = 0L
      var nLinks = 0L
      var pendingSpace = false
      var contentChars = 0L

      def emit(c: Char): Unit = {
        if (c == ' ' || c == '\t' || c == '\n' || c == '\r') {
          if (out.nonEmpty) pendingSpace = true
        } else {
          if (pendingSpace) { out.append(' '); pendingSpace = false }
          out.append(c)
          contentChars += 1
          if (anchorDepth > 0) anchorChars += 1
        }
      }

      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '<') {
          val close = s.indexOf('>', i + 1)
          require(close > i, s"doc ${p.doc_id}: unterminated tag at char $i")
          val body = s.substring(i + 1, close)
          val isClose = body.startsWith("/")
          // the name scan stops at ANY whitespace (HTML allows tab/
          // newline between the tag name and its attributes — r17
          // advisor: a space-only stop missed '<a\nhref=..>' as an
          // anchor while the oracle's regexp counted it)
          val name = (if (isClose) body.substring(1) else body)
            .takeWhile(ch => !Character.isWhitespace(ch) && ch != '/').toLowerCase
          if (!isClose && (name == "script" || name == "style")) {
            val end = s.indexOf(s"</$name>", close + 1)
            require(end >= 0, s"doc ${p.doc_id}: unterminated <$name> element")
            i = end + name.length + 3
          } else {
            if (name == "a") {
              if (isClose) anchorDepth = math.max(0, anchorDepth - 1)
              else { anchorDepth += 1; nLinks += 1 }
            } else if (name == "title" && !isClose && title.isEmpty) {
              // side read: raw inner text of the first <title> element
              // (no decode, no collapse); scanning continues normally so
              // the title text also flows through as page content
              val end = s.indexOf("</title>", close + 1)
              require(end >= 0, s"doc ${p.doc_id}: unterminated <title> element")
              title = s.substring(close + 1, end)
            }
            emit(' ')
            i = close + 1
          }
        } else if (c == '&') {
          val (dec, len) = decodeEntity(s, i)
          if (len > 0) { emit(dec); i += len }
          else { emit(c); i += 1 }
        } else { emit(c); i += 1 }
      }
      ExtractedDoc(p.doc_id, title, out.toString,
        contentChars, anchorChars, nLinks)
    })
  }

  /** Readability/jusText-style boilerplate screen over [[htmlExtract]]:
    * reject link farms (anchor chars > 20% of content chars) and
    * too-short pages (< 120 content chars). Fractions are one IEEE
    * divide for display; the verdict compares cross-multiplied
    * INTEGERS, the house no-float-edge rule. */
  def boilerplateScreen(pages: Dataset[HtmlDoc]): DataFrame =
    htmlExtract(pages).toDF().select(
      col("doc_id"), col("content_chars"), col("anchor_chars"), col("n_links"),
      (col("anchor_chars").cast(DoubleType) / col("content_chars").cast(DoubleType))
        .as("link_density"),
      (col("anchor_chars") * 5 <= col("content_chars") &&
        col("content_chars") >= 120).cast(IntegerType).as("accepted"))

  // ---------------------------------------------------------------------
  // robots.txt: fixture, parser, longest-match screen.
  // ---------------------------------------------------------------------

  /** One deterministic robots.txt per registered domain (rules are
    * arithmetic off the domain's name/suffix indexes, so the oracle
    * can state them without parsing): a `User-agent: *` group with two
    * Disallow prefixes d1 = (ni·7+si)%40 and d2 = (ni·11+3·si)%40, and
    * — when (ni+si)%2 == 0 — an `Allow:` for d1 that must WIN the
    * equal-length tie (the Google-spec rule). A comment line and blank
    * line exercise the parser's skipping. */
  def robotsTable(documents: DataFrame): DataFrame = {
    val ni = expr("((doc_id div 4) div 4) % 5")
    val si = expr("((doc_id div 4) div 20) % 6")
    val name = element_at(
      array(lit("alpha"), lit("bravo"), lit("charlie"), lit("delta"), lit("echo")),
      (ni + 1).cast(IntegerType))
    val suffix = element_at(
      array(lit("com"), lit("org"), lit("co.uk"), lit("io"), lit("ac.uk"), lit("net")),
      (si + 1).cast(IntegerType))
    val d1 = (ni * 7 + si) % 40
    val d2 = (ni * 11 + si * 3) % 40
    documents.select(
        concat(name, lit("."), suffix).as("reg_domain"),
        concat(
          lit("# synthetic robots fixture\n\nUser-agent: *\nDisallow: /p/"),
          d1.cast(StringType), lit("\n"),
          when((ni + si) % 2 === 0,
            concat(lit("Allow: /p/"), d1.cast(StringType), lit("\n")))
            .otherwise(lit("")),
          lit("Disallow: /p/"), d2.cast(StringType), lit("\n")).as("robots_txt"))
      .distinct()
  }

  /** Parse rule lines out of the robots.txt text (REAL parse — the
    * oracle states the rules from arithmetic): split lines, keep
    * `Allow:`/`Disallow:` verbs, trim the path prefix; comments and
    * blanks drop. */
  def robotsRules(robots: DataFrame): DataFrame =
    robots
      .select(col("reg_domain"),
        explode(split(col("robots_txt"), "\n")).as("line"))
      .select(col("reg_domain"),
        regexp_extract(col("line"), "^(Allow|Disallow):", 1).as("verb"),
        trim(regexp_extract(col("line"), "^(?:Allow|Disallow):\\s*(.*)$", 1))
          .as("prefix"))
      .filter(col("verb") =!= "" && col("prefix") =!= "")

  /** robots screen: per URL, the longest-prefix-match verdict over its
    * domain's rules — string prefix semantics (so `Disallow: /p/3`
    * also blocks `/p/31`, the actual robots.txt behavior), longest
    * prefix wins, equal length ties break to Allow (Google's rule),
    * no match means allowed. The rules side is domains-bounded, so the
    * join broadcasts; the verdict is a map-side-combinable min(struct),
    * never a window. */
  def robotsScreen(urls: DataFrame, robots: DataFrame): DataFrame = {
    val rules = broadcast(robotsRules(robots))
    val pages = urlParse(urls).select(col("doc_id"), col("path"))
      .join(registeredDomain(urls).select(col("doc_id"), col("reg_domain")),
        Seq("doc_id"))
    val matched = pages.join(rules, Seq("reg_domain"))
      .filter(col("path").startsWith(col("prefix")))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("matched_rules"),
        min(struct(
          (-length(col("prefix"))).as("neg_len"),
          when(col("verb") === "Allow", 0).otherwise(1).as("verb_rank"),
          col("prefix").as("prefix"))).as("best"))
      .select(col("doc_id"), col("matched_rules"),
        (col("best.verb_rank") === 0).cast(IntegerType).as("match_allows"))
    pages.join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"), col("reg_domain"), col("path"),
        coalesce(col("matched_rules"), lit(0L)).as("matched_rules"),
        coalesce(col("match_allows"),
          lit(1)).as("allowed"))
  }

  /** Crawl-trap report: per (registered domain, path TEMPLATE — digit
    * runs collapsed to `N`), how many distinct raw URLs, canonical
    * pages, and crawls landed there. A template accumulating an
    * outsized URL count is the calendar/pagination/session-id trap
    * every crawler blocklists (infinite URL spaces under one path
    * shape). Output is (domains × templates)-bounded — a REPORT
    * aggregation.
    *
    * ONE projection pass, ONE exchange, ZERO joins: canon_url, the
    * digit-collapsed template, and reg_domain are all pure per-row
    * expressions over `url`, so they are computed side by side in a
    * single `select` (the r17 shape joined three projections of the
    * same frame on doc_id — at crawl scale the URL table IS the
    * corpus, and Catalyst does not collapse self-joins, so that paid
    * two corpus-sized shuffles for nothing). The two distinct counts
    * ride [[urlDupGroups]]' pre-partitioned NESTED aggregation instead
    * of the planner's multi-countDistinct Expand rewrite: one
    * `repartition` on the report key, then three stacked groupBys
    * ((key, canon, url) → (key, canon) → key) that all reuse that
    * partitioning — `canon_url` is a function of `url`, so counting
    * pair rows counts distinct urls exactly. */
  def crawlTrapReport(urls: DataFrame, minUrls: Long = 60L): DataFrame =
    urlParse(urls)
      .select(
        suffixAndRegDomain(lower(col("host")))._2.as("reg_domain"),
        regexp_replace(col("path"), "[0-9]+", "N").as("template"),
        col("url"),
        canonUrlCol.as("canon_url"))
      .repartition(col("reg_domain"), col("template"))
      .groupBy(col("reg_domain"), col("template"), col("canon_url"), col("url"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("reg_domain"), col("template"), col("canon_url"))
      .agg(count(lit(1)).as("u"), sum(col("n")).as("n"))
      .groupBy(col("reg_domain"), col("template"))
      .agg(
        sum(col("u")).as("n_urls"),
        count(lit(1)).as("n_pages"),
        sum(col("n")).as("n_crawls"))
      .select(col("reg_domain"), col("template"), col("n_urls"), col("n_pages"),
        col("n_crawls"),
        (col("n_urls") >= minUrls).cast(IntegerType).as("trap_suspect"))

  /** Mirror/syndication detection: identical-content documents spanning
    * ≥ 2 registered domains (the C4 finding — news syndication and site
    * mirrors inflate a crawl corpus with cross-domain exact dups that
    * URL dedup cannot see). Content identity rides [[Text.textStats]]'
    * arithmetic fingerprint (8-byte key — the corpus text never
    * shuffles); the group carries the DISTINCT domain list sorted, the
    * doc count, and min-id survivorship. Same one-shuffle nested-
    * aggregation shape as [[urlDupGroups]]. */
  def mirrorGroups(documents: DataFrame, urls: DataFrame): DataFrame = {
    val fp = Text.textStats(documents).select(col("doc_id"), col("fingerprint"))
    val rd = registeredDomain(urls).select(col("doc_id"), col("reg_domain"))
    fp.join(rd, Seq("doc_id"))
      .repartition(col("fingerprint"))
      .groupBy(col("fingerprint"), col("reg_domain"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("m"))
      .groupBy(col("fingerprint"))
      .agg(
        sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_domains"),
        min(col("m")).as("survivor"),
        array_join(array_sort(collect_list(col("reg_domain"))), ",").as("domains"))
      .filter(col("n_domains") >= 2)
  }

  // ---------------------------------------------------------------------
  // Composed web-curation keep-list (the C4/RefinedWeb decision table).
  // ---------------------------------------------------------------------

  /** The crawl-to-corpus decision table — every screen this module
    * ships joined on ONE doc spine, the multimodal_curation discipline
    * applied to the web stack: URL-dedup survivorship (doc is the
    * min-id member of its canonical group), domain blocklist, domain
    * reputation over the supplied per-doc quality margins, and the
    * boilerplate screen; `keep` is their conjunction. Everything is a
    * spine equi-join: dedup survivorship rides the one-exchange nested
    * aggregation, both domain verdicts broadcast (blocklist is a tiny
    * curated dim; the reputation rollup is domains-bounded), and the
    * HTML pass is the zero-exchange state machine. */
  def webCurationKeeplist(documents: DataFrame, margins: DataFrame,
      repThr: Long = 0L): DataFrame = {
    val urls = urlTable(documents)
    keeplistCore(documents, margins, repThr,
      urlDupGroups(urls)
        .select(col("survivor").as("doc_id"), lit(1).as("url_keep")))
  }

  /** [[webCurationKeeplist]] off MAINTAINED states — the deployment
    * shape (the curationPipelineFromStates precedent applied to the
    * web stack): URL survivorship reads a merged [[urlDedupAdd]]
    * ingest instead of re-grouping the crawl; the quality margins
    * arrive as the caller's maintained per-doc state. Bit-identical to
    * the batch twin by the (sum, min) merge contract. */
  def webCurationKeeplistFromState(documents: DataFrame, urlState: DataFrame,
      margins: DataFrame, repThr: Long = 0L): DataFrame =
    keeplistCore(documents, margins, repThr,
      urlDupGroupsFromState(urlState)
        .select(col("survivor").as("doc_id"), lit(1).as("url_keep")))

  private def keeplistCore(documents: DataFrame, margins: DataFrame,
      repThr: Long, survivors: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val urls = urlTable(documents)
    val block = domainScreen(urls).select(col("doc_id"), col("kept").as("domain_keep"))
    val rep = domainReputationScreen(urls, margins, repThr)
      .select(col("doc_id"), col("kept").as("rep_keep"))
    val boiler = boilerplateScreen(htmlTable(documents).as[HtmlDoc])
      .select(col("doc_id"), col("accepted").as("boiler_keep"))
    // `rep` (one row per doc, lazily checkpointed) has no size estimate:
    // un-hinted, AQE demoted its sort-merge join to a broadcast at run
    // time, keeping the spine's doc_id exchange only if it had already run
    documents.select(col("doc_id"))
      .join(survivors, Seq("doc_id"), "left")
      .join(block, Seq("doc_id"))
      .join(rep.hint("merge"), Seq("doc_id"))
      .join(boiler, Seq("doc_id"))
      .select(col("doc_id"),
        coalesce(col("url_keep"), lit(0)).as("url_keep"),
        col("domain_keep"), col("rep_keep"), col("boiler_keep"),
        (coalesce(col("url_keep"), lit(0)) === 1 && col("domain_keep") === 1 &&
          col("rep_keep") === 1 && col("boiler_keep") === 1)
          .cast(IntegerType).as("keep"))
  }
}
