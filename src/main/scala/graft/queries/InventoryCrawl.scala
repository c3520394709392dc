package graft.queries

import graft.convert.ArchiveConverter
import graft.core.{ConvertOptions, IncludeType}
import graft.functions.{GraftFunctions, TextStats}
import graft.ops.{Dedup, MultiModal, Packing, Quality, Sampling, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FooterSchema
import org.apache.spark.sql.types.DecimalType

import scala.collection.immutable.ListMap

/** The crawl stack: charset sniff, main content, link graph, PageRank,
  * robots/sitemaps politeness, SURT/CDX keys and the at-rest layout,
  * WARC->CDX / WARC->WET compositions, host clustering, frontier.
  *
  * One trait of the [[Inventory]] registry split (r12 verdict #7):
  * the single `queries` ListMap + `oracleSql` map in [[Inventory]]
  * remain the registry face; the linear trait chain preserves the
  * original member initialization order.
  */
private[queries] trait InventoryCrawl extends InventoryMedia {


  /** Charset decoding under BOM / Content-Type hints
    * ([[GraftFunctions.charset_decode]]): the step between
    * `http_payload` and `htmlToText` for the large non-UTF-8 fraction
    * of real crawl data. The case table (bytes as hex + hint) is the
    * OPERATOR'S DEFINITION, shared verbatim by both sides; the
    * expected md5/length literals in the oracle are computed by an
    * independent implementation (Python codecs) — the q16 rule.
    * Covers ISO-8859-1, windows-1252 (the 0x80-0x9F quirk range),
    * UTF-8/UTF-16LE/UTF-16BE BOMs (BOM beats a lying header),
    * malformed UTF-8 → U+FFFD, unknown charset fallback, bare-name
    * and quoted-parameter hints, Shift_JIS, and a NULL hint.
    */
  private[queries] def q104(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cases: Seq[(String, String, Option[String])] = Seq(
      ("c01_latin1", "636166E9206DFC6E6368656E", Some("text/html; charset=ISO-8859-1")),
      ("c02_win1252", "9371756F74656494208520646173682097", Some("text/html; charset=windows-1252")),
      ("c03_bom_utf8", "EFBBBF626F6D2077696E7320C3A9", Some("text/plain; charset=iso-8859-1")),
      ("c04_bom_utf16le", "FFFE7500740066003100360020007400650078007400", Some("")),
      ("c05_bad_utf8", "6F6B20C328", Some("")),
      ("c06_unknown_cs", "706C61696E207574663820C3A9", Some("text/html; charset=klingon-8")),
      ("c07_bare_hint", "636166E9", Some("iso-8859-1")),
      ("c08_sjis", "93FA967B8CEA836583588367", Some("text/html; charset=\"Shift_JIS\"")),
      ("c09_bom_utf16be", "FEFF0062006500200074006500780074", Some("text/html")),
      ("c10_no_hint", "6E6F2068696E7420C3BC", None),
      // WHATWG step-3 meta prescan: markup declares what the missing
      // header didn't; the transport header still beats meta (c13 —
      // the E9 byte proves which charset actually decoded)
      ("c11_meta", "3C6D65746120636861727365743D2269736F2D383835392D31223E636166E9",
        Some("text/html")),
      ("c12_meta_httpequiv",
        "3C6D65746120687474702D65717569763D22436F6E74656E742D547970652220636F6E74656E743D22746578742F68746D6C3B20636861727365743D77696E646F77732D31323532223E97",
        None),
      ("c13_header_beats_meta", "636166E9203C6D65746120636861727365743D227574662D38223E",
        Some("text/html; charset=iso-8859-1")))
    cases.toDF("case_id", "hex", "hint")
      .select(col("case_id"),
        GraftFunctions.charset_decode(unhex(col("hex")), col("hint")).as("txt"))
      .select(col("case_id"), md5(col("txt").cast("binary")).as("text_md5"),
        length(col("txt")).cast("bigint").as("n_chars"))
      .orderBy(col("case_id"))
  }


  /** q105 classification knobs + the spec pieces its oracle derives
    * from: the content block is `text` + a small inline link, so after
    * cleanup its length is `length(text) + MainContentSuffix.length`
    * and its link chars are `MainContentLinkText.length` — the oracle
    * computes the expected classification from THIS arithmetic while
    * the engine parses the actual HTML generically (q16-rule
    * independent-path check).
    */
  private[queries] val MainContentMinLen = 150

  private[queries] val MainContentMaxLinkDensity = 0.2

  private[queries] val MainContentLinkText = "details here"

  private[queries] val MainContentSuffix = " see " + MainContentLinkText + " now"


  /** The q105 page: realistic chrome around one content paragraph.
    * Blocks after cleanup — title `T{id}` (short), `3 + doc_id % 5`
    * nav `<li>`s that are 100% link text (density 1.0), a short
    * `<h1>`, the content `<p>` (the doc text + one inline link), and a
    * link-heavy footer whose cleaned length is 128 with 36 link chars
    * (density 0.28125 > 0.2 — boilerplate by DENSITY at adequate
    * length, exercising the rule the short blocks don't). Empty-markup
    * segments (`<nav><ul>`, `</ul></nav>` leftovers) must vanish.
    */
  private[queries] def mainContentHtml: Column = {
    val did = col("doc_id").cast("string")
    val navItems = array_join(
      transform(sequence(lit(1L), lit(3L) + col("doc_id") % 5),
        i => concat(lit("<li><a href=\"/p"), i.cast("string"),
          lit("\">nav item "), i.cast("string"), lit("</a></li>"))), "")
    val footer = "copyright <a href=\"/l\">example corp</a> all rights reserved "
    concat(
      lit("<html><head><title>T"), did,
      lit("</title><style>body{margin:0}</style></head><body>" +
        "<script>if (1 < 2) { track(); }</script><nav><ul>"),
      navItems,
      lit("</ul></nav><h1>Doc "), did,
      lit("</h1><p>"), col("text"),
      lit(" see <a href=\"/more\">" + MainContentLinkText + "</a> now</p><footer>" +
        footer * 3 + "</footer></body></html>"))
  }


  /** Main-content extraction ([[Quality.mainContent]] — jusText-style
    * block length + link density classification) over a synthesized
    * chrome-heavy page. The oracle derives every output from the
    * synthesis spec (block count `7 + doc_id % 5`, content iff the
    * text block passes the length gate), never parsing HTML — so the
    * engine's generic block split, per-block link accounting and
    * classification are checked against an independent computation.
    */
  private[queries] def q105(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"),
        Quality.mainContent(mainContentHtml, MainContentMinLen,
          MainContentMaxLinkDensity).as("mc"))
      .select(col("doc_id"),
        col("mc.n_blocks").as("n_blocks"),
        col("mc.n_content").as("n_content"),
        col("mc.content_len").as("content_len"),
        md5(col("mc.content_text")).as("content_md5"))
      .orderBy(col("doc_id"))


  private[queries] val LinkGraphDamping = 0.85

  private[queries] val LinkGraphIters = 3


  /** The q107/q108 oracle's edge derivation: the (dst eTLD+1,
    * normalized URL) rows each document's synthesized page MUST yield
    * per the [[linkGraphEdges]] spec — resolution and sort-query
    * normalization applied by hand, independent of the engine's
    * scanner/resolver (q16 rule).
    */
  private[queries] val linkEdgesSql: String =
    """WITH docs AS (
      |  SELECT doc_id, doc_id % 25 AS m, (doc_id * 7 + 1) % 25 AS a
      |  FROM documents),
      |links AS (
      |  -- absolute, mixed case + :443 + unsorted query, normalized
      |  SELECT doc_id, 'site' || CAST(a AS VARCHAR) || '.com' AS dst,
      |         'https://site' || CAST(a AS VARCHAR) || '.com/p/x?a=1&b=2' AS u
      |  FROM docs
      |  UNION ALL -- relative ../s/k: dot segment removed in resolution
      |  SELECT doc_id, 'site' || CAST(m AS VARCHAR) || '.com',
      |         'https://www.site' || CAST(m AS VARCHAR) || '.com/p/s/' ||
      |         CAST(doc_id % 7 AS VARCHAR)
      |  FROM docs
      |  UNION ALL -- query-only ?page=2: base path kept
      |  SELECT doc_id, 'site' || CAST(m AS VARCHAR) || '.com',
      |         'https://www.site' || CAST(m AS VARCHAR) || '.com/p/' ||
      |         CAST(doc_id AS VARCHAR) || '/index.html?page=2'
      |  FROM docs
      |  UNION ALL -- fragment-only #top: normalize drops it (self link)
      |  SELECT doc_id, 'site' || CAST(m AS VARCHAR) || '.com',
      |         'https://www.site' || CAST(m AS VARCHAR) || '.com/p/' ||
      |         CAST(doc_id AS VARCHAR) || '/index.html'
      |  FROM docs
      |  UNION ALL -- unquoted href=/plain/k
      |  SELECT doc_id, 'site' || CAST(m AS VARCHAR) || '.com',
      |         'https://www.site' || CAST(m AS VARCHAR) || '.com/plain/' ||
      |         CAST(doc_id % 3 AS VARCHAR)
      |  FROM docs
      |  UNION ALL -- &amp; decoded, then sort_query orders the tokens
      |  SELECT doc_id, 'site' || CAST(m AS VARCHAR) || '.com',
      |         'https://www.site' || CAST(m AS VARCHAR) || '.com/search?b&q=a'
      |  FROM docs
      |  UNION ALL -- protocol-relative //cdnK.net takes the base scheme
      |  SELECT doc_id, 'cdn' || CAST(doc_id % 5 AS VARCHAR) || '.net',
      |         'https://cdn' || CAST(doc_id % 5 AS VARCHAR) || '.net/lib.js'
      |  FROM docs
      |  UNION ALL -- co.uk target: the PSL rule keeps shopK.co.uk whole
      |  SELECT doc_id, 'shop' || CAST(doc_id % 4 AS VARCHAR) || '.co.uk',
      |         'http://shop' || CAST(doc_id % 4 AS VARCHAR) || '.co.uk/'
      |  FROM docs)""".stripMargin


  /** Chained-CTE restatement of [[graft.ops.Graph.pageRank]]'s fixed
    * power iteration (dangling mass redistributed uniformly), appended
    * after [[linkEdgesSql]]: defines edges/nodes/srcs/frac and r0..rK.
    */
  /** The recurrence CTEs alone (nodes..frac, r0..rK) — the caller
    * supplies its own `edges(src, dst, w)` CTE before this. Shared by
    * the q108 and q117 oracles.
    */
  private[queries] def pageRankRecurrenceSql(iters: Int, damping: Double): String = {
    val steps = (0 until iters).map { i =>
      s"""d$i AS (SELECT COALESCE(sum(pr), 0) AS dm FROM r$i
         |        WHERE node NOT IN (SELECT node FROM srcs)),
         |c$i AS (SELECT f.dst AS node, sum(r.pr * f.frac) AS ip
         |        FROM frac f JOIN r$i r ON f.src = r.node GROUP BY f.dst),
         |r${i + 1} AS (SELECT n.node,
         |        (1 - $damping) / nn.n + $damping *
         |        (COALESCE(c$i.ip, 0) + d$i.dm / nn.n) AS pr
         |        FROM nodes n LEFT JOIN c$i ON n.node = c$i.node, nn, d$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""nodes AS (SELECT DISTINCT src AS node FROM edges
       |          UNION SELECT DISTINCT dst FROM edges),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |srcs AS (SELECT DISTINCT src AS node FROM edges),
       |outw AS (SELECT src, sum(w) AS tw FROM edges GROUP BY src),
       |frac AS (SELECT e.src, e.dst, e.w / o.tw AS frac
       |         FROM edges e JOIN outw o ON e.src = o.src),
       |r0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes, nn),
       |$steps""".stripMargin
  }


  private[queries] def pageRankIterSql(iters: Int, damping: Double): String =
    s"""edges AS (
       |  SELECT 'site' || CAST(d.m AS VARCHAR) || '.com' AS src,
       |         l.dst AS dst, CAST(count(*) AS DOUBLE) AS w
       |  FROM links l JOIN docs d USING (doc_id) GROUP BY 1, 2),
       |${pageRankRecurrenceSql(iters, damping)}""".stripMargin


  /** Shared q107/q108 synthesis + extraction: one page per document
    * whose anchors cover every href class a crawler meets — absolute
    * with mixed case / default port / unsorted query, relative with a
    * dot segment, query-only, fragment-only, an UNQUOTED href, an
    * entity-encoded query (`&amp;`), protocol-relative, a co.uk
    * target (PSL rule), a `mailto:` (must drop), and two decoys inside
    * a comment and a script body (must not extract). The engine runs
    * the real chain — [[GraftFunctions.extract_links]] →
    * [[GraftFunctions.url_resolve]] → `url_normalize(sortQuery)` →
    * `registered_domain` — while the oracle derives every edge
    * directly from the synthesis spec (q16 rule: extraction,
    * resolution and canonicalization are all load-bearing, down to
    * distinct-URL counts).
    */
  private[queries] def linkGraphEdges(s: SparkSession, d: String): DataFrame = {
    val ds = (c: Column) => c.cast("string")
    val m = ds(col("doc_id") % 25)
    val a = ds((col("doc_id") * 7 + 1) % 25)
    val base = concat(lit("https://www.site"), m, lit(".com/p/"),
      ds(col("doc_id")), lit("/index.html"))
    val html = concat(
      lit("<html><body><nav><a href=\"HTTPS://SiTe"), a,
      lit(".CoM:443/p/x?b=2&a=1\">f</a>"),
      lit("<a href='../s/"), ds(col("doc_id") % 7), lit("'>r</a>"),
      lit("<a href=\"?page=2\">q</a><a href=\"#top\">t</a>"),
      lit("<a href=/plain/"), ds(col("doc_id") % 3), lit(">u</a>"),
      lit("<a href=\"/search?q=a&amp;b\">e</a>"),
      lit("<a href=\"//cdn"), ds(col("doc_id") % 5), lit(".net/lib.js\">c</a>"),
      lit("</nav><a href=\"http://shop"), ds(col("doc_id") % 4),
      lit(".co.uk/\">s</a>"),
      lit("<a href=\"mailto:x@y.example\">m</a>"),
      lit("<!-- <a href=\"http://never-comment.example/\">x</a> -->"),
      lit("<script>var s='<a href=\"http://never-script.example/\">x</a>';</script>"),
      lit("<p>"), col("text"), lit("</p></body></html>"))
    // fan out before the per-row HTML synth + link extraction + URL
    // resolve/normalize chain — the CPU of every link-graph consumer
    // (identity at scale — Layouts.fanOutByKey)
    // r22 re-measurement of the r21-verdict q107 question: at sf0.1 the
    // fan-out is a wash (on 0.43/0.40 s vs off 0.46/0.37 warm; the r21
    // 0.5->0.6 reading was bench-resolution noise), and on a 50x
    // single-file replica (~29 MB, LinkFanProbe) it wins 9.0 s -> 1.5 s
    // — the exchange moves KB-scale (id, text) rows while the per-row
    // HTML synth + URL chain is the cost at any real size. Kept.
    graft.ops.Layouts.fanOutByKey(t(s, d, "documents"), "doc_id")
      .select(col("doc_id"), base.as("base"), html.as("html"))
      .select(col("base"),
        explode(GraftFunctions.extract_links(col("html"))).as("href"))
      .select(col("base"),
        GraftFunctions.url_resolve(col("base"), col("href")).as("resolved"))
      .where(col("resolved").isNotNull)
      .select(
        GraftFunctions.registered_domain(
          GraftFunctions.url_parts(col("base")).getField("host")).as("src_domain"),
        GraftFunctions.url_normalize(col("resolved"), sortQuery = true).as("url_norm"))
      .select(col("src_domain"),
        GraftFunctions.registered_domain(
          GraftFunctions.url_parts(col("url_norm")).getField("host")).as("dst_domain"),
        col("url_norm"))
  }


  /** Host-level outlink graph ([[linkGraphEdges]] rolled up): edge
    * multiplicity and distinct-target-URL count per (src eTLD+1,
    * dst eTLD+1) — the CommonCrawl host-graph build as one narrow
    * extraction stage plus ONE hash aggregation.
    */
  private[queries] def q107(s: SparkSession, d: String): DataFrame =
    linkGraphEdges(s, d)
      .groupBy(col("src_domain"), col("dst_domain"))
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("url_norm")).as("n_urls"))
      .orderBy(col("src_domain"), col("dst_domain"))


  /** Weighted host PageRank ([[graft.ops.Graph.pageRank]], fixed
    * [[LinkGraphIters]] power iterations, damping [[LinkGraphDamping]],
    * dangling mass redistributed uniformly) over the q107 edge set —
    * the crawl-frontier / sampling-weight prior. The cdn/shop targets
    * never link out, so the dangling-node path is load-bearing. The
    * oracle restates the same fixed-iteration recurrence as chained
    * CTEs from the spec-derived edges.
    */
  private[queries] def q108(s: SparkSession, d: String): DataFrame = {
    val edges = linkGraphEdges(s, d)
      .select(col("src_domain").as("src"), col("dst_domain").as("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("weight"))
    graft.ops.Graph.pageRank(edges, LinkGraphIters, LinkGraphDamping)
      .select(col("node"), round(col("pr"), 6).as("pr"))
      .orderBy(col("node"))
  }


  /** robots.txt admission gate ([[GraftFunctions.robots_allowed]],
    * RFC 9309): per document, a synthesized robots file (Disallow
    * section varying with `doc_id%3`, a `$`-anchored Allow carve-out,
    * a `*.gif$` wildcard rule, and a catch-all `*` group present only
    * on EVEN ids) probed six ways. Every verdict is a closed-form
    * function of doc_id, so the oracle states the expected booleans
    * straight from the synthesis spec while the engine runs the real
    * parser: group selection, longest-match, anchors, wildcards and
    * the no-group-permitted fallthrough are each load-bearing.
    */
  private[queries] def q109(s: SparkSession, d: String): DataFrame = {
    val ds = (c: Column) => c.cast("string")
    val k = ds(col("doc_id") % 3)
    val robots = concat(
      lit("User-agent: graftbot\nDisallow: /private"), k,
      lit("/\nAllow: /private"), k, lit("/ok$\nDisallow: *.gif$\n"),
      when(col("doc_id") % 2 === 0, lit("\nUser-agent: *\nDisallow: /\n"))
        .otherwise(lit("")))
    val ra = (agent: String, path: Column) =>
      GraftFunctions.robots_allowed(robots, lit(agent), path)
    t(s, d, "documents")
      .select(col("doc_id"),
        ra("graftbot/1.0", concat(lit("/private"), ds(col("doc_id") % 2), lit("/x")))
          .as("a_sect"),
        ra("GraftBot", concat(lit("/private"), k, lit("/ok"))).as("a_allow"),
        ra("graftbot", concat(lit("/private"), k, lit("/ok/deep"))).as("a_deep"),
        ra("graftbot", concat(lit("/img"), ds(col("doc_id") % 5), lit(".gif")))
          .as("a_gif"),
        ra("graftbot", concat(lit("/img"), ds(col("doc_id") % 5), lit(".gifx")))
          .as("a_gifx"),
        ra("otherbot", concat(lit("/anything/"), ds(col("doc_id") % 7)))
          .as("a_star"))
      .orderBy(col("doc_id"))
  }


  /** sitemap parsing ([[GraftFunctions.extract_sitemap_urls]],
    * sitemaps.org protocol — the crawl-seeding seat next to q109's
    * robots gate): ids divisible by 5 synthesize a 2-entry
    * sitemapindex, the rest a urlset of `2 + doc_id%3` url entries
    * exercising entity-escaped locs, CDATA wrapping, optional
    * lastmod/changefreq, and one malformed priority (→ null, never an
    * error). Every output field is a closed-form function of
    * (doc_id, ord), so the oracle restates the rows straight from the
    * synthesis spec (q16 rule) while the engine runs the real scanner.
    */
  /** The q111/q112 shared sitemap synthesis — one spec, restated by
    * both oracles: ids divisible by 5 get a 2-entry sitemapindex, the
    * rest a urlset of `2 + doc_id%3` url entries (entity-escaped loc
    * at ord 0, CDATA at 1, malformed priority at 3).
    */
  private[queries] def sitemapXml(id: Column): Column = {
    val ds = (c: Column) => c.cast("string")
    val host = concat(lit("http://s"), ds(id % 7), lit(".example.com"))
    val lastmod =
      concat(lit("<lastmod>2024-0"), ds(id % 9 + 1), lit("-15</lastmod>"))
    val freq = when(id % 3 === 0, "daily")
      .when(id % 3 === 1, "weekly").otherwise("monthly")
    def prio(i: Int) =
      concat(lit("<priority>0."), ds((id + i) % 10), lit("</priority>"))
    def urlEntry(i: Int): Column = {
      val core = i match {
        case 0 => concat(lit("<url><loc>"), host, lit("/p?a=1&amp;b="),
          ds(id % 4), lit("</loc>"), lastmod, prio(0), lit("</url>"))
        case 1 => concat(lit("<url><loc><![CDATA["), host, lit("/c/"),
          ds(id % 3), lit("]]></loc><changefreq>"), freq,
          lit("</changefreq>"), prio(1), lit("</url>"))
        case 2 => concat(lit("<url><loc>"), host, lit("/p"), ds(id),
          lit("/2</loc>"), lastmod, prio(2), lit("</url>"))
        case _ => concat(lit("<url><loc>"), host, lit("/p"), ds(id),
          lit("/3</loc><priority>high</priority></url>"))
      }
      when(lit(i) < id % 3 + 2, core).otherwise(lit(""))
    }
    val urlset = concat(
      lit("<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
      urlEntry(0), urlEntry(1), urlEntry(2), urlEntry(3), lit("</urlset>"))
    val index = concat(lit("<sitemapindex><sitemap><loc>"), host,
      lit("/sm0.xml</loc>"), lastmod, lit("</sitemap><sitemap><loc>"), host,
      lit("/sm1.xml</loc></sitemap></sitemapindex>"))
    when(id % 5 === 0, index).otherwise(urlset)
  }


  private[queries] def q111(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val xml = sitemapXml(id)
    t(s, d, "documents")
      .select(id, posexplode(GraftFunctions.extract_sitemap_urls(xml)))
      .select(id, col("pos").cast("long").as("ord"),
        col("col.loc").as("loc"), col("col.kind").as("kind"),
        col("col.lastmod").as("lastmod"),
        col("col.changefreq").as("changefreq"),
        round(col("col.priority"), 1).as("priority"))
      .orderBy(id, col("ord"))
  }


  /** Crawl-frontier admission — the composed seed pipeline the whole
    * crawl stack exists for: sitemap seeds ([[sitemapXml]], the q111
    * spec verbatim) → sitemaps.org default priority 0.5 for entries
    * without one → RFC 9309 robots gate over path+query
    * ([[GraftFunctions.robots_allowed]]; the `/p?*b=2` wildcard rule
    * makes the glob matcher load-bearing, `Allow: /c/0` the
    * longest-match tie) → per-(host, URL) dedup keeping max priority →
    * per-host top-2 election via the bounded [[graft.ops.TopKStrByScore]]
    * aggregator (map-side partials cap every partition at k pairs per
    * host — the frontier shuffles kilobytes, not the distinct-URL
    * set). Every admitted row is closed-form in doc_id, so the oracle
    * restates the pipeline in SQL from the spec (window-ranked — the
    * aggregator must agree with `row_number` exactly).
    */
  private[queries] def q112(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val robots = lit(
      "User-agent: graftbot\nDisallow: /c/\nAllow: /c/0\nDisallow: /p?*b=2\n")
    val id = col("doc_id")
    val entries = t(s, d, "documents")
      .select(id, explode(GraftFunctions.extract_sitemap_urls(sitemapXml(id))).as("e"))
      .filter(col("e.kind") === "url")
      .select(col("e.loc").as("loc"),
        coalesce(round(col("e.priority"), 1), lit(0.5)).as("pri"))
    val gated = entries
      .withColumn("p", GraftFunctions.url_parts(col("loc")))
      .withColumn("pathq", concat(col("p.path"),
        when(col("p.query").isNotNull, concat(lit("?"), col("p.query")))
          .otherwise(lit(""))))
      .filter(GraftFunctions.robots_allowed(robots, lit("graftbot"), col("pathq")))
      .select(col("p.host").as("host"), col("loc"), col("pri"))
    gated.groupBy(col("host"), col("loc")).agg(max(col("pri")).as("pri"))
      .as[(String, String, Double)]
      .groupByKey(_._1)
      .agg(graft.ops.TopKStrByScore(2).toColumn.name("top"))
      .toDF("host", "top")
      .select(col("host"), posexplode(col("top")))
      .select(col("host"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("loc"), col("col._1").as("pri"))
      .orderBy(col("host"), col("rank"))
  }


  /** CDX index keys ([[GraftFunctions.surt_key]] — the Internet
    * Archive / CommonCrawl SURT sort-key convention): per doc two
    * messy spellings (mixed case + `www.` + default port + unsorted
    * uppercase query; a clean https host on a non-default port)
    * collapse to spec-determined keys the oracle states DIRECTLY —
    * scheme drop, www strip, label reversal, port rules, lowercase +
    * query sort are all load-bearing in one literal. The grouped
    * count is the index build: range-sorting by this key is what
    * co-locates a domain's records in a 100 TB CDX.
    */
  private[queries] def q113(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val ds = (c: Column) => c.cast("string")
    val u0 = concat(lit("HTTP://WWW.S"), ds(id % 7), lit(".Example.COM:80/A"),
      ds(id % 11), lit("/B?b="), ds(id % 3), lit("&A=1"))
    val u1 = concat(lit("https://s"), ds(id % 7),
      lit(".example.com:8443/c/"), ds(id % 5))
    t(s, d, "documents")
      .select(id, explode(array(u0, u1)).as("url"))
      .select(GraftFunctions.surt_key(col("url")).as("cdx_key"))
      .groupBy(col("cdx_key")).agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("cdx_key"))
  }


  /** robots.txt sitemap discovery ([[GraftFunctions.robots_sitemaps]]
    * — the sitemaps.org cross-submission directive, the hop between
    * q109's admission gate and q111's sitemap parse): per document a
    * robots file carrying one `Sitemap:` line (plus, on even ids, a
    * lowercase-key second one after a comment), probed through the
    * real parser. Directive order, key case-insensitivity, comment
    * stripping and the empty-value skip are load-bearing; every
    * output row is closed-form in (doc_id, ord).
    */
  private[queries] def q114(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val ds = (c: Column) => c.cast("string")
    val robots = concat(
      lit("User-agent: graftbot\nDisallow: /x\nSitemap: http://s"),
      ds(id % 7), lit(".example.com/sm"), ds(id % 3),
      lit(".xml\n# a comment\nSitemap:\n"),
      when(id % 2 === 0,
        concat(lit("sitemap: http://s"), ds(id % 7),
          lit(".example.com/extra.xml  # trailing\n")))
        .otherwise(lit("")))
    t(s, d, "documents")
      .select(id, posexplode(GraftFunctions.robots_sitemaps(robots)))
      .select(id, col("pos").cast("long").as("ord"), col("col").as("sitemap"))
      .orderBy(id, col("ord"))
  }


  /** Page-head metadata ([[GraftFunctions.html_meta]] — the WAT-record
    * fields next to q107's outlinks): per document a synthesized page
    * with a commented-out decoy title, a script-literal decoy, a
    * whitespace-and-entity-laden real title, an optional description
    * (even ids), an optional entity-escaped canonical link (ids
    * divisible by 3) and a robots-meta noindex (ids divisible by 5) —
    * extracted by the real scanner, every field closed-form in doc_id.
    */
  private[queries] def q115(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val ds = (c: Column) => c.cast("string")
    val page = concat(
      lit("<html><head><!-- <title>decoy</title> -->" +
        "<script>var t = \"<title>not me</title>\";</script>" +
        "<title>  Doc &amp; "),
      ds(id), lit(" &mdash; s"), ds(id % 7), lit("  </title>"),
      when(id % 2 === 0,
        concat(lit("<meta name=description content=\"Desc "), ds(id % 4),
          lit(" &eacute;\">"))).otherwise(lit("")),
      when(id % 3 === 0,
        concat(lit("<link rel=\"canonical\" href=\"http://s"), ds(id % 7),
          lit(".example.com/c?a=1&amp;b=2\">"))).otherwise(lit("")),
      when(id % 5 === 0, lit("<meta name=\"robots\" content=\"NOINDEX, nofollow\">"))
        .otherwise(lit("")),
      lit("<title>second ignored</title></head><body>x</body></html>"))
    t(s, d, "documents")
      .select(id, GraftFunctions.html_meta(page).as("m"))
      .select(id, col("m.title").as("title"),
        col("m.description").as("description"),
        col("m.canonical").as("canonical"),
        col("m.noindex").as("noindex"))
      .orderBy(id)
  }


  /** Anchor-text extraction ([[GraftFunctions.extract_anchors]] — the
    * anchor-text-corpus / nofollow-aware-graph face of q107's bare
    * hrefs): per document a page with a script-literal decoy anchor,
    * an entity-laden anchor wrapping nested markup, a rel-token
    * anchor (`nofollow` only on even ids — the token rule is
    * load-bearing against the odd ids' `ext` value), a no-href anchor
    * that must be skipped, and an image-only anchor whose text is
    * null. Every row closed-form in (doc_id, ord).
    */
  private[queries] def q116(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val ds = (c: Column) => c.cast("string")
    val page = concat(
      lit("<script>var a = '<a href=/decoy>x</a>';</script>" +
        "<a href=\"/p?x=&amp;y\">  Link &amp; <b>text</b> "),
      ds(id % 5), lit("  </a><a href=/plain rel=\""),
      when(id % 2 === 0, lit("external nofollow")).otherwise(lit("ext")),
      lit("\">plain "), ds(id % 3),
      lit("</a><a name=anchor>no href</a><a href=\"/empty\"><img src=x></a>"))
    t(s, d, "documents")
      .select(id, posexplode(GraftFunctions.extract_anchors(page)))
      .select(id, col("pos").cast("long").as("ord"),
        col("col.href").as("href"), col("col.text").as("atext"),
        col("col.nofollow").as("nofollow"))
      .orderBy(id, col("ord"))
  }


  /** Nofollow-aware PageRank — q116's anchor semantics feeding q108's
    * engine (the rel governance crawlers actually honor: a nofollow
    * edge must not pass rank): per document three absolute anchors —
    * always-follow, always-nofollow, and a conditional whose rel list
    * is `ugc nofollow` on even ids but plain `ugc` on odd — so the
    * follow-edge set depends on the TOKEN rule, then
    * [[graft.ops.Graph.pageRank]] over the surviving edges. The s-side
    * hosts only emit, the t-side only receive (the dangling path stays
    * load-bearing). Oracle: the follow edges restated from the spec +
    * the shared [[pageRankRecurrenceSql]] recurrence.
    */
  private[queries] def q117(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val ds = (c: Column) => c.cast("string")
    val page = concat(
      lit("<a href=\"http://t"), ds((id * 3 + 1) % 10), lit(".com/x\">f</a>"),
      lit("<a href=\"http://t"), ds(id % 10),
      lit(".com/x\" rel=nofollow>n</a>"),
      lit("<a href=\"http://t"), ds((id + 1) % 10), lit(".com/x\" rel=\""),
      when(id % 2 === 0, lit("ugc nofollow")).otherwise(lit("ugc")),
      lit("\">c</a>"))
    val edges = t(s, d, "documents")
      .select(concat(lit("s"), ds(id % 10), lit(".com")).as("src"),
        explode(GraftFunctions.extract_anchors(page)).as("a"))
      .where(!col("a.nofollow"))
      .select(col("src"),
        GraftFunctions.registered_domain(
          GraftFunctions.url_parts(col("a.href")).getField("host")).as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("weight"))
    graft.ops.Graph.pageRank(edges, LinkGraphIters, LinkGraphDamping)
      .select(col("node"), round(col("pr"), 6).as("pr"))
      .orderBy(col("node"))
  }


  /** Unicode-script routing ([[GraftFunctions.script_ratios]] — the
    * alphabet-level first-stage router of a multilingual corpus): per
    * document a mixed-script text with spec-determined letter counts
    * per script (Latin `2 + doc_id%3`, Cyrillic `1 + doc_id%2`, Han
    * `doc_id%2`, one Greek letter, digits/punctuation that must NOT
    * count), decoded by the real code-point scanner. Fractions are
    * divisions of identical integers on both engines — exact.
    */
  private[queries] def q118(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val lat = when(id % 3 === 0, "aa").when(id % 3 === 1, "aaa")
      .otherwise("aaaa")
    val cyr = when(id % 2 === 0, "б").otherwise("бб")
    val cjk = when(id % 2 === 0, "").otherwise("中")
    val text = concat(lat, lit(" "), cyr, cjk, lit("ω 123!"))
    t(s, d, "documents")
      .select(id, GraftFunctions.script_ratios(text).as("r"))
      .select(id,
        round(col("r.latin"), 6).as("latin"),
        round(col("r.cyrillic"), 6).as("cyrillic"),
        round(col("r.cjk"), 6).as("cjk"),
        round(col("r.greek"), 6).as("greek"),
        col("r.arabic").as("arabic"),
        col("r.other").as("other"),
        col("r.n_letters").as("n_letters"))
      .orderBy(id)
  }


  /** Crawl-delay politeness ([[GraftFunctions.robots_crawl_delay]] —
    * the per-host fetch-rate input next to q109's admission verdicts):
    * two graftbot groups whose delays must COMBINE (largest wins:
    * `GREATEST(doc_id%5+1, doc_id%3)`), a `*` group present only on
    * even ids (the otherbot probe gets 10.0 there, null elsewhere —
    * the no-delay → null face). All closed-form in doc_id.
    */
  private[queries] def q119(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val ds = (c: Column) => c.cast("string")
    val robots = concat(
      lit("User-agent: graftbot\nCrawl-delay: "), ds(id % 5 + 1),
      lit("\nDisallow: /x\n\nUser-agent: graftbot\nCrawl-delay: "),
      ds(id % 3), lit("\n"),
      when(id % 2 === 0, lit("\nUser-agent: *\nCrawl-delay: 10\n"))
        .otherwise(lit("")))
    t(s, d, "documents")
      .select(id,
        GraftFunctions.robots_crawl_delay(robots, lit("graftbot/1.0"))
          .as("d_graft"),
        GraftFunctions.robots_crawl_delay(robots, lit("otherbot"))
          .as("d_star"))
      .orderBy(id)
  }


  /** WARC → CDX end to end — the whole stack composed: q81's WARC
    * source walks [[buildHttpWarcFixture]], q101's `http_payload`
    * splits and decodes every record body, q113's `surt_key` turns the
    * WARC-Target-URI into the index key. Each record becomes one CDX
    * line (key, status, payload size, payload digest); the oracle
    * restates q101's independently-computed spec digests under
    * hand-derived SURT keys, so the walk, the HTTP decode AND the key
    * canonicalization must all land for the hash to match.
    */
  private[queries] def q120(s: SparkSession, d: String): DataFrame = {
    val path = buildHttpWarcFixture()
    ArchiveConverter.entries(s, Seq(path), ConvertOptions()).toDF()
      .select(col("path"), GraftFunctions.http_payload(col("content")).as("h"))
      .select(GraftFunctions.surt_key(col("path")).as("cdx_key"),
        col("h.status").cast("bigint").as("status"),
        length(col("h.payload")).cast("bigint").as("n_bytes"),
        sha2(col("h.payload"), 256).as("payload_sha256"))
      .orderBy(col("cdx_key"))
  }


  /** Politeness fetch schedule — q112's admitted frontier meets
    * q119's crawl delay: per host, URLs rank in key order and URL r
    * fetches at `r × delay` seconds (the earliest schedule honoring
    * the host's Crawl-delay). Unlike the q112 top-k election, a fetch
    * schedule genuinely ranks EVERY URL of a host, so the per-host
    * window is the honest shape here — one hash exchange, each host's
    * partition sorted independently (the per-host work a real fetcher
    * shards the same way). Delay is host-determined (`doc_id%10 + 1`)
    * so the real parser and the oracle agree row by row.
    */
  private[queries] def q121(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val ds = (c: Column) => c.cast("string")
    val host = concat(lit("s"), ds(id % 10), lit(".com"))
    val robots = concat(lit("User-agent: graftbot\nCrawl-delay: "),
      ds(id % 10 + 1), lit("\n"))
    val urls = t(s, d, "documents")
      .select(host.as("host"),
        GraftFunctions.robots_crawl_delay(robots, lit("graftbot"))
          .as("delay"),
        explode(array(
          concat(lit("http://"), host, lit("/u"), ds(id), lit("/0")),
          concat(lit("http://"), host, lit("/u"), ds(id), lit("/1"))))
          .as("loc"))
    val w = Window.partitionBy(col("host")).orderBy(col("loc"))
    urls.withColumn("r", row_number().over(w) - 1)
      .select(col("host"), col("loc"),
        (col("r") * col("delay")).cast("double").as("fetch_at"))
      .orderBy(col("host"), col("loc"))
  }


  /** q122 classification knobs + the spec texts its oracle derives
    * from. Each case is the paragraph text of one synthesized page;
    * the page chrome (title, two nav `<li>`s, a short link-heavy
    * footer) is identical across cases, so after block split +
    * cleanup the page yields exactly 5 non-empty blocks of which only
    * the paragraph can classify as content (it has no links; every
    * chrome block fails the 60-char gate). The texts are single-
    * spaced, entity-free and `&<>`-free, so the cleaned content text
    * IS the spec string verbatim — the oracle md5s are computed over
    * `NFC(text)` by an independent implementation (Python codecs +
    * unicodedata), never by the engine (q16's rule). c08 is written
    * DECOMPOSED (`e` + U+0301) so the NFC step is load-bearing.
    */
  private[queries] val WetMinLen = 60

  private[queries] val WetMaxLinkDensity = 0.2

  private[queries] val WetCases: Seq[(String, String)] = Seq(
    ("c01_latin1", "caf\u00e9 m\u00fcnchen stra\u00dfe crawler extracted body text one alpha beta gamma delta"),
    ("c02_win1252", "\u201cquoted\u201d crawl text \u2014 two \u2022 with windows glyphs appended filler words here"),
    ("c03_utf16le", "utf sixteen little endian payload body text three with enough filler words to pass the gate"),
    ("c04_bom_utf8", "bom utf eight text four caf\u00e9 cr\u00e8me br\u00fbl\u00e9e with enough filler words to pass the length gate"),
    ("c05_meta_sjis", "\u65e5\u672c\u8a9e\u306e\u30c6\u30ad\u30b9\u30c8 crawl body text five with enough ascii filler words to pass the gate"),
    ("c06_gzip_latin1", "gzip compressed caf\u00e9 body text six with enough filler words to pass the length gate"),
    ("c07_chunked_utf8", "chunked utf eight body text seven with \u00e9 and enough filler words to pass the gate"),
    ("c08_nfc", "cafe\u0301 nfc decomposed text eight with enough filler words to pass the length gate"),
    ("c09_short", "too short"))


  /** Deterministic WARC fixture for the WET pipeline (q122): one
    * response record per [[WetCases]] entry, the paragraph wrapped in
    * identical chrome and the whole page encoded per the case —
    * ISO-8859-1 / windows-1252 / BOM-less UTF-16LE under a header
    * charset, a UTF-8 BOM beating a lying latin-1 header, Shift_JIS
    * declared only by an in-markup `<meta charset>` (the WHATWG
    * prescan path), gzip content-coding and chunked transfer framing
    * over charset-bearing bodies, and a decomposed-Unicode body for
    * the NFC step.
    */
  private[graft] def buildWetWarcFixture(): String = {
    import java.io._
    val crlf = "\r\n"
    def html(text: String, meta: String): String =
      "<html><head><title>W</title>" + meta +
        "</head><body><nav><ul><li><a href=\"/a\">nav one</a></li>" +
        "<li><a href=\"/b\">nav two</a></li></ul></nav><p>" + text +
        "</p><footer>copyright <a href=\"/l\">owner</a> reserved</footer></body></html>"
    def resp(hdrs: String, body: Array[Byte]): Array[Byte] =
      (hdrs + crlf + crlf).getBytes("ISO-8859-1") ++ body
    def gz(b: Array[Byte]): Array[Byte] = {
      val bo = new ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo)
      g.write(b); g.close(); bo.toByteArray
    }
    def chunk(b: Array[Byte]): Array[Byte] = {
      val bo = new ByteArrayOutputStream()
      val (c1, c2) = b.splitAt(b.length / 2)
      Seq(c1, c2).filter(_.nonEmpty).foreach { c =>
        bo.write(f"${c.length}%x$crlf".getBytes("ISO-8859-1"))
        bo.write(c); bo.write(crlf.getBytes("ISO-8859-1"))
      }
      bo.write(s"0$crlf$crlf".getBytes("ISO-8859-1"))
      bo.toByteArray
    }
    val texts = WetCases.toMap
    def ok200(ct: String, extra: String = ""): String =
      s"HTTP/1.1 200 OK${crlf}Content-Type: $ct" +
        (if (extra.isEmpty) "" else crlf + extra)
    val records: Seq[(String, Array[Byte])] = Seq(
      ("c01_latin1", resp(ok200("text/html; charset=ISO-8859-1"),
        html(texts("c01_latin1"), "").getBytes("ISO-8859-1"))),
      ("c02_win1252", resp(ok200("text/html; charset=windows-1252"),
        html(texts("c02_win1252"), "").getBytes("windows-1252"))),
      ("c03_utf16le", resp(ok200("text/html; charset=utf-16le"),
        html(texts("c03_utf16le"), "").getBytes("UTF-16LE"))),
      ("c04_bom_utf8", resp(ok200("text/html; charset=iso-8859-1"),
        Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
          html(texts("c04_bom_utf8"), "").getBytes("UTF-8"))),
      ("c05_meta_sjis", resp(ok200("text/html"),
        html(texts("c05_meta_sjis"), "<meta charset=\"shift_jis\">")
          .getBytes("Shift_JIS"))),
      ("c06_gzip_latin1", resp(
        ok200("text/html; charset=ISO-8859-1", "Content-Encoding: gzip"),
        gz(html(texts("c06_gzip_latin1"), "").getBytes("ISO-8859-1")))),
      ("c07_chunked_utf8", resp(
        ok200("text/html", "Transfer-Encoding: chunked"),
        chunk(html(texts("c07_chunked_utf8"), "").getBytes("UTF-8")))),
      ("c08_nfc", resp(ok200("text/html; charset=utf-8"),
        html(texts("c08_nfc"), "").getBytes("UTF-8"))),
      ("c09_short", resp(ok200("text/html; charset=utf-8"),
        html(texts("c09_short"), "").getBytes("UTF-8"))))
    val out = new ByteArrayOutputStream()
    records.foreach { case (cid, body) =>
      val sb = new StringBuilder("WARC/1.0\r\n")
      sb.append("WARC-Type: response\r\n")
      sb.append(s"WARC-Target-URI: http://w/$cid\r\n")
      sb.append(s"Content-Length: ${body.length}\r\n\r\n")
      out.write(sb.toString.getBytes("ISO-8859-1"))
      out.write(body)
      out.write("\r\n\r\n".getBytes("ISO-8859-1"))
    }
    val dir = new File(System.getProperty("java.io.tmpdir"), "graft_q122_fixture")
    dir.mkdirs()
    val f = new File(dir, "fixture.warc")
    val fos = new FileOutputStream(f)
    fos.write(out.toByteArray); fos.close()
    f.getAbsolutePath
  }


  /** WARC → WET end to end — the advertised text-extraction pipeline
    * under one oracle (the q120 play, text side): q81's WARC source
    * walks [[buildWetWarcFixture]], q101's `http_payload` reverses
    * framing and content codings, q104's `charset_decode` resolves
    * BOM > header > meta-prescan, q105's [[Quality.mainContent]]
    * drops the chrome, q93's `nfc_normalize` canonicalizes. The
    * oracle restates status, block counts, and the md5/length of
    * `NFC(spec text)` computed independently — the walk, the HTTP
    * decode, the charset sniff, the block classification AND the
    * normalization must all land for the hash to match. Everything
    * after the walk is narrow codegen'd scalar work: no exchange
    * beyond the presentation sort (plan-guarded).
    */
  private[queries] def q122(s: SparkSession, d: String): DataFrame = {
    val path = buildWetWarcFixture()
    ArchiveConverter.entries(s, Seq(path), ConvertOptions()).toDF()
      .select(col("path"), GraftFunctions.http_payload(col("content")).as("h"))
      .select(col("path"),
        col("h.status").cast("bigint").as("status"),
        Quality.mainContent(
          GraftFunctions.charset_decode(col("h.payload"), col("h.content_type")),
          WetMinLen, WetMaxLinkDensity).as("mc"))
      .select(col("path"), col("status"),
        col("mc.n_blocks").as("n_blocks"),
        col("mc.n_content").as("n_content"),
        GraftFunctions.nfc_normalize(col("mc.content_text")).as("wet"))
      .select(col("path"), col("status"), col("n_blocks"), col("n_content"),
        length(col("wet")).cast("bigint").as("wet_len"),
        md5(col("wet").cast("binary")).as("wet_md5"))
      .orderBy(col("path"))
  }


  /** The `--wet` CONVERTER face of q122 (the q103 play: the chain as
    * a production CLI mode, not just a query): one
    * [[ArchiveConverter.filteredEntries]] pass with `wet = true`
    * turns the WARC fixture into clean-text rows — content IS the
    * UTF-8 bytes of the NFC'd main content, with status/content-type/
    * block-count extension columns — and the result must land on
    * q122's independently-computed digests verbatim. `wet_len`
    * re-decodes the stored bytes, so the round trip through the
    * binary content column is load-bearing too.
    */
  private[queries] def q139(s: SparkSession, d: String): DataFrame = {
    val path = buildWetWarcFixture()
    ArchiveConverter.filteredEntries(s, Seq(path), ConvertOptions(wet = true))
      .select(col("path"),
        col("http_status").cast("bigint").as("status"),
        col("n_blocks").cast("bigint").as("n_blocks"),
        col("n_content").cast("bigint").as("n_content"),
        length(decode(col("content"), "UTF-8")).cast("bigint").as("wet_len"),
        md5(col("content")).as("wet_md5"))
      .orderBy(col("path"))
  }


  /** Connected components over the REAL link graph ([[Dedup.components]]
    * fed by [[linkGraphEdges]] — the clustering path on graph-shaped,
    * not dedup-pair, data): the site-to-site subgraph (CDN/shop hub
    * domains excluded — a hub would glue everything into one giant
    * component and hide the structure) clusters hosts into link
    * neighborhoods. The synthesis makes this subgraph the functional
    * graph of `m -> (7m+1) mod 25`, a permutation whose cycle
    * structure — six 4-cycles and the fixed point site4 — the oracle
    * rediscovers via a recursive-CTE transitive closure (the q33
    * rule). String hosts ride through the integral-id contract as
    * `xxhash64(host)` (the scale path: no global sort to assign dense
    * ids; a 64-bit collision merely merges two hosts and is
    * negligible at any real host count), and the output is re-keyed
    * to the LEXICOGRAPHICALLY smallest member host so the result is
    * hash-independent and oracle-checkable.
    */
  private[queries] def q124(s: SparkSession, d: String): DataFrame = {
    // materialized once: consumed three times below (both ends of the
    // node union + the pair projection), each of which would re-run
    // the whole link-extraction chain
    val hostEdges = linkGraphEdges(s, d)
      .where(col("src_domain").startsWith("site") &&
        col("dst_domain").startsWith("site"))
      .select(col("src_domain").as("src"), col("dst_domain").as("dst"))
      .distinct()
      .localCheckpoint(true)
    val nodes = hostEdges.select(col("src").as("host"))
      .unionAll(hostEdges.select(col("dst").as("host")))
      .distinct()
      .select(col("host"), xxhash64(col("host")).as("id"))
    val pairs = hostEdges.select(
      xxhash64(col("src")).as("id_a"), xxhash64(col("dst")).as("id_b"))
    val members = Dedup.components(pairs)
      .join(nodes, "id")
      .select(col("host"), col("cluster"))
    val reps = members.groupBy(col("cluster"))
      .agg(min(col("host")).as("cluster_rep"),
        count(lit(1)).as("cluster_size"))
    members.join(reps, "cluster")
      .select(col("host"), col("cluster_rep"), col("cluster_size"))
      .orderBy(col("host"))
  }


  /** Oracle-checked READ-BACK of the CDX at-rest layout — the
    * retrieval half of the 100 TB index story (BucketingSpec's layout
    * under the correctness gate): q113's keys are written
    * `partitionBy(shard)` (shard = the reversed-host run of the key,
    * everything before `)`) + `sortWithinPartitions(cdx_key)`, then a
    * registered-domain range query is answered FROM THE FILES. The
    * oracle restates the expected keys, counts and min doc ids
    * straight from the synthesis spec, so the write, the layout and
    * the read-back must all land; the plan guard asserts the scan
    * touches ONE shard directory with the finer prefix pushed to
    * parquet (`StringStartsWith`).
    */
  private[queries] def q125(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val ds = (c: Column) => c.cast("string")
    val u0 = concat(lit("HTTP://WWW.S"), ds(id % 7), lit(".Example.COM:80/A"),
      ds(id % 11), lit("/B?b="), ds(id % 3), lit("&A=1"))
    val u1 = concat(lit("https://s"), ds(id % 7),
      lit(".example.com:8443/c/"), ds(id % 5))
    val rows = t(s, d, "documents")
      .select(id, explode(array(u0, u1)).as("url"))
      .select(col("doc_id"), GraftFunctions.surt_key(col("url")).as("cdx_key"))
      .withColumn("shard", substring_index(col("cdx_key"), ")", 1))
    val out = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_q125_layout"),
      java.lang.Integer.toHexString(d.hashCode)).getAbsolutePath
    rows.repartition(col("shard")).sortWithinPartitions(col("cdx_key"))
      .write.partitionBy("shard").mode("overwrite").parquet(out)
    FooterSchema.read(s, out)
      .where(col("shard") === "com,example,s3" &&
        col("cdx_key").startsWith("com,example,s3)/a1"))
      .groupBy(col("cdx_key"))
      .agg(count(lit(1)).cast("long").as("n"), min(col("doc_id")).as("min_doc"))
      .orderBy(col("cdx_key"))
  }

  /** Mojibake repair ([[GraftFunctions.fix_mojibake]]) — undo
    * UTF-8-read-as-Latin-1/CP1252 corruption, the classic crawl-data
    * defect q104's charset sniff PREVENTS and this operator CURES
    * after the fact. Whole-string, at most 3 passes, never throws.
    * Four spec-synthesized regimes per doc (the q16 rule — the oracle
    * restates every expected string in chr() arithmetic):
    * single-encoded mojibake repairs once; genuine Latin-1 text whose
    * re-encoding is invalid UTF-8 passes through UNTOUCHED (the
    * boundary that keeps the operator safe to run corpus-wide);
    * double-encoded mojibake repairs twice; CP1252 smart-quote
    * mojibake exercises the 0x80–0x9F inverse table.
    */
  private[queries] def q134(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val pre = concat(substring(col("text"), 1, 16), lit(" "))
    val moji = when(id % 4 === 0, concat(lit("caf"), lit("\u00C3\u00A9")))
      .when(id % 4 === 1, lit("se\u00F1or"))
      .when(id % 4 === 2, lit("\u00C3\u0083\u00C2\u00A9"))
      .otherwise(lit("q\u00E2\u20AC\u0153x"))
    t(s, d, "documents")
      .select(id, GraftFunctions.fix_mojibake(concat(pre, moji)).as("fixed"))
      .orderBy(id)
  }

  // -------------------------------------------------------------------
}
