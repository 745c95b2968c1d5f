package graft

import org.apache.spark.sql.functions._

import graft.operators.WebCuration

/** URL/host web-curation family: the canonicalizer rule set pinned edge
  * by edge (the DuckDB oracle only sees the synthesized corpus shapes;
  * this spec owns the general contract), plus the relational stages.
  */
class WebCurationSpec extends SparkSpec {
  import spark.implicits._

  private def canon(u: String): String =
    Seq(u).toDF("u").select(WebCuration.canonicalUrl(col("u")))
      .collect().head.getString(0)

  test("canonicalizeUrl: every documented rule, edge by edge") {
    // fragment dropped
    assert(canon("https://a.com/x#sec") === "https://a.com/x")
    // scheme+host lowercased, path/query case PRESERVED
    assert(canon("HTTPS://A.CoM/Path?Q=V") === "https://a.com/Path?Q=V")
    // www. stripped (host only — path 'www.' untouched)
    assert(canon("https://www.a.com/www.b") === "https://a.com/www.b")
    // default ports stripped per scheme; non-default and cross-scheme kept
    assert(canon("http://a.com:80/x") === "http://a.com/x")
    assert(canon("https://a.com:443/x") === "https://a.com/x")
    assert(canon("http://a.com:8080/x") === "http://a.com:8080/x")
    assert(canon("http://a.com:443/x") === "http://a.com:443/x")
    assert(canon("https://a.com:80/x") === "https://a.com:80/x")
    // tracking params dropped order-preserving; names case-insensitive;
    // a bare (no '=') tracking name also drops; utm in a VALUE is kept
    assert(canon("https://a.com/x?utm_source=f&id=3&UTM_campaign=c&p=2")
      === "https://a.com/x?id=3&p=2")
    assert(canon("https://a.com/x?ref&id=3") === "https://a.com/x?id=3")
    assert(canon("https://a.com/x?q=utm_source") === "https://a.com/x?q=utm_source")
    assert(canon("https://a.com/x?fbclid=1&gclid=2&msclkid=3&mc_cid=4&mc_eid=5")
      === "https://a.com/x")
    // emptied query loses its '?'
    assert(canon("https://a.com/x?utm_source=f") === "https://a.com/x")
    // ONE trailing slash dropped; root path collapses onto the authority
    assert(canon("https://a.com/x/") === "https://a.com/x")
    assert(canon("https://a.com/x//") === "https://a.com/x/")
    assert(canon("https://a.com/") === "https://a.com")
    assert(canon("https://a.com") === "https://a.com")
    // trailing slash applies to the PATH, not a query value
    assert(canon("https://a.com/x?d=/") === "https://a.com/x?d=/")
    // non-URL shapes: trimmed + fragment-stripped only
    assert(canon("  not a url #frag ") === "not a url")
    // the whole pile at once
    assert(canon(" HTTP://WWW.Site7.Example.COM:80/Articles/3/?utm_source=F&id=9&ref=h#Sec ")
      === "http://site7.example.com/Articles/3?id=9")
    // null in, null out
    val n = Seq[(Integer, String)]((1, null)).toDF("i", "u")
      .select(WebCuration.canonicalUrl(col("u"))).collect().head
    assert(n.isNullAt(0))
  }

  test("url_canonicalize is SQL-registered and matches the Column API") {
    val got = spark.sql(
      "SELECT url_canonicalize('HTTP://WWW.A.com:80/X/?utm_source=f&id=2#s')")
      .collect().head.getString(0)
    assert(got === "http://a.com/X?id=2")
  }

  test("urlKeyDedup collapses canon-equal variants to min id") {
    val rows = Seq(
      (1L, "http://a.com/x"), (2L, "HTTP://WWW.a.com:80/x/"),
      (3L, "http://a.com/x?utm_source=f"), (4L, "http://a.com/y"))
      .toDF("doc_id", "url")
    val got = WebCuration.urlKeyDedup(rows, "url", "doc_id")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got === Map(
      "http://a.com/x" -> ((1L, 3L)), "http://a.com/y" -> ((4L, 1L))))
  }

  test("streamed canonical-URL dedup (canonicalize -> dropDuplicates on " +
      "the canon key) matches batch urlKeyDedup's key set under " +
      "at-least-once redelivery") {
    import java.nio.file.Files
    val rows = Seq(
      (1L, "http://a.com/x"), (2L, "HTTP://WWW.a.com:80/x/"),
      (3L, "http://a.com/x?utm_source=f"), (4L, "http://a.com/y"),
      (5L, "https://B.com/z#frag"), (6L, "https://b.com/z"))
      .toDF("doc_id", "url")
    val dir = tempDir("graft-surl-")
    rows.coalesce(1).write.parquet(s"$dir/a")
    rows.coalesce(1).write.parquet(s"$dir/b") // redelivery
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$dir/a").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/*")
      .withColumn("canon_url", WebCuration.canonicalUrl(col("url")))
      .dropDuplicates("canon_url")
    val q = stream.writeStream.format("memory").queryName("surl")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("surl").select("canon_url")
        .collect().map(_.getString(0)).toSet
      val batch = WebCuration.urlKeyDedup(rows, "url", "doc_id")
        .select("canon_url").collect().map(_.getString(0)).toSet
      assert(streamed === batch)
      assert(spark.table("surl").count() === batch.size.toLong,
        "exactly one row per canonical key")
    } finally q.stop()
  }

  test("domainStats aggregates per domain; withBlocklist broadcast-flags") {
    val rows = Seq(
      (1L, "https://a.com/1", "one two three", 13L),
      (2L, "https://WWW.a.com/2", "four five", 9L),
      (3L, "http://b.com:8080/x", "six", 3L))
      .toDF("doc_id", "url", "text", "n_chars")
    val stats = WebCuration.domainStats(rows, "url", "text", "n_chars")
    val got = stats.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === Map(
      "a.com" -> ((2L, 5L, 11000000L)), // (13+9)*1e6 DIV 2
      "b.com" -> ((1L, 1L, 3000000L)))) // port is not part of the domain
    val flagged = WebCuration.withBlocklist(
        stats, Seq("a.com").toDF("domain"))
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(flagged === Map("a.com" -> 1L, "b.com" -> 0L))
  }

  test("extractMainContent: hand-built page — script/style dropped, nav " +
      "and link-lists dropped by link density, prose kept, entities decoded") {
    val prose = "This is a long enough paragraph of real prose content " +
      "that any sane extractor must keep around for training."
    val html =
      "<html><head><title>T</title><style>p { color: red }</style>" +
        "<script>if (1 < 2) { alert('</p> fake'); }</script></head><body>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/a\">About the site</a></nav>" +
        "<h1>Short title</h1>" +
        s"<div>$prose</div>" +
        "<p>Mixed line with a tiny <a href=\"/x\">link</a> inside a long " +
        "stretch of otherwise plain prose text that clears the gate.</p>" +
        "<ul><li><a href=\"/r1\">Related article one</a></li>" +
        "<li><a href=\"/r2\">Related article two</a></li></ul>" +
        "<footer>&copy; 2026 Site &amp; friends &mdash; " +
        "<a href=\"/tos\">Terms &amp; conditions</a></footer></body></html>"
    val out = WebCuration.extractMainContent(
        Seq((1L, html)).toDF("doc_id", "page"), "page", "doc_id")
      .collect()
    val texts = out.map(r => r.getString(2) -> r).toMap
    // script/style content never surfaces, even with a fake close tag
    assert(!texts.keys.exists(t => t.contains("alert") || t.contains("color")),
      texts.keys.mkString("|"))
    assert(texts.contains(prose) && texts(prose).getBoolean(6), "prose kept")
    // the mixed prose line keeps despite containing one small link
    val mixed = texts.keys.find(_.startsWith("Mixed line")).get
    assert(texts(mixed).getBoolean(6))
    assert(texts(mixed).getLong(4) === 4L, "link_len counts only anchor text")
    // nav: all links -> link_bps ~ 10000 -> dropped
    val nav = texts.keys.find(_.contains("Home")).get
    assert(!texts(nav).getBoolean(6) && texts(nav).getLong(5) > 9000L)
    // related-list items are pure links -> dropped
    Seq("Related article one", "Related article two").foreach { t =>
      assert(texts.contains(t) && !texts(t).getBoolean(6), t)
    }
    // short title dropped by length, footer entities decoded
    assert(!texts("Short title").getBoolean(6))
    val footer = texts.keys.find(_.contains("friends")).get
    assert(footer.contains("&copy;") && footer.contains("Site & friends"),
      footer) // &amp; decoded once; unknown entity left verbatim
  }

  test("htmlWrap -> extractMainContent round-trip on the corpus: the two " +
      "content halves are kept, every boilerplate class dropped") {
    val docs = Tables.table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).limit(50)
    val pages = docs.withColumn("page",
      WebCuration.htmlWrap(col("doc_id"), col("text")))
    val out = WebCuration.extractMainContent(pages, "page", "doc_id")
    val kept = out.filter(col("keep"))
      .groupBy(col("doc")).agg(concat_ws(" ", collect_list(col("text"))).as("main"))
    // the reassembled main content is exactly the whitespace-normalized
    // document text (html split it into div+p halves mid-token at times,
    // so compare token-free: strip all whitespace)
    val diff = kept.join(docs.select(col("doc_id").as("doc"), col("text")), Seq("doc"))
      .filter(regexp_replace(col("main"), "\\s+", "") =!=
        regexp_replace(col("text"), "\\s+", ""))
      .count()
    assert(diff === 0L)
    // boilerplate classes never keep: titles, nav, related, footer
    val badKeeps = out.filter(col("keep") &&
      (col("text").rlike("^Title |Home About") ||
        col("text").contains("Related") || col("text").contains("Terms"))).count()
    assert(badKeeps === 0L)
  }

  test("robotsRules: RFC 9309 parse semantics — comments, case-insensitive " +
      "fields, consecutive user-agent lines share a group, pre-group rules " +
      "dropped, empty Disallow kept as the allow-all sentinel") {
    import spark.implicits._
    val robots =
      """# top comment
        |Disallow: /orphan
        |USER-agent: *   # inline comment
        |Disallow: /a
        |
        |User-agent: botA
        |user-agent: botB
        |Allow: /a/b
        |Disallow:
        |Crawl-delay: 7
        |noise line without a colon directive
        |""".stripMargin
    val rules = WebCuration.robotsRules(
        Seq((1L, robots)).toDF("host", "robots"), "robots", "host")
      .collect().map(r => (r.getLong(1), r.getString(3), r.getString(4)))
    // the orphan rule (before any group) is dropped; group 1 = the `*`
    // group; group 2 = botA+botB sharing one group
    assert(rules.toSeq === Seq(
      (1L, "user-agent", "*"),
      (1L, "disallow", "/a"),
      (2L, "user-agent", "botA"),
      (2L, "user-agent", "botB"),
      (2L, "allow", "/a/b"),
      (2L, "disallow", ""), // allow-all sentinel survives the parse
      (2L, "crawl-delay", "7")))
  }

  test("sitemapSynth -> sitemapUrls: native from_xml parse — entries in " +
      "document order, optional lastmod/priority NULL where omitted, " +
      "declaration and xmlns ignored") {
    import spark.implicits._
    val parsed = WebCuration.sitemapUrls(
        Seq(3L, 4L).toDF("host")
          .withColumn("xml", WebCuration.sitemapSynth(col("host"))),
        "xml", "host")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getString(3), r.getString(4)))).toMap
    // host 3: 3 + 3%4 = 6 entries (i = 0..5); host 4: 3 entries
    assert(parsed.keySet === ((0 to 5).map(i => 3L -> i.toLong) ++
      (0 to 2).map(i => 4L -> i.toLong)).toSet)
    // host 3, i 0: (3+0)%4=3 -> /Articles/0; %3=0 -> lastmod NULL; %5!=0 -> priority 0.4
    assert(parsed((3L, 0L)) ===
      (("http://host3.example.com/Articles/0", null, "0.4")))
    // host 3, i 2: (5)%4=1 -> /tag/ok/2; lastmod 2026-01-06; %5=0 -> priority NULL
    assert(parsed((3L, 2L)) ===
      (("http://host3.example.com/tag/ok/2", "2026-01-06", null)))
    // host 4, i 0: (4)%4=0 -> /private/doc0
    assert(parsed((4L, 0L))._1 === "http://host4.example.com/private/doc0")
  }

  test("robotsAllowed: group ISOLATION (the bot group does not inherit " +
      "star rules), exact-agent precedence, longest-match with allow " +
      "winning ties, unmatched paths allowed, crawl-delay per chosen group") {
    import spark.implicits._
    val robots =
      """User-agent: *
        |Disallow: /private
        |Crawl-delay: 9
        |
        |User-agent: graftbot
        |Disallow: /tag
        |Allow: /tag/ok
        |Disallow: /tag/ok
        |Crawl-delay: 2
        |""".stripMargin
    val rules = WebCuration.robotsRules(
      Seq((1L, robots), (2L, "User-agent: *\nDisallow: /x\nCrawl-delay: 4\n"))
        .toDF("host", "robots"), "robots", "host")
    val urls = Seq(
      (10L, 1L, "/private/a"), // star rule, NOT in graftbot's group -> allowed
      (11L, 1L, "/tag/z"),     // bot group disallow
      (12L, 1L, "/tag/ok/z"),  // allow vs disallow SAME length -> allow wins
      (13L, 1L, "/elsewhere"), // no rule -> allowed
      (14L, 2L, "/x/y"),       // host without a bot group -> star fallback
      (15L, 2L, "/y"))
      .toDF("doc_id", "host", "path")
    val got = WebCuration.robotsAllowed(urls, rules, "graftbot")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("allowed"), r.getAs[Long]("crawl_delay_s")))).toMap
    assert(got === Map(
      10L -> ((true, 2L)),  // isolation: /private doesn't bind graftbot
      11L -> ((false, 2L)),
      12L -> ((true, 2L)),  // tie at length 7: allow wins
      13L -> ((true, 2L)),
      14L -> ((false, 4L)), // star fallback on host 2
      15L -> ((true, 4L))))
    // frontier: per-host slots follow priority desc, offsets step by the
    // chosen group's crawl-delay
    val sched = WebCuration.frontierSchedule(
        WebCuration.robotsAllowed(
          urls.withColumn("priority", col("doc_id") % 3), rules, "graftbot"),
        "host", "priority", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("slot"), r.getAs[Long]("fetch_offset_s")))).toMap
    // host 1 allowed: 10(p=1), 12(p=0), 13(p=1) -> order 10, 13, 12
    assert(sched === Map(
      10L -> ((1L, 0L)), 13L -> ((2L, 2L)), 12L -> ((3L, 4L)),
      15L -> ((1L, 0L))))
  }

  test("resolveRedirects: chain, cycle, chain-into-cycle, terminal, and " +
      "multi-target determinism under the bounded walk") {
    val urls = Seq(1L, 2L, 4L, 5L, 10L, 20L, 30L, 40L).toDF("url")
    val redirects = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),   // chain 1 -> 2 -> 3 -> 4
      (10L, 11L), (11L, 10L),         // 2-cycle
      (20L, 21L),                     // single hop to a non-url target
      (30L, 31L), (30L, 35L),         // malformed multi-target: min wins
      (40L, 10L))                     // chain INTO the cycle
      .toDF("src", "dst")
    val got = WebCuration.resolveRedirects(
        urls, redirects, "url", "src", "dst", maxHops = 4)
      .collect().map(r => r.getAs[Long]("url") ->
        ((r.getAs[Long]("final_url"), r.getAs[Long]("hops"),
          r.getAs[Boolean]("resolved")))).toMap
    assert(got === Map(
      1L -> ((4L, 3L, true)),
      2L -> ((4L, 2L, true)),
      4L -> ((4L, 0L, true)),   // terminal that IS a redirect target
      5L -> ((5L, 0L, true)),   // never redirected
      10L -> ((10L, 4L, false)), // 10->11->10->11->10, still redirecting
      20L -> ((21L, 1L, true)),
      30L -> ((31L, 1L, true)), // min(31, 35): deterministic
      40L -> ((11L, 4L, false))))
  }

  test("recrawlSchedule: floor clamp, exact interval, cap, and the " +
      "zero-change backoff-to-cap rule") {
    val hist = Seq(
      // url 1: changed every probe -> 40 DIV 4 = 10, clamped UP to 15
      (1L, true), (1L, true), (1L, true), (1L, true),
      // url 2: one change in four -> 40 s exactly
      (2L, false), (2L, true), (2L, false), (2L, false),
      // url 3: never changed -> straight to the cap
      (3L, false), (3L, false), (3L, false), (3L, false),
      // url 4: 2 of 10 -> 100 DIV 2 = 50
      (4L, true), (4L, true), (4L, false), (4L, false), (4L, false),
      (4L, false), (4L, false), (4L, false), (4L, false), (4L, false))
      .toDF("url", "changed")
    val got = WebCuration.recrawlSchedule(hist, "url", "changed",
        obsIntervalS = 10L, minIntervalS = 15L, maxIntervalS = 1000L)
      .collect().map(r => r.getAs[Long]("url") ->
        ((r.getAs[Long]("n_obs"), r.getAs[Long]("n_changed"),
          r.getAs[Long]("change_ppm"),
          r.getAs[Long]("recrawl_interval_s")))).toMap
    assert(got === Map(
      1L -> ((4L, 4L, 1000000L, 15L)),
      2L -> ((4L, 1L, 250000L, 40L)),
      3L -> ((4L, 0L, 0L, 1000L)),
      4L -> ((10L, 2L, 200000L, 50L))))
  }
}
