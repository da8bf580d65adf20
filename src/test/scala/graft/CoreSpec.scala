package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** M0 invariants: frozen constants, canonicalization parity/idempotence,
  * parser byte-identity, fixture generation. */
class CoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("frozen FixtureConstants match Spark xxhash64 derivation") {
    val df = FixtureConstants.hosts.map(h => (h.source, h.host)).toDF("source", "host")
    val derived = df.select(
      $"source",
      pmod(xxhash64($"source"), lit(6)).as("family"),
      (lit(1.0) + pmod(xxhash64($"host"), lit(10))).as("weight"),
      (lit(2) + pmod(xxhash64($"host"), lit(4))).as("budget"),
      (lit(1.0) + pmod(xxhash64($"host"), lit(3))).as("crawl_delay"),
      xxhash64($"host").as("host_hash")
    ).collect().map(r => r.getString(0) ->
      (r.getLong(1).toInt, r.getDouble(2), r.getLong(3).toInt, r.getDouble(4), r.getLong(5))).toMap
    for (h <- FixtureConstants.hosts) {
      val (fam, w, b, cd, hh) = derived(h.source)
      assert((fam, w, b, cd, hh) === ((h.family, h.weight, h.budget, h.crawlDelay, h.hostHash)),
        s"drift for ${h.source}")
    }
  }

  test("canonicalize: Column and Scala flavors agree on every fixture url") {
    val fixDir = Fixtures.ensure(spark, TestSpark.Sf0001)
    val urls = spark.read.parquet(s"$fixDir/pages.parquet")
      .select($"url").as[String].collect()
    assert(urls.nonEmpty)
    val colCanon = urls.toSeq.toDF("url")
      .select($"url", Canonicalize.canonicalUrl($"url").as("canon"))
      .as[(String, String)].collect().toMap
    for (u <- urls) {
      assert(Canonicalize.canonicalScala(u) === Option(colCanon(u)), s"mismatch for $u")
    }
  }

  test("canonicalize: alias rows collapse onto their clean url") {
    val clean = "https://src3.example.com/articles/15"
    val alias = clean + Constants.AliasSuffix
    assert(Canonicalize.canonicalScala(alias) === Some(clean))
    val viaCol = Seq(alias).toDF("url")
      .select(Canonicalize.canonicalUrl($"url")).as[String].head()
    assert(viaCol === clean)
  }

  test("canonicalize: escaped-alias rows collapse via the guarded %-decode") {
    val clean = "https://src3.example.com/articles/18"
    val esc = s"https://src3.example.com/articles/${Constants.escapeDigits(18L)}"
    assert(esc.endsWith("/%31%38"))
    assert(Canonicalize.canonicalScala(esc) === Some(clean))
    val viaCol = Seq(esc, "https://h.example.com/a%72ticles/%7E1")
      .toDF("url").select(Canonicalize.canonicalUrl($"url")).as[String].collect()
    assert(viaCol(0) === clean)
    // letters and '~' decode too (unreserved set, both hex cases)
    assert(viaCol(1) === "https://h.example.com/articles/~1")
    // reserved / non-unreserved escapes survive verbatim: '/' %2F would
    // change the path structure, %20 (space) and %25 ('%') are not
    // unreserved.
    assert(Canonicalize.canonicalScala("https://h.example.com/a%2Fb%20c%25d") ===
      Some("https://h.example.com/a%2Fb%20c%25d"))
    // malformed escapes: both flavors REJECT the url (None / NULL) rather
    // than crash — try_parse_url on the Column side (web-scale crawls carry
    // garbage urls; strict parse_url would kill the job), java.net.URI on
    // the Scala side. The flavors agree.
    assert(Canonicalize.canonicalScala("https://h.example.com/a%3zz") === None)
    val mal = Seq("https://h.example.com/a%3zz").toDF("url")
      .select(Canonicalize.canonicalUrl($"url")).collect().head
    assert(mal.isNullAt(0))
  }

  test("canonicalize: idempotent (P1), slash-collapsing, scheme filter") {
    assert(Canonicalize.canonicalScala("https://A.example.com//x///y/") ===
      Some("https://a.example.com/x/y"))
    assert(Canonicalize.canonicalScala("ftp://a.example.com/x") === None)
    assert(Canonicalize.canonicalScala("not a url") === None)
    // Property P1 over a seeded sample of adversarial paths.
    val rnd = new scala.util.Random(42)
    val alphabet = "abcXYZ019/._-~%?#& "
    for (_ <- 1 to 500) {
      val path = Seq.fill(rnd.nextInt(30))(alphabet(rnd.nextInt(alphabet.length))).mkString
      val u = "https://H.Example.com/" + path
      Canonicalize.canonicalScala(u).foreach { c =>
        assert(Canonicalize.canonicalScala(c) === Some(c), s"not idempotent for $u -> $c")
      }
    }
  }

  test("parsers: render→extract roundtrip is byte-identical for all families") {
    // adversarial bodies: JSON-escape-worthy chars, entity chars, empty
    val bodies = Seq(
      "the fast key order sort / with punct, and words",
      """quotes "inside" and back\slash & amp; mix  double-space""",
      "a",
      "")
    assert(FixtureConstants.hosts.map(_.family).distinct.sorted === (0 to 5))
    for (h <- FixtureConstants.hosts; body <- bodies) {
      val html = Parsers.renderArticle(h.family, "Doc 7", h.source, body)
      assert(Parsers.extract(h.host, html) === body,
        s"family ${h.family}, body <$body>")
    }
    // Families 6-17 (nested markup, mixed NCRs, the round-5 shapes:
    // table-in-body, script/style, CDATA, malformed attrs, <br>
    // paragraphs, double-encoded entities — and the second round-5 wave:
    // comment traps, out-of-order pagination, attribute-embedded bodies,
    // base64 SPA state blobs) have no fixture host — byte-identity via the
    // family-explicit kernel, including non-ASCII bodies that families
    // 7/13/17 encode on the wire and '>'-bearing bodies that stress the
    // attribute close scan of family 16.
    val extra = bodies ++ Seq("的 是 了 在", "café & crème brûlée",
      "tab\there\nnewline", "a > b and \"quoted &quot; literal\"")
    for (f <- 6 until Parsers.NumFamilies; body <- extra) {
      val html = Parsers.renderArticle(f, "Doc 7", "srcX", body)
      assert(Parsers.extractFamily(f, html) === body, s"family $f, body <$body>")
    }
    assert(Parsers.NumFamilies === 18)
  }

  test("parsers: family 8 related-table trap and family 11 '>' trap defeated") {
    val body = "alpha beta gamma delta words enough to span cells " * 2
    // family 8: a naive all-<td> collection would append the related
    // table's cell; the marked-table span excludes it.
    val h8 = new String(Parsers.renderArticle(8, "D", "srcX", body.trim),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(h8.contains("""<table class="related">"""))
    val naiveCells = """<td>([^<]*)</td>""".r.findAllMatchIn(h8).map(_.group(1)).mkString
    assert(naiveCells !== body.trim, "related-table trap vanished")
    assert(Parsers.extractFamily(8, h8.getBytes("UTF-8")) === body.trim)
    // family 11: a naive indexOf('>') after the open tag cuts inside the
    // quoted attribute value and fabricates " >…" text.
    val h11 = new String(Parsers.renderArticle(11, "D", "srcX", "clean body"),
      java.nio.charset.StandardCharsets.UTF_8)
    val open = "<div class=mal-body"
    val naiveFrom = h11.indexOf('>', h11.indexOf(open) + open.length) + 1
    val naive = h11.substring(naiveFrom, h11.indexOf("</div>", naiveFrom))
    assert(naive !== "clean body", "malformed-attr trap vanished")
    assert(Parsers.extractFamily(11, h11.getBytes("UTF-8")) === "clean body")
  }

  test("parsers: family 6 nested markup defeats a naive first-close scan") {
    // The misleading part: the FIRST </div> after the article open belongs
    // to the inner lead div — a marker-pair scan (the family 0-2 kernel
    // shape) fabricates the lead text instead of the body.
    val body = "real body words"
    val html = Parsers.renderArticle(6, "Doc 9", "srcX", body)
    val s = new String(html, java.nio.charset.StandardCharsets.UTF_8)
    val open = """<div data-role="article">"""
    val naive = s.substring(s.indexOf(open) + open.length,
      s.indexOf("</div>", s.indexOf(open)))
    assert(naive !== body, "fixture no longer exercises the nesting trap")
    assert(Parsers.extractFamily(6, html) === body)
    // Misleading inner markers elsewhere in the page must not confuse it:
    // a comments div AFTER the article close is ignored.
    assert(s.contains("""<div class="comments">"""))
  }

  test("parsers: published-date meta round-trips through every family format") {
    val pub = Constants.EPOCH.plusSeconds(12345 * 60)
    for (h <- FixtureConstants.hosts) {
      val html = new String(
        Parsers.renderArticle(h.family, "Doc 1", h.source, "body", pub), "UTF-8")
      val re = """property="article:published" content="([^"]+)"""".r
      val raw = re.findFirstMatchIn(html).map(_.group(1)).getOrElse(fail(s"no meta: $html"))
      assert(raw === Parsers.formatPublished(h.family, pub))
      // the raw string must parse back to the instant (family-format aware)
      val parsed = h.family match {
        case 3 => java.time.Instant.ofEpochSecond(raw.toLong)
        case f =>
          val fmt = java.time.format.DateTimeFormatter
            .ofPattern(Parsers.DateFormats(f).get, java.util.Locale.US)
            .withZone(java.time.ZoneOffset.UTC)
          java.time.Instant.from(fmt.parse(raw))
      }
      assert(parsed === pub, s"family ${h.family}: $raw")
    }
  }

  test("parsers: all three listing feed formats extract links, no text") {
    // pick one fixture host per feed format (family % 3)
    val byFormat = FixtureConstants.hosts.groupBy(h => h.family % 3)
    assert(byFormat.keySet === Set(0, 1, 2))
    for ((fmtId, hs) <- byFormat; h = hs.head) {
      val urls = (0 until 10).map(i => s"https://${h.host}/articles/$i")
      val html = Parsers.renderListing(h.host, urls)
      assert(Parsers.listingFormatOf(h.host) === fmtId)
      assert(Parsers.extract(h.host, html) === "", s"format $fmtId extracted text")
      assert(Parsers.extractLinks(html) === urls, s"format $fmtId links")
    }
    // article pages yield no links, for every family
    for (h <- FixtureConstants.hosts) {
      val art = Parsers.renderArticle(h.family, "Doc 1", h.source, "body text")
      assert(Parsers.extractLinks(art) === Nil, s"family ${h.family}")
    }
  }

  test("fixtures: byte-identity invariant over the whole sf0.001 pages table") {
    val fixDir = Fixtures.ensure(spark, TestSpark.Sf0001)
    val pages = spark.read.parquet(s"$fixDir/pages.parquet")
    val bad = pages
      .select($"url", $"html", $"text")
      .as[(String, Array[Byte], String)]
      .map { case (url, html, text) =>
        val host = Canonicalize.hostScala(url).getOrElse("")
        (url, Parsers.extract(host, html) == text)
      }
      .filter(!_._2)
      .count()
    assert(bad === 0L)
  }

  test("sitemaps: index resolution, orphan exclusion, canonical locs, field parse") {
    val sitemaps = Seq(
      ("h1.example.com", "https://h1.example.com/sitemap_index.xml",
        "<sitemapindex><sitemap><loc>https://h1.example.com/sm_a.xml</loc></sitemap>" +
          "</sitemapindex>"),
      ("h1.example.com", "https://h1.example.com/sm_a.xml",
        "<urlset><url><loc>https://h1.example.com/p/1?utm_source=x</loc>" +
          "<lastmod>2024-02-01T03:04:05Z</lastmod><changefreq>daily</changefreq>" +
          "<priority>0.7</priority></url>" +
          "<url><loc>https://h1.example.com/p/2</loc>" +
          "<lastmod>2024-02-02T00:00:00Z</lastmod><changefreq>weekly</changefreq>" +
          "<priority>0.3</priority></url></urlset>"),
      // orphan urlset: no index references it → its entry must not appear
      ("h1.example.com", "https://h1.example.com/sm_stale.xml",
        "<urlset><url><loc>https://h1.example.com/gone</loc>" +
          "<lastmod>2024-01-01T00:00:00Z</lastmod><changefreq>never</changefreq>" +
          "<priority>0.1</priority></url></urlset>"))
      .toDF("host", "url", "xml")
    val got = graft.operators.Sitemaps.parse(sitemaps)
      .as[(String, String, java.sql.Timestamp, String, Double)].collect().toSet
    assert(got === Set(
      ("h1.example.com", "https://h1.example.com/p/1",
        java.sql.Timestamp.valueOf("2024-02-01 03:04:05"), "daily", 0.7),
      ("h1.example.com", "https://h1.example.com/p/2",
        java.sql.Timestamp.valueOf("2024-02-02 00:00:00"), "weekly", 0.3)))
  }

  test("fixtures: expected shape at sf0.001") {
    val fixDir = Fixtures.ensure(spark, TestSpark.Sf0001)
    val pages = spark.read.parquet(s"$fixDir/pages.parquet")
    // 500 docs + 100 aliases (doc_id%5==0) + 45 escaped aliases
    // (doc_id%11==7) + 71 recaptures (doc_id%7==3) + 20 listing roots
    assert(pages.count() === 736L)
    assert(spark.read.parquet(s"$fixDir/seeds.parquet").count() === 40L)
    assert(spark.read.parquet(s"$fixDir/robots.parquet").count() === 20L)
    val media = spark.read.parquet(s"$fixDir/media.parquet")
    assert(media.count() === 500L)
    assert(media.select($"kind").distinct().count() === 3L)
  }

  test("RFC 9309 robots: wildcard, $-anchor, longest-match, allow-tie — Scala and Catalyst agree") {
    import graft.operators.Robots
    val rules = Seq(
      (false, "/articles/*0$"), (true, "/articles/*00$"),
      (false, "/tag/"), (true, ""))
    // Scala flavor: the semantic truth table.
    assert(!Robots.isDisallowedRfcScala("/articles/123", rules))
    assert(Robots.isDisallowedRfcScala("/articles/120", rules), "ends in 0 → disallow")
    assert(!Robots.isDisallowedRfcScala("/articles/100", rules), "longer allow *00$ wins")
    assert(Robots.isDisallowedRfcScala("/tag/x", rules), "plain prefix disallow")
    assert(!Robots.isDisallowedRfcScala("/other", rules), "only the empty allow matches")
    assert(!Robots.isDisallowedRfcScala("/a/x", Seq((false, "/a/"), (true, "/a/"))),
      "equal specificity: allow wins (RFC tie rule)")
    assert(!Robots.isDisallowedRfcScala("/x", Nil), "no rules → allowed")
    // Catalyst flavor parity over a frame + no-rules host via the left join.
    val cands = Seq(
      ("h", "https://h/articles/120"), ("h", "https://h/articles/100"),
      ("h", "https://h/tag/x"), ("h", "https://h/other"),
      ("norules", "https://norules/articles/120")).toDF("host", "url")
    val rulesDim = Seq("h").toDF("host")
      .withColumn("rules", Robots.rulesArrayColumn(rules))
    val got = Robots.tagRfc(cands, rulesDim)
      .as[(String, String, Boolean)].collect().map(r => r._2 -> r._3).toMap
    assert(got("https://h/articles/120") && !got("https://h/articles/100"))
    assert(got("https://h/tag/x") && !got("https://h/other"))
    assert(!got("https://norules/articles/120"), "host without a rules row is allowed")
  }

  test("bench: committed ladders embed as one line of valid JSON") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    for (path <- Seq("bench_ladder.json", "bench_pipeline_ladder.json")) {
      val line = Bench.readLadder(path).toString
      assert(!line.contains('\n'), s"$path embeds a newline")
      assert(mapper.readTree(line) === mapper.readTree(new java.io.File(path)), path)
    }
    assert(Bench.readLadder("no_such_ladder.json").isNull)

    // The whole bench record: one line that parses, both ladders embedded
    // as trees, and a failed entry listed but never timed.
    val line = Bench.benchLine(
      Seq("q01_a" -> Some(Seq(2.5, 2.25)), "q02_b" -> None, "q03_c" -> Some(Seq(0.5))),
      Some((graft.operators.CrawlLoop.RunResult("crawl", 3, 0, 10, 9, 8), 2.0)),
      "/data/sf0.001", 4,
      Bench.readLadder("bench_ladder.json"), Bench.readLadder("bench_pipeline_ladder.json"))
    assert(!line.contains('\n'))
    val rec = mapper.readTree(line)
    assert(rec.get("scaling").get("ladder_ref").get("committed") ===
      mapper.readTree(new java.io.File("bench_ladder.json")))
    assert(rec.get("scaling").get("ladder_ref").get("committed_pipeline") ===
      mapper.readTree(new java.io.File("bench_pipeline_ladder.json")))
    assert(rec.fieldNames.asScala.toSeq === Seq("metric", "value", "unit", "queries",
      "query_walls", "failed", "sf", "cpus", "crawl", "scaling"))
    assert(rec.get("failed").elements.asScala.map(_.asText).toSeq === Seq("q02_b"))
    assert(rec.get("queries").fieldNames.asScala.toSeq === Seq("q01_a", "q03_c", "crawl_e2e"))
    assert(rec.get("query_walls").fieldNames.asScala.toSeq === Seq("q01_a", "q03_c"))
    assert(rec.get("queries").get("q01_a").asDouble === 2.25)
    assert(rec.get("query_walls").get("q01_a").elements.asScala.map(_.asDouble).toSeq ===
      Seq(2.5, 2.25))
    assert(rec.get("value").asDouble === 2.25 + 0.5 + 2.0)
    assert(rec.get("crawl").get("throughput_urls_per_sec").asDouble === 13.5)
  }

  test("fingerprint: a touched file changes its own and its directory's fingerprint") {
    import java.nio.file.{Files, attribute}
    val dir = Files.createTempDirectory("graft-fp-")
    try {
      val a = Files.writeString(dir.resolve("a.parquet"), "aa")
      Files.writeString(dir.resolve("b.parquet"), "b")
      Files.createDirectory(dir.resolve("sub.parquet")) // not a file: ignored
      // A flat directory keeps the marker format its caches already store.
      def entry(n: String) = {
        val f = dir.resolve(n)
        s"$n:${Files.size(f)}:${Files.getLastModifiedTime(f).toMillis}"
      }
      val (fileFp, dirFp) =
        (Fixtures.sourceFingerprint(a.toString), Fixtures.sourceFingerprint(dir.toString))
      assert(dirFp === s"${entry("a.parquet")}|${entry("b.parquet")}")
      assert(fileFp === entry("a.parquet"))
      Files.setLastModifiedTime(a, attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(a).toMillis + 5000))
      assert(Fixtures.sourceFingerprint(a.toString) !== fileFp)
      assert(Fixtures.sourceFingerprint(dir.toString) !== dirFp)
      intercept[IllegalArgumentException](
        Fixtures.sourceFingerprint(dir.resolve("sub.parquet").toString))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("Parquet.read: Spark's inferred schema, read from one footer with no job") {
    import java.nio.file.Files
    import org.apache.spark.graft.JobCount
    def same(paths: String*): Unit = {
      val (want, sparkJobs) = JobCount(spark)(spark.read.parquet(paths: _*).schema)
      val (got, jobs) = JobCount(spark)(Parquet.read(spark, paths: _*).schema)
      assert((sparkJobs, jobs) === ((1, 0)), paths)
      assert(got === want, paths)
    }
    val tables = new java.io.File(TestSpark.Sf0001).listFiles.map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted
    assert(tables.length === 10)
    tables.foreach(same(_))
    val dir = Files.createTempDirectory("graft-pq-")
    try {
      val rich = s"$dir/rich"
      Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), Seq("a", "b"), ("x", 2.5)))
        .toDF("id", "ts", "tags", "pair").write.parquet(rich)
      same(rich)
      // An empty write still leaves one part file carrying the schema.
      val empty = s"$dir/empty"
      Seq.empty[(Int, String)].toDF("n", "s").write.parquet(empty)
      same(empty)
      // Over several paths Spark takes the first data file by full path:
      // here empty's, whose schema differs from rich's.
      same(rich, empty)
      assert(Parquet.read(spark, rich, empty).columns.toSeq === Seq("n", "s"))
      // Where Spark decides itself, the helper defers to it.
      assert(Parquet.schema(spark, Seq(s"$dir/ric*")).isEmpty)
      val parted = s"$dir/parted"
      Seq((1, "a")).toDF("n", "p").write.partitionBy("p").parquet(parted)
      assert(Parquet.schema(spark, Seq(parted)).isEmpty)
      assert(Parquet.read(spark, parted).columns.toSeq === Seq("n", "p"))
      SessionConf.withConf(spark, "spark.sql.parquet.mergeSchema", "true") {
        assert(Parquet.schema(spark, Seq(rich)).isEmpty)
      }
      val bare = Files.createDirectory(dir.resolve("bare")).toString
      for (p <- Seq(s"$dir/missing", bare)) {
        val want = intercept[Exception](spark.read.parquet(p)).getClass
        assert(intercept[Exception](Parquet.read(spark, p)).getClass === want, p)
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}
