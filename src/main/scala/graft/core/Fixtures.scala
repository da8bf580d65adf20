package graft.core

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Input-table row of exactly the BASELINE.json `input_hint` shape. */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** Opaque multimodal row (task brief: image/audio/video as binary + typed
  * metadata; payload decode is stubbed deterministically — see ml.Multimodal). */
final case class MediaRow(
    doc_id: Long,
    kind: String,
    payload: Array[Byte],
    width: Int,
    height: Int,
    format: String)

/** Deterministic crawl-fixture generator — FIXTURES.md §B, milestone M0.
  *
  * Derives the Common-Crawl-style `pages` table (input_hint shape) plus the
  * frontier dims (`seeds`, `robots`, `source_weights`, `budgets`, `media`)
  * from the driver's read-only `documents.parquet`. Zero randomness: every
  * value is a pure function of (testdata row, pinned constants), so every
  * re-generation at every parallelism level is byte-identical (FIXTURES.md
  * B7.4).
  *
  * Output is cached under `Constants.workDir/fixtures/v<N>/<sf>/` and
  * published atomically: tables first, then a `_ALL_DONE` marker — readers
  * regenerate iff the marker is absent (same manifest-last idea as the crawl
  * checkpoints, SURVEY.md §2 op 5).
  */
object Fixtures {

  /** Cheap content fingerprint of a source file, or of the regular files
    * directly inside a source directory (file names + sizes + mtimes — no
    * Spark job). Caches store it in their `_ALL_DONE` marker and are only
    * trusted for the exact input they were derived from: regenerated
    * testdata of the same shape but a different doc→source draw would
    * otherwise be served a stale fixture and silently poison any
    * correctness gate. A directory without a regular file fails, since
    * its fingerprint would be empty and never change. */
  private[graft] def sourceFingerprint(path: String): String = {
    val p = Paths.get(path)
    val files =
      if (Files.isDirectory(p))
        scala.util.Using.resource(Files.list(p))(
          _.iterator.asScala.filter(Files.isRegularFile(_)).toList)
      else List(p)
    require(files.nonEmpty, s"no file to fingerprint in $path")
    files.map(f => s"${f.getFileName}:${Files.size(f)}:${Files.getLastModifiedTime(f).toMillis}")
      .sorted.mkString("|")
  }

  /** Ensure fixtures exist for `sfDir`; returns the fixture directory. */
  def ensure(spark: SparkSession, sfDir: String): String = synchronized {
    val sfName = Paths.get(sfDir).getFileName.toString
    val dir = s"${Constants.workDir}/fixtures/v${Constants.FixtureVersion}/$sfName"
    val marker = Paths.get(dir, "_ALL_DONE")
    val fp = sourceFingerprint(sfDir)
    if (!Files.exists(marker) || Files.readString(marker) != fp) {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      generate(spark, sfDir, dir)
      Files.createDirectories(marker.getParent)
      Files.writeString(marker, fp)
    }
    dir
  }

  def pages(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"${ensure(spark, sfDir)}/pages.parquet")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"${ensure(spark, sfDir)}/$name.parquet")

  /** True iff this scale factor carries the skew fixture (FIXTURES.md B6). */
  def isSkewSf(sfDir: String): Boolean =
    Paths.get(sfDir).getFileName.toString == "sf0.1"

  private def generate(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    import spark.implicits._

    val docs = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .select($"doc_id".cast("long"), $"text", $"lang", $"source")

    // Effective host: uniform source→host mapping, except the sf0.1 skew
    // fixture remaps ~40% of doc_ids onto one mega-publisher (B6).
    val withHost = docs
      .withColumn(
        "host",
        if (isSkewSf(sfDir))
          when(pmod(xxhash64($"doc_id"), lit(10)) < 4, lit(Constants.SkewHost))
            .otherwise(concat($"source", lit(".example.com")))
        else concat($"source", lit(".example.com")))
      .as[(Long, String, String, String, String)] // doc_id, text, lang, source, host

    // Article rows + alias rows (B1) + RECAPTURE rows (B8), html rendered by
    // the shared Parsers templates so extract(host, html) == text
    // byte-exactly by construction. Every article page embeds its
    // published-date <meta> in the host family's wire format (op 36).
    // Recaptures (doc_id % 7 == 3): the SAME raw url captured again 2 h
    // later with a revised body — the re-crawl case "latest capture wins"
    // exists for; the published date is content-level and does not change.
    val articleRows = withHost.flatMap { case (docId, text, lang, source, host) =>
      val family = FixtureConstants.familyOf(host)
      val url = s"https://$host/articles/$docId"
      val published = Constants.EPOCH.plusSeconds(docId * 60)
      val ts = Timestamp.from(published)
      val tickers = Constants.tickersOf(docId)
      val html = Parsers.renderArticle(family, s"Doc $docId", source, text, published, tickers)
      val base = Page(url, ts, html, text, lang)
      val alias =
        if (docId % 5 == 0) {
          val aliasTs = Timestamp.from(Constants.EPOCH.plusSeconds(docId * 60 + 30))
          Seq(Page(url + Constants.AliasSuffix, aliasTs, html, text, lang))
        } else Nil
      // Escaped-alias rows (B10): the same article under a gratuitously
      // %-escaped path — canonicalization's guarded unreserved decode must
      // collapse it onto the plain spelling (SURVEY §2 ops 7/41).
      val escAlias =
        if (docId % 11 == 7) {
          val escTs = Timestamp.from(Constants.EPOCH.plusSeconds(docId * 60 + 45))
          Seq(Page(s"https://$host/articles/${Constants.escapeDigits(docId)}",
            escTs, html, text, lang))
        } else Nil
      val recapture =
        if (docId % 7 == 3) {
          val text2 = text + " updated"
          val ts2 = Timestamp.from(Constants.EPOCH.plusSeconds(docId * 60 + 7200))
          Seq(Page(url, ts2,
            Parsers.renderArticle(family, s"Doc $docId", source, text2, published, tickers),
            text2, lang))
        } else Nil
      base +: (alias ++ escAlias ++ recapture)
    }

    // Listing (site-root) rows (B2): one per host, linking to that host's
    // first `ListingLinks` article urls by doc_id. text = "" (extract of a
    // listing page is "" — invariant B7.1 holds for every pages row).
    val firstUrls = withHost
      .map { case (docId, _, _, _, host) => (host, docId) }
      .toDF("host", "doc_id")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"host").orderBy($"doc_id")))
      .filter($"rn" <= Constants.ListingLinks)
      .groupBy($"host")
      .agg(sort_array(collect_list($"doc_id")).as("ids"))
      .as[(String, Seq[Long])]
    val listingRows = firstUrls.map { case (host, ids) =>
      val urls = ids.map(id => s"https://$host/articles/$id")
      Page(s"https://$host/", Constants.EpochTs, Parsers.renderListing(host, urls), "", "und")
    }

    write(articleRows.union(listingRows).toDF(), s"$outDir/pages.parquet")

    // Seeds (B2): per fixture host, articles/0 (often a dead seed — exercises
    // the fetch-miss path) + the listing root (drives link-extraction growth).
    val seeds = FixtureConstants.hosts.flatMap { h =>
      Seq(s"https://${h.host}/articles/0", s"https://${h.host}/")
    }
    write(seeds.toDF("url"), s"$outDir/seeds.parquet")

    // Robots (B3), source weights (B4), politeness budgets (B5) — frozen
    // derivations, see FixtureConstants.
    write(
      FixtureConstants.hosts
        .map(h => (h.host, FixtureConstants.disallowOf(h.host), h.crawlDelay))
        .toDF("host", "disallow", "crawl_delay"),
      s"$outDir/robots.parquet")
    write(
      FixtureConstants.hosts.map(h => (h.host, h.weight)).toDF("host", "weight"),
      s"$outDir/source_weights.parquet")
    write(
      FixtureConstants.hosts.map(h => (h.host, h.budget)).toDF("host", "budget"),
      s"$outDir/budgets.parquet")

    // Multimodal fixture (v5: REAL encoded payloads — BMP / WAV PCM / Y4M,
    // one library-free format per modality, content derived from the doc
    // text bytes): the pipeline's decoders (core.MediaCodecs) read the
    // dims/duration/frames back out of these bytes, so metadata and
    // payload agree by construction.
    val media = withHost.map { case (docId, text, _, _, _) =>
      val kind = Array("image", "audio", "video").apply((docId % 3).toInt)
      val fmt = Map("image" -> "bmp", "audio" -> "wav", "video" -> "y4m")(kind)
      val w = (16 + docId % 17).toInt
      val h = (16 + docId % 13).toInt
      val tb = text.getBytes("UTF-8")
      def cb(i: Int): Int =
        if (tb.isEmpty) (docId & 0xff).toInt else tb(i % tb.length) & 0xff
      val payload = kind match {
        case "image" =>
          MediaCodecs.encodeBmp(w, h,
            (x, y) => { val i = 3 * (y * w + x); (cb(i), cb(i + 1), cb(i + 2)) })
        case "audio" =>
          val n = (400 + docId % 256).toInt
          MediaCodecs.encodeWavPcm16(8000,
            Array.tabulate(n)(i => ((cb(i) - 128) * 128).toShort))
        case _ =>
          val frames = (2 + docId % 3).toInt
          MediaCodecs.encodeY4m(w, h, frames,
            (f, x, y) => cb(f * 31 + y * w + x))
      }
      MediaRow(docId, kind, payload, w, h, fmt)
    }
    write(media.toDF(), s"$outDir/media.parquet")
  }

  private def write(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)
}
