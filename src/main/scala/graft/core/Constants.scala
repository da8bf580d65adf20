package graft.core

import java.sql.Timestamp
import java.time.Instant

/** Engine-wide pinned constants.
  *
  * Everything time- or randomness-shaped is pinned here so that every run, at
  * every parallelism level, on every scale factor, produces byte-identical
  * results (SURVEY.md §7 gotcha 3: "every 'now' a pinned literal").
  *
  * Reference provenance: /root/reference was empty at survey time (SURVEY.md
  * §0); the operative spec is BASELINE.json north_rule + FIXTURES.md.
  */
object Constants {
  /** Capture-timestamp epoch for synthesized pages (FIXTURES.md B1). */
  val EPOCH: Instant = Instant.parse("2024-01-01T00:00:00Z")
  val EpochTs: Timestamp = Timestamp.from(EPOCH)

  /** Pinned "now" used by the priority decay — never wall-clock. */
  val NOW: Instant = Instant.parse("2024-03-01T00:00:00Z")
  val NowEpochSec: Long = NOW.getEpochSecond

  /** Per-second recency decay of the priority score (FIXTURES.md B). */
  val Lambda: Double = 1.0e-7

  /** Number of Bloom-filter shards in the partitioned seen-set.
    * At the 10^10-URL design scale each shard holds ~1.6e8 keys; a shard blob
    * at 1% fpp is ~190 MB — NUM_SHARDS is the knob that keeps a single shard
    * broadcastable/mergeable. 64 suffices for the test scales and exercises
    * the same partitioned layout the large cluster would use (with a larger
    * shard count there).
    */
  val NumShards: Int = 64

  /** Expected insertions per Bloom shard at test scale + target fpp. */
  val BloomExpectedPerShard: Long = 100000L
  val BloomFpp: Double = 0.01

  /** Number of links a listing (root) page exposes (FIXTURES.md B2). */
  val ListingLinks: Int = 10

  /** Skew fixture (FIXTURES.md B6): at sf0.1, doc_ids with
    * pmod(xxhash64(doc_id), 10) < 4 are remapped onto this host. */
  val SkewHost: String = "src0.example.com"

  /** Suffix appended to alias rows (canonicalization fodder, FIXTURES.md B1). */
  val AliasSuffix: String = "?utm_source=feed&utm_campaign=x#frag"

  /** %-escape every digit of a doc id ("%31%38" for 18) — the escaped-alias
    * fixture rows (FIXTURES.md B10, doc_id % 11 == 7): gratuitously-escaped
    * spellings of an article url that canonicalization's guarded unreserved
    * decode must collapse onto the plain spelling. Digits escape as
    * "%3<digit>" ('0'..'9' = 0x30..0x39), which the DuckDB oracle mirrors
    * with a single backreference regexp. */
  def escapeDigits(docId: Long): String =
    docId.toString.flatMap(c => s"%3$c")

  /** Ticker-symbol universe for the entity-extraction fixture (FIXTURES.md
    * B9): article doc_id carries 1 + (doc_id % 3) tickers, the j-th being
    * Tickers((doc_id + 7·j) % 12) — 7·j is injective mod 12 for j ∈ 0..2,
    * so a page's tickers are always distinct. Mirrors the reference's
    * per-article ticker attachment (news feeds tag symbols). */
  val Tickers: Vector[String] = Vector(
    "AAPL", "MSFT", "GOOG", "AMZN", "TSLA", "NVDA",
    "META", "NFLX", "INTC", "AMD", "IBM", "ORCL")

  def tickersOf(docId: Long): Seq[String] =
    (0L to docId % 3).map(j => Tickers(((docId + 7 * j) % 12).toInt))

  /** Fixture layout version — bump to invalidate cached generated fixtures.
    * v3: article pages carry an `article:tickers` meta (entity extraction).
    * v4: %-escaped alias rows (doc_id % 11 == 7) exercise the guarded
    * unreserved percent-decode in canonicalization.
    * v5: media payloads are REAL encoded BMP/WAV/Y4M bytes (MediaCodecs)
    * instead of raw text bytes; formats bmp/wav/y4m, dims 16+id%17 ×
    * 16+id%13. */
  val FixtureVersion: Int = 5

  /** Root for generated fixtures / crawl state. Overridable for tests. */
  def workDir: String = sys.env.getOrElse("GRAFT_WORK_DIR", "/tmp/graft")
}
