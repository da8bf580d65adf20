package graft.operators

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.core.Constants

/** Snapshot-directory checkpoints — SURVEY.md §2 op 5.
  *
  * Iceberg is absent from this sandbox, so Iceberg-style snapshot semantics
  * are realized manually: per batch k the loop writes the full state
  * snapshots under `snap=k/` and the append deltas under `articles/b<k>/`
  * etc., then — LAST — publishes a one-line manifest
  * `checkpoints/<k>.json`. A reader takes the max committed manifest; a job
  * killed between the data writes and the manifest commit leaves snapshot k
  * invisible, and the rerun of batch k overwrites it byte-identically
  * (exactly-once resume, E2 / SURVEY.md §3, tested by ResumeSpec).
  *
  * At cluster scale the same protocol holds on any HDFS-compatible FS:
  * manifest creation is a single-file atomic visibility point.
  */
object Checkpoints {

  /** Per-batch manifest. The `*Total` fields are CUMULATIVE across batches
    * 1..k so a resumed run restores its running totals from the last
    * committed manifest alone (no re-summing of per-batch manifests). */
  final case class Manifest(batchId: Long, articleCount: Long, scheduled: Long,
      fetched: Long, parsed: Long,
      scheduledTotal: Long = 0L, fetchedTotal: Long = 0L, parsedTotal: Long = 0L)

  def stateDir(runTag: String): String = s"${Constants.workDir}/state/$runTag"

  def snapDir(dir: String, k: Long): String = s"$dir/snap=$k"

  /** Highest committed batch id, or None for a fresh run. */
  def lastCommitted(dir: String): Option[Long] = {
    val cp = Paths.get(dir, "checkpoints")
    if (!Files.isDirectory(cp)) return None
    val ids = scala.util.Using.resource(Files.list(cp)) { stream =>
      stream.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.endsWith(".json") => s.stripSuffix(".json").toLong }
        .toSeq
    }
    if (ids.isEmpty) None else Some(ids.max)
  }

  def readManifest(dir: String, k: Long): Manifest = {
    val s = Files.readString(Paths.get(dir, "checkpoints", s"$k.json"))
    def field(src: String, name: String): Long =
      s"""\"$name\"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(src).map(_.group(1).toLong).getOrElse(0L)
    val base = Manifest(field(s, "batch_id"), field(s, "article_count"),
      field(s, "scheduled"), field(s, "fetched"), field(s, "parsed"),
      field(s, "scheduled_total"), field(s, "fetched_total"), field(s, "parsed_total"))
    // Backward compat: pre-upgrade manifests (no *_total fields) would
    // silently restore ZERO running totals on resume. The per-batch fields
    // were always present, so the cumulative values are recoverable by
    // summing manifests 1..k — done once here, at resume time only.
    if (s.contains("\"scheduled_total\"")) base
    else {
      var (st, ft, pt) = (0L, 0L, 0L)
      for (i <- 1L to k) {
        val p = Paths.get(dir, "checkpoints", s"$i.json")
        if (Files.exists(p)) {
          val mi = Files.readString(p)
          st += field(mi, "scheduled"); ft += field(mi, "fetched"); pt += field(mi, "parsed")
        }
      }
      base.copy(scheduledTotal = st, fetchedTotal = ft, parsedTotal = pt)
    }
  }

  /** Write state snapshots + append deltas for batch k. NOT yet visible —
    * visibility is gated solely by [[commitManifest]] (manifest-LAST).
    * `seenDelta` is append-only (see CrawlLoop scale notes). */
  def writeState(
      spark: SparkSession,
      dir: String,
      k: Long,
      frontier: DataFrame,
      seenDelta: DataFrame,
      seenShards: DataFrame,
      articlesDelta: DataFrame,
      fetchLogDelta: DataFrame,
      hostLogDelta: DataFrame,
      compact: Boolean = true): Unit =
    writeState(spark, dir, k, frontier, seenDelta, Some(seenShards),
      articlesDelta, fetchLogDelta, hostLogDelta, compact)

  /** Same, with the `snap=k/seen_shards` snapshot optional. CrawlLoop
    * writes none: its filter is built at seen compaction ([[compactSeen]]). */
  def writeState(
      spark: SparkSession,
      dir: String,
      k: Long,
      frontier: DataFrame,
      seenDelta: DataFrame,
      seenShards: Option[DataFrame],
      articlesDelta: DataFrame,
      fetchLogDelta: DataFrame,
      hostLogDelta: DataFrame,
      compact: Boolean): Unit = {
    val snap = snapDir(dir, k)
    // The pre-manifest writes are independent — submit them as
    // concurrent Spark jobs.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val writes = Seq(
      () => write(frontier, s"$snap/frontier", compact),
      () => write(seenDelta, s"$dir/seen/b$k", compact),
      () => write(articlesDelta, s"$dir/articles/b$k", compact),
      () => write(fetchLogDelta, s"$dir/fetch_log/b$k", compact),
      () => write(hostLogDelta, s"$dir/host_log/b$k", compact = true)) ++
      seenShards.map(sh => () => write(sh, s"$snap/seen_shards", compact = true))
    Await.result(Future.sequence(writes.map(w => Future(w()))), Duration.Inf)
  }

  /** (scheduled, fetched, parsed, articles) of batch k, summed from the
    * just-written (tiny) host_log + fetch_log deltas. Since round 4 the
    * LIVE loop gets these from observe() metrics collected by the write
    * jobs themselves (CrawlLoop — zero extra jobs); this read-back path
    * remains for resume-time recovery and pre-upgrade state dirs. */
  def batchCounts(spark: SparkSession, dir: String, k: Long): (Long, Long, Long, Long) = {
    import org.apache.spark.sql.functions.sum
    val flog = spark.read.parquet(s"$dir/fetch_log/b$k")
    def at(r: org.apache.spark.sql.Row, i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    // Backward compat: pre-upgrade fetch_log deltas lack urls_article — the
    // article count is then the (equally tiny) articles delta's row count.
    val (fetched, parsed, nArticles) =
      if (flog.columns.contains("urls_article")) {
        val f = flog.agg(sum("urls_fetched"), sum("urls_parsed"), sum("urls_article")).head()
        (at(f, 0), at(f, 1), at(f, 2))
      } else {
        val f = flog.agg(sum("urls_fetched"), sum("urls_parsed")).head()
        // A zero-article batch written by an older writer may have no
        // articles delta at all — a missing dir means 0, not a failed resume.
        val artDir = Paths.get(s"$dir/articles/b$k")
        val nArt =
          if (Files.isDirectory(artDir)) spark.read.parquet(artDir.toString).count()
          else 0L
        (at(f, 0), at(f, 1), nArt)
      }
    val h = spark.read.parquet(s"$dir/host_log/b$k")
      .agg(sum("urls_scheduled"))
      .head()
    (at(h, 0), fetched, parsed, nArticles)
  }

  /** Publish batch k: the manifest write is the atomic visibility point. */
  def commitManifest(dir: String, m: Manifest): Unit = {
    val cp = Paths.get(dir, "checkpoints")
    Files.createDirectories(cp)
    val json =
      s"""{"batch_id":${m.batchId},"article_count":${m.articleCount},""" +
        s""""scheduled":${m.scheduled},"fetched":${m.fetched},"parsed":${m.parsed},""" +
        s""""scheduled_total":${m.scheduledTotal},"fetched_total":${m.fetchedTotal},""" +
        s""""parsed_total":${m.parsedTotal}}"""
    val tmp = cp.resolve(s"${m.batchId}.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, cp.resolve(s"${m.batchId}.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  // With compact=true (the politeness-bounded micro-batch norm) each state
  // delta collapses to one file, keeping the many-small-files tax off the
  // per-batch union reads; compact=false keeps the write parallel for
  // stress/scale batches.
  private def write(df: DataFrame, path: String, compact: Boolean = true): Unit =
    (if (compact) df.coalesce(1) else df).write.mode(SaveMode.Overwrite).parquet(path)

  def readSnap(spark: SparkSession, dir: String, k: Long, name: String): DataFrame =
    spark.read.parquet(s"${snapDir(dir, k)}/$name")

  /** The parquet table at `path`, or None when no write of it committed
    * (no `_SUCCESS` marker): absent, torn, or from an older state layout. */
  def readCommitted(spark: SparkSession, path: String): Option[DataFrame] =
    if (Files.exists(Paths.get(path, "_SUCCESS"))) Some(spark.read.parquet(path)) else None

  /** Union of all committed per-batch appends under `dir/<table>/b*`. */
  def readAppends(spark: SparkSession, dir: String, table: String, upTo: Long): DataFrame = {
    val paths = (1L to upTo).map(k => s"$dir/$table/b$k")
      .filter(p => Files.exists(Paths.get(p)))
    require(paths.nonEmpty, s"no committed appends for $table in $dir")
    spark.read.parquet(paths: _*)
  }

  // ------------------------------------------------------------------
  // Seen-set compaction (round 4). The seen table is append-only — O(k)
  // file sources per batch read, O(k²) cumulative over a run. At a
  // 10^10-URL crawl's batch count that is the slow leak: every K batches
  // the committed deltas are folded into a snapshot `seen_compact/c<k>`
  // and the deltas it covers are released. Crash-safe without touching the
  // manifest protocol: the parquet _SUCCESS marker is the compaction's
  // commit point, a torn write is simply ignored by readers, and re-running
  // the compaction overwrites it. Readers pinned at upTo ∈ [k-K, k)
  // (e.g. the rerun of a killed batch) still resolve: the PREVIOUS
  // compaction and the last K deltas are always retained.
  //
  // A compaction may carry the Bloom shard table that summarizes it,
  // `seen_compact_bloom/c<k>`, written BEFORE the rows: a visible
  // compaction therefore never lacks the table it was built with. Tables
  // are optional — compactions from before they existed, or from runs with
  // the filter tier off (`useBloom = false`), have none. The directory name
  // records the filter family. Tables under the older
  // `seen_compact_shards/c<k>` may hold either of two families' bytes, so
  // they are never read (their compactions are probed exactly) and the
  // next compaction deletes them.
  // ------------------------------------------------------------------

  def compactDir(dir: String, j: Long): String = s"$dir/seen_compact/c$j"

  private val ShardsTable = "seen_compact_bloom"
  private val LegacyShardsTable = "seen_compact_shards"

  def compactShardsDir(dir: String, j: Long): String = s"$dir/$ShardsTable/c$j"

  /** Ids j of every `c<j>` entry under `dir/<table>`, committed or not. */
  private def listCompactions(dir: String, table: String): Seq[Long] = {
    val cp = Paths.get(dir, table)
    if (!Files.isDirectory(cp)) return Nil
    scala.util.Using.resource(Files.list(cp)) { stream =>
      stream.iterator().asScala
        .map(_.getFileName.toString)
        .flatMap(s => if (s.startsWith("c")) s.drop(1).toLongOption else None)
        .toSeq
    }
  }

  private def compactionIds(dir: String): Seq[Long] =
    listCompactions(dir, "seen_compact")
      .filter(j => Files.exists(Paths.get(compactDir(dir, j), "_SUCCESS")))

  /** The newest committed compaction at or below batch `upTo`: the base
    * of the effective seen set there. */
  def seenBase(dir: String, upTo: Long): Option[Long] =
    compactionIds(dir).filter(_ <= upTo).maxOption

  private def deltaPaths(dir: String, base: Option[Long], upTo: Long): Seq[String] =
    (base.fold(1L)(_ + 1) to upTo).map(k => s"$dir/seen/b$k")
      .filter(p => Files.exists(Paths.get(p)))

  /** Seen deltas committed after compaction `base` up to batch `upTo`, or
    * None when there are none. */
  def readSeenRecent(spark: SparkSession, dir: String, base: Long,
      upTo: Long): Option[DataFrame] = {
    val paths = deltaPaths(dir, Some(base), upTo)
    if (paths.isEmpty) None else Some(spark.read.parquet(paths: _*))
  }

  /** Effective seen rows up to batch `upTo`: the base compaction
    * ([[seenBase]]) plus the deltas after it, in one scan. Falls back to
    * the plain delta union (pre-compaction dirs read unchanged). */
  def readSeen(spark: SparkSession, dir: String, upTo: Long): DataFrame = {
    val base = seenBase(dir, upTo)
    val paths = base.map(compactDir(dir, _)).toSeq ++ deltaPaths(dir, base, upTo)
    require(paths.nonEmpty, s"no committed appends for seen in $dir")
    spark.read.parquet(paths: _*)
  }

  /** Fold the effective seen set at batch k into `seen_compact/c<k>`, then
    * release deltas (and compactions) no reader can still need: any live
    * reader has upTo ≥ k-1 ≥ k-every, so deltas ≤ k-every (covered by the
    * PREVIOUS compaction) and compactions < k-every are dead — rows and
    * shard tables alike, committed or torn, and every legacy
    * `seen_compact_shards` table. Call after commitManifest(k).
    *
    * With `buildShards`, the shard table summarizing the compacted rows is
    * built from the same effective frame and committed first. Without it,
    * any table an earlier run of this compaction left is removed, so a
    * table never describes rows it was not built from. */
  def compactSeen(spark: SparkSession, dir: String, k: Long, every: Int,
      buildShards: Option[DataFrame => DataFrame] = None): Unit = {
    val effective = readSeen(spark, dir, k)
    buildShards match {
      case Some(build) => write(build(effective.select("url_hash")), compactShardsDir(dir, k))
      case None => deleteRecursively(compactShardsDir(dir, k))
    }
    effective.write.mode(SaveMode.Overwrite).parquet(compactDir(dir, k))
    for (i <- 1L to (k - every))
      deleteRecursively(s"$dir/seen/b$i")
    for (j <- listCompactions(dir, "seen_compact") if j < k - every)
      deleteRecursively(compactDir(dir, j))
    for (j <- listCompactions(dir, ShardsTable) if j < k - every)
      deleteRecursively(compactShardsDir(dir, j))
    deleteRecursively(s"$dir/$LegacyShardsTable")
  }

  def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  def deleteRecursively(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      scala.util.Using.resource(Files.walk(p)) { stream =>
        stream.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
    }
  }
}
