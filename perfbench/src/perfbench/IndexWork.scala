package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ScalingBench
import graft.ml.Search

/** `index_live`: the persisted inverted index under writes and reads.
  * Over `ScalingBench.ensureXlDocs` replicas of a seeded corpus, one pass
  * runs `saveIndex`, then `Updates` × (`updateIndex` + a query round),
  * then `deleteDocs`, `compactIndex` and a final query round. A round is
  * `QuerySets` parameter sets of each of `bm25ScoresFromIndex`,
  * `phraseDocsFromIndex`, `booleanDocsFromIndex` and
  * `prefixSuggestFromIndex`, issued one at a time by a single client that
  * collects each result before sending the next (a closed loop).
  *
  * The seed picks the corpus, the update and delete split, and the query
  * terms (sampled from the replicas' `_<rep>`-suffixed vocabulary). Every
  * result is checked against the corpus-scan operator on the documents
  * indexed at that point (`bm25Scores`, `phraseDocs`, `booleanDocs`,
  * `prefixSuggest`). */
final class IndexWork(spark: SparkSession, work: String, seed: Long) extends Workload {
  private val BaseDocs = 300
  private val Replicas = 4
  private val Updates = 1
  private val QuerySets = 1
  private val PrefixK = 10

  private sealed trait Query
  private final case class Bm25(terms: Seq[String]) extends Query
  private final case class Phrase(phrase: String) extends Query
  private final case class Bool(must: Seq[String], mustNot: Seq[String]) extends Query
  private final case class Prefix(prefix: String) extends Query

  private var splitDir = ""
  private var queries: Seq[Query] = Nil
  private var indexedDocs = 0L
  private var expected: Seq[Seq[Seq[String]]] = Nil // round -> query -> result
  private var tracedHits = 0L

  private def split(name: String): DataFrame = spark.read.parquet(s"$splitDir/part=$name")
  private def segment(j: Int): String = s"seg$j"

  def prepare(rep: Int): Unit = {
    val sfDir = s"$work/in/index_s$rep"
    Files.createDirectories(Paths.get(sfDir))
    Inputs.writeDocs(spark, sfDir, BaseDocs, seed)
    val xlDir = ScalingBench.ensureXlDocs(spark, sfDir, Replicas)
    val docs = spark.read.parquet(s"$xlDir/documents.parquet").select("doc_id", "text")
    splitDir = s"$sfDir/split"
    // Seeded split: ~55% in the first build, the rest in `Updates` equal
    // segments; ~2% of all documents are deleted before the compaction.
    val bucket = pmod(xxhash64(col("doc_id"), lit(seed)), lit(100)) - 55
    val seg = when(bucket < 0, lit("initial"))
      .otherwise(concat(lit("seg"), (floor(bucket * Updates / 45) + 1).cast("string")))
    docs.withColumn("part", seg).write.partitionBy("part").parquet(splitDir)
    docs.filter(pmod(xxhash64(col("doc_id"), lit(seed + 1)), lit(50)) === 0)
      .select("doc_id").write.parquet(s"$splitDir/part=deleted")
    indexedDocs = docs.count()

    val rnd = new java.util.SplittableRandom(seed)
    def word(): String = Inputs.Vocab(rnd.nextInt(Inputs.Vocab.size - 1))
    def tokens(n: Int): Seq[String] = {
      val r = rnd.nextInt(Replicas)
      Seq.fill(n)(s"${word()}_$r")
    }
    queries = (1 to QuerySets).flatMap { _ =>
      Seq(Bm25(tokens(3).distinct), Phrase(tokens(2).mkString(" ")),
        Bool(tokens(2).distinct, tokens(1)), Prefix(word().take(2)))
    }
  }

  private def docsAt(round: Int): DataFrame = {
    val segs = ("initial" +: (1 to math.min(round, Updates)).map(segment)).map(split)
    val all = segs.reduce(_ unionByName _)
    if (round <= Updates) all else all.join(split("deleted"), Seq("doc_id"), "left_anti")
  }

  private def fromIndex(path: String, q: Query): DataFrame = q match {
    case Bm25(t) => Search.bm25ScoresFromIndex(spark, path, t)
    case Phrase(p) => Search.phraseDocsFromIndex(spark, path, p)
    case Bool(m, n) => Search.booleanDocsFromIndex(spark, path, m, n)
    case Prefix(p) => Search.prefixSuggestFromIndex(spark, path, p, PrefixK)
  }

  private def fromScan(docs: DataFrame, q: Query): DataFrame = q match {
    case Bm25(t) => Search.bm25Scores(docs, t)
    case Phrase(p) => Search.phraseDocs(docs, p)
    case Bool(m, n) => Search.booleanDocs(docs, m, n)
    case Prefix(p) => Search.prefixSuggest(docs, p, PrefixK)
  }

  /** A result as comparable strings: sets sorted, the top-k in its order. */
  private def normalize(q: Query, rows: Array[Row]): Seq[String] = {
    val s = rows.toSeq.map(_.toSeq.mkString("|"))
    q match { case _: Prefix => s; case _ => s.sorted }
  }

  def reference(): Unit =
    expected = (1 to Updates + 1).map { round =>
      val docs = docsAt(round).cache()
      try queries.map(q => normalize(q, fromScan(docs, q).collect()))
      finally docs.unpersist()
    }

  /** A build and one query round: warms the read path the latency
    * metric times. */
  override def warm(): Pass = {
    val path = s"$work/index_warm"
    Search.saveIndex(split("initial"), path)
    queries.foreach(q => fromIndex(path, q).collect())
    Pass(0, 0, 0, Nil, 0, ops = 0, check = () => 0, release = () => Inputs.deleteRecursively(path))
  }

  def pass(tag: String, tr: Tracer): Pass = {
    val path = s"$work/index_$tag"
    val latMs = Seq.newBuilder[Double]
    val got = Seq.newBuilder[Seq[Seq[String]]]
    def round(): Unit = got += queries.map { q =>
      val t0 = System.nanoTime()
      val rows = tr.span("Search.query")(fromIndex(path, q).collect())
      latMs += (System.nanoTime() - t0) / 1e6
      if (!(tr eq Tracer.Off)) tracedHits += rows.length
      normalize(q, rows)
    }
    val t0 = System.nanoTime()
    var indexS = Main.timed(tr.span("Search.saveIndex")(Search.saveIndex(split("initial"), path)))
    for (j <- 1 to Updates) {
      indexS += Main.timed(tr.span("Search.updateIndex")(
        Search.updateIndex(spark, path, split(segment(j)))))
      round()
    }
    tr.span("Search.deleteDocs")(Search.deleteDocs(spark, path, split("deleted")))
    tr.span("Search.compactIndex")(Search.compactIndex(spark, path))
    round()
    val wallS = (System.nanoTime() - t0) / 1e9

    val results = got.result()
    Pass(wallS, indexedDocs.toDouble, indexS, latMs.result(), Inputs.dirBytes(path),
      ops = results.map(_.size).sum,
      check = () => results.zip(expected).map { case (g, e) =>
        g.zip(e).count { case (a, b) => a != b }
      }.sum,
      release = () => Inputs.deleteRecursively(path))
  }

  override def tracedExtras(layers: mutable.Map[String, Counters]): Map[String, Double] = {
    val q = layers.getOrElse("Search.query", new Counters)
    Map("Search.query.rows_read_per_hit" -> (if (tracedHits > 0) q.rowsIn / tracedHits else 0.0))
  }
}
