package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession

/** Generated `documents` tables in the shape of the engine's testdata
  * (doc_id:int64, text:string, lang:string, source:string, n_chars:int64):
  * texts of 10–100 tokens drawn uniformly from the testdata's 31-word
  * vocabulary, source `src<doc_id % 20>`, the testdata's language mix, and
  * ~5% near-duplicates (an earlier text plus one or two " dup" tokens).
  * Every value is a pure function of (n, seed). */
object Inputs {

  val Vocab: Vector[String] = Vector(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window", "dup")

  private val Langs = Vector("en" -> 41, "zh" -> 15, "es" -> 15, "fr" -> 15, "de" -> 14)

  /** Writes `<sfDir>/documents.parquet` as a single parquet FILE, the
    * testdata layout (the engine's fixture caches fingerprint the files of
    * an sf directory). */
  def writeDocs(spark: SparkSession, sfDir: String, n: Int, seed: Long): Unit = {
    import spark.implicits._
    val rnd = new java.util.SplittableRandom(seed)
    val words = Vocab.init // "dup" only marks near-duplicates
    val texts = new Array[String](n)
    val rows = (0 until n).map { i =>
      texts(i) =
        if (i > 10 && rnd.nextInt(100) < 5)
          texts(rnd.nextInt(i)) + " dup" * (1 + rnd.nextInt(2))
        else Iterator.fill(10 + rnd.nextInt(91))(words(rnd.nextInt(words.size))).mkString(" ")
      var pick = rnd.nextInt(100)
      val lang = Langs.find { case (_, w) => pick -= w; pick < 0 }.get._1
      (i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
    val tmp = s"$sfDir/_documents_tmp"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = scala.util.Using.resource(Files.list(Paths.get(tmp)))(
      _.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get())
    Files.move(part, Paths.get(sfDir, "documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    deleteRecursively(tmp)
  }

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) { s =>
      s.filter(Files.isRegularFile(_)).mapToLong((f: Path) => Files.size(f)).sum()
    }
  }

  def deleteRecursively(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
}
