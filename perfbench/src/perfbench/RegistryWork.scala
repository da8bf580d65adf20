package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `registry_iter`: named `SparkEntry.queries` entries built on the
  * iteration and eager-job operators (FrontierEval and GlobalOrder in q192,
  * LinkGraph and Rounds in q216, Dedup in q31) over a seeded corpus. Each
  * entry is built — the `fn(spark, dir)` call, which runs the entry's
  * eager jobs — and its result written to parquet, one entry at a time.
  * Every written result is compared with the entry's DuckDB oracle
  * (`SparkEntry.oracleSql`) by `oracle_check.py`.
  *
  * Cold state: Spark's cache is cleared before each entry. None of the
  * entries reads the JVM-wide ngram-pair memo of PipelineQueries, a primed
  * crawl (q11/q12) or a `workDir/models` cache. */
final class RegistryWork(spark: SparkSession, work: String, seed: Long) extends Workload {
  private val Entries = Seq(
    "q192_harvest_curve", "q216_lpa_communities", "q31_minhash_pairs")
  private val Docs = 200

  private var sfDir = ""
  private val entries = SparkEntry.queries
  private val sqlFile = s"$work/oracle_sql.json"

  def prepare(rep: Int): Unit = {
    sfDir = s"$work/in/registry_s$rep"
    Files.createDirectories(Paths.get(sfDir))
    Inputs.writeDocs(spark, sfDir, Docs, seed)
  }

  def reference(): Unit = {
    val sql = Entries.map(e => e -> SparkEntry.oracleSql(e)).toMap.asJava
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(new java.io.File(sqlFile), sql)
  }

  def pass(tag: String, tr: Tracer): Pass = {
    val out = s"$work/registry_$tag"
    var wallS = 0.0
    val latMs = Entries.map { e =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val df = tr.span("SparkEntry.build")(entries(e)(spark, sfDir))
      tr.span("SparkEntry.action")(df.write.parquet(s"$out/$e"))
      val s = (System.nanoTime() - t0) / 1e9
      Main.log(f"$e $s%.2f s")
      wallS += s
      s * 1e3
    }
    spark.catalog.clearCache()
    outs += out
    Pass(wallS, Entries.size.toDouble, wallS, latMs, Inputs.dirBytes(out), ops = Entries.size,
      check = () => oracleCheck(out),
      release = () => Inputs.deleteRecursively(out))
  }

  /** Entries of each pass's results that match their oracle. One
    * `oracle_check.py` run covers every pass made so far; checks run after
    * the last pass. */
  private val outs = mutable.ArrayBuffer.empty[String]
  private val matched = mutable.Map.empty[String, Int]

  private def oracleCheck(out: String): Int = {
    if (!matched.contains(out)) {
      val script = sys.props("perfbench.oracleCheck")
      val p = new ProcessBuilder(
        (Seq("python3", script, s"$sfDir/documents.parquet", sqlFile) ++ outs).asJava)
        .redirectError(ProcessBuilder.Redirect.INHERIT).start()
      val report = new String(p.getInputStream.readAllBytes(), "UTF-8").linesIterator.toSeq
      val rc = p.waitFor()
      report.filterNot(_.endsWith(" OK")).foreach(l => Main.log(s"oracle: $l"))
      for (o <- outs)
        matched(o) = if (rc != 0) 0 else report.count(l => l.startsWith(o + " ") && l.endsWith(" OK"))
    }
    Entries.size - matched(out)
  }
}
