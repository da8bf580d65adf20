package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Constants, Fixtures}

/** Replicated-corpus input for scaling-sized index and dedup work. The
  * object keeps its name because perfbench's `index_live` workload calls
  * [[ensureXlDocs]]. */
object ScalingBench {

  /** Write a replicated XL documents table once (untimed input setup):
    * each replica's tokens carry a `_<rep>` suffix, so token sets are
    * DISJOINT across replicas — the near-dup structure (and the pair
    * count) scales linearly with R instead of quadratically, and work over
    * it keeps the real op's profile (tokenize + 128-hash signatures + band
    * join + exact verify). */
  def ensureXlDocs(spark: SparkSession, sfDir: String, r: Int): String = {
    // Keyed by sf basename: documents come straight from the (static)
    // testdata, so no FixtureVersion component is needed.
    val sfName = java.nio.file.Paths.get(sfDir).getFileName
    val xlDir = s"${Constants.workDir}/fixtures/xl_docs_${sfName}_r$r"
    val marker = java.nio.file.Paths.get(xlDir, "_ALL_DONE")
    // Marker carries the SOURCE fingerprint (same rule as Fixtures.ensure):
    // a replicated cache is only trusted for the exact testdata it was
    // built from.
    val fp = Fixtures.sourceFingerprint(sfDir)
    if (!java.nio.file.Files.exists(marker) ||
        java.nio.file.Files.readString(marker) != fp) {
      val suffix = udf { (text: String, rep: Int) =>
        if (text == null) null
        else text.split(' ').map(_ + "_" + rep).mkString(" ")
      }
      spark.read.parquet(s"$sfDir/documents.parquet")
        .withColumn("rep", explode(sequence(lit(0), lit(r - 1))))
        .select(
          (col("doc_id") + col("rep").cast("long") * 1000000000L).as("doc_id"),
          suffix(col("text"), col("rep")).as("text"),
          col("lang"), col("source"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$xlDir/documents.parquet")
      java.nio.file.Files.writeString(marker, fp)
    }
    xlDir
  }
}
