package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.core.{Constants, Fixtures}

/** Optimization-round plan artifacts: dumps `explain("formatted")` for the
  * selected SparkEntry queries into `<SPARK_GRAFT_PLAN_DIR>/<name>_<suffix>.txt`
  * (default `<Constants.workDir>/plans`, outside the checkout) so
  * plan claims are auditable without running Spark. The round-6 dumps that
  * OPTIMIZATION_r06.md cites are in commit 0a427bc under plans/r06/.
  *
  * Usage: `sbt "runMain graft.PlanDump <regex> <suffix>"` — e.g.
  * `runMain graft.PlanDump "q193_|q189_" before`. Mirrors Bench's session
  * config (AQE on, 4x-cores shuffle partitions) so the dumped initial plans
  * are the ones the bench actually starts from. Streaming entries (q170-
  * q175) execute a drain inside the entry function; their "plan" here is
  * the post-drain relation, so for those the micro-batch structure is
  * documented in OPTIMIZATION_r06.md instead and they are skipped by the
  * default regex.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val pattern = args.headOption.getOrElse("q193_").r
    val suffix = if (args.length > 1) args(1) else "before"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (4 * cpus.toInt).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Fixtures.ensure(spark, sfDir)
    val outDir = Paths.get(sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", s"${Constants.workDir}/plans"))
    Files.createDirectories(outDir)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => pattern.findFirstIn(name).isDefined }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
          Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), txt)
          println(s"[plandump] wrote ${name}_$suffix.txt")
        } catch {
          case e: Throwable => System.err.println(s"[plandump] $name failed: $e")
        }
      }
    spark.stop()
  }
}
