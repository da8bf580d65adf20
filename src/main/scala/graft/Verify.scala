package graft
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [nameRegex] — the optional regex restricts the dump
    // to matching query names (local iteration aid; the driver passes 2 args).
    val sfDir = args(0)
    val outDir = args(1)
    val nameFilter = args.lift(2).map(_.r)
    def selected(name: String): Boolean =
      nameFilter.forall(_.findFirstIn(name).isDefined)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (4 * cpus.toInt).toString) // BENCH.md §6d
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new java.io.File(s"$outDir/oracle_sql.json"), SparkEntry.oracleSql.asJava)
    spark.stop()
  }
}
