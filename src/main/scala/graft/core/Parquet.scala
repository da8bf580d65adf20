package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType

/** Parquet table reads that submit no Spark job.
  *
  * `spark.read.parquet` without a schema infers one with a one-task Spark
  * job that reads a single footer. [[read]] reads the same footer on the
  * driver and hands Spark the schema, so opening a table costs a file
  * listing and one footer read. The files stay the only record of a
  * table's schema: nothing is cached or stored beside them. */
object Parquet {

  /** `spark.read.parquet(paths: _*)`, with the schema [[schema]] finds. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    schema(spark, paths) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** The schema Spark's non-merging inference gives `paths`: the footer
    * schema of the first data file, by full path, among the files at or
    * directly under each path. None where Spark must decide itself and
    * raise its own errors: schema merging is on, a path is a glob, is
    * missing or is partitioned, or no path holds a data file. */
  def schema(spark: SparkSession, paths: Seq[String]): Option[StructType] =
    if (paths.exists(isGlob) || spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean) None
    else {
      val conf = Bridge.hadoopConf(spark)
      val files = paths.map(p => dataFiles(new Path(p), conf))
      if (files.contains(None)) None
      else files.flatten.flatten.minByOption(_.getPath.toString)
        .map(Bridge.parquetFileSchema(spark, conf, _))
    }

  // SparkHadoopUtil.isGlobPath's characters.
  private def isGlob(p: String): Boolean = p.exists("{}[]*?\\".contains(_))

  /** The data files at `path`: itself when it is a file, else its
    * children, skipping hidden names (`_SUCCESS`, `.crc` files). None when
    * the path is missing or holds a visible subdirectory, whose partition
    * columns Spark would discover. The engine writes no `_metadata`
    * summary files, which Spark would read first. */
  private def dataFiles(path: Path, conf: Configuration): Option[Seq[FileStatus]] = {
    val fs = path.getFileSystem(conf)
    val st = try fs.getFileStatus(fs.makeQualified(path))
      catch { case _: java.io.FileNotFoundException => return None }
    if (st.isFile) Some(Seq(st))
    else {
      val visible = fs.listStatus(st.getPath).toSeq
        .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
      if (visible.exists(_.isDirectory)) None else Some(visible)
    }
  }
}
