package org.apache.spark.sql.execution.datasources.parquet

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.HadoopFSUtils

/** The one parquet read path of the library. `spark.read.parquet` infers
  * the schema with a one-task Spark job (footers are read on an executor);
  * here the driver reads the footer of the first data file itself and
  * converts it with the converter and session conf that inference uses
  * ([[ParquetFileFormat.readSchema]]: the Spark row-metadata key,
  * `binaryAsString`, INT96), then reads with that schema. Resolving a
  * relation therefore starts no Spark job. Lives in this package because
  * `readSchema` is `private[parquet]`.
  */
object GraftParquet {

  /** `spark.read.parquet(paths: _*)`, with the schema Spark's inference
    * would find. The first path in sorted order supplies it: the file
    * itself, or for a directory its first file in sorted order among those
    * Spark's file index lists (it skips `_…` and `.…` names), subdirectories
    * left out. Where no footer can supply it (missing path, glob, a
    * directory without a data file at its top level,
    * `spark.sql.parquet.mergeSchema` on), this is the plain inferring read,
    * with its errors.
    */
  def read(spark: SparkSession, paths: String*): DataFrame = {
    val conf = spark.sessionState.conf
    val schema =
      if (conf.isParquetSchemaMergingEnabled) None
      else {
        val hconf = spark.sessionState.newHadoopConf()
        firstDataFile(hconf, paths).flatMap(f => ParquetFileFormat.readSchema(
          ParquetFileFormat.readParquetFootersInParallel(hconf, Seq(f),
            conf.ignoreCorruptFiles), spark))
      }
    schema.fold(spark.read)(s => spark.read.schema(s)).parquet(paths: _*)
  }

  private def firstDataFile(hconf: org.apache.hadoop.conf.Configuration,
      paths: Seq[String]): Option[FileStatus] =
    paths.minOption.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(hconf)
      try {
        val st = fs.getFileStatus(path)
        if (!st.isDirectory) Some(st)
        else fs.listStatus(path).iterator
          .filter(f => f.isFile &&
            !HadoopFSUtils.shouldFilterOutPathName(f.getPath.getName))
          .minByOption(_.getPath.toString)
      } catch { case _: FileNotFoundException => None }
    }
}
