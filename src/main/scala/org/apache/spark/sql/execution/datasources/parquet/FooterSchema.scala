package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The schema Spark's non-merging parquet inference would give a read of
  * one or more root paths, read from one footer on the driver. Spark's
  * inference reads the same footer with a Spark job of its own; passing
  * this schema to the scan saves that job. The footer reader, the
  * summary-file rules and the schema converter (session conf, Spark's
  * key-value schema first) are Spark's, which keeps them
  * `private[parquet]`: hence this package. */
object FooterSchema {

  /** `None` when the paths hold no parquet file, or one path is missing —
    * the caller's plain read then raises Spark's own error. The leaves of
    * all paths are sorted together, as Spark's inference sorts them. */
  def read(spark: SparkSession, paths: String*): Option[StructType] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.newHadoopConf()
    def leaves(fs: FileSystem, s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
        .flatMap(leaves(fs, _))
    val files =
      try paths.flatMap { p =>
        val root = new Path(p)
        val fs = root.getFileSystem(conf)
        leaves(fs, fs.getFileStatus(root))
      }.sortBy(_.getPath.toString)
      catch { case _: java.io.FileNotFoundException => Nil }
    val summaries =
      Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
    // the file ParquetUtils.inferSchema touches when schemas are not merged
    val touched = summaries.view.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    // nullable, as a file source's relation schema always is
    touched.flatMap(f => ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(
        conf, Seq(f), session.sessionState.conf.ignoreCorruptFiles),
      session)).map(_.asNullable)
  }
}
