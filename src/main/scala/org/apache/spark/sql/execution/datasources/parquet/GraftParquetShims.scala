package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

import scala.util.control.NonFatal

/** Driver-side parquet schema inference. `spark.read.parquet(path)` infers
  * its schema with a one-task Spark job (`mergeSchemasInParallel`) that
  * reads a single footer; the driver can read that footer itself. With
  * `mergeSchema` off, `ParquetUtils.inferSchema` touches one file: the
  * `_common_metadata` summary, else `_metadata`, else the first data file
  * by path. This picks the same file, reads its footer with
  * `readParquetFootersInParallel` and converts it with the converter
  * settings `mergeSchemasInParallel` uses, so `spark.read.schema(s)` over
  * the result analyzes to the same plan.
  */
object GraftParquetShims {

  /** For each path, the schema `spark.read.parquet(path)` would infer; None
    * where only Spark's own path can decide: schema merging on, a glob, a
    * missing path, no data file, a nested (e.g. partitioned) layout, a
    * streaming sink's output, or a footer that fails to read or convert.
    * A caller falls back to `spark.read.parquet` there, which then raises
    * Spark's own error.
    */
  def footerSchemas(spark: SparkSession, paths: Seq[String]): Seq[Option[StructType]] = {
    if (paths.isEmpty) return Nil // a cache hit: not even a Hadoop conf copy
    val conf = SessionStateHelper.getSqlConf(spark)
    if (conf.isParquetSchemaMergingEnabled) return paths.map(_ => None)
    val hadoopConf = SessionStateHelper.getHadoopConf(spark)
    val chosen = paths.map(p => schemaFile(new Path(p), hadoopConf))
    val files = chosen.flatten.distinctBy(_.getPath)
    // the parallel read starts a thread pool per call
    if (files.isEmpty) return paths.map(_ => None)
    val footers =
      try ParquetFileFormat.readParquetFootersInParallel(
        hadoopConf, files, ignoreCorruptFiles = false)
      catch { case NonFatal(_) => return paths.map(_ => None) }
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val byFile = footers.map(f => f.getFile -> f).toMap
    chosen.map(_.flatMap { f =>
      try Some(ParquetFileFormat.readSchemaFromFooter(byFile(f.getPath), converter))
      catch { case NonFatal(_) => None }
    })
  }

  /** The one file `ParquetUtils.inferSchema` reads for `path` when not
    * merging: leaves are listed and filtered as `InMemoryFileIndex` lists
    * them (hidden `_`/`.` names dropped, summaries kept) and sorted by path. */
  private def schemaFile(path: Path, hadoopConf: Configuration): Option[FileStatus] =
    try {
      if (SparkHadoopUtil.get.isGlobPath(path)) return None
      val fs = path.getFileSystem(hadoopConf)
      val root = fs.getFileStatus(path)
      if (!root.isDirectory) return Some(root)
      val children = fs.listStatus(path)
      // a streaming sink's output is read through its metadata log
      if (children.exists(_.getPath.getName == FileStreamSink.metadataDir)) return None
      val leaves = children
        .filterNot(s => HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
      if (leaves.exists(_.isDirectory)) return None
      val sorted = leaves.sortBy(_.getPath.toString)
      val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      summaries.view.flatMap(n => sorted.find(_.getPath.getName == n)).headOption
        .orElse(sorted.find(s => !summaries.contains(s.getPath.getName)))
    } catch { case NonFatal(_) => None }
}
