package org.apache.spark.sql.graft

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge into Spark's parquet schema inference without its Spark job.
  * `spark.read.parquet(p)` infers the schema by launching a job that reads
  * one footer (schema merging off); this reads the same footer in the
  * calling thread and converts it with the same converter settings, so the result
  * can be handed to `spark.read.schema(…)`. The file listing, file index,
  * footer reader and schema converter are Spark internals, reached from this
  * bridge package the way [[ColumnBridge]] reaches its converters.
  */
object FooterSchema {

  /** The data schema `spark.read.parquet(path)` would infer, or None when
    * the caller should let Spark infer it (no such path, a glob, schema
    * merging on, no data file, or an unreadable footer), so Spark's own
    * error still surfaces. The file is the one Spark's inference picks:
    * `_common_metadata`, else `_metadata`, else the first data file by
    * sorted path. The path is listed in the calling thread at any
    * directory count: Spark's own listing turns into a job above
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` directories. */
  def of(spark: SparkSession, path: String): Option[StructType] = Try {
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.conf
    val hadoopConf = session.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(hadoopConf)
    val root = fs.makeQualified(new Path(path))
    if (conf.isParquetSchemaMergingEnabled || path.exists("{}[]*?\\".contains(_)) ||
        !fs.exists(root)) None
    else {
      val leaves = new InMemoryFileIndex(session, Seq(root), Map.empty, None,
        listedSerially(session, root, hadoopConf)).allFiles().sortBy(_.getPath.toString)
      def named(n: String) = leaves.find(_.getPath.getName == n)
      val summary = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(leaves.find(f => !summary(f.getPath.getName)))
        .map(f => ParquetFileFormat.readSchemaFromFooter(footer(f, hadoopConf), converter(session)))
    }
  }.toOption.flatten

  /** The leaf files of `root` as the file index lists them (same
    * hidden-name filter and missing-file handling), listed in this thread
    * and handed to the index as its status cache, so it lists nothing
    * itself. */
  private def listedSerially(session: classic.SparkSession, root: Path,
      hadoopConf: org.apache.hadoop.conf.Configuration): FileStatusCache = {
    val conf = session.sessionState.conf
    val listed = HadoopFSUtils.parallelListLeafFiles(session.sparkContext, Seq(root), hadoopConf,
      null, ignoreMissingFiles = conf.ignoreMissingFiles, ignoreLocality = conf.ignoreDataLocality,
      parallelismThreshold = Int.MaxValue, parallelismMax = 1).toMap
    new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] = listed.get(p).map(_.toArray)
      override def putLeafFiles(p: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
  }

  private def footer(f: FileStatus, hadoopConf: org.apache.hadoop.conf.Configuration): Footer =
    new Footer(f.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(f, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS))

  /** The converter `ParquetFileFormat.mergeSchemasInParallel` builds. */
  private def converter(session: classic.SparkSession): ParquetToSparkSchemaConverter = {
    val conf = session.sessionState.conf
    new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
  }
}
