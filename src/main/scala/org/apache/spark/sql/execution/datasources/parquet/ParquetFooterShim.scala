package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{DataSource, InMemoryFileIndex}
import org.apache.spark.sql.types.StructType

/** Driver-side parquet schema resolution for `graft.Engine.parquetSchema`.
  *
  * `spark.read.parquet(path)` without a schema infers one through
  * `ParquetFileFormat.mergeSchemasInParallel`, which runs a Spark job
  * even when the path is a single file. This shim lists the path the
  * way the reader does, picks the file `ParquetUtils.inferSchema`
  * picks when schemas are not merged (Spark's default, and graft never
  * merges): `_common_metadata`, then `_metadata`, then the first data
  * file in path order. It converts that footer with the same
  * package-private `readParquetFootersInParallel` + `readSchema`, on
  * the driver. */
object ParquetFooterShim {
  def schema(spark: SparkSession, path: String): StructType = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val hadoopConf = session.sessionState.newHadoopConf()
    val roots = DataSource.checkAndGlobPathIfNecessary(Seq(path), hadoopConf,
      checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = true)
    val leaves = new InMemoryFileIndex(session, roots, Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    val touch = summaries.flatMap(n => leaves.find(_.getPath.getName == n))
      .headOption
      .orElse(leaves.find(f => !summaries.contains(f.getPath.getName)))
      .toSeq
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      hadoopConf, touch, session.sessionState.conf.ignoreCorruptFiles)
    ParquetFileFormat.readSchema(footers, session)
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
      .asNullable // as the file relation reports it
  }
}
