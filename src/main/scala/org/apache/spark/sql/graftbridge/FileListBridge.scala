package org.apache.spark.sql.graftbridge

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** A Parquet scan over a file list the caller already holds (a table
  * manifest), planned without listing: the relation `spark.read.parquet`
  * resolves to, minus the per-path existence checks and the file index's
  * listing (a distributed Spark job above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths). The
  * index is Structured Streaming's `MetadataLogFileIndex` pattern: leaf
  * files given, no partition inference.
  */
object FileListBridge {
  def parquet(spark: SparkSession, files: Seq[FileStatus], schema: StructType): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val relation = HadoopFsRelation(new ListedFileIndex(session, files), new StructType(),
      schema.asNullable, None, new ParquetFileFormat, Map.empty)(session)
    classic.Dataset.ofRows(session, LogicalRelation(relation))
  }

  private class ListedFileIndex(spark: classic.SparkSession, files: Seq[FileStatus])
      extends PartitioningAwareFileIndex(spark, Map.empty, None) {
    override protected val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
      mutable.LinkedHashMap.from(files.map(f => f.getPath -> f))
    override protected val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
      files.toArray.groupBy(_.getPath.getParent)
    override def rootPaths: Seq[Path] = leafDirToChildrenFiles.keys.toSeq
    override def refresh(): Unit = ()
    override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
    // the given statuses as they are: no FileSystem is opened to qualify roots
    override def allFiles(): Seq[FileStatus] = files
  }
}
