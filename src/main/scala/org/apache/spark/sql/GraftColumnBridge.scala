/*
 * Bridge into Spark's private[sql] Column internals: Spark 4 wraps
 * Columns around ColumnNodes, and the Expression <-> Column conversions
 * live in classic.ExpressionUtils. This is the sanctioned pattern for
 * libraries shipping native Catalyst expressions.
 */
package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitionPath, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

object GraftColumnBridge {
  def toExpr(c: Column): Expression =
    classic.ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  /** A DataFrame over an already-analyzed logical plan (the captured
    * MERGE source) — `classic.Dataset.ofRows`, bridged.
    */
  def ofRows(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)
  /** Drop the session's cached V2 catalog instances so a re-pointed
    * `spark.sql.catalog.<name>.root` deterministically takes effect —
    * instance invalidation on conf change is otherwise an engine
    * implementation detail a long-lived session must not rely on.
    */
  def resetCatalogs(spark: SparkSession): Unit =
    spark.asInstanceOf[classic.SparkSession]
      .sessionState.catalogManager.reset()

  /** ONE parquet relation over files the caller already listed, with an
    * explicit partition spec (`(values, leaf dir)` per partition dir;
    * empty = unpartitioned) — what `spark.read.parquet` builds, minus
    * its glob, existence probe, `JobConf` and `InMemoryFileIndex`
    * listing. Both schemas are made nullable, as the file source does.
    */
  def listedParquet(spark: SparkSession, roots: Seq[Path],
      files: Seq[FileStatus], dataSchema: StructType,
      partitionSchema: StructType,
      partitions: Seq[(InternalRow, Path)]): DataFrame = {
    val partSchema = partitionSchema.asNullable
    val index = new ListedFileIndex(spark, roots, files,
      PartitionSpec(partSchema,
        partitions.map { case (v, p) => PartitionPath(v, p) }))
    ofRows(spark, LogicalRelation(HadoopFsRelation(index, partSchema,
      dataSchema.asNullable, None, new ParquetFileFormat, Map.empty)(spark)))
  }
}

/** File index over a fixed listing: nothing is listed, globbed or
  * inferred at plan time; partition pruning and split planning work
  * off the given spec as they do for an `InMemoryFileIndex`. Equal
  * listings compare equal, so exchange/subquery reuse still matches
  * two reads of the same snapshot.
  */
private[sql] final class ListedFileIndex(spark: SparkSession,
    roots: Seq[Path], files: Seq[FileStatus], spec: PartitionSpec)
    extends PartitioningAwareFileIndex(spark, Map.empty, None) {
  override val rootPaths: Seq[Path] = roots
  override val leafFiles
      : scala.collection.mutable.LinkedHashMap[Path, FileStatus] =
    scala.collection.mutable.LinkedHashMap(files.map(f => f.getPath -> f): _*)
  override val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    files.toArray.groupBy(_.getPath.getParent)
  override def partitionSpec(): PartitionSpec = spec
  // the listing IS the file set — no re-qualification of root paths
  override def allFiles(): Seq[FileStatus] = files
  override def refresh(): Unit = ()
  private lazy val identity = (files.map(_.getPath).toSet, spec)
  override def equals(o: Any): Boolean = o match {
    case l: ListedFileIndex => l.identity == identity
    case _ => false
  }
  override def hashCode: Int = identity.hashCode
}
