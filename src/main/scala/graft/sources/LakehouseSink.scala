package graft.sources

import graft.storage.Lakehouse
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.StreamSinkProvider
import org.apache.spark.sql.streaming.OutputMode

/** First-class streaming SINK for the lakehouse — the write-side twin
  * of [[LakehouseStreamProvider]]:
  *
  * {{{
  * df.writeStream
  *   .format("graft.sources.LakehouseSinkProvider")
  *   .option("path", lake.tablePath("events_sunk"))
  *   .option("checkpointLocation", ...)
  *   .start()
  * }}}
  *
  * Every micro-batch lands through [[Lakehouse.appendExactlyOnce]]: the
  * commit marker carries the batch id, so a batch replayed after a
  * crash (the engine's at-least-once delivery) is recognized as already
  * committed and skipped — END-TO-END exactly once, with no foreachBatch
  * boilerplate and full multi-writer safety (CAS version claims compose
  * with concurrent batch writers and standing maintenance, including
  * the above-fulls rebase).
  *
  * Append mode only: the lakehouse sink IS an append log; Update/
  * Complete semantics belong to a CDC-upsert composition
  * ([[graft.streaming.Streams.applyCdcBatch]]) and are rejected at
  * query start, not silently misapplied.
  *
  * Implementation note: a v1 `Sink.addBatch` frame is bound to the
  * micro-batch's incremental execution and cannot be re-planned by a
  * normal writer, so the batch materializes through
  * `queryExecution.toRdd` (the already-planned physical rows) and
  * re-wraps as a standalone frame for the commit path — the standard
  * v1-sink shape. Row conversion is per-row on the executors;
  * distributed, no driver collect.
  */
class LakehouseSinkProvider extends StreamSinkProvider {

  override def createSink(ctx: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft lakehouse sink needs .option(\"path\", <table dir>)"))
    require(partitionColumns.isEmpty,
      "graft lakehouse sink writes unpartitioned deltas (partitioned " +
        "layouts go through Lakehouse.appendPartitionedByDay)")
    require(outputMode == OutputMode.Append(),
      s"graft lakehouse sink is append-only (got $outputMode) — " +
        "Update/Complete upserts compose via Streams.applyCdcBatch")
    new LakehouseSink(path)
  }
}

private[sources] class LakehouseSink(path: String) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    val schema = data.schema
    val conv = CatalystTypeConverters.createToScalaConverter(schema)
    // materialize THIS batch's planned rows; .copy() because unsafe rows
    // are reused per-partition by the scan
    val rows = data.queryExecution.toRdd
      .map(ir => conv(ir.copy()).asInstanceOf[Row])
    val batch = spark.createDataFrame(rows, schema)
    val dir = new Path(path)
    val lake = new Lakehouse(spark, dir.getParent.toString)
    lake.appendExactlyOnce(dir.getName, batch, batchId)
  }

  override def toString: String = s"GraftLakehouseSink($path)"
}

/** The V2 streaming write behind `writeStream.toTable("graft.ns.t")` —
  * unlike the V1 sink above (driver re-plans the batch through the
  * DataFrame append path), this is the full executor-side shape: each
  * task encodes its partition straight to a staged parquet file with
  * Spark's own parquet encoder (GraftParquetWriterBridge — byte-level
  * parity with the batch writer's layout), and the epoch commit on the
  * driver RENAMES the staged files into one exactly-once delta
  * ([[Lakehouse.commitStagedFilesExactlyOnce]]) — the commit is
  * metadata-sized regardless of data volume, the property that matters
  * at cluster scale. A replayed epoch discards its restaged files; an
  * aborted epoch cleans up after itself.
  */
private[sources] class LakehouseStreamingWrite(tableDir: String,
    schema: org.apache.spark.sql.types.StructType, queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private def lake: (Lakehouse, String) = {
    val dir = new Path(tableDir)
    (new Lakehouse(org.apache.spark.sql.SparkSession.active,
      dir.getParent.toString), dir.getName)
  }

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    LakehouseStreamingWriterFactory(tableDir, schema, queryId)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect { case StagedFiles(fs) => fs }
      .flatten.toSeq
    val (l, t) = lake
    l.commitStagedFilesExactlyOnce(t, files, epochId)
    // drop the (now empty) per-epoch staging dir; best-effort
    val fs = new Path(tableDir).getFileSystem(org.apache.spark.sql
      .SparkSession.active.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$tableDir/_staging/$queryId/$epochId"), true)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(tableDir).getFileSystem(org.apache.spark.sql
      .SparkSession.active.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$tableDir/_staging/$queryId/$epochId"), true)
  }
}

private[sources] case class StagedFiles(files: Seq[String])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

private[sources] case class LakehouseStreamingWriterFactory(
    tableDir: String, schema: org.apache.spark.sql.types.StructType,
    queryId: String) extends org.apache.spark.sql.connector.write
      .streaming.StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): org.apache.spark.sql.connector.write
        .DataWriter[org.apache.spark.sql.catalyst.InternalRow] =
    new org.apache.spark.sql.connector.write
        .DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
      // unique per (epoch, partition, task attempt): retries of the
      // same partition write DIFFERENT files; only the files of the
      // WINNING attempts reach the commit message set
      private val file = s"$tableDir/_staging/$queryId/$epochId/" +
        s"part-$partitionId-$taskId.parquet"
      private val writer = org.apache.spark.sql.execution.datasources
        .parquet.GraftParquetWriterBridge.create(file, schema)

      override def write(row: org.apache.spark.sql.catalyst
          .InternalRow): Unit = writer.write(row)

      override def commit(): org.apache.spark.sql.connector.write
          .WriterCommitMessage = {
        writer.close()
        StagedFiles(Seq(file))
      }

      override def abort(): Unit = {
        writer.close()
        val p = new Path(file)
        p.getFileSystem(graft.storage.HadoopConfs.fresh())
          .delete(p, false)
      }

      override def close(): Unit = ()
    }
}

/** Dynamic partition overwrite (`INSERT OVERWRITE` under
  * `spark.sql.sources.partitionOverwriteMode=dynamic`) — Spark plans
  * `OverwritePartitionsDynamic`, which has no V1 fallback, so this is
  * the staged-parquet V2 BATCH write: tasks encode their partitions to
  * `_staging/` files (same encoder as the streaming write), and the
  * driver commit replaces EXACTLY the partitions the incoming batch
  * carries — old rows of untouched partitions pass through the
  * basis-tracked copy-on-write rewrite, an append racing the commit is
  * rebased above it (Delta's replaceWhere semantics on the engine's
  * own commit protocol).
  */
private[sources] class LakehouseDynamicOverwrite(tableDir: String,
    contract: org.apache.spark.sql.types.StructType,
    partCols: Seq[String], queryId: String)
    extends org.apache.spark.sql.connector.write.Write {

  import org.apache.spark.sql.connector.write._

  require(partCols.nonEmpty,
    "dynamic overwrite needs a PARTITIONED BY table")

  private val stagingTag = s"dynover-$queryId"

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory =
      // standalone case class: an anonymous factory would close over
      // the (non-serializable) Write and fail task serialization
      LakehouseBatchStagedFactory(
        s"$tableDir/_staging/$stagingTag", contract)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      import org.apache.spark.sql.functions.col
      val spark = org.apache.spark.sql.SparkSession.active
      val files = messages.collect { case StagedFiles(fs) => fs }
        .flatten.toSeq
      val dir = new Path(tableDir)
      val lake = new Lakehouse(spark, dir.getParent.toString)
      val t = dir.getName
      val incoming =
        if (files.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            contract)
        else spark.read.schema(contract).parquet(files: _*)
      val (old, basis) = lake.readWithBasis(t, contract)
      val keys = incoming.select(partCols.map(col).toIndexedSeq: _*)
        .distinct()
      val kept = old.join(keys, partCols, "left_anti")
      val snap = graft.storage.Clustering.byPartitionKeys(
        spark, kept.unionByName(incoming), partCols)
      lake.overwritePartitioned(t, snap, Nil, statsCols = partCols,
        readBasis = Some(basis))
      cleanup()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      cleanup()

    private def cleanup(): Unit = {
      val p = new Path(s"$tableDir/_staging/$stagingTag")
      p.getFileSystem(org.apache.spark.sql.SparkSession.active
        .sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}

private[sources] case class LakehouseBatchStagedFactory(stagingDir: String,
    schema: org.apache.spark.sql.types.StructType)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write
        .DataWriter[org.apache.spark.sql.catalyst.InternalRow] =
    LakehouseStagedWriter(
      s"$stagingDir/part-$partitionId-$taskId.parquet", schema)
}

/** One staged parquet file per task — shared by the streaming and
  * dynamic-overwrite V2 writers.
  */
private[sources] case class LakehouseStagedWriter(file: String,
    schema: org.apache.spark.sql.types.StructType)
    extends org.apache.spark.sql.connector.write
      .DataWriter[org.apache.spark.sql.catalyst.InternalRow] {

  private val writer = org.apache.spark.sql.execution.datasources
    .parquet.GraftParquetWriterBridge.create(file, schema)

  override def write(row: org.apache.spark.sql.catalyst.InternalRow)
      : Unit = writer.write(row)

  override def commit(): org.apache.spark.sql.connector.write
      .WriterCommitMessage = {
    writer.close()
    StagedFiles(Seq(file))
  }

  override def abort(): Unit = {
    writer.close()
    val p = new Path(file)
    p.getFileSystem(graft.storage.HadoopConfs.fresh())
      .delete(p, false)
  }

  override def close(): Unit = ()
}
