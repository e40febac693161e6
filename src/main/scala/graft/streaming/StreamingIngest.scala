package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.model.Model.{TableKind, rawSchemas}
import graft.store.Merge
import graft.transform.Transforms

/** Structured-Streaming rendering of the reference's event-driven
  * ingest (SURVEY.md §2.9): one S3 ObjectCreated event → one Lambda →
  * one Glue run per file (/root/reference/lambda/ingestion_to_raw.py:
  * 16-60) becomes a file-source stream over the raw zone with
  * `Trigger.AvailableNow` + `foreachBatch(transform andThen merge)`.
  *
  * This is strictly stronger than the reference: the checkpoint gives
  * exactly-once per file instead of at-least-once-plus-downstream-
  * idempotence. The per-file micro-batch model is preserved
  * (maxFilesPerTrigger), and the same transform + keyed-merge code
  * paths run unchanged inside foreachBatch — batch/streaming parity
  * by construction.
  *
  * Scale: the file source only lists new files per trigger; state is
  * the file log, not data. The merge inside foreachBatch broadcasts
  * the (small) batch side, so per-micro-batch cost is O(batch) +
  * one scan of the touched warehouse table.
  */
object StreamingIngest {

  /** Stream the raw zone for one table kind into processed parquet and
    * the warehouse. Blocks until all currently-available files are
    * processed (AvailableNow), then returns. */
  def runAvailableNow(
      spark: SparkSession,
      rawTypeDir: String, // raw/{fileType} subtree (all fecha_carga partitions)
      kind: TableKind,
      processedZone: String,
      warehouseZone: String,
      checkpointDir: String,
      loadDate: String,
      maxFilesPerTrigger: Int = 1): Unit = StreamTuning.withLocalCheckpoints(spark) {
    val schema = rawSchemas.forKind(kind).getOrElse(
      throw new IllegalArgumentException(
        s"streaming ingest needs a declared schema; none for ${kind.fileType}"))

    val stream = spark.readStream
      .schema(schema)
      .option("header", "true")
      .option("sep", ",")
      .option("quote", "\"")
      .option("escape", "\\")
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .option("recursiveFileLookup", "true") // span fecha_carga= partitions
      .csv(rawTypeDir)

    val query = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val transformed = Transforms.forKind(
            kind, s"stream_batch_$batchId", loadDate)(batch)
          transformed.write.mode("append")
            .partitionBy("load_date_partition")
            .parquet(s"$processedZone/${kind.targetTable}")
          val keys = TableKind.upsertKeys(kind)
          if (keys.nonEmpty) {
            Merge.mergeIntoParquet(
              spark, s"$warehouseZone/${kind.targetTable}",
              transformed.dropDuplicates(keys), keys)
          }
        }
      }
      .start()
    query.awaitTermination()
  }
}
