package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The micro-batch loop every streaming screen runs ([[DocScreen]],
  * [[GramScreen]], [[SigScreen]], [[VecScreen]], [[ClsScreen]]): a
  * checkpointed file source drained with `AvailableNow`, one screen
  * call per micro-batch.
  *
  * Exactly-once: each micro-batch's verdicts OVERWRITE its own
  * `batch_id=<n>` sink partition, so a batch replayed after a
  * crash-before-offset-commit rewrites the same rows instead of
  * appending duplicates (the AckSink discipline; a blind append would
  * only be at-least-once). With `record`, the batch's rows are then
  * recorded as catalog ingest partition `batchId + 1` — a dynamic
  * partition overwrite, so a replayed batch rewrites its own state
  * partition; catalog screens in that loop bound their history to
  * ingest partitions ≤ batchId, so a replay can never see its own
  * append.
  */
private[streaming] object ScreenLoop {

  /** Stream `srcDir` through `verdicts` (batch, batchId) into
    * `sinkDir`, partitioned by micro-batch id.
    *
    * @param record the catalog append `(session, rows, ingestId)`
    *   each batch feeds, if any
    * @param survivorsBy with Some(key), only the batch rows whose `key`
    *   has no verdict are recorded (dropped duplicates never pollute
    *   the catalog); None records the whole batch
    */
  def run(spark: SparkSession, srcDir: String, schema: StructType,
      sinkDir: String, checkpointDir: String, maxFilesPerTrigger: Int,
      record: Option[(SparkSession, DataFrame, Long) => Unit] = None,
      survivorsBy: Option[String] = None)(
      verdicts: (DataFrame, Long) => DataFrame): Unit = {
    val screen: (DataFrame, Long) => Unit = { (batch, batchId) =>
      val s = batch.sparkSession
      val v = verdicts(batch, batchId)
      v.write.mode("overwrite").parquet(s"$sinkDir/batch_id=$batchId")
      record.foreach(_(s, survivorsBy.fold(batch)(k =>
        batch.join(v.select(k), Seq(k), "left_anti")), batchId + 1))
      // the screen pins only batch-side subtrees, all registered under
      // foreachBatch's CLONED per-batch session — releasing that
      // session alone drops them without touching anything the caller
      // pinned on the outer session
      graft.Shared.releaseAll(s)
    }
    // input-derived fan-out for the per-batch screen jobs (AQE is off
    // on the streaming plan; see EventStream.withStateParts)
    EventStream.withStateParts(spark, srcDir) {
      EventStream.fromDirectory(spark, srcDir, schema, maxFilesPerTrigger)
        .writeStream
        .foreachBatch(screen)
        .option("checkpointLocation", checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
  }
}
