package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, FlatMapGroupsWithState}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import graft.sink.DeltaSink

/** The incremental profile's runtime wiring — the analog of the
  * reference's ingestion driver (runner.rs:151-358) on Structured
  * Streaming's micro-batch engine:
  *
  *  - replay/catch-up/live phases → checkpoint recovery + backlog
  *    draining + trigger cadence (all engine-native);
  *  - 5 s live flush (runner.rs:331) → `Trigger.ProcessingTime("5 seconds")`;
  *  - 1000-event txn batching (runner.rs:157) → `maxFilesPerTrigger` /
  *    `maxOffsetsPerTrigger` on the source;
  *  - `sync_channel(1)` backpressure (runner.rs:103-105) → micro-batch
  *    serialization (one batch in flight, inherent);
  *  - exactly-once offsets+data transaction → a [[graft.sink.DeltaSink]]
  *    (raw, aggregate or union) inside `foreachBatch` with batch-id
  *    idempotence.
  */
object DeltaPipeline {

  val DefaultTrigger: Trigger = Trigger.ProcessingTime("5 seconds")

  /** Wire a streaming delta DataFrame (carrying a `mult` column, or
    * plain rows treated as inserts; a `_table` tag for a union sink)
    * into a transactional sink, in the output mode of [[outputMode]]. */
  def start(deltas: DataFrame, sink: DeltaSink, checkpoint: String,
            trigger: Trigger = DefaultTrigger): StreamingQuery = {
    sink.bootstrap()
    deltas.writeStream
      .outputMode(outputMode(deltas))
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(sink.foreachBatchWriter())
      .start()
  }

  /** The output mode Spark accepts for the analyzed plan: `update` when
    * it holds a streaming aggregate or an update-mode
    * `(flat)MapGroupsWithState`, whose emitted rows are per-key updates;
    * otherwise `append`, which Spark requires for append-mode
    * `flatMapGroupsWithState` and stream-stream joins and which emits
    * the same rows for stateless plans. */
  private def outputMode(deltas: DataFrame): String = {
    val updates = deltas.queryExecution.analyzed.exists {
      case a: Aggregate => a.isStreaming
      case f: FlatMapGroupsWithState => f.isStreaming && f.outputMode == OutputMode.Update()
      case _ => false
    }
    if (updates) "update" else "append"
  }
}
