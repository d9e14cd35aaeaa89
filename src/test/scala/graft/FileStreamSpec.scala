package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sink.{ColumnSpec, JdbcDeltaSink, TableSpec}
import graft.streaming.DeltaPipeline

/** Directory-of-files ingestion — the production replay/catch-up shape
  * (reference runner.rs phases) on the parquet FILE source rather than
  * MemoryStream: bounded batches via maxFilesPerTrigger (the
  * 1000-events-per-txn analog, runner.rs:157), Trigger.AvailableNow
  * backlog draining, and checkpointed file-discovery offsets so a
  * restart ingests ONLY files that arrived since (go_back/offset
  * semantics, S7). */
class FileStreamSpec extends SparkTestBase {
  import spark.implicits._

  test("parquet file source: bounded catch-up batches, restart picks up only new files") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft-filesrc").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fileckpt").toString

    def addFile(rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "machine").coalesce(1)
        .write.mode("append").parquet(srcDir)

    addFile(Seq((1L, "Drill1"), (2L, "Drill2")))
    addFile(Seq((3L, "Press1")))

    val sink = new JdbcDeltaSink(
      "jdbc:derby:memory:filestream;create=true",
      TableSpec("ingested", 1, Seq(
        ColumnSpec("id", "BIGINT", index = true),
        ColumnSpec("machine", "VARCHAR(32)"))))

    def stream() = spark.readStream
      .schema("id BIGINT, machine STRING")
      .option("maxFilesPerTrigger", 1) // replay batching: one file per txn
      .parquet(srcDir)
      .withColumn("mult", lit(1L))

    def run(): Unit = {
      val q = DeltaPipeline.start(stream(), sink, ckpt,
        Trigger.AvailableNow())
      q.awaitTermination() // AvailableNow terminates once backlog drains
    }

    run()
    val afterCatchup = sink.readRows().map(r =>
      (r(0).asInstanceOf[Number].longValue, r(1).asInstanceOf[String])).toSet
    assert(afterCatchup === Set((1L, "Drill1"), (2L, "Drill2"), (3L, "Press1")))
    assert(sink.lastBatchId() === Some(1L),
      "2 files with maxFilesPerTrigger=1 → exactly 2 micro-batches (ids 0, 1)")

    // a file arriving while the pipeline is down
    addFile(Seq((4L, "Drill1")))
    run()
    val afterRestart = sink.readRows().map(r =>
      (r(0).asInstanceOf[Number].longValue, r(1).asInstanceOf[String])).toSet
    assert(afterRestart === afterCatchup + ((4L, "Drill1")))
    assert(sink.lastBatchId() === Some(2L),
      "restart must ingest only the NEW file: one more batch, not a replay")
  }
}
