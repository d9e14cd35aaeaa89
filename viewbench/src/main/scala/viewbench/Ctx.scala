package viewbench

import java.io.File
import java.lang.management.ManagementFactory
import java.sql.{DriverManager, SQLException}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._
import graft.examples.MachineEvent
import graft.sink.{ColumnSpec, TableSpec}

/** What one measured window of a workload produced. `e2e` and `layers`
  * are the metrics by name; `attempted` counts micro-batches or syncs;
  * `mismatch` is the bag difference of the final view tables against
  * [[Reference]]; `progress` holds the streaming batches it ran. */
final case class Window(e2e: Map[String, Double], latencyMs: Seq[Double],
                        layers: Map[String, Double], attempted: Long, mismatch: Long,
                        samples: Map[String, Int], progress: Seq[StreamingQueryProgress]) {
  /** End-to-end metrics with the latency percentiles; each needs 10
    * distinct samples beyond it (see [[Stats.tail]]). */
  def endToEnd: Map[String, Double] = e2e ++ Map(
    "latency_p50_ms" -> Stats.tail(latencyMs, 0.5),
    "latency_p99_ms" -> Stats.tail(latencyMs, 0.99))
}

/** Shared plumbing of the workloads: Spark session, scratch directories,
  * fresh in-memory Derby databases and the log readers. */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long) {
  val meter = new SinkMeter
  private var serial = 0

  def fresh(prefix: String): String = { serial += 1; s"${prefix}_$serial" }

  def dir(name: String): File = {
    val d = new File(work, name); d.mkdirs(); d
  }

  def url(db: String): String = s"jdbc:derby:memory:$db;create=true"

  /** Drop an in-memory Derby database (Derby signals success with 08006). */
  def dropDb(db: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true").close()
    catch { case e: SQLException if e.getSQLState == "08006" => () }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Write `events` as log files of `perFile` events each and return the
    * number of files; modification times increase with the file number. */
  def writeLog(dir: File, events: Seq[LogEvent], perFile: Int): Int = {
    events.grouped(perFile).zipWithIndex.foreach { case (chunk, i) =>
      Gen.writeFile(dir, f"part-$i%07d.jsonl", chunk, Ctx.mtime(i))
    }
    (events.size + perFile - 1) / perFile
  }

  def logStream(dir: File, maxFilesPerTrigger: Option[Int]): DataFrame = {
    val r = spark.readStream.schema(Ctx.LogSchema)
    maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n.toLong)).json(dir.getPath)
  }

  /** The log as the Examples views take it (typed MachineEvent). */
  def logBatch(dir: File): Dataset[MachineEvent] = {
    import spark.implicits._
    Ctx.asMachineEvents(spark.read.schema(Ctx.LogSchema).json(dir.getPath)).as[MachineEvent]
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime.max(0L)).sum

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }

  /** Execute a Dataset's whole plan without collecting it. */
  def run(ds: Dataset[_]): Unit = ds.toDF().write.format("noop").mode("overwrite").save()

  // ---- per-layer metrics shared by the workloads ----

  private def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def streamingLayers(progs: Seq[StreamingQueryProgress], deltasOut: Long): Map[String, Double] = {
    val ps = progs.filter(_.numInputRows > 0)
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val last = ps.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    val rowsIn = ps.map(_.numInputRows).sum
    Map(
      "streaming.trigger_ms_p50" -> p50(ps.map(d(_, "triggerExecution"))),
      "streaming.plan_ms_p50" -> p50(ps.map(d(_, "queryPlanning"))),
      "streaming.source_ms_p50" -> p50(ps.map(p => d(p, "latestOffset") + d(p, "getBatch"))),
      "streaming.commit_ms_p50" -> p50(ps.map(p => d(p, "walCommit") + d(p, "commitOffsets"))),
      "streaming.state_update_ms_p50" -> p50(ps.map(_.stateOperators.map(_.allUpdatesTimeMs).sum.toDouble)),
      "streaming.state_commit_ms_p50" -> p50(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
      "streaming.state_rows" -> last.map(_.numRowsTotal).sum.toDouble,
      "streaming.state_mb" -> last.map(_.memoryUsedBytes).sum / 1048576.0,
      "streaming.batches" -> ps.size.toDouble,
      "streaming.rows_in" -> rowsIn.toDouble,
      "streaming.deltas_out" -> deltasOut.toDouble,
      "streaming.delta_ratio" -> (if (rowsIn == 0) 0.0 else deltasOut.toDouble / rowsIn))
  }

  /** Sink metrics of the window; `events` is the number of new log events
    * its transactions carried, the base of the per-event shares. */
  def sinkLayers(events: Long): Map[String, Double] = meter.synchronized {
    val ts = meter.txns.filter(_.applied).toSeq
    val jdbcNs = ts.map(t => t.endNs - t.startNs - t.waitNs)
    val copies = ts.map(t => t.inserts + t.retractions).sum
    Map(
      "sink.prepare_ms_p50" -> p50(ts.filter(_.prepareNs >= 0).map(_.prepareNs / 1e6)),
      "sink.txn_ms_p50" -> p50(ts.map(t => (t.endNs - t.startNs) / 1e6)),
      "sink.wait_ms_p50" -> p50(ts.map(_.waitNs / 1e6)),
      "sink.jdbc_ms_p50" -> p50(jdbcNs.map(_ / 1e6)),
      "sink.rows_per_s" -> (if (jdbcNs.sum == 0) 0.0 else copies / (jdbcNs.sum / 1e9)),
      "sink.readback_ms_p50" -> p50(meter.readbackNs.toSeq.map(_ / 1e6)),
      "sink.inserts" -> ts.map(_.inserts).sum.toDouble,
      "sink.retractions" -> ts.map(_.retractions).sum.toDouble,
      "sink.inserts_per_event" -> ts.map(_.inserts).sum.toDouble / events,
      "sink.retractions_per_event" -> ts.map(_.retractions).sum.toDouble / events,
      "sink.replayed_batches" -> meter.txns.count(!_.applied).toDouble,
      "sink.offset_sources" -> meter.txns.map(_.offsetSources).maxOption.getOrElse(0).toDouble)
  }

  def deltasOut(): Long = meter.synchronized(meter.txns.map(_.rows).sum)
}

object Ctx {
  val LogSchema: StructType = StructType(Seq(
    StructField("source", StringType), StructField("stream_name", StringType),
    StructField("semantics", StringType), StructField("offset", LongType),
    StructField("lamport", LongType), StructField("timestamp", LongType),
    StructField("payload", StructType(Seq(
      StructField("type", StringType), StructField("order", StringType))))))

  /** File `i` of a log is stamped `i` × 10 ms after a base an hour back,
    * so the file source (which orders by modification time) reads the
    * files in log order. */
  private val mtimeBase = System.currentTimeMillis() - 3600L * 1000L
  def mtime(i: Int): Long = mtimeBase + 10L * i

  val started: org.apache.spark.sql.Column = col("payload.type") === "started"

  def asMachineEvents(df: DataFrame): DataFrame =
    df.select(col("source"), col("stream_name").as("streamName"), col("lamport"),
      col("timestamp").as("timestampMicros"), started.as("started"),
      col("payload.order").as("order"))

  val DashboardSpec: TableSpec = TableSpec("dashboard", 1, Seq(
    ColumnSpec("machine", "VARCHAR(32)", index = true), ColumnSpec("status", "VARCHAR(16)"),
    ColumnSpec("manufacturing_order", "VARCHAR(32)"), ColumnSpec("since_micros", "BIGINT")))

  val UsageSpec: TableSpec = TableSpec("machine_usage", 1, Seq(
    ColumnSpec("machine", "VARCHAR(32)", index = true), ColumnSpec("manufacturing_order", "VARCHAR(32)"),
    ColumnSpec("started_micros", "BIGINT"), ColumnSpec("duration_micros", "BIGINT")))
}
