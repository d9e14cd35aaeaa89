package viewbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import graft.core.Deltas
import graft.examples.Examples
import graft.sink.BatchIncremental
import graft.streaming.{Delta, DeltaPipeline, Monotonic, SessionEvent, SessionizeStream}

/** The dashboard's streaming state record: the view row plus the lamport
  * that breaks timestamp ties (dropped before the sink). */
final case class DashReading(machine: String, status: String, order: String,
                             since: Long, lamport: Long)

/** A benchmark workload: `setup` brings a fresh view to ready and returns
  * its seconds (called several times; the last set-up is the one measured),
  * `window` measures for `seconds` and verifies the view tables. */
trait Workload {
  def setup(): Double
  def window(seconds: Int): Window
  /** Run the Examples view(s) standalone and diff them against the sink
    * tables, for the traced run: (snapshot ms samples, diff rows). */
  def flowCheck(): (Seq[Double], Long)
  def close(): Unit
}

object Workload {

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "replay_dashboard" => new ReplayDashboard(ctx)
    case "live_usage" => new LiveUsage(ctx)
    case "resync_batch" => new ResyncBatch(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Dashboard view in the streaming profile: Drill events → per-machine
    * `Monotonic.maxByStream` by (timestamp, lamport) → signed deltas in
    * the sink's column order. */
  def dashboardDeltas(log: DataFrame): DataFrame = {
    val spark = log.sparkSession
    import spark.implicits._
    val readings = log.filter(col("stream_name").startsWith("Drill")).select(
      struct(col("stream_name").as("machine"),
        when(Ctx.started, "working").otherwise("idle").as("status"),
        when(Ctx.started, col("payload.order")).as("order"),
        col("timestamp").as("since"), col("lamport")).as("record"),
      lit(1L).as("mult")).as[Delta[DashReading]]
    Monotonic.maxByStream[DashReading, String](readings, _.machine)(
      Ordering.by((r: DashReading) => (r.since, r.lamport)), Encoders.STRING,
      implicitly, implicitly)
      .toDF().select(col("record.machine"), col("record.status"),
        col("record.order").as("manufacturing_order"),
        col("record.since").as("since_micros"), col("mult"))
  }

  /** Usage view in the streaming profile: Drill events →
    * `SessionizeStream.usageStream` → insert-only rows. */
  def usageRows(log: DataFrame): DataFrame = {
    val spark = log.sparkSession
    import spark.implicits._
    val evs = log.filter(col("stream_name").startsWith("Drill")).select(
      col("stream_name").as("machine"), col("lamport"), Ctx.started.as("started"),
      col("payload.order").as("order"), col("timestamp").as("atMicros")).as[SessionEvent]
    SessionizeStream.usageStream(evs).toDF().select(col("machine"),
      col("order").as("manufacturing_order"), col("startedMicros").as("started_micros"),
      col("durationMicros").as("duration_micros"))
  }

  /** Batches of one query that carried input, in batch order. */
  def batches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0)

  /** Stamp of the Stopped event behind a usage row: started + duration. */
  def stopUs(r: Seq[Any]): Long = r(2).asInstanceOf[Long] + r(3).asInstanceOf[Long]

  def isoMicros(ts: String): Long = java.time.Instant.parse(ts).toEpochMilli * 1000L

  /** Diff of an Examples view against a sink table (by column position). */
  def diffRows(ctx: Ctx, view: DataFrame, table: MeteredSink): Long = {
    val cur = table.readAsDataFrame(ctx.spark).toDF(view.columns.toSeq: _*)
    Deltas.diff(view, cur).agg(coalesce(sum(abs(col(Deltas.MULT))), lit(0L))).head().getLong(0)
  }

  def timedMs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }
}

/** One replay into database `db`: its log size, its span and, per
  * micro-batch in order, the input rows and the commit stamp. */
final case class Replay(db: String, sink: MeteredSink, logEvents: Int, startUs: Long,
                        endUs: Long, progress: Seq[StreamingQueryProgress], commitUs: Seq[Long])

/** Closed loop: full replays of the log from offset 0 into a fresh sink,
  * one after another. A 30k-event history over 20k machines, 1000 events
  * a file, 11 files a trigger: each replay is 3 micro-batches of up to
  * 11k events, the later ones retracting many rows the earlier ones
  * inserted. Meanwhile events keep arriving at a fixed rate, stamped with
  * the time each was due; those that arrived during one replay join the
  * log's end before the next, and become visible when that replay commits
  * the batch that reads them. */
final class ReplayDashboard(ctx: Ctx) extends Workload {
  private val shape = LogShape(machines = 20000, sources = 8, staleShare = 0.05, skew = 0.0)
  private val FileEvents = 1000
  private val FilesPerTrigger = 11
  private val ArrivalRate = 300
  private val gen = new Gen(shape, ctx.seed)
  private val events = ArrayBuffer.fill(30000)(gen.next())
  private val logDir = ctx.dir("replay/log")
  private val warmDir = ctx.dir("replay/warm")
  private var files = ctx.writeLog(logDir, events.toSeq, FileEvents)
  ctx.writeLog(warmDir, events.take(FileEvents).toSeq, FileEvents)

  private var dbs = List.empty[String]

  /** One replay of `dir` into a fresh database and checkpoint. */
  private def replay(dir: File, logEvents: Int): Replay = {
    val db = ctx.fresh("replay")
    dbs ::= db
    val ckpt = ctx.dir(s"ckpt/$db")
    val sink = new MeteredSink(ctx.url(db), Ctx.DashboardSpec, ctx.meter)
    val deltas = Workload.dashboardDeltas(ctx.logStream(dir, Some(FilesPerTrigger)))
    val txns0 = ctx.meter.synchronized(ctx.meter.txns.size)
    val startUs = Clock.micros()
    val q = DeltaPipeline.start(deltas, sink, ckpt.getPath, Trigger.AvailableNow())
    q.awaitTermination()
    val txns = ctx.meter.synchronized(ctx.meter.txns.drop(txns0).toList)
    val progress = Workload.batches(q)
    val commitUs = progress.map(p => txns.find(_.batchId == p.batchId)
      .getOrElse(throw new IllegalStateException(s"batch ${p.batchId} never committed")).commitUs)
    Replay(db, sink, logEvents, startUs, commitUs.max, progress, commitUs)
  }

  /** Bag difference of each replay's table against the reference over the
    * log it replayed; drops every database but the last one's. Runs after
    * the replays, so that checking adds nothing to the arrivals' latency. */
  private def verify(replays: Seq[Replay], log: Seq[LogEvent]): Long = {
    val diff = replays.map(r => Reference.bagDiff(r.sink.readRows(), Reference.dashboard(log.take(r.logEvents)))).sum
    dbs.drop(1).foreach(ctx.dropDb)
    dbs = dbs.take(1)
    ctx.deleteTree(ctx.dir("ckpt"))
    diff
  }

  def setup(): Double = {
    val t0 = System.nanoTime()
    val r = replay(warmDir, FileEvents)
    val secs = (System.nanoTime() - t0) / 1e9
    require(verify(Seq(r), events.take(FileEvents).toSeq) == 0, "warm-up replay does not match the reference")
    secs
  }

  def window(seconds: Int): Window = {
    ctx.meter.reset()
    val t0 = System.nanoTime()
    val replays = ArrayBuffer.empty[Replay]
    val lat = ArrayBuffer.empty[Double]
    var arrivalsFromUs, arrivals = 0L
    // at least two replays, so that events arrive during one; start
    // another only if at least half of it fits the window
    def left = seconds - (System.nanoTime() - t0) / 1e9
    while (replays.size < 2 || left > (replays.last.endUs - replays.last.startUs) / 2e6) {
      val arrived = ArrayBuffer.empty[LogEvent]
      if (replays.isEmpty) arrivalsFromUs = Clock.micros()
      else {
        val now = Clock.micros()
        def due = arrivalsFromUs + arrivals * 1000000L / ArrivalRate
        while (due <= now) { arrived += gen.next(stampMicros = due); arrivals += 1 }
        Gen.writeFile(logDir, f"part-$files%07d.jsonl", arrived.toSeq, Ctx.mtime(files))
        files += 1
      }
      val pos0 = events.size
      events ++= arrived
      val r = replay(logDir, events.size)
      // an arrival is visible once the batch that read its position commits
      val readUpTo = r.progress.scanLeft(0L)(_ + _.numInputRows).tail
      arrived.zipWithIndex.foreach { case (e, i) =>
        val b = readUpTo.indexWhere(_ > pos0 + i)
        require(b >= 0, s"replay never read log position ${pos0 + i}")
        lat += (r.commitUs(b) - e.tsMicros) / 1000.0
      }
      replays += r
    }
    val mismatch = verify(replays.toSeq, events.toSeq)
    val secs = replays.toSeq.map(r => (r.endUs - r.startUs) / 1e6)
    val replayed = replays.map(_.logEvents.toLong).sum
    val progs = replays.toSeq.flatMap(_.progress)
    Window(
      e2e = Map(
        "events_per_s" -> replayed / secs.sum,
        "resync_s" -> Stats.median(secs)),
      latencyMs = lat.toSeq,
      layers = ctx.streamingLayers(progs, ctx.deltasOut()) ++ ctx.sinkLayers(replayed),
      attempted = progs.size, mismatch = mismatch,
      samples = Map("replays" -> replays.size, "latency" -> lat.size, "batches" -> progs.size),
      progress = progs)
  }

  def flowCheck(): (Seq[Double], Long) = {
    implicit val spark = ctx.spark
    val view = Examples.dashboard(ctx.logBatch(logDir)).toDF()
    val ms = (1 to 3).map(_ => Workload.timedMs(Trace.span("flow.snapshot")(ctx.run(view))))
    // the last replay's table is still in place
    val sink = new MeteredSink(ctx.url(dbs.head), Ctx.DashboardSpec, new SinkMeter)
    (ms, Workload.diffRows(ctx, view, sink))
  }

  def close(): Unit = { dbs.foreach(ctx.dropDb); dbs = Nil }
}

/** Open loop: on top of a replayed history, events arrive at a fixed rate
  * (2000 events/s, one file per 100 ms), stamped with the time each was
  * due. The usage view keeps per-machine open starts in state and only
  * ever inserts. */
final class LiveUsage(ctx: Ctx) extends Workload {
  private val shape = LogShape(machines = 2000, sources = 8, staleShare = 0.0, skew = 0.0)
  private val Rate = 2000
  private val FileMs = 100
  private val FileEvents = Rate * FileMs / 1000
  private val gen = new Gen(shape, ctx.seed)
  private val events = ArrayBuffer.fill(20000)(gen.next())
  private val logDir = ctx.dir("live/log")
  private var files = ctx.writeLog(logDir, events.toSeq, 1000)
  private var query: Option[StreamingQuery] = None
  private var db: Option[String] = None
  private var sink: MeteredSink = _

  def setup(): Double = {
    close()
    val t0 = System.nanoTime()
    val name = ctx.fresh("live")
    db = Some(name)
    sink = new MeteredSink(ctx.url(name), Ctx.UsageSpec, ctx.meter)
    // DeltaPipeline.start pins output mode "update", which Spark rejects
    // for an append-mode flatMapGroupsWithState; same wiring, append mode
    sink.bootstrap()
    val q = Workload.usageRows(ctx.logStream(logDir, None)).writeStream
      .outputMode("append").trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", ctx.dir(s"ckpt/$name").getPath)
      .foreachBatch(sink.foreachBatchWriter()).start()
    query = Some(q)
    q.processAllAvailable()
    (System.nanoTime() - t0) / 1e9
  }

  def window(seconds: Int): Window = {
    val q = query.get
    ctx.meter.reset()
    ctx.meter.keepInserted = true
    val progress0 = q.recentProgress.length
    val startUs = Clock.micros()
    val nFiles = seconds * 1000 / FileMs
    var lateMs = 0.0
    val live = ArrayBuffer.empty[LogEvent]
    val writer = new Thread(() => {
      for (k <- 0 until nFiles) {
        val evs = (0 until FileEvents).map { i =>
          gen.next(stampMicros = startUs + (k * FileEvents + i) * 1000000L / Rate)
        }
        val dueUs = startUs + (k + 1) * FileMs * 1000L
        val waitMs = (dueUs - Clock.micros()) / 1000L
        if (waitMs > 0) Thread.sleep(waitMs)
        lateMs = lateMs.max((Clock.micros() - dueUs) / 1000.0)
        Gen.writeFile(logDir, f"part-${files + k}%07d.jsonl", evs, Ctx.mtime(files + k))
        live ++= evs
      }
    }, "viewbench-generator")
    writer.start()
    writer.join()
    files += nFiles
    events ++= live
    q.processAllAvailable()
    ctx.meter.keepInserted = false
    val txns = ctx.meter.synchronized(ctx.meter.txns.toList)
    val inserted = ctx.meter.synchronized(ctx.meter.inserted.toList)
    // a usage row is behind its Stopped event, stamped started + duration
    val lat = inserted.collect {
      case (r, commitUs) if Workload.stopUs(r) >= startUs => (commitUs - Workload.stopUs(r)) / 1000.0
    }
    val progs = q.recentProgress.toSeq.drop(progress0).filter(_.numInputRows > 0)
    // one sync round = one micro-batch, from its trigger to its commit
    val rounds = progs.flatMap(p => txns.find(_.batchId == p.batchId)
      .map(t => (t.commitUs - Workload.isoMicros(p.timestamp)) / 1e6))
    val lastCommit = txns.map(_.commitUs).max
    val mismatch = Reference.bagDiff(sink.readRows(), Reference.usage(events))
    Window(
      e2e = Map(
        "events_per_s" -> live.size / ((lastCommit - startUs) / 1e6),
        "resync_s" -> Stats.median(rounds)),
      latencyMs = lat,
      layers = ctx.streamingLayers(progs, ctx.deltasOut()) ++ ctx.sinkLayers(live.size) +
        ("gen.late_ms_max" -> lateMs),
      attempted = progs.size, mismatch = mismatch,
      samples = Map("latency" -> lat.size, "batches" -> progs.size), progress = progs)
  }

  def flowCheck(): (Seq[Double], Long) = {
    implicit val spark = ctx.spark
    val view = Examples.usage(ctx.logBatch(logDir)).toDF()
    val ms = (1 to 3).map(_ => Workload.timedMs(Trace.span("flow.snapshot")(ctx.run(view))))
    (ms, Workload.diffRows(ctx, view, sink))
  }

  def close(): Unit = {
    query.foreach(_.stop()); query = None
    db.foreach(ctx.dropDb); db = None
  }
}

/** Batch profile: after a seeded history, events arrive at a fixed rate
  * (200 events/s), stamped with the time each was due. Each round appends
  * those that arrived since the last one to the log and re-syncs the
  * dashboard and usage Examples views with `BatchIncremental.sync`
  * (recompute, read the table back, diff, apply). Cost grows with log and
  * view size, not churn. */
final class ResyncBatch(ctx: Ctx) extends Workload {
  private val shape = LogShape(machines = 5000, sources = 8, staleShare = 0.05, skew = 0.0)
  private val ArrivalRate = 200
  private val gen = new Gen(shape, ctx.seed)
  private val events = ArrayBuffer.fill(60000)(gen.next())
  private val logDir = ctx.dir("resync/log")
  private var files = ctx.writeLog(logDir, events.toSeq, 1000)
  private var db: Option[String] = None
  private var dash: MeteredSink = _
  private var usage: MeteredSink = _
  private var round = 0L
  private var diffRows = 0L

  private def views(): Seq[(MeteredSink, DataFrame)] = {
    implicit val spark = ctx.spark
    val log = ctx.logBatch(logDir)
    Seq(dash -> Examples.dashboard(log).toDF(), usage -> Examples.usage(log).toDF())
  }

  /** Sync both views over the whole log as round `round`. */
  private def syncAll(): Unit = {
    val offsets = gen.highWater
    Trace.span("resync.round", round) {
      views().foreach { case (sink, view) =>
        diffRows += ctx.meter.call(Trace.span("BatchIncremental.sync", round)(
          BatchIncremental.sync(ctx.spark, view, sink, offsets, round)))
      }
    }
    round += 1
  }

  def setup(): Double = {
    close()
    val t0 = System.nanoTime()
    val name = ctx.fresh("resync")
    db = Some(name)
    dash = new MeteredSink(ctx.url(name), Ctx.DashboardSpec, ctx.meter)
    usage = new MeteredSink(ctx.url(name), Ctx.UsageSpec, ctx.meter)
    dash.bootstrap(); usage.bootstrap()
    round = 0
    syncAll()
    (System.nanoTime() - t0) / 1e9
  }

  def window(seconds: Int): Window = {
    ctx.meter.reset(); diffRows = 0
    val t0 = System.nanoTime()
    val startUs = Clock.micros()
    var arrivals = 0L
    val secs = ArrayBuffer.empty[Double]
    val rates = ArrayBuffer.empty[Double]
    val lat = ArrayBuffer.empty[Double]
    while (secs.isEmpty || System.nanoTime() - t0 < seconds * 1000000000L) {
      val now = Clock.micros()
      def due = startUs + arrivals * 1000000L / ArrivalRate
      val arrived = ArrayBuffer.empty[LogEvent]
      while (due <= now) { arrived += gen.next(stampMicros = due); arrivals += 1 }
      Gen.writeFile(logDir, f"part-$files%07d.jsonl", arrived.toSeq, Ctx.mtime(files))
      files += 1
      events ++= arrived
      val r0 = System.nanoTime()
      syncAll()
      val commitUs = Clock.micros()
      val s = (System.nanoTime() - r0) / 1e9
      secs += s
      rates += events.size / s
      // an arrival is visible once the round's last sync commits
      lat ++= arrived.map(e => (commitUs - e.tsMicros) / 1000.0)
    }
    val mismatch = Reference.bagDiff(dash.readRows(), Reference.dashboard(events.toSeq)) +
      Reference.bagDiff(usage.readRows(), Reference.usage(events.toSeq))
    Window(
      e2e = Map(
        "events_per_s" -> Stats.median(rates.toSeq),
        "resync_s" -> Stats.median(secs.toSeq)),
      latencyMs = lat.toSeq,
      layers = ctx.sinkLayers(arrivals),
      attempted = secs.size.toLong * 2, mismatch = mismatch,
      samples = Map("rounds" -> secs.size, "latency" -> lat.size), progress = Nil)
  }

  /** Each Examples view on its own over the final log (3× each); the
    * diff rows are those the window's syncs applied. */
  def flowCheck(): (Seq[Double], Long) = {
    val ms = views().flatMap { case (_, view) =>
      (1 to 3).map(_ => Workload.timedMs(Trace.span("flow.snapshot")(ctx.run(view))))
    }
    (ms, diffRows)
  }

  def close(): Unit = db.foreach(ctx.dropDb)
}
