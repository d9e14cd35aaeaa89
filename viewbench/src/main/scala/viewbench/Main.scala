package viewbench

import java.io.{File, PrintWriter}
import graft.core.GraftSession

/** Benchmark entry point:
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR --traces DIR`.
  *
  * Sets the workload up three times (`setup_s` is the median), runs a
  * 3 s warm-up window, measures one untraced window for the end-to-end
  * metrics and, with `--trace 1`,
  * a second, traced window for the per-layer metrics and spans. The last
  * stdout line is the result JSON. */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "events_per_s" -> "1/s", "latency_p50_ms" -> "ms",
    "latency_p99_ms" -> "ms", "resync_s" -> "s", "peak_rss_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "streaming.trigger_ms_p50" -> "ms", "streaming.plan_ms_p50" -> "ms",
    "streaming.source_ms_p50" -> "ms", "streaming.commit_ms_p50" -> "ms",
    "streaming.state_update_ms_p50" -> "ms", "streaming.state_commit_ms_p50" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB",
    "streaming.batches" -> "count", "streaming.rows_in" -> "count",
    "streaming.deltas_out" -> "count", "streaming.delta_ratio" -> "ratio",
    "sink.prepare_ms_p50" -> "ms", "sink.txn_ms_p50" -> "ms", "sink.wait_ms_p50" -> "ms",
    "sink.jdbc_ms_p50" -> "ms", "sink.rows_per_s" -> "1/s", "sink.readback_ms_p50" -> "ms",
    "sink.inserts" -> "count", "sink.retractions" -> "count",
    "sink.inserts_per_event" -> "ratio", "sink.retractions_per_event" -> "ratio",
    "sink.replayed_batches" -> "count", "sink.offset_sources" -> "count",
    "flow.snapshot_ms_p50" -> "ms", "core.diff_rows" -> "count",
    "jvm.gc_ms" -> "ms", "gen.late_ms_max" -> "ms")

  private val SetupRepeats = 3
  private val WarmupSeconds = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val name = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val trace = need("trace") == "1"
    val work = new File(need("work"))
    val traces = new File(need("traces"))

    val t0 = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[viewbench] $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val spark = GraftSession.local(4)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val ctx = new Ctx(spark, work, seed)
    val wl = Workload(name, ctx)
    phase("session and log ready")
    try {
      val setups = (1 to SetupRepeats).map(_ => wl.setup())
      phase("set-up done")
      // the JIT is still compiling the hot paths after set-up: an unreported
      // window first, so the measured one runs warm
      val warm = wl.window(WarmupSeconds)
      phase("warm-up done")
      val plain = wl.window(seconds)
      phase("window done")
      val e2e = plain.endToEnd + ("setup_s" -> Stats.median(setups)) + ("peak_rss_mb" -> ctx.peakRssMb())
      var windows = Seq(warm, plain)
      val metrics =
        if (!trace) EndToEnd.map { case (m, u) => (m, e2e(m), u) }
        else {
          Trace.on = true
          ctx.meter.timed = true
          val gc0 = ctx.gcMs()
          val traced = wl.window(seconds)
          val gcMs = ctx.gcMs() - gc0
          val txns = ctx.meter.synchronized(ctx.meter.txns.toList)
          val (flowMs, diffRows) = wl.flowCheck()
          traced.progress.foreach { p =>
            val start = Workload.isoMicros(p.timestamp)
            val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
            Trace.record("streaming.batch", start, start + ms * 1000L, p.batchId)
          }
          Trace.on = false
          windows :+= traced
          val layers = traced.layers ++ Map(
            "flow.snapshot_ms_p50" -> Stats.median(flowMs),
            "core.diff_rows" -> diffRows.toDouble,
            "jvm.gc_ms" -> gcMs.toDouble)
          writeTrace(new File(traces, s"$name-seed$seed.json"), name, seed, plain, traced, txns, layers)
          PerLayer.map { case (m, u) => (m, layers.getOrElse(m, 0.0), u) }
        }
      val attempted = windows.map(_.attempted).sum
      // a failed micro-batch or sync throws: its query stops and the run
      // exits non-zero without a result, so a finished run failed none
      val failed = 0L
      val mismatch = windows.map(_.mismatch).sum
      println(s"[viewbench] workload=$name seed=$seed view_mismatch_rows=$mismatch " +
        s"error_rate=${failed.toDouble / attempted} samples=${windows.map(_.samples).mkString(" ")}")
      metrics.foreach { case (m, v, _) => require(!v.isNaN && !v.isInfinite, s"$m = $v") }
      println(s"""{"correct": ${mismatch == 0 && failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {""" +
        metrics.map { case (m, v, u) => s""""$m": {"value": $v, "unit": "$u"}""" }.mkString(", ") + "}}")
    } finally {
      wl.close()
      spark.stop()
      phase("stopped")
    }
  }

  private def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")

  /** One JSON file per traced run: both windows' end-to-end metrics and
    * the tracing overhead between them, the per-layer metrics, the
    * streaming progress counts per micro-batch, every sink transaction
    * with its inserts and retractions, and every span. */
  private def writeTrace(f: File, name: String, seed: Long, plain: Window, traced: Window,
                         txns: Seq[Txn], layers: Map[String, Double]): Unit = {
    val overhead = plain.endToEnd.map { case (k, v) => k -> (traced.endToEnd(k) / v - 1.0) }
    val progress = traced.progress.map { p =>
      val d = p.durationMs
      val durations = d.keySet.toArray.map(_.toString).sorted
        .map(k => s""""$k": ${d.get(k)}""").mkString("{", ", ", "}")
      s"""{"batchId": ${p.batchId}, "numInputRows": ${p.numInputRows}, "durationMs": $durations, """ +
        s""""stateRows": ${p.stateOperators.map(_.numRowsTotal).sum}, "stateRowsUpdated": ${p.stateOperators.map(_.numRowsUpdated).sum}}"""
    }
    val sinkTxns = txns.map { t =>
      s"""{"batchId": ${t.batchId}, "applied": ${t.applied}, "prepareMs": ${t.prepareNs / 1e6}, """ +
        s""""txnMs": ${(t.endNs - t.startNs) / 1e6}, "waitMs": ${t.waitNs / 1e6}, """ +
        s""""inserts": ${t.inserts}, "retractions": ${t.retractions}}"""
    }
    // a sink call inside a micro-batch runs on the engine's thread: its
    // parent is the streaming.batch span of that batch id around it
    val batches = Trace.all.filter(_.name == "streaming.batch")
    val spans = Trace.all.sortBy(_.startUs).map { s =>
      val parent = if (s.parent != 0 || s.name == "streaming.batch") s.parent
        else batches.find(b => b.batchId == s.batchId && b.startUs <= s.startUs + 1000 &&
          s.endUs <= b.endUs + 1000).fold(0)(_.id)
      s"""{"id": ${s.id}, "name": "${s.name}", "startUs": ${s.startUs}, "endUs": ${s.endUs}, "parent": $parent, "batchId": ${s.batchId}}"""
    }
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try w.write(
      s"""{"workload": "$name", "seed": $seed,
         |"untraced": ${obj(plain.endToEnd)},
         |"traced": ${obj(traced.endToEnd)},
         |"tracing_overhead": ${obj(overhead)},
         |"per_layer": ${obj(layers)},
         |"progress": [${progress.mkString(",\n")}],
         |"sink_txns": [${sinkTxns.mkString(",\n")}],
         |"spans": [${spans.mkString(",\n")}]}
         |""".stripMargin)
    finally w.close()
    println(s"[viewbench] trace written to ${f.getPath}")
  }
}
