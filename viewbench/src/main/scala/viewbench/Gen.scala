package viewbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

/** One machine event of the log, in the reference's envelope (FIXTURES.md
  * §1-2): source node, stream (= machine), per-source offset, lamport,
  * timestamp in µs and a Started/Stopped payload. */
final case class LogEvent(source: String, machine: String, offset: Long,
                          lamport: Long, tsMicros: Long, started: Boolean,
                          order: String) {
  def json: String =
    s"""{"source":"$source","stream_name":"$machine","semantics":"machineFish","offset":$offset,""" +
      s""""lamport":$lamport,"timestamp":$tsMicros,"payload":{"type":"${if (started) "started" else "stopped"}","order":"$order"}}"""
}

/** Shape of a generated log.
  *
  * @param machines   number of distinct machines (keyspace of the views)
  * @param sources    number of source nodes; a machine always emits from one
  * @param staleShare share of events whose timestamp is older than the
  *                   machine's latest (a stale reading: no dashboard change)
  * @param skew       Zipf exponent of machine popularity (0 = uniform)
  *
  * Every machine is a `Drill…`, as in the reference's examples; the views
  * keep only those. */
final case class LogShape(machines: Int, sources: Int, staleShare: Double, skew: Double)

/** Seeded machine-event log generator. Every decision comes from one
  * `SplittableRandom(seed)`, so one seed always yields the same events;
  * only a stamp passed to [[next]] (the open loop's due time) comes from
  * the clock. Lamport is a global counter, so generation order
  * is lamport order, and each source's offsets count up from 0.
  *
  * Per machine it walks a small state machine: a Stopped mostly closes the
  * open order; sometimes the open order is restarted (the last unmatched
  * start wins), a second order is opened, or a Stopped names an order
  * that is not open (dropped by the usage view). */
final class Gen(shape: LogShape, seed: Long) {
  require(shape.machines > 0 && shape.sources > 0)
  private val rnd = new SplittableRandom(seed)

  private val names: Array[String] = Array.tabulate(shape.machines)(i => f"Drill$i%06d")
  // Zipf CDF over a seeded permutation, so hot machines are spread over
  // sources and names
  private val perm: Array[Int] = {
    val p = Array.range(0, shape.machines)
    for (i <- p.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t
    }
    p
  }
  private val cdf: Array[Double] = {
    val w = Array.tabulate(shape.machines)(r => 1.0 / math.pow(r + 1, shape.skew))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private val lastTs = Array.fill(shape.machines)(Gen.EpochMicros)
  private val open = Array.fill[List[String]](shape.machines)(Nil)
  private val orders = new Array[Int](shape.machines)
  private val offsets = new Array[Long](shape.sources)
  private var lamport = 0L

  private def pick(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    perm(math.min(if (i >= 0) i else -i - 1, shape.machines - 1))
  }

  private def newOrder(m: Int): String = { orders(m) += 1; s"o${m}_${orders(m)}" }

  /** Next event. `stampMicros` forces the timestamp (open-loop due time);
    * otherwise it advances the machine's clock by 1..60 s, or, with
    * probability `staleShare`, goes back by 1..600 s (a stale reading). */
  def next(stampMicros: Long = -1L): LogEvent = {
    val m = pick()
    val ts =
      if (stampMicros >= 0) stampMicros
      else if (rnd.nextDouble() < shape.staleShare)
        lastTs(m) - 1000000L * (1 + rnd.nextInt(600))
      else { lastTs(m) += 1000000L * (1 + rnd.nextInt(60)); lastTs(m) }
    val u = rnd.nextDouble()
    val (started, order) = open(m) match {
      case o :: rest if u < 0.75 => open(m) = rest; (false, o)
      case o :: _ if u < 0.85 => (true, o) // restart: overwrites the open start
      case _ if u < 0.95 || open(m).isEmpty && u < 0.97 =>
        val o = newOrder(m); open(m) = o :: open(m); (true, o)
      case _ => (false, s"x${m}_${rnd.nextInt(1000)}") // unmatched stop
    }
    lamport += 1
    val src = m % shape.sources
    val ev = LogEvent(s"node-$src", names(m), offsets(src), lamport, ts, started, order)
    offsets(src) += 1
    ev
  }

  /** Highest offset per source handed out so far (the log's high-water
    * mark, as the sink's offsets table would record it). */
  def highWater: Map[String, Long] =
    offsets.indices.filter(offsets(_) > 0).map(s => s"node-$s" -> (offsets(s) - 1)).toMap
}

object Gen {
  /** 2020-09-13T12:26:40Z: synthetic history starts here. */
  val EpochMicros: Long = 1600000000L * 1000000L

  /** Write `events` as one JSONL file into `dir`, atomically (written
    * beside it, then renamed in), with modification time `mtimeMs`: the
    * file source orders files by modification time, so increasing stamps
    * keep the log's file order. */
  def writeFile(dir: File, name: String, events: Seq[LogEvent], mtimeMs: Long): File = {
    val tmp = new File(dir.getParentFile, s".$name.tmp")
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(tmp), StandardCharsets.UTF_8))
    try events.foreach { e => w.write(e.json); w.write('\n') } finally w.close()
    require(tmp.setLastModified(mtimeMs), s"cannot stamp $tmp")
    val dst = new File(dir, name)
    Files.move(tmp.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
    dst
  }
}
