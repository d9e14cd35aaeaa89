package viewbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import graft.sink.{JdbcDeltaSink, TableSpec}

/** One sink transaction as seen from outside. `prepareNs` is the time from
  * the call into the writer (`foreachBatchWriter`'s function, or
  * `BatchIncremental.sync`) to the start of the transaction: under AQE,
  * `toLocalIterator` runs every shuffle map stage of the delta plan there
  * (-1 when the transaction was not reached through such a call).
  * `waitNs` is the time spent pulling rows from the delta iterator inside
  * the transaction (the final stage); the rest of `endNs - startNs` is
  * JDBC. */
final case class Txn(batchId: Long, applied: Boolean, startNs: Long, endNs: Long,
                     commitUs: Long, prepareNs: Long, waitNs: Long, inserts: Long,
                     retractions: Long, rows: Long, offsetSources: Int)

/** Counters of the sink layer, filled by [[MeteredSink]]. */
final class SinkMeter {
  /** Time each pull on the delta iterator (tracing only: two clock reads
    * per row). */
  @volatile var timed = false
  /** Keep the inserted rows with their commit stamp (latency samples). */
  @volatile var keepInserted = false
  val txns = ArrayBuffer.empty[Txn]
  val readbackNs = ArrayBuffer.empty[Long]
  val inserted = ArrayBuffer.empty[(Seq[Any], Long)]

  private val callStart = new ThreadLocal[java.lang.Long]

  /** Run `body`, a call that ends in one sink transaction on this thread,
    * and stamp its start so that the transaction can report `prepareNs`. */
  def call[A](body: => A): A = {
    callStart.set(System.nanoTime())
    try body finally callStart.remove()
  }

  def callStartNs: Long = Option(callStart.get).fold(-1L)(_.longValue)

  def reset(): Unit = synchronized {
    txns.clear(); readbackNs.clear(); inserted.clear()
  }
}

/** The program's JDBC delta sink, measured at its public entry points:
  * `foreachBatchWriter` (every streaming micro-batch), `applyDeltasStreamed`
  * (every micro-batch and every `BatchIncremental.sync` ends in it) and
  * `readRows`. */
final class MeteredSink(url: String, spec: TableSpec, meter: SinkMeter)
    extends JdbcDeltaSink(url, spec) {

  override def foreachBatchWriter(): (DataFrame, Long) => Unit = {
    val write = super.foreachBatchWriter()
    (df, batchId) => meter.call(Trace.span(s"sink.batch:${spec.name}", batchId)(write(df, batchId)))
  }

  override def applyDeltasStreamed(offsets: Map[String, Long], batchId: Long,
                                   deltas: Iterator[(Seq[Any], Long)]): Boolean = {
    val timed = meter.timed
    val keep = meter.keepInserted
    var waitNs = 0L
    var inserts, retractions, rows = 0L
    val kept = ArrayBuffer.empty[Seq[Any]]
    val metered = new Iterator[(Seq[Any], Long)] {
      def hasNext: Boolean =
        if (!timed) deltas.hasNext
        else { val t = System.nanoTime(); try deltas.hasNext finally waitNs += System.nanoTime() - t }
      def next(): (Seq[Any], Long) = {
        val d =
          if (!timed) deltas.next()
          else { val t = System.nanoTime(); try deltas.next() finally waitNs += System.nanoTime() - t }
        rows += 1
        if (d._2 > 0) {
          inserts += d._2
          if (keep) (0L until d._2).foreach(_ => kept += d._1)
        } else retractions -= d._2
        d
      }
    }
    val t0 = System.nanoTime()
    val c0 = meter.callStartNs
    val applied = Trace.span(s"sink.txn:${spec.name}", batchId)(
      super.applyDeltasStreamed(offsets, batchId, metered))
    val t1 = System.nanoTime()
    val commitUs = Clock.micros()
    meter.synchronized {
      meter.txns += Txn(batchId, applied, t0, t1, commitUs, if (c0 < 0) -1L else t0 - c0,
        waitNs, inserts, retractions, rows, offsets.size)
      kept.foreach(r => meter.inserted += ((r, commitUs)))
    }
    applied
  }

  override def readRows(): Seq[Seq[Any]] = {
    val t0 = System.nanoTime()
    val rows = Trace.span(s"sink.readback:${spec.name}")(super.readRows())
    meter.synchronized(meter.readbackNs += System.nanoTime() - t0)
    rows
  }
}
