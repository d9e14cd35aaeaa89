package viewbench

import scala.collection.mutable.ArrayBuffer

/** Wall clock in epoch µs, read from the monotonic `nanoTime` so that
  * stamps taken on different threads order correctly. */
object Clock {
  private val anchorUs = System.currentTimeMillis() * 1000L
  private val anchorNs = System.nanoTime()
  def micros(): Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L
}

/** One traced interval. `parent` is the id of the enclosing span on the
  * same thread (0 = none); `batchId` is the micro-batch or sync round. */
final case class Span(id: Int, name: String, startUs: Long, endUs: Long,
                      parent: Int, batchId: Long)

/** In-memory span recorder around the benchmark's calls into the
  * program. Off, it only runs the body. Spans are written out once, at
  * the end of the run. */
object Trace {
  @volatile var on: Boolean = false
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[A](name: String, batchId: Long = -1L)(body: => A): A =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = Clock.micros()
      try body
      finally {
        stack.set(stack.get.tail)
        add(id, name, t0, Clock.micros(), parent, batchId)
      }
    }

  /** Record an interval measured elsewhere (e.g. a micro-batch reported
    * by the streaming engine's progress). */
  def record(name: String, startUs: Long, endUs: Long, batchId: Long): Unit =
    if (on) add(synchronized { nextId += 1; nextId }, name, startUs, endUs, 0, batchId)

  private def add(id: Int, name: String, s: Long, e: Long, parent: Int, batchId: Long): Unit =
    synchronized { spans += Span(id, name, s, e, parent, batchId) }

  def all: Seq[Span] = synchronized(spans.toList)
}
