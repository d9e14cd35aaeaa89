package viewbench

import scala.collection.mutable

/** Independent reference for the two machine views, in plain Scala over
  * the generated events (no Spark, no code of the program). Rows use the
  * sink's column order and JDBC value types (String, java.lang.Long,
  * null), so they compare directly with what the sink reads back. */
object Reference {

  private def isDrill(e: LogEvent) = e.machine.startsWith("Drill")

  /** Dashboard: per Drill machine the event that is latest by
    * (timestamp, lamport) → (machine, status, order or null, since). */
  def dashboard(events: Iterable[LogEvent]): Seq[Seq[Any]] = {
    val latest = mutable.HashMap.empty[String, LogEvent]
    events.iterator.filter(isDrill).foreach { e =>
      latest.get(e.machine) match {
        case Some(c) if c.tsMicros > e.tsMicros ||
          c.tsMicros == e.tsMicros && c.lamport >= e.lamport => ()
        case _ => latest(e.machine) = e
      }
    }
    latest.valuesIterator.map { e =>
      Seq[Any](e.machine, if (e.started) "working" else "idle",
        if (e.started) e.order else null, Long.box(e.tsMicros))
    }.toSeq
  }

  /** Usage: per Drill machine, events in lamport order; a Started opens its
    * order (a later Started of the same open order replaces it: the last
    * unmatched start wins), a Stopped of an open order emits
    * (machine, order, started, duration); other Stoppeds are dropped. */
  def usage(events: Iterable[LogEvent]): Seq[Seq[Any]] = {
    val out = Seq.newBuilder[Seq[Any]]
    events.filter(isDrill).groupBy(_.machine).foreach { case (machine, evs) =>
      val open = mutable.HashMap.empty[String, Long]
      evs.toSeq.sortBy(_.lamport).foreach { e =>
        if (e.started) open(e.order) = e.tsMicros
        else open.remove(e.order).foreach { st =>
          out += Seq[Any](machine, e.order, Long.box(st), Long.box(e.tsMicros - st))
        }
      }
    }
    out.result()
  }

  /** Size of the bag (multiset) symmetric difference of two row sets. */
  def bagDiff(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): Long = {
    val m = mutable.HashMap.empty[Seq[Any], Long]
    a.foreach(r => m(r) = m.getOrElse(r, 0L) + 1)
    b.foreach(r => m(r) = m.getOrElse(r, 0L) - 1)
    m.valuesIterator.map(math.abs).sum
  }
}
