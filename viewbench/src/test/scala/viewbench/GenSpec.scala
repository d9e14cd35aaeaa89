package viewbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private val shape = LogShape(machines = 300, sources = 8, staleShare = 0.1, skew = 0.8)

  test("one seed always gives the same log; another seed a different one") {
    def log(seed: Long) = { val g = new Gen(shape, seed); Vector.fill(5000)(g.next()) }
    assert(log(7) === log(7))
    assert(log(7) !== log(8))
  }

  test("lamport counts up; each source's offsets count up from 0 with no gap") {
    val g = new Gen(shape, 3)
    val evs = Vector.fill(5000)(g.next())
    assert(evs.map(_.lamport) === (1L to 5000L))
    evs.groupBy(_.source).foreach { case (_, es) => assert(es.map(_.offset) === es.indices.map(_.toLong)) }
    assert(g.highWater === evs.groupBy(_.source).map { case (s, es) => s -> es.map(_.offset).max })
  }

  test("a machine emits from one source; stale readings and unmatched stops occur") {
    val g = new Gen(shape, 5)
    val evs = Vector.fill(20000)(g.next())
    assert(evs.groupBy(_.machine).values.forall(_.map(_.source).distinct.size == 1))
    val stale = evs.groupBy(_.machine).values.map { es =>
      es.sliding(2).count { case Seq(a, b) => b.tsMicros < a.tsMicros; case _ => false }
    }.sum
    assert(stale.toDouble / evs.size > 0.05 && stale.toDouble / evs.size < 0.15)
    assert(evs.exists(e => !e.started && e.order.startsWith("x")))
    assert(evs.forall(_.machine.startsWith("Drill")))
  }

  test("skew concentrates events on few machines") {
    def top(skew: Double) = {
      val g = new Gen(shape.copy(skew = skew), 1)
      Vector.fill(20000)(g.next()).groupBy(_.machine).values.map(_.size).max
    }
    assert(top(1.2) > 4 * top(0.0))
  }

  test("an explicit stamp becomes the timestamp") {
    val g = new Gen(shape, 1)
    assert(g.next(stampMicros = 42L).tsMicros === 42L)
  }

  test("the JSON line carries the reference's event envelope") {
    val e = LogEvent("node-1", "Drill000007", 3L, 12L, 1000L, started = true, "o7_1")
    assert(e.json === """{"source":"node-1","stream_name":"Drill000007","semantics":"machineFish","offset":3,""" +
      """"lamport":12,"timestamp":1000,"payload":{"type":"started","order":"o7_1"}}""")
  }
}
