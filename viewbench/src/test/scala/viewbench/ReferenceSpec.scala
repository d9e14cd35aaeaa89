package viewbench

import org.scalatest.funsuite.AnyFunSuite

/** The reference views on tiny logs whose results are checked by hand. */
class ReferenceSpec extends AnyFunSuite {

  private var lamport = 0L
  private def ev(machine: String, started: Boolean, order: String, ts: Long, lam: Long = -1L) = {
    lamport += 1
    LogEvent("node-0", machine, lamport - 1, if (lam >= 0) lam else lamport, ts, started, order)
  }
  private def L(v: Long) = Long.box(v)

  test("dashboard: the monotonic max_by golden feeds (FIXTURES.md §4) end at {11, 7}") {
    // feeds [1], [1], [11, 2], [6, 7] with key x % 5 and the value as the
    // timestamp: max_by's deltas consolidate to key 1 → 11, key 2 → 7
    val log = Seq(1L, 1L, 11L, 2L, 6L, 7L).map(x => ev(s"Drill${x % 5}", started = false, "o", x))
    assert(Reference.dashboard(log).toSet ===
      Set(Seq("Drill1", "idle", null, L(11)), Seq("Drill2", "idle", null, L(7))))
  }

  test("dashboard: one row per Drill machine, latest by (timestamp, lamport); stale readings lose") {
    val log = Seq(
      ev("Drill1", started = true, "a", 100),
      ev("Drill1", started = false, "a", 300),
      ev("Drill1", started = true, "b", 200), // stale: older timestamp
      ev("Drill2", started = true, "c", 50),
      ev("Drill2", started = false, "c", 50), // same timestamp, later lamport wins
      ev("Press1", started = true, "d", 999)) // not a Drill: filtered
    assert(Reference.dashboard(log).toSet ===
      Set(Seq("Drill1", "idle", null, L(300)), Seq("Drill2", "idle", null, L(50))))
  }

  test("usage: matched in lamport order; last unmatched start wins; unmatched stops drop") {
    // the machine-usage sequence of the streaming examples spec, one log
    val log = Seq(
      ev("Drill1", started = true, "a", 1000, lam = 1),
      ev("Drill2", started = true, "x", 500, lam = 1),
      ev("Drill1", started = false, "a", 1800, lam = 2),
      ev("Drill2", started = false, "y", 950, lam = 3), // arrives before its start
      ev("Drill2", started = true, "y", 900, lam = 2), // lamport sorts it first
      ev("Drill2", started = false, "zzz", 2000, lam = 4), // never started: dropped
      ev("Drill2", started = true, "x", 2100, lam = 5), // restart of open x: overwrites
      ev("Drill2", started = false, "x", 2500, lam = 6),
      ev("Press9", started = true, "p", 1, lam = 7),
      ev("Press9", started = false, "p", 2, lam = 8))
    assert(Reference.usage(log).sortBy(_.toString) === Seq(
      Seq("Drill1", "a", L(1000), L(800)),
      Seq("Drill2", "x", L(2100), L(400)),
      Seq("Drill2", "y", L(900), L(50))))
  }

  test("usage keeps bag multiplicity") {
    val log = Seq(
      ev("Drill1", started = true, "a", 10), ev("Drill1", started = false, "a", 20),
      ev("Drill1", started = true, "a", 10), ev("Drill1", started = false, "a", 20))
    assert(Reference.usage(log) === Seq(Seq("Drill1", "a", L(10), L(10)), Seq("Drill1", "a", L(10), L(10))))
  }

  test("bagDiff counts every unmatched copy on either side") {
    val a = Seq(Seq[Any]("m", L(1)), Seq[Any]("m", L(1)), Seq[Any]("n", null))
    assert(Reference.bagDiff(a, a.reverse) === 0L)
    assert(Reference.bagDiff(a, a.take(1)) === 2L)
    assert(Reference.bagDiff(a, a :+ Seq[Any]("o", L(2))) === 1L)
  }
}
