package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.ctran.StopEvents

class GenSpec extends AnyFunSuite {

  test("a service day is the same for the same seed and differs across seeds") {
    val a = Gen.crumbDay(7L, 0, 2, 1.0 / 40)
    assert(a == Gen.crumbDay(7L, 0, 2, 1.0 / 40))
    assert(a.hourly != Gen.crumbDay(8L, 0, 2, 1.0 / 40).hourly)
  }

  test("day volumes keep the published week's ratios") {
    val days = (0 until 7).map(d => Gen.crumbDay(1L, 0, d, 1.0 / 40).consumed)
    for ((n, v) <- days.zip(Gen.WeekVolumes)) assert(math.abs(n - v / 40.0) <= 1)
  }

  test("about 0.5% of rows are invalid, of every kind, and late trips cross midnight") {
    val day = Gen.crumbDay(3L, 0, 6, 1.0 / 10)
    val lines = day.hourly.flatMap(_._2)
    assert(lines.size == day.consumed)
    val invalid = day.consumed - day.valid
    assert(invalid > day.consumed * 0.002 && invalid < day.consumed * 0.01)
    assert(lines.exists(_.contains("\"EVENT_NO_TRIP\":\"\"")))          // F1
    assert(lines.exists(_.contains("31-FOO-20")))                         // F2
    assert(lines.exists(l => l.contains("\"DIRECTION\":\"360\"") ||
      l.contains("\"DIRECTION\":\"-1\"")))                                // F3
    assert(lines.exists(_.contains("\"VELOCITY\":\"201\"")))              // F4
    val act = "\"ACT_TIME\":\"(\\d+)\"".r
    val times = lines.flatMap(l => act.findFirstMatchIn(l).map(_.group(1).toInt))
    assert(times.exists(_ > 172800))                                      // F5
    assert(times.exists(t => t > 86400 && t <= 172800))                   // past midnight
    assert(day.crumbs.size == day.valid)
  }

  test("stop pages parse to exactly the updates the generator recorded") {
    val day = Gen.crumbDay(5L, 1, 3, 1.0 / 40)
    val parsed = day.pages.flatMap(StopEvents.parsePage).map { e =>
      Gen.StopUpdate(e.trip_id.toInt, e.vehicle_number.toInt, e.route_number.toInt,
        if (e.direction == "1") "Back" else "Out",
        e.service_key match { case "W" => "Weekday"; case "S" => "Saturday"; case _ => "Sunday" })
    }
    assert(parsed.sortBy(_.toString) == day.updates.sortBy(_.toString))
  }

  test("the merge model applies the first-seen update only on a full key match") {
    val t = Gen.TripRow(1, 0, 3001, "Weekday", "Out")
    val u = Seq(
      Gen.StopUpdate(1, 3001, 10, "Out", "Weekday"),
      Gen.StopUpdate(1, 3001, 6, "Out", "Weekday"),   // first in the engine's order
      Gen.StopUpdate(2, 3001, 6, "Back", "Weekday"))  // trip 2 mismatches its vehicle
    val day = Gen.Day(java.time.LocalDate.of(2020, 9, 28), Nil, Nil, 0, 0,
      Map(1 -> t, 2 -> Gen.TripRow(2, 0, 3008, "Weekday", "Out")), u, Nil)
    assert(day.mergedTrips(1) == t.copy(routeId = 6))
    assert(day.mergedTrips(2).routeId == 0)
  }

  test("the document corpus is seeded and its injected documents are disjoint") {
    val c = Gen.corpus(11L, 400)
    assert(c == Gen.corpus(11L, 400))
    assert(c.docs.map(_._1).distinct.size == 400)
    assert(c.dups.keySet.intersect(c.contaminated).isEmpty)
    assert(c.dups.forall { case (dup, src) => dup > src && !c.injected(src) })
    assert(c.contaminated.forall(id => c.bench.exists(b => c.docs.find(_._1 == id).get._2.contains(b._2))))
  }
}
