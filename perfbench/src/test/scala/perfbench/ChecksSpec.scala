package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamEtl

/** Every checker accepts the right answer and fails a corrupted one. */
class ChecksSpec extends AnyFunSuite {
  private val day = Gen.crumbDay(2L, 0, 1, 1.0 / 40)

  test("reconciliation") {
    val ok = StreamEtl.Counters(day.consumed, day.valid, day.consumed - day.valid)
    assert(Checks.reconciles(day, ok))
    assert(!Checks.reconciles(day, ok.copy(inserted = ok.inserted - 1)))
    assert(!Checks.reconciles(day, ok.copy(consumed = ok.consumed + 1)))
    assert(!Checks.reconciles(day, ok.copy(skipped = ok.skipped + 1)))
  }

  test("trip table") {
    val want = day.mergedTrips
    val rows = want.values.toSeq
    assert(Checks.tripsMatch(want, rows))
    assert(!Checks.tripsMatch(want, rows.tail))
    assert(!Checks.tripsMatch(want, rows :+ rows.head))
    assert(!Checks.tripsMatch(want, rows.head.copy(routeId = 999) +: rows.tail))
  }

  test("hotspot answers, GeoJSON and SQL forms") {
    val want = Map((45.5, -122.6) -> 12.5, (45.6, -122.7) -> Double.NaN)
    val got = Seq((45.5, -122.6) -> 12.5, (45.6, -122.7) -> Double.NaN)
    assert(Checks.hotspotMatches(want, got))
    assert(!Checks.hotspotMatches(want, got.take(1)))
    assert(!Checks.hotspotMatches(want, Seq((45.5, -122.6) -> 12.6) ++ got.tail))
    val doc = """{"type": "FeatureCollection", "features": [""" +
      """{"type":"Feature","geometry":{"type":"Point","coordinates":[-122.6,45.5]},"properties":{"speed":12}}]}"""
    assert(Checks.geoJsonPoints(doc) == Seq((45.5, -122.6) -> 12.0))
    assert(!Checks.hotspotMatches(Map((45.5, -122.6) -> 13.0), Checks.geoJsonPoints(doc)))
    assert(Checks.sqlHotspotRows(Seq(Row("45.5 -122.6", 12.5), Row("45.6 -122.7", null))).size == 2)
  }

  test("scan answers") {
    val crumbs = day.crumbs
    val truth = Model(crumbs, day.trips).truth
    val ts = (us: Long) => new java.sql.Timestamp(us / 1000)
    val profile = Row(truth.rows, truth.trips, ts(truth.minTs), ts(truth.maxTs),
      truth.minLat, truth.maxLat, truth.maxSpeed, truth.avgSpeed)
    assert(truth.profileMatches(profile))
    assert(!truth.profileMatches(Row.fromSeq(profile.toSeq.updated(0, truth.rows - 1))))
    assert(!truth.profileMatches(Row.fromSeq(profile.toSeq.updated(7, truth.avgSpeed + 0.01))))
    assert(truth.longestMatches(Row(truth.longest._1, truth.longest._2)))
    assert(!truth.longestMatches(Row(truth.longest._1, truth.longest._2 + 5)))
    val dow = truth.dow.toSeq.map { case (k, (avg, n)) => Row(k, avg, n) }
    assert(truth.dowMatches(dow))
    assert(!truth.dowMatches(dow.map(r => Row(r.getString(0), r.getDouble(1) + 1, r.getLong(2)))))
  }

  test("curation flags") {
    val c = Gen.corpus(4L, 300)
    val right = c.docs.map { case (id, _) =>
      val bad = c.injected(id)
      (id, !bad, if (c.dups.contains(id)) "near_dup" else if (bad) "quality" else null)
    }
    assert(Checks.corpusFlags(c, right))
    val dup = c.dups.keys.head
    assert(!Checks.corpusFlags(c, right.map(r => if (r._1 == dup) (dup, true, null) else r)))
    val src = c.dups(dup)
    assert(!Checks.corpusFlags(c, right.map(r => if (r._1 == src) (src, false, "near_dup") else r)))
    assert(!Checks.corpusFlags(c, right.tail))
  }
}
