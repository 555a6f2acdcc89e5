package perfbench

import org.apache.spark.sql.{DataFrame, Row}

import graft.streaming.StreamEtl

/** Result checks: each compares what the engine returned with what the
  * generator recorded, or with a computation that does not go through
  * the engine's code for that result. */
object Checks {

  /** The reference's reconciliation: consumed = inserted + skipped, and
    * both sides equal the generator's counts. */
  def reconciles(day: Gen.Day, c: StreamEtl.Counters): Boolean =
    c.consumed == day.consumed && c.inserted == day.valid &&
      c.consumed == c.inserted + c.skipped

  def tripRows(df: DataFrame): Seq[Gen.TripRow] =
    df.select("trip_id", "route_id", "vehicle_id", "service_key", "direction")
      .collect().toSeq.map(r => Gen.TripRow(r.getInt(0), r.getInt(1), r.getInt(2),
        r.getString(3), r.getString(4)))

  /** Trip holds exactly one row per distinct valid trip, each updated by
    * its first-seen matching stop event. */
  def tripsMatch(expected: Map[Int, Gen.TripRow], actual: Seq[Gen.TripRow]): Boolean =
    actual.size == expected.size && actual.forall(t => expected.get(t.tripId).contains(t))

  /** Equal up to summation order; NaN stands for SQL NULL. */
  def close(a: Double, b: Double): Boolean =
    a == b || (a.isNaN && b.isNaN) ||
      math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  /** Hotspot answer: average speed per (latitude, longitude). */
  def hotspotMatches(expected: Map[(Double, Double), Double],
      actual: Seq[((Double, Double), Double)]): Boolean =
    actual.size == expected.size && actual.forall { case (k, v) =>
      expected.get(k).exists(close(_, v))
    }

  private val Feature =
    """"coordinates":\[([-0-9.Ee]+),([-0-9.Ee]+)\]},"properties":\{"speed":(-?\d+)\}""".r

  /** The points of a hotspot GeoJSON FeatureCollection, each with its
    * (truncated) speed. */
  def geoJsonPoints(doc: String): Seq[((Double, Double), Double)] = {
    require(doc.startsWith("""{"type": "FeatureCollection", "features": ["""),
      s"not a FeatureCollection: ${doc.take(80)}")
    Feature.findAllMatchIn(doc).map(m =>
      (m.group(2).toDouble, m.group(1).toDouble) -> m.group(3).toDouble).toSeq
  }

  /** Rows of the reference SQL: `latitude || ' ' || longitude`, AVG
    * (NULL, as NaN, for a point whose crumbs carry no speed). */
  def sqlHotspotRows(rows: Seq[Row]): Seq[((Double, Double), Double)] =
    rows.map { r =>
      val Array(lat, lon) = r.getString(0).split(" ")
      (lat.toDouble, lon.toDouble) -> (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))
    }

  /** Curation flags every injected duplicate, contaminated and garbled
    * document, never drops a duplicate's original as the duplicate, and
    * keeps most clean documents. */
  def corpusFlags(c: Gen.Corpus, rows: Seq[(Long, Boolean, String)]): Boolean = {
    val byId = rows.map(r => r._1 -> r).toMap
    val injected = c.injected
    val clean = c.docs.map(_._1).filterNot(injected)
    byId.size == rows.size && byId.keySet == c.docs.map(_._1).toSet &&
      injected.forall(id => !byId(id)._2) &&
      c.dups.values.forall(src => byId(src)._3 != "near_dup") &&
      clean.count(id => byId(id)._2) * 2 > clean.size
  }
}
