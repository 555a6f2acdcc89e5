package perfbench

import java.nio.file.Path
import java.time.{Instant, LocalDate, ZoneOffset}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.ctran.{Analytics, Load, Schemas, StopEvents, Transform}
import graft.streaming.{IdempotentSink, StreamEtl}

/** `ctran_week`: the reference's daily cron replayed on the first day of
  * the published Sat→Fri week, with the analysts' requests against the
  * tables it writes. The day's hourly JSONL files land in the topic
  * directory and one exactly-once AvailableNow stream run drains them;
  * the day's stop-event pages are parsed and merged into Trip; then one
  * client sends eight hotspot queries (`Analytics.hotspot` +
  * `geoJsonCollection` and the reference's SQL text, alternating) and
  * the four full-table scans (profile, longest trip, day-of-week
  * volumes, FK audit), two hotspots before each scan, on the tables as
  * the day's load left them.
  *
  * Op = one hotspot request, aux = one scan, unit = a thousand records
  * drained and merged: the work is the drain and the stop merge. */
final class CtranWorkload(spark: SparkSession, seed: Long) extends Workload {
  /** Share of the published volume: the Saturday is ~4.3k records here. */
  val Scale = 1.0 / 40
  /** The day's 24 hourly files go in one micro-batch: at this scale a day
    * is 3-9k records, inside the reference consumer's 10k flush. */
  val FilesPerTrigger = 24
  /** Requests after the drain and the stop merge: two hotspots, then a
    * scan, four times. */
  val Requests = 12
  val ScanKinds = Vector("profile", "longest_trip", "dow_volumes", "fk_audit")

  private val r = Gen.rng(seed, 31L)
  private var dir: Path = _
  private var today: Gen.Day = _
  /** Model of the two tables: every valid crumb drained, and Trip as the
    * stop merge left it. */
  private var crumbs = Seq.empty[Gen.Crumb]
  private var trips = Map.empty[Int, Gen.TripRow]

  private def bcDir = dir.resolve("bc").toString
  private def tripDir = dir.resolve("trip").toString

  def setup(d: Path): Unit = {
    dir = d
    crumbs = Nil
    trips = Map.empty
    today = Gen.crumbDay(seed, 0, 0, Scale)
    Gen.writeDay(today, d.resolve("day/crumbs"), d.resolve("day/stops"))
  }

  /** Two small extra service days, each drained and merged into its own
    * throwaway tables, then both hotspot forms and the four scans on the
    * second: each plan's first runs are the slow ones. */
  def warmup(rec: Rec): Unit = for (k <- 0 until 2) {
    val d = Gen.crumbDay(seed ^ (0x5eedL + k), 0, 0, Scale / 2)
    val w = dir.resolve(s"warmup$k")
    Gen.writeDay(d, w.resolve("crumbs"), w.resolve("stops"))
    val bc = w.resolve("bc").toString
    val trip = w.resolve("trip").toString
    Main.timed(rec, "warmup drain")(StreamEtl.runExactlyOnce(spark, w.resolve("crumbs").toString,
      bc, trip, w.resolve("ck").toString, FilesPerTrigger))(Checks.reconciles(d, _))
    Main.timed(rec, "warmup stop merge")(Load.mergeStopEvents(spark,
      Transform.stopEventUpdates(StopEvents.fromFiles(spark, w.resolve("stops").toString)),
      trip))(_ => Checks.tripsMatch(d.mergedTrips, Checks.tripRows(spark.read.parquet(trip))))
    if (k == 1) {
      val model = Model(d.crumbs, d.mergedTrips)
      val t = d.mergedTrips.values.minBy(_.tripId)
      open(bc, trip)
      for (sql <- Seq(false, true))
        Main.timed(rec, "warmup hotspot")(hotspot(sql, t, 0, 23))(
          model.hotspotMatches(t, d.date, 0, 23, sql, _))
      for (kind <- ScanKinds.indices) scan(kind, model.truth, rec)
    }
  }

  def steps: Int = 2 + Requests

  /** Hotspot number `j` of the day uses the SQL text when odd. */
  private def hotspotOf(i: Int): Int = (i - 2) / 3 * 2 + (i - 2) % 3

  override def kindOf(i: Int): String = i match {
    case 0 => "drain"
    case 1 => "merge"
    case k if (k - 2) % 3 == 2 => ScanKinds((k - 2) / 3)
    case k => if (hotspotOf(k) % 2 == 0) "hotspot.geojson" else "hotspot.sql"
  }

  def step(i: Int, traced: Boolean, rec: Rec): Unit = i match {
    case 0 => drain(traced, rec)
    case 1 => merge(rec)
    case k if (k - 2) % 3 == 2 =>
      for (s <- scan((k - 2) / 3, Model(crumbs, trips).truth, rec)) {
        rec.aux += s
        rec.cost(s)
      }
    case k => request(hotspotOf(k) % 2 == 1, traced, rec)
  }

  /** Probes of traced operations, run after the measured window so that
    * a traced run's window holds the same operations as an untraced one. */
  private val deferred = mutable.ArrayBuffer.empty[() => Unit]

  override def finish(rec: Rec): Unit = if (deferred.nonEmpty) {
    // once untraced first, so that the timed probes run warm plans like
    // the measured operations do
    deferred.foreach(_())
    Trace.on = true
    try Trace.probe(deferred.foreach(_())) finally Trace.on = false
  }

  private def drain(traced: Boolean, rec: Rec): Unit = {
    val crumbsIn = dir.resolve("day/crumbs")
    // the day lands in the topic directory off the clock
    val topic = dir.resolve("topic")
    java.nio.file.Files.createDirectories(topic)
    for (f <- crumbsIn.toFile.listFiles())
      java.nio.file.Files.copy(f.toPath, topic.resolve(f.getName))
    val took = Main.timed(rec, "drain")(Trace.span("op.drain") {
      Trace.span("stream.runExactlyOnce") {
        StreamEtl.runExactlyOnce(spark, topic.toString, bcDir, tripDir,
          dir.resolve("checkpoint").toString, FilesPerTrigger)
      }
    })(Checks.reconciles(today, _))
    for (s <- took) {
      rec.work(today.consumed / 1000.0, s)
      rec.extra("day_drain") += s
      rec.cost(s)
    }
    crumbs = today.crumbs
    trips = today.trips
    if (traced) deferred += (() => probes(crumbsIn, rec))
  }

  private def merge(rec: Rec): Unit = {
    trips = today.mergedTrips
    val stops = dir.resolve("day/stops").toString
    for (s <- Main.timed(rec, "stop merge")(Trace.span("op.merge") {
        Trace.span("load.mergeStopEvents") {
          val pages = Trace.span("stops.fromFiles")(StopEvents.fromFiles(spark, stops))
          Load.mergeStopEvents(spark, Transform.stopEventUpdates(pages), tripDir)
        }
      })(_ => Checks.tripsMatch(trips, Checks.tripRows(spark.read.parquet(tripDir))))) {
      rec.extra("stop_merge") += s
      rec.work(0, s) // the Trip rewrite is part of the day's load
      rec.cost(s)
    }
    open(bcDir, tripDir)
    if (Trace.on) rec.note("load.trip_rows_rewritten", trips.size.toDouble)
  }

  /** The analyst's tables, opened after the day's load. */
  private var bcDf, tripDf: DataFrame = _
  private def open(bc: String, trip: String): Unit = {
    bcDf = spark.read.parquet(bc)
    tripDf = spark.read.parquet(trip)
    Analytics.registerViews(spark, bcDf, tripDf)
  }

  private def hotspot(sql: Boolean, t: Gen.TripRow, lo: Int, hi: Int): Seq[((Double, Double), Double)] = {
    val at = tripDay(t.tripId)
    val (m, d) = (at.getMonthValue, at.getDayOfMonth)
    if (!sql)
      Checks.geoJsonPoints(Trace.span("analytics.geoJsonCollection") {
        Analytics.geoJsonCollection(Analytics.hotspot(bcDf, tripDf, t.vehicleId,
          t.routeId, m, d, lo, hi))
      })
    else Checks.sqlHotspotRows(Trace.span("analytics.sql") {
      spark.sql(s"""
        SELECT latitude || ' ' || longitude, AVG(speed)
        FROM breadcrumb b JOIN trip t ON b.trip_id = t.trip_id
        WHERE t.vehicle_id = ${t.vehicleId} AND t.route_id = ${t.routeId}
          AND t.direction = 'Out'
          AND date_part('month', b.tstamp) = $m AND date_part('day', b.tstamp) = $d
          AND date_part('hour', b.tstamp) BETWEEN $lo AND $hi
        GROUP BY latitude || ' ' || longitude""").collect().toSeq
    })
  }

  /** Service date of a generated trip id. */
  private def tripDay(tripId: Int): LocalDate = {
    Gen.FirstSaturday.plusDays((tripId - 100000000) / 10000)
  }

  /** A hotspot over a trip a stop event routed 'Out' (a non-empty
    * answer), or any trip when none is, for an hour window around its run. */
  private def request(sql: Boolean, traced: Boolean, rec: Rec): Unit = {
    val all = trips.values.toIndexedSeq.sortBy(_.tripId)
    val routed = all.filter(t => t.routeId != 0 && t.direction == "Out")
    val pool = if (routed.nonEmpty) routed else all
    val t = pool(r.nextInt(pool.size))
    val start = crumbs.find(_.tripId == t.tripId).map(c =>
      Instant.ofEpochSecond(c.tsMicros / 1000000).atZone(ZoneOffset.UTC).getHour).getOrElse(12)
    val (lo, hi) = (start, math.min(23, start + 1 + r.nextInt(2)))
    val model = Model(crumbs, trips)
    for (s <- Main.timed(rec, s"hotspot ${rec.kind}")(Trace.span("op.hotspot") {
        hotspot(sql, t, lo, hi)
      })(model.hotspotMatches(t, tripDay(t.tripId), lo, hi, sql, _))) {
      rec.op += s
      rec.cost(s)
    }
    if (traced && !sql) deferred += { () =>
      // the hotspot frame alone, forced without the GeoJSON wrap, on the
      // tables as the run left them
      val at = tripDay(t.tripId)
      val df = Analytics.hotspot(spark.read.parquet(bcDir), spark.read.parquet(tripDir),
        t.vehicleId, t.routeId, at.getMonthValue, at.getDayOfMonth, lo, hi)
      Trace.span("analytics.hotspot")(df.write.format("noop").mode("overwrite").save())
    }
  }

  /** One full-table scan of the given kind, checked against `truth`. */
  private def scan(kind: Int, truth: Truth, rec: Rec): Option[Sample] =
    kind match {
      case 0 => Main.timed(rec, "profile")(Trace.span("op.scan") {
          Trace.span("analytics.profile")(Analytics.profile(bcDf).collect().head)
        })(truth.profileMatches)
      case 1 => Main.timed(rec, "longest trip")(Trace.span("op.scan") {
          Trace.span("analytics.longestTrips")(Analytics.longestTrips(bcDf).collect().head)
        })(truth.longestMatches)
      case 2 => Main.timed(rec, "dow volumes")(Trace.span("op.scan") {
          Trace.span("analytics.dowVolumes")(Analytics.dowVolumes(bcDf).collect().toSeq)
        })(truth.dowMatches)
      case _ => Main.timed(rec, "fk audit")(Trace.span("op.scan") {
          Trace.span("analytics.fkViolations")(Analytics.fkViolations(bcDf, tripDf).count())
        })(_ == 0L)
    }

  /** The lazy layers the drain runs inside the stream, forced one at a
    * time with a `noop` write from cached inputs, into throwaway dirs. */
  private def probes(crumbsIn: Path, rec: Rec): Unit = {
    val p = dir.resolve("probe")
    val in = crumbsIn.toString
    Trace.span("ingest.parse") {
      spark.read.schema(Schemas.rawBreadcrumb).json(in).write.format("noop").mode("overwrite").save()
    }
    val raw = spark.read.schema(Schemas.rawBreadcrumb).json(in).cache()
    val consumed = raw.count()
    val enriched = Transform.enrich(raw).filter(Transform.isValid)
    Trace.span("transform.enrich")(enriched.write.format("noop").mode("overwrite").save())
    rec.note("ingest.records", consumed.toDouble)
    rec.note("transform.valid_ratio", enriched.count().toDouble / consumed)
    val (bc, trips) = Load.prepare(raw)
    val bcCached = bc.cache()
    bcCached.count()
    Trace.span("load.insertTrips")(Load.insertTrips(spark, trips, p.resolve("trip").toString))
    Trace.span("load.insertBreadcrumbs")(Load.insertBreadcrumbs(bcCached, p.resolve("bc").toString))
    Trace.span("stream.appendOnce")(IdempotentSink.appendOnce(bcCached, 0L, p.resolve("sink").toString))
    bcCached.unpersist()
    raw.unpersist()
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
  }
}

/** The answers the tables must give, from the generator's model. */
final case class Model(crumbs: Seq[Gen.Crumb], trips: Map[Int, Gen.TripRow]) {
  private def at(c: Gen.Crumb) =
    Instant.ofEpochSecond(c.tsMicros / 1000000).atZone(ZoneOffset.UTC)

  /** Average speed per (latitude, longitude) of the crumbs of trips with
    * `t`'s vehicle and route running 'Out', on `day`, in hours
    * `lo`..`hi`. `Analytics.hotspot` drops crumbs without a speed (F6);
    * the reference SQL keeps their points, averaging to NULL (NaN). */
  def hotspot(t: Gen.TripRow, day: LocalDate, lo: Int, hi: Int,
      sql: Boolean): Map[(Double, Double), Double] = {
    val ids = trips.values.filter(x => x.vehicleId == t.vehicleId &&
      x.routeId == t.routeId && x.direction == "Out").map(_.tripId).toSet
    crumbs.filter { c =>
      val z = at(c)
      ids(c.tripId) && (sql || c.speed.isDefined) && z.toLocalDate == day &&
        z.getHour >= lo && z.getHour <= hi
    }.groupBy(c => (c.lat, c.lon)).map { case (k, cs) =>
      val sp = cs.flatMap(_.speed)
      k -> (if (sp.isEmpty) Double.NaN else sp.sum / sp.size)
    }
  }

  def hotspotMatches(t: Gen.TripRow, day: LocalDate, lo: Int, hi: Int, sql: Boolean,
      got: Seq[((Double, Double), Double)]): Boolean = {
    val want = hotspot(t, day, lo, hi, sql)
    // the GeoJSON form carries the truncated speed
    Checks.hotspotMatches(if (sql) want else want.map { case (k, v) => k -> v.toInt.toDouble }, got)
  }

  lazy val truth: Truth = {
    val perDate = crumbs.groupBy(c => at(c).toLocalDate).map { case (d, cs) => d -> cs.size.toLong }
    val spans = crumbs.groupBy(_.tripId).map { case (id, cs) =>
      id -> (cs.map(_.tsMicros).max - cs.map(_.tsMicros).min) / 1000000
    }
    val longest = spans.toSeq.minBy { case (id, dur) => (-dur, id) }
    val speeds = crumbs.flatMap(_.speed)
    Truth(crumbs.size.toLong, spans.size.toLong, crumbs.map(_.tsMicros).min,
      crumbs.map(_.tsMicros).max, crumbs.map(_.lat).min, crumbs.map(_.lat).max,
      speeds.max, speeds.sum / speeds.size, longest,
      perDate.groupBy { case (d, _) =>
        d.getDayOfWeek.getDisplayName(java.time.format.TextStyle.FULL, java.util.Locale.ENGLISH)
      }.map { case (k, v) => k -> (v.values.sum.toDouble / v.size, v.size.toLong) })
  }
}

/** Whole-table answers of the scan queries. */
final case class Truth(rows: Long, trips: Long, minTs: Long, maxTs: Long,
    minLat: Double, maxLat: Double, maxSpeed: Double, avgSpeed: Double,
    longest: (Int, Long), dow: Map[String, (Double, Long)]) {

  private def micros(t: java.sql.Timestamp): Long =
    t.getTime / 1000 * 1000000 + t.getNanos / 1000 % 1000000

  def profileMatches(p: Row): Boolean =
    p.getLong(0) == rows && p.getLong(1) == trips &&
      micros(p.getTimestamp(2)) == minTs && micros(p.getTimestamp(3)) == maxTs &&
      p.getDouble(4) == minLat && p.getDouble(5) == maxLat &&
      p.getDouble(6) == maxSpeed && Checks.close(p.getDouble(7), avgSpeed)

  def longestMatches(r: Row): Boolean =
    r.getInt(0) == longest._1 && r.getLong(1) == longest._2

  def dowMatches(rs: Seq[Row]): Boolean =
    rs.size == dow.size && rs.forall { r =>
      dow.get(r.getString(0)).exists { case (avg, n) =>
        Checks.close(r.getDouble(1), avg) && r.getLong(2) == n
      }
    }
}
