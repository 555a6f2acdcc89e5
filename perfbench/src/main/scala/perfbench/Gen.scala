package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable

/** Seeded input generators. Every generator is a pure function of its
  * seed and size arguments, and returns the answers the engine must
  * produce alongside the inputs, so the checks never ask the engine
  * under test what the right answer is. */
object Gen {

  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  // ---- C-Tran breadcrumbs (FIXTURES.md §1) ----

  /** The published Sat→Fri week of breadcrumb volumes (Project 4.pdf p.7). */
  val WeekVolumes: Seq[Int] =
    Seq(172896, 134976, 365496, 364554, 365570, 373534, 375773)
  /** ~2.15 M records over ~10k trips in the published week. */
  val CrumbsPerTrip = 215
  val FirstSaturday: LocalDate = LocalDate.of(2020, 9, 26)
  val Vehicles: IndexedSeq[Int] = (0 until 104).map(3001 + _ * 7)
  val Routes: IndexedSeq[Int] = (0 until 24).map(i => 2 + i * 4)

  private val OpdFmt = DateTimeFormatter.ofPattern("dd-MMM-yy", Locale.ENGLISH)
  def opdDate(d: LocalDate): String = d.format(OpdFmt).toUpperCase(Locale.ROOT)

  /** Service key of a date, as the reference derives it. */
  def serviceKey(d: LocalDate): String = d.getDayOfWeek.getValue match {
    case 6 => "Saturday"
    case 7 => "Sunday"
    case _ => "Weekday"
  }

  /** One Trip-table row as the engine should hold it. */
  final case class TripRow(tripId: Int, routeId: Int, vehicleId: Int,
      serviceKey: String, direction: String)

  /** One typed stop-event update (after `Transform.stopEventUpdates`). */
  final case class StopUpdate(tripId: Int, vehicleId: Int, routeId: Int,
      direction: String, serviceKey: String) {
    /** The engine's first-seen order without an arrival column: all
      * columns, sorted by name, ascending. */
    def sortKey: (String, Int, String, Int, Int) =
      (direction, routeId, serviceKey, tripId, vehicleId)
  }

  /** A generated service day: the raw JSONL lines by hour, the stop-event
    * pages, and what the engine must report for them. */
  final case class Day(date: LocalDate, hourly: Seq[(Int, Seq[String])],
      pages: Seq[String], consumed: Long, valid: Long,
      trips: Map[Int, TripRow], updates: Seq[StopUpdate], crumbs: Seq[Crumb]) {
    /** Trip rows after `Load.mergeStopEvents`: first-seen update per
      * trip, applied when (trip, vehicle, service key) match. */
    def mergedTrips: Map[Int, TripRow] = {
      val first = updates.groupBy(_.tripId).map { case (t, us) =>
        t -> us.minBy(_.sortKey)(Ordering.Tuple5[String, Int, String, Int, Int])
      }
      trips.map { case (id, t) =>
        id -> (first.get(id) match {
          case Some(u) if u.vehicleId == t.vehicleId && u.serviceKey == t.serviceKey =>
            t.copy(routeId = u.routeId, direction = u.direction)
          case _ => t
        })
      }
    }
  }

  /** Week `week`, day `dow` (0 = Saturday) of the replayed C-Tran week,
    * at `scale` of the published volume. About 0.5% of rows are invalid
    * (F1 missing trip, F2 unparseable date, F3 heading out of range, F4
    * speed over 200, F5 ACT_TIME past 48 h); trips starting late run
    * past midnight (ACT_TIME > 86400) and stay valid. */
  def crumbDay(seed: Long, week: Int, dow: Int, scale: Double): Day = {
    val r = rng(seed, 1000L * week + dow)
    val date = FirstSaturday.plusDays(7L * week + dow)
    val opd = opdDate(date)
    val records = math.max(CrumbsPerTrip, (WeekVolumes(dow) * scale).round.toInt)
    val nTrips = math.max(1, records / CrumbsPerTrip)
    val byHour = Array.fill(24)(new mutable.ArrayBuffer[String])
    val trips = mutable.Map.empty[Int, TripRow]
    val crumbs = mutable.ArrayBuffer.empty[Crumb]
    val midnight = date.atStartOfDay(ZoneOffset.UTC).toEpochSecond
    var valid = 0L
    var emitted = 0
    val svc = serviceKey(date)
    for (t <- 0 until nTrips) {
      val tripId = 100000000 + week * 70000 + dow * 10000 + t
      val vehicle = Vehicles(r.nextInt(Vehicles.size))
      val n = if (t == nTrips - 1) records - emitted else CrumbsPerTrip
      // start times spread over the service day; the last hour's trips
      // cross midnight
      val start = 18000 + r.nextInt(86000 - 18000 + 1200)
      var lat = 45.49 + r.nextDouble() * 0.38
      var lon = -122.69 + r.nextDouble() * 0.29
      for (i <- 0 until n) {
        val act = start + 5 * i
        lat += (r.nextInt(11) - 5) * 1e-4
        lon += (r.nextInt(11) - 5) * 1e-4
        val f = new Array[String](8)
        f(0) = tripId.toString; f(1) = opd; f(2) = act.toString
        f(3) = vehicle.toString
        f(4) = String.format(Locale.ROOT, "%.5f", Double.box(lat))
        f(5) = String.format(Locale.ROOT, "%.5f", Double.box(lon))
        f(6) = if (r.nextInt(100) == 0) "" else r.nextInt(360).toString
        f(7) = if (r.nextInt(100) == 0) "" else r.nextInt(60).toString
        val invalid = r.nextInt(200) == 0
        if (invalid) r.nextInt(5) match {
          case 0 => f(0) = ""                                  // F1
          case 1 => f(1) = "31-FOO-20"                         // F2
          case 2 => f(6) = if (r.nextBoolean()) "360" else "-1" // F3
          case 3 => f(7) = "201"                               // F4
          case _ => f(2) = (172801 + r.nextInt(5000)).toString // F5
        } else {
          valid += 1
          trips.getOrElseUpdate(tripId, TripRow(tripId, 0, vehicle, svc, "Out"))
          crumbs += Crumb((midnight + act) * 1000000L, f(4).toDouble, f(5).toDouble,
            f(6).toIntOption, f(7).toDoubleOption, tripId)
        }
        byHour(math.min(23, act / 3600)) += crumbJson(f)
        emitted += 1
      }
    }
    // stop events: most trips get a page of one block, some 2-3 (the
    // first-seen rule then picks one), mostly 'Out'; a few name the
    // wrong vehicle or service key (the keyed update then no-ops), and a
    // few name a trip that never ran
    val updates = mutable.ArrayBuffer.empty[StopUpdate]
    val pages = mutable.ArrayBuffer.empty[String]
    for (t <- trips.values.toSeq.sortBy(_.tripId) if r.nextInt(10) != 0) {
      val blocks = (0 until (if (r.nextInt(4) == 0) 2 + r.nextInt(2) else 1)).map { _ =>
        val veh = if (r.nextInt(20) == 0) t.vehicleId + 1 else t.vehicleId
        val sk = if (r.nextInt(20) == 0) "U" else svcCode(svc)
        val route = Routes(r.nextInt(Routes.size))
        val dir = if (r.nextInt(4) == 0) "1" else "0"
        updates += StopUpdate(t.tripId, veh, route,
          if (dir == "1") "Back" else "Out", decodeSvc(sk))
        stopBlock(t.tripId, veh, route, dir, sk)
      }
      pages += stopPage(blocks)
    }
    for (k <- 0 until math.max(1, trips.size / 50)) {
      val ghost = 199000000 + week * 7000 + dow * 1000 + k
      updates += StopUpdate(ghost, Vehicles(0), Routes(0), "Out", "Weekday")
      pages += stopPage(Seq(stopBlock(ghost, Vehicles(0), Routes(0), "0", "W")))
    }
    Day(date, byHour.indices.collect {
        case h if byHour(h).nonEmpty => h -> byHour(h).toSeq
      }, pages.toSeq, emitted.toLong, valid, trips.toMap, updates.toSeq, crumbs.toSeq)
  }

  private val CrumbKeys = Seq("EVENT_NO_TRIP", "OPD_DATE", "ACT_TIME",
    "VEHICLE_ID", "GPS_LATITUDE", "GPS_LONGITUDE", "DIRECTION", "VELOCITY")

  private def crumbJson(f: Array[String]): String =
    CrumbKeys.indices.map(i => "\"" + CrumbKeys(i) + "\":\"" + f(i) + "\"")
      .mkString("{", ",", "}")

  private def svcCode(svc: String): String = svc match {
    case "Weekday" => "W"
    case "Saturday" => "S"
    case _ => "U"
  }
  private def decodeSvc(code: String): String = code match {
    case "W" => "Weekday"
    case "S" => "Saturday"
    case _ => "Sunday"
  }

  /** One `<h3>`/`<table>` block in the parseStop.py page format: a
    * header row of `<th>` (more columns than the five consumed) and one
    * data row of `<td>`. */
  def stopBlock(trip: Int, vehicle: Int, route: Int, dir: String,
      svc: String): String =
    s"""<h3>Stop events for trip $trip</h3>
       |<table>
       |<tr><th>vehicle_number</th><th>leave_time</th><th>train</th><th>route_number</th><th>direction</th><th>service_key</th><th>stop_time</th><th>arrive_time</th></tr>
       |<tr><td>$vehicle</td><td>34560</td><td>1</td><td>$route</td><td>$dir</td><td>$svc</td><td>34500</td><td>34490</td></tr>
       |</table>
       |""".stripMargin

  def stopPage(blocks: Seq[String]): String =
    blocks.mkString("<html><body>\n", "", "</body></html>\n")

  /** Land a day as the engine reads it: hourly JSONL files under
    * `crumbDir` and one HTML file per stop page under `pageDir`. */
  def writeDay(day: Day, crumbDir: Path, pageDir: Path): Unit = {
    Files.createDirectories(crumbDir)
    Files.createDirectories(pageDir)
    for ((h, lines) <- day.hourly)
      Files.write(crumbDir.resolve(f"crumbs-$h%02d.json"),
        lines.mkString("", "\n", "\n").getBytes(UTF_8))
    for ((p, i) <- day.pages.zipWithIndex)
      Files.write(pageDir.resolve(f"stops-$i%05d.html"), p.getBytes(UTF_8))
  }

  /** A breadcrumb as the engine stores it (BreadCrumb fact row). */
  final case class Crumb(tsMicros: Long, lat: Double, lon: Double,
      dir: Option[Int], speed: Option[Double], tripId: Int)

  // ---- document corpus for the curation pipeline ----

  private val Stop = Seq("the", "a", "and", "of", "to", "in", "is", "it")
  private val Content = Seq("batch", "stream", "table", "query", "spark",
    "value", "window", "filter", "group", "join", "order", "scan", "hash",
    "merge", "column", "row", "data", "key", "part", "sort")

  /** A clean prose-like document: content words with stopwords mixed in
    * at the rate English has them. */
  def proseWords(r: SplittableRandom, n: Int): Seq[String] =
    Seq.fill(n)(if (r.nextInt(10) < 3) Stop(r.nextInt(Stop.size))
                else Content(r.nextInt(Content.size)))

  /** The generated corpus and what curation must flag: `dups` are
    * near-duplicates of `dupOf` (always the larger id), `contaminated`
    * embed a benchmark item, `garbled` are padding or symbol noise. */
  final case class Corpus(docs: IndexedSeq[(Long, String)],
      bench: IndexedSeq[(Long, String)], dups: Map[Long, Long],
      contaminated: Set[Long], garbled: Set[Long]) {
    def injected: Set[Long] = dups.keySet ++ contaminated ++ garbled
  }

  def corpus(seed: Long, nDocs: Int, idBase: Long = 0L): Corpus = {
    val br = rng(seed, 77L)
    val bench = (0 until 20).map(i => (i.toLong, proseWords(br, 30).mkString(" ")))
    val r = rng(seed, 78L + idBase)
    val nDup = nDocs / 50
    val nContam = nDocs / 100
    val nGarbled = nDocs / 100
    val nClean = nDocs - nDup - nContam - nGarbled
    val clean = (0 until nClean).map(i => (idBase + i, proseWords(r, 40 + r.nextInt(60))))
    val dups = (0 until nDup).map { k =>
      val (srcId, words) = clean(r.nextInt(nClean))
      val edited = words.toArray
      edited(r.nextInt(edited.length)) = Content(r.nextInt(Content.size))
      (idBase + nClean + k, srcId, edited.mkString(" "))
    }
    val contam = (0 until nContam).map { k =>
      val w = proseWords(r, 20 + r.nextInt(20))
      (idBase + nClean + nDup + k, (w :+ bench(r.nextInt(bench.size))._2).mkString(" "))
    }
    val garbled = (0 until nGarbled).map { k =>
      val id = idBase + nClean + nDup + nContam + k
      val text =
        if (k % 2 == 0) Seq.fill(60)("zzzz").mkString(" ")
        else Seq.fill(300)("#$%&*@!~^"(r.nextInt(9))).mkString
      (id, text)
    }
    Corpus(
      clean.map { case (id, w) => (id, w.mkString(" ")) } ++
        dups.map(d => (d._1, d._3)) ++ contam ++ garbled,
      bench, dups.map(d => d._1 -> d._2).toMap, contam.map(_._1).toSet,
      garbled.map(_._1).toSet)
  }
}
