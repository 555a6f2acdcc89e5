package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.ctran.Schemas
import graft.ops.Layout

/** `snapshot_cdc`: one client in a closed loop on two snapshot tables —
  * a Trip-shaped table keyed on `trip_id` and a BreadCrumb-shaped append
  * table with file stats. Commits (append, keyed merge with tombstones,
  * key deletes, periodic compaction and expiry) interleave with reads
  * (stats-pruned latest read, time travel, change feed, history). The
  * benchmark keeps a model of both tables and checks every read's row
  * count against it. The measured work is two passes of the 12-step
  * cycle after an 8-step warm-up. Op = one commit, aux = one
  * stats-pruned read, unit = one operation. */
final class SnapshotWorkload(spark: SparkSession, seed: Long) extends Workload {
  val InitialTrips = 300
  val CrumbBatch = 2000
  /** Trip ids per crumb batch: each append covers a narrow id range, so
    * the stats prune a range predicate to a few files. */
  val TripsPerBatch = 50
  /** Large enough that expiry keeps the whole history of a run. */
  val Keep = 150

  private val r = Gen.rng(seed, 4242L)
  private var tripDir, crumbDir: String = _
  private val trips = mutable.Map.empty[Int, Gen.TripRow]
  private val tripCount = mutable.Map.empty[Long, Long]
  private var tripVersions = Vector.empty[Long]
  /** Per crumb append: (version, first trip id, rows). Rows of batch k
    * are spread evenly over its id range. */
  private val batches = mutable.ArrayBuffer.empty[(Long, Int, Int)]
  private var crumbVersions = Vector.empty[Long]
  private var nextTrip = 0
  private var nextBatch = 0

  def setup(dir: Path): Unit = {
    tripDir = dir.resolve("trips").toString
    crumbDir = dir.resolve("crumbs").toString
    trips.clear(); tripCount.clear(); batches.clear()
    tripVersions = Vector.empty; crumbVersions = Vector.empty
    nextTrip = 0; nextBatch = 0; k = 0
    val first = newTrips(InitialTrips)
    val v1 = Layout.snapshotAppend(tripFrame(first), tripDir)
    first.foreach(t => trips(t.tripId) = t)
    tripCount(v1) = trips.size
    val v2 = Layout.snapshotDeclareKeys(spark, tripDir, Seq("trip_id"))
    tripCount(v2) = trips.size
    tripVersions = Vector(v1, v2)
    appendCrumbs()
  }

  private def newTrips(n: Int): Seq[Gen.TripRow] = (0 until n).map { _ =>
    nextTrip += 1
    Gen.TripRow(300000000 + nextTrip, Gen.Routes(r.nextInt(Gen.Routes.size)),
      Gen.Vehicles(r.nextInt(Gen.Vehicles.size)), Schemas.ServiceKeys(r.nextInt(3)),
      if (r.nextBoolean()) "Out" else "Back")
  }

  private def tripFrame(rows: Seq[Gen.TripRow]): DataFrame =
    spark.createDataFrame(rows.map(t => Row(t.tripId, t.routeId, t.vehicleId,
      t.serviceKey, t.direction)).asJava, Schemas.trip)

  private val keySchema = StructType(Seq(StructField("trip_id", IntegerType, nullable = false)))
  private def keyFrame(ids: Seq[Int]): DataFrame =
    spark.createDataFrame(ids.map(Row(_)).asJava, keySchema)

  private def crumbFrame(firstTrip: Int): DataFrame = {
    val t0 = 1601510400L + nextBatch * 600L
    spark.createDataFrame((0 until CrumbBatch).map { i =>
      Row(new java.sql.Timestamp((t0 + i / 4) * 1000), 45.5 + i * 1e-5, -122.6 - i * 1e-5,
        i % 360, (i % 60).toDouble, firstTrip + i % TripsPerBatch)
    }.asJava, Schemas.breadCrumb)
  }

  private def appendCrumbs(): Unit = {
    val firstTrip = 400000000 + nextBatch * TripsPerBatch
    val v = Trace.span("layout.snapshotAppend") {
      Layout.snapshotAppend(crumbFrame(firstTrip), crumbDir, statsCols = Seq("trip_id", "tstamp"))
    }
    nextBatch += 1
    batches += ((v, firstTrip, CrumbBatch))
    crumbVersions :+= v
  }

  private def crumbsIn(lo: Int, hi: Int, upTo: Long): Long =
    batches.iterator.filter(_._1 <= upTo).map { case (_, first, n) =>
      (0 until TripsPerBatch).count(k => first + k >= lo && first + k <= hi).toLong *
        (n / TripsPerBatch)
    }.sum

  private def commitTrips(v: Long): Unit = {
    tripCount(v) = trips.size
    tripVersions :+= v
  }

  /** Position in the operation cycle, carried from warm-up into the
    * measured window so the tables' history stays one sequence. */
  private var k = 0

  /** The warm-up runs each kind of read and most kinds of commit once. */
  def warmup(rec: Rec): Unit = for (_ <- 0 until 8) {
    op(k, rec, record = false, traced = false)
    k += 1
  }

  /** Names of the cycle's operations, for spans and the detail line. */
  private val Names = Vector("append", "read_where", "merge", "read_at", "append",
    "changes", "delete", "history", "compact", "read_where", "maintain", "append")
  private val Commits = Set(0, 2, 4, 6, 8, 10, 11)
  /** The maintenance step compacts the append table on even passes of
    * the cycle and expires both tables' history on odd ones. */
  private def compactsCrumbs(i: Int): Boolean = (i / 12) % 2 == 0

  def steps: Int = 24

  override def kindOf(i: Int): String = k % 12 match {
    case 8 => "compact_trips"
    case 10 => if (compactsCrumbs(k)) "compact_crumbs" else "expire"
    case n => Names(n)
  }

  def step(i: Int, traced: Boolean, rec: Rec): Unit = {
    op(k, rec, record = true, traced)
    k += 1
  }

  override def finish(rec: Rec): Unit =
    rec.note("layout.versions", (tripVersions.size + crumbVersions.size).toDouble)

  private def pick(vs: Vector[Long]): Long = vs(r.nextInt(vs.size))

  /** One operation of the fixed 12-step cycle. */
  private def op(i: Int, rec: Rec, record: Boolean, traced: Boolean): Unit = {
    val kind = i % 12
    val took = Main.timed(rec, s"snapshot op $i ($kind)")(Trace.span(s"op.${Names(kind)}") {
      kind match {
        case 0 | 4 | 11 =>
          appendCrumbs()
          true
        case 2 =>
          val ids = trips.keys.toSeq.sorted
          val upd = (0 until 40).map(_ => trips(ids(r.nextInt(ids.size)))).distinct
            .map(t => t.copy(routeId = Gen.Routes(r.nextInt(Gen.Routes.size))))
          val updIds = upd.map(_.tripId).toSet
          val del = (0 until 10).map(_ => ids(r.nextInt(ids.size))).distinct.filterNot(updIds)
          val fresh = newTrips(20)
          val v = Trace.span("layout.snapshotMergeInto") {
            Layout.snapshotMergeInto(spark, tripDir, tripFrame(upd ++ fresh), Seq("trip_id"),
              deletes = Some(keyFrame(del)))
          }
          (upd ++ fresh).foreach(t => trips(t.tripId) = t)
          del.foreach(trips.remove)
          commitTrips(v)
          true
        case 6 =>
          val ids = trips.keys.toSeq.sorted
          val del = (0 until 15).map(_ => ids(r.nextInt(ids.size))).distinct
          val v = Trace.span("layout.snapshotDeleteKeys") {
            Layout.snapshotDeleteKeys(spark, tripDir, keyFrame(del), Seq("trip_id"))
          }
          del.foreach(trips.remove)
          commitTrips(v)
          true
        case 8 =>
          // materializes the delete overlays, which a keyed merge refuses
          val v = Trace.span("layout.snapshotCompact")(Layout.snapshotCompact(spark, tripDir))
          commitTrips(v)
          true
        case 10 if compactsCrumbs(i) =>
          val v = Trace.span("layout.snapshotCompact")(Layout.snapshotCompact(spark, crumbDir))
          crumbVersions :+= v
          true
        case 10 =>
          Trace.span("layout.snapshotExpire") {
            Layout.snapshotExpire(spark, crumbDir, Keep)
            Layout.snapshotExpire(spark, tripDir, Keep)
          }
          crumbVersions = crumbVersions.takeRight(Keep)
          tripVersions = tripVersions.takeRight(Keep)
          true
        case 1 | 9 =>
          val span = TripsPerBatch * (1 + r.nextInt(math.min(3, nextBatch)))
          val lo = 400000000 + r.nextInt(nextBatch * TripsPerBatch - span + 1)
          val pred = col("trip_id").between(lo, lo + span - 1)
          val df = Trace.span("layout.snapshotReadWhere") {
            val df = Layout.snapshotReadWhere(spark, crumbDir, pred)
            df.queryExecution.executedPlan
            df
          }
          df.count() == crumbsIn(lo, lo + span - 1, crumbVersions.last)
        case 3 =>
          val v = pick(tripVersions)
          val df = Trace.span("layout.snapshotRead") {
            val df = Layout.snapshotRead(spark, tripDir, v)
            df.queryExecution.executedPlan
            df
          }
          df.count() == tripCount(v)
        case 5 =>
          val from = pick(crumbVersions.dropRight(1))
          val df = Trace.span("layout.snapshotChanges") {
            val df = Layout.snapshotChanges(spark, crumbDir, from)
            df.queryExecution.executedPlan
            df
          }
          df.count() == batches.filter(_._1 > from).map(_._3.toLong).sum
        case _ =>
          val df = Trace.span("layout.snapshotHistory") {
            val df = Layout.snapshotHistory(spark, crumbDir)
            df.queryExecution.executedPlan
            df
          }
          df.count() == crumbVersions.size
      }
    })(identity)
    for (s <- took if record) {
      if (Commits(kind)) rec.op += s
      if (Names(kind) == "read_where") rec.aux += s else rec.extra(Names(kind)) += s
      rec.work(1, s)
      rec.cost(s)
    }
    if (took.isDefined && traced && (kind == 1 || kind == 9)) {
      // files the stats-pruned read scanned, over the version's live files
      val scanned = Trace.spans.last.counts.getOrElse("io.files_scanned", 0.0)
      val live = Layout.snapshotScanInputs(spark, crumbDir, crumbVersions.last)._1.size
      rec.note("layout.files_kept_ratio", scanned / live)
    }
  }
}
