package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Per-layer metrics of a traced run, from its spans. Times and counts
  * are per traced operation; a layer the workload bypasses reads 0. */
object Layers {

  /** Layers the benchmark calls into, each reported with its self time. */
  val CalledLayers: Seq[String] = Seq("ingest", "transform", "load", "stops",
    "stream", "analytics", "layout", "text", "dedup")

  def metrics(rec: Rec): Map[String, Double] = {
    val spans = Trace.spans.toSeq
    val byId = spans.map(s => s.id -> s).toMap
    def root(s: Span): Span = if (s.parent < 0) s else root(byId(s.parent))
    val ops = spans.filter(s => s.parent < 0 && s.name.startsWith("op.") && !s.probe)
    val inOps = spans.filter(s => !s.probe && root(s).name.startsWith("op."))
    val n = math.max(1, ops.size).toDouble
    def total(k: String): Double = inOps.map(_.counts.getOrElse(k, 0.0)).sum
    def perOp(k: String): Double = total(k) / n
    def avgMs(names: String*): Double = {
      val ss = spans.filter(s => names.contains(s.name))
      if (ss.isEmpty) 0.0 else ss.map(_.ms).sum / ss.size
    }
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    def selfMs(layer: String): Double =
      spans.filter(_.layer == layer).map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum / n
    val opWallMs = ops.map(_.ms).sum
    val skewStages = total("shuffle.skew_stages")
    val recordsWritten = total("io.records_written")
    val hotspots = spans.filter(s => s.name == "analytics.geoJsonCollection" ||
      s.name == "analytics.sql")

    val buildMs = avgMs("curate.buildCorpus")
    val gateMs = Seq("text.signals", "text.fluency", "dedup.ngramJaccardPairs",
      "dedup.benchmarkContamination").map(avgMs(_)).sum
    val layoutOps = spans.count(s => s.layer == "layout" && !s.probe)

    Map(
      "plan.analysis_ms" -> perOp("plan.analysis_ms"),
      "plan.optimization_ms" -> perOp("plan.optimization_ms"),
      "plan.planning_ms" -> perOp("plan.planning_ms"),
      "sched.jobs" -> perOp("sched.jobs"),
      "sched.stages" -> perOp("sched.stages"),
      "sched.tasks" -> perOp("sched.tasks"),
      "sched.driver_gap_ms" -> ops.map(s =>
        Trace.driverGapMs(s.startMs, s.startMs + s.ms.toLong)).sum / n,
      "exec.run_ms" -> perOp("exec.run_ms"),
      "exec.cpu_ms" -> perOp("exec.cpu_ms"),
      "exec.gc_ms" -> perOp("exec.gc_ms"),
      "exec.cpu_per_core_wall" ->
        (if (opWallMs > 0) total("exec.cpu_ms") / (opWallMs * Main.Cores) else 0.0),
      "shuffle.write_bytes" -> perOp("shuffle.write_bytes"),
      "shuffle.read_bytes" -> perOp("shuffle.read_bytes"),
      "shuffle.spill_bytes" -> perOp("shuffle.spill_bytes"),
      "shuffle.task_skew" ->
        (if (skewStages > 0) total("shuffle.skew_sum") / skewStages else 0.0),
      "io.read_ops" -> perOp("io.read_ops"),
      "io.bytes_read" -> perOp("io.bytes_read"),
      "io.write_ops" -> perOp("io.write_ops"),
      "io.bytes_written" -> perOp("io.bytes_written"),
      "io.files_scanned" -> perOp("io.files_scanned"),
      "io.bytes_written_per_record" ->
        (if (recordsWritten > 0) total("io.bytes_written") / recordsWritten else 0.0),
      "ingest.parse_ms" -> avgMs("ingest.parse"),
      "ingest.records" -> rec.noteMean("ingest.records"),
      "transform.ms" -> avgMs("transform.enrich"),
      "transform.valid_ratio" -> rec.noteMean("transform.valid_ratio"),
      "load.insert_trips_ms" -> avgMs("load.insertTrips"),
      "load.insert_breadcrumbs_ms" -> avgMs("load.insertBreadcrumbs"),
      "load.merge_stop_ms" -> avgMs("load.mergeStopEvents"),
      "load.trip_rows_rewritten" -> rec.noteMean("load.trip_rows_rewritten"),
      "stops.parse_ms" -> avgMs("stops.fromFiles"),
      "stream.batches" -> perOp("stream.batches"),
      "stream.trigger_ms" -> perOp("stream.trigger_ms"),
      "stream.add_batch_ms" -> perOp("stream.add_batch_ms"),
      "stream.planning_ms" -> perOp("stream.planning_ms"),
      "stream.offset_commit_ms" -> perOp("stream.offset_commit_ms"),
      "stream.sink_commit_ms" -> avgMs("stream.appendOnce"),
      "analytics.hotspot_exec_ms" -> avgMs("analytics.hotspot"),
      "analytics.partitions_read" ->
        (if (hotspots.isEmpty) 0.0
         else hotspots.map(_.counts.getOrElse("io.partitions_read", 0.0)).sum / hotspots.size),
      "analytics.geojson_collect_ms" -> avgMs("analytics.geoJsonCollection"),
      "layout.append_ms" -> avgMs("layout.snapshotAppend"),
      "layout.merge_ms" -> avgMs("layout.snapshotMergeInto"),
      "layout.delete_ms" -> avgMs("layout.snapshotDeleteKeys"),
      "layout.compact_ms" -> avgMs("layout.snapshotCompact"),
      "layout.expire_ms" -> avgMs("layout.snapshotExpire"),
      "layout.read_plan_ms" -> avgMs("layout.snapshotReadWhere", "layout.snapshotRead",
        "layout.snapshotChanges", "layout.snapshotHistory"),
      "layout.manifest_opens_per_op" ->
        (if (layoutOps > 0) total("io.manifest_opens") / layoutOps else 0.0),
      "layout.files_kept_ratio" -> rec.noteMean("layout.files_kept_ratio"),
      "layout.versions" -> rec.noteMean("layout.versions"),
      "text.signals_ms" -> avgMs("text.signals"),
      "text.fluency_ms" -> avgMs("text.fluency"),
      "dedup.pairs_ms" -> avgMs("dedup.ngramJaccardPairs"),
      "dedup.contam_ms" -> avgMs("dedup.benchmarkContamination"),
      "dedup.pairs_found" -> rec.noteMean("dedup.pairs_found"),
      "curate.self_ms" -> (if (buildMs > 0) buildMs - gateMs else 0.0),
      "trace.ops" -> ops.size.toDouble,
      "trace.spans" -> spans.size.toDouble
    ) ++ CalledLayers.map(l => s"$l.self_ms" -> selfMs(l))
  }

  /** Every span as one JSON line: name, start, end, parent, request. */
  def writeSpans(path: Path): Unit =
    Files.write(path, Trace.spans.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "request" -> s.request, "probe" -> s.probe, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "counts" -> s.counts.toMap)
    }.mkString("", "\n", "\n").getBytes(UTF_8))
}
