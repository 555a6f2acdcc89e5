package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer's public function, made from the benchmark. */
final class Span(val id: Int, val parent: Int, val name: String,
    val request: Long, val probe: Boolean, val startNs: Long, val startMs: Long) {
  var endNs: Long = 0L
  /** Listener and file-system counts attributed to this span alone
    * (children keep their own). */
  val counts: mutable.Map[String, Double] =
    new ConcurrentHashMap[String, Double]().asScala
  def add(k: String, v: Double): Unit = counts.synchronized {
    counts(k) = counts.getOrElse(k, 0.0) + v
  }
  /** File-system counts its child spans covered, inclusive. */
  val childFs: mutable.Map[String, Double] = mutable.Map.empty
  def ms: Double = (endNs - startNs) / 1e6
  def layer: String = name.takeWhile(_ != '.')
}

/** The traced run's recorder. Spans are kept in memory and written out
  * at the end. Spark listener counts go to the span that was active:
  * jobs through the span's job tag, planner phases, streaming progress
  * and task counts through the job → span link or, for events without
  * a job, the innermost open span once the listener bus has drained. */
object Trace {
  /** True while an operation is being traced; false makes [[span]] a
    * plain call. */
  @volatile var on = false
  @volatile private var open: List[Span] = Nil
  private var nextId = 0
  var request = 0L
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var spark: SparkSession = _
  private val TagPrefix = "perfbench-span-"
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val stageShuffles = ConcurrentHashMap.newKeySet[Int]()
  /** (start ms, end ms) of every job that ran while tracing was on. */
  val jobWindows: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  private val jobStartMs = new ConcurrentHashMap[Int, Long]()

  def current: Option[Span] = open.headOption

  /** True inside [[probe]]: spans there force one lazy layer on its own,
    * outside any timed operation. */
  @volatile private var probing = false
  def probe[T](body: => T): T = { probing = true; try body finally probing = false }

  def span[T](name: String)(body: => T): T =
    if (!on) body else {
      drain()
      val s = new Span(nextId, open.headOption.map(_.id).getOrElse(-1), name,
        request, probing, System.nanoTime(), System.currentTimeMillis())
      nextId += 1
      byId.put(s.id, s)
      val fs0 = Fs.snapshot()
      open = s :: open
      spark.sparkContext.addJobTag(TagPrefix + s.id)
      try body
      finally {
        drain()
        s.endNs = System.nanoTime()
        spark.sparkContext.removeJobTag(TagPrefix + s.id)
        open = open.tail
        // file-system counters are global: a span keeps what its
        // interval saw minus what its children already took
        val inclusive = Fs.delta(fs0, Fs.snapshot())
        for ((k, v) <- inclusive) s.add("io." + k, v - s.childFs.getOrElse(k, 0.0))
        open.headOption.foreach(p => for ((k, v) <- inclusive)
          p.childFs(k) = p.childFs.getOrElse(k, 0.0) + v)
        spans += s
      }
    }

  private def drain(): Unit = PerfbenchBridge.waitForListeners(spark.sparkContext)

  /** Install the listeners once per traced run. */
  def install(session: SparkSession): Unit = {
    spark = session
    session.sparkContext.addSparkListener(Jobs)
    session.listenerManager.register(Planner)
    session.streams.addListener(Stream)
  }

  private def spanOfTags(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(",")).filter(_.startsWith(TagPrefix))
      .map(_.stripPrefix(TagPrefix).toInt).sorted.lastOption
      .flatMap(id => Option(byId.get(id)))

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOfTags(e.properties).orElse(current).foreach { s =>
        jobStartMs.put(e.jobId, e.time)
        e.stageIds.foreach(stageSpan.put(_, s))
        s.add("sched.jobs", 1)
        s.add("sched.stages", e.stageIds.size)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStartMs.remove(e.jobId)).foreach { t0 =>
        jobWindows.synchronized { jobWindows += ((t0, e.time)) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        s.add("sched.tasks", 1)
        if (m != null) {
          s.add("exec.run_ms", m.executorRunTime)
          s.add("exec.cpu_ms", m.executorCpuTime / 1e6)
          s.add("exec.gc_ms", m.jvmGCTime)
          val sw = m.shuffleWriteMetrics.bytesWritten
          val sr = m.shuffleReadMetrics.totalBytesRead
          s.add("shuffle.write_bytes", sw)
          s.add("shuffle.read_bytes", sr)
          s.add("shuffle.spill_bytes", m.diskBytesSpilled + m.memoryBytesSpilled)
          s.add("io.records_written", m.outputMetrics.recordsWritten)
          if (sw > 0 || sr > 0) stageShuffles.add(e.stageId)
          stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty)
            .synchronized { stageTaskMs.get(e.stageId) += m.executorRunTime }
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      val times = Option(stageTaskMs.remove(id)).map(_.sorted).getOrElse(Nil)
      if (stageShuffles.remove(id) && times.nonEmpty)
        Option(stageSpan.get(id)).foreach { s =>
          val med = math.max(1L, times(times.size / 2))
          s.add("shuffle.skew_sum", times.last.toDouble / med)
          s.add("shuffle.skew_stages", 1)
        }
    }
  }

  private object Planner extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      current.foreach { s =>
        val phases = qe.tracker.phases
        for ((phase, key) <- Seq("analysis" -> "plan.analysis_ms",
            "optimization" -> "plan.optimization_ms", "planning" -> "plan.planning_ms"))
          phases.get(phase).foreach(p => s.add(key, p.durationMs.toDouble))
        collect(qe.executedPlan) { case scan: FileSourceScanExec => scan }.foreach { scan =>
          scan.metrics.get("numFiles").foreach(m => s.add("io.files_scanned", m.value))
          scan.metrics.get("numPartitions").foreach(m => s.add("io.partitions_read", m.value))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private object Stream extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      current.foreach { s =>
        val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
        s.add("stream.batches", 1)
        s.add("stream.trigger_ms", d.getOrElse("triggerExecution", 0.0))
        s.add("stream.add_batch_ms", d.getOrElse("addBatch", 0.0))
        s.add("stream.planning_ms", d.getOrElse("queryPlanning", 0.0))
        s.add("stream.offset_commit_ms",
          d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0))
      }
  }

  /** Wall time of `[t0, t1]` (ms) during which no traced job ran. */
  def driverGapMs(t0: Long, t1: Long): Double = {
    val ws = jobWindows.synchronized(jobWindows.toList)
      .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = t0
    for ((a, b) <- ws) {
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    (t1 - t0 - covered).toDouble
  }
}

/** File-system calls, counted by the `file` scheme wrapper below and
  * by Hadoop's own byte statistics. */
object Fs {
  val opens = new AtomicLong
  val manifestOpens = new AtomicLong
  val lists = new AtomicLong
  val writes = new AtomicLong

  def snapshot(): Map[String, Double] = {
    val stats = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Map(
      "read_ops" -> (opens.get + lists.get).toDouble,
      "manifest_opens" -> manifestOpens.get.toDouble,
      "write_ops" -> writes.get.toDouble,
      "bytes_read" -> stats.map(_.getBytesRead).sum.toDouble,
      "bytes_written" -> stats.map(_.getBytesWritten).sum.toDouble)
  }

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }
}

/** The local file system with opens, listings and mutations counted —
  * Hadoop's `file` statistics count bytes but not these calls. Installed
  * as `fs.file.impl` in traced runs only. */
class CountingFs extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    Fs.opens.incrementAndGet()
    if (f.toString.contains("/_snapshots/")) Fs.manifestOpens.incrementAndGet()
    super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    Fs.lists.incrementAndGet()
    super.listStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    Fs.writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    Fs.writes.incrementAndGet()
    super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    Fs.writes.incrementAndGet()
    super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    Fs.writes.incrementAndGet()
    super.mkdirs(f, permission)
  }
}
