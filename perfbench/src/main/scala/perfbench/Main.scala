package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One operation's wall time, the CPU time the process spent meanwhile
  * (see [[Cpu]]), and the calibration taken around it (see [[Calib]]). */
final case class Sample(wallMs: Double, cpuMs: Double, calibMs: Double)

/** CPU time of the JVM's Java threads and of its garbage collector
  * (time the host steals from the VM excluded), without the JIT
  * compiler's. What the JIT compiles when depends on the JVM's history,
  * not on the operation measured, and it is the largest source of
  * run-to-run spread in the process's CPU time. Threads are read one by
  * one because only those clocks have nanosecond resolution (the
  * process's is in 10 ms ticks); a thread that ends during an interval
  * takes its share of it along. */
object Cpu {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def read(p: Path): String =
    scala.util.Try(new String(Files.readAllBytes(p), UTF_8)).getOrElse("")

  /** The native threads of the collector and of the JIT compiler, by
    * name, found once: the runner starts the JVM with fixed sets of both
    * (-XX:-UseDynamicNumberOf{GC,Compiler}Threads). */
  private lazy val native: Seq[(String, Path)] =
    Option(Paths.get("/proc/self/task").toFile.listFiles()).toSeq.flatten.map(_.toPath)
      .map(t => (read(t.resolve("comm")).trim, t))
      .filter { case (n, _) => n.startsWith("GC Thread") || n.startsWith("G1 ") ||
        n.contains("CompilerThre") }

  /** CPU milliseconds a native thread has used, from its schedstat. */
  private def nativeMs(t: Path): Double =
    read(t.resolve("schedstat")).split(' ').headOption.flatMap(_.toLongOption)
      .getOrElse(0L) / 1e6

  def gcMs: Double = native.filterNot(_._1.contains("CompilerThre")).map(t => nativeMs(t._2)).sum
  def jitMs: Double = native.filter(_._1.contains("CompilerThre")).map(t => nativeMs(t._2)).sum

  /** Per live Java thread, its CPU nanoseconds so far. */
  final case class Mark(java: Map[Long, Long], gcMs: Double)

  def mark(): Mark = {
    val ids = threads.getAllThreadIds
    val ns = threads.getThreadCpuTime(ids)
    Mark(ids.indices.collect { case k if ns(k) >= 0 => ids(k) -> ns(k) }.toMap, gcMs)
  }

  /** The whole process's CPU milliseconds so far, JIT included. */
  def processMs: Double = os.getProcessCpuTime / 1e6

  /** CPU milliseconds used since `m`. */
  def since(m: Mark): Double = {
    val now = mark()
    now.java.map { case (id, ns) => ns - m.java.getOrElse(id, 0L) }.sum / 1e6 +
      now.gcMs - m.gcMs
  }
}

/** A fixed CPU-bound task (sorting a copy of one seeded 2 MB array, so
  * that it also waits on caches and memory as the engine does), run on
  * every core at once and off the clock just before and just after each
  * set-up and each operation. The CPU time a fixed amount of work takes
  * follows how busy other tenants keep the host's physical cores: over
  * ten minutes of one set of runs it rose by a third for every operation
  * alike. The runner scales each sample's CPU time by its calibration,
  * which leaves a change to the program's own work. */
object Calib {
  private val input: Array[Long] = {
    val r = new java.util.SplittableRandom(7L)
    Array.fill(1 << 18)(r.nextLong())
  }
  private val cpu = ManagementFactory.getThreadMXBean
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.Cores, { (r: Runnable) =>
    val t = new Thread(r, "perfbench-calib")
    t.setDaemon(true)
    t
  })
  @volatile private var sink = 0L

  private def once(): Double = {
    val t0 = cpu.getCurrentThreadCpuTime
    val a = input.clone()
    java.util.Arrays.sort(a)
    sink += a(a.length / 2)
    (cpu.getCurrentThreadCpuTime - t0) / 1e6
  }

  /** CPU milliseconds of the task, the mean over the cores. */
  def ms(): Double = {
    val runs = Seq.fill(Main.Cores)(pool.submit(() => once()))
    runs.map(_.get).sum / runs.size
  }
}

/** What one run measured: samples of the workload's two operation
  * kinds, work units completed, and the check outcome of every
  * operation. A failed or wrong operation records no sample. */
final class Rec {
  val op = mutable.ArrayBuffer.empty[Sample]
  val aux = mutable.ArrayBuffer.empty[Sample]
  /** Further samples by name, reported alongside the metrics. */
  val extras = mutable.Map.empty[String, mutable.ArrayBuffer[Sample]]
  def extra(k: String): mutable.ArrayBuffer[Sample] =
    extras.getOrElseUpdate(k, mutable.ArrayBuffer.empty)
  /** The kind of the operation running, and whether it is traced; set
    * by the run loop. */
  var kind = ""
  var traced = false
  /** CPU ms of each kind's operations in a traced run, traced and
    * untraced apart, for the tracing overhead. */
  val costs = mutable.Map.empty[String, (mutable.ArrayBuffer[Double], mutable.ArrayBuffer[Double])]
  def cost(s: Sample): Unit = {
    val (t, u) = costs.getOrElseUpdate(kind, (mutable.ArrayBuffer.empty, mutable.ArrayBuffer.empty))
    (if (traced) t else u) += s.cpuMs
  }
  /** Units of work done, and the operations that did it. */
  var units = 0.0
  val busy = mutable.ArrayBuffer.empty[Sample]
  def work(n: Double, s: Sample): Unit = { units += n; busy += s }
  var attempted = 0L
  var failed = 0L
  /** Named values the traced run reports per layer: (sum, count). */
  val notes = mutable.Map.empty[String, (Double, Long)]
  def note(k: String, v: Double): Unit = {
    val (s, n) = notes.getOrElse(k, (0.0, 0L))
    notes(k) = (s + v, n + 1)
  }
  def noteMean(k: String): Double =
    notes.get(k).map { case (s, n) => s / n }.getOrElse(0.0)

  /** Forget the warm-up's samples; its check outcomes still count. */
  def clearSamples(): Unit = {
    op.clear(); aux.clear(); extras.clear(); costs.clear()
    notes.clear(); units = 0; busy.clear()
  }
}

/** A workload: inputs made in `setup` from the seed, then a closed loop
  * of `steps` operations with one client. The work is fixed, so a faster
  * engine is measured on the same operations as a slower one; the
  * deadline only bounds it. */
trait Workload {
  /** Number of operations measured. */
  def steps: Int
  /** Generate inputs and preload under `dir`; called several times, the
    * last call's state is the one measured. */
  def setup(dir: Path): Unit
  /** Operations run before the measured window (JIT, caches). */
  def warmup(rec: Rec): Unit
  /** One operation (or one service day for the batch replay). Traced
    * steps also run the forced-layer probes, outside the timed part. */
  def step(i: Int, traced: Boolean, rec: Rec): Unit
  /** The concrete operation step `i` runs (its form, scan kind, or
    * maintenance task); a traced run traces every other occurrence of
    * each, the first one included, so every one is traced and, when it
    * recurs, also runs untraced. */
  def kindOf(i: Int): String
  /** Called once after the measured window. */
  def finish(rec: Rec): Unit = ()
}

object Main {
  val Cores: Int = Runtime.getRuntime.availableProcessors()
  val SetupReps = 3

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** One checked operation: `run` is timed, then `check` judges its
    * result off the clock. The sample is returned only when the
    * operation completed and its result is right. */
  def timed[T](rec: Rec, what: String)(run: => T)(check: T => Boolean): Option[Sample] = {
    rec.attempted += 1
    val took = try {
      val s0 = Calib.ms()
      val c0 = Cpu.mark()
      val t0 = System.nanoTime()
      val out = run
      val (wall, used) = (ms(t0), Cpu.since(c0))
      val s = Sample(wall, used, (s0 + Calib.ms()) / 2)
      System.err.println(f"[perfbench] $what: ${s.wallMs}%.1f ms wall, ${s.cpuMs}%.1f ms cpu " +
        f"(${Cpu.mark().gcMs - c0.gcMs}%.1f ms collector), calibration ${s.calibMs}%.2f ms")
      if (check(out)) Some(s)
      else { System.err.println(s"[perfbench] $what: wrong result"); None }
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $what failed: $e")
        None
    }
    if (took.isEmpty) rec.failed += 1
    took
  }

  def session(work: Path, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val out = Paths.get(args("out")).toAbsolutePath
    Files.createDirectories(work)

    val spark = session(work, trace)
    if (trace) Trace.install(spark)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val sessionCpuS = Cpu.processMs / 1e3
    val w = workloadOf(workload, spark, seed)
    for (_ <- 0 until 20) Calib.ms() // compiled before its first reading
    phase("session")
    val setups = (1 to SetupReps).map { k =>
      val s0 = Calib.ms()
      val c0 = Cpu.mark()
      val t0 = System.nanoTime()
      w.setup(work.resolve(s"setup$k"))
      val (wall, used) = (ms(t0), Cpu.since(c0))
      Sample(wall, used, (s0 + Calib.ms()) / 2)
    }
    val rec = new Rec
    phase("setup")
    w.warmup(rec)
    rec.clearSamples()
    phase("warmup")

    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
    while (i < w.steps && System.nanoTime() < deadline) {
      rec.kind = w.kindOf(i)
      rec.traced = trace && seen(rec.kind) % 2 == 0
      seen(rec.kind) += 1
      Trace.on = rec.traced
      Trace.request = i
      try w.step(i, rec.traced, rec) finally Trace.on = false
      i += 1
    }
    rec.traced = false
    phase("measured")
    w.finish(rec)
    val layers = if (trace) Layers.metrics(rec) else Map.empty[String, Double]
    if (trace) Layers.writeSpans(work.resolveSibling(s"spans-$workload-$seed.jsonl"))
    phase("finish")
    spark.stop()

    val json = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "session" -> Seq(sessionS * 1e3, sessionCpuS * 1e3), "setup" -> samples(setups),
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "op" -> samples(rec.op), "aux" -> samples(rec.aux),
      "extra" -> rec.extras.map { case (k, v) => k -> samples(v) }.toMap,
      "steps" -> i, "steps_planned" -> w.steps,
      "units" -> rec.units, "work" -> samples(rec.busy),
      "costs" -> rec.costs.map { case (k, (t, u)) => k -> Map("traced" -> t.toSeq,
        "untraced" -> u.toSeq) }.toMap, "jit_cpu_ms" -> Cpu.jitMs, "gc_cpu_ms" -> Cpu.gcMs,
      "peak_rss_kb" -> vmHwmKb(), "layers" -> layers)
    Files.write(out, json.getBytes(UTF_8))
  }

  /** Logs the end of a phase of the run, in seconds since JVM start. */
  private def phase(name: String): Unit = System.err.println(f"[perfbench] $name done at ${
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s")

  def workloadOf(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "ctran_week" => new CtranWorkload(spark, seed)
    case "snapshot_cdc" => new SnapshotWorkload(spark, seed)
    case "corpus_build" => new CorpusWorkload(spark, seed)
    case other => sys.error(s"unknown workload $other")
  }

  private def samples(xs: Iterable[Sample]): Seq[Seq[Double]] =
    xs.map(s => Seq(s.wallMs, s.cpuMs, s.calibMs)).toSeq

  /** The driver JVM's resident-set high-water mark. */
  def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
}

/** Just enough JSON writing for the run record. */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => value(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => sys.error(s"not JSON: $other")
  }
  def obj(kv: (String, Any)*): String = value(kv.toMap)
}
