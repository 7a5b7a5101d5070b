package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark process: builds the engine's session profile, warms the
  * workload up untimed, then runs it as a closed loop with one client until
  * the units of work the hypervisor did not steal from add up to
  * `--seconds`, and writes every raw measurement to one JSON file (`--out`).
  * Statistics and the printed result line are made from that file by
  * `run.py`.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --work DIR --out FILE [--goldens FILE] [--record]
  */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, out: String, goldens: String,
                        record: Boolean, cores: Int)

  /** Spark cores: fixed, so partitioning — and with it every approximate
    * operator's answer — is the same on every machine. */
  val Cores = 4
  /** A unit of work during which the hypervisor stole more than this share
    * of the machine's CPU time is redone and left out of the medians. The
    * benchmark's own threads cannot cause steal, so this gate cannot trip
    * on the load the benchmark itself creates. */
  val MaxStealFrac = 0.05
  /** The loop stops after this many times `--seconds` even if too few
    * units were clean; the medians then fall back to every unit. */
  val MaxLoopFactor = 3.0

  def parse(args: Array[String]): Conf = {
    val m = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = args.toSet
    Conf(m("workload"), m("seed").toLong, m("seconds").toDouble, m.get("trace").contains("1"),
      m("data"), m("work"), m("out"), m.getOrElse("goldens", ""), flags("--record"), Cores)
  }

  def session(c: Conf): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
    if (c.trace) b.config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (c.trace) s.sparkContext.addSparkListener(Jobs)
    Trace.sc = s.sparkContext
    Phases.root = s
    s
  }

  def main(args: Array[String]): Unit = {
    val c = parse(args)
    val w: Workload = c.workload match {
      case "operators" => new Operators(c)
      case "flagship" => new Flagship(c)
      case "refresh" => new Refresh(c)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val rec = new Recorder
    // set-up, once and cold: session build plus the workload's engine
    // initialisation, then the untimed warm-up; `run.py` times set-up from
    // the JVM's launch to `first_unit_epoch_ms`
    val t0 = System.nanoTime()
    val spark = session(c)
    w.init(spark)
    val sessionInit = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    w.warmup(spark)
    val warmup = (System.nanoTime() - t1) / 1e9

    val firstUnitEpochMs = System.currentTimeMillis()
    val jvm = JvmWindow.start()
    // the loop's clock counts the clean units only, not the untimed work
    // between them, so the number of units a run makes does not depend on
    // it; a traced run measures at least two units, so that every
    // operation also runs untraced and the tracing overhead can be read off
    val minUnits = if (c.trace) 2 else 1
    val loopStart = Trace.now()
    def overtime = (Trace.now() - loopStart) / 1e9 >= MaxLoopFactor * c.seconds
    var unit = 0
    while (unit < minUnits || (rec.cleanSeconds < c.seconds && !overtime)) {
      w.unit(spark, unit, rec)
      unit += 1
    }
    val measured = rec.cleanSeconds
    val jvmStats = jvm.stop()
    w.finish(spark, rec)
    if (c.trace) org.apache.spark.SparkBus.drain(spark.sparkContext)
    val expr = if (c.trace) ExprBench.run(c) else Map.empty[String, Double]
    val out = Map[String, Any](
      "workload" -> c.workload, "seed" -> c.seed, "cores" -> c.cores, "trace" -> c.trace,
      "session_s" -> sessionInit, "warmup_s" -> warmup, "first_unit_epoch_ms" -> firstUnitEpochMs,
      "measured_s" -> measured, "max_steal_frac" -> MaxStealFrac,
      "peak_rss_mb" -> JvmWindow.vmHwmMb(), "jvm" -> jvmStats, "expr" -> expr) ++ rec.json ++
      (if (c.trace) TraceDump.json() else Map.empty)
    Json.writeFile(c.out, out)
    spark.stop()
  }
}

/** A workload: engine initialisation and an untimed warm-up (both timed
  * as set-up), one unit of measured work (a pass over the queries, one
  * pipeline run, one refresh round), and the final output checks. */
trait Workload {
  def init(spark: SparkSession): Unit
  def warmup(spark: SparkSession): Unit
  def unit(spark: SparkSession, index: Int, rec: Recorder): Unit
  def finish(spark: SparkSession, rec: Recorder): Unit = ()
}

/** Raw measurements of the measured window. Times are [[Trace.now]] ns. */
class Recorder {
  val units = mutable.ArrayBuffer[Map[String, Any]]()
  val steps = mutable.ArrayBuffer[Map[String, Any]]()
  val windows = mutable.ArrayBuffer[Seq[Long]]()
  val dags = mutable.ArrayBuffer[Map[String, Any]]()
  val failures = mutable.ArrayBuffer[String]()
  val counters = mutable.LinkedHashMap[String, Double]()
  var attempted = 0L
  var failed = 0L

  /** Summed time of the units during which little CPU time was stolen. */
  def cleanSeconds: Double = synchronized {
    units.filter(_("clean") == true)
      .map(u => u("end").asInstanceOf[Long] - u("start").asInstanceOf[Long]).sum / 1e9
  }

  /** The start of a measured unit: clock, process CPU time, machine steal. */
  def begin(): Recorder.Mark = Recorder.Mark(Trace.now(), Recorder.cpuNow(), Steal.sample())

  /** One measured unit, from `m` to now: its span, the CPU time the process
    * used in it, the share of the machine's CPU time stolen in it, and its
    * input rows. */
  def unit(m: Recorder.Mark, rows: Long, traced: Boolean): Unit = {
    val end = Trace.now()
    val cpu = Recorder.cpuNow() - m.cpu
    val steal = Steal.frac(m.steal, Steal.sample())
    synchronized {
      units += Map("start" -> m.t, "end" -> end, "cpu_ns" -> cpu, "rows" -> rows, "traced" -> traced,
        "steal_frac" -> steal, "clean" -> (steal <= Main.MaxStealFrac))
    }
  }

  def count(k: String, v: Double): Unit = synchronized { counters(k) = counters.getOrElse(k, 0.0) + v }

  def step(name: String, unit: Int, start: Long, end: Long, ok: Boolean, traced: Boolean): Unit =
    synchronized {
      steps += Map("name" -> name, "unit" -> unit, "start" -> start, "end" -> end,
        "ok" -> ok, "traced" -> traced)
      attempted += 1
      if (!ok) failed += 1
    }

  /** One output check: an operation that fails when `ok` is false. */
  def check(what: String, ok: Boolean): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }

  def fail(what: String, e: Throwable): Unit = synchronized {
    failures += s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
  }

  /** Runs `body` as a traced window when `traced`: tracing is on and the
    * whole operation is one `op` span, the parent of everything in it. */
  def window[A](traced: Boolean, name: String)(body: => A): A =
    if (!traced) body
    else {
      Trace.enabled = true
      val t0 = Trace.now()
      try Trace.span("op", name)(body)
      finally {
        Trace.enabled = false
        synchronized { windows += Seq(t0, Trace.now()) }
      }
    }

  def json: Map[String, Any] = Map("units" -> units.toSeq, "steps" -> steps.toSeq,
    "windows" -> windows.toSeq, "dags" -> dags.toSeq, "failures" -> failures.toSeq,
    "counters" -> counters.toMap, "attempted" -> attempted, "failed" -> failed)
}

object Recorder {
  final case class Mark(t: Long, cpu: Long, steal: (Long, Long))

  /** CPU time all threads of this process have used, ns. */
  def cpuNow(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}

/** Stolen CPU time of the whole machine, from the first line of
  * `/proc/stat`: (steal, total) jiffies over every CPU. */
object Steal {
  def sample(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.sum)
    } finally f.close()
  }

  /** Share of the CPU time between two samples that was stolen. */
  def frac(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0
}

/** JVM heap, GC and JIT activity over the measured window. */
final class JvmWindow(gc0: Long, jit0: Long) {
  def stop(): Map[String, Double] = {
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    Map("heap_peak_mb" -> heapPeak / 1048576.0,
      "gc_pause_s" -> (JvmWindow.gcMs() - gc0) / 1000.0,
      "jit_compile_s" -> (JvmWindow.jitMs() - jit0) / 1000.0)
  }
}

object JvmWindow {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def start(): JvmWindow = {
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    new JvmWindow(gcMs(), jitMs())
  }
  /** Peak resident set size of this process (`VmHWM`), MB. */
  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

/** Trace records for the artifact: spans, jobs with their task sums,
  * per-stage task-time spread, and Catalyst phases. */
object TraceDump {
  def json(): Map[String, Any] = {
    val spans = Trace.spans.asScala.toSeq.sortBy(_.start).map(s =>
      Seq(s.id, s.parent, s.layer, s.name, s.start, s.end, s.bytes))
    val jobs = Jobs.snapshot().map(j => Map("id" -> j.id, "span" -> j.span, "start" -> j.start,
      "end" -> j.end, "stages" -> j.stages, "tasks" -> j.tasks, "task_ms" -> j.taskMs,
      "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs, "shuffle_write" -> j.shuffleWrite,
      "shuffle_read" -> j.shuffleRead, "spill" -> j.spill, "input" -> j.input, "output" -> j.output))
    val stages = Jobs.stageTasks.asScala.toSeq.sortBy(_._1).map { case (id, ts) =>
      val sorted = ts.synchronized(ts.sorted.toIndexedSeq)
      Seq(id, sorted.size, sorted.last, sorted(sorted.size / 2))
    }
    val phases = Phases.actions.asScala.toSeq.map(a =>
      Map("child_session" -> a.childSession,
        "phases" -> a.phases.map { case (k, (s, e)) => k -> Seq(s, e) }))
    Map("spans" -> spans, "jobs" -> jobs, "stages" -> stages, "actions" -> phases)
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def writeFile(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      render(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
