package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The measurement kit every main shares: one session profile, one load
  * gate, one task listener, one min-of-N phase timer and one JSON escape.
  * The mains (Bench, QProfile, Explain, Smoke, Verify, the `Scale*`
  * harnesses) and the test session are thin callers of it.
  */
package object harness {

  /** Worker threads for every main: `SPARK_GRAFT_CPUS`, else the JVM's
    * available processors. */
  lazy val cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** Force full computation of every output column: xxhash64 over all
    * columns, reduced by bit_xor (overflow-free under ANSI mode and
    * order-independent). A bare `.count()` lets Catalyst prune unreferenced
    * projections and would measure only part of the query. */
  def consume(df: DataFrame): Unit = {
    val cols = df.columns.map(c => col(s"`$c`").cast("string"))
    df.select(xxhash64(cols: _*).as("h")).agg(expr("bit_xor(h)")).collect()
    ()
  }
}

package harness {

  /** The engine's session profile: the only place engine confs live. */
  object Session {

    /** Builder confs for a `local[cpus]` engine session. Many-group
      * TypedImperativeAggregates (top_k, kmv) must hash, not sort: the
      * 128-group sort fallback default silently degrades them (see
      * [[graft.expr.TopK]]), hence the fallback threshold. */
    def conf(cpus: Int): Map[String, String] = Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "262144",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")

    /** Get or create the engine session; `extra` adds (or overrides)
      * builder confs a harness needs on top of the profile. */
    def profile(cpus: Int, extra: Map[String, String] = Map.empty,
                logLevel: String = "WARN"): SparkSession = {
      val spark = SparkSession.builder().config(conf(cpus) ++ extra).getOrCreate()
      spark.sparkContext.setLogLevel(logLevel)
      spark
    }
  }

  /** Waits (bounded) for the 1-min /proc/loadavg to fall to `threshold`
    * before a timed sample starts, and returns the load it started under so
    * a still-inflated sample identifies itself in the record. The default
    * threshold sits two runnable threads above the `cpus` worker threads
    * the harness itself keeps busy: its own just-finished work must not
    * trip the gate, competing work should. A busy box degrades to measuring
    * anyway: ten naps of at most 30 s per sample, within one wait budget
    * per gate. */
  final class LoadGate(name: String) {
    val threshold: Double =
      sys.env.get("SPARK_GRAFT_LOAD_GATE").map(_.toDouble).getOrElse(cpus + 2.0)
    private var budgetMs =
      sys.env.get("SPARK_GRAFT_LOAD_WAIT_BUDGET_MS").map(_.toLong).getOrElse(900000L)

    def await(tag: String): Double = {
      var l = LoadGate.load()
      var tries = 0
      while (l > threshold && tries < 10 && budgetMs > 0) {
        val napMs = math.min(30000L, budgetMs)
        System.err.println(f"[$name][gate] $tag load=$l%.2f > $threshold%.1f, waiting " +
          f"${napMs / 1000}s (budget ${budgetMs / 1000}s left)")
        Thread.sleep(napMs)
        budgetMs -= napMs
        tries += 1
        l = LoadGate.load()
      }
      l
    }
  }

  object LoadGate {
    private def load(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ").head.toDouble
      catch { case _: Exception => -1.0 }
  }

  /** Job, stage and task counts plus the per-stage straggler ratio since the
    * last [[reset]]. Every read drains the listener bus first: task-end
    * events arrive asynchronously, so the last stages' events may still be
    * queued when the action that ran them returns. */
  final class TaskStats private (sc: SparkContext) extends SparkListener {
    private val durations = new ConcurrentLinkedQueue[(Int, Long)]()
    private val jobCount = new AtomicInteger
    private val stageCount = new AtomicInteger

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobCount.incrementAndGet()
      stageCount.addAndGet(j.stageInfos.size)
      ()
    }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      durations.add((te.stageId, te.taskInfo.duration))
      ()
    }

    /** `waitUntilEmpty` is private[spark]: reached by reflection, with a
      * bounded sleep if this Spark lacks it. */
    private def drain(): Unit =
      try {
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
        ()
      } catch { case _: ReflectiveOperationException => Thread.sleep(1000) }

    def reset(): Unit = {
      drain()
      durations.clear()
      jobCount.set(0)
      stageCount.set(0)
    }

    def jobs: Int = { drain(); jobCount.get }
    def stages: Int = { drain(); stageCount.get }
    def tasks: Int = { drain(); durations.size }
    def straggler: Double = { drain(); TaskStats.straggler(durations.asScala) }

    def detach(): Unit = { drain(); sc.removeSparkListener(this) }
  }

  object TaskStats {
    def attach(spark: SparkSession): TaskStats = {
      val stats = new TaskStats(spark.sparkContext)
      spark.sparkContext.addSparkListener(stats)
      stats
    }

    /** Max over stages of max/median task duration, counting only tasks of
      * at least 200 ms in stages with at least 8 of them: the skew signal
      * within one stage's parallel work (a cross-stage ratio would only
      * compare unlike work). 1.0 when no stage qualifies. */
    def straggler(tasks: Iterable[(Int, Long)]): Double = {
      val byStage = tasks.groupBy(_._1).values
        .map(_.map(_._2).filter(_ >= 200).toIndexedSeq.sorted)
        .filter(_.length >= 8)
      if (byStage.isEmpty) 1.0
      else byStage.map(ts => ts.last.toDouble / ts(ts.length / 2).toDouble).max
    }
  }

  /** One timed sample: the body's value, wall seconds, straggler ratio and
    * the load the sample started under. */
  final case class Sample[+A](value: A, sec: Double, straggler: Double, load: Double)

  /** A measured main's session with its task listener and load gate. */
  final class Harness(name: String) {
    val spark: SparkSession = Session.profile(cpus)
    val stats: TaskStats = TaskStats.attach(spark)
    private val gate = new LoadGate(name)
    /** The load of each phase's winning sample, in phase order. */
    val loads: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
    /** Samples per phase, `SCALE_PHASE_SAMPLES` (default 2): co-tenant bursts
      * outlast a phase-start gate, and phase outputs are deterministic, so
      * the fastest sample is the clean-window estimate. */
    val phaseSamples: Int = sys.env.get("SCALE_PHASE_SAMPLES").map(_.toInt).getOrElse(2)
    require(phaseSamples >= 1, s"SCALE_PHASE_SAMPLES must be >= 1, got $phaseSamples")

    /** Run `body` `samples` times and keep the fastest. Each sample first
      * pays the previous phase's GC debt outside the timed window (a mixed-GC
      * pause landing mid-sample reads as a task straggler) and lets the
      * ContextCleaner reap unreachable blocks, then waits on the load gate.
      * After timing, persisted intermediates are dropped so every sample
      * starts cold. `same` maps each value to what must agree across
      * samples; losing samples' Datasets are unpersisted so their
      * checkpoints do not pin block-manager memory. */
    def bestOf[A](tag: String, samples: Int = phaseSamples,
                  same: Any => Any = _ => ())(body: => A): Sample[A] = {
      val runs = (1 to samples).map { _ =>
        System.gc()
        Thread.sleep(2000)
        val load = gate.await(tag)
        stats.reset()
        val t = System.nanoTime()
        val a = body
        val sec = (System.nanoTime() - t) / 1e9
        val st = stats.straggler
        spark.catalog.clearCache()
        System.err.println(f"[$name] $tag sample $sec%.1fs straggler=$st%.2f load=$load%.2f")
        Sample(a, sec, st, load)
      }
      require(runs.map(r => same(r.value)).distinct.size == 1,
        s"$tag result varies across samples: ${runs.map(_.value)}")
      val win = runs.minBy(_.sec)
      runs.filter(_ ne win).foreach(_.value match {
        case ds: Dataset[_] => ds.unpersist(); ()
        case _ => ()
      })
      loads(tag) = win.load
      win
    }
  }

  /** JSON for the one-line records the mains print. */
  object Record {

    /** A JSON string literal. Escapes quote, backslash and ALL control
      * characters: a tab or CR in hand-written SQL would otherwise make
      * a consumer's json.load fail. */
    def quote(s: String): String = {
      val b = new StringBuilder(s.length + 16).append('"')
      s.foreach {
        case '"' => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
        case c => b.append(c)
      }
      b.append('"').toString
    }

    /** A JSON object of already-rendered values, in iteration order. */
    def obj(fields: Iterable[(String, Any)]): String =
      fields.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")
  }
}
