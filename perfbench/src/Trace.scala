package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.util.LongAccumulator

import graft.engine.{Catalog, EtlNode}
import graft.sources.{Fetch, Source}

/** In-memory span recorder for traced runs.
  *
  * A span is (id, parent, layer, name, start, end, bytes) with times in
  * nanoseconds on one clock ([[now]]); listener events stamped in epoch
  * milliseconds are mapped onto it. Spans are only recorded while
  * [[enabled]] is set, and they stay in memory until the run writes them
  * out. The innermost open span of a thread is also published as the Spark
  * local property `perfbench.span`, so every job a span submits names it as
  * its parent.
  */
object Trace {
  @volatile var enabled = false

  final case class Span(id: Long, parent: Long, layer: String, name: String,
                        start: Long, end: Long, bytes: Long)

  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def now(): Long = System.nanoTime() - nano0
  def fromEpochMs(ms: Long): Long = (ms - epochMs0) * 1000000L

  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = -1L
  }
  @volatile var sc: SparkContext = _

  def currentSpan: Long = current.get()

  /** Run `body` as a span of `layer`; `bytes` (evaluated after the body)
    * attaches a size to it. A no-op wrapper while tracing is off. */
  def span[A](layer: String, name: String, parent: Long = -2L, bytes: => Long = 0L)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val prev = current.get()
      val prevProp = sc.getLocalProperty("perfbench.span")
      current.set(id)
      sc.setLocalProperty("perfbench.span", id.toString)
      val t0 = now()
      try body
      finally {
        val t1 = now()
        current.set(prev)
        sc.setLocalProperty("perfbench.span", prevProp)
        spans.add(Span(id, if (parent == -2L) prev.longValue else parent, layer, name, t0, t1, bytes))
      }
    }
}

/** Spark job, stage and task events of traced spans: a job is kept only if
  * it was submitted under a span, and its tasks' metrics are summed per job. */
object Jobs extends SparkListener {
  final class Job(val id: Int, val span: Long, val start: Long) {
    @volatile var end: Long = -1L
    var stages = 0
    var tasks = 0L
    var taskMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var input = 0L
    var output = 0L
  }
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  // per stage: task durations, for the straggler ratio
  val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
    span.foreach { s =>
      val j = new Job(e.jobId, s.toLong, Trace.fromEpochMs(e.time))
      j.stages = e.stageIds.size
      jobs.put(e.jobId, j)
      e.stageIds.foreach(stageJob.put(_, j))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = Trace.fromEpochMs(e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        j.taskMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.diskBytesSpilled
          j.input += m.inputMetrics.bytesRead
          j.output += m.outputMetrics.bytesWritten
        }
      }
      stageTasks.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer[Long]())
        .synchronized { stageTasks.get(e.stageId) += e.taskInfo.duration }
      ()
    }

  def snapshot(): Seq[Job] = jobs.values().asScala.toSeq.sortBy(_.id)
}

/** Catalyst phase times of every action, from each action's
  * `QueryPlanningTracker`. Registered through the static conf
  * `spark.sql.queryExecutionListeners`, so the child sessions that
  * `SqlNode`/`DfNode` create with `newSession()` get an instance too; a
  * listener added to one session's `listenerManager` would miss them. */
object Phases {
  final case class Action(phases: Map[String, (Long, Long)], childSession: Boolean)
  val actions = new ConcurrentLinkedQueue[Action]()
  @volatile var root: SparkSession = _
}

/** Records every action of a traced run, whatever its time: the listener
  * bus delivers the callbacks asynchronously, often after the traced window
  * of the action has closed. The statistics clip the phases to the windows. */
class PhaseListener extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.map { case (k, v) =>
      k -> ((Trace.fromEpochMs(v.startTimeMs), Trace.fromEpochMs(v.endTimeMs)))
    }
    Phases.actions.add(Phases.Action(ph, qe.sparkSession ne Phases.root))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Catalog whose layer calls are timed. `readAny` and `loadCache` only
  * build plans, so their spans cover planning and any footer read. */
class TimedCatalog(spark: SparkSession, baseDir: String) extends Catalog(spark, baseDir) {
  override def write(df: DataFrame, id: String): Unit =
    Trace.span("catalog", "write")(super.write(df, id))
  override def readAny(id: String, s: SparkSession): DataFrame =
    Trace.span("catalog", "read")(super.readAny(id, s))
  override def snapshot(id: String): Unit =
    Trace.span("catalog", "snapshot", bytes = Files.treeBytes(s"$baseDir/${cacheId(id)}.parquet"))(
      super.snapshot(id))
  override def loadCache(id: String): DataFrame =
    Trace.span("catalog", "load_cache")(super.loadCache(id))
}

/** Wraps one DAG node of a measured unit: its latency is recorded as a
  * step, traced or not. In a traced unit its execution is also a `node`
  * span and its Spark jobs carry the tag `perfbench:<group>/<node>`.
  * `family` names the stage the node belongs to. The span's parent is the
  * group's span, which the workload publishes in `groupSpan` before the
  * group runs (pool threads do not inherit it). */
class TimedNode(inner: EtlNode, val family: String, group: String, groupSpan: AtomicLong,
                rec: Recorder, unit: Int, traced: Boolean) extends EtlNode {
  override def name: String = inner.name
  def inputIds: Seq[String] = inner.inputIds
  def outputIds: Seq[String] = inner.outputIds
  def run(cat: Catalog): Unit = {
    val s = Trace.now()
    var ok = false
    try {
      if (!Trace.enabled) inner.execute(cat)
      else {
        val tag = s"perfbench:$group/${inner.name}"
        Trace.sc.addJobTag(tag)
        try Trace.span("node", s"$family/${inner.name}", parent = groupSpan.get())(inner.execute(cat))
        finally Trace.sc.removeJobTag(tag)
      }
      ok = true
    } finally rec.step(s"$family/${inner.name}", unit, s, Trace.now(), ok, traced)
  }
}

/** Source wrapper: fetches run on executors, so calls, time and 200
  * responses are counted in accumulators; `list()` runs on the driver and is
  * a `sources` span. */
final case class TimedSource(inner: Source, calls: LongAccumulator, nanos: LongAccumulator,
                             changed: LongAccumulator) extends Source {
  def list(): Seq[String] = Trace.span("sources", "list")(inner.list())
  def fetch(key: String, etag: Option[String]): Fetch = {
    val t0 = System.nanoTime()
    val r = inner.fetch(key, etag)
    nanos.add(System.nanoTime() - t0)
    calls.add(1)
    r match { case _: Fetch.Ok => changed.add(1); case _ => () }
    r
  }
}

object Files {
  /** Bytes of every regular file under `path` (0 if it does not exist). */
  def treeBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }

  /** Copies the directory tree `from` to `to`, which must not exist. */
  def copyTree(from: String, to: String): Unit = {
    val (src, dst) = (java.nio.file.Paths.get(from), java.nio.file.Paths.get(to))
    val s = java.nio.file.Files.walk(src)
    try s.iterator().asScala.foreach(p => java.nio.file.Files.copy(p, dst.resolve(src.relativize(p))))
    finally s.close()
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }
}
