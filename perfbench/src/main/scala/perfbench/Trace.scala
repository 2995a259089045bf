package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** One traced interval. `ref` is the request or batch id the span serves;
  * `parent` is the span that caused it (0 = root). Times are epoch-based
  * nanoseconds from one clock, so listener events can become spans too. */
final case class Span(id: Long, parent: Long, layer: String, name: String, ref: String,
                      startNs: Long, endNs: Long)

/** Spans kept in memory and written out when the run ends. Until `start`
  * nothing is recorded and `span` only runs its body. */
final class Tracer {
  @volatile private var started = false
  def on: Boolean = started
  def start(): Unit = started = true

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowNs: Long = System.nanoTime() + epochOffsetNs
  def msToNs(epochMs: Long): Long = epochMs * 1000000L
  def newId(): Long = ids.incrementAndGet()

  def span[T](layer: String, name: String, ref: String)(body: => T): T =
    if (!on) body
    else {
      val id = newId()
      val parent = current.get
      current.set(id)
      val t0 = nowNs
      try body
      finally {
        spans.add(Span(id, parent, layer, name, ref, t0, nowNs))
        current.set(parent)
      }
    }

  def add(s: Span): Unit = if (on) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Per layer: the summed duration of its spans minus the part of each
    * span its child spans cover. */
  def selfMsByLayer: Map[String, Double] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var (lo, hi) = (Long.MinValue, Long.MinValue)
        kids.foreach { case (a, b) =>
          if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
          else hi = math.max(hi, b)
        }
        if (hi > lo) covered += hi - lo
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":${Json.str(s.name)},""" +
        s""""ref":${Json.str(s.ref)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Spark's own job/stage/task events, kept per job. Registered only for
  * the traced window of a traced run. A job's `op` is the `perfbench.op` local property of the
  * thread that submitted it; `phase` is the ingest phase its SQL execution
  * belongs to (see [[SparkEvents.phase]]). */
final class SparkEvents extends SparkListener {
  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var schedDelayMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L; var outBytes = 0L; var outRecords = 0L
  }
  final class Job(val id: Int, val startMs: Long, val op: String, val phase: String,
                  val stages: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  private val phases = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      phases.put(s.executionId, SparkEvents.phase(s.physicalPlanDescription))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val phase = prop("spark.sql.execution.id").flatMap(id => Option(phases.get(id.toLong)))
    jobs.put(e.jobId, new Job(e.jobId, e.time, prop("perfbench.op").getOrElse(""),
      phase.getOrElse("prepass"), e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAgg.computeIfAbsent(e.stageId, _ => new StageAgg)
      val info = e.taskInfo
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outBytes += m.outputMetrics.bytesWritten
        a.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Totals over a set of jobs: (jobs, stages, tasks, runMs, schedDelayMs,
    * shuffleBytes, spillBytes, outBytes, outRecords). */
  def totals(js: Iterable[Job]): Map[String, Double] = {
    val aggs = js.flatMap(_.stages).flatMap(s => Option(stageAgg.get(s))).toSeq
    def sum(f: StageAgg => Long) = aggs.map(a => a.synchronized(f(a))).sum.toDouble
    Map("jobs" -> js.size.toDouble, "stages" -> js.map(_.stages.size).sum.toDouble,
      "tasks" -> sum(_.tasks), "run_ms" -> sum(_.runMs), "sched_delay_ms" -> sum(_.schedDelayMs),
      "shuffle_bytes" -> sum(_.shuffleBytes), "spill_bytes" -> sum(_.spillBytes),
      "out_bytes" -> sum(_.outBytes), "out_records" -> sum(_.outRecords))
  }

  def all: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)
}

object SparkEvents {
  private val stateTables = Set("account", "account_asset", "asset", "app", "account_app", "app_box")
  private val stagingWrite = """file:\S*/([a-z_]+)/_staging_""".r

  /** Ingest phase of a SQL execution, from its physical plan: a write into
    * a state table's staging dir is a merge; a write into an append table
    * is an append, or a compaction when it re-reads parquet; a parquet read
    * without a write builds the per-file index; the rest (the block parse
    * and the touched-bucket union) is the prepass. */
  def phase(plan: String): String =
    if (!plan.contains("InsertIntoHadoopFsRelationCommand"))
      if (plan.contains("Scan parquet")) "index" else "prepass"
    else stagingWrite.findFirstMatchIn(plan).map(_.group(1)) match {
      case Some(t) if stateTables(t) => "merge"
      case _ if plan.contains("Scan parquet") => "compact"
      case _ => "append"
    }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}
