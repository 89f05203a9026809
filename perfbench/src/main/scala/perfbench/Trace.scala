package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into a layer. `layer` is the name up to the first
  * dot. Counters hold the listener-observed work attributed to this
  * span alone (not its children).
  */
final class Span(val id: Int, val parent: Int, val name: String,
    val startMs: Long, val startNs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def layer: String = name.takeWhile(_ != '.')
  def wallMs: Double = (endNs - startNs) / 1e6
  def add(k: String, v: Double): Unit =
    counters.update(k, counters.getOrElse(k, 0.0) + v)
}

/** Spans around every call the benchmark makes into a layer, plus the
  * Spark work each span caused, observed only through Spark's public
  * listener APIs:
  *  - a `SparkListener` maps each job to the span open when it was
  *    submitted (through a job-local property) and sums its task
  *    metrics into that span;
  *  - a `QueryExecutionListener` reads `QueryExecution.tracker`; each
  *    Catalyst phase is charged to the innermost span whose interval
  *    holds the phase.
  * Disabled, `span` only runs its body: the untraced run registers no
  * listener and records nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val sc = spark.sparkContext

  // listener state, written from the listener-bus thread
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStartMs = new ConcurrentHashMap[Int, Long]()
  private val jobWall = new ConcurrentHashMap[Int, (Int, Long, Long)]()
  private val taskTimes = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val taskCounters = new ConcurrentHashMap[Int, mutable.Map[String, Double]]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  private val graftRules = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  @volatile private var jobsStarted = 0
  @volatile private var jobsEnded = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(0)
      jobSpan.put(e.jobId, sid)
      jobStartMs.put(e.jobId, e.time)
      e.stageIds.foreach(st => stageSpan.put(st, sid))
      jobsStarted += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobWall.put(e.jobId, (jobSpan.getOrDefault(e.jobId, 0),
        jobStartMs.getOrDefault(e.jobId, e.time), e.time))
      jobsEnded += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val sid = stageSpan.getOrDefault(e.stageId, 0)
        val ts = taskTimes.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty)
        ts.synchronized(ts += m.executorRunTime)
        val c = taskCounters.computeIfAbsent(sid, _ => mutable.LinkedHashMap.empty)
        c.synchronized {
          def add(k: String, v: Double) = c.update(k, c.getOrElse(k, 0.0) + v)
          add("exec.tasks", 1)
          add("exec.task_run_ms", m.executorRunTime.toDouble)
          add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
          add("exec.gc_ms", m.jvmGCTime.toDouble)
          add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
          add("exec.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      qe.tracker.phases.foreach { case (ph, s) =>
        phases.add((ph, s.startTimeMs, s.endTimeMs))
      }
      // graft's own optimizer rules, timed inside the optimization phase
      val ns = qe.tracker.rules.collect {
        case (r, s) if r.startsWith("graft.") => s.totalTimeNs
      }.sum
      val opt = qe.tracker.phases.get("optimization")
      if (ns > 0 && opt.isDefined) graftRules.add((opt.get.startTimeMs, ns))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Run `body` inside a span named `name` (`layer.call`). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sp = new Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0),
        name, System.currentTimeMillis(), System.nanoTime())
      spans += sp
      val prev = sc.getLocalProperty(SpanProp)
      stack = sp :: stack
      sc.setLocalProperty(SpanProp, sp.id.toString)
      try body
      finally {
        sp.endNs = System.nanoTime()
        sp.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, prev)
      }
    }

  /** Record a counter on the innermost open span. */
  def count(k: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(_.add(k, v))

  /** Wait for the asynchronous listener bus to deliver every event, then
    * fold the listener observations into the spans. */
  def finish(): Seq[Span] = {
    if (!enabled) return Nil
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      if (jobsStarted == jobsEnded && sc.statusTracker.getActiveJobIds().isEmpty)
        quiet += 1
      else quiet = 0
    }
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val byId = spans.map(s => s.id -> s).toMap
    taskCounters.asScala.foreach { case (sid, c) =>
      byId.get(sid).foreach(sp => c.foreach { case (k, v) => sp.add(k, v) })
    }
    jobWall.asScala.values.foreach { case (sid, t0, t1) =>
      byId.get(sid).foreach { sp => sp.add("exec.jobs", 1); sp.add("exec.job_ms", (t1 - t0).toDouble) }
    }
    // worst-stage skew per span: max / median task run time
    taskTimes.asScala.foreach { case (st, ts) =>
      val sid = stageSpan.getOrDefault(st, 0)
      byId.get(sid).foreach { sp =>
        val sorted = ts.sorted
        val med = Stats.median(sorted.map(_.toDouble).toSeq)
        if (sorted.size >= 2 && med > 0) {
          val skew = sorted.last / med
          if (skew > sp.counters.getOrElse("exec.task_skew", 0.0))
            sp.counters.update("exec.task_skew", skew)
        }
      }
    }
    def innermost(t: Long): Option[Span] =
      spans.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(_.startNs)
    phases.asScala.foreach { case (ph, t0, t1) =>
      innermost(t0).foreach(_.add(s"catalyst.${ph}_ms", (t1 - t0).toDouble))
    }
    graftRules.asScala.foreach { case (t0, ns) =>
      innermost(t0).foreach(_.add("catalyst.graft_rules_ms", ns / 1e6))
    }
    spans.toSeq
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Spans as JSON (one object per span). */
  def toJson(spans: Seq[Span], t0Ns: Long): String =
    spans.map { s =>
      Json.obj(Seq(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> (s.startNs - t0Ns) / 1e6, "end_ms" -> (s.endNs - t0Ns) / 1e6,
        "counters" -> s.counters.toMap))
    }.mkString("[\n", ",\n", "\n]\n")
}
