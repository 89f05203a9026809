package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run. `size` is `full` for the
  * measured runs and `tiny` for the self-test; `corrupt` damages one
  * answer on purpose so the self-test can show the checks catch it.
  */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, size: String, corrupt: String, out: String) {
  def tiny: Boolean = size == "tiny"
}

/** State of one run: timing samples per named metric, attempted and
  * failed operations, correctness failures, and the tracer.
  */
final class Run(val spark: SparkSession, val opts: Opts) {
  val tracer = new Tracer(spark, opts.trace)
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val opMs = mutable.ArrayBuffer.empty[Double]
  val errors = mutable.ArrayBuffer.empty[String]
  val sizes = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val setupS = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  var corrupted = false
  val work: String = s"${opts.out}/work"

  /** Record a timing sample, unless warming up; a primary sample also
    * counts towards the workload's `op_*` metrics. */
  def sample(metric: String, v: Double, primary: Boolean = false): Unit =
    if (!warming) {
      samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v
      if (primary) opMs += v
    }

  /** Run one timed operation. The answer is checked after the clock
    * stops; an operation that throws or answers wrongly counts as
    * failed and contributes no timing. A primary operation is also a
    * sample of the workload's `op_*` metrics. Returns the answer and
    * its time if correct.
    */
  def op[T](metric: String, span: String, primary: Boolean = true)(body: => T)(
      check: T => Option[String]): Option[(T, Double)] = {
    if (!warming) attempted += 1
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(span)(body)) catch {
      case e: Exception => Left(s"$metric: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val ms = (System.nanoTime() - t0) / 1e6
    res.flatMap(r => check(r).map(m => s"$metric: $m").toLeft(r)) match {
      case Right(r) =>
        sample(metric, ms, primary)
        Some((r, ms))
      case Left(msg) =>
        if (!warming) failed += 1
        if (errors.size < 20) errors += msg
        None
    }
  }

  private var warming = false
  def warmingUp: Boolean = warming

  /** Run operations untimed before the measured loop, so that JIT
    * compilation and lazy initialisation are done when timing starts.
    * Their answers are still checked; a wrong one fails the run. */
  def warmup(body: => Unit): Unit = {
    warming = true
    try tracer.span("setup.warmup")(body) finally warming = false
  }

  /** Repeat `build` `reps` times, recording each wall time as a set-up
    * sample; the last build's result is the one the run uses. */
  def setup[T](reps: Int)(build: Int => T): T = {
    var last: Option[T] = None
    (0 until reps).foreach { i =>
      val t0 = System.nanoTime()
      last = Some(tracer.span("setup.build")(build(i)))
      setupS += (System.nanoTime() - t0) / 1e9
    }
    last.get
  }

  /** Loop `step` until the measuring time is used up and at least
    * `minSteps` steps have run, so that a workload whose step takes
    * longer than the measuring time still has a median of several. */
  def loop(minSteps: Int)(step: Int => Unit): Double = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minSteps || (System.nanoTime() - t0) / 1e9 < opts.seconds) { step(i); i += 1 }
    (System.nanoTime() - t0) / 1e9
  }
}

object Main {

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("size", "full"),
      m.getOrElse("corrupt", "none"), m("out"))
  }

  private def loadAvg(): String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
      .split(" ").take(3).mkString(" ")

  /** Retained driver heap after a forced collection, in MB. */
  def heapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    // repeated, so the context cleaner can release blocks of dropped
    // frames between collections
    (1 to 4).foreach { _ => System.gc(); Thread.sleep(200) }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val tStart = System.nanoTime()
    def mark(m: String) = System.err.println(f"[perfbench] ${(System.nanoTime() - tStart) / 1e9}%.1f s $m")
    val loadStart = loadAvg()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.Sessions.local(defaultCpus = cpus, logLevel = "ERROR")
    mark("session ready")
    val run = new Run(spark, opts)
    Files.createDirectories(Paths.get(run.work))
    val t0 = System.nanoTime()
    val workload: Workload = opts.workload match {
      case "trace_batch" => TraceBatch
      case "lake_read" => LakeRead
      case "lake_write" => LakeWrite
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val (metrics, detail) =
      try workload.run(run)
      catch {
        case e: Exception =>
          run.errors += s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}"
          e.printStackTrace()
          (Map.empty[String, Double], Map.empty[String, Any])
      }
    mark("workload done")
    val spans = run.tracer.finish()
    mark("trace folded")
    val perLayer = if (opts.trace) Layers.metrics(run, spans) else Map.empty[String, Double]
    if (opts.trace) {
      Files.write(Paths.get(s"${opts.out}/spans.json"),
        Tracer.toJson(spans, t0).getBytes("UTF-8"))
      Layers.selfTimes(spans).foreach { case (l, ms) =>
        println(f"layer self time  $l%-18s $ms%12.1f ms")
      }
      Layers.coverage(spans).foreach { case (n, c) =>
        println(f"layer coverage   $n%-26s ${c * 100}%6.2f%% of its wall in child spans")
      }
    }
    val host = Map(
      "nproc" -> cpus, "load_start" -> loadStart, "load_end" -> loadAvg(),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
    val result = Json.obj(Seq(
      "correct" -> (run.errors.isEmpty && run.attempted > 0),
      "attempted" -> run.attempted, "failed" -> run.failed,
      "metrics" -> metrics, "per_layer" -> perLayer, "detail" -> detail,
      "sizes" -> run.sizes.toMap, "host" -> host,
      "setup_samples_s" -> run.setupS.toSeq, "errors" -> run.errors.toSeq))
    Files.write(Paths.get(s"${opts.out}/result.json"), result.getBytes("UTF-8"))
    spark.stop()
    mark("stopped")
  }
}

/** A benchmark workload: sets up its inputs, runs its timed loop, and
  * returns its end-to-end metrics plus the named per-operation summaries.
  */
trait Workload {
  def run(r: Run): (Map[String, Double], Map[String, Any])

  /** The end-to-end metrics every workload reports. */
  protected def endToEnd(r: Run, heap: Double): Map[String, Double] = Map(
    "setup_s" -> Stats.median(r.setupS.toSeq),
    "op_p50_ms" -> Stats.median(r.opMs.toSeq),
    "op_mean_ms" -> (if (r.opMs.isEmpty) 0.0 else r.opMs.sum / r.opMs.size),
    "heap_mb" -> heap)

  protected def summaries(r: Run): Map[String, Any] =
    r.samples.map { case (k, xs) => k -> Stats.summary(xs.toSeq) }.toMap

  protected def p50(r: Run, k: String): Double =
    r.samples.get(k).fold(0.0)(xs => Stats.median(xs.toSeq))
}
