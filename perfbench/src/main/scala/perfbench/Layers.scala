package perfbench

/** Per-layer metrics of a traced run, folded from its spans.
  *
  * Only the timed loop counts: spans under `setup.*` and `check.*` are
  * left out.
  * Span timings (`<layer>.<call>_ms`) are medians over the calls made;
  * listener counters are per timed operation; table-state metrics are
  * read once at the end of the run. A metric whose layer the workload
  * never calls reads 0.
  */
object Layers {

  val SpanTimings = Seq(
    "queries.daily_panel_call", "queries.daily_panel_count",
    "queries.stage1_call", "queries.stage1_count", "caches.clear",
    "sources.scan_plan", "sources.scan_exec", "sources.travel_plan",
    "sources.travel_exec", "sources.fullscan_plan", "sources.fullscan_exec",
    "sources.raw_plan", "sources.raw_exec",
    "snapshotmerge.append", "snapshotmerge.merge", "deletevectors.delete",
    "deletevectors.compact", "snapshotoptimize.binpack", "snapshotlog.expire")

  val PerOp = Seq(
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "catalyst.graft_rules_ms", "exec.jobs", "exec.tasks", "exec.task_run_ms",
    "exec.task_cpu_ms", "exec.gc_ms", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.input_bytes",
    "exec.output_bytes")

  val TableState = Seq(
    "snapshotlog.manifest_bytes", "snapshotlog.versions",
    "snapshotlog.entries_latest", "table.live_files", "table.bytes_on_disk")

  /** Every per-layer metric name, in report order. */
  val Names: Seq[String] = SpanTimings.map(_ + "_ms") ++ PerOp ++
    Seq("exec.task_skew", "exec.core_busy", "sources.partitions_planned",
      "write.bytes_per_user_byte", "driver.residue_ms") ++ TableState

  /** The spans of the timed loop: everything not under a setup or a
    * check span. */
  def timed(spans: Seq[Span]): Seq[Span] = {
    val byId = spans.map(s => s.id -> s).toMap
    def inSetup(s: Span): Boolean =
      s.name.startsWith("setup.") || s.name.startsWith("check.") ||
        byId.get(s.parent).exists(inSetup)
    spans.filterNot(inSetup)
  }

  def metrics(r: Run, all: Seq[Span]): Map[String, Double] = {
    val spans = timed(all)
    val ops = math.max(1, r.opMs.size)
    def total(k: String, ss: Seq[Span] = spans) = ss.map(_.counters.getOrElse(k, 0.0)).sum
    val timings = SpanTimings.map { n =>
      s"${n}_ms" -> Stats.median(spans.filter(_.name == n).map(_.wallMs))
    }
    val perOp = PerOp.map(k => k -> total(k) / ops)
    val roots = spans.filter(_.parent == 0)
    val opWall = r.opMs.sum
    val reads = spans.count(_.name.endsWith("_plan"))
    val writes = spans.filter(s => Seq("snapshotmerge.", "deletevectors.",
      "snapshotoptimize.", "snapshotlog.").exists(s.name.startsWith))
    val userBytes = total("write.user_bytes", roots)
    val written = total("exec.output_bytes", writes) + total("write.manifest_bytes", writes)
    val subtree = descendants(spans) _
    val residue = roots.filterNot(_.name == "caches.clear").map { root =>
      val ss = subtree(root)
      val covered = Seq("catalyst.analysis_ms", "catalyst.optimization_ms",
        "catalyst.planning_ms", "exec.job_ms").map(total(_, ss)).sum
      math.max(0.0, root.wallMs - covered)
    }.sum
    val derived = Seq(
      "exec.task_skew" -> spans.map(_.counters.getOrElse("exec.task_skew", 0.0)).maxOption.getOrElse(0.0),
      "exec.core_busy" -> (if (opWall > 0)
        total("exec.task_run_ms") / (opWall * Runtime.getRuntime.availableProcessors()) else 0.0),
      "sources.partitions_planned" -> (if (reads > 0) total("sources.partitions_planned") / reads else 0.0),
      "write.bytes_per_user_byte" -> (if (userBytes > 0) written / userBytes else 0.0),
      "driver.residue_ms" -> residue / ops)
    val state = TableState.map(k => k -> r.layers.getOrElse(k, 0.0))
    (timings ++ perOp ++ derived ++ state).toMap
  }

  private def descendants(spans: Seq[Span])(root: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == root.id)
    root +: kids.flatMap(descendants(spans))
  }

  /** Self time per layer over the timed loop, in ms: each span's wall
    * time minus the part its child spans cover. */
  def selfTimes(all: Seq[Span]): Seq[(String, Double)] = {
    val spans = timed(all)
    def self(sp: Span) = sp.wallMs - spans.filter(_.parent == sp.id).map(_.wallMs).sum
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(self).sum }
      .toSeq.sortBy(-_._2)
  }

  /** For each kind of timed operation, the share of its wall time its
    * child spans cover; what is left is the operation span's self time. */
  def coverage(all: Seq[Span]): Seq[(String, Double)] = {
    val spans = timed(all)
    spans.filter(s => s.parent == 0 && spans.exists(_.parent == s.id))
      .groupBy(_.name).map { case (n, roots) =>
        val kids = roots.map(r => spans.filter(_.parent == r.id).map(_.wallMs).sum).sum
        n -> kids / roots.map(_.wallMs).sum
      }.toSeq.sortBy(_._1)
  }

  def bytesUnder(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else f.length()
    walk(new java.io.File(dir))
  }
}
