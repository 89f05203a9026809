package perfbench

import graft.operators.{DeleteVectors, SnapshotLog, SnapshotOptimize}
import org.apache.spark.sql.functions._

/** lake_write: rolling-window ingest on a table shaped like lake_read's.
  * Each simulated trading day appends the new day and deletes the
  * oldest; at the end of each cycle of days a MERGE upserts late
  * corrections into recent partitions, then a maintenance pass compacts
  * the delete vectors, bin-packs small files, expires old snapshots and
  * removes orphans. The touched partitions are read back after every
  * commit. The window keeps the table size steady, so maintenance runs
  * several cycles at a stable size.
  */
object LakeWrite extends Workload {

  final case class Shape(window: Int, lake: Gen.LakeParams, cycleDays: Int,
      keepVersions: Int) {
    def toMap: Map[String, Any] = lake.toMap ++ Map("window_days" -> window,
      "days_per_maintenance_cycle" -> cycleDays, "merges_per_cycle" -> 1,
      "keep_versions" -> keepVersions)
  }

  val Full = Shape(window = 20, Gen.LakeParams(bonds = 3000, rowsPerDay = 600),
    cycleDays = 2, keepVersions = 8)
  val Tiny = Shape(window = 4, Gen.LakeParams(bonds = 200, rowsPerDay = 40),
    cycleDays = 2, keepVersions = 3)

  /** Bin-pack threshold: every file of these tables is below it. */
  val SmallBytes: Long = 8L * 1024 * 1024

  def run(r: Run): (Map[String, Double], Map[String, Any]) = {
    val sh = if (r.opts.tiny) Tiny else Full
    val seed = r.opts.seed
    // the set-up is short and still speeding up over the first builds,
    // so five builds give a steadier median than three
    val dirs = (0 until 5).map(i => s"${r.work}/lake_write_$i")
    val m = r.setup(dirs.size) { i =>
      graft.Scratch.clear(dirs(i))
      val m = new Model
      Lake.append(r, dirs(i), m, (0 until sh.window).flatMap(d =>
        Gen.panelDay(seed, sh.lake, d)).toVector)
      m
    }
    val dir = dirs.last
    dirs.init.foreach(graft.Scratch.clear)

    def readBack(dt: Int): Unit = {
      val v = SnapshotLog.latest(dir)
      r.op("raw_ms", "read.raw", primary = false) {
        Lake.resurrect(r, m, Lake.planAndCollect(r, "raw",
          Lake.table(r, dir).filter(col("dt") === dt)).map(Lake.toRow).toSeq)
      }(got => Lake.diff(got, m.rows(v, Seq(dt))))
    }

    // one loop step is one maintenance cycle, so every run times the same
    // operation mix: per day an append and a delete of the oldest day,
    // a MERGE on the cycle's last day, then the maintenance pass. A MERGE
    // and a maintenance pass rewrite more than the partitions read back,
    // so after each the whole table is compared with the model too.
    var day = sh.window
    var cycles = 0
    def cycle(days: Int): Unit = {
      (1 to days).foreach { d =>
        val newDt = Gen.dtOf(day)
        r.op("append_ms", "write.append")(Lake.append(r, dir, m, Gen.panelDay(seed, sh.lake, day)))(_ => None)
        readBack(newDt)
        val oldDt = Gen.dtOf(day - sh.window)
        r.op("delete_ms", "write.delete")(Lake.deleteDays(r, dir, m, Seq(oldDt)))(_ => None)
        readBack(oldDt)
        if (d == days) {
          val touched = Seq(Gen.dtOf(day - 1), Gen.dtOf(day - 2))
          val (u, ins) = Lake.corrections(seed, sh.lake, m, SnapshotLog.latest(dir),
            touched, k = 20, tag = day)
          r.op("merge_ms", "write.merge")(Lake.merge(r, dir, m, u, ins))(v => Lake.checkTable(r, dir, m, v))
          touched.foreach(readBack)
        }
        day += 1
      }
      r.op("maint_ms", "write.maint")(maintain(r, dir, m, sh))(v => Lake.checkTable(r, dir, m, v))
      readBack(Gen.dtOf(day - 1))
      cycles += 1
    }
    // a one-day cycle runs every kind of operation
    r.warmup(cycle(1))
    cycles = 0
    r.loop(3)(_ => cycle(sh.cycleDays))
    val heap = Main.heapMb()
    r.layers ++= Lake.state(dir)
    r.sizes ++= sh.toMap ++ Lake.state(dir).map { case (k, v) => k -> v.toLong } ++ Map(
      "simulated_days" -> (day - sh.window), "maintenance_cycles" -> cycles,
      "live_rows" -> m.liveRows(SnapshotLog.latest(dir)),
      "entry_cache_est_bytes" -> Lake.entryBytes(dir))
    val detail = Map[String, Any](
      "append_p50_ms" -> p50(r, "append_ms"), "merge_p50_ms" -> p50(r, "merge_ms"),
      "delete_p50_ms" -> p50(r, "delete_ms"), "maint_p50_ms" -> p50(r, "maint_ms"),
      "raw_p50_ms" -> p50(r, "raw_ms"), "space_amp" -> spaceAmp(r, dir),
      "heap_mb" -> heap, "samples" -> summaries(r))
    (endToEnd(r, heap), detail)
  }

  /** Compact the delete vectors, bin-pack small files, expire all but
    * the last `keepVersions` snapshots and remove orphaned files; returns
    * the latest version. */
  private def maintain(r: Run, dir: String, m: Model, sh: Shape): Int = {
    val s = r.spark
    def carry(v: Int): Unit = if (!m.versions.contains(v)) m.set(v, m.at(v - 1))
    if (r.opts.corrupt == "lake_drop" && !r.corrupted && !r.warmingUp) {
      // the self-test's damaged table: one row of the oldest partition,
      // which no read-back after this pass reads, is deleted behind the
      // model's back and then compacted away
      r.corrupted = true
      val v = SnapshotLog.latest(dir)
      val oldest = m.at(v).head._2.values.minBy(_.id)
      import s.implicits._
      carry(DeleteVectors.appendDeletes(s, dir, Seq((oldest.id, oldest.dt)).toDF("id", "dt")))
    }
    carry(Lake.commit(r, dir, "deletevectors.compact")(
      DeleteVectors.compact(s, dir, Lake.Part, Lake.Stats)))
    carry(Lake.commit(r, dir, "snapshotoptimize.binpack")(
      SnapshotOptimize.binPack(s, dir, Lake.Part, SmallBytes, Lake.Stats)))
    val latest = SnapshotLog.latest(dir)
    val keepFrom = math.max(1, latest - sh.keepVersions + 1)
    r.tracer.span("snapshotlog.expire")(SnapshotLog.expire(dir, keepFrom))
    r.tracer.span("snapshotlog.remove_orphans")(SnapshotLog.removeOrphans(dir, 0L))
    m.forget(keepFrom)
    latest
  }

  /** Bytes under the table directory over the bytes of its live rows
    * written once as plain parquet. */
  private def spaceAmp(r: Run, dir: String): Double = {
    val plain = s"${r.work}/space_amp_plain"
    Lake.table(r, dir).write.mode("overwrite").parquet(plain)
    val amp = Layers.bytesUnder(dir).toDouble / Layers.bytesUnder(plain)
    graft.Scratch.clear(plain)
    amp
  }
}
