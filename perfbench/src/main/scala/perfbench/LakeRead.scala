package perfbench

import java.util.SplittableRandom

import graft.operators.SnapshotLog
import org.apache.spark.sql.functions._

/** lake_read: an analyst's read mix against a snapshot table holding a
  * seeded daily-panel history. Selective reads and time travel are
  * bound by driver planning (manifest, pruning, Catalyst); the full
  * aggregate by the columnar reader. The timed loop writes nothing.
  */
object LakeRead extends Workload {

  final case class Shape(days: Int, lake: Gen.LakeParams, mergeEvery: Int,
      deleteEvery: Int, idSpan: Int) {
    def toMap: Map[String, Any] = lake.toMap ++ Map("days" -> days,
      "merge_every" -> mergeEvery, "delete_every" -> deleteEvery,
      "selective_id_span" -> idSpan, "selective_days" -> 3, "travel_days" -> 2,
      "mix" -> "per 20 reads: 12 selective, 5 time travel, 3 full aggregate")
  }

  /** The read mix, in a fixed order so every run issues the same
    * composition: 12 selective reads, 5 time-travel reads and 3 full
    * aggregates per block of 20. */
  val Mix: Seq[Char] = new scala.util.Random(0).shuffle(
    Seq.fill(12)('S') ++ Seq.fill(5)('T') ++ Seq.fill(3)('F'))

  val Full = Shape(days = 8, Gen.LakeParams(bonds = 3000, rowsPerDay = 600),
    mergeEvery = 4, deleteEvery = 3, idSpan = 150)
  val Tiny = Shape(days = 10, Gen.LakeParams(bonds = 200, rowsPerDay = 40),
    mergeEvery = 4, deleteEvery = 3, idSpan = 40)

  /** Daily appends by `dt`, a MERGE correction every `mergeEvery` days
    * and an equality delete every `deleteEvery` days. */
  def build(r: Run, dir: String, sh: Shape): Model = {
    val m = new Model
    val seed = r.opts.seed
    (0 until sh.days).foreach { day =>
      Lake.append(r, dir, m, Gen.panelDay(seed, sh.lake, day))
      if (day > 0 && day % sh.mergeEvery == 0) {
        val v = SnapshotLog.latest(dir)
        val (u, i) = Lake.corrections(seed, sh.lake, m, v,
          Seq(Gen.dtOf(day - 1), Gen.dtOf(day - 2)), k = 20, tag = day)
        Lake.merge(r, dir, m, u, i)
      }
      if (day > 0 && day % sh.deleteEvery == 0) {
        val v = SnapshotLog.latest(dir)
        val part = m.at(v)(Gen.dtOf(day - 1)).values.toVector.sortBy(_.id)
        val rng = new SplittableRandom(seed * 17 + day)
        Lake.deleteRows(r, dir, m, Seq.fill(8)(part(rng.nextInt(part.size))).distinct)
      }
    }
    m
  }

  def run(r: Run): (Map[String, Double], Map[String, Any]) = {
    val sh = if (r.opts.tiny) Tiny else Full
    val dirs = (0 until 3).map(i => s"${r.work}/lake_read_$i")
    val m = r.setup(dirs.size) { i =>
      graft.Scratch.clear(dirs(i))
      build(r, dirs(i), sh)
    }
    val dir = dirs.last
    dirs.init.foreach(graft.Scratch.clear)
    val latest = SnapshotLog.latest(dir)
    val first = m.versions.head
    r.sizes ++= sh.toMap ++ Lake.state(dir).map { case (k, v) => k -> v.toLong } ++ Map(
      "live_rows" -> m.liveRows(latest),
      "entry_cache_est_bytes" -> Lake.entryBytes(dir),
      "entry_cache_budget_bytes" ->
        java.lang.Long.getLong("graft.manifest.entryCacheBytes", 1024L * 1024 * 1024))

    val rng = new SplittableRandom(r.opts.seed * 7919 + 1)
    // `days` consecutive partitions starting at a seeded day
    def dtRange(days: Int) = {
      val d0 = rng.nextInt(sh.days - days + 1)
      (d0 until d0 + days).map(Gen.dtOf)
    }
    var i = 0
    def read(): Unit = {
      val kind = Mix(i % Mix.size)
      i += 1
      if (kind == 'S') {
        val dts = dtRange(3)
        val lo = rng.nextInt(sh.lake.bonds).toLong
        val hi = lo + sh.idSpan
        r.op("scan_ms", "read.scan") {
          Lake.resurrect(r, m, Lake.planAndCollect(r, "scan", Lake.table(r, dir)
            .filter(col("id").between(lo, hi) && col("dt").between(dts.head, dts.last)))
            .map(Lake.toRow).toSeq)
        }(got => Lake.diff(got, m.rows(latest, dts).filter(x => x.id >= lo && x.id <= hi)))
      } else if (kind == 'T') {
        val v = first + rng.nextInt(latest - first)
        val dts = dtRange(2)
        r.op("travel_ms", "read.travel") {
          Lake.resurrect(r, m, Lake.planAndCollect(r, "travel", Lake.table(r, dir, Some(v))
            .filter(col("dt").between(dts.head, dts.last))).map(Lake.toRow).toSeq)
        }(got => Lake.diff(got, m.rows(v, dts)))
      } else {
        r.op("fullscan_ms", "read.fullscan") {
          val row = Lake.planAndCollect(r, "fullscan", Lake.table(r, dir)
            .agg(count(lit(1)), sum("trade_count"), sum("volume"), max("prc"))).head
          val got = (row.getLong(0), row.getLong(1), row.getLong(2), row.getDouble(3))
          Lake.resurrect(r, m, Nil).headOption.fold(got)(x =>
            (got._1 + 1, got._2 + x.trade_count, got._3 + x.volume, got._4))
        } { got =>
          val rows = m.rows(latest, m.at(latest).keys).toSeq
          val want = (rows.size.toLong, rows.map(_.trade_count).sum,
            rows.map(_.volume).sum, rows.map(_.prc).max)
          if (got == want) None else Some(s"aggregate $got, expected $want")
        }
      }
    }
    // reads keep getting faster over the first few dozen (JIT
    // compilation of the planning path), so the warm-up runs 40
    r.warmup((1 to 40).foreach(_ => read()))
    r.loop(1)(_ => read())
    val heap = Main.heapMb()
    r.layers ++= Lake.state(dir)
    val detail = Map[String, Any](
      "scan_p50_ms" -> p50(r, "scan_ms"),
      "scan_tail_ms" -> r.samples.get("scan_ms").flatMap(xs => Stats.tail(xs.toSeq)).map(_._2),
      "travel_p50_ms" -> p50(r, "travel_ms"), "fullscan_p50_ms" -> p50(r, "fullscan_ms"),
      "heap_mb" -> heap, "samples" -> summaries(r))
    (endToEnd(r, heap), detail)
  }
}
