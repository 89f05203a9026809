package perfbench

import scala.collection.immutable.SortedMap

import graft.operators.{DeleteVectors, SnapshotLog, SnapshotMerge}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import Gen.PanelRow

/** The expected content of a snapshot table: for every committed
  * version, the live rows of each `dt` partition. Versions share
  * untouched partitions, so keeping every version is cheap.
  */
final class Model {
  type State = SortedMap[Int, Map[Long, PanelRow]]
  private var byVersion = Map.empty[Int, State]
  /** rows ever deleted, for the self-test's resurrected row */
  var deleted: List[PanelRow] = Nil

  def at(v: Int): State = byVersion(v)
  def versions: Seq[Int] = byVersion.keys.toSeq.sorted
  def set(v: Int, st: State): Unit = byVersion += v -> st
  def forget(below: Int): Unit = byVersion = byVersion.filter(_._1 >= below)

  def rows(v: Int, dts: Iterable[Int]): Iterator[PanelRow] =
    dts.iterator.flatMap(d => at(v).get(d).iterator.flatMap(_.valuesIterator))
  def liveRows(v: Int): Long = at(v).valuesIterator.map(_.size.toLong).sum
}

/** The lake operations both lake workloads drive, each a span around
  * one public call, and the reads with their plan/execute split. */
object Lake {
  val Part = "dt"
  val Keys = Seq("id", "dt")
  val Stats = Seq("id")

  // ---- writes --------------------------------------------------------

  /** A span around one committing call; traced, it also records the
    * manifest bytes the commit added. */
  def commit[T](r: Run, dir: String, name: String)(body: => T): T =
    r.tracer.span(name) {
      def mb = if (r.tracer.enabled) Layers.bytesUnder(s"$dir/_manifests") else 0L
      val before = mb
      val out = body
      r.tracer.count("write.manifest_bytes", math.max(0L, mb - before).toDouble)
      out
    }

  def append(r: Run, dir: String, m: Model, rows: Vector[PanelRow]): Int = {
    val v = commit(r, dir, "snapshotmerge.append")(
      if (SnapshotLog.latest(dir) == 0)
        SnapshotMerge.writeInitial(r.spark, Gen.frame(r.spark, rows), dir, Part, Stats)
      else SnapshotMerge.appendPartitioned(r.spark, Gen.frame(r.spark, rows), dir, Part, Stats))
    val prev = if (v == 1) SortedMap.empty[Int, Map[Long, PanelRow]] else m.at(v - 1)
    val add = rows.groupBy(_.dt).map { case (d, rs) =>
      d -> (prev.getOrElse(d, Map.empty[Long, PanelRow]) ++ rs.map(x => x.id -> x))
    }
    m.set(v, prev ++ add)
    r.tracer.count("write.user_bytes", rows.size * RowBytes)
    v
  }

  /** Equality deletes on (id, dt) for the given rows. */
  def deleteRows(r: Run, dir: String, m: Model, rows: Seq[PanelRow]): Int = {
    import r.spark.implicits._
    val keys = rows.map(x => (x.id, x.dt)).toDF("id", "dt")
    val v = commit(r, dir, "deletevectors.delete")(DeleteVectors.appendDeletes(r.spark, dir, keys))
    val drop = rows.groupBy(_.dt).map { case (d, rs) => d -> rs.map(_.id).toSet }
    m.set(v, m.at(v - 1).map { case (d, part) =>
      d -> drop.get(d).fold(part)(ids => part -- ids)
    })
    m.deleted = rows.toList ++ m.deleted
    r.tracer.count("write.user_bytes", rows.size * 12.0)
    v
  }

  /** An equality delete of whole partitions (keys carry only `dt`). */
  def deleteDays(r: Run, dir: String, m: Model, dts: Seq[Int]): Int = {
    import r.spark.implicits._
    val v = commit(r, dir, "deletevectors.delete")(
      DeleteVectors.appendDeletes(r.spark, dir, dts.toDF("dt")))
    m.deleted = m.at(v - 1).get(dts.head).toList.flatMap(_.values.take(1)) ++ m.deleted
    m.set(v, m.at(v - 1) -- dts)
    r.tracer.count("write.user_bytes", dts.size * 4.0)
    v
  }

  /** MERGE late corrections: `updates` re-values live keys, `inserts`
    * adds keys the partition does not hold. */
  def merge(r: Run, dir: String, m: Model, updates: Seq[PanelRow],
      inserts: Seq[PanelRow]): Int = {
    val s = r.spark
    val upd = Gen.frame(s, updates).select(col("id"), col("dt"),
      col("trade_count").as("u_tc"), col("volume").as("u_vol"), col("prc").as("u_prc"))
    val noDel = Gen.frame(s, Nil).select(Keys.map(col): _*)
    val v = commit(r, dir, "snapshotmerge.merge")(
      SnapshotMerge.apply(s, dir, Part, Keys, noDel, upd, Gen.frame(s, inserts),
        Map("trade_count" -> "u_tc", "volume" -> "u_vol", "prc" -> "u_prc"), Stats))
    val prev = m.at(v - 1)
    val changed = (updates ++ inserts).groupBy(_.dt).map { case (d, rs) =>
      d -> (prev.getOrElse(d, Map.empty[Long, PanelRow]) ++ rs.map(x => x.id -> x))
    }
    m.set(v, prev ++ changed)
    r.tracer.count("write.user_bytes", (updates.size + inserts.size) * RowBytes)
    v
  }

  /** Seeded late corrections for partitions `dts` of version `v`: `k`
    * re-valued live rows and two new rows per partition. */
  def corrections(seed: Long, p: Gen.LakeParams, m: Model, v: Int,
      dts: Seq[Int], k: Int, tag: Int): (Seq[PanelRow], Seq[PanelRow]) = {
    val r = new java.util.SplittableRandom(seed * 31 + tag)
    val parts = dts.flatMap(d => m.at(v).get(d).map(d -> _))
    val upd = parts.flatMap { case (_, part) =>
      val rows = part.values.toVector.sortBy(_.id)
      Seq.fill(math.min(k, rows.size))(rows(r.nextInt(rows.size))).distinct
        .map(x => x.copy(trade_count = x.trade_count + 1, volume = x.volume + 1000,
          prc = math.round((x.prc + 0.5) * 1000) / 1000.0))
    }
    val ins = parts.flatMap { case (d, part) =>
      Iterator.from(0).map(i => p.bonds.toLong + tag * 4L + i)
        .filterNot(part.contains).take(2)
        .map(id => PanelRow(id, d, 1L + r.nextInt(40), 1000L + r.nextInt(99000), 100.0))
    }
    (upd, ins)
  }

  /** Raw bytes of one user row: id 8, dt 4, trade_count 8, volume 8, prc 8. */
  val RowBytes = 36.0

  // ---- reads ---------------------------------------------------------

  def table(r: Run, dir: String, version: Option[Int] = None): DataFrame = {
    val rd = r.spark.read.format("graft-snapshot").option("path", dir)
    version.fold(rd)(v => rd.option("versionAsOf", v.toString)).load()
  }

  /** Plan `df` (Catalyst phases plus the snapshot scan's input
    * partitions), then execute it; spans `sources.<kind>_plan` and
    * `sources.<kind>_exec`. */
  def planAndCollect(r: Run, kind: String, df: => DataFrame): Array[Row] = {
    val d = r.tracer.span(s"sources.${kind}_plan") {
      val d = df
      val root = d.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      val parts = scans(root).map(_.inputRDD.partitions.length).sum
      r.tracer.count("sources.partitions_planned", parts.toDouble)
      d
    }
    r.tracer.span(s"sources.${kind}_exec")(d.collect())
  }

  private def scans(p: SparkPlan): Seq[BatchScanExec] =
    p.collect { case b: BatchScanExec => b }

  def toRow(x: Row): PanelRow =
    PanelRow(x.getAs[Long]("id"), x.getAs[Int]("dt"), x.getAs[Long]("trade_count"),
      x.getAs[Long]("volume"), x.getAs[Double]("prc"))

  /** Compare a row answer with the model; None when equal. */
  def diff(got: Seq[PanelRow], want: Iterator[PanelRow]): Option[String] = {
    val g = got.groupBy(identity).view.mapValues(_.size).toMap
    val w = want.toSeq.groupBy(identity).view.mapValues(_.size).toMap
    if (g == w) None
    else {
      val extra = g.keySet -- w.keySet
      val missing = w.keySet -- g.keySet
      Some(s"${got.size} rows vs ${w.values.sum} expected; " +
        s"extra ${extra.take(2).mkString(",")} missing ${missing.take(2).mkString(",")}")
    }
  }

  /** The whole latest table, read outside any timed region, against
    * the model at version `v`; None when equal. */
  def checkTable(r: Run, dir: String, m: Model, v: Int): Option[String] =
    r.tracer.span("check.table") {
      val got = table(r, dir).collect().map(toRow).toSeq
      diff(got, m.rows(v, m.at(v).keys)).map(d => s"whole table at v$v: $d")
    }

  /** The self-test's damaged answer: one deleted row comes back in the
    * first timed read. */
  def resurrect(r: Run, m: Model, rows: Seq[PanelRow]): Seq[PanelRow] =
    if (r.opts.corrupt == "lake_resurrect" && !r.corrupted && !r.warmingUp &&
        m.deleted.nonEmpty) {
      r.corrupted = true
      rows :+ m.deleted.head
    } else rows

  // ---- table state ---------------------------------------------------

  /** Table-state observations from the filesystem and the public
    * manifest API. */
  def state(dir: String): Map[String, Double] = {
    val v = SnapshotLog.latest(dir)
    val es = SnapshotLog.entries(dir, v)
    val manifests = new java.io.File(s"$dir/_manifests").listFiles().toSeq
    Map(
      "snapshotlog.manifest_bytes" -> Layers.bytesUnder(s"$dir/_manifests").toDouble,
      "snapshotlog.versions" -> manifests.count(_.getName.endsWith(".manifest")).toDouble,
      "snapshotlog.entries_latest" -> es.size.toDouble,
      "table.live_files" -> es.count(_.kind == "D").toDouble,
      "table.bytes_on_disk" -> Layers.bytesUnder(dir).toDouble)
  }

  /** Estimated parsed-entry bytes of the latest version, by the same
    * per-entry formula the manifest entry cache budgets with. */
  def entryBytes(dir: String): Long =
    SnapshotLog.entries(dir, SnapshotLog.latest(dir)).map { e =>
      180L + 2L * (e.path.length + e.partition.length) + 140L * e.stats.size +
        90L * (e.nullCounts.size + e.sums.size) + 16L * e.splitOffsets.size +
        e.strStats.map { case (k, (a, b)) => 120L + 2L * (k.length + a.length + b.length) }.sum
    }.sum
}
