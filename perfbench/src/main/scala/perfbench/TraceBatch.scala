package perfbench

import java.nio.file.{Files, Paths}

import graft.Caches
import graft.queries.{QStage1, QTracePipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** trace_batch: the paper's pipeline, cold on every iteration. Raw
  * trade reports go through Stage 0 (`QTracePipeline.dailyPanel`) and,
  * separately, Stage 1 (`QStage1.enrichedPanel`); each is materialized
  * in full and digested, with `Caches.clearAll()` before each so no
  * memo survives between iterations. No lake code runs here.
  */
object TraceBatch extends Workload {

  val Full = Gen.TradeParams(bonds = 300, days = 40, reports = 20000)
  val Tiny = Gen.TradeParams(bonds = 20, days = 10, reports = 2000)
  // The oracle replays the per-bond bounce-back scan as a recursive CTE
  // whose iterations grow with the longest bond history, so the
  // reduced-size check keeps histories short with a flatter skew.
  val Oracle = Gen.TradeParams(bonds = 100, days = 6, reports = 1500, zipfS = 0.3)

  /** (rows, order-independent digest) of a frame, in one action that
    * materializes every column. */
  def digest(df: DataFrame): (Long, Long) = {
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), coalesce(sum(shiftright(h, 24)), lit(0L)),
      coalesce(bit_xor(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1) * 31 + r.getLong(2))
  }

  def run(r: Run): (Map[String, Double], Map[String, Any]) = {
    val s = r.spark
    val p = if (r.opts.tiny) Tiny else Full
    val sf = s"${r.work}/trades"
    val reports = r.setup(3)(_ => Gen.writeTrades(s, r.opts.seed, p, sf, files = 8))
    r.sizes ++= p.toMap ++ Map("reports" -> reports,
      "events_bytes" -> Layers.bytesUnder(s"$sf/events.parquet"))

    var ref: Option[((Long, Long), (Long, Long))] = None
    var panelRows = 0L
    var stage1Rows = 0L
    def iteration(): Unit = {
      r.tracer.span("caches.clear")(Caches.clearAll())
      val panel = r.op("panel_ms", "queries.daily_panel", primary = false) {
        val df = r.tracer.span("queries.daily_panel_call")(QTracePipeline.dailyPanel(s, sf))
        r.tracer.span("queries.daily_panel_count")(digest(df))
      }(d => ref.filter(_._1 != d).map(x => s"digest ${d} differs from the first iteration's ${x._1}"))
      r.tracer.span("caches.clear")(Caches.clearAll())
      val stage1 = r.op("stage1_ms", "queries.stage1", primary = false) {
        val df = r.tracer.span("queries.stage1_call")(QStage1.enrichedPanel(s, sf))
        r.tracer.span("queries.stage1_count")(digest(df))
      }(d => ref.filter(_._2 != d).map(x => s"digest ${d} differs from the first iteration's ${x._2}"))
      (panel, stage1) match {
        case (Some((a, ta)), Some((b, tb))) =>
          if (ref.isEmpty) ref = Some((a, b))
          panelRows = a._1; stage1Rows = b._1
          r.sample("iteration_ms", ta + tb, primary = true)
        case _ => ()
      }
    }
    // The oracle check runs the same two entry points at a reduced size,
    // so it doubles as the untimed warm-up; one iteration takes longer
    // than a short measuring time, so the loop runs at least three.
    r.warmup(oracleCheck(r))
    r.loop(3)(_ => iteration())
    Caches.clearAll()
    val heap = Main.heapMb()
    r.sizes ++= Map("panel_rows" -> panelRows, "stage1_rows" -> stage1Rows)
    val panelS = r.samples.get("panel_ms").map(_.toSeq).getOrElse(Nil).map(_ / 1000)
    val stage1S = r.samples.get("stage1_ms").map(_.toSeq).getOrElse(Nil).map(_ / 1000)
    val both = panelS.zip(stage1S).map { case (a, b) => a + b }
    val detail = Map[String, Any](
      "panel_s" -> Stats.median(panelS), "stage1_s" -> Stats.median(stage1S),
      "trades_per_s" -> (if (both.isEmpty) 0.0 else reports / Stats.median(both)),
      "heap_mb" -> heap, "samples" -> summaries(r))
    (endToEnd(r, heap), detail)
  }

  /** Spark against the DuckDB oracle at a reduced size of the same
    * generator: writes the Spark answers and the oracle SQL that
    * `graft.SparkEntry.oracleSql` declares; the harness compares them. */
  private def oracleCheck(r: Run): Unit = {
    val s = r.spark
    val sf = s"${r.opts.out}/oracle"
    Gen.writeTrades(s, r.opts.seed, Oracle, sf, files = 2)
    val sql = graft.SparkEntry.oracleSql
    val answers = Seq(
      "tp_full_panel" -> (() => QTracePipeline.dailyPanel(s, sf)),
      "tp_stage1_panel" -> (() => QStage1.enrichedPanel(s, sf)))
    answers.foreach { case (name, build) =>
      Caches.clearAll()
      var df = build()
      if (r.opts.corrupt == "panel_drop" && name == "tp_full_panel") {
        // the self-test's damaged answer: one panel row lost
        df = df.exceptAll(df.orderBy(df.columns.map(col).toIndexedSeq: _*).limit(1))
      }
      df.write.mode("overwrite").parquet(s"$sf/answers/$name")
    }
    Caches.clearAll()
    Files.write(Paths.get(s"$sf/oracle_sql.json"),
      Json.obj(answers.map { case (n, _) => n -> sql(n) }).getBytes("UTF-8"))
    r.sizes ++= Map("oracle_reports" -> s.read.parquet(s"$sf/events.parquet").count(),
      "oracle_params" -> Oracle.toMap)
  }
}
