package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The program under test only ever sees the
  * parquet files and snapshot tables these write.
  *
  * Every random draw comes from a `SplittableRandom` keyed on the run
  * seed and the entity (bond, day), so the same seed yields the same
  * rows however Spark partitions the generation job.
  */
object Gen {

  /** Trade-report generator parameters. Rates are per base report. */
  final case class TradeParams(
      bonds: Int,
      days: Int,
      reports: Long,
      zipfS: Double = 1.1,
      cancelRate: Double = 0.03,
      reversalRate: Double = 0.02,
      agencyRate: Double = 0.04,
      decimalShiftRate: Double = 0.004,
      bounceRate: Double = 0.004) {
    def toMap: Map[String, Any] = Map(
      "bonds" -> bonds, "days" -> days, "base_reports" -> reports,
      "zipf_s" -> zipfS, "cancel_rate" -> cancelRate,
      "reversal_rate" -> reversalRate, "agency_rate" -> agencyRate,
      "decimal_shift_rate" -> decimalShiftRate, "bounce_rate" -> bounceRate)
  }

  /** One row of the `events` schema that `graft.queries.Trades.df` maps
    * onto TRACE fields: `user_id` is the bond, `value` the price,
    * `event_id` the report order, and `event_type` picks the role
    * (`error` = cancel X, `signup` = reversal R on the sell side,
    * `purchase` = sell trade, `click`/`view` = buy trade). `Trades.df`
    * derives qty from `event_id % 97` and the contra flag from
    * `event_id % 3`, so the generator encodes both into the id.
    */
  final case class Event(event_id: Long, ts_us: Long, user_id: Long,
      event_type: String, value: Double)

  private def rng(seed: Long, a: Long, b: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ a * 0xC2B2AE3D27D4EB4FL ^
      b * 0x165667B19E3779F9L)

  /** Weekday dates from 2024-01-02, as epoch days. */
  def tradingDays(n: Int): Array[Int] = {
    val start = java.time.LocalDate.of(2024, 1, 2)
    Iterator.iterate(start)(_.plusDays(1))
      .filter(d => d.getDayOfWeek.getValue <= 5)
      .take(n).map(_.toEpochDay.toInt).toArray
  }

  /** Reports per bond: Zipf-skewed activity, at least one each. */
  def bondReports(p: TradeParams): Array[Long] = {
    val w = Array.tabulate(p.bonds)(b => 1.0 / math.pow(b + 1.0, p.zipfS))
    val sum = w.sum
    w.map(x => math.max(1L, math.round(p.reports * x / sum)))
  }

  // residue r in [0, 291) with r % 97 == q and r % 3 == 0 iff dealer
  // contra: event_id = k * 291 + r keeps the report order in k
  private def residue(q: Int, dealer: Boolean): Int = {
    val t = if (dealer) Math.floorMod(-q, 3) else Math.floorMod(1 - q, 3)
    q + 97 * t
  }

  /** The reports of one bond, in report order. */
  def bondEvents(seed: Long, p: TradeParams, days: Array[Int], bond: Int,
      n: Long): Iterator[Event] = {
    val r = rng(seed, 1L, bond.toLong)
    val perDay = new Array[Int](days.length)
    var j = 0L
    while (j < n) { perDay(r.nextInt(days.length)) += 1; j += 1 }
    var price = 80.0 + r.nextDouble() * 40.0
    var seq = 0L
    val out = scala.collection.mutable.ArrayBuffer.empty[Event]
    days.indices.iterator.filter(perDay(_) > 0).foreach { di =>
      val m = perDay(di)
      val secs = Array.fill(m)(34200 + r.nextInt(23400)).sorted
      val dayUs = days(di).toLong * 86400L * 1000000L
      val evs = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Double, Int, Boolean)]
      secs.foreach { s =>
        price = math.min(250.0, math.max(20.0, price + r.nextGaussian() * 0.15))
        val cents = math.round(price * 100)
        val sell = r.nextDouble() < 0.45
        val dealer = r.nextDouble() < 0.3
        val q = r.nextInt(97)
        val u = r.nextDouble()
        val px =
          if (u < p.decimalShiftRate) cents * (if (r.nextDouble() < 0.7) 10 else 100)
          else if (u < p.decimalShiftRate + p.bounceRate)
            cents + 4000 + r.nextInt(2000)
          else cents
        val buyType = if (r.nextBoolean()) "click" else "view"
        val v = r.nextDouble()
        if (v < p.agencyRate) {
          // an agency pair: dealer sell and dealer buy at the same
          // price and quantity — the buy leg is the agency duplicate
          evs += ((s, "purchase", px / 100.0, q, true))
          evs += ((s, buyType, px / 100.0, q, true))
        } else {
          evs += ((s, if (sell) "purchase" else buyType, px / 100.0, q, dealer))
          if (v < p.agencyRate + p.cancelRate)
            evs += ((s, "error", px / 100.0, q, dealer))
          else if (v < p.agencyRate + p.cancelRate + p.reversalRate)
            evs += ((s, "signup", px / 100.0, r.nextInt(97), false))
        }
      }
      var k = 0
      evs.foreach { case (s, et, v, q, dealer) =>
        val id = ((bond.toLong << 24) | seq) * 291L + residue(q, dealer)
        out += Event(id, dayUs + s * 1000000L + k, bond.toLong, et, v)
        seq += 1; k += 1
      }
    }
    out.iterator
  }

  /** Write the `events` table for `p` under `sfDir` (the layout
    * `graft.Tables.events` reads); returns the number of reports.
    * `ts` is written as TIMESTAMP_NTZ, the encoding the reference
    * test data uses, so DuckDB and Spark read the same instants.
    */
  def writeTrades(s: SparkSession, seed: Long, p: TradeParams,
      sfDir: String, files: Int): Long = {
    import s.implicits._
    val days = tradingDays(p.days)
    val per = bondReports(p)
    val df = s.createDataset(per.indices.map(b => (b, per(b))))
      .repartition(files)
      .flatMap { case (b, n) => bondEvents(seed, p, days, b, n) }
      .toDF()
      .select(col("event_id"),
        timestamp_micros(col("ts_us")).cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"),
        lit("{}").as("props"))
    df.write.mode("overwrite").parquet(s"$sfDir/events.parquet")
    s.read.parquet(s"$sfDir/events.parquet").count()
  }

  // ---- panel-shaped lake rows ----------------------------------------

  /** One row of the lake tables: a bond-day of a daily panel. */
  final case class PanelRow(id: Long, dt: Int, trade_count: Long,
      volume: Long, prc: Double)

  /** Lake generator parameters. */
  final case class LakeParams(bonds: Int, rowsPerDay: Int) {
    def toMap: Map[String, Any] =
      Map("bonds" -> bonds, "rows_per_day" -> rowsPerDay)
  }

  /** `dt` as yyyymmdd of the i-th trading day. */
  def dtOf(day: Int): Int = {
    val d = java.time.LocalDate.of(2024, 1, 2).plusDays(day.toLong)
    d.getYear * 10000 + d.getMonthValue * 100 + d.getDayOfMonth
  }

  /** The panel rows of day `day`. */
  def panelDay(seed: Long, p: LakeParams, day: Int): Vector[PanelRow] = {
    val r = rng(seed, 2L, day.toLong)
    val dt = dtOf(day)
    // a seeded subset of `rowsPerDay` bonds trades that day
    val ids = scala.collection.mutable.TreeSet.empty[Long]
    while (ids.size < p.rowsPerDay) ids += r.nextInt(p.bonds).toLong
    ids.iterator.map { id =>
      val n = 1L + r.nextInt(40)
      PanelRow(id, dt, n, n * (1000L + r.nextInt(99000)),
        math.round((80.0 + r.nextDouble() * 40.0) * 1000) / 1000.0)
    }.toVector
  }

  def frame(s: SparkSession, rows: Seq[PanelRow]): DataFrame = {
    import s.implicits._
    s.createDataset(rows).toDF().coalesce(1)
  }
}
