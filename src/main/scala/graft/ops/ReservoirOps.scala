package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable bottom-K ROW sampling — the multiset twin of the KMV theta
  * rollup ([[ThetaOps.thetaDaily]]): where KMV samples the DISTINCT
  * universe (so it answers cardinality), bottom-K by a per-ROW hash is
  * a uniform sample of the rows themselves (so it answers value-shaped
  * questions — medians, distributions) and merges by the same law:
  *
  *   bottomK(A ∪ B) = bottomK(bottomK(A) ∪ bottomK(B))
  *
  * — every global bottom-K row is in its own day's bottom-K, so any
  * date-range sample is computable from stored K-row day samples alone,
  * the raw events never rescanned. Hashing `event_id` (unique per row)
  * makes the sample deterministic and the DuckDB replay exact; ranking
  * ties on (hv, event_id) so even a 48-bit hash collision can't make
  * the pick shuffle-order-dependent.
  *
  * Stored lifecycle: per-day samples and exact day totals persist as
  * model tables; a batch append folds `bottomK(stored ∪ bottomK(batch))`
  * per day (the merge law again — a day split across batches lands
  * bit-equal to a single-pass build) and adds totals. Totals are
  * additive, so appends ride the watermark fence
  * ([[TimeSeriesOps.appendValueHistogram]] posture): replays refuse
  * loudly, [[buildDaySamples]] re-anchors. Serving reads ONLY the model
  * tables (plan-asserted in the spec).
  */
object ReservoirOps {

  /** Per-day sample size. */
  val K = 64

  /** Merged-range gate window: epoch days [lo, hi) relative to the
    * fixture's own min day (the theta-daily convention made relative so
    * every sf lands inside its span).
    */
  val RangeLoOff = 5L
  val RangeHiOff = 15L

  val Db = "graft_reservoir"
  val SampleTable = "day_samples"
  val TotalsTable = "day_totals"
  val WmTsProp = "graft.reservoir.wm_ts"
  val WmEidProp = "graft.reservoir.wm_event_id"
  private[graft] val Fence = graft.pipeline.FencedAppend.Fence(
    Some(SampleTable), Seq("ts" -> WmTsProp, "event_id" -> WmEidProp),
    graft.pipeline.FencedAppend.Lo, Some("buildDaySamples"))

  private def hvOf(c: Column): Column =
    conv(substring(md5(c.cast("string").cast("binary")), 1,
      ThetaOps.HashHexChars), 16, 10).cast("long") + 1

  /** (day, event_id, cents, hv) rows off an events frame. */
  private def rowsOf(events: DataFrame): DataFrame =
    events.select(
      expr(s"ts div ${EventOps.DayNs}").as("day"),
      col("event_id"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withColumn("hv", hvOf(col("event_id")))

  /** Bottom-K per day by (hv, event_id). */
  private def bottomK(rows: DataFrame): DataFrame =
    rows.withColumn("rn", row_number().over(
        Window.partitionBy("day").orderBy(col("hv"), col("event_id"))))
      .where(col("rn") <= K)
      .select("day", "event_id", "cents", "hv")

  /** Per-day medians + the day = −1 range row from merged samples.
    * `samples` must carry (day, event_id, cents, hv, n_total).
    */
  private def statsFrom(samples: DataFrame, mn: Long): DataFrame = {
    def medOf(df: DataFrame): DataFrame = {
      val byTag = Window.partitionBy("mday")
      df.withColumn("mrn", row_number().over(
          byTag.orderBy(col("cents"), col("event_id"))))
        .withColumn("mcnt", count(lit(1)).over(byTag))
        .where(col("mrn") === expr("(mcnt + 1) div 2"))
        .select(col("mday"), col("mcnt").as("n_sample"),
          col("cents").as("med_cents"))
    }
    val perDay = medOf(samples.withColumn("mday", col("day")))
      .join(samples.groupBy(col("day").as("mday"))
        .agg(first("n_total").as("n_total")), "mday")
    // merged range: bottom-K over the UNION OF DAY SAMPLES only
    val range = samples
      .where(col("day") >= mn + RangeLoOff && col("day") < mn + RangeHiOff)
    val merged = range
      .withColumn("rrn", row_number().over(
        Window.orderBy(col("hv"), col("event_id"))))
      .where(col("rrn") <= K)
      .withColumn("mday", lit(-1L))
    // exact range row count: n_total repeats on every sample row of its
    // day — de-repeat per day, then sum
    val rangeTotal = range.groupBy("day").agg(first("n_total").as("nt"))
      .agg(coalesce(sum("nt"), lit(0L)).as("n_total"))
      .withColumn("mday", lit(-1L))
    val rangeRow = medOf(merged).join(rangeTotal, "mday")
    perDay.select(col("mday").as("day"), col("n_total"), col("n_sample"),
        col("med_cents"))
      .unionByName(rangeRow.select(col("mday").as("day"), col("n_total"),
        col("n_sample"), col("med_cents")))
      .orderBy("day")
  }

  /** Gate `q_reservoir_daily` — the single-pass build+serve.
    *
    * Scale shape: ONE (day)-keyed exchange carries both the bottom-K
    * rank and the exact day count (same key); everything downstream —
    * per-day medians, the range merge, its median — runs on K-row
    * samples (≤ K·days rows total; the lone unpartitioned window is
    * over that bounded frame, the theta posture).
    */
  def reservoirDaily(s: SparkSession, d: String): DataFrame = {
    val rows = rowsOf(graft.Tables.t(s, d, "events"))
    val byDay = Window.partitionBy("day")
    val samples = rows
      .withColumn("rn", row_number().over(
        byDay.orderBy(col("hv"), col("event_id"))))
      .withColumn("n_total", count(lit(1)).over(byDay))
      .where(col("rn") <= K)
      .select("day", "event_id", "cents", "hv", "n_total")
    val mn = Guards.anchored(rows.agg(min("day")).head,
      "reservoir daySamples", "min(day)").getLong(0)
    statsFrom(samples, mn)
  }

  // ------------------------------------------------------ stored state

  private def fqn(db: String, t: String) = s"`$db`.`$t`"

  /** Full build — the scheduled re-anchor for the append path. */
  def buildDaySamples(events: DataFrame, db: String = Db): Unit = {
    val rows = rowsOf(events)
    graft.store.Warehouse.saveModel(bottomK(rows), db, SampleTable)
    graft.store.Warehouse.saveModel(
      rows.groupBy("day").agg(count(lit(1)).as("n_total")), db, TotalsTable)
    Fence.boundsOf(events)
      .foreach(b => Fence.advance(events.sparkSession, db, b.hi))
  }

  /** Fold one batch: per-day `bottomK(stored ∪ bottomK(batch))` + added
    * totals.
    */
  def appendDaySamples(s: SparkSession, batch: DataFrame,
                       db: String = Db): Unit = {
    val bounds = Fence.check("appendDaySamples", s, db, batch)
    if (bounds.isEmpty) return
    Fence.advance(s, db, bounds.get.hi)
    val rows = rowsOf(batch)
    val deltaSamples = bottomK(rows).localCheckpoint()
    val deltaTotals = rows.groupBy("day").agg(count(lit(1)).as("n_total"))
      .localCheckpoint()
    graft.store.Warehouse.rewriteVia(s, db, SampleTable)(stored =>
      bottomK(stored.unionByName(deltaSamples)))
    graft.store.Warehouse.rewriteVia(s, db, TotalsTable)(stored =>
      stored.unionByName(deltaTotals)
        .groupBy("day").agg(sum("n_total").as("n_total")))
  }

  /** The [[reservoirDaily]] summary served from the model tables alone —
    * no events scan, by construction (this function never sees the
    * events table).
    */
  def servedDaily(s: SparkSession, db: String = Db): DataFrame = {
    graft.store.Warehouse.refreshDb(s, db)
    val totals = s.table(fqn(db, TotalsTable))
    val samples = s.table(fqn(db, SampleTable)).join(totals, "day")
    val mn = Guards.anchored(totals.agg(min("day")).head,
      "servedDaily", "min(day)").getLong(0)
    statsFrom(samples, mn)
  }

  /** Gate `q_reservoir_incremental`: build on the first two-thirds of
    * the time range, fold the rest, serve from the model tables. The
    * oracle is the SAME fresh replay as `q_reservoir_daily` — a green
    * row proves the append fold AND the stored serving land bit-equal
    * to the single-pass build (which the merge law promises even for
    * the day the split cuts in half).
    */
  def reservoirIncremental(s: SparkSession, d: String): DataFrame = {
    val ev = graft.Tables.t(s, d, "events")
    val b = Guards.anchored(ev.agg(min("ts"), max("ts")).head,
      "reservoirIncremental", "min(ts)")
    val thr = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 3 * 2
    buildDaySamples(ev.where(col("ts") < thr))
    appendDaySamples(s, ev.where(col("ts") >= thr))
    servedDaily(s)
  }
}
