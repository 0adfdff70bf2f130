package graft

import org.apache.spark.sql.functions._
import graft.ops.{BasketOps, EventOps, SkylineOps}

/** Association rules, skyline and linear attribution: hand-counted
  * supports/ratios, dominance/tie conventions, and credit conservation.
  */
class AnalyticsOpsSpec extends SparkSpec {

  import spark.implicits._

  test("assoc rules: hand-counted supports and truncated ppm ratios") {
    // o1{A,B} o2{A,B} o3{C,B} o4{A}: supp A=3 B=3 C=1; AB=2, CB=1; n=4
    val m = Seq((1L, "A"), (1L, "B"), (2L, "A"), (2L, "B"),
      (3L, "C"), (3L, "B"), (4L, "A"), (4L, "A")) // dup row must not count
      .toDF("l_orderkey", "p_brand")
    val got = BasketOps.rulesOver(m, 2L).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // conf A->B = 2e6 div 3 = 666666; lift = 2*4e6 div 9 = 888888
    assert(got === Array(
      ("A", "B", 2L, 3L, 3L, 666666L, 888888L),
      ("B", "A", 2L, 3L, 3L, 666666L, 888888L)))
  }

  test("assoc rules: below-min-support pairs are cut, singletons never pair") {
    val m = Seq((1L, "A"), (1L, "B"), (2L, "C")).toDF("l_orderkey", "p_brand")
    assert(BasketOps.rulesOver(m, 2L).count() === 0L)
    assert(BasketOps.rulesOver(m, 1L).count() === 2L) // AB both ways
  }

  private def parts(rows: (String, Long, Long, Int)*) =
    rows.toDF("p_type", "p_partkey", "price_cents", "p_size")

  test("skyline: dominance needs one strict edge; duplicates both survive") {
    val df = SkylineOps.skylineOf(parts(
      ("T", 1L, 100L, 10), // kept
      ("T", 2L, 100L, 10), // exact duplicate: neither dominates -> kept
      ("T", 3L, 150L, 8),  // dominated by 1 (cheaper AND bigger)
      ("T", 4L, 150L, 12), // kept (pricier but bigger than all cheaper)
      ("T", 5L, 200L, 12), // dominated by 4 (same size, strictly pricier)
      ("T", 6L, 90L, 5),   // cheapest -> kept
      ("U", 7L, 500L, 1))) // separate group: alone -> kept
    assert(df.collect().map(_.getLong(1)).toSeq === Seq(1L, 2L, 4L, 6L, 7L))
  }

  test("skyline: equal price with strictly larger size dominates") {
    val df = SkylineOps.skylineOf(parts(
      ("T", 1L, 100L, 10), ("T", 2L, 100L, 12)))
    assert(df.collect().map(_.getLong(1)).toSeq === Seq(2L))
  }

  private def ev(rows: (Long, Long, Long, String, Double)*) =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")

  test("attribution: equal split, remainder to the most recent click") {
    // 3 clicks before a 1-cent purchase: 1e6 micro-cents over 3 ->
    // 333333 each, remainder 1 to the latest click (id 3)
    val df = EventOps.attributionOver(ev(
      (1L, 1L, 1L, "click", 0.0), (2L, 2L, 1L, "click", 0.0),
      (3L, 3L, 1L, "click", 0.0), (4L, 10L, 1L, "purchase", 0.01)))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(got === Array((1L, 333333L), (2L, 333333L), (3L, 333334L)))
  }

  test("attribution: lookback window bounds and user isolation") {
    val week = EventOps.AttribWindowNs
    val df = EventOps.attributionOver(ev(
      (1L, 0L, 1L, "click", 0.0),              // exactly 7d before: included
      (2L, week, 1L, "purchase", 1.0),          // 100 cents
      (3L, week, 1L, "click", 0.0),             // same instant: NOT before
      (4L, week - 1, 2L, "click", 0.0)))        // other user: no credit
    val got = df.collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(got === Array((1L, 1L, 100000000L)))
  }

  test("entity resolution: hand-traced corruption, blocking recall, argmin") {
    import graft.ops.EntityOps
    // q = (key mod len) + 1; mode = key mod 3 (0 delete, 1 dup, 2 keep)
    val parts = Seq(
      (0L, "cold widget"),  // delete q=1 -> "old widget" (prefix block broken)
      (1L, "small widget"), // dup q=2    -> "smmall widget"
      (2L, "large bolt"),   // unchanged
      (3L, "cold widget"),  // delete q=4 -> "col widget"
      (10L, "cold widget")) // dup q=11 -> "cold widgett" (suffix block broken)
      .toDF("p_partkey", "p_name")
    val got = EntityOps.resolveOver(parts).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3)))
    assert(got === Array(
      (0L, "old widget", "cold widget", 1),
      (1L, "smmall widget", "small widget", 1),
      (2L, "large bolt", "large bolt", 0),
      (3L, "col widget", "cold widget", 1),
      (10L, "cold widgett", "cold widget", 1)))
  }

  test("entity resolution: full fixture coverage, bounded distance") {
    import graft.ops.EntityOps
    val parts = graft.Tables.t(spark, sf, "part")
      .select(col("p_partkey"), col("p_name"))
    val res = EntityOps.resolveOver(parts)
    assert(res.count() === parts.count()) // blocking recall = 1
    assert(res.agg(max("dist")).head.getInt(0) <= 1)
    // unchanged listings resolve to themselves exactly
    val self = res.join(parts,
        res("listing_id") === parts("p_partkey") &&
          parts("p_partkey") % 3 === 2)
      .where(col("resolved_name") =!= col("p_name") || col("dist") =!= 0)
    assert(self.count() === 0L)
  }

  test("reservoir: small days keep every row, medians exact, range row merges") {
    import graft.ops.ReservoirOps
    val day = 86400000000000L
    // days 0..6; range = [mn+5, mn+15) -> days 5,6
    val rows = (0 to 6).flatMap { dd =>
      (1 to 3).map(i => (dd * 10L + i, dd * day + i, 1L, "click",
        (dd * 10 + i).toDouble)) // cents = (10*dd+i)*100
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = java.nio.file.Files.createTempDirectory("resv").toString
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = ReservoirOps.reservoirDaily(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // each day: 3 rows, all sampled (K=64), lower median = 2nd by cents
    val perDay = (0 to 6).map(dd =>
      (dd.toLong, 3L, 3L, (dd * 10 + 2) * 100L))
    // range days 5,6: 6 rows, lower median rank (6+1) div 2 = 3 -> 53*100
    assert(got === ((-1L, 6L, 6L, 5300L) +: perDay).toArray)
  }

  test("reservoir merge law: range row from day samples == raw bottom-K") {
    import graft.ops.{ReservoirOps, ThetaOps, EventOps}
    val events = graft.Tables.t(spark, sf, "events")
    val mn = events.agg(expr(s"min(ts div ${EventOps.DayNs})")).head.getLong(0)
    val raw = events.select(
        expr(s"ts div ${EventOps.DayNs}").as("day"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .where(col("day") >= mn + ReservoirOps.RangeLoOff &&
        col("day") < mn + ReservoirOps.RangeHiOff)
      .withColumn("hv", expr(
        s"conv(substring(md5(cast(cast(event_id as string) as binary)), 1, " +
          s"${ThetaOps.HashHexChars}), 16, 10)").cast("long") + 1)
      .orderBy("hv", "event_id").limit(ReservoirOps.K)
    val n = raw.count()
    val med = raw.orderBy("cents", "event_id")
      .collect().map(_.getAs[Long]("cents")).apply((n.toInt + 1) / 2 - 1)
    val rangeRow = ReservoirOps.reservoirDaily(spark, sf)
      .where(col("day") === -1L).head
    assert(rangeRow.getAs[Long]("n_sample") === n)
    assert(rangeRow.getAs[Long]("med_cents") === med)
  }

  test("cohort LTV: hand-traced cells and cumulative curve") {
    val wk = EventOps.WeekNs
    // u1 cohort week0: buys 1.00 (off 0) + 2.50 (off 2)
    // u3 cohort week0 (active via click): buys 0.50 at off 1
    // u2 cohort week1: buys 3.00 (off 0)
    val df = EventOps.cohortLtvOver(ev(
      (1L, 0L, 1L, "purchase", 1.0),
      (2L, 2 * wk, 1L, "purchase", 2.5),
      (3L, 1L, 3L, "click", 0.0),
      (4L, wk, 3L, "purchase", 0.5),
      (5L, wk, 2L, "purchase", 3.0)))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got === Array(
      (0L, 0L, 100L, 1L, 100L),
      (0L, 1L, 50L, 1L, 150L),
      (0L, 2L, 250L, 1L, 400L),
      (1L, 0L, 300L, 1L, 300L)))
  }

  test("reservoir lifecycle: build + append serves bit-equal to fresh") {
    import graft.ops.ReservoirOps
    spark.sql(s"DROP DATABASE IF EXISTS `${ReservoirOps.Db}` CASCADE")
    val inc = ReservoirOps.reservoirIncremental(spark, sf).collect()
    val fresh = ReservoirOps.reservoirDaily(spark, sf).collect()
    assert(inc.map(_.toSeq).toSeq === fresh.map(_.toSeq).toSeq)
  }

  test("reservoir fence: replayed batches refuse loudly (totals would double)") {
    import graft.ops.ReservoirOps
    spark.sql(s"DROP DATABASE IF EXISTS `${ReservoirOps.Db}` CASCADE")
    ReservoirOps.buildDaySamples(ev((1L, 1L, 1L, "click", 1.0)))
    val batch = ev((2L, 10L, 1L, "click", 2.0))
    ReservoirOps.appendDaySamples(spark, batch)
    val e = intercept[IllegalArgumentException] {
      ReservoirOps.appendDaySamples(spark, batch)
    }
    assert(e.getMessage.contains("watermark"))
    ReservoirOps.appendDaySamples(spark, ev()) // empty batch is a no-op
  }

  test("reservoir serving never sees the events table") {
    import graft.ops.ReservoirOps
    spark.sql(s"DROP DATABASE IF EXISTS `${ReservoirOps.Db}` CASCADE")
    ReservoirOps.buildDaySamples(ev((1L, 1L, 1L, "click", 1.0)))
    val plan = ReservoirOps.servedDaily(spark)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("events"), "serve must read only the model tables")
  }

  private def tmpTable(name: String, df: org.apache.spark.sql.DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("anops").toString
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    dir
  }

  test("interval concurrency: hand-traced sweep deltas and running sum") {
    val day = 86400000000000L
    // k=1 day0 -> [0,2); k=2 day0 -> [0,3); k=7 day1 -> [1,2)
    val dir = tmpTable("orders", Seq(
      (1L, new java.sql.Timestamp(0L)),
      (2L, new java.sql.Timestamp(0L)),
      (7L, new java.sql.Timestamp(day / 1000000L)))
      .toDF("o_orderkey", "o_orderdate"))
    val got = EventOps.intervalConcurrency(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got === Array(
      (0L, 2L, 0L, 2L), (1L, 1L, 0L, 3L), (2L, 0L, 2L, 1L),
      (3L, 0L, 1L, 0L)))
  }

  test("windowed funnel: late steps fall out of the window") {
    val day = 86400000000000L
    val df = EventOps.funnelWindowed(spark, tmpTable("events", ev(
      (1L, 0L, 1L, "signup", 0.0), (2L, day, 1L, "click", 0.0),
      (3L, 3 * day, 1L, "purchase", 0.0), // within 3d of t2 = day
      (4L, 0L, 2L, "signup", 0.0), (5L, 4 * day, 2L, "click", 0.0), // late
      (6L, 0L, 3L, "signup", 0.0), (7L, day, 3L, "click", 0.0),
      (8L, 5 * day, 3L, "purchase", 0.0)))) // 4d past t2 -> late
    val got = df.collect().map(r => (r.getInt(0), r.getLong(2), r.getLong(3)))
    assert(got === Array((1, 3L, 1000000L), (2, 2L, 666666L),
      (3, 1L, 333333L)))
  }

  test("id islands: contiguous runs collapse, gaps split") {
    val dir = tmpTable("documents",
      Seq(1L, 2L, 3L, 7L, 8L, 10L).toDF("doc_id"))
    val got = graft.ops.Relational.idIslands(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got === Array((1L, 3L, 3L), (7L, 8L, 2L), (10L, 10L, 1L)))
  }

  test("skyline lifecycle: merge-law fold serves bit-equal to fresh; " +
      "replays are idempotent") {
    import graft.ops.SkylineOps
    spark.sql(s"DROP DATABASE IF EXISTS `${SkylineOps.Db}` CASCADE")
    val inc = SkylineOps.skylineIncremental(spark, sf).collect()
    val fresh = SkylineOps.skylineParts(spark, sf).collect()
    assert(inc.map(_.toSeq).toSeq === fresh.map(_.toSeq).toSeq)
    // refolding the same batch must not change the frontier (no fence
    // needed — the dominance fold is idempotent, unlike additive counts)
    val batch = parts(("T", 999L, 1L, 1))
    SkylineOps.appendSkyline(spark, batch)
    val once = SkylineOps.servedSkyline(spark).collect()
    SkylineOps.appendSkyline(spark, batch)
    val twice = SkylineOps.servedSkyline(spark).collect()
    assert(once.map(_.toSeq).toSeq === twice.map(_.toSeq).toSeq)
  }

  test("AUC: perfect, inverted and tied orderings land exactly") {
    import graft.ops.TextOps
    def auc(rows: (Long, Long)*): (Long, Long) = {
      val r = TextOps.aucOver(rows.toDF("q_score", "pos")).head
      (r.getAs[Long]("u2"), r.getAs[Long]("auc_ppm"))
    }
    // pos {3,2} above neg {1}: midrank2 = 2r, U2 = (4+6) - 2*3 = 4 -> 1.0
    assert(auc((3L, 1L), (2L, 1L), (1L, 0L)) === ((4L, 1000000L)))
    // inverted: pos at the bottom -> U2 = 0, AUC = 0
    assert(auc((1L, 1L), (2L, 0L), (3L, 0L)) === ((0L, 0L)))
    // full tie: midrank2 = 3 for both -> U2 = 1, AUC = 0.5 exactly
    assert(auc((2L, 1L), (2L, 0L)) === ((1L, 500000L)))
  }

  test("PRF: hand-counted confusion cells, single-division F1") {
    import graft.ops.TextOps
    val r = TextOps.prfOver(Seq((1L, 1L), (1L, 1L), (0L, 0L), (1L, 0L))
      .toDF("pos", "keep")).head
    // tp=2 fp=0 fn=1 tn=1: P=1e6, R=666666, F1=2*2e6 div 5=800000
    assert((r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn"),
      r.getAs[Long]("tn")) === ((2L, 0L, 1L, 1L)))
    assert((r.getAs[Long]("precision_ppm"), r.getAs[Long]("recall_ppm"),
      r.getAs[Long]("f1_ppm")) === ((1000000L, 666666L, 800000L)))
  }

  test("TWAP: LOCF-held segments, exact weighting, single-event exclusion") {
    import graft.ops.TimeSeriesOps
    // u1: [0,10)@100c + [10,30)@300c over span 30 -> 7000*1000/30
    val dir = tmpTable("events", ev(
      (1L, 0L, 1L, "click", 1.0), (2L, 10L, 1L, "click", 3.0),
      (3L, 30L, 1L, "click", 0.0),
      (4L, 5L, 2L, "click", 9.0))) // single event: excluded
    val got = TimeSeriesOps.timeWeightedAvg(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got === Array((1L, 2L, 30L, 233333L)))
  }

  test("TWAP: tied timestamps drop zero segments; all-tied users excluded") {
    import graft.ops.TimeSeriesOps
    val dir = tmpTable("events", ev(
      // u1: tie at ts 0 (zero-length segment dropped), then [0,10)@200c
      (1L, 0L, 1L, "click", 1.0), (2L, 0L, 1L, "click", 2.0),
      (3L, 10L, 1L, "click", 0.0),
      // u2: ALL events tie -> no held segment -> excluded, never NULL
      (4L, 5L, 2L, "click", 9.0), (5L, 5L, 2L, "click", 8.0)))
    val got = TimeSeriesOps.timeWeightedAvg(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got === Array((1L, 1L, 10L, 200000L)))
  }

  test("period-over-period: contiguous lag, grid gap -> NULL, sign split") {
    import graft.ops.TimeSeriesOps
    val dir = java.nio.file.Files.createTempDirectory("pop").toString
    // months 0 (100.00), 1 (50.00), 3 (75.00 — gap at 2)
    Seq((1L, 1L, 100.0, java.sql.Timestamp.valueOf("1995-01-15 00:00:00")),
      (2L, 1L, 50.0, java.sql.Timestamp.valueOf("1995-02-15 00:00:00")),
      (3L, 1L, 75.0, java.sql.Timestamp.valueOf("1995-04-15 00:00:00")))
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 0)).toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((0, "N", 0)).toDF("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    Seq((0, "R")).toDF("r_regionkey", "r_name")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val got = TimeSeriesOps.periodOverPeriod(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(5)) null else r.getLong(5)))
    assert(got === Array(
      (0L, 10000L, null, null),
      (1L, 5000L, 10000L, -500000L), // -50% exactly, sign split
      (3L, 7500L, null, null)))      // gap at month 2: no ratio
  }

  test("sliding rate: trailing-hour frame bounds and burst flag") {
    val h = graft.ops.TimeSeriesOps.HourNs
    val base = ev(
      (1L, 0L, 1L, "click", 0.0),
      (2L, h - 1, 1L, "click", 0.0), // within [0, h-1] of itself + e1
      (3L, h, 1L, "click", 0.0))     // frame [1, h]: excludes e1
    val got = EventOps.slidingRate(spark, tmpTable("events", base))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
    assert(got === Array((1L, 1L, 0), (2L, 2L, 0), (3L, 2L, 0)))
    // 7 events at one instant: whole burst counts, flag trips
    val burst = ev((1L to 7L).map(i => (i, 100L, 1L, "click", 0.0)): _*)
    val b = EventOps.slidingRate(spark, tmpTable("events", burst)).collect()
    assert(b.forall(r => r.getLong(2) === 7L && r.getInt(3) === 1))
  }

  test("trailing WAU: 7-day support fan-out, exact distinct, range clamp") {
    val day = 86400000000000L
    val dir = tmpTable("events", ev(
      (1L, 0L, 1L, "click", 0.0), (2L, 0L, 2L, "click", 0.0),
      (3L, 3 * day, 1L, "click", 0.0), (4L, 3 * day, 3L, "click", 0.0)))
    val got = EventOps.trailingWau(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // day0 activity supports days 0..3 (clamped); day3 adds u3
    assert(got === Array((0L, 2L), (1L, 2L), (2L, 2L), (3L, 3L)))
  }

  test("ABC: cross-multiplied bands, boundary lands in the lower class") {
    val dir = tmpTable("lineitem", Seq(
      (1L, 8.0), (2L, 1.5), (3L, 0.5)) // 800/150/50 cents, total 1000
      .toDF("l_partkey", "l_extendedprice"))
    val got = graft.ops.Relational.abcClassification(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // cum 800 = exactly 80% -> A; 950 = exactly 95% -> B; tail -> C
    assert(got === Array((1L, 800L, 800L, "A"), (2L, 150L, 950L, "B"),
      (3L, 50L, 1000L, "C")))
  }

  test("snapshot diff: hand-crafted add/remove/change/unchanged classes") {
    // keys: 3 deleted (3%97=3), 5 changed (+500c), 7 unchanged + cloned
    // to key 15 (7%101=7, maxK=7), 1 unchanged
    val dir = tmpTable("orders", Seq(
      (1L, 1.0), (3L, 3.0), (5L, 5.0), (7L, 7.0))
      .toDF("o_orderkey", "o_totalprice"))
    val got = graft.ops.Relational.snapshotDiff(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got === Array(
      ("added", 1L, 0L, 700L),      // key 15 (clone of 7)
      ("changed", 1L, 500L, 1000L), // key 5: 500 -> 1000
      ("removed", 1L, 300L, 0L),    // key 3
      ("unchanged", 2L, 800L, 800L))) // keys 1, 7
  }

  test("frequent triples: hand-counted level-3 support and exact lift") {
    import graft.ops.BasketOps
    val dir = java.nio.file.Files.createTempDirectory("trip").toString
    Seq((1L, "A"), (2L, "B"), (3L, "C"), (4L, "D"))
      .toDF("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    // 5 orders {A,B,C} + 1 order {A,B,D}: ABC supp 5, others < 5
    val rows = (1L to 5L).flatMap(o => Seq((o, 1L), (o, 2L), (o, 3L))) ++
      Seq((6L, 1L), (6L, 2L), (6L, 4L))
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = BasketOps.frequentTriples(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    // lift = 5 * 36 * 1e6 div (6 * 6 * 5) = 1e6 exactly
    assert(got === Array(("A", "B", "C", 5L, 1000000L)))
  }

  test("mask spans: per-document phase, exact positions, count") {
    import graft.ops.TextOps
    val dir = java.nio.file.Files.createTempDirectory("mask").toString
    Seq((0L, "a b c d e f g h"), (1L, "a b c d e f g h"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.maskSpans(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    // doc 0: p ≡ 0 (mod 7) -> p=7; doc 1: 31+p ≡ 0 -> p ≡ 4 (mod 7)
    assert(got === Array(
      (0L, "a b c d e f [MASK] h", 1L),
      (1L, "a b c [MASK] e f g h", 1L)))
  }

  test("ANN recall: arithmetic consistency on the fixture") {
    val rows = graft.ops.VectorOps.annRecall(spark, sf).collect()
    assert(rows.length === 5)
    for (r <- rows) {
      val (k, m, ppm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(k === 5L && m >= 0L && m <= k)
      assert(ppm === m * 1000000L / k)
    }
  }

  test("streamed day-sample folds land bit-equal to the fresh reservoir") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.ReservoirOps
    implicit val sq = spark.sqlContext
    spark.sql(s"DROP DATABASE IF EXISTS `${ReservoirOps.Db}` CASCADE")
    val full = ev(
      (1L, 1L, 1L, "click", 1.0), (2L, 2L, 1L, "click", 2.0),
      (3L, 3L, 2L, "click", 3.0),
      (4L, 60L, 1L, "click", 4.0), (5L, 70L, 2L, "click", 5.0))
    ReservoirOps.buildDaySamples(full.where(col("ts") < 50L))
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val q = graft.streaming.StreamingOps.sinkDaySamples(
      mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
      ReservoirOps.Db)
    mem.addData((4L, 60L, 1L, "click", 4.0))
    q.processAllAvailable()
    mem.addData((5L, 70L, 2L, "click", 5.0))
    q.processAllAvailable()
    q.stop()
    val served = ReservoirOps.servedDaily(spark).collect()
    spark.sql(s"DROP DATABASE IF EXISTS `${ReservoirOps.Db}` CASCADE")
    ReservoirOps.buildDaySamples(full)
    val fresh = ReservoirOps.servedDaily(spark).collect()
    assert(served.map(_.toSeq).toSeq === fresh.map(_.toSeq).toSeq)
  }

  test("vocab stats: hand-counted types, hapax and exact ppm ratios") {
    import graft.ops.TextOps
    val dir = java.nio.file.Files.createTempDirectory("vocab").toString
    Seq((1L, "a a b", "X"), (2L, "c", "X"), (3L, "z z", "Y"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.vocabStats(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got === Array(
      ("X", 4L, 3L, 2L, 750000L, 666666L), // types a,b,c; hapax b,c
      ("Y", 2L, 1L, 0L, 500000L, 0L)))
  }

  test("key skew: histogram-derived max share, rank picks and exact Gini") {
    // per-key counts [1,1,2,4]: T=50, gini=(50-5*8)/(4*8)=0.3125
    val rows = Seq((1L, 1), (2L, 1), (3L, 2), (4L, 4))
      .flatMap { case (k, n) => (1 to n).map(_ => Tuple1(k)) }
    val dir = tmpTable("lineitem", rows.toDF("l_orderkey"))
    val r = graft.ops.Relational.keySkew(spark, dir).head
    assert((r.getAs[Long]("n_keys"), r.getAs[Long]("n_rows"),
      r.getAs[Long]("max_cnt"), r.getAs[Long]("max_share_ppm"),
      r.getAs[Long]("p50_cnt"), r.getAs[Long]("p99_cnt"),
      r.getAs[Long]("gini_ppm")) === ((4L, 8L, 4L, 500000L, 1L, 4L, 312500L)))
    // uniform keys -> gini exactly 0
    val uni = tmpTable("lineitem",
      Seq(1L, 1L, 2L, 2L, 3L, 3L).toDF("l_orderkey"))
    assert(graft.ops.Relational.keySkew(spark, uni)
      .head.getAs[Long]("gini_ppm") === 0L)
  }

  test("stream-stream interval join pairs match the batch range join") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val sec = 1000000000L
    val base = 1577836800L * sec // 2020-01-01, clear of the initial epoch watermark
    val rows = Seq(
      (1L, base, 1L, "click", 0.0),
      (2L, base + 1000 * sec, 1L, "click", 0.0),
      (3L, base + 2000 * sec, 1L, "purchase", 1.0), // pairs with clicks 1, 2
      (4L, base + 2500 * sec, 1L, "click", 0.0),    // after purchase: no pair
      (5L, base + 1500 * sec, 2L, "click", 0.0))    // other user: no pair
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val joined = graft.streaming.StreamingOps.clickPurchasePairs(
      mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"))
    val q = joined.writeStream.format("memory")
      .queryName("sspairs").outputMode("append").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("sspairs").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got === Seq((3L, 1L), (3L, 2L)))
    } finally q.stop()
  }

  test("drop reasons: first-failing-gate precedence, duplicate wins") {
    import graft.ops.TextOps
    val stop2 = "the a " + (1 to 18).map(i => s"w$i").mkString(" ") // 0.1
    val nostop = (1 to 20).map(i => s"w$i").mkString(" ")
    val allstop = ("the a of to and " * 4).trim // 20 tokens, ratio 1.0
    val dir = java.nio.file.Files.createTempDirectory("drop").toString
    Seq((1L, stop2), (2L, "hello world"), (3L, nostop), (4L, allstop),
      (5L, stop2), // dup of 1 — AND would pass the gates: still 'duplicate'
      (6L, "hello world")) // dup of 2 AND short: duplicate wins
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.dropReasons(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(got === Array(
      (1L, 1, "kept"), (2L, 0, "too_short"), (3L, 0, "low_stopwords"),
      (4L, 0, "high_stopwords"), (5L, 0, "duplicate"),
      (6L, 0, "duplicate")))
  }

  test("calibration bins: exact decile cuts and rate arithmetic") {
    val rows = graft.ops.TextOps.calibrationBins(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq === (0L to 9L))
    val total = rows.map(_.getLong(1)).sum
    assert(total === graft.Tables.t(spark, sf, "documents").count())
    for (r <- rows) {
      assert(r.getLong(3) === r.getLong(2) * 1000000L / r.getLong(1))
      // equal-count bins: sizes differ by at most 1
      assert(math.abs(r.getLong(1) - total / 10) <= 1)
    }
  }

  test("event debounce: burst cuts, first-of-burst keep, tie-break") {
    val sec = 1000000000L
    val dir = tmpTable("events", ev(
      (2L, 0L, 1L, "click", 0.0),          // burst 1 (id 2 first by ts)
      (1L, 1 * sec, 1L, "click", 0.0),     // 1s gap: same burst
      (3L, 3 * sec, 1L, "click", 0.0),     // still < 5s from prev
      (4L, 10 * sec, 1L, "click", 0.0),    // 7s gap: new burst
      (6L, 10 * sec, 1L, "click", 0.0),    // same instant: same burst,
      (5L, 20 * sec, 1L, "view", 0.0)))    //   kept id = min(4, 6) = 4
    val got = EventOps.eventDebounce(spark, dir).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got === Array(
      ("click", 0L, 2L, 3L),
      ("click", 10000L, 4L, 2L),
      ("view", 20000L, 5L, 1L)))
  }

  test("trending brands: exact right-shift decay from the max-date anchor") {
    import graft.ops.BasketOps
    val day = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val day2 = java.sql.Timestamp.valueOf("2020-01-03 00:00:00")
    val dir = java.nio.file.Files.createTempDirectory("trend").toString
    Seq((1L, day), (2L, day2)).toDF("o_orderkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((10L, "A"), (20L, "B")).toDF("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    Seq((1L, 10L), (2L, 10L), (1L, 20L)).toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = BasketOps.trendingBrands(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // A: day2 (age 0 -> 2^20) + day0 (age 2 -> 2^18); B: day0 -> 2^18
    assert(got === Array(("A", 2L, 1048576L + 262144L), ("B", 1L, 262144L)))
  }

  test("bot periodicity: modal gap share, smallest-gap tie-break, flag") {
    val sec = 1000000000L
    val dir = tmpTable("events", ev(
      // u1: gaps 10,10,10,3 -> modal 10 at 750000 (below the flag)
      (1L, 0L, 1L, "click", 0.0), (2L, 10 * sec, 1L, "click", 0.0),
      (3L, 20 * sec, 1L, "click", 0.0), (4L, 30 * sec, 1L, "click", 0.0),
      (5L, 33 * sec, 1L, "click", 0.0),
      // u2: gaps 10,10,10,10 -> share 1e6 -> bot
      (6L, 0L, 2L, "click", 0.0), (7L, 10 * sec, 2L, "click", 0.0),
      (8L, 20 * sec, 2L, "click", 0.0), (9L, 30 * sec, 2L, "click", 0.0),
      (10L, 40 * sec, 2L, "click", 0.0),
      // u3: gaps 5,5,7,7 -> tie breaks to the SMALLER gap
      (11L, 0L, 3L, "click", 0.0), (12L, 5 * sec, 3L, "click", 0.0),
      (13L, 10 * sec, 3L, "click", 0.0), (14L, 17 * sec, 3L, "click", 0.0),
      (15L, 24 * sec, 3L, "click", 0.0)))
    val got = EventOps.botPeriodicity(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4)))
    assert(got === Array(
      (1L, 4L, 10L, 750000L, 0),
      (2L, 4L, 10L, 1000000L, 1),
      (3L, 4L, 5L, 500000L, 0)))
  }

  test("gapfill interp: exact ramps, negative slope, truncation") {
    import graft.ops.TimeSeriesOps
    val h = TimeSeriesOps.HourNs
    val df = TimeSeriesOps.gapfillInterp(ev(
      (1L, 0L, 1L, "click", 1.0), (2L, 3 * h, 1L, "click", 4.0),
      (3L, 0L, 2L, "click", 4.0), (4L, 2 * h, 2L, "click", 1.0),
      (5L, 0L, 3L, "click", 0.0), (6L, 3 * h, 3L, "click", 0.01)))
      .orderBy("user_id", "bucket")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(got === Array(
      (1L, 0L, 100000L), (1L, 1L, 200000L), (1L, 2L, 300000L),
      (1L, 3L, 400000L),
      (2L, 0L, 400000L), (2L, 1L, 250000L), (2L, 2L, 100000L),
      (3L, 0L, 0L), (3L, 1L, 333L), (3L, 2L, 666L), (3L, 3L, 1000L)))
  }

  test("minhash recall: intersection arithmetic is consistent") {
    val r = graft.ops.TextOps.minhashRecall(spark, sf).head
    val (t, c, h, ppm) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3))
    assert(h <= t && h <= c && t > 0)
    assert(ppm === h * 1000000L / t)
  }

  test("langid agreement: shares are exact per-language fractions") {
    val rows = graft.ops.TextOps.langIdAgreement(spark, sf).collect()
    assert(rows.nonEmpty)
    val byLang = rows.groupBy(_.getString(0))
    for ((_, rs) <- byLang) {
      // named lookups: the third rater (nb_guess) shifted the positions
      val n = rs.map(_.getAs[Long]("n")).sum
      for (r <- rs)
        assert(r.getAs[Long]("share_ppm") === r.getAs[Long]("n") * 1000000L / n)
    }
  }

  test("histogram drift: identical halves TVD 0, disjoint halves TVD 1e6") {
    // 4 events; threshold = midpoint of [0, 100]: late = ts >= 50
    val same = EventOps.histogramDrift(spark, tmpTable("events", ev(
      (1L, 0L, 1L, "click", 1.0), (2L, 10L, 1L, "click", 2.0),
      (3L, 90L, 1L, "click", 1.0), (4L, 100L, 1L, "click", 2.0))))
    assert(same.head.getAs[Long]("tvd_ppm") === 0L)
    val disj = EventOps.histogramDrift(spark, tmpTable("events", ev(
      (1L, 0L, 1L, "click", 1.0), (2L, 10L, 1L, "click", 1.0),
      (3L, 90L, 1L, "click", 9.0), (4L, 100L, 1L, "click", 9.0))))
    assert(disj.head.getAs[Long]("tvd_ppm") === 1000000L)
    // hand case: early {1,1}, late {1,9}: TVD = 1/2*(|1 - 1/2| + 1/2)
    // = 1/2 -> 500000
    val half = EventOps.histogramDrift(spark, tmpTable("events", ev(
      (1L, 0L, 1L, "click", 1.0), (2L, 10L, 1L, "click", 1.0),
      (3L, 90L, 1L, "click", 1.0), (4L, 100L, 1L, "click", 9.0))))
    assert(half.head.getAs[Long]("tvd_ppm") === 500000L)
  }

  test("session funnel: conversion only counts inside one session") {
    val gap = EventOps.SessionGapNs
    val df = EventOps.sessionFunnel(spark, tmpTable("events", ev(
      // u1: signup, click, purchase all in one session
      (1L, 0L, 1L, "signup", 0.0), (2L, 1L, 1L, "click", 0.0),
      (3L, 2L, 1L, "purchase", 0.0),
      // u2: signup, then the click lands in a NEW session -> depth 1
      (4L, 0L, 2L, "signup", 0.0), (5L, gap + 1000L, 2L, "click", 0.0),
      // u3: signup + click in session, purchase in the next -> depth 2
      (6L, 0L, 3L, "signup", 0.0), (7L, 1L, 3L, "click", 0.0),
      (8L, gap + 5000L, 3L, "purchase", 0.0))))
    val got = df.collect().map(r => (r.getInt(0), r.getLong(2), r.getLong(3)))
    assert(got === Array((1, 3L, 1000000L), (2, 2L, 666666L),
      (3, 1L, 333333L)))
  }

  test("trending store: shift re-anchoring composes across the zero floor") {
    import graft.ops.BasketOps
    spark.sql(s"DROP DATABASE IF EXISTS `${BasketOps.Db}` CASCADE")
    val day = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val day25 = java.sql.Timestamp.valueOf("2020-01-26 00:00:00")
    val dir = java.nio.file.Files.createTempDirectory("trinc").toString
    Seq((3L, day), (100L, day25)).toDF("o_orderkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((10L, "A")).toDF("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    Seq((3L, 10L), (100L, 10L)).toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // 2/3 key split: build covers key 3 (anchor day0, A = 2^20); fold
    // key 100 (anchor day25:
    // delta 25 clamps past the zero floor — stored decays to EXACTLY 0,
    // the batch contributes 2^20 at age 0)
    val got = BasketOps.trendingIncremental(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got === Array(("A", 2L, 1048576L)))
    // replayed/out-of-order batch refuses loudly
    val e = intercept[IllegalArgumentException] {
      BasketOps.appendTrending(spark, dir, 100L)
    }
    assert(e.getMessage.contains("watermark"))
    // serving reads only the stored scores — no fact scan
    val plan = BasketOps.servedTrending(spark)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("lineitem.parquet") &&
      !plan.contains("orders.parquet"),
      "serve must read only the stored scores")
  }

  test("trending store: summed low bits re-anchor exactly (day buckets)") {
    import graft.ops.BasketOps
    spark.sql(s"DROP DATABASE IF EXISTS `${BasketOps.Db}` CASCADE")
    val d0 = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val d20 = java.sql.Timestamp.valueOf("2020-01-21 00:00:00")
    val d21 = java.sql.Timestamp.valueOf("2020-01-22 00:00:00")
    val dir = java.nio.file.Files.createTempDirectory("trlow").toString
    Seq((1L, d0), (2L, d0), (3L, d20), (4L, d21))
      .toDF("o_orderkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((10L, "A"), (11L, "B")).toDF("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    Seq((1L, 10L), (2L, 10L), (3L, 11L), (4L, 11L))
      .toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // build to key 3 (anchor day20): brand A holds TWO age-20 weight-1
    // lineitems. A summed-counter store shifted by delta=1 would keep
    // floor(2/2)=1 for A; the per-day buckets decay each weight from
    // its own day -> A lands at exactly 0 (= the fresh rebuild)
    BasketOps.buildTrending(spark, dir, 3L)
    BasketOps.appendTrending(spark, dir, 4L)
    val got = BasketOps.servedTrending(spark).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // A aged past the zero floor -> filtered; B = 2^19 + 2^20
    assert(got === Array(("B", 2L, 1572864L)))
  }

  test("trending store: a fold that crashed after its swap refuses its " +
      "retry and serves the crash-free scores") {
    val d0 = java.sql.Timestamp.valueOf("2020-01-01 00:00:00")
    val d20 = java.sql.Timestamp.valueOf("2020-01-21 00:00:00")
    val dir = java.nio.file.Files.createTempDirectory("trcrash").toString
    Seq((1L, d0), (2L, d20), (3L, d20)).toDF("o_orderkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((10L, "A"), (11L, "B")).toDF("p_partkey", "p_brand")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    Seq((1L, 10L), (2L, 11L), (3L, 11L)).toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    def served(): Seq[(String, Long, Long)] =
      BasketOps.servedTrending(spark).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    spark.sql(s"DROP DATABASE IF EXISTS `${BasketOps.Db}` CASCADE")
    BasketOps.buildTrending(spark, dir, 1L)
    BasketOps.appendTrending(spark, dir, 3L)
    val crashFree = served()
    spark.sql(s"DROP DATABASE IF EXISTS `${BasketOps.Db}` CASCADE")
    BasketOps.buildTrending(spark, dir, 1L)
    StagedSwapSpec.crashAfter("appended")(
      BasketOps.appendTrending(spark, dir, 3L))
    assert(graft.store.Warehouse.recover(spark, BasketOps.Db, BasketOps.Table))
    val e = intercept[IllegalArgumentException] {
      BasketOps.appendTrending(spark, dir, 3L)
    }
    assert(e.getMessage.contains("watermark"))
    assert(served() === crashFree)
  }

  test("dedup cluster stats: sizes partition the corpus") {
    val stats = graft.ops.GraphOps.dedupClusterStats(spark, sf).collect()
    val docs = graft.Tables.t(spark, sf, "documents").count()
    assert(stats.map(r => r.getLong(0) * r.getLong(1)).sum === docs)
  }

  test("event trigrams: hand-counted paths and conditional ppm") {
    // u1: a b a ; u2: a b c ; u3: a b  (too short for a trigram)
    // context (a,b): outcomes a x1, c x1 -> 500000 each
    val dir = tmpTable("events", ev(
      (1L, 1L, 1L, "a", 0.0), (2L, 2L, 1L, "b", 0.0), (3L, 3L, 1L, "a", 0.0),
      (4L, 1L, 2L, "a", 0.0), (5L, 2L, 2L, "b", 0.0), (6L, 3L, 2L, "c", 0.0),
      (7L, 1L, 3L, "a", 0.0), (8L, 2L, 3L, "b", 0.0)))
    val got = EventOps.eventTrigrams(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(got === Array(
      ("a", "b", "a", 1L, 500000L), ("a", "b", "c", 1L, 500000L)))
  }

  test("spearman: perfect monotone with ties = 1, inverse = -1") {
    def run(rows: Seq[(Long, Double, Int)]) = {
      val dir = java.nio.file.Files.createTempDirectory("spear").toString
      rows.toDF("p_partkey", "p_retailprice", "p_size")
        .write.mode("overwrite").parquet(s"$dir/part.parquet")
      val r = graft.ops.Relational.spearmanSizePrice(spark, dir).head
      (r.getInt(1), r.getLong(2))
    }
    // tied middle pair, still perfectly monotone -> rho = 1 exactly
    assert(run(Seq((1L, 1.0, 1), (2L, 2.0, 2), (3L, 2.0, 2),
      (4L, 3.0, 3))) === ((1, 1000000L)))
    // perfectly inverse -> sign -1, rho^2 = 1
    assert(run(Seq((1L, 1.0, 3), (2L, 2.0, 2), (3L, 3.0, 1)))
      === ((-1, 1000000L)))
  }

  test("benford: all nine digit rows, zero-count digits carry full dev") {
    val dir = java.nio.file.Files.createTempDirectory("benf").toString
    // all totals lead with 1 (100 cents)
    Seq((1L, 1.0), (2L, 1.0)).toDF("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = graft.ops.Relational.benfordOrders(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    assert(got.length === 9)
    assert(got(0) === ((1, 2L, 1000000L, 1000000L - 301030L)))
    for (i <- 1 until 9)
      assert(got(i)._2 === 0L && got(i)._3 === 0L &&
        got(i)._4 === graft.ops.Relational.BenfordPpm(i + 1))
  }

  test("attribution conserves every attributed purchase's value exactly") {
    val events = graft.Tables.t(spark, sf, "events")
    val credited = EventOps.attributionOver(events)
      .agg(sum("credit_micro_cents")).head.getLong(0)
    // total over purchases that HAVE >=1 click in-window
    val pu = events.filter(col("event_type") === "purchase").select(
      col("event_id").as("pid"), col("user_id").as("u"), col("ts").as("pts"),
      expr(s"CAST(round(value * 100) AS BIGINT) * ${EventOps.AttribScale}")
        .as("ct"))
    val cl = events.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"))
    val attributed = pu.join(cl, col("cu") === col("u") &&
        col("cts") < col("pts") &&
        col("cts") >= col("pts") - lit(EventOps.AttribWindowNs), "leftsemi")
      .agg(sum("ct")).head.getLong(0)
    assert(credited === attributed)
  }

  test("kendall tau-b: hand cases (monotone 1, inverse -1, tie-corrected)") {
    def run(rows: Seq[(Long, Double, Int)]) = {
      val dir = java.nio.file.Files.createTempDirectory("kend").toString
      rows.toDF("p_partkey", "p_retailprice", "p_size")
        .write.mode("overwrite").parquet(s"$dir/part.parquet")
      val r = graft.ops.Relational.kendallTauSizePrice(spark, dir).head
      (r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4))
    }
    // strictly monotone: all 3 pairs concordant -> tau = 1
    assert(run(Seq((1L, 1.0, 1), (2L, 2.0, 2), (3L, 3.0, 3)))
      === ((3L, 0L, 1, 1000000L)))
    // strictly inverse -> tau = -1
    assert(run(Seq((1L, 3.0, 1), (2L, 2.0, 2), (3L, 1.0, 3)))
      === ((0L, 3L, -1, 1000000L)))
    // x-ties: sizes (1,1,2), prices (1,2,3): nc=2 (the two x1<x2 pairs),
    // nd=0, n0=3, n1=1 (the tied-x pair), n2=0:
    // tau^2 = 4/((3-1)*3) = 2/3 -> 666666 ppm truncated
    assert(run(Seq((1L, 1.0, 1), (2L, 2.0, 1), (3L, 3.0, 2)))
      === ((2L, 0L, 1, 666666L)))
  }

  test("kendall tau-b agrees with the brute-force pair count on the fixture") {
    val pts = graft.Tables.t(spark, sf, "part").select(
        col("p_size").cast("long"),
        expr("CAST(round(p_retailprice * 100) AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    var (nc, nd) = (0L, 0L)
    for (i <- pts.indices; j <- pts.indices if i < j) {
      val ((x1, y1), (x2, y2)) = (pts(i), pts(j))
      if (x1 != x2 && y1 != y2) {
        if ((x1 < x2) == (y1 < y2)) nc += 1 else nd += 1
      }
    }
    val r = graft.ops.Relational.kendallTauSizePrice(spark, sf).head
    assert(r.getLong(0) === pts.length.toLong)
    assert((r.getLong(1), r.getLong(2)) === ((nc, nd)))
  }

  test("rfm: quintile sizes balanced, code composes, metrics exact") {
    val rows = graft.ops.BasketOps.rfmSegments(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = rows.length
    for (qcol <- Seq("r_q", "f_q", "m_q")) {
      val hist = rows.groupBy(_.getAs[Int](qcol)).map { case (q, rs) =>
        q -> rs.length }
      // exact quintiles: every bucket within [floor(n/5), ceil(n/5)]
      assert(hist.keys.forall(q => q >= 1 && q <= 5))
      assert(hist.values.forall(c => c >= n / 5 && c <= (n + 4) / 5),
        s"unbalanced quintiles: $hist")
    }
    for (r <- rows)
      assert(r.getAs[Int]("rfm") === r.getAs[Int]("r_q") * 100 +
        r.getAs[Int]("f_q") * 10 + r.getAs[Int]("m_q"))
    // recency rank 1 = most recent: the min-recency customer scores q_r 1
    val minRec = rows.minBy(r => (r.getAs[Long]("recency_days"),
      r.getAs[Long]("c_custkey")))
    assert(minRec.getAs[Int]("r_q") === 1)
  }

  test("readability: hand-counted LIX on a crafted 25-token doc") {
    import spark.implicits._
    val st = graft.ops.TextOps.SentenceTokens
    // 25 tokens, 5 of length >= 7 -> 2 injected periods + the terminal
    // one = 3 sentences (period injected after tokens 12 and 24)
    val toks = (1 to 25).map(i =>
      if (i <= 5) "longword" + i else "w" + i).mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("lix").toString
    Seq((1L, toks)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = graft.ops.TextOps.readability(spark, dir).head
    assert(st === 12) // the hand math below pins the constant
    assert((r.getLong(1), r.getLong(2), r.getLong(3))
      === ((25L, 5L, 3L)))
    assert(r.getLong(4) === 25L * 1000000L / 3L)
    assert(r.getLong(5) === 5L * 1000000L / 25L)
    assert(r.getLong(6) === 25L * 1000000L / 3L + 5L * 100000000L / 25L)
  }

  test("kwic: edge-clamped contexts, 1-based positions, only the term") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("kwic").toString
    Seq((1L, "spark a b spark c"), (2L, "x y"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.ops.TextOps.kwicConcordance(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(got === Array(
      (1L, 1L, "", "a b"),
      (1L, 4L, "a b", "c")))
  }

  test("retrieval MRR: rr arithmetic exact; partnerless probes score 0") {
    val rows = graft.ops.RetrievalOps.retrievalMrr(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (nrel, fr, rr) = (r.getLong(1), r.getInt(2), r.getLong(3))
      if (fr > 0) assert(rr === 1000000L / fr && nrel > 0)
      else assert(rr === 0L)
      if (nrel == 0) assert(fr === 0)
      assert(fr >= 0 && fr <= graft.ops.RetrievalOps.TopK)
    }
    // the probe slice must contain at least one cluster hit, or the gate
    // is vacuous
    assert(rows.exists(_.getInt(2) > 0), "no probe found its near-dup")
  }

  test("isotonic calibration: equals sequential PAVA, nondecreasing") {
    val rows = graft.ops.TextOps.isotonicCalibration(spark, sf)
      .orderBy("bin").collect()
    assert(rows.length === 10)
    // brute-force pool-adjacent-violators with exact fractions
    val bins = rows.map(r => (r.getAs[Long]("n"), r.getAs[Long]("n_pos")))
    val blocks = scala.collection.mutable.Stack[(BigInt, BigInt, Int)]()
    for ((n, pos) <- bins) {
      var blk = (BigInt(pos), BigInt(n), 1)
      while (blocks.nonEmpty &&
        blocks.top._1 * blk._2 >= blk._1 * blocks.top._2) {
        val t = blocks.pop()
        blk = (t._1 + blk._1, t._2 + blk._2, t._3 + blk._3)
      }
      blocks.push(blk)
    }
    val fit = blocks.toSeq.reverse.flatMap { case (p, c, k) =>
      Seq.fill(k)((p * 1000000 / c).toLong) }
    for ((r, i) <- rows.zipWithIndex) {
      assert(r.getAs[Long]("iso_rate_ppm") === fit(i),
        s"bin $i: minimax != PAVA")
      if (i > 0) assert(r.getAs[Long]("iso_rate_ppm") >=
        rows(i - 1).getAs[Long]("iso_rate_ppm"), "fit must be monotone")
      assert(r.getAs[Long]("raw_rate_ppm") ===
        r.getAs[Long]("n_pos") * 1000000L / r.getAs[Long]("n"))
    }
  }

  test("cramers v: brute-force contingency agreement, [0, 1e6] bound") {
    val r = graft.ops.EventOps.cramersV(spark, sf).head
    val cells = graft.Tables.t(spark, sf, "events")
      .select(col("event_type"),
        expr(s"(ts div ${EventOps.DayNs}) % 7").as("wd"))
      .groupBy("event_type", "wd").agg(count(lit(1)).as("o"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    val ri = cells.groupBy(_._1).map { case (k, v) => k -> v.map(_._3).sum }
    val cj = cells.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum }
    val n = cells.map(_._3).sum
    val scale = BigInt(graft.ops.EventOps.CramerScale)
    val sFp = cells.map { case (et, wd, o) =>
      BigInt(o) * o * scale / (BigInt(ri(et)) * cj(wd)) }.sum
    val phi2 = (sFp - scale).max(BigInt(0))
    val k = math.min(ri.size, cj.size).toLong
    assert(r.getAs[Long]("n") === n)
    assert(r.getAs[Long]("n_rows") === ri.size.toLong)
    assert(r.getAs[Long]("n_cols") === cj.size.toLong)
    assert(r.getAs[Long]("phi2_fp") === phi2.toLong)
    val v2 = if (k <= 1) 0L else (phi2 / ((k - 1) * 1000000)).toLong
    assert(r.getAs[Long]("v2_ppm") === v2)
    assert(v2 >= 0L && v2 <= 1000000L)
  }

  test("mann-whitney: brute-force rank sums and z2 on the fixture") {
    val r = graft.ops.EventOps.mannWhitney(spark, sf).head
    val vals = graft.Tables.t(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .select((col("user_id") % 2).cast("int").as("arm"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .collect().map(x => (x.getInt(0), x.getLong(1)))
    val all = vals.map(_._2).sorted
    def r2(v: Long) =
      2L * all.count(_ < v) + all.count(_ === v) + 1L
    val arm0 = vals.filter(_._1 == 0).map(_._2)
    val n1 = arm0.length.toLong
    val n2 = vals.length.toLong - n1
    val r1d = arm0.map(r2).sum
    val u1d = r1d - n1 * (n1 + 1)
    assert(r.getAs[Long]("n1") === n1)
    assert(r.getAs[Long]("n2") === n2)
    assert(r.getAs[Long]("u1_doubled") === u1d)
    assert(r.getAs[Long]("mu_doubled") === n1 * n2)
    val tcorr = all.groupBy(identity).values
      .map(g => { val t = BigInt(g.length); t * t * t - t }).sum
    assert(BigInt(r.getAs[Long]("tcorr")) === tcorr)
    val n = n1 + n2
    val den = BigInt(n1) * n2 *
      (BigInt(n + 1) * n * (n - 1) - tcorr)
    val want = if (n1 == 0 || n2 == 0 || den == 0) BigInt(0)
      else BigInt(u1d - n1 * n2) * (u1d - n1 * n2) * 3000 * n * (n - 1) / den
    assert(BigInt(r.getAs[Long]("z2_milli")) === want)
    assert(r.getAs[Int]("significant") ===
      (if (want >= 3841) 1 else 0))
  }

  test("ks test: brute-force ECDF max-gap on the fixture") {
    val r = graft.ops.EventOps.ksTest(spark, sf).head
    val vals = graft.Tables.t(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .select((col("user_id") % 2).cast("int").as("arm"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .collect().map(x => (x.getInt(0), x.getLong(1)))
    val a0 = vals.filter(_._1 == 0).map(_._2)
    val a1 = vals.filter(_._1 == 1).map(_._2)
    val (n1, n2) = (a0.length.toLong, a1.length.toLong)
    val support = vals.map(_._2).distinct.sorted
    val dNum = support.map(v =>
      math.abs(a0.count(_ <= v) * n2 - a1.count(_ <= v) * n1)).max
    assert((r.getAs[Long]("n1"), r.getAs[Long]("n2")) === ((n1, n2)))
    assert(r.getAs[Long]("d_num") === dNum)
    assert(r.getAs[Long]("d_ppm") === dNum * 1000000L / (n1 * n2))
    val sig = BigInt(dNum) * dNum * 1000 >=
      BigInt(1845) * (n1 + n2) * n1 * n2
    assert(r.getAs[Int]("significant") === (if (sig) 1 else 0))
  }

  test("source concentration: brute-force HHI, complement law, bounds") {
    val rows = graft.ops.TextOps.sourceConcentration(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = graft.Tables.t(spark, sf, "documents")
      .select("lang", "source").collect()
      .map(r => (r.getString(0), r.getString(1)))
    for (r <- rows) {
      val lang = r.getString(0)
      val cnts = docs.filter(_._1 == lang).groupBy(_._2)
        .values.map(_.length.toLong).toSeq
      val n = cnts.sum
      val hhi = (cnts.map(c => BigInt(c) * c).sum * 1000000 /
        (BigInt(n) * n)).toLong
      assert(r.getAs[Long]("n_docs") === n)
      assert(r.getAs[Long]("n_sources") === cnts.length.toLong)
      assert(r.getAs[Long]("hhi_ppm") === hhi)
      assert(r.getAs[Long]("simpson_ppm") === 1000000L - hhi)
      assert(hhi >= 1000000L / cnts.length && hhi <= 1000000L)
    }
  }

  test("ngram novelty: brute-force gram-set difference on the fixture") {
    val r = graft.ops.TextOps.ngramNovelty(spark, sf).head
    val docs = graft.Tables.t(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(x => (x.getLong(0), x.getString(1)))
    def grams(slice: Array[(Long, String)]) = slice.flatMap { case (_, t) =>
      val toks = t.trim.split("\\s+")
      if (toks.length < 3) Array.empty[String]
      else toks.sliding(3).map(_.mkString(" ")).toArray
    }.toSet
    val ref = grams(docs.filter(_._1 % 2 == 0))
    val cand = grams(docs.filter(_._1 % 2 == 1))
    val novel = (cand -- ref).size.toLong
    assert(r.getAs[Long]("n_grams_ref") === ref.size.toLong)
    assert(r.getAs[Long]("n_grams_cand") === cand.size.toLong)
    assert(r.getAs[Long]("n_novel") === novel)
    assert(r.getAs[Long]("novelty_ppm") ===
      novel * 1000000L / cand.size)
  }

  test("trimmed/winsorized means: brute-force per-region agreement") {
    val got = graft.ops.Relational.trimmedStats(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.nonEmpty)
    val rows = graft.Tables.t(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .join(graft.Tables.t(spark, sf, "customer").select(
        col("c_custkey").as("o_custkey"), col("c_nationkey")), "o_custkey")
      .join(graft.Tables.t(spark, sf, "nation").select(
        col("n_nationkey").as("c_nationkey"), col("n_regionkey")),
        "c_nationkey")
      .join(graft.Tables.t(spark, sf, "region").select(
        col("r_regionkey").as("n_regionkey"), col("r_name")), "n_regionkey")
      .select("r_name", "o_orderkey", "cents").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    for ((region, rs) <- rows.groupBy(_._1)) {
      val sorted = rs.sortBy(t => (t._3, t._2)).map(_._3)
      val n = sorted.length
      val lo = n / 10
      val trimmed = sorted.slice(lo, n - lo)
      val wins = sorted.zipWithIndex.map { case (v, i) =>
        if (i < lo) sorted(lo)
        else if (i >= n - lo) sorted(n - lo - 1)
        else v }
      val r = got(region)
      assert(r.getAs[Long]("n") === n.toLong)
      assert(r.getAs[Long]("n_trim_side") === lo.toLong)
      assert(r.getAs[Long]("mean_cents") === sorted.sum / n)
      assert(r.getAs[Long]("trimmed_mean_cents") ===
        (if (trimmed.isEmpty) 0L else trimmed.sum / trimmed.length))
      assert(r.getAs[Long]("winsor_mean_cents") === wins.sum / n)
    }
  }
}
