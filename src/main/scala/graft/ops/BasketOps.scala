package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Market-basket association mining (Agrawal & Srikant 1994's support/
  * confidence frame) over the order fixtures: which part brands co-occur
  * in one order, and which co-occurrences are RULES (directional
  * confidence) rather than popularity artifacts (lift) — the
  * collocation/PMI idea ([[TextOps]]) transplanted from token windows to
  * transaction baskets.
  *
  * Everything is an exact integer or ppm rational: supports are order
  * counts, confidence = supp(a∪b)·10⁶ div supp(a), lift =
  * supp(a∪b)·n·10⁶ div (supp(a)·supp(b)) through DECIMAL(38) (the
  * chi-square precedent: supp·n·10⁶ ≈ 10²⁶ at 100 TB — past Long,
  * inside DECIMAL(38)/HUGEINT), so the DuckDB replay is cell-exact.
  */
object BasketOps {

  /** ppm scale for confidence/lift. */
  val Ppm = 1000000L

  /** Minimum pair support (orders containing both items). */
  val MinSupp = 10L

  /** Directional association rules ante→cons over per-order brand
    * baskets.
    *
    * Scale shape: one (order, brand) DISTINCT shuffle builds the basket
    * frame; the pair generator is a SELF-JOIN ON THE ORDER KEY, so
    * candidates are C(k,2) per basket — bounded by basket width (itself
    * catalog-bounded), never a catalog×catalog or order×order product;
    * pair counts and item supports are map-side-combined aggs; supports
    * join back BROADCAST (item- and pair-vocabulary sized). The basket
    * count is a 1-row broadcast. Nothing downstream of the first
    * distinct sees lineitem volume.
    */
  def assocRules(s: SparkSession, d: String): DataFrame =
    rulesOver(t(s, d, "lineitem")
      .join(broadcast(t(s, d, "part").select(
        col("p_partkey").as("l_partkey"), col("p_brand"))), "l_partkey")
      .select(col("l_orderkey"), col("p_brand")), MinSupp)

  /** The rule mine over a raw `(l_orderkey, p_brand)` membership frame
    * (deduplicated here) — separable so specs pin hand-counted supports
    * and truncated ppm ratios.
    */
  def rulesOver(membership: DataFrame, minSupp: Long): DataFrame = {
    val baskets = membership.distinct()
    val nBaskets = baskets.select("l_orderkey").distinct()
      .agg(count(lit(1)).as("n"))
    val itemSupp = baskets.groupBy("p_brand").agg(count(lit(1)).as("supp"))
    val a = baskets.select(col("l_orderkey"), col("p_brand").as("ante"))
    val b = baskets.select(col("l_orderkey"), col("p_brand").as("cons"))
    val pairs = a.join(b, "l_orderkey")
      .where(col("ante") < col("cons"))
      .groupBy("ante", "cons").agg(count(lit(1)).as("supp_pair"))
      .where(col("supp_pair") >= minSupp)
    // both rule directions from each unordered pair
    val rules = pairs.unionByName(pairs.select(
      col("cons").as("ante"), col("ante").as("cons"), col("supp_pair")))
    rules
      .join(broadcast(itemSupp.select(col("p_brand").as("ante"),
        col("supp").as("supp_ante"))), "ante")
      .join(broadcast(itemSupp.select(col("p_brand").as("cons"),
        col("supp").as("supp_cons"))), "cons")
      .crossJoin(broadcast(nBaskets))
      .select(col("ante"), col("cons"), col("supp_pair"),
        col("supp_ante"), col("supp_cons"),
        expr(s"CAST((supp_pair * $Ppm) div supp_ante AS BIGINT)")
          .as("conf_ppm"),
        expr(s"CAST((CAST(supp_pair AS DECIMAL(38,0)) * n * $Ppm) div " +
          "(CAST(supp_ante AS DECIMAL(38,0)) * supp_cons) AS BIGINT)")
          .as("lift_ppm"))
      .orderBy("ante", "cons")
  }

  /** Minimum triple support. */
  val MinSuppTriple = 5L

  /** Exponential-decay half-life (days) and the power-of-two decay
    * scale for [[trendingBrands]].
    */
  val TrendScale = 1048576L // 2^20
  val TrendMaxAge = 20L

  /** Recency-weighted brand demand ("trending"): each order contributes
    * weight 2²⁰ ≫ age_days (one halving per day old, floored at
    * [[TrendMaxAge]] days → weight 1, never 0) — exponential decay kept
    * EXACT by making the decay base 2 and the arithmetic a right shift,
    * where a float exp() would never replay cross-engine. The anchor is
    * the corpus max order date (pinned data-derived time — the engine's
    * no-wall-clock rule).
    *
    * Scale shape: one lineitem⨝orders key join (both data-sized,
    * hash-partitioned) + broadcast part brand + one brand agg; the
    * 1-row max-date anchor broadcasts. Gate `q_trending_brands`.
    */
  def trendingBrands(s: SparkSession, d: String): DataFrame = {
    val orders = t(s, d, "orders").select(
      col("o_orderkey").as("l_orderkey"),
      expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) * 1000 div " +
        s"${EventOps.DayNs}").as("day"))
    val anchor = orders.agg(max("day").as("max_day"))
    val weighted = t(s, d, "lineitem")
      .join(broadcast(t(s, d, "part").select(
        col("p_partkey").as("l_partkey"), col("p_brand"))), "l_partkey")
      .join(orders, "l_orderkey")
      .crossJoin(broadcast(anchor))
      .withColumn("w", expr(
        s"shiftright($TrendScale, CAST(least(max_day - day, $TrendMaxAge) " +
          "AS INT))"))
    weighted.groupBy("p_brand")
      .agg(count(lit(1)).as("n_lineitems"), sum("w").as("trend_score"))
      .orderBy(col("trend_score").desc, col("p_brand"))
  }

  /** Frequent itemsets one Apriori level past [[assocRules]]: brand
    * TRIPLES co-occurring in ≥ [[MinSuppTriple]] orders, with the
    * 3-way lift supp·n²·10⁶ div (sa·sb·sc) through DECIMAL(38)
    * (n²·supp·10⁶ ≈ 10³⁶ at corpus scale — the outermost exact product
    * this engine carries; still inside 38 digits).
    *
    * Scale shape: the candidate generator is TWO order-keyed self-joins
    * (C(k,3) per basket — basket-width-bounded like the pair join,
    * never catalog³); supports broadcast. The full Apriori would prune
    * candidate triples against frequent pairs first; at brand
    * cardinality the per-basket bound already contains the fan-out, so
    * the prune is documented, not paid. Gate `q_frequent_triples`.
    */
  def frequentTriples(s: SparkSession, d: String): DataFrame = {
    val baskets = t(s, d, "lineitem")
      .join(broadcast(t(s, d, "part").select(
        col("p_partkey").as("l_partkey"), col("p_brand"))), "l_partkey")
      .select(col("l_orderkey"), col("p_brand")).distinct()
    val nBaskets = baskets.select("l_orderkey").distinct()
      .agg(count(lit(1)).as("n"))
    val itemSupp = baskets.groupBy("p_brand").agg(count(lit(1)).as("supp"))
    def side(as: String) =
      baskets.select(col("l_orderkey"), col("p_brand").as(as))
    val triples = side("i1").join(side("i2"), "l_orderkey")
      .where(col("i1") < col("i2"))
      .join(side("i3"), "l_orderkey")
      .where(col("i2") < col("i3"))
      .groupBy("i1", "i2", "i3").agg(count(lit(1)).as("supp_triple"))
      .where(col("supp_triple") >= MinSuppTriple)
    def suppOf(item: String) = broadcast(itemSupp.select(
      col("p_brand").as(item), col("supp").as(s"supp_$item")))
    triples
      .join(suppOf("i1"), "i1").join(suppOf("i2"), "i2")
      .join(suppOf("i3"), "i3")
      .crossJoin(broadcast(nBaskets))
      .select(col("i1"), col("i2"), col("i3"), col("supp_triple"),
        expr(s"CAST((CAST(supp_triple AS DECIMAL(38,0)) * n * n * $Ppm) " +
          "div (CAST(supp_i1 AS DECIMAL(38,0)) * supp_i2 * supp_i3) " +
          "AS BIGINT)").as("lift_ppm"))
      .orderBy("i1", "i2", "i3")
  }

  /** RFM quintile segmentation (Hughes 1994 — the classic
    * recency/frequency/monetary customer cut every retention pipeline
    * runs): per customer the three raw metrics, each bucketed into
    * exact quintiles 1..5, and the composite RFM code. Quintile rank is
    * computed WITHOUT a global window: per-metric VALUE HISTOGRAMS give
    * cnt_lt per value (broadcast — value-cardinality-sized), the
    * within-value tie-break is a row_number PARTITIONED BY THE VALUE
    * (a keyed exchange, never Exchange SinglePartition), and
    *
    *   q = 1 + (5 · rank₀) div n,  rank₀ = cnt_lt + rn − 1 ∈ [0, n)
    *
    * — the two-phase-prefix-sum posture of the budget selection. Scoring
    * convention (documented, not configurable): every metric buckets
    * ASCENDING — q_r = 1 is the most recent (fewest days), q_f/q_m = 5
    * the most orders / most spend. Ties break by customer key — total
    * order, oracle-exact.
    *
    * Scale shape: one orders aggregation keyed on customer (map-side
    * combined), three value-histogram broadcasts, three value-keyed
    * row_number exchanges. Gate `q_rfm_segments`.
    */
  def rfmSegments(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val orders = t(s, d, "orders")
    val anchor = orders.agg(max(expr(
      s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) * 1000 div " +
        s"${EventOps.DayNs}")).as("max_day"))
    val base = orders
      .withColumn("day", expr(
        s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) * 1000 div " +
          s"${EventOps.DayNs}"))
      .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(max("day").as("last_day"), count(lit(1)).as("frequency"),
        sum("cents").as("monetary_cents"))
      .crossJoin(broadcast(anchor))
      .withColumn("recency_days", col("max_day") - col("last_day"))
      .drop("max_day", "last_day")
    def quintile(df: DataFrame, metric: String, out: String): DataFrame = {
      val hist = df.groupBy(metric).agg(count(lit(1)).as("nat"))
      val ow = Window.orderBy(col(metric).asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      // the histogram is value-cardinality-sized: its global window is a
      // bounded-frame sort, not a fact-volume single partition
      val ranks = hist
        .withColumn("cnt_lt", coalesce(sum("nat").over(ow), lit(0L)))
        .select(col(metric), col("cnt_lt"))
      val vw = Window.partitionBy(metric).orderBy("c_custkey")
      df.join(broadcast(ranks), metric)
        .withColumn("rn", row_number().over(vw))
        .withColumn(out, expr(
          s"CAST(1 + (5 * (cnt_lt + rn - 1)) div n_total AS INTEGER)"))
        .drop("cnt_lt", "rn")
    }
    val n = base.agg(count(lit(1)).as("n_total"))
    val withN = base.crossJoin(broadcast(n))
    val scored = quintile(quintile(quintile(withN,
      "recency_days", "r_q"), "frequency", "f_q"),
      "monetary_cents", "m_q")
    scored.select(col("c_custkey"), col("recency_days"), col("frequency"),
        col("monetary_cents"), col("r_q"), col("f_q"), col("m_q"),
        expr("CAST(r_q * 100 + f_q * 10 + m_q AS INTEGER)").as("rfm"))
      .orderBy("c_custkey")
  }

  /** RFM MIGRATION — the monetary-quintile TRANSITION MATRIX between
    * the two calendar halves of the order window: which spend segment
    * customers START in (first half) and where they LAND (second half),
    * counts plus exact row-share ppm — the CRM answer [[rfmSegments]]'
    * static snapshot can't give (a static 5 might be a rising 3 or a
    * collapsing whale). Halves split at the exact calendar midpoint
    * ((min_day + max_day) div 2); quintiles are computed WITHIN each
    * half's population (the migration is rank-relative, so corpus
    * growth between halves doesn't masquerade as movement); only
    * customers active in BOTH halves enter the matrix.
    *
    * Scale shape: two custkey aggregations; quintiles via the
    * [[rfmSegments]] value-histogram broadcast + per-value row_number
    * (never a fact-volume global window); the matrix is a ≤25-cell
    * rollup. Gate `q_rfm_migration`.
    */
  def rfmMigration(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = t(s, d, "orders")
      .withColumn("day", expr(
        s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) * 1000 div " +
          s"${EventOps.DayNs}"))
      .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
    val half = base.agg(expr("(min(day) + max(day)) div 2").as("half"))
    val withHalf = base.crossJoin(broadcast(half))
    def spendWhere(cond: org.apache.spark.sql.Column): DataFrame =
      withHalf.where(cond)
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(sum("cents").as("m"))
    def quintile(df: DataFrame, out: String): DataFrame = {
      val n = df.agg(count(lit(1)).as("n_total"))
      val hist = df.groupBy("m").agg(count(lit(1)).as("nat"))
      val ow = Window.orderBy(col("m").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranks = hist
        .withColumn("cnt_lt", coalesce(sum("nat").over(ow), lit(0L)))
        .select(col("m"), col("cnt_lt"))
      val vw = Window.partitionBy("m").orderBy("c_custkey")
      df.crossJoin(broadcast(n)).join(broadcast(ranks), "m")
        .withColumn("rn", row_number().over(vw))
        .select(col("c_custkey"),
          expr("CAST(1 + (5 * (cnt_lt + rn - 1)) div n_total AS INTEGER)")
            .as(out))
    }
    val from = quintile(spendWhere(col("day") <= col("half")), "q_from")
    val to = quintile(spendWhere(col("day") > col("half")), "q_to")
    val cells = from.join(to, "c_custkey")
      .groupBy("q_from", "q_to").agg(count(lit(1)).as("n"))
    val rowTot = cells.groupBy("q_from").agg(sum("n").as("n_from"))
    cells.join(rowTot, Seq("q_from"))
      .select(col("q_from"), col("q_to"), col("n"),
        expr("n * 1000000L div n_from").as("row_ppm"))
      .orderBy("q_from", "q_to")
  }

  // -------------------------------------------- stored decayed counters

  /** Stored-counter decay floor: ages ≥ this shift to weight 0 EXACTLY
    * (no cap-at-1 tail). The zero-floor shift composes PER WEIGHT —
    * (2²⁰ ≫ a) ≫ d = 2²⁰ ≫ (a+d), both sides 0 past the floor — but
    * NOT over a SUM of weights: floor(·/2^d) drops low bits, so two
    * age-20 orders (score 1+1=2) shifted by d=1 give 1 where a fresh
    * rebuild gives 0+0. The stored state is therefore kept per
    * (brand, day) BUCKET — every order in one day bucket carries the
    * identical power-of-two weight, so a bucket's score is
    * n·(2²⁰ ≫ age) and re-anchoring recomputes each bucket's weight
    * from its own day, exactly. Buckets at/past the floor compact into
    * one sentinel bucket per brand at day = anchor − [[TrendZeroAge]]
    * (weight 0 now and at every later anchor, since anchors only move
    * forward), so state stays ≤ [[TrendZeroAge]]+2 rows per brand —
    * brand-vocabulary-sized, never history-sized.
    * [[trendingBrands]]' cap-at-1 tail (`min(age, 20)`) does not
    * compose at all (the capped weight stops decaying); the stored
    * family deliberately uses the zero-floor decay and documents the
    * difference.
    */
  val TrendZeroAge = 21L

  val Db = "graft_trending"
  val Table = "brand_scores"
  val AnchorProp = "graft.trending.anchor_day"
  val WmKeyProp = "graft.trending.wm_orderkey"

  private def fqn = s"`$Db`.`$Table`"

  /** Per-(brand, day) lineitem counts, aged-out days compacted to the
    * weight-0 sentinel bucket `anchorDay - TrendZeroAge` (a single
    * `greatest` — fresh days pass through unchanged).
    */
  private def dayBuckets(s: SparkSession, d: String, orders: DataFrame,
                         anchorDay: Long): DataFrame =
    t(s, d, "lineitem")
      .join(orders, "l_orderkey")
      .join(broadcast(t(s, d, "part").select(
        col("p_partkey").as("l_partkey"), col("p_brand"))), "l_partkey")
      .withColumn("day",
        greatest(col("day"), lit(anchorDay - TrendZeroAge)))
      .groupBy("p_brand", "day")
      .agg(count(lit(1)).as("n_lineitems"))

  private def ordersUpTo(s: SparkSession, d: String, keyMax: Long)
      : DataFrame =
    t(s, d, "orders")
      .where(col("o_orderkey") <= keyMax)
      .select(col("o_orderkey").as("l_orderkey"),
        expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) * 1000 div " +
          s"${EventOps.DayNs}").as("day"))

  /** Full build over orders with key ≤ `keyMax`, anchored at that
    * slice's max day.
    */
  def buildTrending(s: SparkSession, d: String, keyMax: Long,
                    db: String = Db): Unit = {
    val orders = ordersUpTo(s, d, keyMax)
    val a = orders.agg(max("day")).head
    require(!a.isNullAt(0),
      s"buildTrending: no orders with key <= $keyMax — an empty build " +
        "has no anchor; pick a keyMax inside the ingested range")
    val anchorDay = a.getLong(0)
    graft.store.Warehouse.saveModel(
      dayBuckets(s, d, orders, anchorDay), db, Table)
    s.sql(s"ALTER TABLE ${fqn} SET TBLPROPERTIES " +
      s"('$AnchorProp'='$anchorDay', '$WmKeyProp'='$keyMax')")
  }

  /** Fold the orders in key range (stored watermark, `keyMax`]: the
    * stored per-(brand, day) buckets re-anchor by RE-CLAMPING each
    * bucket's day to the new anchor's sentinel (exact — the weight is
    * recomputed from the bucket's own day at serve time, so no stored
    * sum is ever shifted), then the batch's own buckets ADD. Counts are
    * additive → watermark fence (the histogram posture): a replayed
    * batch refuses loudly, the rebuild re-anchors.
    *
    * Scale shape: the batch pays its own fact join; the stored side is
    * a brand-vocabulary-sized re-clamp + sum — the raw history is never
    * rescanned (the decayed-counter store every trending dashboard
    * actually runs).
    */
  def appendTrending(s: SparkSession, d: String, keyMax: Long,
                     db: String = Db): Unit = {
    val wmKey = graft.store.Warehouse.readTablePropLong(s, db, Table,
      WmKeyProp, "rebuild with buildTrending before appending")
    require(keyMax > wmKey,
      s"appendTrending: keyMax $keyMax is not past the stored watermark " +
        s"$wmKey — replayed or out-of-order batches are refused (additive " +
        "scores would double); re-anchor with buildTrending")
    val anchor0 = graft.store.Warehouse.readTablePropLong(s, db, Table,
      AnchorProp, "rebuild with buildTrending before appending")
    val batchOrders = t(s, d, "orders")
      .where(col("o_orderkey") > wmKey && col("o_orderkey") <= keyMax)
      .select(col("o_orderkey").as("l_orderkey"),
        expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) * 1000 div " +
          s"${EventOps.DayNs}").as("day"))
    val b = batchOrders.agg(max("day")).head
    if (b.isNullAt(0)) return // empty key range: nothing to fold
    val anchor1 = math.max(b.getLong(0), anchor0)
    val batch = dayBuckets(s, d, batchOrders, anchor1).localCheckpoint()
    graft.store.Warehouse.rewriteVia(s, db, Table)(stored =>
      stored.select(col("p_brand"),
          greatest(col("day"), lit(anchor1 - TrendZeroAge)).as("day"),
          col("n_lineitems"))
        .unionByName(batch)
        .groupBy("p_brand", "day")
        .agg(sum("n_lineitems").as("n_lineitems")))
    s.sql(s"ALTER TABLE ${fqn} SET TBLPROPERTIES " +
      s"('$AnchorProp'='$anchor1', '$WmKeyProp'='$keyMax')")
  }

  /** The stored scores — no fact scan, by construction: each bucket's
    * weight is recomputed from its own day against the stored anchor
    * (n·(2²⁰ ≫ age), exact), summed per brand. Zero-score brands are
    * filtered at serve time (a fresh build never shows brands whose
    * only demand aged out, so the folded store must not either — the
    * agreement the gate checks).
    */
  def servedTrending(s: SparkSession, db: String = Db): DataFrame = {
    graft.store.Warehouse.refreshDb(s, db)
    val anchor = graft.store.Warehouse.readTablePropLong(s, db, Table,
      AnchorProp, "rebuild with buildTrending before serving")
    s.table(fqn)
      .withColumn("w", expr(
        s"shiftright($TrendScale, CAST(least($anchor - day, " +
          s"$TrendZeroAge) AS INT))"))
      .groupBy("p_brand")
      .agg(sum("n_lineitems").as("n_lineitems"),
        sum(expr("n_lineitems * w")).as("trend_score"))
      .where(col("trend_score") > 0)
      .orderBy(col("trend_score").desc, col("p_brand"))
  }

  /** Gate `q_trending_incremental`: build on the first two-thirds of the
    * order-key range, fold the rest, serve from the stored table. The
    * oracle is a FRESH zero-floor replay over ALL orders at the final
    * anchor, score-positive rows only — a green row proves the shift
    * re-anchoring composes exactly.
    */
  def trendingIncremental(s: SparkSession, d: String): DataFrame = {
    val mx = t(s, d, "orders").agg(max("o_orderkey")).head.getLong(0)
    val thr = mx / 3 * 2
    buildTrending(s, d, thr)
    appendTrending(s, d, mx)
    servedTrending(s)
  }

  /** LPA rounds for [[brandCommunities]] ([[LinkOps.LpaIters]] posture:
    * a fixed synchronous unroll the oracle replays).
    */
  val BrandLpaIters = 4

  /** BRAND COMMUNITIES — label propagation over the co-purchase
    * AFFINITY graph: an edge joins two brands whose pair support clears
    * 1.25× the MEAN pair support (exact integer form
    * `4·c·|pairs| ≥ 5·Σc` — a fixed absolute threshold would go
    * degenerate as the corpus grows, since EVERY pair count scales with
    * order volume; the mean-relative cut keeps the graph's density
    * scale-free). The merchandising view of [[assocRules]]: rules rank
    * individual pairs, communities find the CLIQUES a planner treats as
    * one assortment. Second graph domain for the LPA machinery (the
    * link gates walk the web graph; this walks a transaction graph).
    *
    * Scale shape: the [[assocRules]] pair shape (per-order fan-out
    * bounded by basket brand count) into a |brands|²-bounded pair
    * frame; the threshold is one 1-row aggregate broadcast; LPA runs
    * on the brand-bounded graph. Gate `q_brand_communities`.
    */
  def brandCommunities(s: SparkSession, d: String): DataFrame =
    withBrandGraph(s, d) { (edges, verts) =>
      GraphOps.drain(
          GraphOps.labelPropagation(edges, verts, BrandLpaIters)) { labels =>
        val sizes = labels.groupBy("label")
          .agg(count(lit(1)).as("community_size"))
        labels.join(sizes, Seq("label"))
          .select(col("id").as("brand"), col("label").as("community"),
            col("community_size"))
          .localCheckpoint(eager = true)
      }
    }.orderBy("brand")

  /** Modularity tallies of the [[brandCommunities]] partition
    * ([[GraphOps.modularityOver]] on the co-purchase affinity graph) —
    * the same adjudicator the link gates carry (`q_modularity`), on the
    * transaction graph: an assortment "community" whose contrib_num
    * ≤ 0 is no denser than chance and shouldn't drive planning.
    * Gate `q_brand_modularity`.
    */
  def brandModularity(s: SparkSession, d: String): DataFrame =
    withBrandGraph(s, d) { (edges, verts) =>
      GraphOps.drain(
          GraphOps.labelPropagation(edges, verts, BrandLpaIters)) { labels =>
        GraphOps.modularityOver(edges, labels)
      }
    }.orderBy("community")

  /** Loan pattern over the co-purchase AFFINITY graph ([[brandCommunities]]'
    * construction): distinct per-order brand sets → pair supports →
    * mean-relative edge cut → (edges, verts) handed to `f`, which must
    * return an eagerly-materialized frame (both callers checkpoint
    * through their GraphOps loans).
    */
  private def withBrandGraph(s: SparkSession, d: String)
                            (f: (DataFrame, DataFrame) => DataFrame)
      : DataFrame = {
    val bbk = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
      .join(t(s, d, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_brand")),
        "l_partkey")
      .select(col("l_orderkey"), col("p_brand")).distinct()
      .persist()
    try {
      val pairs = bbk.select(col("l_orderkey"), col("p_brand").as("ba"))
        .join(bbk.select(col("l_orderkey"), col("p_brand").as("bb")),
          "l_orderkey")
        .where(col("ba") < col("bb"))
        .groupBy(col("ba").as("src"), col("bb").as("dst"))
        .agg(count(lit(1)).as("c"))
      val tot = pairs.agg(count(lit(1)).as("np"), sum("c").as("sc"))
      // persisted: brandModularity consumes the edge set TWICE (the LPA
      // symmetrization and the modularity tallies) — unpinned, each
      // branch re-ran the per-order brand-pair self-join + support agg
      // over the cached bbk (r14: two ~0.8 s duplicate jobs in the gate)
      val edges = pairs.crossJoin(broadcast(tot))
        .where(expr("4 * CAST(c AS DECIMAL(38,0)) * np >= " +
          "5 * CAST(sc AS DECIMAL(38,0))"))
        .select("src", "dst").persist()
      try {
        val verts = bbk.select(col("p_brand").as("id")).distinct()
        f(edges, verts)
      } finally edges.unpersist()
    } finally bbk.unpersist()
  }
}
