package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The plan-policy scan must catch the shapes the human eye used to: a
  * planted global window (the q_kendall_tau incident's shape) and a
  * planted cross join must FAIL; the legal global-aggregate shape and
  * today's registry allowlist shapes must pass.
  */
class PlanPolicySpec extends SparkSpec {

  import spark.implicits._

  private def explainOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)

  test("planted global window (no partitionBy) fails the policy") {
    val df = Seq((1L, 2L), (3L, 4L)).toDF("k", "v")
      .withColumn("rnk", row_number().over(Window.orderBy("v")))
    val v = PlanPolicy.violations("q_scratch_global_window", explainOf(df))
    assert(v.nonEmpty, "a corpus-wide single-partition window must be flagged")
    assert(v.head.contains("Exchange SinglePartition"), v)
  }

  test("planted cross join fails the policy even when allowlisted") {
    val a = Seq(1L, 2L).toDF("x")
    val b = Seq(3L, 4L).toDF("y")
    // defeat both broadcast paths so the planner picks CartesianProduct
    val noB = a.hint("shuffle_replicate_nl").crossJoin(b)
    val v = PlanPolicy.violations("q_abc_classification", explainOf(noB))
    assert(v.exists(_.contains("CartesianProduct")),
      s"CartesianProduct is never legal, allowlist or not: $v")
  }

  test("global aggregate's SinglePartition exchange is structurally exempt") {
    val df = Seq(1L, 2L, 3L).toDF("v").agg(sum("v").as("s"))
    val v = PlanPolicy.violations("q_scratch_global_agg", explainOf(df))
    assert(v.isEmpty, s"partial-agg child is the bounded shape: $v")
  }

  test("allowlist pins a COUNT — a second exchange still fails") {
    // crafted plan text: two non-agg-child SinglePartition exchanges for
    // a query allowlisted at 1
    val planted =
      """AdaptiveSparkPlan isFinalPlan=false
        |+- Window [row_number()], [v ASC]
        |   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]
        |      +- Sort [v ASC]
        |         +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=2]
        |            +- Project [v]
        |               +- FileScan parquet""".stripMargin
    assert(PlanPolicy.singlePartitionAllow("q_ks_test") == 1)
    val v = PlanPolicy.violations("q_ks_test", planted)
    assert(v.nonEmpty, "count past the allowlisted 1 must fail")
    // exactly at the pinned count it passes
    val one = planted.linesIterator.toSeq.take(4).mkString("\n")
    assert(PlanPolicy.violations("q_ks_test", one).isEmpty)
    // and BELOW the pin it also fails — stale headroom would let a
    // future data-funneling exchange ship inside the old allowance
    val none = "Project [v]\n+- FileScan parquet"
    val below = PlanPolicy.violations("q_ks_test", none)
    assert(below.exists(_.contains("below its allowlist pin")), below)
  }

  test("live registry sample is policy-clean inside the TEST gate") {
    // PlanAudit enforces the policy over the FULL registry, but the
    // per-round driver gate is `sbt test` — without this sample a
    // violation ships until someone runs the audit. Covers the cheap
    // lazily-constructible families (pure transform pipelines at
    // sf0.001); the training/lifecycle gates stay audit-only (their
    // frame CONSTRUCTION pays real jobs).
    val sample = Seq(
      "q_scan_projection", "q_filter_tenant_eq", "q_filter_incremental",
      "q_cast_standard", "q_concat_partition_key", "q_coalesce_prefix",
      "q_suffix_tag", "q_arith_scale", "q_timestamp_replace",
      "q_cte_stage_chain", "q_groupby_count", "q_limit_topk",
      "q_join_equi", "q_join_broadcast_dim", "q_join_semi_anti",
      "q_join_range", "q_window_latest_by_pk", "q_window_running_agg",
      "q_sort_topk_per_group", "q_union_two_tenants", "q_except_intersect",
      "q_rollup_agg", "q_scalar_datetime_math", "q_json_extract",
      "q_text_stats", "q_quality_score", "q_lang_id", "q_dedup_exact_text",
      "q_corpus_clean", "q_redact_pii", "q_zorder_key", "q_skipgram_pairs",
      "q_zipf_profile", "q_vocab_stats", "q_kneser_ney",
      "q_kneser_ney_pruned", "q_event_tumbling_window", "q_percentile_status")
    val bad = sample.flatMap { n =>
      val df = SparkEntry.queries(n)(spark, sf)
      PlanPolicy.violations(n, PlanPolicy.planText(df)) ++
        PlanPolicy.sortAboveProjection(n, df)
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("planted unpushed filter fails the pushdown pin") {
    // the q_filter_incremental shape with the watermark filter evaluated
    // POST-scan (empty PushedFilters) — the round-14 verdict's first
    // remaining red-flag class, previously prose in the PLANS.md preamble
    val unpushed =
      """*(1) Filter (isnotnull(ts#1) AND (ts#1 > 2024-01-15 00:00:00))
        |+- FileScan parquet [event_id#0L,ts#1] Batched: true, DataFilters: [], Format: Parquet, PartitionFilters: [], PushedFilters: [], ReadSchema: struct<event_id:bigint,ts:timestamp_ntz>""".stripMargin
    val v = PlanPolicy.violations("q_filter_incremental", unpushed)
    assert(v.exists(_.contains("expected plan evidence missing")), v)
    val pushed = unpushed.replace("PushedFilters: []",
      "PushedFilters: [IsNotNull(ts), GreaterThan(ts,2024-01-15T00:00)]")
    assert(PlanPolicy.violations("q_filter_incremental", pushed).isEmpty)
  }

  test("planted shuffled dim join fails the broadcast pin") {
    // q_join_broadcast_dim with one dim join degraded to SortMergeJoin:
    // both clauses must fire (broadcast count below the 3 floor AND a
    // shuffle-join node present)
    val degraded =
      """*(5) BroadcastHashJoin [n_regionkey#1], [r_regionkey#2], Inner, BuildRight, false
        |:- *(5) BroadcastHashJoin [c_nationkey#3], [n_nationkey#4], Inner, BuildRight, false
        |:  :- SortMergeJoin [o_custkey#5L], [c_custkey#6L], Inner
        |:  :  :- FileScan parquet [o_custkey#5L]
        |:  :  +- FileScan parquet [c_custkey#6L]
        |:  +- FileScan parquet [n_nationkey#4]
        |+- FileScan parquet [r_regionkey#2]""".stripMargin
    val v = PlanPolicy.violations("q_join_broadcast_dim", degraded)
    assert(v.exists(_.contains("stopped broadcasting")), v)
    assert(v.exists(_.contains("shuffle-join node")), v)
    // ShuffledHashJoin is the same degradation class
    val shj = degraded.replace("SortMergeJoin", "ShuffledHashJoin")
    assert(PlanPolicy.violations("q_join_broadcast_dim", shj)
      .exists(_.contains("shuffle-join node")))
  }

  test("planText surfaces subquery plans to the policy scan, no double count") {
    // a data-funneling global window INSIDE a scalar subquery (the
    // tenant-rule holes showed subqueries are a real blind-spot class):
    // the policy over planText must flag its Exchange SinglePartition —
    // and planText must not DOUBLE the subquery when the main SimpleMode
    // string already prints it as innerChildren (a blind append would
    // double node counts against the exact allowlist pins)
    spark.range(0, 100, 1, 4).toDF("v").createOrReplaceTempView("pp_subq_t")
    // r > 2 (not r = 2): an equality rank filter lets the optimizer
    // collapse the window into TakeOrderedAndProject — a legal global
    // top-k with no exchange — and the planted violation evaporates
    val df = spark.sql(
      """SELECT v FROM pp_subq_t WHERE v > (
        |  SELECT max(v) FROM (
        |    SELECT v, row_number() OVER (ORDER BY v) AS r FROM pp_subq_t
        |  ) WHERE r > 2)""".stripMargin)
    val full = PlanPolicy.planText(df)
    val v = PlanPolicy.violations("q_scratch_subq", full)
    assert(v.exists(_.contains("Exchange SinglePartition")),
      s"the policy must see the subquery's global window: $v\n$full")
    def spCount(t: String): Int = t.linesIterator.count(
      _.contains("Exchange SinglePartition"))
    val mainOnly = explainOf(df)
    assert(spCount(full) == math.max(spCount(mainOnly), 1),
      s"planText must not duplicate an already-printed subquery:\n$full")
  }

  test("a global sort left above a computing projection fails the policy") {
    // the q_redact_pii shape without graft.plans.SortBelowProject: the
    // range sampling job evaluates the projection a second time
    def q(s: org.apache.spark.sql.SparkSession) =
      s.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), upper(col("text")).as("u")).orderBy("doc_id")
    val bare = spark.newSession()
    assert(PlanPolicy.sortAboveProjection("q_scratch_sort", q(bare))
      .exists(_.contains("twice")))
    // a key on the computed column cannot move below the projection
    assert(PlanPolicy.sortAboveProjection("q_scratch_sort",
      bare.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), upper(col("text")).as("u")).orderBy("u")).isEmpty)
    graft.plans.install(spark)
    assert(PlanPolicy.sortAboveProjection("q_scratch_sort", q(spark)).isEmpty)
  }

  test("codegen star tags don't hide an aggregate child") {
    val planted =
      """Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=9]
        |+- *(3) HashAggregate(keys=[], functions=[partial_sum(v)])""".stripMargin
    assert(PlanPolicy.violations("q_scratch", planted).isEmpty)
  }

  test("every single-partition allowlist entry carries a measured bound " +
      "(r15 verdict #4) and a planted overflow goes red") {
    // completeness: an allowlist entry WITHOUT a bound is itself a
    // violation of the policy's contract — prose boundedness arguments
    // are exactly what this replaces
    assert(PlanPolicy.singlePartitionAllow.keySet ==
      PlanPolicy.singlePartitionBounds.keySet,
      "singlePartitionAllow and singlePartitionBounds must cover the " +
        "same queries")
    // planted violation: measured above the declared cap must report
    val planted = PlanPolicy.boundViolation("q_planted", 101L, 100L, "dim")
    assert(planted.exists(_.contains("guard violated")), planted.toString)
    assert(PlanPolicy.boundViolation("q_ok", 100L, 100L, "dim").isEmpty)
  }

  test("measured single-partition bounds hold over the live fixture") {
    // drive every declared bound at fixture scale: the funneled frame's
    // measured cardinality must sit under the dimension cap that
    // justifies its allowlist entry (q_ks_test's histogram under the
    // value domain, the grids under their spans, the constant sample at
    // N, the corpus-row funnels under their documented task budgets)
    val bad = PlanPolicy.singlePartitionBounds.toSeq.sortBy(_._1).flatMap {
      case (n, b) =>
        PlanPolicy.boundViolation(n, b.measured(spark, sf),
          b.cap(spark, sf), b.dim)
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
