package graft

/** Machine-checked physical-plan policy (round-12 verdict #1): the scan
  * for scale-killing plan shapes used to be a human eye over PLANS.md —
  * BENCHLOG records it catching q_kendall_tau's global window by luck of
  * attention. This encodes the policy and [[PlanAudit]] FAILS on a
  * violation, so a Cartesian product or an unbounded single-partition
  * exchange cannot ship with plan evidence attached.
  *
  * Policy, applied to every registry query's FULL plan text — the
  * SimpleMode string plus every SUBQUERY plan via [[planText]] (the
  * PLANS.md sections are 6000-char-truncated; the check is not):
  *
  *  - `CartesianProduct` — never legal. The engine has no unbounded
  *    cross shape anywhere; the knn probes use BroadcastNestedLoopJoin
  *    with a bounded broadcast side by design.
  *  - `Exchange SinglePartition` — legal only when its immediate child
  *    is a (partial) aggregate: that is the global-aggregate shape,
  *    whose exchange moves one pre-combined row per upstream partition
  *    (bounded by partition count, not data). Every other producer
  *    (sort, window, project, scan) would funnel DATA through one task
  *    and must be explicitly allowlisted below with the boundedness
  *    argument.
  *
  *  - [[mustMatch]] — per-query pushdown/pruning/bucketing pins, and
  *    [[broadcastOnlyJoins]] — the star-lookup broadcast floor (round-14
  *    verdict #2: the last two red-flag classes, previously prose).
  *
  * Broadcast exchanges are not flagged: a broadcast is bounded by the
  * autoBroadcastJoinThreshold and the driver guards in Guards.scala.
  */
object PlanPolicy {

  /** Queries allowed N non-aggregate-child SinglePartition exchanges.
    * Every entry carries the boundedness argument — the frame that
    * funnels through one task is NOT the corpus:
    *
    *  - q_abc_classification: one global cumulative-share window over
    *    the revenue-ranked PART CATALOG (dimension-bounded, ~2k rows at
    *    sf1; catalogs grow with SKUs, not with fact volume).
    *  - q_survival_km: the day-grid risk-set windows (2 sites) —
    *    day-bounded (≤ observation span), events fold into the grid
    *    beforehand (the sites sit above scalar-cross BNLJ frames).
    *  - q_interval_concurrency: running concurrency over the ±delta
    *    DAY grid (2 rows per day, span-bounded).
    *  - q_id_islands: gaps-and-islands needs one global id ordering by
    *    definition; the input is the doc_id COLUMN only (8 bytes/row),
    *    and production runs it per partition-range slice.
    *  - q_ks_test: the two-sample CDF merge over the distinct-CENTS
    *    value histogram (value-domain-bounded, ≤ 10⁵ cells).
    *  - q_calibration_bins / q_isotonic_calibration: ONE global rank
    *    over the scored EVAL SAMPLE (the reliability diagram ranks an
    *    eval slice, not the corpus — the operators' documented
    *    contract; offline-eval posture). Isotonic's count is 5 because
    *    the rank exchange sits inside the PlanCache-pinned bin frame,
    *    whose cached plan the explain prints once per reference — it
    *    EXECUTES once (round-13 audit: the same scan also caught this
    *    query's theta joins planning as CartesianProduct — fixed with
    *    broadcast hints on the bin-bounded sides, see
    *    TextOps.isotonicCalibration).
    *  - q_split_proportional: the Hamilton largest-remainder draw — a
    *    CONSTANT N rows (the requested sample) through one task.
    *
    * (Families one might expect here but which need NO entry because
    * their single-partition exchanges all sit above partial aggregates
    * — the structural exemption: the theta-sketch tails, key-skew's
    * count-of-counts, spearman/kendall's histogram ranks, the funnel
    * step summaries.)
    *
    * The counts pin today's plans EXACTLY: a new single-partition
    * exchange fails (count exceeded), and a plan that improves BELOW
    * its pin also fails — stale headroom would otherwise let future
    * data-funneling exchanges ship silently under the old allowance.
    */
  val singlePartitionAllow: Map[String, Int] = Map(
    "q_abc_classification" -> 1,
    "q_survival_km" -> 2,
    "q_interval_concurrency" -> 1,
    "q_id_islands" -> 1,
    "q_ks_test" -> 1,
    "q_calibration_bins" -> 1,
    "q_isotonic_calibration" -> 5,
    "q_split_proportional" -> 1)

  /** r15 (round-14 verdict #4): the allowlist's boundedness arguments as
    * MEASURED guards, not prose. Every [[singlePartitionAllow]] entry maps
    * to a bound — the funneled frame's cardinality measured over the live
    * data dir against the dimension cap that justifies the entry —
    * machine-driven by PlanPolicySpec (fixture scale + a planted
    * violation) and re-runnable at any replication factor. Two postures:
    *
    *  - dimension-bounded entries measure rows ≤ the justifying dimension
    *    (catalog size, observation day span, value-domain cells, the
    *    constant sample N) — a restructure that starts funneling
    *    fact-sized rows through the allowlisted exchange goes red;
    *  - corpus-row entries funnel one NARROW row per corpus row BY
    *    DESIGN (q_id_islands: 8-byte ids, production slices by id range;
    *    the two calibration ranks: offline eval of a scored sample) —
    *    their guard is the documented single-task row budget
    *    ([[RankRowBudget]] / [[EvalSampleBudget]]), which fixture and
    *    replication scales must sit under and a deployment-scale audit
    *    run trips. q_id_islands' 8-byte width claim is additionally
    *    machine-checked via its [[mustMatch]] ReadSchema pin.
    */
  final case class SpBound(dim: String,
      measured: (org.apache.spark.sql.SparkSession, String) => Long,
      cap: (org.apache.spark.sql.SparkSession, String) => Long)

  /** Single-task row budget for the id-ranked gaps-and-islands funnel
    * (8 B/row — ~400 MB through one task at the budget; production runs
    * per id-range slice well below it).
    */
  val RankRowBudget = 50000000L

  /** Offline-eval sample budget for the calibration ranks (the
    * reliability diagram and PAV fit rank a scored EVAL SAMPLE; a
    * deployment ranking more than this through one task must sample
    * first — the operators' documented contract).
    */
  val EvalSampleBudget = 10000000L

  val singlePartitionBounds: Map[String, SpBound] = {
    import org.apache.spark.sql.functions._
    def docsRows(s: org.apache.spark.sql.SparkSession, d: String): Long =
      Tables.t(s, d, "documents").count()
    Map(
      "q_abc_classification" -> SpBound(
        "revenue-ranked part catalog (rows ≤ |part|)",
        (s, d) => ops.Relational.abcClassification(s, d).count(),
        (s, d) => Tables.t(s, d, "part").count()),
      "q_survival_km" -> SpBound(
        "exit-day grid (rows ≤ observation day span)",
        (s, d) => ops.EventOps.kaplanMeier(s, d).count(),
        (s, d) => {
          val mm = Tables.t(s, d, "events")
            .agg(min("ts").as("lo"), max("ts").as("hi")).head
          (mm.getLong(1) - mm.getLong(0)) / ops.EventOps.DayNs + 2
        }),
      "q_interval_concurrency" -> SpBound(
        "±7-day interval grid (rows ≤ order-date span + 8)",
        (s, d) => ops.EventOps.intervalConcurrency(s, d).count(),
        (s, d) => {
          val mm = Tables.t(s, d, "orders")
            .agg(min("o_orderdate").as("lo"), max("o_orderdate").as("hi"))
            .select(datediff(col("hi"), col("lo"))).head
          mm.getInt(0).toLong + 9
        }),
      "q_ks_test" -> SpBound(
        "distinct-cents value histogram (cells ≤ 10⁵ value domain)",
        (s, d) => Tables.t(s, d, "events")
          .filter(col("event_type") === "purchase")
          .select(expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .distinct().count(),
        (_, _) => 100000L),
      "q_split_proportional" -> SpBound(
        "constant Hamilton sample N",
        (s, d) => ops.SamplingOps.proportionalSplit(s, d).count(),
        (_, _) => ops.SamplingOps.ApportionN),
      "q_id_islands" -> SpBound(
        "8-byte id column through one task (production slices by range; " +
          "width machine-checked by the mustMatch ReadSchema pin)",
        docsRows, (_, _) => RankRowBudget),
      "q_calibration_bins" -> SpBound(
        "scored eval sample (offline-eval posture)",
        docsRows, (_, _) => EvalSampleBudget),
      "q_isotonic_calibration" -> SpBound(
        "scored eval sample (offline-eval posture)",
        docsRows, (_, _) => EvalSampleBudget))
  }

  /** The measured-guard verdict for one allowlist entry — pure so the
    * planted-violation spec can drive it directly.
    */
  def boundViolation(name: String, measured: Long, cap: Long,
                     dim: String): Option[String] =
    if (measured > cap)
      Some(s"$name: single-partition funnel guard violated — measured " +
        s"$measured rows exceeds the declared bound $cap ($dim)")
    else None

  /** Round-14 verdict #2a — the "filters/pruning must reach the scan"
    * red-flag class as per-query PINS: each regex must match somewhere
    * in the full plan text. The pins carry column NAMES and literals but
    * never expression ids (those renumber per session). Families:
    *
    *  - watermark/tenant/event-type filters must appear in a scan's
    *    `PushedFilters` (parquet row-group skipping — B4's contract and
    *    the as-of/range joins' pre-join reduction);
    *  - projection-pruning gates pin the scan's `ReadSchema` to exactly
    *    the referenced columns (a scan reading all 16 lineitem columns
    *    for a 5-column projection is wrong at any scale);
    *  - the bucketed join pins BOTH scans `Bucketed: true` (the
    *    zero-exchange co-located join exists only while the catalog
    *    layout is actually picked up).
    */
  val mustMatch: Map[String, Seq[String]] = Map(
    "q_filter_incremental" -> Seq(
      "PushedFilters: \\[IsNotNull\\(ts\\), GreaterThan\\(ts,"),
    "q_filter_tenant_eq" -> Seq(
      "PushedFilters:[^\\n]*EqualTo\\(o_orderstatus,F\\)",
      "PushedFilters:[^\\n]*GreaterThan\\(o_totalprice,"),
    "q_scan_projection" -> Seq(
      "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint," +
        "l_linenumber:int,l_quantity:double,l_extendedprice:double>"),
    "q_groupby_count" -> Seq("ReadSchema: struct<event_type:string>"),
    // r15 (verdict #4): the width half of q_id_islands' allowlist
    // argument — the single-partition rank funnels the 8-byte id column
    // ONLY; a restructure that drags wider columns through the global
    // sort goes red here
    "q_id_islands" -> Seq("ReadSchema: struct<doc_id:bigint>"),
    "q_asof_last_click" -> Seq(
      "PushedFilters:[^\\n]*EqualTo\\(event_type,click\\)",
      "PushedFilters:[^\\n]*EqualTo\\(event_type,purchase\\)"),
    "q_join_range" -> Seq(
      "PushedFilters:[^\\n]*EqualTo\\(event_type,click\\)",
      "PushedFilters:[^\\n]*EqualTo\\(event_type,purchase\\)"),
    "q_join_bucketed" -> Seq("(?s)Bucketed: true.*Bucketed: true"))

  /** Round-14 verdict #2b — the "dim joins must broadcast" red-flag
    * class: the star-lookup family must carry at least the pinned
    * number of BroadcastHashJoin nodes and ZERO shuffle joins
    * (SortMergeJoin / ShuffledHashJoin). A minimum, not an exact pin:
    * the guarded failure mode is a broadcast DEGRADING to a shuffle —
    * extra broadcasts are strictly legal — and the zero-shuffle-join
    * clause catches a degradation even when the broadcast count holds.
    * q_join_bucketed is deliberately absent: its SortMergeJoin over
    * co-bucketed scans IS the design (zero exchange), pinned via
    * [[mustMatch]] instead.
    */
  val broadcastOnlyJoins: Map[String, Int] = Map(
    "q_join_broadcast_dim" -> 3,
    "q_join_equi" -> 1,
    "q_join_semi_anti" -> 1,
    "q_join_range" -> 1)

  /** Full policy-scan text for a frame: the SimpleMode physical plan
    * plus any subquery plan the main string did NOT already print
    * (round-14 ADVICE — and the round-13 tenant-rule holes showed
    * subquery plans are a real blind-spot class). Spark 4.1's SimpleMode
    * usually prints expression subqueries as innerChildren, so the walk
    * below is insurance for the paths that don't (and DEDUPES against
    * the main text — blindly appending an already-printed subquery would
    * double its nodes against the exact allowlist pins). Best-effort: a
    * plan that cannot enumerate subqueries still scans its main text.
    */
  def planText(df: org.apache.spark.sql.DataFrame): String = {
    val qe = df.queryExecution
    val main = qe.explainString(org.apache.spark.sql.execution.SimpleMode)
    // AdaptiveSparkPlanExec is a LEAF node — subqueriesAll on it walks
    // nothing; scan its input plan (where PlanAdaptiveSubqueries left the
    // subquery expressions) instead
    val subs =
      try {
        val root = qe.executedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.inputPlan
          case p => p
        }
        root.subqueriesAll.map(_.treeString)
          .filterNot(t => main.contains(t.linesIterator.next().trim))
      } catch { case _: Throwable => Seq.empty }
    if (subs.isEmpty) main
    else main + "\n=== Subqueries (policy scan) ===\n" + subs.mkString("\n")
  }

  /** A global sort the optimizer left above a projection that
    * [[graft.plans.SortBelowProject]] would move: the range exchange's
    * sampling job evaluates that projection a second time. The rule is
    * the predicate, so determinism and aliases are judged exactly.
    */
  def sortAboveProjection(name: String, df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val plan = df.queryExecution.optimizedPlan
    if (graft.plans.SortBelowProject(plan).fastEquals(plan)) Seq.empty
    else Seq(s"$name: a global sort sits above a projection that " +
      "graft.plans.SortBelowProject moves below it — the range sampling " +
      "job evaluates the projection twice")
  }

  private val TreeArt = "^[\\s:+\\-]*".r
  private val CodegenTag = "^\\*\\(\\d+\\)\\s*".r

  /** Strip explain tree art + the whole-stage-codegen star tag from a
    * plan line, leaving the node name at the head.
    */
  private[graft] def nodeOf(line: String): String =
    CodegenTag.replaceFirstIn(TreeArt.replaceFirstIn(line, ""), "")

  private def isAggregate(node: String): Boolean =
    node.startsWith("HashAggregate") || node.startsWith("SortAggregate") ||
      node.startsWith("ObjectHashAggregate")

  /** Policy violations for one query's explain string. Empty = clean.
    * Pure text → text so the planted-violation spec can drive it with a
    * crafted plan and [[PlanAudit]] with the live registry.
    */
  def violations(name: String, explain: String): Seq[String] = {
    val lines = explain.linesIterator.toVector
    val cart = lines.count(l => nodeOf(l).startsWith("CartesianProduct"))
    val cartV =
      if (cart > 0) Seq(s"$name: $cart CartesianProduct node(s) — never legal")
      else Seq.empty
    val spIdx = lines.zipWithIndex.collect {
      case (l, i) if nodeOf(l).startsWith("Exchange SinglePartition") => i
    }
    val unexempt = spIdx.filterNot { i =>
      i + 1 < lines.size && isAggregate(nodeOf(lines(i + 1)))
    }
    val allowed = singlePartitionAllow.getOrElse(name, 0)
    val spV =
      if (unexempt.size > allowed)
        Seq(s"$name: ${unexempt.size} non-aggregate-child Exchange " +
          s"SinglePartition node(s) (allowlisted: $allowed) — children: " +
          unexempt.map(i => nodeOf(lines.lift(i + 1).getOrElse("<eof>"))
            .take(60)).mkString("[", " | ", "]"))
      else if (unexempt.size < allowed)
        Seq(s"$name: plan improved below its allowlist pin " +
          s"(${unexempt.size} < $allowed) — lower the PlanPolicy entry " +
          "so the stale headroom cannot absorb a future data-funneling " +
          "exchange")
      else Seq.empty
    val mmV = mustMatch.getOrElse(name, Seq.empty).flatMap { p =>
      if (p.r.findFirstIn(explain).isEmpty)
        Some(s"$name: expected plan evidence missing — no match for /$p/ " +
          "(pushdown/pruning/bucketing pin)")
      else None
    }
    val bV = broadcastOnlyJoins.get(name).toSeq.flatMap { minB =>
      val b = lines.count(l => nodeOf(l).startsWith("BroadcastHashJoin"))
      val shuffled = lines.map(nodeOf).filter(n =>
        n.startsWith("SortMergeJoin") || n.startsWith("ShuffledHashJoin"))
      val low =
        if (b < minB)
          Seq(s"$name: $b BroadcastHashJoin node(s), pinned minimum $minB " +
            "— a dimension join stopped broadcasting")
        else Seq.empty
      val shuf =
        if (shuffled.nonEmpty)
          Seq(s"$name: ${shuffled.size} shuffle-join node(s) " +
            shuffled.map(_.take(40)).mkString("[", " | ", "]") +
            " — the star-lookup family must broadcast its dims")
        else Seq.empty
      low ++ shuf
    }
    cartV ++ spV ++ mmV ++ bV
  }
}
