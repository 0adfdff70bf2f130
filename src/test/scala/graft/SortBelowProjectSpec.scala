package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.functions._
import graft.plans.SortBelowProject

/** [[SortBelowProject]] moves a global sort below a computing projection
  * whose sort keys pass through, so the range exchange's sampling job no
  * longer evaluates the projection a second time. These tests count the
  * evaluations, pin the shapes the rule must leave alone, and compare the
  * ordered rows of the registry's per-row text queries with the rule on
  * and off.
  */
class SortBelowProjectSpec extends SparkSpec {

  private val N = 2000

  /** N rows (id, x) in one parquet file, ids shuffled so the sort moves
    * rows. Read back from parquet, not a local relation, so the optimizer
    * cannot fold the projection into the source.
    */
  private lazy val rowsDir: String = {
    val dir = TempDirs.create("graft-sbp-spec") + "/rows"
    spark.range(N).select(((col("id") * 7919) % N).as("id"), col("id").as("x"))
      .coalesce(1).write.parquet(dir)
    dir
  }

  /** A session without the rule: a fresh session installs nothing. */
  private def bare: SparkSession = spark.newSession()

  /** A session whose optimizer skips the rule even where Tables.t
    * installs it (registry queries read through Tables.t).
    */
  private def excluded: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules", SortBelowProject.ruleName)
    s
  }

  private def countingUdf(s: SparkSession) = {
    val calls = s.sparkContext.longAccumulator("sbp-calls")
    (udf((x: Long) => { calls.add(1); x * 3 }), calls)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The optimized plan still holds a Sort directly over a Project. */
  private def sortOverProject(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case Sort(_, _, _: Project, _) => ()
    }.isDefined

  test("a total ORDER BY evaluates the projection once per row, not twice") {
    graft.plans.install(spark)
    def delivered(s: SparkSession): Long = {
      val (f, calls) = countingUdf(s)
      noop(s.read.parquet(rowsDir).select(col("id"), f(col("x")).as("y"))
        .orderBy("id"))
      calls.value
    }
    assert(delivered(spark) == N)
    // without the rule the range sampling job runs the UDF over every row
    assert(delivered(bare) == 2L * N)
  }

  test("registry per-row text queries give identical ordered rows with and without the rule") {
    // the sf0.01 fixture next to the suite's own
    val sf01 = s"${new java.io.File(sf).getParent}/sf0.01"
    val queries = Seq("q_redact_pii", "q_pseudonymize_pii", "q_mask_spans",
      "q_lang_id", "q_html_extract", "q_readability", "q_token_count_bpe",
      "q_quality_score")
    val off = excluded
    queries.foreach { q =>
      val on = SparkEntry.queries(q)(spark, sf01)
      val ref = SparkEntry.queries(q)(off, sf01)
      // the rule fired: its output is a fixed point of the rule, while
      // the excluded session's plan still has a sort to move
      val onPlan = on.queryExecution.optimizedPlan
      val refPlan = ref.queryExecution.optimizedPlan
      assert(SortBelowProject(onPlan).fastEquals(onPlan), q)
      assert(!SortBelowProject(refPlan).fastEquals(refPlan), s"$q: rule has nothing to move")
      val (a, b) = (on.collect().toSeq, ref.collect().toSeq)
      assert(a.nonEmpty, q)
      assert(a == b, s"$q: ordered rows differ with the rule")
    }
  }

  test("non-deterministic projections, computed sort keys and partition-local sorts are left alone") {
    graft.plans.install(spark)
    val src = spark.read.parquet(rowsDir)
    val (f, _) = countingUdf(spark)
    assert(sortOverProject(src.select(col("id"), rand(7).as("r")).orderBy("id")))
    assert(sortOverProject(src.select(col("id"), f(col("x")).as("y")).orderBy("y")))
    assert(sortOverProject(
      src.select(col("id"), f(col("x")).as("y")).sortWithinPartitions("id")))
  }

  test("an aliased sort key is pushed as the child attribute, over pruned input") {
    graft.plans.install(spark)
    def q(s: SparkSession) = Tables.t(s, sf, "documents")
      .select(col("doc_id").as("id"), upper(col("text")).as("t"))
      .orderBy("id")
    val df = q(spark)
    val plan = df.queryExecution.optimizedPlan
    val sort = plan.collectFirst { case s: Sort => s }.get
    val keyNames = sort.order.flatMap(_.references.map(_.name))
    assert(keyNames == Seq("doc_id"), plan.treeString)
    // the moved sort reads only what the projection and its key need
    assert(sort.child.output.map(_.name).toSet == Set("doc_id", "text"),
      plan.treeString)
    assert(plan.collectFirst { case Project(_, _: Sort) => () }.isDefined,
      plan.treeString)
    assert(df.collect().toSeq == q(excluded).collect().toSeq)
  }

  test("limit over a sorted projection still plans TakeOrderedAndProject") {
    graft.plans.install(spark)
    val k = 10
    val (f, calls) = countingUdf(spark)
    val df = spark.read.parquet(rowsDir)
      .select(col("id"), f(col("x")).as("y")).orderBy("id").limit(k)
    val top = df.queryExecution.sparkPlan.collectFirst {
      case t: TakeOrderedAndProjectExec => t
    }
    assert(top.isDefined, df.queryExecution.sparkPlan.treeString)
    assert(df.collect().map(_.getLong(0)).toSeq == (0L until k.toLong))
    assert(calls.value <= N, s"UDF ran ${calls.value} times for $N rows")
  }

  test("concurrent installs leave each engine rule exactly once") {
    object Other extends Rule[LogicalPlan] {
      def apply(p: LogicalPlan): LogicalPlan = p
    }
    val s = spark.newSession()
    s.experimental.extraOptimizations = Seq(Other)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val done = (1 to 8).map { _ =>
        pool.submit(new Runnable {
          def run(): Unit = { start.await(); (1 to 50).foreach(_ => graft.plans.install(s)) }
        })
      }
      start.countDown()
      done.foreach(_.get())
    } finally pool.shutdown()
    val installed = s.experimental.extraOptimizations
    assert(installed.count(_ == Other) == 1)
    graft.plans.rules.foreach(r => assert(installed.count(_ == r) == 1, installed))
  }
}
