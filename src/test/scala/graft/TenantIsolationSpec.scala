package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.store.{LoadMode, Warehouse}

/** The full SparkSessionExtensions path: a session built with
  * GraftExtensions enforces tenant isolation on raw-table scans via the
  * injected optimizer rule, and carries the native functions.
  */
class TenantIsolationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    // Reuse the shared SparkContext but build a session WITH extensions
    // (extensions bind at session construction).
    SparkSpec.session // ensure context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .withExtensions(new graft.functions.GraftExtensions())
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  test("extensions inject EVERY native function (registry/injection drift gate)") {
    // one SQL probe per injected function — fails if a function is added
    // to GraftFunctions.register but forgotten in GraftExtensions (the
    // cluster deployment path would silently lack it)
    val row = spark.sql(
      """SELECT rolling_hash('abc')                                AS a,
        |       simhash64(array('x', 'y'))                         AS b,
        |       hyperplane_sketch(array(1.0F, -1.0F))              AS c,
        |       nfc_normalize('cafe')                              AS d,
        |       vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))      AS e,
        |       vec_sqdist(array(1.0D, 2.0D), array(3.0D, 4.0D))   AS f,
        |       bloom_might_contain(CAST(NULL AS BINARY), 42L)     AS g,
        |       word_ngrams('a b c', 2)                            AS h,
        |       unicode_tokens('a b')                              AS i,
        |       sq_adc_dot(array(1.0D), array(255), array(0.0D),
        |                  array(2.0D))                            AS j
        |""".stripMargin).head()
    assert(row.getDouble(4) == 11.0)
    assert(row.getSeq[String](7) == Seq("a b", "b c"))
    assert(row.getSeq[String](8) == Seq("a", "b"))
    assert(row.getDouble(9) == 2.0) // 1 · (0 + 255·2/255)
  }

  test("raw-table scans are auto-filtered to the session tenant; other tables untouched") {
    val s2 = spark
    import s2.implicits._
    val df = Seq(("T1", 1L), ("T1", 2L), ("T2", 3L)).toDF("project_id", "id")
    Warehouse.load(spark, df, "iso_raw", "items", LoadMode.FullRefresh)
    Warehouse.load(spark, df, "iso_mart", "items", LoadMode.FullRefresh)

    // no tenant conf -> rule inert
    assert(spark.table("iso_raw.items").count() == 3)

    spark.conf.set("graft.tenant.filterColumn", "project_id")
    spark.conf.set("graft.tenant.filterValue", "T1")
    try {
      // raw-db scan gains the filter even though the query never wrote one
      val got = spark.table("iso_raw.items").select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == Seq(1L, 2L))
      // the injected predicate reaches the scan as a pushed filter
      val plan = spark.table("iso_raw.items").queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("project_id"), plan.take(600))
      // aggregations compose with the injected filter
      assert(spark.table("iso_raw.items").count() == 2)
      // non-raw databases are untouched
      assert(spark.table("iso_mart.items").count() == 3)
      // a raw table WITHOUT the isolation column FAILS CLOSED (round-13
      // review: silent unfiltered scans were RLS fail-open) ...
      Warehouse.load(spark, Seq((10L, "x")).toDF("k", "v"), "iso2_raw", "nocol",
        LoadMode.FullRefresh)
      val e = intercept[Exception] { spark.table("iso2_raw.nocol").count() }
      def rootMsgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ rootMsgs(x.getCause))
      assert(rootMsgs(e).exists(_.contains("tenant isolation")), e)
      // ... unless declared tenant-agnostic BY DESIGN (the reference's
      // tenantFilter-less TableSpecs)
      spark.conf.set(graft.plans.TenantIsolationRule.ExemptKey,
        "iso2_raw.nocol")
      try assert(spark.table("iso2_raw.nocol").count() == 1)
      finally spark.conf.set(graft.plans.TenantIsolationRule.ExemptKey, "")
    } finally {
      spark.conf.set("graft.tenant.filterColumn", "")
      spark.conf.set("graft.tenant.filterValue", "")
    }
  }

  test("maintenance ops bypass isolation: compact keeps every tenant's rows") {
    val s2 = spark
    import s2.implicits._
    val df = Seq(("T1", 1L), ("T2", 2L), ("T3", 3L)).toDF("project_id", "id")
    Warehouse.load(spark, df, "isom_raw", "items", LoadMode.FullRefresh)
    spark.conf.set("graft.tenant.filterColumn", "project_id")
    spark.conf.set("graft.tenant.filterValue", "T1")
    try {
      Warehouse.compact(spark, "isom_raw", "items", 1)
      Warehouse.deleteWhere(spark, "isom_raw", "items", col("id") === 999L)
      // tenant-scoped query still sees only T1...
      assert(spark.table("isom_raw.items").count() == 1)
    } finally {
      spark.conf.set("graft.tenant.filterColumn", "")
    }
    // ...but the table still holds ALL tenants' rows
    assert(spark.table("isom_raw.items").count() == 3)
  }

  test("maintenance bypass is scoped to its thread: other threads stay filtered, overlaps unwind") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import graft.plans.TenantIsolationRule.withMaintenanceBypass
    val s2 = spark
    import s2.implicits._
    Warehouse.load(spark, Seq(("T1", 1L), ("T2", 2L), ("T3", 3L)).toDF("project_id", "id"),
      "isot_raw", "items", LoadMode.FullRefresh)
    def visible(): Long = spark.table("isot_raw.items").count()
    def await(l: CountDownLatch): Unit =
      assert(l.await(30, TimeUnit.SECONDS), "the other thread stalled")
    // run `body` on a new thread; the returned function joins it
    def fork[T](body: => T): () => T = {
      val out = new java.util.concurrent.atomic.AtomicReference[scala.util.Try[T]]()
      val t = new Thread(() => out.set(scala.util.Try(body)))
      t.start()
      () => { t.join(60000); out.get.get }
    }
    spark.conf.set("graft.tenant.filterColumn", "project_id")
    spark.conf.set("graft.tenant.filterValue", "T1")
    try {
      // thread A sits inside a bypass block while this thread analyzes a read
      val (inside, release) = (new CountDownLatch(1), new CountDownLatch(1))
      val a = fork(withMaintenanceBypass(spark) { inside.countDown(); await(release); visible() })
      await(inside)
      val read = spark.table("isot_raw.items").queryExecution.analyzed
      release.countDown()
      assert(a() == 3) // the bypassing thread itself reads every tenant
      assert(read.find(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Filter])
        .isDefined, s"a bypass on another thread switched isolation off here:\n$read")

      // overlapping blocks: A enters, B enters, A leaves, B leaves
      val (aIn, bIn, aOut) =
        (new CountDownLatch(1), new CountDownLatch(1), new CountDownLatch(1))
      val a2 = fork {
        withMaintenanceBypass(spark) { aIn.countDown(); await(bIn) }
        aOut.countDown()
        visible()
      }
      val b2 = fork {
        await(aIn)
        withMaintenanceBypass(spark) { bIn.countDown(); await(aOut) }
        visible()
      }
      assert(a2() == 1 && b2() == 1, "a thread was left bypassed")
      assert(visible() == 1)
    } finally spark.conf.set("graft.tenant.filterColumn", "")
  }

  test("numeric tenant columns work: injected literal is cast to the column type") {
    val s2 = spark
    import s2.implicits._
    val df = Seq((10L, "a"), (10L, "b"), (20L, "c")).toDF("tenant_id", "v")
    Warehouse.load(spark, df, "ison_raw", "items", LoadMode.FullRefresh)
    spark.conf.set("graft.tenant.filterColumn", "tenant_id")
    spark.conf.set("graft.tenant.filterValue", "10")
    try assert(spark.table("ison_raw.items").count() == 2)
    finally spark.conf.set("graft.tenant.filterColumn", "")
  }

  test("caching a raw table caches the FILTERED plan (no cross-tenant leak)") {
    val s2 = spark
    import s2.implicits._
    val df = Seq(("T1", 1L), ("T2", 2L)).toDF("project_id", "id")
    Warehouse.load(spark, df, "isoc_raw", "items", LoadMode.FullRefresh)
    spark.conf.set("graft.tenant.filterColumn", "project_id")
    spark.conf.set("graft.tenant.filterValue", "T1")
    try {
      val t1 = spark.table("isoc_raw.items").cache()
      assert(t1.count() == 1)
      // switching tenants must NOT serve T1's cached rows
      spark.conf.set("graft.tenant.filterValue", "T2")
      val rows = spark.table("isoc_raw.items").collect()
      assert(rows.length == 1 && rows.head.getString(0) == "T2")
      t1.unpersist()
    } finally spark.conf.set("graft.tenant.filterColumn", "")
  }

  test("extension-registered rolling_hash resolves without manual registration") {
    assert(spark.sql("SELECT rolling_hash('abc') AS h").head().getLong(0) ==
      "abc".getBytes.foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L))
  }

  test("subquery plans get the tenant filter too (IN/EXISTS/scalar — the " +
      "escape hatch the rule must close)") {
    val s2 = spark
    import s2.implicits._
    Warehouse.load(spark, Seq(("T1", 1L), ("T2", 2L)).toDF("project_id", "id"),
      "isos_raw", "users", LoadMode.FullRefresh)
    Warehouse.load(spark, Seq((1L, "a"), (2L, "b")).toDF("uid", "v"),
      "isos_mart", "facts", LoadMode.FullRefresh)
    spark.conf.set("graft.tenant.filterColumn", "project_id")
    spark.conf.set("graft.tenant.filterValue", "T1")
    try {
      // the raw scan lives INSIDE an IN-subquery: mapChildren alone never
      // reaches it (subquery plans are expressions, not operator children)
      val got = spark.sql(
        """SELECT uid FROM isos_mart.facts
          |WHERE uid IN (SELECT id FROM isos_raw.users)""".stripMargin)
        .collect().map(_.getLong(0)).sorted
      assert(got.toSeq == Seq(1L),
        s"subquery raw scan leaked other tenants' rows: ${got.toSeq}")
      // scalar subquery composes the same way
      val n = spark.sql(
        "SELECT (SELECT count(*) FROM isos_raw.users) AS n").head().getLong(0)
      assert(n == 1L, s"scalar subquery saw $n rows (want the tenant's 1)")
    } finally spark.conf.set("graft.tenant.filterColumn", "")
  }

  test("a tenant predicate hidden under OR does not count as guarded") {
    val s2 = spark
    import s2.implicits._
    Warehouse.load(spark, Seq(("T1", 1L), ("T2", 2L)).toDF("project_id", "id"),
      "isoo_raw", "users", LoadMode.FullRefresh)
    spark.conf.set("graft.tenant.filterColumn", "project_id")
    spark.conf.set("graft.tenant.filterValue", "T1")
    try {
      // `project_id = 'T1' OR true` admits every row — the rule must
      // still inject (only a top-level CONJUNCT guards)
      val got = spark.table("isoo_raw.users")
        .filter("project_id = 'T1' OR true")
        .collect().map(_.getLong(1)).sorted
      assert(got.toSeq == Seq(1L),
        s"OR-masked predicate bypassed isolation: ${got.toSeq}")
    } finally spark.conf.set("graft.tenant.filterColumn", "")
  }
}

