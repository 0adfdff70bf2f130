package graft

import org.apache.spark.sql.functions._
import graft.config.TenantConfig
import graft.ops.PipelineOps
import graft.pipeline.TenantPipeline
import graft.source.ParquetSource

/** End-to-end pipeline slice (SURVEY §7.2): fixtures → raw → staging → mart
  * with schema validation — asserting contents, not just counts.
  */
class PipelineSpec extends SparkSpec {

  test("tenant pipeline lands raw, staging and mart tables with correct content") {
    val tenant = TenantConfig.parse(PipelineOps.tenantYaml, Map.empty)
    val p = new TenantPipeline(tenant, new ParquetSource(sf),
      Seq(PipelineOps.stagingModel, PipelineOps.martModel))
    val counts = p.run(spark)

    val raw = spark.table("graft_demo_raw.item_master")
    // extractor applied the tenant filter and projection
    assert(raw.columns.toSeq == Seq("p_partkey", "p_name", "p_type", "p_brand", "p_size"))
    assert(raw.filter(col("p_brand") =!= "Brand#4").count() == 0)
    assert(counts("graft_demo_raw.item_master") == raw.count())

    val mart = spark.table("graft_demo.mart_item_master")
    assert(mart.columns.toSeq == Seq("item_id", "item_name", "item_type",
      "item_group_id", "procurement_type", "created_at", "updated_at"))
    // ::VARCHAR rewrite produced string ids; pinned timestamp honored
    assert(mart.schema("item_id").dataType.typeName == "string")
    val ts = mart.select("created_at").distinct().collect()
    assert(ts.length == 1 &&
      ts(0).getTimestamp(0) == java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
    // staging and mart agree on row count (1:1 transform)
    assert(mart.count() == spark.table("graft_demo.graft_demo__stg_item_master").count())
  }

  test("materialization report carries counts and deterministic previews") {
    val tenant = TenantConfig.parse(PipelineOps.tenantYaml, Map.empty)
    val p = new TenantPipeline(tenant, new ParquetSource(sf),
      Seq(PipelineOps.stagingModel, PipelineOps.martModel))
    p.run(spark)
    val rep = p.report(spark)
    assert(rep.contains("graft_demo_raw.item_master"))
    assert(rep.contains("graft_demo.mart_item_master"))
    val (cnt, preview) = rep("graft_demo.mart_item_master")
    assert(cnt > 0 && preview.nonEmpty && preview.size <= 5)
    assert(rep == p.report(spark)) // deterministic

    // enriched metadata: the reference MaterializeResult shape
    // (_tenant_factory.py:317-326) — num_rows, table, tenant, column
    // schema, and a markdown preview table
    val meta = p.metadata(spark)
    assert(meta.keySet == rep.keySet)
    val m = meta("graft_demo.mart_item_master")
    assert(m.tenant == "graft_demo" && m.numRows == cnt)
    assert(m.columns.map(_._1) ==
      spark.table("graft_demo.mart_item_master").columns.toSeq)
    assert(m.columns.forall(_._2.nonEmpty)) // every column carries a type
    val lines = m.previewMarkdown.linesIterator.toSeq
    assert(lines.head.startsWith("| ") && lines.head.endsWith(" |"))
    assert(lines(1).matches("""\|( ---+ \|)+"""))
    assert(lines.size == 2 + math.min(cnt, 5)) // header + sep + rows
    assert(lines.forall(_.count(_ == '|') == m.columns.size + 1))
  }

  test("two tenants produce conformed marts that union cleanly (C14/C15)") {
    // second tenant: same models, different id + tenant filter — the
    // reference's project_02 shape (one engine instance serves N tenants)
    val yaml2 = PipelineOps.tenantYaml
      .replace("id: graft_demo", "id: graft_demo2")
      .replace("Brand#4", "Brand#2")
    val t2 = TenantConfig.parse(yaml2, Map.empty)
    def retarget(m: graft.model.SqlModel) = m.copy(
      name = m.name.replace("graft_demo__", "graft_demo2__"),
      rawSql = m.rawSql.replace("graft_demo_raw", "graft_demo2_raw")
        .replace("graft_demo__", "graft_demo2__"))
    new TenantPipeline(t2, new ParquetSource(sf),
      Seq(retarget(PipelineOps.stagingModel), retarget(PipelineOps.martModel))).run(spark)
    // ensure tenant 1 exists too (other test may have run already — rerun is idempotent)
    new TenantPipeline(TenantConfig.parse(PipelineOps.tenantYaml, Map.empty),
      new ParquetSource(sf), Seq(PipelineOps.stagingModel, PipelineOps.martModel)).run(spark)

    val m1 = spark.table("graft_demo.mart_item_master")
    val m2 = spark.table("graft_demo2.mart_item_master")
    assert(m1.schema == m2.schema) // standard-schema conformance across tenants
    val unioned = m1.unionByName(m2)
    assert(unioned.count() == m1.count() + m2.count())
    assert(m2.filter(col("item_group_id") =!= "Brand#2").count() == 0)
  }

  test("environment prefixing: a LOCAL run lands in dev_{tid}, PROD in {tid}") {
    import graft.pipeline.Environment
    val tenant = TenantConfig.parse(PipelineOps.tenantYaml, Map.empty)
    val models = Seq(PipelineOps.stagingModel, PipelineOps.martModel)

    // LOCAL: every namespace — raw, staging, mart — carries the dev_ prefix,
    // and the model DAG resolves source()/ref() against the prefixed names
    val local = new TenantPipeline(tenant, new ParquetSource(sf), models,
      env = Environment.Local)
    val localCounts = local.run(spark)
    val devMart = spark.table("dev_graft_demo.mart_item_master")
    assert(devMart.count() == localCounts("dev_graft_demo.mart_item_master"))
    assert(spark.table("dev_graft_demo_raw.item_master").count() ==
      localCounts("dev_graft_demo_raw.item_master"))

    // PROD: bare names; the same tenant coexists with its dev run in one
    // warehouse (environment_helpers.py:12-16)
    val prod = new TenantPipeline(tenant, new ParquetSource(sf), models,
      env = Environment.Prod)
    prod.run(spark)
    assert(spark.table("graft_demo.mart_item_master").count() == devMart.count())
    assert(spark.catalog.databaseExists("dev_graft_demo") &&
      spark.catalog.databaseExists("graft_demo"))

    // detection contract (environment_helpers.py:4-9): branch var wins,
    // then prod deployment name, else Local
    assert(Environment.detect(Map.empty) == Environment.Local)
    assert(Environment.detect(Map("GRAFT_DEPLOYMENT_NAME" -> "prod")) ==
      Environment.Prod)
    assert(Environment.detect(Map("GRAFT_IS_BRANCH_DEPLOYMENT" -> "1",
      "GRAFT_DEPLOYMENT_NAME" -> "prod")) == Environment.Branch)
    // BRANCH shares prod schema names (isolation is catalog-level there)
    assert(Environment.Branch.schemaFor("t") == "t")
    assert(Environment.Prod.dbtTarget(Map.empty) == "prod")
    assert(Environment.Local.dbtTarget(Map("GRAFT_DBT_TARGET" -> "ci")) == "ci")
    assert(Environment.Branch.dbtTarget(Map.empty) == "dev")
  }

  test("run() reports each table's stored row count for full, incremental and append loads") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft-counts-src").toString
    def land(rows: Seq[(Long, Long, String)]): Unit =
      rows.toDF("id", "ts", "owner").write.mode("append")
        .parquet(s"$src/events.parquet")
    def table(name: String, mode: String) =
      s"""  - name: $name
         |    source_table: events
         |    primary_key: [id]
         |    columns: [id, ts, owner]
         |    tenant_filter: owner
         |    incremental_column: ts
         |    mode: $mode
         |""".stripMargin
    val tenant = TenantConfig.parse(
      s"""tenant:
         |  id: graft_counts
         |  name: "Row-count tenant"
         |  source:
         |    type: parquet
         |  params:
         |    owner: "A"
         |tables:
         |${table("ev_full", "full")}${table("ev_incr", "incremental")}${table("ev_append", "append")}""".stripMargin,
      Map.empty)
    val even = graft.model.SqlModel("graft_counts__even_events",
      """{{ config(materialized='table', schema=var('tenant_id', 'graft_counts')) }}
        |SELECT id, ts FROM {{ source('graft_counts_raw', 'ev_append') }} WHERE id % 2 = 0
        |""".stripMargin)
    val p = new TenantPipeline(tenant, new ParquetSource(src), Seq(even))
    def runAndCompare(): Map[String, Long] = {
      val counts = p.run(spark)
      assert(counts.keySet == Set("graft_counts_raw.ev_full", "graft_counts_raw.ev_incr",
        "graft_counts_raw.ev_append", "graft_counts.graft_counts__even_events"))
      counts.foreach { case (k, n) => assert(n == spark.table(k).count(), k) }
      counts
    }

    // first load: every table is created; rows of owner B are filtered out
    land((1L to 6L).map(i => (i, i * 10, if (i % 3 == 0) "B" else "A")))
    assert(runAndCompare()("graft_counts_raw.ev_append") == 4)
    // a non-empty batch: full and incremental replace, append grows
    land((7L to 10L).map(i => (i, i * 10, "A")))
    val grown = runAndCompare()
    assert(grown("graft_counts_raw.ev_append") == 8)
    assert(grown("graft_counts_raw.ev_full") == 8)
    // an empty batch: nothing newer than the watermark, the counts hold
    assert(runAndCompare() == grown)
  }

  test("a write's row count comes from its own job, or None when it never reports") {
    import scala.concurrent.duration.DurationInt
    import graft.store.Warehouse
    val df = spark.range(0, 37).toDF("id")
    val dir = java.nio.file.Files.createTempDirectory("graft-count-written").toString
    assert(Warehouse.countWritten(df)(
      _.write.mode("overwrite").parquet(s"$dir/out")).contains(37L))
    // a write that never runs the observed plan: the bounded wait gives up
    // instead of blocking the fire forever, and the caller counts itself
    val t0 = System.nanoTime()
    assert(Warehouse.countWritten(df, 200.millis)(_ => ()).isEmpty)
    assert((System.nanoTime() - t0) / 1e9 < 10)
  }

  test("mode: append without incremental_column is refused when the pipeline is built") {
    val yaml = PipelineOps.tenantYaml.replace("mode: full", "mode: append")
    val tenant = TenantConfig.parse(yaml, Map.empty)
    val ex = intercept[IllegalArgumentException] {
      new TenantPipeline(tenant, new ParquetSource(sf), Seq.empty)
    }
    assert(ex.getMessage.contains(
      "table 'item_master': mode 'append' needs an incremental_column"), ex.getMessage)
    // with the watermark column declared the same tenant builds
    val withColumn = tenant.copy(tables = tenant.tables.map(
      _.copy(incrementalColumn = Some("p_partkey"))))
    new TenantPipeline(withColumn, new ParquetSource(sf), Seq.empty)
  }

  test("asset lineage exposes tid/layer/name keys with upstream edges") {
    val tenant = TenantConfig.parse(PipelineOps.tenantYaml, Map.empty)
    val p = new TenantPipeline(tenant, new ParquetSource(sf),
      Seq(PipelineOps.stagingModel, PipelineOps.martModel))
    val lin = p.lineage
    // reference translator contract: input / staging / output layers
    assert(lin("graft_demo/input/item_master") == Seq.empty)
    assert(lin("graft_demo/staging/stg_item_master") ==
      Seq("graft_demo/input/item_master"))
    assert(lin("graft_demo/output/mart_item_master") ==
      Seq("graft_demo/staging/stg_item_master"))
  }

  test("renderAll resolves refs to qualified physical names") {
    val tenant = TenantConfig.parse(PipelineOps.tenantYaml, Map.empty)
    val p = new TenantPipeline(tenant, new ParquetSource(sf),
      Seq(PipelineOps.stagingModel, PipelineOps.martModel))
    val rendered = p.renderAll
    assert(rendered("graft_demo__mart_item_master")
      .contains("`graft_demo`.`graft_demo__stg_item_master`"))
    assert(rendered("graft_demo__stg_item_master")
      .contains("`graft_demo_raw`.`item_master`"))
    assert(rendered("graft_demo__mart_item_master").contains("CAST(p_partkey AS STRING)"))
  }
}
