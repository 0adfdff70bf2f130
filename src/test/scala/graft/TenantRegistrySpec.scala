package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import graft.config.TenantConfig
import graft.pipeline.TenantRegistry
import graft.source.ParquetSource

/** Workspace discovery + drift gate + concurrent multi-tenant run over a
  * directory of tenant.yaml files (reference sync_tenants.py:32-154).
  */
class TenantRegistrySpec extends SparkSpec {

  private def tenantYaml(tid: String, brand: String): String =
    s"""tenant:
       |  id: $tid
       |  name: "Registry tenant $tid"
       |  source:
       |    type: parquet
       |  params:
       |    p_brand: "$brand"
       |  schedule: "0 */2 * * *"
       |tables:
       |  - name: item_master
       |    source_table: part
       |    primary_key: [p_partkey]
       |    columns: [p_partkey, p_name, p_brand]
       |    tenant_filter: p_brand
       |    mode: full
       |""".stripMargin

  private def stgSql(tid: String): String =
    s"""{{ config(materialized='table', schema=var('tenant_id', '$tid')) }}
       |SELECT p_partkey, p_name, p_brand
       |FROM {{ source('${tid}_raw', 'item_master') }}
       |""".stripMargin

  private def martSql(tid: String): String =
    s"""{{ config(materialized='table', schema=var('tenant_id', '$tid'), alias='mart_items') }}
       |SELECT p_partkey::VARCHAR AS item_id, p_name::VARCHAR AS item_name,
       |       p_brand::VARCHAR AS item_group_id
       |FROM {{ ref('${tid}__stg_items') }}
       |""".stripMargin

  private def writeTenant(root: Path, tid: String, brand: String): Unit = {
    val dir = Files.createDirectories(root.resolve(tid))
    Files.writeString(dir.resolve("tenant.yaml"), tenantYaml(tid, brand))
    val models = Files.createDirectories(dir.resolve("models"))
    Files.writeString(models.resolve(s"${tid}__stg_items.sql"), stgSql(tid))
    Files.writeString(models.resolve(s"${tid}__mart_items.sql"), martSql(tid))
  }

  private def freshRoot(): Path = Files.createTempDirectory("graft-workspace")

  test("discovery finds tenants sorted, skips _/.-prefixed dirs, loads models") {
    val root = freshRoot()
    writeTenant(root, "reg_beta", "Brand#2")
    writeTenant(root, "reg_alpha", "Brand#4")
    Files.createDirectories(root.resolve("_shared"))
    Files.writeString(
      Files.createDirectories(root.resolve(".hidden")).resolve("tenant.yaml"),
      tenantYaml("hidden", "Brand#1"))
    Files.createDirectories(root.resolve("no_yaml_here"))

    val found = TenantRegistry.discover(root.toString, Map.empty)
    assert(found.map(_.dir) == Seq("reg_alpha", "reg_beta")) // sorted, filtered
    assert(found.head.tenant.id == "reg_alpha")
    assert(found.head.models.map(_.name) ==
      Seq("reg_alpha__mart_items", "reg_alpha__stg_items"))
    assert(TenantRegistry.check(found).isEmpty)
  }

  test("drift gate flags id mismatch, db collision, bad cron, unresolved ref") {
    val root = freshRoot()
    writeTenant(root, "reg_alpha", "Brand#4")
    val found = TenantRegistry.discover(root.toString, Map.empty)

    val wrongId = found.map(d => d.copy(tenant = d.tenant.copy(id = "other")))
    assert(TenantRegistry.check(wrongId).exists(_.contains("must match")))

    // a tenant literally named `reg_alpha_raw` collides with reg_alpha's
    // raw database
    val collider = found.head.copy(dir = "reg_alpha_raw",
      tenant = found.head.tenant.copy(id = "reg_alpha_raw"))
    assert(TenantRegistry.check(found :+ collider)
      .exists(_.contains("claimed by tenants")))

    val badCron = found.map(d => d.copy(tenant = d.tenant.copy(schedule = "nope")))
    assert(TenantRegistry.check(badCron).exists(_.contains("schedule")))

    val badRef = found.map(d => d.copy(models = d.models.map(m =>
      m.copy(rawSql = m.rawSql.replace("reg_alpha__stg_items", "ghost_model")))))
    assert(TenantRegistry.check(badRef).exists(_.contains("unresolved ref('ghost_model')")))
  }

  test("drift gate flags an append table without an incremental_column") {
    val root = freshRoot()
    writeTenant(root, "reg_alpha", "Brand#4")
    val found = TenantRegistry.discover(root.toString, Map.empty)
    def withTables(f: graft.config.TableSpec => graft.config.TableSpec) =
      found.map(d => d.copy(tenant = d.tenant.copy(tables = d.tenant.tables.map(f))))
    assert(TenantRegistry.check(withTables(_.copy(mode = "append"))) == Seq(
      "tenant 'reg_alpha' table 'item_master': mode 'append' needs an incremental_column"))
    assert(TenantRegistry.check(withTables(
      _.copy(mode = "append", incrementalColumn = Some("p_partkey")))).isEmpty)
  }

  test("runAll stands up N tenants from disk concurrently with db isolation") {
    val root = freshRoot()
    writeTenant(root, "reg_alpha", "Brand#4")
    writeTenant(root, "reg_beta", "Brand#2")

    val counts = TenantRegistry.runAll(spark, root.toString,
      (_: TenantConfig) => new ParquetSource(sf), env = Map.empty,
      environment = graft.pipeline.Environment.Prod)
    assert(counts.keySet == Set("reg_alpha", "reg_beta"))
    assert(counts("reg_alpha")("reg_alpha_raw.item_master") > 0)

    val a = spark.table("reg_alpha.mart_items")
    val b = spark.table("reg_beta.mart_items")
    assert(a.schema == b.schema)
    // per-tenant filter really isolated the rows
    assert(a.filter(col("item_group_id") =!= "Brand#4").count() == 0)
    assert(b.filter(col("item_group_id") =!= "Brand#2").count() == 0)
    assert(a.count() == counts("reg_alpha")("reg_alpha.mart_items"))

    // registry composes with the scheduler: one entry per scheduled tenant
    val entries = TenantRegistry.scheduleEntries(
      TenantRegistry.discover(root.toString, Map.empty),
      (_: TenantConfig) => new ParquetSource(sf),
      environment = graft.pipeline.Environment.Prod)
    assert(entries.map(_.id).sorted == Seq("reg_alpha", "reg_beta"))
    // descriptive metadata mirrors the reference's generated definitions
    // (ScheduleComponent name/target/tags, _tenant_factory.py:163-174)
    val alpha = entries.find(_.id == "reg_alpha").get
    assert(alpha.name == "reg_alpha_schedule")
    assert(alpha.target == "reg_alpha_pipeline")
    assert(alpha.tags == Map("tenant" -> "reg_alpha", "pipeline" -> "tenant"))
  }

  test("scheduler ticks a registry-discovered workspace end to end") {
    import java.time.LocalDateTime
    import graft.pipeline.ScheduleRunner
    val root = freshRoot()
    writeTenant(root, "reg_sched_a", "Brand#4")
    writeTenant(root, "reg_sched_b", "Brand#2")
    val entries = TenantRegistry.scheduleEntries(
      TenantRegistry.discover(root.toString, Map.empty),
      (_: TenantConfig) => new ParquetSource(sf),
      environment = graft.pipeline.Environment.Prod)
    val t0 = LocalDateTime.parse("2026-01-01T00:00:00")
    val runner = new ScheduleRunner(entries, startAt = t0)
    // tenant.yaml declares 0 */2 * * * → both due at 02:00, neither at 01:00
    assert(runner.tick(spark, t0.plusHours(1)).isEmpty)
    assert(runner.tick(spark, t0.plusHours(2)).sorted ==
      Seq("reg_sched_a", "reg_sched_b"))
    val a = spark.table("reg_sched_a.mart_items")
    val b = spark.table("reg_sched_b.mart_items")
    assert(a.count() > 0 && b.count() > 0)
    assert(a.filter(col("item_group_id") =!= "Brand#4").count() == 0)
    assert(b.filter(col("item_group_id") =!= "Brand#2").count() == 0)
  }

  test("runAll in a LOCAL environment lands in dev_ namespaces") {
    val root = freshRoot()
    writeTenant(root, "reg_envloc", "Brand#4")
    // pinned Local (the default is Environment.detect() over the PROCESS
    // env — the yaml-var map deliberately plays no role in detection)
    val counts = TenantRegistry.runAll(spark, root.toString,
      (_: TenantConfig) => new ParquetSource(sf), env = Map.empty,
      environment = graft.pipeline.Environment.Local)
    assert(counts("reg_envloc")("dev_reg_envloc_raw.item_master") > 0)
    assert(spark.table("dev_reg_envloc.mart_items").count() ==
      counts("reg_envloc")("dev_reg_envloc.mart_items"))
    assert(spark.table("dev_reg_envloc_raw.item_master").count() > 0)
    // the bare prod namespace was never touched by the dev run
    assert(!spark.catalog.databaseExists("reg_envloc"))
  }

  test("runAll refuses a drifted workspace") {
    val root = freshRoot()
    writeTenant(root, "reg_alpha", "Brand#4")
    // directory renamed without updating the yaml id → drift
    Files.move(root.resolve("reg_alpha"), root.resolve("reg_gamma"))
    val ex = intercept[IllegalArgumentException] {
      TenantRegistry.runAll(spark, root.toString,
        (_: TenantConfig) => new ParquetSource(sf), env = Map.empty)
    }
    assert(ex.getMessage.contains("workspace drift"))
  }
}
