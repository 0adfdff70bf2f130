package graft

import org.apache.spark.sql.functions._
import graft.config.{TableSpec, TenantConfig, SourceConfig}
import graft.extract.Extractor
import graft.source.JdbcSource
import graft.std.ProductSchema
import graft.store.{LoadMode, Warehouse}
import graft.StagedSwapSpec.crashAfter

class ExtractWarehouseSpec extends SparkSpec {
  import spark.implicits._

  private val spec = TableSpec("item", "", "part",
    primaryKey = Seq("p_partkey"),
    columns = Seq("p_partkey", "p_brand", "p_size"),
    tenantFilter = Some("p_brand"),
    incrementalColumn = Some("p_partkey"),
    mode = "full")
  private val tenant = TenantConfig.parse(ops.PipelineOps.tenantYaml, Map.empty)
    .copy(params = Map("p_brand" -> "Brand#4"))

  test("extractor composes projection + tenant filter + watermark + limit (base.py:55-79)") {
    val part = Tables.t(spark, sf, "part")
    val out = Extractor.extract(part, spec, tenant, lastValue = Some(50L), rowLimit = Some(5))
    assert(out.columns.toSeq == Seq("p_partkey", "p_brand", "p_size"))
    val rows = out.collect()
    assert(rows.length <= 5)
    assert(rows.forall(r => r.getAs[String]("p_brand") == "Brand#4"))
    assert(rows.forall(r => r.getAs[Long]("p_partkey") > 50L)) // strict >
    // watermark fires only when both column AND last value present (§2.A)
    val noWm = Extractor.extract(part, spec, tenant)
    assert(noWm.filter($"p_partkey" <= 50).count() > 0)
  }

  test("empty result preserves typed schema (divergence from base.py:86-89)") {
    val out = Extractor.extract(Tables.t(spark, sf, "part"), spec,
      tenant.copy(params = Map("p_brand" -> "NoSuchBrand")))
    assert(out.count() == 0)
    assert(out.schema("p_partkey").dataType.typeName == "long") // not degraded to string
  }

  test("jdbc url construction per connector type (postgresql/mysql/oracle.py)") {
    def src(t: String, sn: Option[String] = None, sid: Option[String] = None) =
      new JdbcSource(SourceConfig(t, "h", "5432", "db", "u", "p", sn, sid))
    assert(src("postgresql").connectionUrl == "jdbc:postgresql://h:5432/db")
    assert(src("mysql").connectionUrl == "jdbc:mysql://h:5432/db")
    assert(src("oracle", sn = Some("svc")).connectionUrl == "jdbc:oracle:thin:@//h:5432/svc")
    assert(src("oracle", sid = Some("XE")).connectionUrl == "jdbc:oracle:thin:@h:5432:XE")
    assert(src("oracle").connectionUrl == "jdbc:oracle:thin:@//h:5432/db")
    assertThrows[IllegalArgumentException](src("mssql").connectionUrl)
  }

  test("load modes: full refresh absorbs drift, snapshot replace keeps identity, drift fails loudly") {
    val db = "wh_test"
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    Warehouse.load(spark, v1, db, "t1", LoadMode.FullRefresh)
    assert(spark.table(s"$db.t1").count() == 2)

    // A9: replace rows, keep identity
    val v2 = Seq((3L, "c")).toDF("id", "name")
    Warehouse.load(spark, v2, db, "t1", LoadMode.SnapshotReplace)
    assert(spark.table(s"$db.t1").as[(Long, String)].collect().toSeq == Seq((3L, "c")))

    // drift under snapshot-replace errors (reference breaks silently; we fail loudly)
    val drifted = Seq((4L, "d", true)).toDF("id", "name", "extra")
    assertThrows[IllegalArgumentException](
      Warehouse.load(spark, drifted, db, "t1", LoadMode.SnapshotReplace))

    // A8 absorbs the same drift
    Warehouse.load(spark, drifted, db, "t1", LoadMode.FullRefresh)
    assert(spark.table(s"$db.t1").columns.toSeq == Seq("id", "name", "extra"))
  }

  test("watermark append: only strictly newer rows land; snapshot equals full on same input") {
    val db = "wh_test"
    val day1 = Seq((1L, 10L), (2L, 20L)).toDF("id", "updated")
    Warehouse.load(spark, day1, db, "t2", LoadMode.WatermarkAppend)
    val wm = Warehouse.currentWatermark(spark, db, "t2", "updated")
    assert(wm.contains(20L))
    val day2all = Seq((2L, 20L), (3L, 30L)).toDF("id", "updated")
    val newer = Extractor.watermark(day2all, Some("updated"), wm)
    Warehouse.load(spark, newer, db, "t2", LoadMode.WatermarkAppend)
    assert(spark.table(s"$db.t2").count() == 3) // no duplicate of id=2

    // property: snapshot-replace and full-refresh of identical input give equal content
    val input = Seq((9L, 90L), (8L, 80L)).toDF("id", "updated")
    Warehouse.load(spark, input, db, "t3a", LoadMode.FullRefresh)
    Warehouse.load(spark, input, db, "t3b", LoadMode.SnapshotReplace)
    assert(spark.table(s"$db.t3a").orderBy("id").collect().toSeq
      == spark.table(s"$db.t3b").orderBy("id").collect().toSeq)
  }

  test("deleteWhere: anti-filter temp-swap removes matching rows only (C18)") {
    val db = "wh_test"
    val df = Seq((1L, "V1.0"), (2L, "V2.0"), (3L, "V1.0")).toDF("id", "plan_ver")
    Warehouse.load(spark, df, db, "t4", LoadMode.FullRefresh)
    Warehouse.deleteWhere(spark, db, "t4", col("plan_ver") === "V1.0")
    assert(spark.table(s"$db.t4").as[(Long, String)].collect().toSeq == Seq((2L, "V2.0")))
    assert(!spark.catalog.tableExists(s"$db.${Warehouse.swapTmp("t4")}"))
  }

  test("compaction reduces file count without changing content; analyze records stats") {
    val db = "wh_test"
    val df = Tables.t(spark, sf, "orders").repartition(16)
    Warehouse.load(spark, df, db, "t_frag", LoadMode.FullRefresh)
    def files(t: String): Int =
      spark.table(s"$db.$t").inputFiles.length
    val before = files("t_frag")
    val content = spark.table(s"$db.t_frag").orderBy("o_orderkey").collect()
    Warehouse.compact(spark, db, "t_frag", 2)
    assert(files("t_frag") <= 2 && files("t_frag") < before)
    assert(spark.table(s"$db.t_frag").orderBy("o_orderkey").collect()
      .toSeq == content.toSeq)
    assert(!spark.catalog.tableExists(s"$db.${Warehouse.swapTmp("t_frag")}"))

    // compaction and delete-rewrite preserve partition layout
    val mart = Tables.t(spark, sf, "orders")
      .withColumn("plan_ver",
        when(col("o_orderkey") % 2 === 0, "V1.0").otherwise("V2.0"))
    Warehouse.saveModel(mart, db, "t_playout", partitionCols = Seq("plan_ver"))
    Warehouse.compact(spark, db, "t_playout", 1)
    val metaAfter = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("t_playout", Some(db)))
    assert(metaAfter.partitionColumnNames == Seq("plan_ver"))
    val pruned = spark.table(s"$db.t_playout").filter(col("plan_ver") === "V1.0")
      .queryExecution.executedPlan.toString
    assert(pruned.contains("PartitionFilters"), pruned.take(400))

    Warehouse.analyze(spark, db, "t_frag", Seq("o_orderkey"))
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("t_frag", Some(db)))
    assert(meta.stats.exists(_.rowCount.exists(_.longValue == content.length)))
  }

  test("partitioned mart write enables partition pruning on the filter scan") {
    val db = "wh_test"
    val mart = Tables.t(spark, sf, "orders")
      .withColumn("plan_ver",
        when(col("o_orderkey") % 2 === 0, "V1.0").otherwise("V2.0"))
    Warehouse.saveModel(mart, db, "mart_part", partitionCols = Seq("plan_ver"))
    val q = spark.table(s"$db.mart_part").filter(col("plan_ver") === "V1.0")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("plan_ver"),
      scan.take(600))
    // the pruned read returns exactly the partition's rows
    assert(q.count() == mart.filter(col("plan_ver") === "V1.0").count())
  }

  test("deleteWhere keeps NULL-predicate rows (SQL DELETE semantics)") {
    val db = "wh_test"
    val df = Seq((1L, Some("V1.0")), (2L, None), (3L, Some("V2.0")))
      .toDF("id", "plan_ver")
    Warehouse.load(spark, df, db, "t_null", LoadMode.FullRefresh)
    Warehouse.deleteWhere(spark, db, "t_null", col("plan_ver") === "V1.0")
    // id=2 has NULL predicate: a real DELETE WHERE retains it
    assert(spark.table(s"$db.t_null").select("id").as[Long].collect().sorted
      .toSeq == Seq(2L, 3L))
  }

  test("snapshot replace rejects type drift even with matching names") {
    val db = "wh_test"
    Warehouse.load(spark, Seq((1L, "a")).toDF("id", "v"), db, "t_drift",
      LoadMode.FullRefresh)
    val retyped = Seq(("1", "a")).toDF("id", "v") // id: string now
    assertThrows[IllegalArgumentException](
      Warehouse.load(spark, retyped, db, "t_drift", LoadMode.SnapshotReplace))
  }

  test("tenant config accepts the append (watermark) mode") {
    val yaml = ops.PipelineOps.tenantYaml.replace("mode: full", "mode: append")
    val cfg = graft.config.TenantConfig.parse(yaml, Map.empty)
    assert(graft.store.LoadMode.parse(cfg.tables.head.mode)
      == graft.store.LoadMode.WatermarkAppend)
  }

  test("deterministic preview orders by key (A15 upgrade over trino.py:55-71)") {
    val db = "wh_test"
    Warehouse.load(spark, Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("id", "v"),
      db, "t5", LoadMode.FullRefresh)
    val p = Warehouse.preview(spark, db, "t5", Seq("id"), 2).collect()
    assert(p.map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("bucketed tables join with no shuffle exchange (co-located join)") {
    val db = "wh_test"
    Warehouse.ensureDatabase(spark, db)
    val orders = Tables.t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    val items = Tables.t(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    Warehouse.saveBucketed(orders, db, "orders_b", Seq("o_orderkey"), 4)
    Warehouse.saveBucketed(items.withColumnRenamed("l_orderkey", "o_orderkey"),
      db, "items_b", Seq("o_orderkey"), 4)
    // disable auto-broadcast so the plan exercises the large-table path the
    // bucketing exists for (broadcast would hide the shuffle question)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table(s"$db.orders_b").join(spark.table(s"$db.items_b"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n${plan.take(1200)}")
      assert(plan.contains("Bucketed: true"), plan.take(1200))
      assert(joined.count() == items.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("mergeUpsert: latest wins per key, batch wins ties, drift rejected, idempotent") {
    import graft.store.{LoadMode, Warehouse}
    val (db, table) = ("graft_merge_ut", "kv")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`$table`")
    val base = Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 2L))
      .toDF("k", "val", "v")
    Warehouse.load(spark, base, db, table, LoadMode.FullRefresh)
    // update k=1 (newer), stale update k=3 (older — must lose),
    // tie on k=2 (batch must win), insert k=4
    val batch = Seq((1L, "a2", 2L), (3L, "stale", 1L), (2L, "b2", 1L),
      (4L, "d", 1L)).toDF("k", "val", "v")
    Warehouse.mergeUpsert(spark, batch, db, table, Seq("k"), "v")
    def state() = spark.table(s"`$db`.`$table`").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val after = state()
    assert(after == Seq((1L, "a2", 2L), (2L, "b2", 1L), (3L, "c", 2L),
      (4L, "d", 1L)))
    // replaying the same batch is a no-op (at-least-once delivery safety)
    Warehouse.mergeUpsert(spark, batch, db, table, Seq("k"), "v")
    assert(state() == after)
    // schema drift fails loudly, table untouched
    val drifted = Seq((5, "x", 1L)).toDF("k", "val", "v") // k is INT not BIGINT
    assertThrows[IllegalArgumentException](
      Warehouse.mergeUpsert(spark, drifted, db, table, Seq("k"), "v"))
    assert(state() == after)
  }

  test("partition-scoped merge rewrites ONLY touched partitions (file-level)") {
    val (db, table) = ("graft_merge_ps", "kv_part")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`$table`")
    val base = Seq(
      (1L, "a", 1L, "p1"), (2L, "b", 1L, "p1"),
      (3L, "c", 1L, "p2"), (4L, "d", 1L, "p2"),
      (5L, "e", 1L, "p3")).toDF("k", "val", "v", "pk")
    Warehouse.saveModel(base, db, table, Seq("pk"))
    def filesOf(pk: String): Map[String, Long] = {
      val loc = new java.net.URI(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db)))
        .location.toString).getPath
      new java.io.File(s"$loc/pk=$pk").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val p1Before = filesOf("p1")
    val p3Before = filesOf("p3")
    // batch touches ONLY p2: newer update k=3, version-tie k=4 (batch must
    // win), insert k=6
    val batch = Seq((3L, "c2", 2L), (4L, "d2", 1L), (6L, "f", 1L))
      .toDF("k", "val", "v").withColumn("pk", lit("p2"))
    Warehouse.mergeUpsert(spark, batch, db, table, Seq("k"), "v")
    assert(filesOf("p1") == p1Before, "untouched partition p1 was rewritten")
    assert(filesOf("p3") == p3Before, "untouched partition p3 was rewritten")
    def state() = spark.table(s"`$db`.`$table`").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSeq
    val after = Seq((1L, "a", 1L, "p1"), (2L, "b", 1L, "p1"),
      (3L, "c2", 2L, "p2"), (4L, "d2", 1L, "p2"), (5L, "e", 1L, "p3"),
      (6L, "f", 1L, "p2"))
    assert(state() == after)
    // replay is a no-op on content AND still never touches p1/p3
    Warehouse.mergeUpsert(spark, batch, db, table, Seq("k"), "v")
    assert(state() == after)
    assert(filesOf("p1") == p1Before)
    assert(filesOf("p3") == p3Before)
    // NULL partition value fails loudly, table untouched
    val nullPk = Seq((9L, "z", 1L)).toDF("k", "val", "v")
      .withColumn("pk", lit(null: String))
    assertThrows[IllegalArgumentException](
      Warehouse.mergeUpsert(spark, nullPk, db, table, Seq("k"), "v"))
    assert(state() == after)
  }

  test("partition-scoped delete rewrites only partitions containing matches") {
    val (db, table) = ("graft_del_ps", "kv_part")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`$table`")
    val base = Seq(
      (1L, "a", "p1"), (2L, "b", "p1"),
      (3L, "c", "p2"), (4L, "d", "p2"),
      (5L, "e", "p3")).toDF("k", "val", "pk")
    Warehouse.saveModel(base, db, table, Seq("pk"))
    def filesOf(pk: String): Map[String, Long] = {
      val loc = new java.net.URI(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db)))
        .location.toString).getPath
      Option(new java.io.File(s"$loc/pk=$pk").listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    def state() = spark.table(s"`$db`.`$table`").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val p1Before = filesOf("p1")
    val p3Before = filesOf("p3")
    // a no-match delete rewrites NOTHING
    val p2Before = filesOf("p2")
    Warehouse.deleteWhere(spark, db, table, $"k" === 99L)
    assert(filesOf("p1") == p1Before && filesOf("p2") == p2Before &&
      filesOf("p3") == p3Before, "no-match delete rewrote files")
    // matches only in p2: p1/p3 files untouched
    Warehouse.deleteWhere(spark, db, table, $"k" === 3L)
    assert(filesOf("p1") == p1Before, "untouched partition p1 was rewritten")
    assert(filesOf("p3") == p3Before, "untouched partition p3 was rewritten")
    assert(state() == Seq((1L, "a", "p1"), (2L, "b", "p1"),
      (4L, "d", "p2"), (5L, "e", "p3")))
    // a fully-emptied partition actually disappears (drop+append — dynamic
    // overwrite could not clear it)
    Warehouse.deleteWhere(spark, db, table, $"pk" === "p3")
    assert(filesOf("p1") == p1Before)
    assert(state() == Seq((1L, "a", "p1"), (2L, "b", "p1"), (4L, "d", "p2")))
    assert(spark.table(s"`$db`.`$table`")
      .filter($"pk" === "p3").count() == 0)
  }

  test("recover completes a crashed partition swap from the surviving tmp") {
    val (db, table) = ("graft_rec", "kv_part")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`$table`")
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`${Warehouse.swapTmp(table)}`")
    Warehouse.saveModel(Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"))
      .toDF("k", "val", "pk"), db, table, Seq("pk"))
    def state() = spark.table(s"`$db`.`$table`").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    def swap(rows: Seq[(Long, String, String)]): Unit =
      Warehouse.replacePartitions(spark, db, table, Seq("pk"),
        rows.toDF("k", "val", "pk"))
    // crash BETWEEN drop and append: tmp holds the replacement, p2 already
    // dropped — the worst point in the window
    crashAfter("dropped")(swap(Seq((3L, "c2", "p2"), (4L, "d", "p2"))))
    assert(Warehouse.recover(spark, db, table))
    assert(state() == Seq((1L, "a", "p1"), (2L, "b", "p1"),
      (3L, "c2", "p2"), (4L, "d", "p2")))
    // after a completed recovery (tmp gone) it is a no-op
    assert(!Warehouse.recover(spark, db, table))
    assert(state() == Seq((1L, "a", "p1"), (2L, "b", "p1"),
      (3L, "c2", "p2"), (4L, "d", "p2")))
    // crash BEFORE the drop: tmp written and stamped, target still intact —
    // recovery performs the whole swap (old p2 rows replaced, not duplicated)
    crashAfter("stamped")(swap(Seq((3L, "c3", "p2"))))
    assert(Warehouse.recover(spark, db, table))
    assert(state() == Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c3", "p2")))
    assert(!Warehouse.recover(spark, db, table))
  }

  test("merge retry after a crashed partition swap auto-recovers — no row loss") {
    // the at-least-once hazard: a retry that proceeded without recovery
    // would recompute its replacement from the PARTIAL table (p2 dropped)
    // and overwrite the tmp — permanently losing row 4
    val (db, table) = ("graft_retry", "kv_part")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`$table`")
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`${Warehouse.swapTmp(table)}`")
    Warehouse.saveModel(Seq(
      (1L, "a", 1L, "p1"), (2L, "b", 1L, "p1"),
      (3L, "c", 1L, "p2"), (4L, "d", 1L, "p2")).toDF("k", "val", "v", "pk"),
      db, table, Seq("pk"))
    val batch = Seq((3L, "c2", 2L, "p2")).toDF("k", "val", "v", "pk")
    // the first attempt crashes at the worst point: tmp holds the
    // complete merged p2 slice, p2 already dropped from the target
    crashAfter("dropped")(
      Warehouse.mergeUpsert(spark, batch, db, table, Seq("k"), "v"))
    assert(spark.table(s"`$db`.`$table`").filter($"pk" === "p2").isEmpty)
    // the scheduler re-runs the merge (same batch — at-least-once replay)
    Warehouse.mergeUpsert(spark, batch, db, table, Seq("k"), "v")
    val got = spark.table(s"`$db`.`$table`").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSeq
    assert(got == Seq((1L, "a", 1L, "p1"), (2L, "b", 1L, "p1"),
      (3L, "c2", 2L, "p2"), (4L, "d", 1L, "p2")))
    assert(!spark.catalog.tableExists(s"$db.${Warehouse.swapTmp(table)}"))
  }

  test("delete retry after a crashed full-table swap auto-recovers the target") {
    // unpartitioned path: rewriteVia's overwrite drops the old table first,
    // so a crash mid-swap can leave the tmp as the ONLY copy — simulate the
    // worst point (target gone, tmp complete), then retry the delete
    val (db, table) = ("graft_retry", "kv_flat")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`$table`")
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`${Warehouse.swapTmp(table)}`")
    Warehouse.saveModel(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("k", "val"), db, table)
    // crashed delete of k=3: tmp holds the complete post-delete state
    crashAfter("dropped")(Warehouse.deleteWhere(spark, db, table, $"k" === 3L))
    assert(!spark.catalog.tableExists(s"$db.$table"))
    Warehouse.deleteWhere(spark, db, table, $"k" === 3L)
    val got = spark.table(s"`$db`.`$table`").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (4L, "d")))
    assert(!spark.catalog.tableExists(s"$db.${Warehouse.swapTmp(table)}"))
    // and a recovery with no surviving tmp is a no-op
    assert(!Warehouse.recover(spark, db, table))
  }

  test("partition-scoped merge equals the full-rewrite merge on the same data") {
    // the LAYOUT decides the write path; the CONTENT contract must not
    // notice — same base + same batch through a partitioned and an
    // unpartitioned table end in identical rows
    val db = "graft_merge_eq"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`part_t`")
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`flat_t`")
    val base = Seq(
      (1L, "a", 1L, "p1"), (2L, "b", 1L, "p1"),
      (3L, "c", 1L, "p2"), (4L, "d", 2L, "p2"),
      (5L, "e", 1L, "p3")).toDF("k", "val", "v", "pk")
    Warehouse.saveModel(base, db, "part_t", Seq("pk"))
    Warehouse.saveModel(base, db, "flat_t")
    val batch = Seq((3L, "c2", 2L, "p2"), (4L, "stale", 1L, "p2"),
      (6L, "f", 1L, "p1"), (2L, "b2", 1L, "p1"))
      .toDF("k", "val", "v", "pk")
    // partitioned table's catalog order puts pk last
    val partOrder = spark.table(s"`$db`.`part_t`").columns
    Warehouse.mergeUpsert(spark, batch.select(partOrder.map(col).toIndexedSeq: _*),
      db, "part_t", Seq("k"), "v")
    Warehouse.mergeUpsert(spark, batch, db, "flat_t", Seq("k"), "v")
    def rows(t: String) = spark.table(s"`$db`.`$t`")
      .select("k", "val", "v", "pk").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(rows("part_t") == rows("flat_t"))
    assert(rows("part_t") == Seq((1L, "a", 1L, "p1"), (2L, "b2", 1L, "p1"),
      (3L, "c2", 2L, "p2"), (4L, "d", 2L, "p2"), (5L, "e", 1L, "p3"),
      (6L, "f", 1L, "p1")))
  }

  test("intra-batch (key, version) ties resolve by content, not row order") {
    val (db, table) = ("graft_merge_tie", "kv")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    def winnerOf(rows: Seq[(Long, String, Long)]): String = {
      spark.sql(s"DROP TABLE IF EXISTS `$db`.`$table`")
      Warehouse.load(spark, Seq((0L, "seed", 0L)).toDF("k", "val", "v"),
        db, table, LoadMode.FullRefresh)
      Warehouse.mergeUpsert(spark, rows.toDF("k", "val", "v")
        // skew the physical row order so a layout-dependent resolution
        // would flip winners between the two calls
        .repartition(4), db, table, Seq("k"), "v")
      spark.table(s"`$db`.`$table`").filter($"k" === 7L)
        .head.getString(1)
    }
    val dup = Seq((7L, "x", 5L), (7L, "y", 5L))
    val w1 = winnerOf(dup)
    val w2 = winnerOf(dup.reverse)
    assert(w1 == w2, s"tie winner depends on batch row order: $w1 vs $w2")
  }

  test("product schema validator flags both name and type mismatches (C15)") {
    val good = Seq(("1", "n", "t", "g", "p",
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .toDF("item_id", "item_name", "item_type", "item_group_id",
        "procurement_type", "created_at", "updated_at")
    assert(ProductSchema.validate(good, ProductSchema.martItemMaster).isEmpty)
    val renamed = good.withColumnRenamed("item_name", "name")
    assert(ProductSchema.validate(renamed, ProductSchema.martItemMaster).nonEmpty)
    val retyped = good.withColumn("item_id", lit(1L))
    assert(ProductSchema.validate(retyped, ProductSchema.martItemMaster)
      .exists(_.contains("item_id")))
    assertThrows[IllegalArgumentException](
      ProductSchema.requireConformant(renamed, ProductSchema.martItemMaster))
  }

  test("crash recovery preserves user TBLPROPERTIES through the full-table " +
      "swap (generation stamps, bucket moduli)") {
    val (db, table) = ("graft_props", "kv_props")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`$table`")
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`${Warehouse.swapTmp(table)}`")
    Warehouse.saveModel(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), db, table)
    spark.sql(s"ALTER TABLE `$db`.`$table` SET TBLPROPERTIES (" +
      "'graft.test.generation'='7', 'graft.test.modulus'='64')")
    def propsOf: Map[String, String] =
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db)))
        .properties.filter(_._1.startsWith("graft.test."))
    // the normal rewrite keeps them (pre-existing contract)
    Warehouse.rewriteVia(spark, db, table)(identity)
    assert(propsOf == Map("graft.test.generation" -> "7",
      "graft.test.modulus" -> "64"))
    // WORST crash point: target dropped, the props-stamped tmp is the
    // ONLY copy (the swap stamps props on the tmp with its manifest) —
    // recovery must restore data AND properties
    crashAfter("dropped")(Warehouse.rewriteVia(spark, db, table)(identity))
    assert(!spark.catalog.tableExists(s"$db.$table"))
    assert(Warehouse.recover(spark, db, table))
    assert(propsOf == Map("graft.test.generation" -> "7",
      "graft.test.modulus" -> "64"),
      "recovery from the tmp-only state must restore the stamps")
    // PRE-STAMP window: tmp exists WITHOUT props or manifest, target still
    // intact — recovery discards the tmp and the target keeps its props
    crashAfter("written")(Warehouse.rewriteVia(spark, db, table)(identity))
    assert(spark.catalog.tableExists(s"$db.${Warehouse.swapTmp(table)}"))
    assert(Warehouse.recover(spark, db, table))
    assert(propsOf == Map("graft.test.generation" -> "7",
      "graft.test.modulus" -> "64"),
      "recovery in the pre-stamp window must keep the target's stamps")
    assert(!spark.catalog.tableExists(s"$db.${Warehouse.swapTmp(table)}"))
  }

  test("backfill heals a crashed partition swap at entry — a later " +
      "auto-recovery can no longer regress the backfilled range") {
    import java.time.LocalDate
    import graft.pipeline.{PartitionGrain, PartitionedMaterializer}
    val (db, table) = ("graft_bf_heal", "orders_m")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`$table`")
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`${Warehouse.swapTmp(table)}`")
    def src(feb: String) = Seq(
      (1L, "jan", java.sql.Timestamp.valueOf("1996-01-10 00:00:00")),
      (2L, feb, java.sql.Timestamp.valueOf("1996-02-15 00:00:00")),
      (3L, "mar", java.sql.Timestamp.valueOf("1996-03-20 00:00:00")))
      .toDF("k", "v", "ts")
    PartitionedMaterializer.backfill(spark, src("feb_v1"), "ts",
      PartitionGrain.Monthly, db, table,
      LocalDate.of(1996, 1, 1), LocalDate.of(1996, 4, 1))
    // a swap crashed inside its drop+append window: the surviving tmp
    // holds a STALE copy of the Feb partition
    crashAfter("dropped")(Warehouse.replacePartitions(spark, db, table,
      Seq("part_key"),
      spark.table(s"`$db`.`$table`").filter($"part_key" === "1996-02")))
    // a corrective backfill of Feb with FRESH data must heal the tmp
    // FIRST — otherwise the stale slice survives and a later entry
    // point's auto-recovery would re-apply it OVER the fresh rewrite
    PartitionedMaterializer.backfill(spark, src("feb_v2"), "ts",
      PartitionGrain.Monthly, db, table,
      LocalDate.of(1996, 2, 1), LocalDate.of(1996, 3, 1))
    assert(!spark.catalog.tableExists(s"$db.${Warehouse.swapTmp(table)}"),
      "backfill must consume the surviving tmp before rewriting")
    assert(!Warehouse.recover(spark, db, table),
      "no tmp may remain for a later entry point to re-apply")
    val feb = spark.table(s"`$db`.`$table`")
      .filter($"part_key" === "1996-02").select("v").collect().map(_.getString(0))
    assert(feb.toSeq == Seq("feb_v2"), feb.toSeq)
  }

  test("appendPartitioned refuses NULL event times loudly (the sibling " +
      "partition-path contract, not a silent filter)") {
    import graft.pipeline.{PartitionGrain, PartitionedMaterializer}
    val (db, table) = ("graft_bf_heal", "evts_null")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`$table`")
    val bad = Seq(
      (1L, java.sql.Timestamp.valueOf("1996-01-10 00:00:00")),
      (2L, null.asInstanceOf[java.sql.Timestamp])).toDF("k", "ts")
    val e = intercept[IllegalArgumentException] {
      PartitionedMaterializer.appendPartitioned(bad, "ts",
        PartitionGrain.Daily, db, table)
    }
    assert(e.getMessage.contains("NULL"), e.getMessage)
    assert(!spark.catalog.tableExists(s"$db.$table"),
      "a refused batch must not half-create the table")
  }
}

