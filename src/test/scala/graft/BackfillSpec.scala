package graft

import java.time.LocalDate
import org.apache.spark.sql.functions._
import graft.pipeline.{PartitionGrain, PartitionedMaterializer}
import graft.store.Warehouse

/** Partitioned materialization + ranged backfill (reference partition
  * definitions and single_run policy, executable_component.py:19-41):
  * ranged write-set, subset replacement under dynamic overwrite, and
  * partition pruning on reads.
  */
class BackfillSpec extends SparkSpec {

  private val db = "graft_backfill_spec"

  test("grain keys: ranged write sets and key derivation") {
    assert(PartitionGrain.Daily.keys(
      LocalDate.of(1996, 1, 30), LocalDate.of(1996, 2, 2)) ==
      Seq("1996-01-30", "1996-01-31", "1996-02-01"))
    assert(PartitionGrain.Monthly.keys(
      LocalDate.of(1995, 11, 1), LocalDate.of(1996, 2, 1)) ==
      Seq("1995-11", "1995-12", "1996-01"))
    assert(PartitionGrain.parse("daily") == PartitionGrain.Daily)
    intercept[IllegalArgumentException](PartitionGrain.parse("hourly"))
  }

  test("single ranged run materializes every partition; re-run replaces a subset only") {
    val src = Tables.t(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val keys = PartitionedMaterializer.backfill(spark, src, "o_orderdate",
      PartitionGrain.Monthly, db, "om",
      LocalDate.of(1996, 1, 1), LocalDate.of(1996, 4, 1))
    assert(keys == Seq("1996-01", "1996-02", "1996-03"))

    val tbl = s"`$db`.`om`"
    val before = spark.table(tbl).groupBy("part_key")
      .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(before.keySet == Set("1996-01", "1996-02", "1996-03"))

    // re-backfill ONLY February from a modified source: that partition must
    // change; January and March must be byte-for-byte untouched
    PartitionedMaterializer.backfill(spark,
      src.withColumn("o_totalprice", col("o_totalprice") * 2),
      "o_orderdate", PartitionGrain.Monthly, db, "om",
      LocalDate.of(1996, 2, 1), LocalDate.of(1996, 3, 1))
    val after = spark.table(tbl).groupBy("part_key")
      .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(after.keySet == before.keySet)
    assert(after("1996-01") == before("1996-01"))
    assert(after("1996-03") == before("1996-03"))
    assert(after("1996-02")._1 == before("1996-02")._1) // replaced, not doubled
    assert(after("1996-02")._2 == before("1996-02")._2 * 2)
  }

  test("non-aligned monthly range is refused (would clobber whole partitions)") {
    val src = Tables.t(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderdate")
    val ex = intercept[IllegalArgumentException] {
      PartitionedMaterializer.backfill(spark, src, "o_orderdate",
        PartitionGrain.Monthly, db, "om_bad",
        LocalDate.of(1996, 1, 15), LocalDate.of(1996, 2, 1))
    }
    assert(ex.getMessage.contains("not aligned"))
  }

  test("grain evolution daily->monthly: bounded rewrite, untouched files, no-op re-run") {
    val src = Tables.t(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    PartitionedMaterializer.backfill(spark, src, "o_orderdate",
      PartitionGrain.Daily, db, "ev",
      LocalDate.of(1996, 1, 1), LocalDate.of(1996, 3, 1))
    val tbl = s"`$db`.`ev`"
    def filesOf(pk: String): Map[String, Long] = {
      val loc = new java.net.URI(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("ev", Some(db)))
        .location.toString).getPath
      Option(new java.io.File(s"$loc/part_key=$pk").listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    def rows() = spark.table(tbl)
      .select("o_orderkey", "part_key").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
    val before = rows()
    val janDayFiles = filesOf("1996-01-15")
    assert(janDayFiles.nonEmpty)

    // evolve ONLY February to monthly grain
    val newKeys = PartitionedMaterializer.evolveGrain(spark, db, "ev",
      "o_orderdate", PartitionGrain.Daily, PartitionGrain.Monthly,
      LocalDate.of(1996, 2, 1), LocalDate.of(1996, 3, 1))
    assert(newKeys == Seq("1996-02"))
    // February collapsed to one monthly partition; January kept its days
    val parts = spark.table(tbl).select("part_key").distinct()
      .collect().map(_.getString(0)).toSet
    assert(parts.filter(_.startsWith("1996-02")) == Set("1996-02"))
    assert(parts.count(_.startsWith("1996-01")) > 1, "January grain changed")
    // every row survived; February rows re-keyed, the rest bit-identical
    val after = rows()
    assert(after.map(_._1) == before.map(_._1), "row set changed")
    assert(after.filter(_._2.startsWith("1996-02")).forall(_._2 == "1996-02"))
    assert(after.filterNot(_._2.startsWith("1996-02")) ==
      before.filterNot(_._2.startsWith("1996-02")))
    // out-of-range partitions: FILES untouched, not just content
    assert(filesOf("1996-01-15") == janDayFiles,
      "untouched January partition was rewritten")
    // re-running the same evolve is a no-op (old-grain keys are gone)
    val febFiles = filesOf("1996-02")
    PartitionedMaterializer.evolveGrain(spark, db, "ev",
      "o_orderdate", PartitionGrain.Daily, PartitionGrain.Monthly,
      LocalDate.of(1996, 2, 1), LocalDate.of(1996, 3, 1))
    assert(rows() == after)
    assert(filesOf("1996-02") == febFiles, "no-op re-run rewrote the range")
    // the evolve tmp never survives a successful run
    assert(!spark.catalog.tableExists(
      s"$db.${Warehouse.swapTmp("ev")}"))
    // a mid-month range is refused loudly
    val ex = intercept[IllegalArgumentException] {
      PartitionedMaterializer.evolveGrain(spark, db, "ev", "o_orderdate",
        PartitionGrain.Daily, PartitionGrain.Monthly,
        LocalDate.of(1996, 1, 15), LocalDate.of(1996, 2, 1))
    }
    assert(ex.getMessage.contains("not aligned"))
  }

  test("evolve crash recovery: manifest replay completes, no-manifest discards") {
    val src = Tables.t(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    PartitionedMaterializer.backfill(spark, src, "o_orderdate",
      PartitionGrain.Daily, db, "ev2",
      LocalDate.of(1996, 1, 1), LocalDate.of(1996, 2, 1))
    val tbl = s"`$db`.`ev2`"
    def rows() = spark.table(tbl)
      .select("o_orderkey", "part_key").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq
    val before = rows()
    val dailyKeys = PartitionGrain.Daily.keys(
      LocalDate.of(1996, 1, 1), LocalDate.of(1996, 2, 1))
    def crashedEvolve(step: String): Unit = StagedSwapSpec.crashAfter(step) {
      PartitionedMaterializer.evolveGrain(spark, db, "ev2", "o_orderdate",
        PartitionGrain.Daily, PartitionGrain.Monthly,
        LocalDate.of(1996, 1, 1), LocalDate.of(1996, 2, 1))
      ()
    }

    // crash window A: tmp committed but NO manifest yet — nothing was
    // dropped; recovery must discard the tmp and leave the table intact
    crashedEvolve("written")
    assert(Warehouse.recover(spark, db, "ev2"))
    assert(!spark.catalog.tableExists(s"$db.${Warehouse.swapTmp("ev2")}"))
    assert(rows() == before, "no-manifest recovery touched the table")

    // crash window B: manifest set, drops partially applied, append never
    // ran — recovery must complete the evolution from the manifest + tmp
    crashedEvolve("stamped")
    dailyKeys.take(10).foreach { k =>
      spark.sql(s"ALTER TABLE $tbl DROP IF EXISTS PARTITION (`part_key`='$k')")
    }
    assert(Warehouse.recover(spark, db, "ev2"))
    assert(!spark.catalog.tableExists(s"$db.${Warehouse.swapTmp("ev2")}"))
    val parts = spark.table(tbl).select("part_key").distinct()
      .collect().map(_.getString(0)).toSet
    assert(parts == Set("1996-01"), s"recovery left mixed grains: $parts")
    assert(rows().map(_._1) == before.map(_._1), "recovery lost/duplicated rows")
    // recovery is idempotent: nothing left to do
    assert(!Warehouse.recover(spark, db, "ev2"))
  }

  test("backfill heals a tmp-only crashed swap instead of creating beside it") {
    // The round-14 ADVICE state: a crashed full-table swap dropped the
    // target and left the swap tmp as the ONLY copy. A tableExists-gated
    // recovery prologue skips exactly this, takes the create branch, and
    // the surviving tmp later auto-recovers OVER the fresh table from any
    // other entry point — silent regression. The prologue must run
    // unconditionally: recover the tmp FIRST, then backfill over the
    // recovered table.
    val (cdb, tbl) = ("graft_backfill_crash", "om")
    spark.sql(s"DROP DATABASE IF EXISTS `$cdb` CASCADE")
    spark.sql(s"CREATE DATABASE `$cdb`")
    val src = Tables.t(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    PartitionedMaterializer.backfill(spark, src, "o_orderdate",
      PartitionGrain.Monthly, cdb, tbl,
      LocalDate.of(1996, 1, 1), LocalDate.of(1996, 4, 1))
    val wholeTable = spark.table(s"`$cdb`.`$tbl`").count()
    // the crash window: tmp fully written and stamped, target dropped
    StagedSwapSpec.crashAfter("dropped")(Warehouse.compact(spark, cdb, tbl, 2))
    assert(!spark.catalog.tableExists(s"$cdb.$tbl"))
    // a corrective re-run over ONE month must first recover all three
    PartitionedMaterializer.backfill(spark, src, "o_orderdate",
      PartitionGrain.Monthly, cdb, tbl,
      LocalDate.of(1996, 2, 1), LocalDate.of(1996, 3, 1))
    assert(!spark.catalog.tableExists(s"$cdb.${Warehouse.swapTmp(tbl)}"),
      "recovery must consume the surviving tmp")
    assert(spark.table(s"`$cdb`.`$tbl`").count() == wholeTable,
      "all three months must survive — a create-branch backfill would " +
        "hold only 1996-02")
    spark.sql(s"DROP DATABASE IF EXISTS `$cdb` CASCADE")
  }

  test("reads prune to the requested partition at plan time") {
    val src = Tables.t(spark, sf, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderdate")
    PartitionedMaterializer.backfill(spark, src, "o_orderdate",
      PartitionGrain.Daily, db, "od",
      LocalDate.of(1996, 1, 1), LocalDate.of(1996, 1, 11))
    val one = PartitionedMaterializer.partition(spark, db, "od", "1996-01-05")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("part_key"),
      plan.take(800))
    // the partition predicate must NOT survive as a post-scan data filter —
    // pruning happens in the file index, not per-row
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters")).get
    assert(scanLine.contains("1996-01-05"))
  }
}
