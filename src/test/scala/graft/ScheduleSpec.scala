package graft

import java.time.LocalDateTime
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import graft.config.TenantConfig
import graft.ops.PipelineOps
import graft.pipeline.{CronSchedule, ScheduleRunner, TenantPipeline}
import graft.source.ParquetSource

/** Cron grammar unit coverage (no Spark session needed). */
class CronScheduleSpec extends AnyFunSuite {
  private def t(s: String) = LocalDateTime.parse(s)

  test("*/2-hour schedule fires on even hours only (reference tenant.yaml:19)") {
    val c = CronSchedule.parse("0 */2 * * *")
    assert(c.nextAfter(t("2026-01-01T00:30:00")) == t("2026-01-01T02:00:00"))
    assert(c.nextAfter(t("2026-01-01T02:00:00")) == t("2026-01-01T04:00:00"))
    assert(c.matches(t("2026-01-01T22:00:00")))
    assert(!c.matches(t("2026-01-01T03:00:00")))
    assert(!c.matches(t("2026-01-01T02:01:00")))
  }

  test("lists, ranges and stepped ranges parse to the right sets") {
    val c = CronSchedule.parse("15,45 9-17/4 1 * *")
    assert(c.minutes == Set(15, 45))
    assert(c.hours == Set(9, 13, 17))
    assert(c.nextAfter(t("2026-03-01T13:45:00")) == t("2026-03-01T17:15:00"))
    // dom=1 restricted: March 2 never matches; next is April 1
    assert(c.nextAfter(t("2026-03-01T17:45:00")) == t("2026-04-01T09:15:00"))
  }

  test("dom/dow use cron's OR rule when both are restricted") {
    // day 15 OR Sunday; 7 normalizes to Sunday
    val c = CronSchedule.parse("0 0 15 * 7")
    assert(c.matches(t("2026-02-15T00:00:00"))) // the 15th (a Sunday, too)
    assert(c.matches(t("2026-02-08T00:00:00"))) // a Sunday that isn't the 15th
    assert(c.matches(t("2026-04-15T00:00:00"))) // a Wednesday the 15th
    assert(!c.matches(t("2026-02-10T00:00:00"))) // Tuesday the 10th
  }

  test("*/n in dom/dow counts as unrestricted for the OR rule (vixie star flag)") {
    // dom=*/2 has the star flag: dow=Monday restricts ALONE (AND semantics)
    val c = CronSchedule.parse("0 0 */2 * 1")
    assert(c.matches(t("2026-01-05T00:00:00")))  // Monday the 5th (odd dom!)
    assert(!c.matches(t("2026-01-03T00:00:00"))) // Saturday the 3rd: dom-only match must NOT fire
  }

  test("malformed specs fail loudly") {
    assert(intercept[Exception](CronSchedule.parse("0 0 * *")).getMessage
      .contains("5 fields"))
    assert(intercept[Exception](CronSchedule.parse("61 * * * *")).getMessage
      .contains("out of range"))
    assert(intercept[Exception](CronSchedule.parse("* * 0 * *")).getMessage
      .contains("out of range"))
  }
}

/** Schedule runner over a real tenant pipeline with a simulated clock —
  * the reference's ScheduleDefinition surface (lib/schedule.py:14-22)
  * re-expressed as an engine-owned tick loop.
  */
class ScheduleRunnerSpec extends SparkSpec {

  test("two due ticks produce two snapshot-replace materializations") {
    val tenant = TenantConfig.parse(PipelineOps.tenantYaml, Map.empty)
    assert(tenant.schedule == "0 */2 * * *") // parsed from tenant.yaml
    val pipeline = new TenantPipeline(tenant, new ParquetSource(sf),
      Seq(PipelineOps.stagingModel, PipelineOps.martModel))
    var runs = 0
    val entry = ScheduleRunner.forTenant(tenant, pipeline)
      .copy(run = (s, _) => { pipeline.run(s); runs += 1 })
    val t0 = LocalDateTime.parse("2026-01-01T00:00:00")
    val runner = new ScheduleRunner(Seq(entry), startAt = t0)

    assert(runner.tick(spark, t0.plusHours(1)).isEmpty) // 01:00 — not due
    assert(runner.tick(spark, t0.plusHours(2)) == Seq(tenant.id)) // 02:00
    val countAfterFirst = spark.table("graft_demo.mart_item_master").count()
    assert(countAfterFirst > 0)

    assert(runner.tick(spark, t0.plusHours(2)).isEmpty) // same instant: no-op
    // catch-up across two missed fires (04:00, 06:00) collapses to ONE run
    assert(runner.tick(spark, t0.plusHours(6).plusMinutes(30)) == Seq(tenant.id))
    assert(runs == 2)
    // snapshot-replace: the re-materialized mart replaced rows, not appended
    assert(spark.table("graft_demo.mart_item_master").count() == countAfterFirst)
  }

  test("a failing entry neither starves other tenants nor loses its fire") {
    val t0 = LocalDateTime.parse("2026-01-01T00:00:00")
    var healthyRuns, attempts, errors = 0
    val failTwice = ScheduleRunner.Entry("flaky", CronSchedule.parse("0 * * * *"),
      (_, _) => { attempts += 1; if (attempts <= 2) sys.error("transient") })
    val healthy = ScheduleRunner.Entry("steady", CronSchedule.parse("0 * * * *"),
      (_, _) => healthyRuns += 1)
    val runner = new ScheduleRunner(Seq(failTwice, healthy), startAt = t0,
      onError = (_, _) => errors += 1)

    // tick 1: flaky throws, steady still runs; flaky's window stays open
    assert(runner.tick(spark, t0.plusHours(1)) == Seq("steady"))
    // tick 2 at the SAME instant would be a no-op for steady, but flaky's
    // un-advanced window means the missed fire is retried (and fails again)
    assert(runner.tick(spark, t0.plusHours(1)).isEmpty)
    // tick 3: flaky finally succeeds on its retained window
    assert(runner.tick(spark, t0.plusHours(2)) == Seq("flaky", "steady"))
    assert(attempts == 3 && healthyRuns == 2 && errors == 2)
  }

  test("nextWake handles empty runners and unsatisfiable crons gracefully") {
    val t0 = LocalDateTime.parse("2026-01-01T00:00:00")
    assert(new ScheduleRunner(Seq.empty, t0).nextWake.isEmpty)
    // Feb 30 parses but never fires: nextWake skips it instead of throwing,
    // and runUntil exits instead of crashing
    val feb30 = ScheduleRunner.Entry("never", CronSchedule.parse("0 0 30 2 *"), (_, _) => ())
    val r = new ScheduleRunner(Seq(feb30), t0, onError = (_, _) => ())
    assert(r.nextWake.isEmpty)
    r.runUntil(spark, continue = () => true,
      clock = () => t0, sleeper = _ => fail("should not sleep"))
  }

  test("nextWake is the earliest upcoming fire across entries") {
    val t0 = LocalDateTime.parse("2026-01-01T00:10:00")
    val mk = (id: String, cron: String) =>
      ScheduleRunner.Entry(id, CronSchedule.parse(cron), (_, _) => ())
    val runner = new ScheduleRunner(
      Seq(mk("a", "0 */2 * * *"), mk("b", "30 * * * *")), startAt = t0)
    assert(runner.nextWake.contains(LocalDateTime.parse("2026-01-01T00:30:00")))
  }

  test("partition-aware entry materializes every covered partition per fire") {
    import graft.pipeline.PartitionGrain
    // monthly grain: a whole month has enough fixture rows at sf0.001
    val entry = ScheduleRunner.partitionedEntry("monthly_orders", "0 1 1 * *",
      s => Tables.t(s, sf, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate"),
      "o_orderdate", PartitionGrain.Monthly, "graft_sched_bf", "orders_monthly")
    val t0 = LocalDateTime.parse("1996-03-31T00:00:00")
    val runner = new ScheduleRunner(Seq(entry), startAt = t0)

    // fire Apr 1 01:00 → materializes March; fire May 1 → April
    assert(runner.tick(spark, LocalDateTime.parse("1996-04-01T01:00:00")).nonEmpty)
    assert(runner.tick(spark, LocalDateTime.parse("1996-05-01T01:00:00")).nonEmpty)
    val tbl = spark.table("`graft_sched_bf`.`orders_monthly`")
    val parts = tbl.select("part_key").distinct().collect().map(_.getString(0)).sorted
    assert(parts.toSeq == Seq("1996-03", "1996-04"))
    // each partition holds exactly that month's source rows
    val expected = Tables.t(spark, sf, "orders")
      .filter(col("o_orderdate") >= lit("1996-03-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp")).count()
    assert(expected > 0)
    assert(tbl.filter(col("part_key") === "1996-03").count() == expected)

    // catch-up across missed fires (Jun 1, Jul 1, Aug 1) runs ONCE but its
    // window spans all of them: May, June AND July materialize — no
    // partition is silently skipped
    assert(runner.tick(spark, LocalDateTime.parse("1996-08-01T01:00:00")).nonEmpty)
    val parts2 = tbl.select("part_key").distinct().collect().map(_.getString(0)).sorted
    assert(parts2.toSeq ==
      Seq("1996-03", "1996-04", "1996-05", "1996-06", "1996-07"))
  }

  test("runUntil drives ticks from an injected clock without real sleeping") {
    val t0 = LocalDateTime.parse("2026-01-01T00:00:00")
    var fired = 0
    val entry = ScheduleRunner.Entry("fast", CronSchedule.parse("*/30 * * * *"),
      (_, _) => fired += 1)
    val runner = new ScheduleRunner(Seq(entry), startAt = t0)
    var simNow = t0
    var slept = Vector.empty[Long]
    runner.runUntil(spark,
      continue = () => fired < 3,
      clock = () => simNow,
      sleeper = ms => { slept :+= ms; simNow = simNow.plusNanos(ms * 1000000L) })
    assert(fired == 3)
    assert(slept.forall(_ <= 30L * 60 * 1000)) // never oversleeps an interval
  }

  test("tenant entries with disjoint writes fire at the same time; ids stay in declared order") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val tenant = TenantConfig.parse(PipelineOps.tenantYaml, Map.empty)
    val pipeline = new TenantPipeline(tenant, new ParquetSource(sf),
      Seq(PipelineOps.stagingModel, PipelineOps.martModel))
    assert(ScheduleRunner.forTenant(tenant, pipeline).writes ==
      Set("graft_demo", "graft_demo_raw"))
    // each entry releases its latch and then waits for the other's: a
    // runner that fires them one after another times out instead of hanging
    val (zStarted, aStarted, aDone) =
      (new CountDownLatch(1), new CountDownLatch(1), new CountDownLatch(1))
    def await(l: CountDownLatch): Unit =
      if (!l.await(20, TimeUnit.SECONDS)) sys.error("the other entry never started")
    val z = ScheduleRunner.Entry("z_tenant", CronSchedule.parse("0 * * * *"),
      (_, _) => { zStarted.countDown(); await(aStarted); await(aDone) },
      writes = Set("z_tenant", "z_tenant_raw"))
    val a = ScheduleRunner.Entry("a_tenant", CronSchedule.parse("0 * * * *"),
      (_, _) => { aStarted.countDown(); await(zStarted); aDone.countDown() },
      writes = Set("a_tenant", "a_tenant_raw"))
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    val t0 = LocalDateTime.parse("2026-01-01T00:00:00")
    val runner = new ScheduleRunner(Seq(z, a), startAt = t0,
      onError = (id, e) => errors += s"$id: ${e.getMessage}")
    // a_tenant finishes first; the ids still come back in declared order
    assert(runner.tick(spark, t0.plusHours(1)) == Seq("z_tenant", "a_tenant"))
    assert(errors.isEmpty, errors)
  }

  test("entries that share a database or declare none never overlap and run in declared order") {
    val t0 = LocalDateTime.parse("2026-01-01T00:00:00")
    val ticking = Thread.currentThread
    final case class Run(id: String, start: Long, end: Long, onTicker: Boolean)
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[Run]()
    def entry(id: String, writes: Set[String]) =
      ScheduleRunner.Entry(id, CronSchedule.parse("0 * * * *"), (_, _) => {
        val start = System.nanoTime()
        Thread.sleep(100)
        runs.add(Run(id, start, System.nanoTime(), Thread.currentThread eq ticking))
      }, writes = writes)
    def tickAll(entries: Seq[ScheduleRunner.Entry]): Map[String, Run] = {
      runs.clear()
      val ids = new ScheduleRunner(entries, startAt = t0).tick(spark, t0.plusHours(1))
      assert(ids == entries.map(_.id))
      runs.asScala.map(r => r.id -> r).toMap
    }
    def inOrder(r: Map[String, Run], ids: String*): Unit =
      ids.sliding(2).foreach { case Seq(x, y) =>
        assert(r(x).end <= r(y).start, s"$x and $y overlapped or ran out of order") }

    // a and c share the database `shared` (names compare as the catalog
    // does, case-insensitively), so they run in one lane, one after the
    // other; b has a lane of its own
    val lanes = tickAll(Seq(entry("a", Set("shared", "a_raw")),
      entry("b", Set("b", "b_raw")), entry("c", Set("SHARED"))))
    inOrder(lanes, "a", "c")
    // an entry that declares nothing conflicts with every entry, so the
    // whole tick runs sequentially, on the ticking thread, as before
    val serial = tickAll(Seq(entry("p", Set("p")), entry("q", Set.empty),
      entry("r", Set("r"))))
    inOrder(serial, "p", "q", "r")
    assert(serial.values.forall(_.onTicker))
    val undeclared = tickAll(Seq(entry("u", Set.empty), entry("v", Set.empty)))
    inOrder(undeclared, "u", "v")
    assert(undeclared.values.forall(_.onTicker))
  }

  test("failures in concurrent lanes reach onError on the ticking thread, in declared order") {
    val t0 = LocalDateTime.parse("2026-01-01T00:00:00")
    val ticking = Thread.currentThread
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
    def failing(id: String) = ScheduleRunner.Entry(id, CronSchedule.parse("0 * * * *"),
      (_, _) => sys.error(s"$id broke"), writes = Set(id))
    val ok = ScheduleRunner.Entry("ok", CronSchedule.parse("0 * * * *"),
      (_, _) => (), writes = Set("ok"))
    val runner = new ScheduleRunner(Seq(failing("m"), ok, failing("f")), startAt = t0,
      onError = (id, _) => seen += (id -> (Thread.currentThread eq ticking)))
    assert(runner.tick(spark, t0.plusHours(1)) == Seq("ok"))
    assert(seen.toSeq == Seq("m" -> true, "f" -> true))
    // the failed entries' windows stayed open: the same instant retries them
    seen.clear()
    assert(runner.tick(spark, t0.plusHours(1)).isEmpty)
    assert(seen.map(_._1).toSeq == Seq("m", "f"))
  }

  test("a tenant's lane covers the schemas its models read through source()") {
    import graft.pipeline.Environment
    val tenant = TenantConfig.parse(PipelineOps.tenantYaml, Map.empty)
    val rates = graft.model.SqlModel("graft_demo__priced",
      """{{ config(materialized='table', schema=var('tenant_id', 'graft_demo')) }}
        |SELECT * FROM {{ source('shared_ref', 'rates') }}
        |""".stripMargin)
    val models = Seq(PipelineOps.stagingModel, rates)
    assert(ScheduleRunner.forTenant(tenant,
      new TenantPipeline(tenant, new ParquetSource(sf), models)).writes ==
      Set("graft_demo", "graft_demo_raw", "shared_ref"))
    assert(ScheduleRunner.forTenant(tenant, new TenantPipeline(tenant,
      new ParquetSource(sf), models, env = Environment.Local)).writes ==
      Set("dev_graft_demo", "dev_graft_demo_raw", "dev_shared_ref"))
    // compaction of the read schema therefore shares the tenant's lane
    assert(ScheduleRunner.compactionEntry("cmp", "0 * * * *", "shared_ref", "rates",
      maxFiles = 4, targetFiles = 1).writes == Set("shared_ref"))
  }

  test("a partitioned entry never overlaps a tenant fire that writes its source") {
    import graft.pipeline.PartitionGrain
    val (martDb, mart) = ("graft_sched_src_mart", "orders_src")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$martDb`")
    Tables.t(spark, sf, "orders").select("o_orderkey", "o_orderdate")
      .write.mode("overwrite").saveAsTable(s"`$martDb`.`$mart`")
    var tenantSpan = (0L, 0L)
    var sourceRead = 0L
    // the tenant rebuilds the table the partitioned entry reads; it holds
    // its fire long enough for an overlapping backfill to start meanwhile
    val tenant = ScheduleRunner.Entry("src_tenant", CronSchedule.parse("0 1 1 * *"),
      (_, _) => {
        val start = System.nanoTime()
        Thread.sleep(300)
        tenantSpan = (start, System.nanoTime())
      }, writes = Set(martDb, s"${martDb}_raw"))
    val backfill = ScheduleRunner.partitionedEntry("monthly_from_mart", "0 1 1 * *",
      s => { sourceRead = System.nanoTime(); s.table(s"`$martDb`.`$mart`") },
      "o_orderdate", PartitionGrain.Monthly, "graft_sched_bf_lane", "orders_monthly")
    // its source is an opaque function: it declares nothing, so it shares
    // a lane with everything
    assert(backfill.writes.isEmpty)
    val runner = new ScheduleRunner(Seq(tenant, backfill),
      startAt = LocalDateTime.parse("1996-03-31T00:00:00"))
    assert(runner.tick(spark, LocalDateTime.parse("1996-04-01T01:00:00")) ==
      Seq("src_tenant", "monthly_from_mart"))
    assert(sourceRead >= tenantSpan._2,
      "the backfill read its source while the tenant was still writing it")
  }

  test("no lane outlives its tick: a fatal error or an interrupt waits for the other lanes") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicBoolean
    val t0 = LocalDateTime.parse("2026-01-01T00:00:00")
    val slowDone = new AtomicBoolean(false)
    def slow(id: String, release: CountDownLatch) =
      ScheduleRunner.Entry(id, CronSchedule.parse("0 * * * *"), (_, _) => {
        release.await(20, TimeUnit.SECONDS)
        Thread.sleep(100)
        slowDone.set(true)
      }, writes = Set(id))

    // a lane that dies of a fatal error: tick rethrows it, but only after
    // the other lane has finished
    val go = new CountDownLatch(1)
    val fatal = ScheduleRunner.Entry("fatal", CronSchedule.parse("0 * * * *"),
      (_, _) => { go.countDown(); throw new LinkageError("lane died") }, writes = Set("f"))
    val runner = new ScheduleRunner(Seq(fatal, slow("slow", go)), startAt = t0)
    intercept[LinkageError](runner.tick(spark, t0.plusHours(1)))
    assert(slowDone.get, "tick returned while a lane was still running")

    // the ticking thread is interrupted while both lanes run: it keeps
    // waiting for them and rethrows the interrupt once they have finished
    slowDone.set(false)
    val release = new CountDownLatch(1)
    val lanes = new ScheduleRunner(Seq(slow("x", release), slow("y", release)), startAt = t0)
    @volatile var outcome: Option[Throwable] = None
    val ticker = new Thread(() =>
      try { lanes.tick(spark, t0.plusHours(1)); outcome = Some(new AssertionError("no interrupt")) }
      catch { case e: Throwable => outcome = Some(e) })
    ticker.start()
    Thread.sleep(200)
    ticker.interrupt()
    ticker.join(300)
    assert(ticker.isAlive, "tick returned on interrupt while its lanes were running")
    release.countDown()
    ticker.join(20000)
    assert(outcome.exists(_.isInstanceOf[InterruptedException]), outcome)
    assert(slowDone.get)
  }

  test("scheduled compaction bounds file count across micro-batch append cycles") {
    import graft.store.{LoadMode, Warehouse}
    import spark.implicits._
    val (db, table) = ("graft_sched_cmp", "ingest_log")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    spark.sql(s"DROP TABLE IF EXISTS `$db`.`$table`")
    val maxFiles = 6
    val entry = ScheduleRunner.compactionEntry("cmp", "0 * * * *",
      db, table, maxFiles = maxFiles, targetFiles = 2)
    val t0 = LocalDateTime.parse("2026-01-01T00:00:00")
    val runner = new ScheduleRunner(Seq(entry), startAt = t0)
    // missing table: the maintenance fire is a harmless no-op
    assert(runner.tick(spark, t0.plusMinutes(60)) == Seq("cmp"))
    var expected = 0L
    for (i <- 2 to 11) {
      // each "micro-batch" lands 3 files; without compaction 10 cycles
      // would accrete ~30 — the threshold loop must keep it bounded
      val batch = Seq.tabulate(5)(j => (i * 100L + j, s"doc $i $j"))
        .toDF("k", "txt").repartition(3)
      Warehouse.load(spark, batch, db, table, LoadMode.WatermarkAppend)
      expected += 5
      runner.tick(spark, t0.plusHours(i))
      // post-tick law: either under threshold untouched, or rewritten to
      // targetFiles — never above maxFiles after maintenance ran
      assert(Warehouse.fileCount(spark, db, table) <= maxFiles,
        s"cycle $i left ${Warehouse.fileCount(spark, db, table)} files")
    }
    // compaction preserved every appended row
    assert(spark.table(s"`$db`.`$table`").count() == expected)
  }
}
