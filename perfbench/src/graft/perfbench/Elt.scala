package graft.perfbench

import java.nio.file.Path
import java.time.LocalDateTime
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.TenantConfig
import graft.pipeline.{CronSchedule, Environment, ScheduleRunner, TenantPipeline, TenantRegistry}
import graft.source.ParquetSource

/** `elt_append`: tenants extract their slice of `orders` in append mode
  * (WatermarkAppend on `o_orderdate`) and run a staging model and a daily
  * mart. Each cycle lands one seeded date-range batch in the source, then
  * ticks the registry's schedule entries with a simulated clock half an
  * hour later. Tenants sit in [[Elt.Groups]] staggered cron groups, so a
  * tick fires one group, one tenant after another.
  *
  * Traced cycles run each fire one layer further down, as
  * `ScheduleRunner.forTenant` wires it: the pipeline's `runExtract` then
  * `runModels` (and `renderAll`, to time rendering), inside spans.
  */
final class Elt(spark: SparkSession, ctx: Ctx) extends Workload {
  import Elt._
  import Inputs._

  val tenants: Seq[Tenant] = Inputs.tenants(ctx.seed, Tenants, Projects)
  private val broken = if (ctx.injectBroken) Set(tenants.last.id) else Set.empty[String]
  private var srcDir: Path = _
  private var histDir: Path = _
  private var root: Path = _
  private def source: TenantConfig => ParquetSource = _ => new ParquetSource(srcDir.toString)

  // ---- generation --------------------------------------------------------

  /** Seeded batch boundaries; the first one splits the history into the
    * initial load and the batches.
    */
  private val boundaries: IndexedSeq[LocalDateTime] = {
    val rnd = new scala.util.Random(ctx.seed ^ 0x5eedL)
    val start = LocalDateTime.of(1995, 4, 1, 0, 0).plusDays(rnd.nextInt(60).toLong)
    Iterator.iterate(start)(d => d.plusDays(BatchDays + rnd.nextInt(BatchDays).toLong))
      .takeWhile(_.isBefore(LocalDateTime.of(1998, 8, 3, 0, 0))).toIndexedSeq
  }
  private var delivered = 0 // batches appended to the source so far
  /** Batches each tenant had seen at its last successful fire. */
  private val loaded = scala.collection.mutable.Map.empty[String, Int]

  /** Group g fires at minute g * [[StepMinutes]] of every hour. */
  private def schedule(t: Tenant): String =
    s"${tenants.indexOf(t) % Groups * StepMinutes} * * * *"

  def generate(): Seq[(String, DataFrame)] = {
    srcDir = tmpDir("graft-pb-src")
    root = tmpDir("graft-pb-ws")
    histDir = tmpDir("graft-pb-hist")
    write(ordersFrame(spark, ctx.sf, ctx.seed, Projects), histDir.resolve("orders.parquet").toString)
    write(history.filter(col("o_orderdate") < lit(ts(boundaries.head))),
      srcDir.resolve("orders.parquet").toString)
    delivered = 0
    writeWorkspace(root, tenants, schedule, broken)
    Seq("history" -> history, "orders" -> spark.read.parquet(srcDir.resolve("orders.parquet").toString))
  }

  private def ts(d: LocalDateTime) = java.sql.Timestamp.valueOf(d)
  private def history: DataFrame = spark.read.parquet(histDir.resolve("orders.parquet").toString)

  /** Append the next date-range batch to the source directory. */
  private def deliverBatch(): Unit = {
    require(delivered + 1 < boundaries.size, "append workload ran out of history")
    val (a, b) = (boundaries(delivered), boundaries(delivered + 1))
    history.filter(col("o_orderdate") >= lit(ts(a)) && col("o_orderdate") < lit(ts(b)))
      .repartition(1).write.mode("append").parquet(srcDir.resolve("orders.parquet").toString)
    delivered += 1
  }

  def sourceBytes: Long = bytesUnder(srcDir)

  def storedBytes: Long = tenants.map(t =>
    bytesUnder(ctx.warehouse.resolve(s"${t.id}.db")) +
      bytesUnder(ctx.warehouse.resolve(s"${t.id}_raw.db"))).sum

  // ---- cycles ------------------------------------------------------------

  private var cycleNo = 0
  private var ticks = 0
  private val fires = scala.collection.mutable.ArrayBuffer.empty[Op]

  /** A schedule entry that records its fire latency. */
  private def timed(e: ScheduleRunner.Entry): ScheduleRunner.Entry =
    e.copy(run = (s: SparkSession, w: ScheduleRunner.FireWindow) => {
      val t0 = System.nanoTime()
      e.run(s, w)
      fires += Op(e.id, (System.nanoTime() - t0) / 1e9, ok = true)
      loaded(e.id) = delivered
    })

  private def newRunner(entries: Seq[ScheduleRunner.Entry]): ScheduleRunner =
    new ScheduleRunner(entries.map(timed), clock(ticks),
      onError = (id, err) => {
        fires += Op(id, 0.0, ok = false)
        Console.err.println(s"[perfbench] fire '$id' failed: ${err.getMessage}")
      })

  /** The registry's own schedule entries. */
  private lazy val runner: ScheduleRunner = newRunner(TenantRegistry.scheduleEntries(
    TenantRegistry.discover(root.toString, Map.empty), source, Environment.Prod))

  /** The same entries one layer down, with a span per stage. */
  private var tracedRunner: ScheduleRunner = _
  private def runnerFor(tr: Tracer): ScheduleRunner = {
    if (tracedRunner == null) tracedRunner = newRunner(discover(tr).map { case (t, p) =>
      ScheduleRunner.Entry(t.id, CronSchedule.parse(t.schedule),
        (_: SparkSession, _: ScheduleRunner.FireWindow) =>
          tr.span("fire", cycleNo)(stages(tr, p)))
    })
    tracedRunner
  }

  private def discover(tr: Tracer): Seq[(TenantConfig, TenantPipeline)] =
    tr.span("pipeline.discover", cycleNo) {
      val found = TenantRegistry.discover(root.toString, Map.empty)
      val drift = TenantRegistry.check(found)
      require(drift.isEmpty, drift.mkString("; "))
      TenantRegistry.pipelines(found, source, Environment.Prod)
    }

  private def stages(tr: Tracer, p: TenantPipeline): Unit = {
    tr.span("model.render", cycleNo)(p.renderAll)
    tr.span("pipeline.extract", cycleNo)(p.runExtract(spark))
    tr.span("pipeline.models", cycleNo)(p.runModels(spark))
    ()
  }

  private def clock(tick: Int): LocalDateTime = Clock0.plusMinutes(tick.toLong * StepMinutes)

  /** Warm-up: the first ticks load the initial history into every cron
    * group, then one batch lands and appends.
    */
  def warmup(): Unit = {
    (1 to Groups).foreach(_ => tick())
    cycle(0)
    ()
  }

  /** Advance the simulated clock one step and tick. A runner starts at the
    * clock of the tick before its first.
    */
  private def tick(): Unit = {
    val r = ctx.tracer.fold(runner)(runnerFor)
    ticks += 1
    val now = clock(ticks)
    ctx.tracer match {
      case None => r.tick(spark, now)
      case Some(tr) => tr.span("tick", cycleNo)(r.tick(spark, now))
    }
    ()
  }

  def cycle(i: Int): Cycle = {
    cycleNo = i
    deliverBatch()
    fires.clear()
    ctx.tracer.fold(runner)(runnerFor) // built outside the timed tick
    val t0 = System.nanoTime()
    tick()
    val wall = (System.nanoTime() - t0) / 1e9
    Cycle(wall, fires.size, fires.count(!_.ok), fires.toSeq)
  }

  // ---- output checks -----------------------------------------------------

  /** Compare every tenant table with a reference computed from the
    * generated history by plain DataFrame code. A tenant holds the batches
    * delivered up to its last fire; the reference holds each of those
    * orders once, so a match also proves the appends left no duplicate
    * and no gap.
    */
  def check(ledger: Ledger): Unit = {
    val params = spark.createDataFrame(tenants.map(t =>
      (t.project, t.id, t.minTotal, ts(boundaries(loaded.getOrElse(t.id, 0))))))
      .toDF("__p", "__t", "__min", "__cutoff")
    val orders = history.join(broadcast(params), col("project_id") === col("__p"))
      .filter(col("o_orderdate") < col("__cutoff"))
    val stg = orders.filter(col("o_totalprice") >= col("__min"))
      .select(col("__t"), col("o_orderkey"), col("o_custkey"),
      col("o_orderdate").cast("date").as("order_date"),
      col("o_totalprice").cast("decimal(18,2)").as("total"))
    val mart = stg.groupBy(col("__t"), col("order_date"))
      .agg(count(lit(1)).as("n_orders"), sum("total").as("revenue"))
    compare(ledger, Seq(
      ("orders", true, orders.select((OrdersColumns :+ "__t").map(col): _*)),
      ("stg_orders", false, stg),
      ("mart_daily", false, mart)))
  }

  private def tableName(t: Tenant, table: String, raw: Boolean): String =
    if (raw) s"${t.id}_raw.$table" else s"${t.id}.$table"

  /** One check per tenant table: schema, row count and fingerprint against
    * the reference rows keyed `__t`. All tables fingerprint in one job per
    * side.
    */
  private def compare(ledger: Ledger, refs: Seq[(String, Boolean, DataFrame)]): Unit = {
    val actual = for {
      (table, raw, _) <- refs
      t <- tenants if spark.catalog.tableExists(tableName(t, table, raw))
    } yield (table, t, spark.table(tableName(t, table, raw)))
    val got = Fingerprint.grouped(actual.map { case (table, t, df) =>
      df.select(lit(table).as("__k"), lit(t.id).as("__t"), Fingerprint.rowHash(df).as("h")) })
    val want = Fingerprint.grouped(refs.map { case (table, _, ref) =>
      ref.select(lit(table).as("__k"), col("__t"), Fingerprint.rowHash(ref.drop("__t")).as("h")) })
    for ((table, raw, ref) <- refs; t <- tenants) {
      val shape = ref.drop("__t").schema.map(f => (f.name, f.dataType))
      val schemaOk = actual.exists { case (tb, tt, df) =>
        tb == table && tt == t && df.schema.map(f => (f.name, f.dataType)) == shape }
      val key = (table, t.id)
      ledger.check(s"${tableName(t, table, raw)} matches its reference",
        schemaOk && got.get(key) == want.get(key))
    }
  }

  // ---- per-layer ---------------------------------------------------------

  def tableFiles: Seq[Long] = tenants.flatMap { t =>
    Seq(ctx.warehouse.resolve(s"${t.id}_raw.db").resolve("orders"),
      ctx.warehouse.resolve(s"${t.id}.db").resolve("stg_orders"),
      ctx.warehouse.resolve(s"${t.id}.db").resolve("mart_daily")).map(dataFiles)
  }
}

object Elt {
  val Tenants = 4
  /** Projects in the source; tenants own 4 of 6, so extracts skip rows. */
  val Projects = 6
  /** Batches span BatchDays to 2 × BatchDays - 1 days. */
  val BatchDays = 20
  val Clock0: LocalDateTime = LocalDateTime.of(2026, 1, 1, 0, 0)
  /** Cron groups, and the simulated minutes one tick advances: each tick
    * fires exactly one group.
    */
  val Groups = 2
  val StepMinutes = 30
}
