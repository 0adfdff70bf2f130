package graft.pipeline

import java.time.temporal.ChronoUnit
import java.time.{LocalDate, LocalDateTime}
import java.util.Locale
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession
import graft.config.TenantConfig

/** Five-field cron expression (minute hour day-of-month month day-of-week),
  * the schedule grammar every reference tenant declares
  * (code_locations/project_01/tenant.yaml:19 `0 *&#47;2 * * *`; consumed by
  * ScheduleComponent, mozart_etl/lib/schedule.py:7-23).
  *
  * Supported per field: `*`, `n`, `a-b`, lists `a,b,c`, and steps `*&#47;n` /
  * `a-b/n`. Standard cron OR-rule: when BOTH day-of-month and day-of-week
  * are restricted, a date matches if either does. dow 0 and 7 are Sunday.
  */
final case class CronSchedule(
    source: String,
    minutes: Set[Int],
    hours: Set[Int],
    daysOfMonth: Set[Int],
    months: Set[Int],
    daysOfWeek: Set[Int],
    domRestricted: Boolean,
    dowRestricted: Boolean) {

  private def dateMatches(d: LocalDate): Boolean = {
    if (!months.contains(d.getMonthValue)) return false
    val domOk = daysOfMonth.contains(d.getDayOfMonth)
    // java DayOfWeek: Monday=1..Sunday=7 → cron Sunday=0
    val dowOk = daysOfWeek.contains(d.getDayOfWeek.getValue % 7)
    if (domRestricted && dowRestricted) domOk || dowOk else domOk && dowOk
  }

  def matches(t: LocalDateTime): Boolean =
    dateMatches(t.toLocalDate) && hours.contains(t.getHour) &&
      minutes.contains(t.getMinute)

  /** Next fire time strictly after `t`, at minute granularity. Field-wise
    * skip (day → hour → minute) keeps the search linear in calendar
    * distance, not in minutes.
    */
  def nextAfter(t: LocalDateTime): LocalDateTime = {
    var c = t.truncatedTo(ChronoUnit.MINUTES).plusMinutes(1)
    val limit = c.plusYears(5) // an unsatisfiable spec must not spin forever
    while (c.isBefore(limit)) {
      if (!dateMatches(c.toLocalDate))
        c = c.toLocalDate.plusDays(1).atStartOfDay()
      else if (!hours.contains(c.getHour))
        c = c.plusHours(1).truncatedTo(ChronoUnit.HOURS)
      else if (!minutes.contains(c.getMinute)) c = c.plusMinutes(1)
      else return c
    }
    throw new IllegalArgumentException(s"cron '$source' never fires after $t")
  }

  override def toString: String = s"cron($source)"
}

object CronSchedule {

  def parse(expr: String): CronSchedule = {
    val fields = expr.trim.split("\\s+")
    require(fields.length == 5,
      s"cron '$expr' must have 5 fields (minute hour dom month dow)")
    def field(tok: String, lo: Int, hi: Int, name: String): Set[Int] = {
      def one(part: String): Seq[Int] = {
        val (range, step) = part.split("/") match {
          case Array(r) => (r, 1)
          case Array(r, s) => (r, s.toInt)
          case _ => throw new IllegalArgumentException(
            s"cron '$expr': bad $name token '$part'")
        }
        require(step >= 1, s"cron '$expr': step must be >= 1 in '$part'")
        val (a, b) = range match {
          case "*" => (lo, hi)
          case r if r.contains("-") =>
            val Array(x, y) = r.split("-", 2); (x.toInt, y.toInt)
          case n => val v = n.toInt; (v, if (step == 1) v else hi)
        }
        require(a >= lo && b <= hi && a <= b,
          s"cron '$expr': $name value out of range in '$part' (allowed $lo-$hi)")
        (a to b by step)
      }
      tok.split(",").toSeq.flatMap(one).toSet
    }
    // dow: accept 7 as Sunday by normalizing to 0
    val dowRaw = field(fields(4), 0, 7, "day-of-week")
    CronSchedule(
      source = expr.trim,
      minutes = field(fields(0), 0, 59, "minute"),
      hours = field(fields(1), 0, 23, "hour"),
      daysOfMonth = field(fields(2), 1, 31, "day-of-month"),
      months = field(fields(3), 1, 12, "month"),
      daysOfWeek = dowRaw.map(d => if (d == 7) 0 else d),
      // vixie-cron star rule: a field BEGINNING with `*` (so `*/n` too)
      // counts as unrestricted for the dom/dow OR-rule
      domRestricted = !fields(2).startsWith("*"),
      dowRestricted = !fields(4).startsWith("*"))
  }
}

/** Ticks tenant pipelines on their cron schedules — the execution half the
  * reference delegates to its orchestrator's ScheduleDefinition
  * (mozart_etl/lib/schedule.py:14-22; wired per tenant in
  * _tenant_factory.py:170-174).
  *
  * Clock-agnostic: callers drive [[tick]] with "now" (tests use a simulated
  * clock; [[runUntil]] wraps it in a real-time loop). Per entry, a tick
  * fires AT MOST ONCE if the cron has any scheduled time in the window
  * `(lastTick, now]` — a catch-up after downtime collapses to one run,
  * which is exactly right for snapshot-replace materializations (each run
  * rebuilds the full current state; replaying missed intervals would do
  * identical work N times).
  */
final class ScheduleRunner(entries: Seq[ScheduleRunner.Entry],
                           startAt: LocalDateTime,
                           onError: (String, Throwable) => Unit =
                             (id, e) => System.err.println(
                               s"[schedule] entry '$id' failed: ${e.getMessage}")) {
  require(entries.map(_.id).distinct.size == entries.size,
    "duplicate schedule entry ids")

  private val last = scala.collection.mutable.Map(
    entries.map(e => e.id -> startAt): _*)

  /** All fires of `e` in `(prev, now]`, as (first, last). The scan from
    * `first` is shortcut to the most recent day when the window is long
    * (a minutely cron a year behind must not walk 525k steps per tick);
    * exceptions from ADVANCING past an already-found due fire must not
    * lose it (a cron whose next occurrence is years away — leap days —
    * throws from nextAfter long after a legitimate due fire was found).
    */
  private def firesIn(e: ScheduleRunner.Entry, prev: LocalDateTime,
                      now: LocalDateTime): Option[(LocalDateTime, LocalDateTime)] = {
    val first = e.cron.nextAfter(prev) // may throw: unsatisfiable — caller handles
    if (first.isAfter(now)) return None
    var f = first
    try {
      val dayAgo = now.minusDays(1)
      if (f.isBefore(dayAgo)) {
        val probe = e.cron.nextAfter(dayAgo)
        if (!probe.isAfter(now)) f = probe
      }
      var next = e.cron.nextAfter(f)
      while (!next.isAfter(now)) { f = next; next = e.cron.nextAfter(f) }
    } catch { case _: IllegalArgumentException => () } // keep the found fire
    Some((first, f))
  }

  /** Run every entry with a fire time in `(lastTick, now]`; returns the ids
    * that ran successfully, in declared order. Monotonic: a `now` at or
    * before an entry's last tick is a no-op for it.
    *
    * Lanes: due entries whose [[ScheduleRunner.Entry.writes]] overlap share
    * a lane, and an entry that declares no writes shares one with every
    * entry. A lane runs its entries one after another in declared order;
    * lanes run at the same time, on a pool of at most
    * `min(lanes, defaultParallelism)` threads that lives for this tick. So
    * entries that declare nothing run exactly as a sequential loop would.
    * Window advancement, `onError` and the returned ids are applied on the
    * calling thread after every lane has finished, in declared order. No
    * lane outlives its tick: a fatal error in a lane, or an interrupt of
    * the calling thread, is rethrown only after every lane has finished.
    *
    * Fault isolation: one entry's failure must neither starve the other
    * tenants this tick nor lose its own fire — on failure the entry's
    * window is NOT advanced, so the next tick retries it (and `onError`
    * observes the failure).
    */
  def tick(spark: SparkSession, now: LocalDateTime): Seq[String] = {
    val planned = entries.filter(e => now.isAfter(last(e.id))).map { e =>
      e -> (try Right(firesIn(e, last(e.id), now))
            catch { case ex: IllegalArgumentException => Left(ex) }) // unsatisfiable cron
    }
    val ran = runInLanes(spark, planned.collect {
      case (e, Right(Some((first, lastFire)))) => (e, ScheduleRunner.FireWindow(first, lastFire))
    })
    planned.flatMap {
      case (e, Left(ex)) => onError(e.id, ex); last(e.id) = now; None
      case (e, Right(None)) => last(e.id) = now; None
      case (e, Right(Some(_))) => ran(e.id) match {
        case Success(_) => last(e.id) = now; Some(e.id)
        case Failure(ex) => onError(e.id, ex); None
      }
    }
  }

  /** Run the due entries lane by lane ([[tick]]); every entry's outcome by id. */
  private def runInLanes(spark: SparkSession,
                         due: Seq[(ScheduleRunner.Entry, ScheduleRunner.FireWindow)])
      : Map[String, Try[Unit]] = {
    def fire(lane: Seq[(ScheduleRunner.Entry, ScheduleRunner.FireWindow)]) =
      lane.map { case (e, w) => e.id -> Try(e.run(spark, w)) }
    val lanes = ScheduleRunner.lanes(due)(_._1.writes)
    if (lanes.size <= 1) fire(due).toMap
    else
      // a lane fails only on a fatal error, rethrown once all lanes are done
      Parallel.runAll(spark.sparkContext.defaultParallelism,
        lanes.map(lane => () => fire(lane))).flatMap(_.get).toMap
  }

  /** Earliest upcoming fire time across entries (sleep target for a
    * real-time loop); None when no entry can ever fire again.
    */
  def nextWake: Option[LocalDateTime] = {
    val upcoming = entries.flatMap(e =>
      try Some(e.cron.nextAfter(last(e.id)))
      catch { case _: IllegalArgumentException => None })
    if (upcoming.isEmpty) None else Some(upcoming.min)
  }

  /** Real-time driver: sleep to each next fire, tick, repeat while
    * `continue()` and something can still fire. `clock`/`sleeper`
    * injectable so integration tests can run simulated days in
    * milliseconds.
    */
  def runUntil(spark: SparkSession, continue: () => Boolean,
               clock: () => LocalDateTime = () => LocalDateTime.now(),
               sleeper: Long => Unit = Thread.sleep): Unit = {
    var alive = true
    while (alive && continue()) nextWake match {
      case None => alive = false
      case Some(wake) =>
        val d = java.time.Duration.between(clock(), wake)
        // wake in the past = a failed entry awaiting retry (tick keeps its
        // window open) — back off instead of hot-looping the failure. A wake
        // <1ms in the FUTURE is not that case: toMillis truncates it to 0,
        // so positive durations clamp to at least 1ms instead of taking the
        // retry branch (which would delay an on-time fire by the backoff).
        sleeper(if (d.isNegative || d.isZero) ScheduleRunner.RetryBackoffMs
                else math.max(d.toMillis, 1L))
        tick(spark, clock().withSecond(0).withNano(0))
    }
  }
}

object ScheduleRunner {
  /** Pause before re-attempting a failed entry in [[ScheduleRunner.runUntil]]. */
  val RetryBackoffMs: Long = 60000L

  /** The scheduled fires a single run covers: `first` and `last` fire in
    * the tick's window (equal when nothing was missed). Snapshot-replace
    * work ignores it; partition-aware work derives WHICH windows to
    * materialize from it, so a catch-up covers every missed partition.
    */
  final case class FireWindow(first: LocalDateTime, last: LocalDateTime)

  /** One scheduled unit of work. The runner keys entries by `id`;
    * `name`/`target`/`tags` are the reference ScheduleComponent's
    * descriptive metadata (lib/schedule.py:8-11) — inert to execution,
    * surfaced for operators and UI. `writes` names every database a run
    * touches, the ones it reads as well as the ones it writes: it decides
    * which due entries may run at the same time ([[ScheduleRunner.tick]]),
    * and an entry reading a table that another lane overwrites could see it
    * missing or partial. Empty means "may touch anything", so the entry
    * never runs beside another; an entry whose reads cannot be known must
    * leave it empty.
    */
  final case class Entry(id: String, cron: CronSchedule,
                         run: (SparkSession, FireWindow) => Unit,
                         name: String = "", target: String = "",
                         tags: Map[String, String] = Map.empty,
                         writes: Set[String] = Set.empty)

  /** Group `items` into lanes: items whose write sets overlap, directly or
    * through other items, share a lane, and an item that declares no
    * writes shares one with every item. Each lane keeps declared order;
    * lanes are ordered by their first item. Database names compare
    * case-insensitively, as the catalog does.
    */
  private[pipeline] def lanes[A](items: Seq[A])(writes: A => Set[String]): Seq[Seq[A]] = {
    val ws = items.map(i => writes(i).map(_.toLowerCase(Locale.ROOT)))
    if (ws.exists(_.isEmpty)) Seq(items).filter(_.nonEmpty)
    else items.indices.foldLeft(Vector.empty[(Set[String], Vector[Int])]) { (acc, i) =>
      val (hit, miss) = acc.partition(_._1.exists(ws(i)))
      miss :+ ((hit.flatMap(_._1).toSet ++ ws(i), (hit.flatMap(_._2) :+ i).sorted))
    }.sortBy(_._2.head).map(_._2.map(items))
  }

  /** Standard wiring: a tenant's declared `schedule` drives its full
    * pipeline run (extract + model DAG, snapshot-replace semantics —
    * catch-up collapses to one run by ignoring the window). Metadata
    * mirrors the reference's generated definitions
    * (_tenant_factory.py:163-174): `{tid}_schedule` targeting the
    * `{tid}_pipeline` job tagged with its tenant. The entry declares the
    * databases the pipeline reads and writes ([[TenantPipeline.databases]]),
    * so tenants with disjoint databases fire at the same time, the way the
    * reference's per-tenant code locations run as separate processes
    * (workspace.yaml:2-9).
    */
  def forTenant(tenant: TenantConfig, pipeline: TenantPipeline): Entry =
    Entry(tenant.id, CronSchedule.parse(tenant.schedule),
      (s, _) => { pipeline.run(s); () },
      name = s"${tenant.id}_schedule",
      target = s"${tenant.id}_pipeline",
      tags = Map("tenant" -> tenant.id, "pipeline" -> "tenant"),
      writes = pipeline.databases)

  /** Threshold-gated small-file compaction on a cron cadence — the
    * maintenance loop that keeps streaming appends and per-batch merges
    * from accreting unbounded file counts (every micro-batch append and
    * partition-scoped merge adds files; nothing else removes them). Each
    * fire reads ONE cheap file-index count and rewrites to `targetFiles`
    * only past `maxFiles` — built-in hysteresis: after a compaction the
    * next fires are no-ops until appends re-accrete. A missing table is a
    * no-op too (the maintenance entry may be scheduled before first land).
    * Bounded-file-count law under repeated append+tick cycles is tested
    * in ScheduleSpec. The entry declares `db`, so it shares a lane with
    * every tenant that reads or writes that database.
    */
  def compactionEntry(id: String, cronExpr: String, db: String,
                      table: String, maxFiles: Int,
                      targetFiles: Int): Entry = {
    require(targetFiles >= 1 && maxFiles >= targetFiles,
      s"need maxFiles >= targetFiles >= 1, got ($maxFiles, $targetFiles)")
    Entry(id, CronSchedule.parse(cronExpr), (s, _) => {
      if (s.catalog.tableExists(s"$db.$table") &&
          graft.store.Warehouse.fileCount(s, db, table) > maxFiles)
        graft.store.Warehouse.compact(s, db, table, targetFiles)
    }, name = s"${table}_compaction", target = s"$db.$table",
      tags = Map("pipeline" -> "maintenance"), writes = Set(db))
  }

  /** Scheduled incremental materialization: each run backfills every
    * COMPLETE partition from the first covered fire's window through the
    * last's (the "yesterday" run of a daily mart, "last month" of a
    * monthly one) — the reference's cron schedule and partition
    * definitions composed (schedule.py:14-22 +
    * executable_component.py:19-41). Missed fires are NOT dropped: a
    * catch-up run's range spans all of them in one ranged backfill.
    *
    * The entry declares no databases, so it never runs beside another
    * entry: `source` is an opaque function whose reads cannot be known (a
    * mart built from another table, say a tenant's), and a backfill that
    * read a table while another lane overwrote it would drop and rebuild
    * its partitions from a missing or partial source.
    */
  def partitionedEntry(id: String, cronExpr: String,
                       source: SparkSession => org.apache.spark.sql.DataFrame,
                       dateCol: String, grain: PartitionGrain,
                       db: String, table: String): Entry =
    Entry(id, CronSchedule.parse(cronExpr), (s, w) => {
      def windowOf(fire: LocalDateTime): (java.time.LocalDate, java.time.LocalDate) = {
        val d = fire.toLocalDate
        grain match {
          case PartitionGrain.Daily => (d.minusDays(1), d)
          case PartitionGrain.Monthly =>
            (d.withDayOfMonth(1).minusMonths(1), d.withDayOfMonth(1))
        }
      }
      val (from, _) = windowOf(w.first)
      val (_, until) = windowOf(w.last)
      PartitionedMaterializer.backfill(s, source(s), dateCol, grain,
        db, table, from, until)
      ()
    })
}
