package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Command, LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call into a program layer. `parent` is 0 for a root span;
  * `run` numbers the benchmark cycle the span belongs to.
  */
final case class Span(id: Long, name: String, parent: Long, run: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. A span tags the Spark jobs its thread starts
  * with a job tag (a Spark local property, inherited by threads the call
  * creates), so [[Collector]] can attribute executions, jobs and stages to
  * the innermost open span.
  */
final class Tracer(spark: SparkSession) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[Span]()
  private val sc = spark.sparkContext

  /** Run `body` inside a span named `name`, a child of the span open on
    * this thread.
    */
  def span[T](name: String, run: Int)(body: => T): T = {
    val prev = open.get
    val s0 = Span(ids.incrementAndGet(), name, Option(prev).map(_.id).getOrElse(0L), run,
      System.nanoTime(), 0L)
    val prevTags = sc.getJobTags()
    sc.clearJobTags()
    sc.addJobTag(Tracer.tag(s0.id))
    open.set(s0)
    try body
    finally {
      done.add(s0.copy(endNs = System.nanoTime()))
      open.set(prev)
      sc.clearJobTags()
      if (prevTags.nonEmpty) sc.addJobTags(prevTags)
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  /** Span time not covered by any of its children (overlapping children
    * count once).
    */
  def selfSeconds(all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sortBy(_._1)
      var covered = 0L
      var (cs, ce) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > ce) { if (ce > cs) covered += ce - cs; cs = a; ce = b }
        else ce = math.max(ce, b)
      }
      if (ce > cs) covered += ce - cs
      s.id -> ((s.endNs - s.startNs - covered) / 1e9)
    }.toMap
  }

  /** Write every span as one JSON line, with the SQL executions and Spark
    * work attributed to it; `t0` anchors start/end seconds.
    */
  def writeJsonl(path: java.nio.file.Path, t0: Long, runId: String, c: Collector): Unit = {
    val all = spans
    val self = selfSeconds(all)
    val execs = c.executions.groupBy(_.span).map { case (k, v) => k -> v.size }
    val work = c.workBySpan
    val lines = all.map { s =>
      val w = work.getOrElse(s.id, new Work)
      f"""{"run_id":"$runId","span":${s.id},"parent":${s.parent},"cycle":${s.run},"name":"${Json.esc(s.name)}","start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f,"self_s":${self(s.id)}%.6f,"executions":${execs.getOrElse(s.id, 0)},"jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},"task_busy_s":${w.taskBusyMs / 1e3}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val TagPrefix = "pbspan-"
  def tag(id: Long): String = TagPrefix + id
  def spanOf(tags: Iterable[String]): Long =
    tags.collectFirst { case t if t.startsWith(TagPrefix) =>
      t.stripPrefix(TagPrefix).toLong }.getOrElse(0L)
}

/** Spark work counted for one span or one execution. */
final class Work {
  var jobs, stages, tasks, taskBusyMs, shuffleWrite, shuffleRead, spill,
    rowsRead, bytesRead = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskBusyMs += o.taskBusyMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill
    rowsRead += o.rowsRead; bytesRead += o.bytesRead
  }
}

/** One root SQL execution (nested executions folded in), classified from
  * its analyzed plan: `write` (a file-table write, with target database),
  * `v2write` (a DataSource V2 write, such as a noop delivery), `ddl` (any
  * other command), `reread` (a count over a table), `watermark` (a max
  * over a table) or `query`.
  */
final case class Exec(id: Long, span: Long, kind: String, db: String,
                      seconds: Double, planSeconds: Double, rowsWritten: Long,
                      bytesWritten: Long, filesWritten: Long, work: Work)

/** SparkListener that attributes jobs, stages, tasks and SQL executions to
  * the span whose job tag they carry. It also reads each execution's
  * QueryExecution off its end event: planning phases from the
  * QueryPlanningTracker, rows/bytes/files from the write command's metrics.
  */
final class Collector extends SparkListener {
  private val stageOwner = new ConcurrentHashMap[Int, (Long, Long)]()
  private val spanWork = new ConcurrentHashMap[Long, Work]()
  private val execWork = new ConcurrentHashMap[Long, Work]()
  private val execInfo = new ConcurrentHashMap[Long, (Long, Long, Long)]() // id -> (span, root, startMs)
  private val parts = new ConcurrentLinkedQueue[Collector.Part]()

  private def work(m: ConcurrentHashMap[Long, Work], k: Long): Work =
    m.computeIfAbsent(k, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val tags = p.flatMap(x => Option(x.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val span = Tracer.spanOf(tags)
    e.stageIds.foreach(s => stageOwner.put(s, (span, exec)))
    bump(span, exec)(_.jobs += 1)
  }

  private def bump(span: Long, exec: Long)(f: Work => Unit): Unit = {
    val w = work(spanWork, span)
    w.synchronized(f(w))
    if (exec >= 0) { val x = work(execWork, exec); x.synchronized(f(x)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOwner.get(e.stageInfo.stageId)).foreach { case (s, x) =>
      bump(s, x)(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOwner.get(e.stageId)).foreach { case (s, x) =>
      val m = e.taskMetrics
      bump(s, x) { w =>
        w.tasks += 1
        w.taskBusyMs += e.taskInfo.duration
        if (m != null) {
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          w.rowsRead += m.inputMetrics.recordsRead
          w.bytesRead += m.inputMetrics.bytesRead
        }
      }
    }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart =>
      execInfo.put(s.executionId, (Tracer.spanOf(s.jobTags),
        s.rootExecutionId.map(_.asInstanceOf[Long]).getOrElse(s.executionId), s.time))
    case e: SparkListenerSQLExecutionEnd =>
      Option(execInfo.get(e.executionId)).foreach { case (span, root, start) =>
        val qe = PerfbenchBridge.queryExecution(e)
        val c = if (qe == null) Collector.Class("query", "", 0.0, 0L, 0L, 0L)
                else Collector.classify(qe)
        parts.add(Collector.Part(e.executionId, root, span, (e.time - start) / 1e3, c))
      }
    case _ => ()
  }

  /** Work attributed to each span id (0 = no span open). */
  def workBySpan: Map[Long, Work] = spanWork.asScala.toMap

  /** Root executions, nested ones folded in: a root is a write when any
    * of its members wrote, and carries the members' write counters.
    */
  def executions: Seq[Exec] = {
    val all = parts.asScala.toSeq
    all.groupBy(_.root).toSeq.flatMap { case (root, members) =>
      members.find(_.id == root).map { r =>
        val c = members.map(_.c).find(_.kind == "write").getOrElse(r.c)
        val work = new Work
        members.foreach(m => Option(execWork.get(m.id)).foreach(work.add))
        Exec(root, r.span, c.kind, c.db, r.seconds, members.map(_.c.plan).sum,
          members.map(_.c.rows).sum, members.map(_.c.bytes).sum,
          members.map(_.c.files).sum, work)
      }
    }.sortBy(_.id)
  }
}

object Collector {

  /** How one execution's plan reads: its kind, the database a write
    * targets, planning seconds, and rows/bytes/files written.
    */
  final case class Class(kind: String, db: String, plan: Double, rows: Long,
                         bytes: Long, files: Long)
  final case class Part(id: Long, root: Long, span: Long, seconds: Double, c: Class)

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** A global aggregate calling `fn`, under any limit or projection that
    * `head()`/`count()` put on top.
    */
  private def isAgg(l: LogicalPlan, fn: String): Boolean = l match {
    case a: Aggregate => a.aggregateExpressions.exists(_.sql.toLowerCase.contains(fn + "("))
    case u if u.children.size == 1 && !u.isInstanceOf[Aggregate] => isAgg(u.children.head, fn)
    case _ => false
  }

  def classify(qe: org.apache.spark.sql.execution.QueryExecution): Class = {
    val plan = qe.tracker.phases.values.map(_.durationMs).sum / 1e3
    val analyzed = scala.util.Try(qe.analyzed).toOption
    val physical = scala.util.Try(qe.executedPlan).toOption.toSeq.flatMap(nodes)
    val writes = physical.collect { case w: DataWritingCommandExec => w }
    if (writes.nonEmpty) {
      def m(k: String) = writes.map(_.metrics.get(k).map(_.value).getOrElse(0L)).sum
      // a CTAS into a new table writes with no catalog table attached; the
      // managed location `<warehouse>/<db>.db/<table>` still names the db
      val db = writes.map(_.cmd).collectFirst {
        case i: InsertIntoHadoopFsRelationCommand =>
          i.catalogTable.flatMap(_.identifier.database)
            .getOrElse(Option(i.outputPath.getParent).map(_.getName.stripSuffix(".db")).getOrElse(""))
      }.getOrElse("")
      Class("write", db, plan, m("numOutputRows"), m("numOutputBytes"), m("numFiles"))
    } else {
      val kind = analyzed match {
        case Some(c: Command) if c.nodeName.contains("AsSelect") => "write"
        case Some(_: V2WriteCommand) => "v2write"
        case Some(_: Command) => "ddl"
        case Some(l) if isAgg(l, "count") => "reread"
        case Some(l) if isAgg(l, "max") => "watermark"
        case _ => "query"
      }
      Class(kind, "", plan, 0L, 0L, 0L)
    }
  }
}
