package graft.perfbench

/** Per-layer metrics of a traced window. Counts and seconds are per cycle
  * (window total / cycles) unless the name says otherwise. Every metric is
  * reported for every workload; a layer a workload never calls reads 0.
  * Only work inside a span counts: the benchmark's own jobs between spans
  * (batch delivery, cache resets) carry no span and are left out.
  */
object Layers {

  def compute(w: Workload, cycles: Seq[Cycle], spans: Seq[Span], collector: Collector,
              cores: Int, untracedRefresh: Double): Seq[(String, Double, String)] = {
    val n = math.max(cycles.size, 1).toDouble
    val wall = cycles.map(_.wall).sum
    val execs = collector.executions.filter(_.span != 0L)
    val work = collector.workBySpan - 0L
    def named(name: String) = spans.filter(_.name == name)
    def perCycle(name: String) = named(name).map(_.seconds).sum / n
    def execSum(p: Exec => Boolean)(f: Exec => Double) = execs.filter(p).map(f).sum / n
    def isWrite(raw: Boolean)(e: Exec) = e.kind == "write" && e.db.endsWith("_raw") == raw
    def kind(k: String)(e: Exec) = e.kind == k
    val total = new Work
    work.values.foreach(total.add)

    // pipeline and schedule: a tenant run is a fire
    val fires = named("fire")
    val (fireTailPct, fireTail) = Stats.tail(fires.map(_.seconds))
    val overhead = named("tick").map { t =>
      t.seconds - fires.filter(_.parent == t.id).map(_.seconds).sum }

    // source / extract
    val rawWrites = execs.filter(isWrite(raw = true))
    val rowsRead = rawWrites.map(_.work.rowsRead).sum / n
    val kept = rawWrites.map(_.rowsWritten).sum / n

    // ops: per family, from the query spans and their children
    val byParent = spans.groupBy(_.parent)
    def descendants(s: Span): Seq[Span] = s +: byParent.getOrElse(s.id, Nil).flatMap(descendants)
    val queryOps = cycles.flatMap(_.ops).filter(_.parts.contains("build"))
    def medianPart(q: String, part: String) =
      Stats.median(queryOps.filter(o => o.name == q && o.ok).map(_.parts(part)))
    val families = Registry.Families.flatMap { f =>
      val qs = Registry.Mix.filter(_._1 == f).map(_._2)
      val jobs = spans.filter(s => qs.exists(q => s.name == s"query.$q"))
        .flatMap(descendants).map(s => work.get(s.id).map(_.jobs).getOrElse(0L)).sum / n
      Seq(
        (s"ops.$f.build_s", qs.map(medianPart(_, "build")).sum, "s"),
        (s"ops.$f.deliver_s", qs.map(medianPart(_, "deliver")).sum, "s"),
        (s"ops.$f.jobs", jobs, "count"))
    }
    val queries = Registry.Mix.map { case (_, q) =>
      (s"query.${q}_s", Stats.median(queryOps.filter(o => o.name == q && o.ok).map(_.seconds)), "s")
    }
    val files = w.tableFiles

    Seq(
      ("pipeline.discover_s", named("pipeline.discover").map(_.seconds).sum, "s"),
      ("pipeline.extract_s", perCycle("pipeline.extract"), "s"),
      ("pipeline.models_s", perCycle("pipeline.models"), "s"),
      ("pipeline.concurrency", if (wall > 0) fires.map(_.seconds).sum / wall else 0.0, "ratio"),
      ("schedule.fires", fires.size / n, "count"),
      ("schedule.fire_p50_s", Stats.median(fires.map(_.seconds)), "s"),
      ("schedule.fire_tail_s", fireTail, "s"),
      ("schedule.fire_tail_pct", fireTailPct.toDouble, "percentile"),
      ("schedule.tick_overhead_s", Stats.median(overhead), "s"),
      ("source.rows_read", rowsRead, "count"),
      ("source.bytes_read", rawWrites.map(_.work.bytesRead).sum / n, "bytes"),
      ("extract.rows_kept", kept, "count"),
      ("extract.keep_ratio", if (rowsRead > 0) kept / rowsRead else 0.0, "ratio"),
      ("store.reread_s", execSum(kind("reread"))(_.seconds), "s"),
      ("store.rereads", execSum(kind("reread"))(_ => 1.0), "count"),
      ("store.ddl_s", execSum(kind("ddl"))(_.seconds), "s"),
      ("store.ddl_ops", execSum(kind("ddl"))(_ => 1.0), "count"),
      ("store.raw_write_s", execSum(isWrite(raw = true))(_.seconds), "s"),
      ("store.model_write_s", execSum(isWrite(raw = false))(_.seconds), "s"),
      ("store.rows_written", execSum(kind("write"))(_.rowsWritten.toDouble), "count"),
      ("store.bytes_written", execSum(kind("write"))(_.bytesWritten.toDouble), "bytes"),
      ("store.files_written", execSum(kind("write"))(_.filesWritten.toDouble), "count"),
      ("store.watermark_s", execSum(kind("watermark"))(_.seconds), "s"),
      ("store.files_per_table", if (files.isEmpty) 0.0 else files.sum.toDouble / files.size, "count"),
      ("model.render_s", perCycle("model.render"), "s"),
      ("model.plan_s", execSum(isWrite(raw = false))(_.planSeconds), "s"),
      ("model.exec_s", execSum(isWrite(raw = false))(e => math.max(e.seconds - e.planSeconds, 0.0)), "s"),
      ("spark.executions", execs.size / n, "count"),
      ("spark.jobs", total.jobs / n, "count"),
      ("spark.stages", total.stages / n, "count"),
      ("spark.tasks", total.tasks / n, "count"),
      ("spark.plan_s", execs.map(_.planSeconds).sum / n, "s"),
      ("spark.shuffle_write_bytes", total.shuffleWrite / n, "bytes"),
      ("spark.shuffle_read_bytes", total.shuffleRead / n, "bytes"),
      ("spark.spill_bytes", total.spill / n, "bytes"),
      ("spark.task_busy_s", total.taskBusyMs / 1e3 / n, "s"),
      ("spark.core_util", if (wall > 0) total.taskBusyMs / 1e3 / (wall * cores) else 0.0, "ratio")) ++
      families ++ queries :+
      ("trace.overhead_ratio", if (untracedRefresh > 0) w.refreshSeconds(cycles) / untracedRefresh else 0.0, "ratio")
  }
}
