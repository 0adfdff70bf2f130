package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one process.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --sf <sf0.1 dir> --expected <tsv> --out <dir>
  *        [--inject-broken] [--check-generation] [--record-expected <tsv>]
  * }}}
  *
  * Set-up (timed as `setup_s`): session start, one input generation and
  * untimed warm-up. Then cycles run until `--seconds`
  * have passed and at least [[MinCycles]] ran. With `--trace 1` the window
  * is split: the
  * first half runs untraced, the second half traced, and per-layer
  * metrics come from the traced half only. Output checks follow. The last
  * stdout line is the result object.
  */
object Main {

  val Workloads: Seq[String] = Seq("elt_append", "registry_mix")

  /** Cycles a window always measures, so one slow cycle cannot move a median. */
  val MinCycles = 3

  def main(args: Array[String]): Unit = {
    val o = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = o("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o.getOrElse("trace", "0") == "1"
    val out = Paths.get(o("out"))
    val t0 = System.nanoTime()

    val cores = Runtime.getRuntime.availableProcessors()
    val warehouse = graft.TempDirs.create("graft-pb-wh")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val ctx = new Ctx(seed, o("sf"), cores, Paths.get(warehouse), args.contains("--inject-broken"))
    val w: Workload = workload match {
      case "elt_append" => new Elt(spark, ctx)
      case "registry_mix" => new RegistryMix(spark, ctx, readExpected(o("expected")))
    }
    val ledger = new Ledger

    // ---- set-up ----
    val g0 = System.nanoTime()
    val frames = w.generate()
    val genS = (System.nanoTime() - g0) / 1e9
    if (args.contains("--check-generation")) {
      // untimed: a second generation with the same seed must fingerprint alike
      def prints(fs: Seq[(String, org.apache.spark.sql.DataFrame)]) =
        fs.map { case (n, df) => s"$n=${Fingerprint.of(df)}" }
      val gens = Seq(prints(frames), prints(w.generate()))
      println(s"""{"generation":[${gens.map(_.map("\"" + _ + "\"").mkString("[", ",", "]")).mkString(",")}]}""")
      ledger.check("generation is deterministic for the seed", gens.distinct.size == 1)
    }
    val warm0 = System.nanoTime()
    w.warmup()
    val warmS = (System.nanoTime() - warm0) / 1e9
    resetCaches(spark)
    val setupS = sessionS + genS + warmS

    // ---- measurement ----
    def window(limit: Double, first: Int): Seq[Cycle] = {
      val start = System.nanoTime()
      val cycles = scala.collection.mutable.ArrayBuffer.empty[Cycle]
      while (cycles.size < MinCycles || (System.nanoTime() - start) / 1e9 < limit) {
        val c = w.cycle(first + cycles.size)
        ledger.cycle(c)
        cycles += c
        resetCaches(spark)
      }
      cycles.toSeq
    }
    val steal0 = HostCpu.sample()
    val untraced = window(if (traced) seconds / 2 else seconds, 1)
    val stealPct = HostCpu.stealPercent(steal0, HostCpu.sample())
    val refreshS = w.refreshSeconds(untraced)

    val layers: Seq[(String, Double, String)] = if (!traced) Nil else {
      val collector = new Collector
      spark.sparkContext.addSparkListener(collector)
      val tracer = new Tracer(spark)
      ctx.tracer = Some(tracer)
      val tc = window(seconds / 2, untraced.size + 1)
      ctx.tracer = None
      org.apache.spark.sql.PerfbenchBridge.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(collector)
      tracer.writeJsonl(out.resolve(s"spans-$workload-seed$seed.jsonl"), t0,
        s"$workload-seed$seed", collector)
      Layers.compute(w, tc, tracer.spans, collector, cores, refreshS)
    }

    // ---- checks and end state ----
    val c0 = System.nanoTime()
    w.check(ledger)
    val checkS = (System.nanoTime() - c0) / 1e9
    val stored = w.storedBytes.toDouble / math.max(w.sourceBytes, 1L)
    System.gc(); Thread.sleep(200); System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory - rt.freeMemory) / 1048576.0

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("refresh_s", refreshS, "s"),
      ("op_geomean_s", w.opSeconds(untraced), "s"),
      ("success_rate", 1.0 - ledger.failed.toDouble / math.max(ledger.attempted, 1L), "ratio"),
      ("stored_bytes_ratio", stored, "ratio"),
      ("heap_retained_mb", heapMb, "MB"))
    val metrics =
      if (traced) layers :+ ("error_rate", ledger.failed.toDouble / math.max(ledger.attempted, 1L), "ratio")
      else e2e
    val detail = Seq(
      "\"workload\":\"" + workload + "\"", s""""seed":$seed""",
      s""""cycles":${untraced.size}""",
      s""""cycle_s":[${untraced.map(c => Json.num(c.wall)).mkString(",")}]""",
      s""""op_s":{${untraced.flatMap(_.ops).groupBy(_.name).toSeq.sortBy(_._1).map { case (n, os) =>
        "\"" + Json.esc(n) + "\":[" + os.map(op => Json.num(op.seconds)).mkString(",") + "]" }.mkString(",")}}""",
      s""""setup_parts_s":{"session":${Json.num(sessionS)},"generate":${Json.num(genS)},"warmup":${Json.num(warmS)}}""",
      s""""checks_s":${Json.num(checkS)},"elapsed_s":${Json.num((System.nanoTime() - t0) / 1e9)}""",
      s""""host_steal_pct":${Json.num(stealPct)}""",
      s""""failures":[${ledger.failures.map(f => "\"" + Json.esc(f) + "\"").mkString(",")}]""") ++
      (if (traced) Nil else e2e.map { case (k, v, _) => "\"" + k + "\":" + Json.num(v) })
    println(s"""{"detail":{${detail.mkString(",")}}}""")
    o.get("record-expected").foreach(p => w match {
      case r: RegistryMix => Files.write(Paths.get(p), r.seen.toSeq.map { case (q, fps) =>
        s"$q\t${fps.head}" }.asJava)
      case _ => ()
    })
    val body = metrics.map { case (k, v, u) =>
      "\"" + k + "\":{\"value\":" + Json.num(v) + ",\"unit\":\"" + u + "\"}" }.mkString(",")
    println(s"""{"correct":${ledger.failed == 0},"attempted":${ledger.attempted},"failed":${ledger.failed},"metrics":{$body}}""")
    spark.stop()
  }

  /** Drop cached plans and frames between cycles, as graft.Bench does. */
  private def resetCaches(spark: SparkSession): Unit = {
    graft.ops.PlanCache.release(spark)
    spark.catalog.clearCache()
  }

  private def readExpected(path: String): Map[String, String] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(_.split("\t")).collect { case Array(q, fp) => q -> fp }.toMap
}
