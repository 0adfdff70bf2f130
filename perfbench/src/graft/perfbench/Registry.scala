package graft.perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import graft.SparkEntry

/** `registry_mix`: registry queries over the fixed sf0.1 fixtures, one
  * query at a time from a single client thread. Each query is timed in two
  * parts: `build` is the call to `SparkEntry.queries(q)`, which includes
  * any eager work the query does; `deliver` writes the full result to the
  * noop sink, with the content fingerprint observed on the way out.
  */
object Registry {

  /** (family, query) in execution order. */
  val Mix: Seq[(String, String)] = Seq(
    "rowwise" -> "q_redact_pii",
    "graph" -> "q_dedup_clusters",
    "fuzzy" -> "q_fuzzy_vocab_edit1",
    "relational" -> "q_window_latest_by_pk",
    "pipeline" -> "q_mode_watermark_append")

  val Families: Seq[String] = Mix.map(_._1).distinct

  /** The query `--inject-broken` makes fail: the slowest of the mix, so a
    * failure that read as a fast time would show most.
    */
  val Broken = "q_dedup_clusters"

  final case class Timing(query: String, build: Double, deliver: Double,
                          fingerprint: Option[String], error: Option[String])

  /** Build and deliver one query; never throws. */
  def runOne(spark: SparkSession, sf: String, q: String, pass: Int,
             tracer: Option[Tracer]): Timing = {
    def inSpan[T](name: String)(body: => T): T =
      tracer.fold(body)(_.span(name, pass)(body))
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      val (fp, t2) = inSpan(s"query.$q") {
        val df = inSpan("build")(SparkEntry.queries(q)(spark, sf))
        t1 = System.nanoTime()
        inSpan("deliver")(deliver(df, s"pb_${q}_$pass"))
      }
      Timing(q, (t1 - t0) / 1e9, (t2 - t1) / 1e9, Some(fp), None)
    } catch {
      case e: Throwable =>
        val el = (System.nanoTime() - t0) / 1e9
        Timing(q, el, 0.0, None,
          Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300)))
    }
  }

  /** Write every row to the noop sink, fingerprinting through an
    * observation; returns (fingerprint, end time in ns).
    */
  def deliver(df: DataFrame, name: String): (String, Long) = {
    val obs = Observation(name)
    val a = Fingerprint.aggs(Fingerprint.rowHash(df))
    df.observe(obs, a.head, a.tail: _*).write.format("noop").mode("overwrite").save()
    val end = System.nanoTime()
    val m = obs.get
    (Fingerprint.render(m("n").asInstanceOf[Long], m("lo").asInstanceOf[Long],
      m("hi").asInstanceOf[Long]), end)
  }
}

/** The registry workload: each cycle is one pass over [[Registry.Mix]]. */
final class RegistryMix(spark: SparkSession, ctx: Ctx, expected: Map[String, String])
    extends Workload {
  private var sfDir: java.nio.file.Path = _
  /** An empty fixture dir, read by the query `--inject-broken` breaks. */
  private var emptyDir: java.nio.file.Path = _
  /** Latest successful seconds per query, warm-up included. */
  private val lastGood = scala.collection.mutable.Map.empty[String, Double]
  /** Fingerprints seen per query, across every pass. */
  val seen = scala.collection.mutable.LinkedHashMap.empty[String, List[String]]

  /** Copy the sf0.1 fixtures into the run's own temp dir; the copies are
    * byte-identical, so there is nothing to fingerprint.
    */
  def generate(): Seq[(String, org.apache.spark.sql.DataFrame)] = {
    sfDir = Inputs.tmpDir("graft-pb-sf")
    emptyDir = Inputs.tmpDir("graft-pb-empty")
    graft.Tables.all.foreach { t =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(ctx.sf, s"$t.parquet"),
        sfDir.resolve(s"$t.parquet"))
    }
    Nil
  }

  def warmup(): Unit = { cycle(0); () }

  def cycle(i: Int): Cycle = {
    val ops = Registry.Mix.map { case (_, q) =>
      val dir = if (ctx.injectBroken && q == Registry.Broken) emptyDir else sfDir
      // as graft.Bench: serve split-gate frames without their checkpoint
      val t = graft.OracleInputs.withDurability(false)(
        Registry.runOne(spark, dir.toString, q, i, ctx.tracer))
      t.fingerprint.foreach(fp => seen(q) = fp :: seen.getOrElse(q, Nil))
      t.error.foreach(e => Console.err.println(s"[perfbench] $q failed: $e"))
      val ok = t.error.isEmpty && t.fingerprint == expected.get(q)
      if (t.error.isEmpty && !ok)
        Console.err.println(s"[perfbench] $q fingerprint ${t.fingerprint.get} != recorded ${expected.get(q)}")
      if (ok) lastGood(q) = t.build + t.deliver
      Op(q, t.build + t.deliver, ok, Map("build" -> t.build, "deliver" -> t.deliver))
    }
    Cycle(ops.map(_.seconds).sum, ops.size, ops.count(!_.ok), ops)
  }

  /** A query whose fingerprint differs between passes is an engine defect. */
  def check(ledger: Ledger): Unit = Registry.Mix.foreach { case (_, q) =>
    val fps = seen.getOrElse(q, Nil).distinct
    if (fps.size > 1) Console.err.println(s"[perfbench] engine defect: $q fingerprints differ across passes: ${fps.mkString(", ")}")
    ledger.check(s"$q gives the same fingerprint on every pass", fps.size == 1)
  }

  def sourceBytes: Long = Inputs.bytesUnder(sfDir)
  def storedBytes: Long = Inputs.bytesUnder(ctx.warehouse)
  def tableFiles: Seq[Long] = Nil

  /** Sum over the mix of each query's median successful time. A query
    * with no success in the window is charged the larger of its last good
    * time and the sum of the other queries' medians, so a failure never
    * reads as a faster mix.
    */
  override def refreshSeconds(cycles: Seq[Cycle]): Double = {
    val ops = cycles.flatMap(_.ops)
    val medians = Registry.Mix.map { case (_, q) =>
      val ok = ops.filter(o => o.name == q && o.ok).map(_.seconds)
      q -> (if (ok.nonEmpty) Some(Stats.median(ok)) else None)
    }
    val good = medians.flatMap(_._2).sum
    medians.map { case (q, m) => m.getOrElse(math.max(lastGood.getOrElse(q, 0.0), good)) }.sum
  }
}
