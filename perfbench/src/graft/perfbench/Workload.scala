package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.DataFrame

/** Settings shared by a run's workload and its measuring loop. `tracer` is set
  * only during the traced window.
  */
final class Ctx(val seed: Long, val sf: String, val cores: Int, val warehouse: Path,
                val injectBroken: Boolean) {
  var tracer: Option[Tracer] = None
}

/** One operation inside a cycle: a scheduled fire or a registry query.
  * `parts` splits its seconds (build / deliver).
  */
final case class Op(name: String, seconds: Double, ok: Boolean,
                    parts: Map[String, Double] = Map.empty)

/** One timed unit of a workload: a refresh, a tick or a pass over the
  * query mix. `attempted`/`failed` count its operations.
  */
final case class Cycle(wall: Double, attempted: Int, failed: Int, ops: Seq[Op]) {
  def ok: Boolean = failed == 0
}

/** Operation and check accounting for a run. */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  def cycle(c: Cycle): Unit = { attempted += c.attempted; failed += c.failed }

  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what; Console.err.println(s"[perfbench] check failed: $what") }
  }
}

trait Workload {
  /** Write the run's inputs into fresh temp dirs; returns the generated
    * frames, whose fingerprints show that generation is deterministic.
    */
  def generate(): Seq[(String, DataFrame)]

  /** Untimed work that brings the JVM and the warehouse to steady state. */
  def warmup(): Unit

  def cycle(i: Int): Cycle

  def check(ledger: Ledger): Unit

  def sourceBytes: Long
  def storedBytes: Long

  /** Data files per stored table after the last cycle. */
  def tableFiles: Seq[Long]

  /** The workload's refresh time over a window of cycles: the median wall
    * time of the successful cycles. With none, the mean cycle time scaled
    * by attempted / succeeded operations, so failures never read as a
    * faster refresh.
    */
  def refreshSeconds(cycles: Seq[Cycle]): Double = {
    val ok = cycles.filter(_.ok).map(_.wall)
    if (ok.nonEmpty) Stats.median(ok)
    else {
      val attempted = cycles.map(_.attempted).sum
      val succeeded = attempted - cycles.map(_.failed).sum
      cycles.map(_.wall).sum / cycles.size * attempted / math.max(succeeded, 1)
    }
  }

  /** Typical latency of one operation the client waits on (a scheduled
    * fire or a registry query): the geometric mean, over operation kinds
    * (tenants or queries), of each kind's median seconds. Every kind moves
    * it in proportion to its own change, and no kind's noise can flip it to
    * a neighbour's value, as a pooled median over unlike operations can. A
    * failed operation counts as a whole [[refreshSeconds]], longer than any
    * one operation, so failures never read as faster.
    */
  def opSeconds(cycles: Seq[Cycle]): Double = {
    lazy val failed = refreshSeconds(cycles)
    val medians = cycles.flatMap(_.ops).groupBy(_.name).values
      .map(os => Stats.median(os.map(o => if (o.ok) o.seconds else failed)))
    if (medians.isEmpty) 0.0 else math.exp(medians.map(math.log).sum / medians.size)
  }
}
