package graft.pipeline

import java.util.concurrent.{Callable, ExecutionException, Executors}
import scala.util.{Failure, Success, Try}

/** Runs thunks on a bounded pool that lives for one call: the shared
  * mechanism of [[TenantRegistry.runAll]] (tenants),
  * [[TenantPipeline.runModels]] (one DAG level) and
  * [[ScheduleRunner.tick]] (write lanes).
  */
private[pipeline] object Parallel {

  /** Run every thunk on a pool of at most `threads` threads and return each
    * one's outcome, in input order, once ALL of them have finished. Waiting
    * for every thunk is the point: a caller that stopped at the first
    * failure would leave siblings still writing on the pool, where a retry
    * races them and their own failures are lost. For the same reason an
    * interrupt of the calling thread does not cut the wait short; it is
    * rethrown as an InterruptedException once every thunk has finished. A
    * fatal error thrown by a thunk comes back as that thunk's Failure.
    */
  def runAll[A](threads: Int, thunks: Seq[() => A]): Seq[Try[A]] =
    if (thunks.isEmpty) Seq.empty
    else {
      val pool = Executors.newFixedThreadPool(math.max(1, math.min(threads, thunks.size)))
      try {
        val futures = thunks.map(t => pool.submit(new Callable[A] { def call(): A = t() }))
        var interrupted = false
        val outcomes = futures.map { f =>
          var out: Option[Try[A]] = None
          while (out.isEmpty)
            try out = Some(Success(f.get()))
            catch {
              case _: InterruptedException => interrupted = true
              case e: ExecutionException => out = Some(Failure(e.getCause))
            }
          out.get
        }
        if (interrupted)
          throw new InterruptedException("interrupted while waiting for pool work")
        outcomes
      } finally pool.shutdown()
    }

  /** [[runAll]], then the results, or one exception naming every failure
    * (each failure attached as a suppressed exception).
    */
  def runAllOrFail[A](threads: Int, what: String,
                      thunks: Seq[(String, () => A)]): Seq[A] = {
    val outcomes = thunks.map(_._1).zip(runAll(threads, thunks.map(_._2)))
    val failures = outcomes.collect { case (name, Failure(e)) => (name, e) }
    if (failures.nonEmpty) {
      val ex = new RuntimeException(s"$what failures: " + failures
        .map { case (name, e) => s"$name: ${e.getMessage}" }.mkString("; "))
      failures.foreach { case (_, e) => ex.addSuppressed(e) }
      throw ex
    }
    outcomes.collect { case (_, Success(a)) => a }
  }
}
