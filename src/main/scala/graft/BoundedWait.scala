package graft

import java.util.concurrent.TimeoutException

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

/** Bounded waits for the driver-side pools that fan out independent
  * Spark actions inside one call (fold presence probes, sweep arms). An
  * unbounded wait turns a hang into a silent stall; this turns it into
  * a failure that names the future which did not finish. */
object BoundedWait {

  /** 10 minutes. Each pooled future is one Spark action inside a single
    * query, and the slowest query that uses these pools, whole, took
    * 5.8 s at sf1 (10x the sf0.1 bench scale: `sim_ivfpq_sweep` in
    * BENCH_sf1.json), so this is two orders of magnitude of headroom
    * for healthy runs, and it still fails well inside the 2,670 s the
    * full test suite is allowed, naming the stuck future instead of
    * being killed from outside. */
  val Bound: FiniteDuration = 10.minutes

  /** The results of `named` futures in order, all waited on against ONE
    * deadline `within` from now; throws a TimeoutException naming the
    * first future still unfinished at the deadline. */
  def awaitAll[T](named: Seq[(String, Future[T])],
      within: FiniteDuration = Bound): Seq[T] = {
    val deadline = within.fromNow
    named.map { case (name, f) =>
      try Await.result(f, deadline.timeLeft.max(Duration.Zero))
      catch { case _: TimeoutException =>
        throw new TimeoutException(s"$name did not finish within $within")
      }
    }
  }
}
