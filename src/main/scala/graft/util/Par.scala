package graft.util

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.util.{Failure, Try}

/** Two-thunk driver-side overlap (optimization guide §2.6): Spark's
  * scheduler runs several jobs at once inside one application — actions
  * are only sequential because driver code calls them sequentially, so
  * two INDEPENDENT eager materializations (localCheckpoint pins, staged
  * table writes) launched from two driver threads back-fill each
  * other's task tails.
  *
  * Failure contract (r16, the removeFromSignatureIndex ADVICE fix):
  * BOTH outcomes are collected before anything is rethrown — the old
  * fail-fast Await shape rethrew the first failure while the sibling
  * job kept writing in the background with no cancellation, so a caller
  * retry could race the orphaned work. Here a failed side never leaves
  * a still-running sibling behind: the first failure (in argument
  * order) is rethrown only after both thunks have terminated. */
object Par {
  def both[A, B](fa: => A, fb: => B): (A, B) = {
    val f1 = Future(Try(fa))
    val f2 = Future(Try(fb))
    val r1 = Await.result(f1, Duration.Inf)
    val r2 = Await.result(f2, Duration.Inf)
    (r1, r2) match {
      case (Failure(e), _) => throw e
      case (_, Failure(e)) => throw e
      case _ => (r1.get, r2.get)
    }
  }

  /** [[both]] over any number of side effects, under the same failure
    * contract; a lone thunk runs on the calling thread. */
  def all(thunks: Seq[() => Unit]): Unit = thunks match {
    case Seq(t) => t()
    case _ =>
      thunks.map(t => Future(Try(t())))
        .map(Await.result(_, Duration.Inf))
        .collectFirst { case Failure(e) => throw e }
  }
}
