package graft.queries

import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration
import scala.util.Try

import org.apache.spark.sql.SparkSession

/** Overlap two INDEPENDENT pieces of driver-side work (guide §2.6):
  * Spark's scheduler runs several jobs at once — actions are only
  * sequential because driver code calls them sequentially — and most of
  * this suite's multi-stage query bodies are overhead-bound, leaving
  * cores idle between small jobs. `side` runs on its own thread while
  * `main` runs on the caller's; both must be mutually independent (no
  * shared mutable state beyond the thread-safe memos) and should eagerly
  * materialize what they return, or the overlap buys nothing.
  *
  * Failures: `side`'s is rethrown from the join. When `main` throws, the
  * side's jobs are cancelled and the side is joined before `main`'s
  * exception is rethrown, with the side's attached as suppressed, so no
  * side job outlives the call. The side's jobs carry a per-call job tag,
  * not a job group, so a caller's job group still attributes them.
  */
private[graft] object Overlap {

  private val calls = new AtomicLong()

  def both[A, B](side: => A)(main: => B): (A, B) = {
    val sc = SparkSession.active.sparkContext
    val tag = s"graft-overlap-${calls.incrementAndGet()}"
    val p = Promise[A]()
    val t = new Thread(() => {
      sc.addJobTag(tag) // thread-local: tags the side's jobs only
      p.complete(Try(side)): Unit
    }, "graft-overlap")
    t.setDaemon(true)
    t.start()
    val b = try main catch {
      case e: Throwable =>
        // cancel until the side ends: a job it launches after one cancel
        // lands is caught by the next
        while (t.isAlive) { sc.cancelJobsWithTag(tag); t.join(50) }
        p.future.value.foreach(_.failed.foreach(e.addSuppressed))
        throw e
    }
    (Await.result(p.future, Duration.Inf), b)
  }
}
