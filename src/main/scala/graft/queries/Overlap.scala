package graft.queries

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Overlap two INDEPENDENT pieces of driver-side work (guide §2.6):
  * Spark's scheduler runs several jobs at once — actions are only
  * sequential because driver code calls them sequentially — and most of
  * this suite's multi-stage query bodies are overhead-bound, leaving
  * cores idle between small jobs. `side` runs on its own thread while
  * `main` runs on the caller's; both must be mutually independent (no
  * shared mutable state beyond the thread-safe memos) and should eagerly
  * materialize what they return, or the overlap buys nothing. Nest calls
  * for more than two pieces: `both(a)(both(b)(c))` runs `a`, `b` and `c`
  * at once.
  *
  * Neither piece may request a [[graft.SessionMemo]] key the caller holds
  * (the caller waits on the join while holding it, so the piece would
  * wait forever); a key both pieces request is built once, by whichever
  * asks first, while the other waits.
  *
  * Failures stop the other piece. Each piece's jobs carry a per-call job
  * tag (`graft-overlap-<n>` for the side, `graft-overlap-<n>-main` for
  * `main`, inherited by threads either piece starts), not a job group, so
  * a caller's job group still attributes them. The piece that fails first
  * has the other's tag cancelled until the other ends; its exception is
  * rethrown, with the other's (usually the cancellation) attached as
  * suppressed. No job of either piece outlives the call.
  *
  * Call sites: the `d_curate_emit` dependency chains
  * ([[TextQueries.curateCcnetFrame]] and the emit's tokenizer), the
  * exact/served tiers of `sim_rag_batch`'s fused build and
  * `sim_hard_negatives`, the survivors-only reference of the two ANN
  * delete certificates, the certificate counts of the exactly-once ingest
  * queries (`d_exactly_once_ingest`, `tx_bm25_ingest`), and
  * `StreamQueries.overlapping` (reference work beside a stream drain).
  */
private[graft] object Overlap {

  private val calls = new AtomicLong()

  def both[A, B](side: => A)(main: => B): (A, B) = {
    val sc = SparkSession.active.sparkContext
    val sideTag = s"graft-overlap-${calls.incrementAndGet()}"
    val mainTag = s"$sideTag-main"
    val mainDone = new CountDownLatch(1)
    val firstFailed = new AtomicReference[String]()
    val sideResult = new AtomicReference[Try[A]]()
    // built before `main`'s tag is added: the side inherits the caller's
    // local properties at construction
    val t = new Thread(() => {
      sc.addJobTag(sideTag) // thread-local: tags the side's jobs only
      val a = try Success(side) catch { case e: Throwable => Failure(e) }
      if (a.isFailure && firstFailed.compareAndSet(null, sideTag)) {
        // cancel until main ends: a job it launches after one cancel
        // lands is caught by the next
        var done = false
        while (!done) {
          sc.cancelJobsWithTag(mainTag)
          done = mainDone.await(50, TimeUnit.MILLISECONDS)
        }
      }
      sideResult.set(a)
    }, "graft-overlap")
    t.setDaemon(true)
    t.start()
    sc.addJobTag(mainTag)
    val b = try Right(main) catch { case e: Throwable => Left(e) }
    finally { sc.removeJobTag(mainTag); mainDone.countDown() }
    if (b.isLeft && firstFailed.compareAndSet(null, mainTag))
      while (t.isAlive) { sc.cancelJobsWithTag(sideTag); t.join(50) }
    t.join()
    (sideResult.get, b) match {
      case (Success(a), Right(v)) => (a, v)
      case (Failure(se), Left(me)) if firstFailed.get == sideTag =>
        se.addSuppressed(me); throw se
      case (a, Left(me)) => a.failed.foreach(me.addSuppressed); throw me
      case (Failure(se), Right(_)) => throw se
    }
  }
}
