package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** Driver-side concurrency, in two verbs. Spark's scheduler runs several
  * jobs at once — actions are only sequential because driver code calls
  * them sequentially — and most multi-stage bodies here are
  * overhead-bound, leaving cores idle between small jobs (guide §2.6).
  * Both verbs run their pieces on threads the caller starts, so each
  * piece inherits the caller's Spark local properties (job group, tags,
  * active session), and both join every thread before they return or
  * throw. Pieces must be mutually independent (no shared mutable state
  * beyond the thread-safe memos) and should eagerly materialize what they
  * return, or the overlap buys nothing.
  *
  * No piece may request a [[SessionMemo]] key the caller holds (the
  * caller waits on the join while holding it, so the piece would wait
  * forever); a key two pieces request is built once, by whichever asks
  * first, while the other waits.
  *
  * [[both]] overlaps two pieces of different types, and the first failure
  * CANCELS the other: each piece's jobs carry a per-call job tag
  * (`graft-overlap-<n>` for the side, `graft-overlap-<n>-main` for
  * `main`, inherited by threads either piece starts), not a job group, so
  * a caller's job group still attributes them. The piece that fails first
  * has the other's tag cancelled until the other ends; its exception is
  * rethrown, with the other's (usually the cancellation) attached as
  * suppressed. No job of either piece outlives the call. Nest calls for
  * more than two pieces: `both(a)(both(b)(c))` runs `a`, `b` and `c` at
  * once. Call sites: the `d_curate_emit` dependency chains
  * ([[graft.queries.TextQueries.curateCcnetFrame]] and the emit's
  * tokenizer), the exact/served tiers of `sim_rag_batch`'s fused build and
  * `sim_hard_negatives`, the survivors-only reference of the two ANN
  * delete certificates, the certificate counts of the exactly-once ingest
  * queries (`d_exactly_once_ingest`, `tx_bm25_ingest`), and
  * `StreamQueries.overlapping` (reference work beside a stream drain).
  *
  * [[map]] runs one function over many items and NEVER cancels: after the
  * first failure no further item starts, but items already running
  * finish — a running truncate cut short would leave its destination
  * emptied, and a footer read or file copy is not a Spark job a tag could
  * cancel. Call sites: [[Etl.run]]'s tables (the reference's fail-fast
  * rule, `etl_process.py:27-29`), the K5 footer audit
  * ([[graft.sources.Sinks.countAudit]]) and the clone file copies
  * ([[graft.sources.Sinks.cloneTableViaFileCopy]]).
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

  /** `f` over `items`, results in input order, with at most `width` items
    * running at once on threads the caller starts; zero or one item runs
    * inline on the caller's thread. After the first failure no further
    * item starts, and running items finish uncancelled. Once every thread
    * has ended, the first failure itself is rethrown, with later ones
    * attached as suppressed.
    */
  def map[A, B](items: Seq[A], width: Int)(f: A => B): Seq[B] = {
    require(width >= 1, s"width=$width must be positive")
    if (items.size <= 1) items.map(f)
    else {
      val in = items.toIndexedSeq
      val out = new Array[Any](in.size)
      val next = new AtomicInteger()
      val failures = new ConcurrentLinkedQueue[Throwable]()
      val workers = Seq.fill(math.min(width, in.size))(new Thread(() => {
        var i = next.getAndIncrement()
        while (i < in.size && failures.isEmpty) {
          try out(i) = f(in(i)) catch { case e: Throwable => failures.add(e): Unit }
          i = next.getAndIncrement()
        }
      }, "graft-overlap-map"))
      workers.foreach { t => t.setDaemon(true); t.start() }
      workers.foreach(_.join())
      Option(failures.peek).foreach { first =>
        failures.asScala.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      }
      out.toSeq.asInstanceOf[Seq[B]]
    }
  }
}
