package graft.runner

import java.util.concurrent.{ExecutionException, Executors, Future, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.collection.mutable.ArrayBuffer

/** The concurrent branches of one request: a thread pool with one
  * thread per branch, so a forked branch never queues behind another.
  * Spark sessions accept actions from several threads at once; each
  * branch's jobs then share the executor cores with the caller's.
  *
  * Failure contract: the first failure wins. A branch records its error
  * the moment it fails, the caller records its own through [[settle]],
  * and once a failure is recorded [[fork]] launches nothing more and
  * rethrows it, so a failed request stops at its next fork point.
  * [[join]] and [[settle]] both wait for EVERY forked branch, so nothing
  * a branch writes can land after the caller's terminal status.
  *
  * Not thread-safe for callers: fork, join and settle run on the one
  * thread that owns the request.
  */
private[runner] final class Branches(threads: Int, name: String) {

  private val started = ArrayBuffer.empty[Future[_]]
  private val firstFailure = new AtomicReference[Throwable]()
  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    private val n = new AtomicInteger()
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"$name-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  private def fail(e: Throwable): Throwable = {
    if (!firstFailure.compareAndSet(null, e) && (firstFailure.get ne e))
      firstFailure.get.addSuppressed(e)
    firstFailure.get
  }

  /** Start `body` on its own thread; the returned handle waits for it and
    * returns its value (or rethrows its failure). */
  def fork[T](body: => T): () => T = {
    Option(firstFailure.get).foreach(e => throw e)
    require(started.size < threads, s"$name: more than $threads branches forked")
    val f = pool.submit(() => try body catch { case e: Throwable => fail(e); throw e })
    started += f
    () => try f.get() catch { case e: ExecutionException => throw e.getCause }
  }

  private def awaitAll(): Unit = started.foreach { f =>
    try f.get() catch { case _: ExecutionException => () }
  }

  /** Wait for every branch; rethrow the first failure, if any. */
  def join(): Unit = {
    awaitAll()
    Option(firstFailure.get).foreach(e => throw e)
  }

  /** Failure path: record the caller's own error `e`, wait for every
    * branch, and return the request's first failure. */
  def settle(e: Throwable): Throwable = {
    fail(e)
    awaitAll()
    firstFailure.get
  }

  /** Stop the pool's threads. Every branch has finished by now (the
    * caller joins or settles first), so the threads exit at once. */
  def close(): Unit = {
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.MINUTES)
    ()
  }
}
