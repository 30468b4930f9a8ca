package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.DynamicVariable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** Lifetimes of the storage blocks operators pin internally.
  *
  * Several operators persist shared lineage so a frame feeding two
  * consumers computes once (LSH shingle/signature frames, gap-fill
  * input, the interval join's purchase list), and the corpus stages
  * localCheckpoint theirs. The returned result is lazy, so the operator
  * itself can never know when those blocks are safe to drop. The caller
  * does: it opens a [[scoped]] block around the work that builds AND
  * consumes the result, every pin made inside registers into that
  * scope, and closing the scope releases exactly what it registered.
  *
  * A scope is ambient for its body and for the threads the body starts
  * (an inheritable [[DynamicVariable]]), so operators keep their
  * signatures and a request's forked branches pin into the request's
  * scope. Scopes nest: a pin registers into the innermost open one, and
  * one tenant closing its scope never touches another tenant's blocks.
  *
  * A pin made outside any scope is not registered: it gets Spark's own
  * lifetime — `spark.catalog.clearCache()` or `unpersist` for persists,
  * the ContextCleaner (once the frame is garbage) for checkpoints.
  *
  * Checkpoint-backed results are valid only while their scope is open:
  * a checkpoint truncates lineage, so once its blocks are released (or
  * lost with an executor) the result fails with
  * `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND` instead of recomputing.
  */
object Caches {

  /** The pins registered by one [[scoped]] block. Release runs in reverse
    * registration order, once, and swallows per-entry failures (a frame
    * whose SparkSession was since stopped must not abort the caller or
    * strand the later entries).
    */
  private final class Scope {
    private val releases = ArrayBuffer.empty[() => Unit]
    private var closed = false

    def register(release: () => Unit): Unit = synchronized {
      if (closed) throw new IllegalStateException(
        "pin registered into a closed Caches.scoped block: the result outlived its scope")
      releases += release
    }

    def close(): Unit = {
      val pending = synchronized {
        if (closed) Nil
        else { closed = true; val r = releases.reverse.toList; releases.clear(); r }
      }
      pending.foreach(r => try r() catch { case NonFatal(_) => () })
    }
  }

  private val current = new DynamicVariable[Option[Scope]](None)

  /** Hands `release` to the innermost open scope, if any. A closed scope
    * refuses it: the blocks just made are released and the error is
    * rethrown, so a result that outlived its scope never leaks a pin.
    */
  private def register(release: () => Unit): Unit = current.value.foreach { scope =>
    try scope.register(release)
    catch { case e: IllegalStateException => release(); throw e }
  }

  /** Runs `body` in a new scope and releases every pin and checkpoint it
    * registered when `body` returns or throws. Results that read those
    * blocks must be consumed (or materialized elsewhere) inside `body`.
    */
  def scoped[T](body: => T): T = {
    val scope = new Scope
    try current.withValue(Some(scope))(body)
    finally scope.close()
  }

  /** Persist `ds` at `level`, registered into the innermost open scope.
    * `StorageLevel.NONE` pins nothing (operators take it as "the caller
    * manages materialization"), and a frame its caller had already cached
    * is left alone, so the scope never releases a cache it does not own.
    */
  private[graft] def trackedPersist[T](ds: Dataset[T], level: StorageLevel): Dataset[T] = {
    if (level != StorageLevel.NONE && ds.storageLevel == StorageLevel.NONE) {
      ds.persist(level)
      register(() => { ds.unpersist(blocking = false); () })
    }
    ds
  }

  /** Eagerly `localCheckpoint` `df`, registered into the innermost open
    * scope; returns the TRUNCATED frame (a LogicalRDD leaf). The pin
    * ([[trackedPersist]]) and the checkpoint solve different problems: a
    * pin stops a multi-consumer subtree executing once per consumer but
    * keeps the full logical plan under the InMemoryRelation — so a
    * pipeline of nested pins accumulates plan trees that every later
    * planning pass (AQE re-optimization per query stage, CacheManager
    * sameResult probes per registered entry) must re-canonicalize;
    * measured on c6 that driver-side work was 13-19 s of a 24-33 s wall
    * (guide §7.3 "very large plans spend minutes in planning;
    * materialise intermediates"). The checkpoint truncates the lineage
    * outright: downstream plans see a leaf, so planning cost stops
    * compounding with pipeline depth. The trade is fault tolerance of
    * exactly these blocks (a lost executor fails the query instead of
    * recomputing the subtree) — the same trade the connected-components
    * rounds already accept ([[graft.internal.Checkpoints]]).
    *
    * The partition floor defaults to the session's scheduling width: the
    * checkpoint freezes AQE's coalesced partitioning, and a few-MB stage
    * coalesced to 1 partition would serialize every downstream
    * projection (see `Checkpoints.localCheckpointTracked`).
    */
  private[graft] def trackedCheckpoint(df: DataFrame): DataFrame =
    trackedCheckpoint(df, df.sparkSession.sparkContext.defaultParallelism)

  /** [[trackedCheckpoint]] with an explicit partition floor (0: none). */
  private[graft] def trackedCheckpoint(df: DataFrame, minParts: Int): DataFrame = {
    val (out, release) = graft.internal.Checkpoints.localCheckpointTracked(df, minParts)
    register(release)
    out
  }
}
