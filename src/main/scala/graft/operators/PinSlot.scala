package graft.operators

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.rdd.RDD

import scala.util.control.NonFatal

/** Holder of one cross-call RDD pin: the persisted intermediate an
  * operator's lazy result plan still reads after the call returns (q19's
  * shingle cache, q39's star forest, the trainer's gram counts). The next
  * call's [[swap]] or an eager [[release]] frees it, so at most one pin
  * per slot lives per JVM.
  *
  * The pin is a PLAIN per-call-owned RDD persist, never a Dataset cache.
  * A Dataset cache is keyed by canonicalized plan and so shared across
  * concurrent same-input calls; releasing it while a sibling's retained
  * InMemoryTableScan can still execute strands an unreachable rebuilt
  * copy (CachedRDDBuilder re-persists after clearCache, and with the
  * CacheManager entry gone no later unpersist finds it — caught by
  * ConcurrentHandoffSpec). An RDD unpersist is terminal: a post-release
  * recompute runs storage-free instead of re-registering.
  *
  * Every unpersist is best-effort: the pin may belong to a STOPPED
  * context (test teardown, driver restart) whose block manager refuses
  * the call, and the new context owes nothing to those blocks.
  */
private[graft] final class PinSlot {
  private val ref = new AtomicReference[RDD[_]](null)

  /** Install `r` as the live pin and release the previous one (unless it
    * is `r` itself).
    */
  def swap(r: RDD[_]): Unit = {
    val prev = ref.getAndSet(r)
    if (prev ne r) PinSlot.unpersist(prev)
  }

  /** Release the live pin, if any. */
  def release(): Unit = PinSlot.unpersist(ref.getAndSet(null))

  /** Release `r` only if it is still the live pin: a call that owns `r`
    * must not free a newer call's pin that has since replaced it.
    */
  def releaseIf(r: RDD[_]): Unit =
    if (r != null && ref.compareAndSet(r, null)) PinSlot.unpersist(r)
}

private[graft] object PinSlot {
  /** Best-effort terminal unpersist; null is a no-op. */
  def unpersist(r: RDD[_]): Unit =
    if (r != null) {
      try r.unpersist(false) catch { case NonFatal(_) => () }
    }
}
