package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The swap / release / compare-and-release discipline that q19, q39 and
  * the trainer share through [[PinSlot]]; the operator-level gates
  * (BlockEvictionSpec, ConcurrentHandoffSpec, VerifyLoopSpec) drive it
  * through real queries.
  */
class PinSlotSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def pinned(): RDD[Int] =
    spark.sparkContext.parallelize(1 to 4).persist(StorageLevel.MEMORY_ONLY)

  private def live(r: RDD[_]): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(r.id)

  test("PinSlot: swap frees the replaced pin, releaseIf frees only the live one") {
    val slot = new PinSlot
    val (a, b, c) = (pinned(), pinned(), pinned())
    slot.swap(a)
    slot.swap(a)
    assert(live(a), "re-swapping the live pin must keep it")
    slot.swap(b)
    assert(!live(a) && live(b), "swap must free the pin it replaces")
    slot.releaseIf(a)
    assert(live(b), "a stale owner's releaseIf must not free the newer pin")
    slot.releaseIf(b)
    assert(!live(b), "the owner's releaseIf frees its own live pin")
    slot.swap(c)
    slot.release()
    assert(!live(c), "release frees the live pin")
    slot.release()
    slot.releaseIf(null) // empty slot: both are no-ops
  }
}
