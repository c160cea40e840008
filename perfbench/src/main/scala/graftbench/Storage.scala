package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}

/** Cached-RDD storage (memory + disk) followed through block updates, so
  * the peak a run's caches reach is known even when the program releases
  * them before returning (the resumable runner's per-unit scopes do). */
final class Storage(sc: SparkContext) extends SparkListener {
  private val blocks = mutable.Map[(Int, Int), Long]()
  private var exclude = Set.empty[Int]
  private var current = 0L
  private var peak = 0L
  sc.addSparkListener(this)

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { b =>
      val key = (b.rddId, b.splitIndex)
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      if (!exclude.contains(b.rddId)) {
        current += bytes - blocks.getOrElse(key, 0L)
        peak = math.max(peak, current)
      }
      if (bytes == 0L) blocks.remove(key) else blocks(key) = bytes
    }
  }

  /** Ids of the RDDs that hold cached blocks now. */
  def cachedRddIds: Set[Int] = sc.getRDDStorageInfo.map(_.id).toSet

  /** MB held now by the given cached RDDs. */
  def mbOf(ids: Set[Int]): Double =
    sc.getRDDStorageInfo.filter(r => ids.contains(r.id))
      .map(r => r.memSize + r.diskSize).sum / Storage.MB

  /** Start a new peak window that ignores the `keep` RDDs (the input). */
  def startWindow(keep: Set[Int]): Unit = {
    org.apache.spark.GraftBenchBridge.drainListeners(sc)
    val live = cachedRddIds
    synchronized {
      // an unpersisted RDD's blocks are dropped without block updates
      blocks.keys.filterNot(k => live.contains(k._1)).toList.foreach(blocks.remove)
      exclude = keep
      current = blocks.collect { case ((rdd, _), b) if !keep.contains(rdd) => b }.sum
      peak = current
    }
  }

  /** Peak MB the non-input caches held since `startWindow`. */
  def peakMb: Double = {
    org.apache.spark.GraftBenchBridge.drainListeners(sc)
    synchronized(peak / Storage.MB)
  }

  /** Wait (bounded) until only the `keep` RDDs hold cached blocks, so one
    * run's asynchronous release does not leak into the next run. */
  def awaitOnly(keep: Set[Int], timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!(cachedRddIds -- keep).isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }
}

object Storage {
  val MB: Double = 1024.0 * 1024.0
}
