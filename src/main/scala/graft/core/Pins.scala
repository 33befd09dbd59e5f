package graft.core

import org.apache.spark.SparkContext

/** Release of `localCheckpoint` pins. `Dataset.unpersist` cannot free a
  * checkpoint's blocks (the checkpoint RDD never enters the cache
  * manager; only the GC-driven ContextCleaner would eventually reclaim
  * it), so a long-lived stream would keep one block set per batch. */
private[graft] object Pins {

  /** Marks the RDDs persisted now; the returned thunk unpersists exactly
    * the RDDs pinned since the mark. Nesting-safe: each release sees its
    * own baseline, and an outer release skips what an inner one freed.
    * (One pinning scope per session at a time — the foreachBatch
    * contract; a concurrent scope's pins would be released too.) */
  def since(sc: SparkContext): () => Unit = {
    val before = sc.getPersistentRDDs.keySet
    () => (sc.getPersistentRDDs -- before.toSeq)
      .values.foreach(_.unpersist(blocking = false))
  }
}
