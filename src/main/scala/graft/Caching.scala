package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.storage.StorageLevel

/** Cache policy knob for operators whose returned (lazy) frame reads
  * an intermediate several times — pair generators, k-means corpora.
  *
  * Those operators cannot unpersist what they cache (the consumer
  * hasn't run yet), so a long-lived multi-tenant session needs a way
  * to opt out instead of churning the block manager: pass
  * `StorageLevel.NONE` to skip caching entirely (plans recompute
  * shared branches), or any explicit level (e.g. `DISK_ONLY`) to
  * bound memory. The default matches `Dataset.cache()`. Streaming
  * frames are never persisted (unsupported by Spark).
  *
  * Who releases what: a caller that owns its terminal actions wraps
  * them in [[releasing]], which unpersists every frame its thread
  * stored through [[persisted]] / [[staged]] meanwhile — stage
  * boundaries and operator-internal caches alike — through the
  * persisted handles, never through a cut frame (a cut's own
  * `unpersist()` names a plan no cache entry holds, so it frees
  * nothing). Entries another call had already stored are left alone.
  * Frames persisted outside a [[releasing]] block stay cached until
  * their caller unpersists them or clears the cache.
  */
object Caching {
  /** Same level `Dataset.cache()` uses. */
  val Default: StorageLevel = StorageLevel.MEMORY_AND_DISK

  // per thread, not inherited: a pool thread started inside a
  // releasing block must not keep appending to its buffer
  private val stored = new ThreadLocal[collection.mutable.Buffer[DataFrame]]

  def persisted(df: DataFrame, level: StorageLevel): DataFrame =
    if (level == StorageLevel.NONE || df.isStreaming) df
    else {
      // record only entries this call creates: persist returns `df`
      // itself, the handle that releases them
      if (df.storageLevel == StorageLevel.NONE) Option(stored.get).foreach(_ += df)
      df.persist(level)
    }

  /** Stage-boundary form of [[persisted]] for DEEP multi-stage
    * pipelines (the curation chains): persist the frame and return a
    * frame whose plan is one leaf reading the persisted blocks
    * ([[org.apache.spark.sql.graft.ColumnBridge.cachedLeaf]]). A plain
    * persist leaves the full upstream tree in every downstream plan,
    * and a stage containing a self-join duplicates that subtree PER
    * REFERENCE — an N-stage chain's final action then hands Catalyst
    * an exponentially-unfolded tree (measured: the c6 selection
    * pipeline spent 4.4 s in analysis/planning before its first job).
    * Over the leaf each stage is analyzed once, so planning is
    * O(stages); the boundary is stored once, in its CacheManager
    * entry; and sibling calls that compose the identical stages read
    * the identical leaf, so every stage of theirs — not just the
    * first — matches the cache and shares one materialization.
    * Building the leaf runs the frame's shuffle stages (adaptive
    * execution materializes them to plan the cache scan); its final
    * stage stays lazy.
    *
    * `NONE` opts out of storage and the cut both (the
    * plan-recompute semantics some long-lived sessions prefer). */
  def staged(df: DataFrame, level: StorageLevel): DataFrame =
    if (level == StorageLevel.NONE || df.isStreaming) df
    else ColumnBridge.cachedLeaf(persisted(df, level))

  /** Run `body`, then unpersist every frame this thread newly stored
    * through [[persisted]] / [[staged]] while it ran, last-stored
    * first. For callers whose result no longer reads those frames
    * (reports that return collected numbers). */
  def releasing[T](body: => T): T = {
    val (outer, mine) = (stored.get, collection.mutable.Buffer.empty[DataFrame])
    stored.set(mine)
    try body
    finally { stored.set(outer); mine.reverseIterator.foreach(_.unpersist()) }
  }
}
