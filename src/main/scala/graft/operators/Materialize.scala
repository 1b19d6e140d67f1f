package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** The one way an operator materializes an intermediate.
  *
  * Lifecycle contract of [[scoped]]:
  *  - every frame a [[Scope]] materializes is released when the block
  *    exits, whether it returns or throws — a failed `require`, a
  *    completeness gate that throws, or an executor error leaves no
  *    cached block behind;
  *  - what the block returns must therefore not depend on a scoped
  *    frame lazily: an operator returns driver-side values or a frame
  *    it materialized itself, OUTSIDE the scope's bookkeeping (an eager
  *    `localCheckpoint()`, whose blocks are its own and outlive the
  *    scope); releasing a checkpoint's blocks under a lazy consumer
  *    fails that consumer's next action;
  *  - [[Scope.release]] frees superseded loop state before the block
  *    ends (the previous round's frame once the next one is
  *    materialized), so an iterative operator holds one round's
  *    blocks, not all of them.
  *
  * CacheManager entries ([[Scope.persist]]) are released with
  * `unpersist`; checkpoints ([[Scope.checkpoint]]) by unpersisting the
  * RDD under their LogicalRDD leaf ([[GraftBridge.releaseCheckpoint]]) —
  * a checkpointed frame is not in the CacheManager, so `unpersist` on
  * it frees nothing. Both release without blocking, like
  * `Dataset.unpersist()`. */
object Materialize {

  final class Scope private[Materialize] () {
    private val held = mutable.ArrayBuffer.empty[(DataFrame, () => Unit)]

    /** Cache `df` MEMORY_AND_DISK; the first action fills the cache. */
    def persist(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      held += (p -> (() => p.unpersist()))
      p
    }

    /** `localCheckpoint` `df`: the plan truncates to a LogicalRDD leaf
      * over its blocks (computed now when `eager`, else on first use). */
    def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
      val cp = df.localCheckpoint(eager)
      held += (cp -> (() => GraftBridge.releaseCheckpoint(cp)))
      cp
    }

    /** Release `df` — a frame this scope returned from [[persist]] or
      * [[checkpoint]] — before the scope ends. */
    def release(df: DataFrame): Unit = {
      val i = held.indexWhere(_._1 eq df)
      require(i >= 0, "Materialize.release: frame was not materialized by this scope")
      held.remove(i)._2()
    }

    private[Materialize] def releaseAll(): Unit =
      while (held.nonEmpty) held.remove(held.length - 1)._2()
  }

  /** Run `body` with a fresh [[Scope]] and release everything it
    * materialized on exit, success or failure. */
  def scoped[T](body: Scope => T): T = {
    val s = new Scope
    try body(s) finally s.releaseAll()
  }
}
