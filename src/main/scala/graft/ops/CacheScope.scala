package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import scala.util.control.NonFatal

/** Cache-lifecycle scope for op-internal persists.
  *
  * Several ops persist an intermediate relation that feeds multiple
  * consumers of THEIR OWN plan (the minhash shingle table, the
  * decontamination n-gram explosion, the boilerplate per-(doc,gram)
  * counts, ...). The persist is load-bearing — without it the expensive
  * subplan recomputes per consumer — but the handle never escapes the
  * op, so a long-lived caller (the reference's runPipeline O7
  * guaranteed-cleanup semantics, src/index.ts:537-552) invoking ops in
  * sequence would accumulate storage for the life of the session.
  *
  * This object closes that gap with a DYNAMIC SCOPE, so no op signature
  * changes: ops route persists through [[CacheScope.persist]]; a
  * lifecycle owner (PipelineRunner.run, a spec, any library caller)
  * wraps its work in [[CacheScope.scoped]], and every persist acquired
  * inside the body is released in `finally` — error paths included.
  * OUTSIDE any scope, `persist` is exactly `df.persist()`: the bench
  * harness keeps its family-level cache-sharing policy (identical
  * persisted subplans dedup via the cache manager; families are dropped
  * wholesale at family boundaries — Bench.scala), and nothing changes
  * for existing callers.
  *
  * Already-cached plans are NOT re-registered: if the cache manager
  * reports a storage level for the plan (persisted by an enclosing
  * scope, by a sibling query of the same bench family, or by the
  * caller), the scope leaves its lifecycle to whoever persisted it —
  * a nested scope can never yank a cache out from under its owner.
  *
  * Scopes are per-thread (ops build their plans on the calling thread).
  * Work handed to other threads — streaming micro-batch closures — is
  * outside the scope by design and keeps its own explicit
  * try/finally-release discipline (StreamQueries, Merge, BucketedTarget).
  * Consumers must run their actions INSIDE the scope: at scope exit the
  * plan is still valid but recomputes from source.
  */
object CacheScope {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  final class Scope private[CacheScope] () {
    private val acquired = scala.collection.mutable.ArrayBuffer[DataFrame]()
    private[CacheScope] def register(df: DataFrame): Unit = acquired += df

    /** Unpersist everything acquired in this scope, newest first (a
      * later persist may read through an earlier one). Idempotent; a
      * non-fatal failure is logged and skipped — release runs on error
      * paths.
      */
    def release(): Unit = {
      acquired.reverseIterator.foreach { df =>
        try df.unpersist()
        catch { case NonFatal(e) => log.warn(s"CacheScope release: dropping $e") }
      }
      acquired.clear()
    }
  }

  private val active = new ThreadLocal[List[Scope]] {
    override def initialValue: List[Scope] = Nil
  }

  /** Persist `df` (MEMORY_AND_DISK, Spark's default) and, when a scope
    * is active on this thread, register it for release at scope exit.
    * No-op (and no registration) when the plan is already cached — see
    * the ownership rule in the class doc.
    */
  def persist(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist()
      active.get.headOption.foreach(_.register(df))
    }
    df
  }

  /** Chain-position drop-in for `.persist()`: `df.scopedPersist()` ≡
    * `CacheScope.persist(df)`.
    */
  implicit final class ScopedPersist(private val df: DataFrame) extends AnyVal {
    def scopedPersist(): DataFrame = CacheScope.persist(df)
  }

  /** Run `body` under a fresh scope; release every persist acquired in
    * it when the body returns or throws. Nests: the innermost scope
    * owns new persists.
    */
  def scoped[T](body: => T): T = {
    val s = new Scope
    active.set(s :: active.get)
    try body
    finally {
      active.set(active.get.tail)
      s.release()
    }
  }
}
