package graft.analytics

import org.apache.spark.sql.SparkSession

/** Metastore-level table-generation swap: the session-MANAGED branch of
  * [[StoreLifecycle.compact]] (external stores swap directories via
  * [[StoreLifecycle.swapInExternal]], which shares the crash hook). */
object TableSwap {

  /** Injection point for the crash spec: runs INSIDE the exposed
    * window (target renamed aside, gen not yet renamed in). A throw
    * here propagates like a process kill would leave the metastore —
    * no rollback runs, both generations stay on disk, the store name
    * is vacant. Production value is a no-op. */
  private[graft] var betweenRenames: () => Unit = () => ()

  /** Swap a freshly-written generation in for `target` by RENAME-ASIDE:
    * the old generation's data is never deleted until the new one holds
    * the name (a drop-then-rename would delete the managed table's files
    * first and strand the store if the rename failed). Each metastore
    * rename is atomic; the one exposed window — target renamed aside,
    * gen not yet renamed in — leaves BOTH generations intact on disk, so
    * recovery is a loud manual rename, never data loss. */
  private[graft] def swapIn(s: SparkSession, target: String, gen: String): Unit = {
    val aside = target + "_pre_swap"
    s.sql(s"DROP TABLE IF EXISTS $aside")
    s.sql(s"ALTER TABLE $target RENAME TO $aside")
    betweenRenames()
    try s.sql(s"ALTER TABLE $gen RENAME TO $target")
    catch {
      case e: Throwable =>
        // ROLL BACK the aside rename before rethrowing: callers clean up
        // by dropping `gen`, which must never leave the store nameless —
        // without this restore, a failed gen→target rename followed by
        // the caller's DROP gen would destroy the only complete
        // generation (r10 review)
        try s.sql(s"ALTER TABLE $aside RENAME TO $target")
        catch { case e2: Throwable => e.addSuppressed(e2) }
        throw e
    }
    // the swap IS complete here; a failed aside-drop must not abort the
    // caller's post-swap bookkeeping (e.g. compaction's delta drop —
    // skipping that would fold the delta twice on rerun). The leaked
    // aside is reclaimed by the next swap's DROP IF EXISTS.
    try s.sql(s"DROP TABLE $aside")
    catch {
      case e: Throwable => org.slf4j.LoggerFactory.getLogger("graft.analytics")
        .warn(s"swapIn: superseded generation $aside not dropped " +
          "(swap itself is complete; next swap reclaims it)", e)
    }
  }
}
