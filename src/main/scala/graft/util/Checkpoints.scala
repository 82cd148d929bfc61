package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.RddBridge

/** Tracked lineage cuts.
  *
  * Several operators (MinHash/SimHash near-dup, connected components) must
  * cut lineage with `localCheckpoint()`: their self-joins or iterations
  * reference the same subtree repeatedly, and without a cut the subtree is
  * either recomputed per reference or — worse — the self-join's attribute
  * dedup can mis-resolve (observed: different pair sets per run). A
  * localCheckpoint persists its RDD blocks for the life of the session, so
  * a long-lived session running many queries would accumulate dead blocks
  * in the block manager.
  *
  * Release discipline — a released localCheckpoint is UNRECOVERABLE (its
  * lineage is truncated), so releasing must only happen after every action
  * that consumes the cut:
  *  - [[scoped]] wraps one query's build+run and releases exactly the cuts
  *    created inside it (thread-confined — safe with concurrent queries on
  *    other threads). Bench and Verify use this per query.
  *  - [[releaseAll]] is the session-owner hammer: it releases every
  *    untracked-by-a-scope cut in the session. Never call it while another
  *    graft query is mid-flight.
  */
object Checkpoints {
  private val tracked = scala.collection.mutable.Map[Int, org.apache.spark.rdd.RDD[_]]()
  private val activeScope =
    new scala.util.DynamicVariable[Option[scala.collection.mutable.Buffer[org.apache.spark.rdd.RDD[_]]]](None)

  /** Eager localCheckpoint, tracked for release (in the enclosing [[scoped]]
    * block if one is active on this thread, else session-globally). The
    * checkpoint job itself runs without holding any lock. */
  def cut(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint() // eager Spark job — never under the monitor
    RddBridge.backingRdd(out).foreach { r =>
      activeScope.value match {
        case Some(buf) => buf.synchronized(buf += r)
        case None => synchronized { tracked(r.id) = r }
      }
    }
    out
  }

  /** The active scope, capturable for worker threads (r16): [[scoped]] is
    * thread-confined by design, so an operator fanning independent Spark
    * jobs out to a small pool (guide §2.6 — e.g. [[graft.operators
    * .Versioned]]'s per-partition commit rewrites) must carry the scope
    * over explicitly, or its cuts would silently fall to the session-
    * global map and outlive the query. The buffer append in [[cut]] is
    * synchronized, so one scope accepts concurrent cuts safely. */
  private[graft] type Scope =
    Option[scala.collection.mutable.Buffer[org.apache.spark.rdd.RDD[_]]]
  private[graft] def currentScope: Scope = activeScope.value
  private[graft] def inScope[T](s: Scope)(f: => T): T =
    activeScope.withValue(s)(f)

  /** Run one query's build + consuming action(s), then release exactly the
    * cuts it created. Returns `f`'s result. */
  def scoped[T](f: => T): T = {
    val buf = scala.collection.mutable.Buffer[org.apache.spark.rdd.RDD[_]]()
    try activeScope.withValue(Some(buf))(f)
    finally buf.foreach(RddBridge.release)
  }

  /** Release every session-globally tracked cut. Safe only between queries. */
  def releaseAll(): Unit = {
    val rs = synchronized { val v = tracked.values.toList; tracked.clear(); v }
    rs.foreach(RddBridge.release)
  }

  /** Number of currently-tracked (unreleased) session-global checkpoints. */
  def trackedCount: Int = synchronized(tracked.size)
}
