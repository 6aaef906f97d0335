package graft

import org.apache.spark.sql.Dataset

/** Registry for intra-query materialization barriers.
  *
  * Several operators `persist()` a computed intermediate (signature
  * tables, sign-bit projections, cell assignments) purely so Catalyst's
  * projection collapse cannot inline an expensive expression chain into
  * every downstream consumer. Those barriers must outlive the operator
  * call — the returned DataFrame's plan reads from them lazily — so the
  * operator itself can never `unpersist()`. Without a scope, a process
  * that runs many queries (the bench harness, Verify, a notebook
  * session) accumulates dead cached blocks that squeeze execution
  * memory (measured in round 2: two queries with UNCHANGED plans slowed
  * 4-6x purely from ~40 earlier queries' leftover cache).
  *
  * `barrier(ds)` persists and registers; `release()` unpersists
  * everything registered — call it once the frames returned since the
  * last release have been fully consumed (written out / collected).
  * Operators that can scope their own cache (eager loops like
  * connected components) still unpersist locally and never register.
  */
object CacheScope {
  private val live = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[Dataset[_], java.lang.Boolean]())

  private val disabled = new ThreadLocal[java.lang.Boolean] {
    override def initialValue: java.lang.Boolean = false
  }

  /** Persist `ds` as a barrier and register it for the next `release()`.
    * If a semantically identical plan is already registered (the same
    * operator invoked again, or two operators sharing a signature
    * table), the LIVE dataset is returned instead of re-persisting —
    * re-persist would hit the CacheManager's "already cached" warning
    * and hide genuine cache reuse.
    */
  def barrier[T](ds: Dataset[T]): Dataset[T] =
    if (disabled.get) ds
    else live.synchronized {
      val plan = ds.queryExecution.analyzed
      val it = live.iterator()
      while (it.hasNext) {
        val d = it.next()
        if (d.queryExecution.analyzed.sameResult(plan))
          return d.asInstanceOf[Dataset[T]]
      }
      ds.persist()
      live.add(ds)
      ds
    }

  /** Build a plan with barriers as no-ops — plan-shape tests need the
    * exchanges a barrier would hide inside an InMemoryRelation. Never
    * EXECUTE heavy operators under this (the barriers exist to stop
    * Catalyst's projection collapse from re-inlining expensive chains).
    */
  def uncached[T](body: => T): T = {
    disabled.set(true)
    try body finally disabled.set(false)
  }

  private val memos = new java.util.concurrent.ConcurrentHashMap[String, Any]()
  // checkpoint RDDs backing memoized frames: unpersisted EXPLICITLY on
  // release — a localCheckpoint block is droppable only via the
  // ContextCleaner's GC-driven path otherwise, which is nondeterministic
  // (CacheHygieneSpec saw final CC label tables survive a 60 s GC loop)
  private val memoRdds = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.rdd.RDD[_], java.lang.Boolean]())

  /** Memoize an EAGERLY-computed frame (one whose construction runs
    * driver-side actions — the connected-components fixpoint) for the
    * lifetime of the scope. `barrier` can't help those: calling the
    * operator again re-RUNS the loop before there is any plan to
    * dedup. The memo is how a production pipeline stages them — compute
    * the cluster-label table once, let every downstream consumer (the
    * corpus anti-join, the ensemble, a repeated bench run) read the
    * staged result. Cleared by `release()`; bypassed under `uncached`
    * (plan-shape tests need the raw construction).
    */
  def memo[T](key: String)(build: => T): T =
    if (disabled.get) build
    else memos.computeIfAbsent(key, _ => {
      val v = build
      v match {
        case ds: Dataset[_] => trackCheckpoints(ds)
        case _ => ()
      }
      v
    }).asInstanceOf[T]

  /** Register the checkpoint RDDs a frame reads from, so `release()`
    * drops their blocks DETERMINISTICALLY — a localCheckpoint block is
    * otherwise only droppable via the ContextCleaner's GC-driven path,
    * which can outlive any bounded wait (observed: a final CC label
    * table surviving a 60 s GC loop). Eager fixpoints call this on
    * their result; `memo` calls it on every staged frame.
    */
  def trackCheckpoints(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => memoRdds.add(l.rdd)
      case _ => ()
    }

  /** Unpersist every registered barrier. Safe to call at any time the
    * caller no longer needs frames produced before this point; barriers
    * are re-established lazily if such a frame is re-executed.
    */
  def release(): Unit = {
    live.forEach(d => d.unpersist(false))
    live.clear()
    memos.clear()
    // A released checkpoint cannot re-execute (lineage is truncated), so a
    // memoized frame held across release() is invalid — same consumption
    // contract as barriers, enforced rather than implied.
    memoRdds.forEach(_.unpersist(false))
    memoRdds.clear()
  }
}
