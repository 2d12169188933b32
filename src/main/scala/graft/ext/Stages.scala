package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Train-once / consume-many stage cache — the engine surface behind
  * shared pipeline artifacts (near-dup component labels, ANN
  * codebooks and code tables, induced BPE merges): build an
  * expensive frame ONCE per (session, name), materialize it with an
  * eager `localCheckpoint`, and hand every consumer the
  * checkpoint-backed frame. Without it, each consumer query replans
  * and re-runs the whole build — and a subtree consumed by several
  * `broadcast()` joins is even recomputed once per consumer inside
  * ONE query (BroadcastExchange reuse needs identical key mode +
  * projection), which made un-memoized PQ training the dominant cost
  * of every PQ search.
  *
  * Semantics:
  *   - `stage(s, name, fingerprint)(build)` returns the cached frame
  *     for (session, name), running `build` at most once. A CHANGED
  *     fingerprint (the caller's hash of the input data — e.g.
  *     [[graft.sources.Tables.fingerprint]] of the backing file)
  *     atomically swaps in a rebuilt entry and unpersists the stale
  *     checkpoint, so a regenerated input replaces rather than leaks.
  *     Callers that fetched the OLD frame just before the swap lose
  *     it (localCheckpoints have no lineage to recompute) —
  *     regenerating inputs while queries over them are in flight is
  *     unsupported.
  *   - `evict(s, name)` drops the entry (and unpersists its
  *     checkpoint) so the next `stage` call rebuilds — the hook a
  *     benchmark uses to time rebuilds, and an operator uses when the
  *     input is known-stale.
  *   - Entries whose SparkContext has stopped are swept on every
  *     call, so a long-lived JVM running several sessions does not
  *     accrete dead checkpointed frames.
  *
  * The build runs inside the CELL's lock, not the map's: a multi-job
  * build inside `ConcurrentHashMap.compute` would block every other
  * key hashing to the same bin for the whole job, and a reentrant
  * stage call (stage B's build consuming stage A) would throw
  * "Recursive update". Distinct stages build concurrently; one
  * stage's concurrent callers serialize on its cell and all receive
  * the same frame.
  *
  * Cluster note: `localCheckpoint` blocks live on executors —
  * right for shared read-mostly artifacts, but a lost executor loses
  * its blocks (no lineage). This cache is in-session only: staging a
  * fault-critical artifact to reliable storage (and reading it back)
  * is the caller's concern.
  */
object Stages {

  private final class StageCell(
      val fp: Long, val sc: org.apache.spark.SparkContext,
      build: () => DataFrame) {
    private var computed: DataFrame = _
    def df: DataFrame = synchronized {
      if (computed == null) computed = build()
      computed
    }
    /** The frame iff the build already ran — eviction must not force
      * a multi-job build just to unpersist its result. */
    def forced: Option[DataFrame] = synchronized(Option(computed))
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, StageCell]()

  private def dropQuietly(cell: StageCell): Unit =
    cell.forced.foreach(d =>
      try d.unpersist() catch { case _: Throwable => () })

  private def keyOf(s: SparkSession, name: String): String =
    s"${s.sparkContext.applicationId}|$name"

  /** The memoized frame for (session, `name`); `build` runs at most
    * once per fingerprint. See the object scaladoc for the contract.
    */
  def stage(s: SparkSession, name: String, fingerprint: Long = 0L)
           (build: => DataFrame): DataFrame = {
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.sc.isStopped) { dropQuietly(e.getValue); it.remove() }
    }
    val key = keyOf(s, name)
    val fresh = new StageCell(fingerprint, s.sparkContext,
      () => build.localCheckpoint(true))
    var cell = cache.putIfAbsent(key, fresh)
    if (cell == null) cell = fresh
    else if (cell.fp != fingerprint) {
      // stale input: swap in the fresh cell, drop the old checkpoint
      cell = if (cache.replace(key, cell, fresh)) {
        dropQuietly(cell); fresh
      } else cache.getOrDefault(key, fresh) // lost a race: reuse winner
    }
    cell.df
  }

  /** Drop (and unpersist) the stage; the next [[stage]] call
    * rebuilds. No-op if absent.
    */
  def evict(s: SparkSession, name: String): Unit =
    Option(cache.remove(keyOf(s, name))).foreach(dropQuietly)
}
