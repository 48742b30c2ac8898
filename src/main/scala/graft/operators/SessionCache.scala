package graft.operators

import org.apache.spark.sql.SparkSession

/** Session-scoped build-once artifact cache, keyed by (session, data dir):
  * a built artifact (ANN index, verified pair graph) outlives the query that
  * built it and is shared by every later call in the same session — the
  * "build once, query many" shape indexes exist for. Its callers are the
  * named [[Stage]]s (one cache each) and the two ANN index caches keyed by
  * `dir@<profile>` in Similarity, which a dir-keyed stage would serve for
  * the wrong profile. Entries strongly retain
  * their session, so they are swept once the session's context is stopped
  * (checked on every access) — a static map that never evicted would pin
  * every historical session and its checkpoint blocks for the JVM lifetime.
  *
  * The key uses System.identityHashCode(session) for lookup plus an `eq`
  * check on the cached session: identity hashes can recur after GC, and a
  * hit from a DIFFERENT session must rebuild rather than serve another
  * session's artifact.
  */
private[graft] final class SessionCache[V] {
  SessionCache.register(this)

  private val m =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), (SparkSession, V)]()

  private def sweepStopped(): Unit = {
    val it = m.entrySet().iterator()
    while (it.hasNext) if (it.next().getValue._1.sparkContext.isStopped) it.remove()
  }

  def getOrBuild(spark: SparkSession, dir: String)(build: => V): V = {
    sweepStopped()
    val key = (System.identityHashCode(spark), dir)
    val cur = m.get(key)
    if (cur != null && (cur._1 eq spark)) cur._2
    else {
      // build OUTSIDE the map's bin lock: builds run whole Spark jobs
      // (minutes), and a build that re-enters getOrBuild — a composite
      // artifact building a sub-artifact on the same cache — would throw
      // ConcurrentHashMap's "Recursive update" from inside compute().
      // Two threads racing the same key may both build; the artifacts are
      // deterministic, the first committed entry wins, the loser's work is
      // discarded — safe, just not deduplicated.
      val v = build
      val prev = m.putIfAbsent(key, (spark, v))
      if (prev != null && (prev._1 eq spark)) prev._2
      else {
        // a stale entry from a dead session whose identity hash recurred:
        // replace rather than serve another session's artifact
        if (prev != null) m.put(key, (spark, v))
        v
      }
    }
  }

  /** Drop this session's entry so the next access rebuilds — used when the
    * backing artifact is rewritten (e.g. an index re-persisted over new
    * data) and a cached plan would keep reading the dropped files.
    */
  def invalidate(spark: SparkSession, dir: String): Unit =
    m.remove((System.identityHashCode(spark), dir))

  /** Drop every entry of THIS session whose dir key sits under `dirPrefix`
    * (exact dir match plus derived keys like `dir@profile`).
    */
  private[graft] def invalidatePrefix(spark: SparkSession, dirPrefix: String): Unit = {
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if ((e.getValue._1 eq spark) && e.getKey._2.startsWith(dirPrefix)) it.remove()
    }
  }
}

private[graft] object SessionCache {
  // every cache lives in a package-level object (JVM lifetime), so a plain
  // registry of strong references adds no retention beyond what already exists
  private val registry = new java.util.concurrent.ConcurrentLinkedQueue[SessionCache[_]]()

  private def register(c: SessionCache[_]): Unit = { registry.add(c); () }

  /** Drop EVERY cache's entries for this session under `dirPrefix`. The
    * streaming maintainer ticks call this after observing freshly-landed
    * data in a dir: the documents table is append-only within a session,
    * but once a tick has processed a delta, any batch artifact cached over
    * the pre-append corpus (pair graphs, signatures, labels, LM counts, ANN
    * indexes) is stale and must rebuild on next access — without this, a
    * session mixing maintainer ticks and batch queries over the same dir
    * silently served pre-append results forever.
    */
  private[graft] def invalidateAllFor(spark: SparkSession, dirPrefix: String): Unit =
    registry.forEach(_.invalidatePrefix(spark, dirPrefix))
}
