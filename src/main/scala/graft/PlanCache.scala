package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Prepared-plan cache for the serving surface ([[SparkEntry.queries]]).
  *
  * Building a query's DataFrame costs 10-45 ms of pure driver work per
  * call — plan assembly, serving-store sidecar reads, catalog existence
  * checks — paid on EVERY invocation although the result is a function
  * of (corpus state, query) only. That is the classic prepared-statement
  * problem, and this is the classic answer: memoize the built DataFrame
  * per (session, query, corpus dir), guarded by a corpus STAMP (entry
  * count + name / length / nanosecond-mtime fold over the dir's parquet
  * payload — [[Tables.listingStamp]], the fold table plans are keyed
  * by, ~0.1 ms). A corpus swap changes the stamp and misses; a dir whose
  * listing yields NO parquet tables never caches at all (a layout the
  * stamp cannot see must not be served a constant-stamp plan).
  *
  * Retention: a memoized DataFrame strongly references the session it
  * was built against — when the serving lane does not engage, that is
  * the caller's own session, so weak-keying on the session would be
  * self-defeating (the value would pin its own key, the documented
  * WeakHashMap value→key trap). Instead the per-session maps are keyed
  * by a JVM-unique session id in a bounded LRU: at most [[MaxSessions]]
  * sessions' plans are retained, the eldest evicted entry releasing its
  * session for collection. The plans themselves are a handful of
  * analyzed trees per session — bytes, not data.
  *
  * What this does NOT skip: analysis/optimization of the action tree,
  * codegen, and execution — an action on the memoized frame replans and
  * re-executes in full; only CONSTRUCTION is cached. Serving-store
  * generations are fingerprint-keyed by the same corpus bytes this
  * stamp covers, so only a commit under an unchanged corpus — a
  * compaction, an IVF refresh, a stream fold under an unchanged
  * fingerprint, a same-fingerprint repair — can leave a memoized plan
  * on a superseded generation. That generation stays readable for one
  * more commit only, so the store commit
  * ([[graft.operators.ServingStore]]) calls [[invalidate]] whenever it
  * stamps the fingerprint already committed. */
object PlanCache {
  /** Upper bound on sessions with retained plans; evicting the eldest
    * drops the only cache-side strong reference to that session. */
  private val MaxSessions = 32

  private type PerSession =
    scala.collection.concurrent.TrieMap[(String, String), (Long, DataFrame)]

  private val memo =
    new java.util.LinkedHashMap[java.lang.Long, PerSession](16, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[java.lang.Long, PerSession]): Boolean = size() > MaxSessions
    }

  /** Session identity WITHOUT a session reference in the memo: each
    * session gets a JVM-unique id; the id→plans LRU never references
    * the session itself, so this map's weak keys stay collectable (its
    * values are bare Longs — no value→key cycle). */
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Long]())
  private val nextSessionId = new java.util.concurrent.atomic.AtomicLong(0L)

  private def sessionId(spark: SparkSession): java.lang.Long =
    sessionIds.synchronized {
      var id = sessionIds.get(spark)
      if (id == null) {
        id = java.lang.Long.valueOf(nextSessionId.incrementAndGet())
        sessionIds.put(spark, id)
      }
      id
    }

  /** [[Tables.listingStamp]] over the dir's top-level `*.parquet`
    * tables: [[Tables.NoStamp]] when it has none. */
  private[graft] def dirStamp(dir: String): Long =
    Tables.listingStamp(Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq)

  def cached(name: String,
      f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (spark, dir) => {
      val stamp = dirStamp(dir)
      // a layout the stamp is blind to builds fresh every call
      if (stamp == Tables.NoStamp) f(spark, dir)
      else {
        val sid = sessionId(spark)
        val perSession = memo.synchronized {
          var m = memo.get(sid)
          if (m == null) {
            m = scala.collection.concurrent.TrieMap
              .empty[(String, String), (Long, DataFrame)]
            memo.put(sid, m)
          }
          m
        }
        perSession.get((name, dir)) match {
          case Some((s, df)) if s == stamp => df
          case _ =>
            val df = f(spark, dir)
            perSession.put((name, dir), (stamp, df))
            df
        }
      }
    }

  /** Drop every memoized plan — called by the store commit the
    * corpus-stamp guard cannot see: one that stamps the fingerprint
    * already committed. */
  def invalidate(): Unit = {
    memo.synchronized {
      val it = memo.values().iterator()
      while (it.hasNext) it.next().clear()
    }
  }
}
