package graft.engine

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one cross-query memo of the engine: relations that several
  * registered keys derive identically (the near-dup pairs, the event
  * graph, the day-grain revenue series, ...) are built once per
  * (session, input directory) and handed to every later query of that
  * session. Entries are named by a `group` (the family of keys that
  * shares them), the session, `dir`, and any `extra` parameter the
  * value depends on (the k-means centroids need `k` and `iters`; a
  * group with several relations names each one here).
  *
  * Lock rule. The lookup is a plain `get`. On a miss the build runs
  * under a lock for that one entry, outside the map's own lock: same-key
  * first callers wait for the single build and share its result, other
  * keys proceed in parallel, and a build may itself look up other
  * entries (the STL residual builds over the daily series, the near-dup
  * labels over the pairs). A build that throws leaves the entry empty
  * for the next caller to retry.
  *
  * Lifetime. An entry lives until [[clear]] or until its session stops;
  * entries of stopped sessions are evicted on every lookup. `dir`'s
  * inputs are assumed immutable within a session: rewrite a table
  * mid-session and use a new session, or the un-memoized builders.
  *
  * Release. Dropping an entry calls [[release]] on every DataFrame it
  * holds (directly or inside a tuple). Releasing an entry that a running
  * query still reads fails that query for a checkpointed relation, so
  * [[clear]] is for between queries.
  */
object SessionMemo {
  private final case class Key(group: String, session: SparkSession,
      dir: String, extra: Seq[Any])

  // written under the entry's lock; volatile so snapshot() need not
  // wait for a build in progress
  private final class Entry(val key: Key) {
    @volatile var value: AnyRef = _ // null until built
    @volatile var released = false
    @volatile var buildS = 0.0
    @volatile var hits = 0L
  }

  /** One built entry as [[snapshot]] reports it: `entry` names the
    * directory and extra parameters, `buildS` is the build's own time:
    * builds of other entries nested in it count only for those entries.
    */
  final case class Stat(group: String, entry: String, buildS: Double,
      hits: Long)

  private val entries = new java.util.concurrent.ConcurrentHashMap[Key, Entry]()
  // seconds spent in builds nested inside the current thread's build
  private val nestedS = ThreadLocal.withInitial[Double](() => 0.0)

  def apply[T <: AnyRef](group: String, s: SparkSession, dir: String,
      extra: Any*)(build: => T): T = {
    evictStopped()
    val key = Key(group, s, dir, extra.toList)
    var result: AnyRef = null
    while (result == null) {
      val e = Option(entries.get(key)).getOrElse {
        val fresh = new Entry(key)
        Option(entries.putIfAbsent(key, fresh)).getOrElse(fresh)
      }
      // a dropped entry was released mid-wait: look the key up again
      result = e.synchronized {
        if (e.released) null
        else if (e.value != null) { e.hits += 1; e.value }
        else {
          val outer = nestedS.get
          nestedS.set(0.0)
          val t0 = System.nanoTime()
          val built =
            try build
            finally {
              val secs = (System.nanoTime() - t0) / 1e9
              e.buildS = secs - nestedS.get
              nestedS.set(outer + secs)
            }
          e.value = built
          built
        }
      }
    }
    result.asInstanceOf[T]
  }

  /** Drops every entry and releases its blocks. */
  def clear(): Unit = entries.values.forEach(e => drop(e))

  /** The built entries, for attributing shared work to the keys that
    * paid for and reused it.
    */
  def snapshot(): Seq[Stat] = {
    val out = Seq.newBuilder[Stat]
    entries.values.forEach { e =>
      if (e.value != null) out += Stat(e.key.group,
        (e.key.dir +: e.key.extra).mkString("/"), e.buildS, e.hits)
    }
    out.result()
  }

  /** Frees a relation's blocks: `unpersist()` for a cached plan, and the
    * root RDD's blocks when the plan root is a checkpoint (`LogicalRDD`),
    * which `unpersist()` leaves in place. Only the root: a deeper
    * `LogicalRDD` can be another entry's checkpoint.
    */
  def release(df: Dataset[_]): Unit =
    try {
      df.unpersist()
      df.queryExecution.logical match {
        case r: LogicalRDD => r.rdd.unpersist()
        case _ => ()
      }
    } catch { case _: Exception => () } // a stopped session's blocks are already gone

  private def releaseAll(v: Any): Unit = v match {
    case df: Dataset[_] => release(df)
    case p: Product => p.productIterator.foreach(releaseAll)
    case _ => ()
  }

  private def drop(e: Entry): Unit = e.synchronized {
    entries.remove(e.key, e)
    e.released = true
    releaseAll(e.value)
    e.value = null
  }

  private def evictStopped(): Unit =
    entries.values.forEach { e =>
      if (e.key.session.sparkContext.isStopped) drop(e)
    }
}
