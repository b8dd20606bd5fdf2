package graft.core

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

/** The one memo mechanism: a value computed once per (session, content) and
  * reused until that content changes. Every per-session cache of the engine
  * goes through [[apply]] or [[keyed]]: the table schemas of [[Tables.load]],
  * the materialized stages of `ops.Dedup.cached`, the trained tokenizer and
  * the bloom filter bytes.
  */
object Memo {

  /** Cache traffic counters PER CACHE LABEL (e.g. "edges" = Dedup's
    * verified-pair table, "schema" = [[Tables.load]]'s resolved schemas),
    * read by the memo specs to pin which calls PAID a computation (miss) and
    * which rode it for free (hit). Per label, so a call that only filled one
    * cache is not counted as having paid another.
    */
  private[graft] val cacheMisses = new ConcurrentHashMap[String, LongAdder]
  private[graft] val cacheHits = new ConcurrentHashMap[String, LongAdder]

  private def bump(m: ConcurrentHashMap[String, LongAdder], label: String): Unit =
    m.computeIfAbsent(label, _ => new LongAdder).increment()

  private[graft] def counterSnapshot(m: ConcurrentHashMap[String, LongAdder]): Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    m.forEach((k, v) => b += k -> v.sum())
    b.result()
  }

  /** Memoize `body` per (session, dataset, `variant`), the dataset being the
    * one at `sfDir`, stamped by [[Scratch.stamp]].
    */
  private[graft] def apply[V](
      cache: TrieMap[(SparkSession, String), V],
      label: String, spark: SparkSession, sfDir: String, variant: String = "")(
      release: V => Unit)(body: => V): V =
    keyed(cache, label, spark, Scratch.canonical(sfDir), Scratch.stamp(sfDir), variant)(
      release)(body)

  /** Memoize `body` per (session, `path`, `stamp`, `variant`). The key
    * holds the session REFERENCE — `SparkSession` keeps default identity
    * equality, so this is the intended per-instance memo without the
    * collision risk of `identityHashCode` (hashes are not unique, and a
    * post-GC session could alias a stale entry bound to a dead SparkContext).
    * `path` is a canonical path and `stamp` its content stamp, so rewritten
    * content misses; the entries its old content keyed are `release`d then,
    * since no later lookup can reach them (the other variants of the current
    * content stay). Entries of stopped sessions are evicted on every access:
    * whatever they hold died with the context, and dropping the key is what
    * lets the session be collected.
    */
  private[graft] def keyed[V](
      cache: TrieMap[(SparkSession, String), V],
      label: String, spark: SparkSession, path: String, stamp: String,
      variant: String = "")(release: V => Unit)(body: => V): V =
    // whole lookup-or-compute under the cache's lock: TrieMap.getOrElseUpdate
    // evaluates its default on every racing thread, which would run an
    // expensive body twice and strand one thread's result (say, eagerly
    // checkpointed blocks) with no handle to release it. A hit costs
    // microseconds under the lock; the stamp is computed by the caller,
    // outside it.
    cache.synchronized {
      cache.keySet.foreach { k =>
        if (k._1.sparkContext.isStopped) cache.remove(k)
      }
      val scope = path + "\u0000"
      val current = scope + stamp
      val key = (spark, current + variant)
      cache.get(key) match {
        case Some(v) =>
          bump(cacheHits, label)
          v
        case None =>
          cache.keySet.foreach { k =>
            if (k._2.startsWith(scope) && !k._2.startsWith(current))
              cache.remove(k).foreach(release)
          }
          val v = body
          cache.put(key, v)
          bump(cacheMisses, label)
          v
      }
    }
}
