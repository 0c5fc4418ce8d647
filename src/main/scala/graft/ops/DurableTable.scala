package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Memoized durable versioned table: derive ONCE per (data dir), write a
  * [[Sinks.writeVersioned]] snapshot under a session-scoped scratch path,
  * and serve every later consumer the read-back plan. This is how shared
  * derived assets ship at 100 TB — a materialized table downstream jobs
  * scan, not a pipeline recomputed per consumer; the scratch path stands
  * in for the permanent table location a production deployment would use.
  *
  * Concurrency/lifecycle discipline (shared by the graph co-purchase
  * edges and the dedup cluster map, and by the next derived table):
  *
  *   - The (session, dir) map memoizes only the read-back PLAN (a
  *     parquet scan — cheap to rebuild, nothing pinned); stopped-session
  *     entries are dropped on the next access so a long-lived multi-
  *     session JVM cannot retain dead sessions/plans.
  *   - The derivation-and-write job runs OUTSIDE the map lock: a
  *     multi-stage Spark job inside computeIfAbsent would serialize
  *     unrelated keys that share a hash bin.
  *   - The exists-check + write is check-then-act, so a per-path mutex
  *     closes the race where two threads both resolve version 0 and
  *     Overwrite-write the SAME v=0 directory — one rewriting files the
  *     other's readers are scanning. Scratch paths are namespaced per
  *     JVM, so a JVM-local mutex is a complete fix (no cross-process
  *     writer can share the path); the lock covers only the first
  *     derivation, never steady-state reads.
  *   - Two racing SESSIONS at worst land two identical snapshots, and
  *     every reader sees a complete one (versioned writes are atomic at
  *     the _LATEST pointer).
  *
  * @param name scratch-path key, unique per derived table
  */
final class DurableTable(name: String) {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]

  /** Count of DERIVATION jobs this JVM has run — the run-once
    * discipline the owning operator's spec pins (reads through the
    * durable table must not re-run the derivation).
    */
  private[graft] val derivations = new java.util.concurrent.atomic.AtomicLong(0)

  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]

  /** The durable table for (session, dir), deriving and writing it on
    * first access; `derive` is evaluated at most once per (dir) per JVM
    * (modulo the benign cross-session race above).
    */
  def apply(s: SparkSession, d: String)(derive: => DataFrame): DataFrame = {
    cache.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val cached = cache.get((s, d))
    if (cached != null) cached
    else {
      val path = graft.model.Scratch.dir(name, d)
      locks.computeIfAbsent(path, _ => new Object).synchronized {
        if (Sinks.latestVersion(s, path).isEmpty) {
          derivations.incrementAndGet()
          Sinks.writeVersioned(derive, path)
        }
      }
      val built = Sinks.readVersioned(s, path)
      val prior = cache.putIfAbsent((s, d), built)
      if (prior != null) prior else built
    }
  }
}
