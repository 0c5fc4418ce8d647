package graft.model

/** Session-unique scratch directories for the source/sink round-trip
  * queries (CSV/ORC/text/XML sources, overwrite/versioned/incremental
  * sinks): each JVM gets its own namespace under `target/tmp`, so two
  * concurrent sessions pointed at the same data dir can never race one
  * another's overwrite-write against a read-back. Within a session the
  * path is deterministic per (key, dir) — repeated calls reuse and
  * overwrite the same directory (the memoization/idempotence the
  * versioned and incremental sinks rely on) instead of accreting one
  * directory per invocation.
  */
object Scratch {
  private val runId = java.util.UUID.randomUUID().toString.take(8)

  private val created =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  // This JVM's namespace is unreachable by any other run (the path
  // embeds runId), so delete it on exit: without the hook every
  // bench/verify/test invocation would strand its own copy of each
  // round-trip dir and versioned table, accreting across rounds.
  // Best-effort — a kill -9 skips it, and the next run neither reads
  // nor collides with the orphan.
  sys.addShutdownHook {
    created.forEach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)): Unit)
  }

  /** Scratch path for query `key` over data dir `d`. The dir component
    * masks to non-negative before hex-rendering (`math.abs` alone is
    * still negative for `Int.MinValue`).
    */
  def dir(key: String, d: String): String = {
    val p = s"target/tmp/${key}_${runId}_${(d.hashCode & 0x7fffffff).toHexString}"
    created.add(p)
    p
  }
}
