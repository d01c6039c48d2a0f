package graft.core

import scala.concurrent.ExecutionContext

/** Dedicated executor for overlapping independent BLOCKING Spark actions
  * (publish side-writes, concurrent index upserts — guide §2.6). The
  * process-wide `ExecutionContext.Implicits.global` is sized to the core
  * count and shared with everything else in the JVM, so nested overlap (a
  * publish leg that itself overlaps its four side writes) can exhaust it
  * on a low-core machine and serialize — or wedge — the legs (r19
  * advice). A cached pool never starves a blocking leg: every submitted
  * leg gets a thread, threads are daemons (a hung write must not block
  * JVM exit), and idle ones retire after 60 s, so the pool is empty
  * between publishes. Legs are NOT cancelled when a sibling fails — the
  * await-all-then-rethrow discipline at every call site surfaces the
  * first failure only after all legs have terminated. A pool thread
  * inherits no inheritable thread-locals from the thread that made it:
  * Spark's local properties are one, so a thread made under a caller's
  * job description (a maintenance tick's publish) would keep that label
  * and tag every later job it runs.
  */
object Pools {
  lazy val io: ExecutionContext = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(null, r,
          s"graft-io-overlap-${n.incrementAndGet()}", 0L, false)
        t.setDaemon(true)
        t
      }))
  }
}
