package graft.streaming

import java.util.concurrent.atomic.AtomicBoolean

/** Graceful stream lifetime — the reference's `PosixStreamLifetimeService`
  * (/root/reference/src/main/scala/main.scala:87): a SIGTERM (or any
  * orchestrator stop) flips the active flag, the poll loop finishes its
  * current cycle cleanly and exits instead of being killed mid-commit.
  *
  * Snapshot commits are atomic (an exclusive manifest claim) and the
  * streaming checkpoint dedupes files across restarts, so "finish the
  * cycle, then stop" is all that exactly-once delivery needs.
  */
final class StreamLifetime {
  private val active = new AtomicBoolean(true)

  def isActive: Boolean = active.get()

  /** Request a clean stop; the loop exits after the in-flight cycle. */
  def stop(): Unit = active.set(false)

  /** Register a JVM shutdown hook (fires on SIGTERM/SIGINT) that requests
    * a clean stop — the POSIX wiring of the reference's lifetime service.
    */
  def installShutdownHook(): StreamLifetime = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => stop(), "graft-lifetime-stop"))
    this
  }

  /** Sleep up to `ms`, returning early the moment a stop is requested —
    * keeps long jittered poll delays responsive to SIGTERM.
    */
  def interruptibleSleep(ms: Long): Unit = {
    val deadline = System.nanoTime() + ms * 1000000L
    while (isActive && System.nanoTime() < deadline)
      Thread.sleep(math.min(50L, math.max(1L, (deadline - System.nanoTime()) / 1000000L)))
  }
}

object StreamLifetime {
  /** A lifetime that never stops (batch jobs, tests). */
  def always: StreamLifetime = new StreamLifetime
}
