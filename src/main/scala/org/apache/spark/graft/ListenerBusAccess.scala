package org.apache.spark.graft

import java.util.concurrent.TimeUnit
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.util.Try

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Observation, Row}

/** The one wait for listener-delivered data: a bounded drain of the
  * shared async listener bus, for callers that must observe every event
  * of work they have ALREADY completed.
  *
  * Listener events ride `LiveListenerBus`'s async queues, so when an
  * action returns, every event it produced is POSTED yet possibly
  * unprocessed: task-end metrics, streaming progress and termination,
  * and the query-execution callback that completes a
  * `Dataset.observe` [[Observation]]. Counting or stabilisation
  * heuristics race in both directions (ADVICE r14: a still-queued
  * started event makes `0 terminated < 0 measured` read complete).
  * Draining the bus is the deterministic wait: FIFO per queue means
  * "bus empty" implies every already-posted event has been dispatched.
  *
  * `waitUntilEmpty` is `private[spark]` test plumbing, reached from the
  * `org.apache.spark` namespace like the repo's other shims
  * (checkpoint-dir access, avro wire codec). */
object ListenerBusAccess {
  /** Drain the bus. Returns false on timeout or if the bus has already
    * stopped. */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: Throwable => false }

  /** Drain the bus, then read `obs` through its public `future`, the
    * whole wait bounded by `timeoutMs`. `None` means the observation did
    * not arrive in time: its action never ran, failed, or the bus
    * dropped the event. Callers decide whether that is fatal. */
  def observed(sc: SparkContext, obs: Observation, timeoutMs: Long): Option[Row] = {
    val deadline = System.nanoTime() + TimeUnit.MILLISECONDS.toNanos(timeoutMs)
    waitUntilEmpty(sc, timeoutMs)
    val left = math.max(0L, deadline - System.nanoTime())
    Try(Await.result(obs.future, Duration(left, TimeUnit.NANOSECONDS))).toOption
  }
}
