package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.store.{ChangeWindow, EpochFollower, TableStore}

/** Continuous-query bridge over the epoch log — `readStream` shaped,
  * with the commit log as the source and the consumer CURSOR as the
  * checkpoint: each pending window of commits becomes one micro-batch
  * fed to a `foreachBatch`-style sink, the cursor advances only after
  * the sink returns, and a restarted consumer resumes from the cursor
  * — the same offsets-then-sink contract Structured Streaming's
  * checkpointed sources keep, so the existing foreachBatch sinks
  * (StreamFts.indexSink et al.) plug in unchanged. Windows are cut
  * by [[ChangeWindow]] (the rule every CDC consumer shares), so
  * rewrite-only commits (compaction, z-order) never reach the sink,
  * and the `changes` form feeds row-level insert/delete frames so
  * mirrors retract deletions.
  *
  * Delivery: AT-LEAST-ONCE batch redelivery on crash (cursor not yet
  * advanced) — an idempotent sink (pk upsert, the engine's standard
  * sink discipline) makes the composition exactly-once, exactly as
  * the StreamNormalize checkpoint-replay spec pins for the
  * Structured Streaming path.
  *
  * Threading: the polling handle runs the consumer on a daemon
  * thread. [[TableStore]] instances are single-threaded (transaction
  * state is per-instance), so pass the handle its OWN instance over
  * the store root — cursor advances and producer commits then
  * coordinate through the commit pointer's OCC exactly like any two
  * writers on disjoint tables. A sink error stops the loop and
  * surfaces on [[Handle.lastError]] (the StreamingQuery failure
  * contract), leaving the cursor at the last completed batch.
  */
object EpochStream {

  /** Drain everything pending RIGHT NOW, one micro-batch per pending
    * window: `sink` sees the added-files scan ([[EpochFollower
    * .consumeNew]]) — or, when `pk` is given, the row-level
    * insert/delete change feed ([[EpochFollower.consumeChanges]]) —
    * and the cursor advances after each sink return. Returns the
    * number of sink calls — one per delivered segment, so a window
    * cut at a compaction counts each piece (0 = already current, or
    * only rewrite-only commits landed), as [[Handle.batchesProcessed]]
    * counts them. The one-member case of the [[processAvailableMulti]]
    * drain.
    */
  def processAvailable(
      store: TableStore, table: String, consumer: String,
      pk: Option[Seq[String]] = None)(sink: DataFrame => Unit): Int =
    drain(single(store, table, pk), consumer)(m => sink(m(table)))

  private def single(store: TableStore, table: String, pk: Option[Seq[String]]) =
    ChangeWindow(store, Seq(table -> pk.getOrElse(Nil)), appends = pk.isEmpty)

  /** Poll `w` until the cursor stops moving: an empty (rewrite-only)
    * window advances it without feeding the sink, and new commits may
    * have landed mid-batch — stop only at a fixpoint. Each poll reads
    * the cursors once (inside the consume, which reports whether
    * it moved the cursor).
    */
  private def drain(w: ChangeWindow, consumer: String)(
      sink: Map[String, DataFrame] => Unit): Int = {
    var batches = 0
    var moved = true
    while (moved) {
      val step = EpochFollower.consume(w, consumer)(sink)
      batches += step.fed
      moved = step.to.isDefined
    }
    batches
  }

  /** A running epoch-log consumer (the StreamingQuery analog). */
  final class Handle private[EpochStream] (thread: Thread,
      stopFlag: java.util.concurrent.atomic.AtomicBoolean,
      err: java.util.concurrent.atomic.AtomicReference[Throwable],
      batches: java.util.concurrent.atomic.AtomicLong) {
    /** Batches the sink completed so far. */
    def batchesProcessed: Long = batches.get()
    /** The error that stopped the loop, if any (sink or scan). */
    def lastError: Option[Throwable] = Option(err.get())
    def isActive: Boolean = thread.isAlive
    /** Signal and wait for the loop to exit; idempotent. The cursor
      * stays at the last COMPLETED batch — a later start (here or in
      * another process) resumes from it.
      */
    def stop(): Unit = {
      stopFlag.set(true)
      thread.interrupt()
      thread.join(30000)
    }
  }

  /** Start the continuous form: poll the commit log every `pollMs`,
    * feeding `sink` exactly as [[processAvailable]] does. Stop with
    * [[Handle.stop]]; crash-restart = call `start` again with the
    * same consumer name (the cursor is the checkpoint). The
    * one-member case of [[startMulti]]'s loop.
    */
  def start(
      store: TableStore, table: String, consumer: String,
      pollMs: Long = 250L, pk: Option[Seq[String]] = None)(
      sink: DataFrame => Unit): Handle =
    startLoop(s"epoch-stream-$table-$consumer", pollMs,
      single(store, table, pk), consumer)(m => sink(m(table)))

  /** The MULTI-TABLE drain: one consumer, one consistent window over
    * N member tables per batch ([[EpochFollower.consumeChangesMulti]])
    * — the sink's map carries each member's row-level change feed
    * computed at the SAME epoch endpoints, so a mirror that joins
    * members can never serve a torn join. Same cursor/crash contract
    * as [[processAvailable]].
    */
  def processAvailableMulti(
      store: TableStore, pks: Seq[(String, Seq[String])], consumer: String)(
      sink: Map[String, DataFrame] => Unit): Int = {
    require(pks.nonEmpty, "processAvailableMulti needs member tables")
    drain(ChangeWindow(store, pks, appends = false), consumer)(sink)
  }

  /** Continuous multi-table form of [[start]]. */
  def startMulti(
      store: TableStore, pks: Seq[(String, Seq[String])], consumer: String,
      pollMs: Long = 250L)(sink: Map[String, DataFrame] => Unit): Handle =
    startLoop(s"epoch-stream-multi-$consumer", pollMs,
      ChangeWindow(store, pks, appends = false), consumer)(sink)

  /** Shared poll loop. The batch counter ticks AFTER each sink
    * return (before the cursor advance), so [[Handle.batchesProcessed]]
    * counts every completed sink call exactly once even when a later
    * batch's error stops the loop.
    */
  private def startLoop(
      name: String, pollMs: Long, w: ChangeWindow, consumer: String)(
      sink: Map[String, DataFrame] => Unit): Handle = {
    val stopFlag = new java.util.concurrent.atomic.AtomicBoolean(false)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val batches = new java.util.concurrent.atomic.AtomicLong()
    val t = new Thread(() => {
      try {
        while (!stopFlag.get()) {
          drain(w, consumer) { m => sink(m); batches.incrementAndGet() }
          Thread.sleep(pollMs)
        }
      } catch {
        case _: InterruptedException => () // stop() signaled mid-sleep
        case e: Throwable => err.set(e)
      }
    }, name)
    t.setDaemon(true)
    t.start()
    new Handle(t, stopFlag, err, batches)
  }
}
