package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental CONSUMER cursors over the epoch log — the operational
  * form of [[TableStore.readAddedSince]]: each named consumer records
  * the last epoch it processed in the store's `_graft_cursors`
  * bookkeeping table (underscore-prefixed: invisible to tableNames /
  * Doctor table walks, like every other store-internal artifact), and
  * [[consumeNew]] feeds it exactly the files added since — the
  * consumer-group pattern (Kafka's committed offsets, Delta's
  * streaming-source checkpoint) scaled down to one parquet table.
  *
  * Delivery contract: AT-LEAST-ONCE. The cursor advances only after
  * the handler returns — a crash mid-handler re-delivers the same
  * diff on the next call, and a file rewritten by an UPSERT (bucketed
  * merge) re-delivers its rows even without a crash (readAddedSince's
  * documented contract). Rewrite-ONLY commits (compaction, z-order)
  * are skipped entirely while their history is retained: the consumer
  * crosses them without the handler firing — no O(table) redelivery.
  * Downstream pk-dedup (the skip-existing anti-join) restores
  * exactly-once; [[consumeChanges]] is the row-exact CDC form (with
  * deletes). The spec drives both compositions.
  *
  * Registered cursors are VACUUM ROOTS, like tags: vacuumEpochs
  * retains every epoch a cursor still needs as its diff base, so a
  * lagging consumer can always catch up — and a dead consumer is
  * unregistered with [[drop]], releasing its pin (the same lifecycle
  * as dropTag). Doctor's `suggest` flags consumers whose lag keeps
  * many epochs pinned. Scale: the cursor table holds one row per
  * (table, consumer); every consume is one metadata diff + a scan of
  * only the new files.
  *
  * Concurrency: cursor advances are whole-table swap upserts, so two
  * consumer PROCESSES advancing concurrently can lose one advance
  * (last-writer-wins on the shared cursor table). That is safe by
  * the delivery contract — a lost advance only re-delivers the same
  * diff next call, never skips — the same at-least-once outcome as a
  * crash before the advance. A deployment with many concurrent
  * consumers serializes advances through its own scheduler, exactly
  * as the single-writer store contract already requires of writers.
  */
object EpochFollower {

  /** Store-internal cursor table (one per store root). */
  val CursorTable = "_graft_cursors"

  /** The consumer's last-processed epoch, if registered. */
  def cursor(
      store: TableStore, table: String, consumer: String): Option[Long] =
    cursors(store).get((table, consumer))

  /** All registered cursors: (table, consumer) → epoch. Retries a
    * handful of times on a read failure: the cursor table is a plain
    * swap-maintained table, so a read racing a concurrent consumer's
    * advance (another process/thread) can transiently fail mid-swap —
    * vacuumEpochs reads pins through here, and treating a transient
    * failure as "no cursors" would silently drop a lagging consumer's
    * vacuum roots. (A mid-swap MISSING dir still reads as empty — the
    * microsecond window the vacuum retention period is the documented
    * guard for.)
    */
  def cursors(store: TableStore): Map[(String, String), Long] = {
    var attempt = 0
    while (true) {
      try return store.readIfExists(CursorTable).map(
        _.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
          .toMap).getOrElse(Map.empty)
      catch {
        case e: Exception =>
          if (attempt >= 3) throw e
          attempt += 1
          Thread.sleep(50L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** ONE swap upsert advancing every member table's cursor row — the
    * cursor table is whole-table swap-maintained, so the advance is
    * atomic across tables: a multi-table consumer can never observe
    * (or leave behind) member cursors at different epochs.
    */
  private[graft] def advance(
      store: TableStore, tables: Seq[String], consumer: String,
      epoch: Long): Unit = {
    import store.spark.implicits._
    store.upsert(CursorTable,
      tables.map(t => (t, consumer, epoch)).toDF("table", "consumer", "epoch"),
      Seq("table", "consumer"))
  }

  /** Unregister a consumer — releases its vacuum pin (the dropTag
    * lifecycle; run when a consumer is retired, or its lag pins
    * epochs forever).
    */
  def drop(store: TableStore, table: String, consumer: String): Unit =
    store.readIfExists(CursorTable).foreach { c =>
      store.overwrite(CursorTable,
        c.filter(!(col("table") === table && col("consumer") === consumer)))
    }

  /** Feed the handler everything this consumer has not yet seen —
    * the FULL table on first call (registration), the added-files
    * diff thereafter — and advance the cursor AFTER the handler
    * returns. Returns Some((handlerResult, newEpoch)) when anything
    * was consumed, None when the consumer is already current. The
    * handler's frame is epoch-pinned (explicit file list), so a
    * concurrent commit mid-handler neither tears it nor is missed —
    * it is the next call's diff. A window that adds no files
    * (rewrite-only commits: compaction, z-order; or commits touching
    * other tables) advances the cursor WITHOUT invoking the handler:
    * a consumer crossing a compaction sees an empty feed, not an
    * O(table) redelivery. Registration waits for data: a
    * governed-but-empty table stays unregistered until its first rows
    * land.
    */
  def consumeNew[T](store: TableStore, table: String, consumer: String)(
      f: DataFrame => T): Option[(T, Long)] =
    delivered(consume(ChangeWindow(store, Seq(table -> Nil), appends = true),
      consumer)(m => f(m(table))))

  /** The ROW-LEVEL form of [[consumeNew]]: feeds the handler a
    * [[TableStore.readChangesSince]] frame (rows tagged
    * `_change_type ∈ {insert, delete}`) instead of the added-files
    * scan, so a derived mirror applies inserts as upserts and deletes
    * as pk removals and NEVER serves ghosts after a dedup pass or
    * retention delete. First call registers and delivers the full
    * table as inserts. Same cursor, same at-least-once advance, same
    * vacuum pinning. The one-member case of [[consumeChangesMulti]]:
    * the pending window is cut into [[ChangeWindow]] segments, the
    * handler fires once per segment in which the table changed
    * logically (never for a compaction echo), and the LAST call's
    * result is returned.
    */
  def consumeChanges[T](
      store: TableStore, table: String, consumer: String, pk: Seq[String])(
      f: DataFrame => T): Option[(T, Long)] =
    consumeChangesMulti(store, Seq(table -> pk), consumer)(m => f(m(table)))

  /** TRANSACTIONALLY-CONSISTENT multi-table CDC: one consumer, one
    * logical cursor over N tables, every batch a map of each table's
    * row-level changes computed over the SAME epoch window. The epoch
    * log is global, so two tables upserted in ONE `transact` land at
    * one epoch and are delivered in the SAME batch — a mirror joining
    * them can never serve a torn join, which per-table consumers
    * permit (each advancing its own cursor at its own pace). The
    * member cursors live as ordinary (table, consumer) rows advanced
    * by ONE atomic swap upsert, so a crash "between tables" is
    * impossible by construction, every member keeps its vacuum pin,
    * and Doctor's lag advisories see each table.
    *
    * `pks` maps each member table to its logical key. First call
    * registers and delivers each non-empty member in full (tables
    * still empty are registered too — their first rows arrive as a
    * later diff); all-empty stays unregistered. The pending window is
    * cut into [[ChangeWindow.segments]]: one handler call per segment
    * with a logical change, the map holding only the members that
    * changed in it, so the diffs stay O(logical diff) across
    * compactions; with vacuumed intermediate history the window is
    * one endpoint segment (readChangesSince degrades as documented,
    * never lies). Returns the LAST batch's handler result. If member
    * cursors ever diverge (the same consumer name also used
    * per-table — don't) the window starts at the MINIMUM:
    * at-least-once redelivery for the ahead members, never a skip.
    */
  def consumeChangesMulti[T](
      store: TableStore, pks: Seq[(String, Seq[String])], consumer: String)(
      f: Map[String, DataFrame] => T): Option[(T, Long)] = {
    require(pks.nonEmpty, "consumeChangesMulti needs at least one table")
    delivered(consume(ChangeWindow(store, pks, appends = false), consumer)(f))
  }

  private def delivered[T](step: (Option[T], Option[Long])): Option[(T, Long)] =
    for (r <- step._1; e <- step._2) yield (r, e)

  /** One consume of `w`'s pending window: the handler fires once per
    * segment with a change (registration: once, with the snapshot),
    * the cursor advances after each such call and once at the end for
    * trailing advance-only segments. Returns the last handler result
    * and the epoch the cursor moved to — None when it did not move
    * (already current, or registration still waiting for data), so a
    * drain loop needs no cursor read of its own.
    */
  private[graft] def consume[T](w: ChangeWindow, consumer: String)(
      f: Map[String, DataFrame] => T): (Option[T], Option[Long]) = {
    val to = w.store.snapshot().epoch
    val cur = cursors(w.store)
    val registered = w.tables.flatMap(t => cur.get((t, consumer)))
    if (registered.isEmpty) {
      // registration: full delivery of every member that has data, one
      // atomic cursor write for ALL members (including still-empty
      // ones, so their first rows arrive as an ordinary diff)
      val full = w.snapshot(to)
      if (full.isEmpty) (None, None)
      else {
        val r = f(full.toMap)
        advance(w.store, w.tables, consumer, to)
        (Some(r), Some(to))
      }
    } else {
      require(registered.size == w.tables.size,
        s"consumer '$consumer' is registered on only " +
          s"${registered.size} of ${w.tables.size} member tables — " +
          "member sets must not change after registration")
      val from = registered.min
      if (from >= to) (None, None)
      else {
        var last: Option[T] = None
        var at = from
        w.segments(from, to).foreach { s =>
          if (s.changed.nonEmpty) {
            last = Some(f(w.frames(s).toMap))
            advance(w.store, w.tables, consumer, s.to)
            at = s.to
          }
        }
        if (at < to) advance(w.store, w.tables, consumer, to)
        (last, Some(to))
      }
    }
  }
}
