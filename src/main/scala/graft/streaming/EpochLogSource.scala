package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.graftbridge.StreamingFrame
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.store.{ChangeWindow, EpochFollower, TableStore}

/** The epoch log as a FIRST-CLASS Structured Streaming source:
  *
  * {{{
  * spark.readStream.format("graft-cdc")
  *   .option("root", storeRoot).option("table", "documents")
  *   .option("pk", "doc_id")
  *   .load()                      // rows tagged _change_type
  *   .writeStream.option("checkpointLocation", ckpt)
  *   .foreachBatch(applyToMirror _).start()
  * }}}
  *
  * Where [[EpochStream]] is the embedded poll-loop bridge (own thread,
  * cursor-as-checkpoint), this source plugs the SAME commit-log
  * machinery into Spark's own micro-batch engine: offsets ARE epochs
  * (`LongOffset(epoch)`), Spark's offset WAL is the checkpoint, and
  * every `readStream` facility — triggers, foreachBatch, memory sinks,
  * the existing `Stream*` transforms downstream — composes for free.
  *
  * Semantics, all inherited from the store's CDC layer:
  *  - `getOffset` is pure commit metadata (no data I/O). In `changes`
  *    mode it advances ONE [[graft.store.ChangeWindow]] segment at a
  *    time — the window rule every CDC consumer shares — so a
  *    micro-batch window never mixes a compaction with logical
  *    changes — CDC stays O(logical diff); a rewrite-only segment
  *    surfaces as one empty batch ([[TableStore.readChangesSince]]'s
  *    zero-I/O fast path). `maxEpochsPerBatch` caps backlog drain
  *    (the `maxFilesPerTrigger` pattern).
  *  - `getBatch(start, end)` replays EXACTLY on restart: the window is
  *    an explicit epoch pair from Spark's WAL and the store's history
  *    is immutable while retained — same rows, same tags.
  *  - Delivery is exactly-once TO THE SINK Spark gives: at-least-once
  *    on crash-replay, with the mirror-idempotent apply (upsert
  *    inserts, remove deletes by pk) the engine's sinks already use.
  *  - The frame schema is FIXED at query start (streaming requires
  *    it): delivered windows are aligned to it — columns added by a
  *    later schema evolution are picked up on query restart, the
  *    standard Spark contract (dropped columns null-fill).
  *
  * '''Multi-table mode''' — `tables=a,b` instead of `table`:
  * TRANSACTIONALLY-CONSISTENT CDC over N tables through ONE stream
  * (the same [[graft.store.ChangeWindow]] the cursor consumers use). The
  * epoch log is global, so two tables upserted in one
  * [[TableStore.transact]] land at one epoch — and because every
  * micro-batch window is a single global epoch pair shared by ALL
  * members, their changes arrive in the SAME micro-batch, always: a
  * downstream mirror joining them can never serve a torn join, the
  * exact anomaly per-table readStreams permit (each advancing its own
  * offsets at its own pace). Rows carry a `_table` discriminator
  * column; per-member keys come as `pk.<table>` options; windows cut
  * at the UNION of the members' rewrite boundaries (same O(logical
  * diff) guarantee); a member with no logical change in a window
  * contributes no rows; crash-replay re-reads the same global window
  * for every member, so the pairing survives restarts by
  * construction. The delivered schema is `_table` + the union of the
  * member schemas (same-name columns must agree on type — pass
  * `.schema(...)` to override) + `_change_type`; a member's missing
  * columns null-fill. Both modes serve surface column names without
  * dropped columns or the bucket routing column.
  *
  * Options: `root` (required); `table` (single mode) or `tables`
  * (comma-separated, multi mode) — exactly one; `pk` (comma-separated,
  * required in single `changes` mode) / `pk.<table>` (per member,
  * multi mode); `mode` = `changes` (default, rows tagged
  * `_change_type ∈ {insert, delete}`) | `appends` (file-level
  * at-least-once adds, no tag column, rewrite-skipping via
  * [[TableStore.readAddedSince]]; composes with `tables=` — per-member
  * adds over one global window, `_table` tagged, the never-torn
  * pairing without the exact-feed price); `startingEpoch`
  * = `earliest` (default: first batch is the full table(s) as
  * inserts) | `latest` (only commits after query start); OR
  * `startingTimestamp` (epoch millis or ISO-8601 instant — commits
  * stamped at or after it replay, resolved once at source creation
  * off the commit log's persisted stamps; the streaming form of
  * `TIMESTAMP AS OF` / graft-changes `fromTimestamp`);
  * `maxEpochsPerBatch`; `consumer` — optional: registers/advances an
  * [[EpochFollower]] cursor (one per member table, all rows in one
  * atomic swap) as batches COMMIT, so the streaming query pins vacuum
  * retention like every other consumer (without it, vacuuming the
  * un-replayed window can invalidate crash-replay — same sizing rule
  * as the poll-loop bridge).
  *
  * Scale: offset computation is a commit-metadata walk; each batch
  * scans only the window's changed files. One store instance per
  * source, used serially by the stream execution thread (the
  * single-threaded store contract).
  */
class EpochLogSource(
    sqlContext: SQLContext, window: ChangeWindow, multi: Boolean,
    startingEpoch: Option[String], maxEpochsPerBatch: Option[Long],
    consumer: Option[String], fixedSchema: StructType,
    startingTimestamp: Option[Long] = None)
    extends Source with SupportsTriggerAvailableNow {

  private val store = window.store
  private val tables = window.tables

  // the column name maps at QUERY START — the fixed streaming schema
  // was resolved through them, so a mid-stream ALTER RENAME COLUMN
  // would make align() silently null-fill the renamed column (its
  // new surface name no longer matches the fixed schema). Detect and
  // die loudly instead; a restart re-resolves under the new names —
  // the same pick-up-on-restart contract every schema evolution keeps.
  private val startRenames: Map[String, Seq[(String, String)]] =
    tables.map(t => t -> store.renamedColumnsOf(t)).toMap

  private def surfaceChecked(t: String, df: DataFrame) = {
    val cur = store.renamedColumnsOf(t)
    if (cur != startRenames(t))
      throw new IllegalStateException(
        s"table '$t' had columns renamed while this stream was " +
          s"running (at start: ${startRenames(t).map { case (p, s) =>
            s"$p→$s" }.mkString(", ")}; now: ${cur.map { case (p, s) =>
            s"$p→$s" }.mkString(", ")}) — the delivered schema is fixed " +
          "at query start, so continuing would silently null-fill the " +
          "renamed column; restart the query to adopt the new names")
    store.toSurface(cur, df)
  }

  /** `latest` skips history (base = the epoch at source creation), a
    * NUMBER resumes/reprocesses from that exact epoch (retained-epoch
    * contract applies), `earliest` (the default) leaves None — the
    * first batch is a full snapshot. `startingTimestamp` (when set,
    * exclusive with `startingEpoch`) resolves against the commit log's
    * persisted wall-clock stamps AT SOURCE CREATION — same pinning
    * rule as the replay window: the stream delivers every commit
    * stamped AT OR AFTER the instant (the Delta CDF `startingTimestamp`
    * rule), so the base is the newest retained commit stamped strictly
    * before it; an instant predating every retained commit degrades
    * to `earliest` (everything qualifies — the full first snapshot).
    */
  private val latestBase: Option[Long] = startingTimestamp match {
    case Some(ts) =>
      val before = store.log.commitStamps().filter(_._2 < ts)
      if (before.isEmpty) None else Some(before.map(_._1).max)
    case None => startingEpoch match {
      case Some("latest") => Some(currentEpoch().getOrElse(0L))
      case Some("earliest") | None => None
      case Some(n) => Some(ChangeWindow.number("startingEpoch", n))
    }
  }

  /** Highest epoch this source has returned or been handed — the
    * monotone floor for offset computation. Registered consumer
    * cursors seed it across restarts (Spark re-hands WAL offsets via
    * getBatch on crash recovery; the cursor covers the clean-restart
    * path where it does not). Multi-table: the MINIMUM member cursor,
    * the consumeChangesMulti rule — at-least-once redelivery for
    * ahead members, never a skip.
    */
  private val registered: Map[String, Long] =
    consumer.fold(Map.empty[String, Long]) { c =>
      val cur = EpochFollower.cursors(store)
      tables.flatMap(t => cur.get((t, c)).map(t -> _)).toMap
    }
  private var maxSeen: Option[Long] =
    if (registered.nonEmpty) Some(registered.values.min) else latestBase

  // register the cursor (vacuum pin) up front AT THE CREATION EPOCH:
  // Spark's offset WAL can reference a batch whose commit-log write
  // was lost (stop/crash between the sink write and the commit — the
  // at-least-once window), and its replay needs the batch's END epoch
  // retained. commit() has not fired yet at that point, so the
  // REGISTRATION value is the only pin — it must cover everything the
  // source could have offered, i.e. the epoch current when the source
  // was built. All member rows land in one atomic swap (no
  // partially-registered multi).
  consumer.foreach { c =>
    val unregistered = tables.filterNot(registered.contains)
    if (unregistered.nonEmpty)
      EpochFollower.advance(store, unregistered, c,
        maxSeen.orElse(currentEpoch()).getOrElse(0L))
  }

  override def schema: StructType = fixedSchema

  // Trigger.AvailableNow: the epoch current when the trigger
  // started bounds the drain, which still advances one segment per
  // micro-batch (without this the engine takes a single getOffset as
  // the final offset and stops after the first segment)
  private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = currentEpoch()

  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 =
    getOffset.orNull

  /** Pure commit metadata: in `changes` mode one [[ChangeWindow]]
    * segment per micro-batch, capped by `maxEpochsPerBatch`.
    */
  override def getOffset: Option[OffsetV1] =
    availableNowEnd.orElse(currentEpoch()).flatMap { cur => maxSeen match {
      case None =>
        // initial full-snapshot delivery (earliest): wait until some
        // member holds files, then offer the whole current epoch
        if (tables.forall(t => store.readIfExists(t).isEmpty)) None
        else Some(LongOffset(cur))
      case Some(base) if cur <= base => Some(LongOffset(base))
      case Some(base) =>
        val target0 = window.segments(base, cur).head.to
        val target = maxEpochsPerBatch
          .fold(target0)(m => math.min(target0, base + m))
        Some(LongOffset(math.max(target, base)))
    }
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endE = epochOf(end)
    val baseE = start.map(epochOf).orElse(latestBase)
    maxSeen = Some(math.max(endE, maxSeen.getOrElse(Long.MinValue)))
    // member frames carry PHYSICAL column names — surface-map them
    // (ALTER RENAME COLUMN) before they are aligned to the fixed
    // (surface-shaped) schema; a map that CHANGED since query start
    // dies loudly (surfaceChecked) instead of silently null-filling
    val parts = baseE match {
      case Some(b) if b >= endE => Nil
      case Some(b) => window.frames(window.whole(b, endE))
      case None => window.snapshot(endE) // earliest: the registration snapshot
    }
    StreamingFrame.asStreaming(
      window.serve(parts, fixedSchema, multi, surfaceChecked))
  }

  override def commit(end: OffsetV1): Unit = consumer.foreach { c =>
    // Spark has committed the batch to its WAL — release the replay
    // pin up to its end (the cursor is a floor, never a window source);
    // every member advances in ONE swap (no torn multi-table cursor)
    EpochFollower.advance(store, tables, c, epochOf(end))
  }

  override def stop(): Unit = ()

  private def currentEpoch(): Option[Long] = store.currentEpochIfAny

  private def epochOf(o: OffsetV1): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case other => other.json.trim.toLong
  }
}

/** `format("graft-cdc")` registration. The source schema is resolved
  * at query definition: the user-provided `.schema(...)` wins; else
  * [[ChangeWindow.servedSchema]] — the tables' current surface
  * schemas (a governed-but-empty table's DECLARED schema), `_table`
  * first in multi-table mode, `_change_type` last in changes mode; a
  * member contributing neither data nor a declared schema needs
  * `.schema(...)`.
  */
class EpochLogSourceProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-cdc"

  override def sourceSchema(
      sqlContext: SQLContext, schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), resolveSchema(sqlContext, schema, parameters))

  override def createSource(
      sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val appends = ChangeWindow.appendsMode(parameters)
    val starting = parameters.get("startingEpoch")
    starting.filterNot(s => s == "earliest" || s == "latest")
      .foreach(ChangeWindow.number("startingEpoch", _))
    // startingTimestamp: epoch millis or ISO-8601 instant, resolved
    // against the commit log's persisted stamps (the TIMESTAMP AS OF /
    // graft-changes fromTimestamp machinery, streaming form)
    val startingTs = parameters.get("startingTimestamp")
      .map(ChangeWindow.instant("startingTimestamp", _))
    require(startingTs.isEmpty || starting.isEmpty,
      "pass option(\"startingEpoch\", ...) or " +
        "option(\"startingTimestamp\", ...), not both")
    val window = ChangeWindow(storeOf(sqlContext, parameters),
      ChangeWindow.membersOf(parameters, appends, shortName()), appends)
    window.requireKnown(Nil)
    new EpochLogSource(
      sqlContext, window, ChangeWindow.isMulti(parameters), starting,
      parameters.get("maxEpochsPerBatch")
        .map(ChangeWindow.number("maxEpochsPerBatch", _)),
      parameters.get("consumer"),
      resolveSchema(sqlContext, schema, parameters),
      startingTs)
  }

  private def storeOf(sqlContext: SQLContext, parameters: Map[String, String]) =
    new TableStore(sqlContext.sparkSession,
      ChangeWindow.required(parameters, "root", shortName()))

  private def resolveSchema(
      sqlContext: SQLContext, user: Option[StructType],
      parameters: Map[String, String]): StructType = {
    val window = ChangeWindow(storeOf(sqlContext, parameters),
      ChangeWindow.tablesOf(parameters, shortName()).map(_ -> Nil),
      ChangeWindow.appendsMode(parameters))
    user.map(window.withChangeType).getOrElse(
      window.servedSchema(ChangeWindow.isMulti(parameters), requireShape = true))
  }
}
