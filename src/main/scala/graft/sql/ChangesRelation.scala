package graft.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, Filter, PrunedFilteredScan, RelationProvider}
import org.apache.spark.sql.types.StructType

import graft.store.{ChangeWindow, TableStore}

/** The row-level change feed as a BATCH reader format — CDC windows
  * for API surfaces that cannot call the Scala store (PySpark, SQL
  * `CREATE TEMP VIEW ... USING`):
  *
  * {{{
  * spark.read.format("graft-changes")
  *   .option("root", storeRoot).option("table", "documents")
  *   .option("pk", "doc_id")
  *   .option("fromEpoch", "7")           // exclusive
  *   .option("toEpoch", "12")            // optional; default = current
  *   .load()                             // rows tagged _change_type
  * }}}
  *
  * Window endpoints name epochs directly (`fromEpoch`/`toEpoch`),
  * release tags (`fromTag`/`toTag`), or wall-clock instants
  * (`fromTimestamp`/`toTimestamp` — epoch millis or ISO-8601,
  * resolved against the commit log's persisted stamps via
  * [[graft.store.CommitLog.epochAtTimestamp]]). `mode=appends` serves the
  * file-level incremental scan ([[TableStore.readAddedSince]],
  * rewrite-skipping, no tag column) instead of the exact feed. Both
  * endpoints must be retained — the vacuum contract every CDC
  * consumer carries. The relation is the store's own frame behind a
  * V1 relation with column pruning and filter pushdown delegated to
  * the underlying frame; cost is the window's changed files (and with
  * a projection, only the selected columns' pages), never O(table).
  *
  * '''Multi-table windows''' — `tables=a,b` + per-member `pk.<t>`
  * keys (instead of `table`/`pk`): ONE read serving every member's
  * changes over the SAME global epoch window, rows tagged with a
  * `_table` discriminator; the window's members, frames and schema
  * come from [[graft.store.ChangeWindow]], the rule every CDC
  * consumer shares.
  * `mode=appends` composes with `tables=` too (no `pk.<t>` needed, no
  * `_change_type` column): the cheap file-level adds scan per member
  * over the one global window — a multi-table mirror that only needs
  * at-least-once appends skips the exact-feed price while keeping the
  * never-torn pairing (a joint transact's files land in one read).
  * Because the window is one epoch pair, two tables upserted in one
  * `transact` always appear in the same result — a release diff
  * joining them can never be torn. The schema is `_table` + the
  * union of the member schemas (members null-fill each other's
  * columns; same-name columns must be union-compatible); a member
  * with no logical change in the window contributes no rows and
  * costs no data I/O (commit-op metadata proves it unchanged).
  * Every form serves the tables' CURRENT surface columns, without
  * dropped columns or the bucket routing column; a table emptied
  * since the window (and never given a declared schema) serves the
  * columns it had in the window, and one without files there either
  * is refused (as a member of several it contributes no columns).
  * Members must be known tables
  * (governed, holding data or declaring a schema), and appends
  * windows refuse flat (never-governed) tables.
  */
class ChangesRelationProvider extends RelationProvider with DataSourceRegister {

  override def shortName(): String = "graft-changes"

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val store = new TableStore(sqlContext.sparkSession,
      ChangeWindow.required(parameters, "root", shortName()))
    val appends = ChangeWindow.appendsMode(parameters)
    // endpoints: a release tag ("what changed between release A and
    // release B"), a wall-clock instant ("what changed since yesterday
    // 03:00"), or an epoch
    val from = ChangeWindow.endpoint(store, parameters, "from")
      .getOrElse(throw new IllegalArgumentException(
        "graft-changes needs option(\"fromEpoch\"|\"fromTag\"|" +
          "\"fromTimestamp\", ...)"))
    val to = ChangeWindow.endpoint(store, parameters, "to")
      .orElse(store.currentEpochIfAny)
      .getOrElse(throw new IllegalStateException(
        "no commits — govern tables first"))
    require(from <= to, s"window start $from is after its end $to")
    val window = ChangeWindow(store,
      ChangeWindow.membersOf(parameters, appends, shortName()), appends)
    window.requireKnown(Seq(from, to))
    // one global window for every member: a one-transact commit is
    // never torn across the result, and a member with no logical
    // change in it costs no data I/O. A single table with no shape to
    // serve is refused; a shapeless member of several contributes none
    val multi = ChangeWindow.isMulti(parameters)
    val segment = window.whole(from, to)
    val parts = window.frames(segment)
    new ChangesRelation(sqlContext, window.serve(parts,
      window.servedSchema(multi, requireShape = !multi, Some(segment -> parts)),
      multi))
  }
}

/** The window frame behind `PrunedFilteredScan`: Spark's required
  * columns and pushable filters are applied to the UNDERLYING frame,
  * so both reach the parquet scan of the window's changed files — a
  * `select("pk")` over a wide CDC window reads one column's pages,
  * not every column of every changed file (the V1 `TableScan` form
  * deserialized the full width). Same residual discipline as the
  * catalog's scan: every filter is also reported unhandled, so Spark
  * re-applies it above and correctness never depends on the
  * Filter→Column translation.
  */
private[sql] class ChangesRelation(
    context: SQLContext, frame: DataFrame)
  extends BaseRelation with PrunedFilteredScan {
  override def sqlContext: SQLContext = context
  override def schema: StructType = frame.schema
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters // all residual: re-applied by Spark above the scan

  /** The pruned-and-filtered frame [[buildScan]] executes — split out
    * so the spec can assert the underlying parquet scan's ReadSchema
    * (the proof pruning reached the pages, not just the relation).
    */
  private[sql] def project(
      requiredColumns: Array[String], filters: Array[Filter]): DataFrame = {
    val filtered = filters.flatMap(GraftScanBuilder.toColumn)
      .foldLeft(frame)(_.filter(_))
    // an empty projection (COUNT(*)) is a genuine zero-column scan —
    // parquet answers it from row counts alone
    filtered.select(requiredColumns.map(col).toIndexedSeq: _*)
  }

  override def buildScan(
      requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] =
    project(requiredColumns, filters).rdd
}
