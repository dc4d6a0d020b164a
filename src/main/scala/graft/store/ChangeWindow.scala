package graft.store

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The CDC WINDOW RULE every change consumer shares — the cursor
  * follower ([[EpochFollower]]), the poll-loop bridge
  * ([[graft.streaming.EpochStream]]), the `graft-cdc` streaming source
  * and the `graft-changes` batch reader all ask this one object how a
  * pending window `(from, to]` over N member tables is cut, which
  * members changed in each piece, what each member's frame is, and
  * what schema the delivery is served in.
  *
  *  - '''Segments.''' A window is cut at the UNION of the members'
  *    rewrite commits ([[TableStore.RewriteOps]]: compaction, z-order),
  *    so no segment mixes a rewrite with logical changes — the
  *    endpoint diffs [[TableStore.readChangesSince]] reconciles stay
  *    O(logical diff). A segment whose `changed` set is empty is
  *    "advance, deliver nothing". A window some member's history
  *    cannot walk (vacuumed intermediate commits, a step where it was
  *    ungoverned) is ONE endpoint segment in which every such member
  *    must deliver. Appends mode never cuts: the rewrite-aware file
  *    walk of [[TableStore.readAddedSince]] already skips rewrites,
  *    and a member changed iff that walk adds files.
  *  - '''Member frames.''' `changes`: [[TableStore.readChangesSince]];
  *    `appends`: [[TableStore.readAddedSince]]; registration: the
  *    snapshot, tagged `insert` in changes mode. Frames carry the
  *    store's PHYSICAL column names.
  *  - '''The served schema''' of the reader formats: each member's
  *    surface names (ALTER RENAME COLUMN), without DROPPED tombstones
  *    or the bucket routing column; a member with no data contributes
  *    its declared schema, or, undeclared, the shape it had in the
  *    served window; `_table` first in the multi-table form,
  *    `_change_type` last in changes mode. [[align]] fits any frame to
  *    it.
  *  - '''Option parsing''' for the reader formats: members, mode and
  *    the epoch / tag / timestamp window endpoints.
  *
  * `members` pairs each table with its logical key (empty in appends
  * mode, where no key is needed).
  */
final case class ChangeWindow(
    store: TableStore, members: Seq[(String, Seq[String])], appends: Boolean) {
  import ChangeWindow.Segment

  val tables: Seq[String] = members.map(_._1)

  /** `(from, to]` cut into delivery segments (see the class doc). */
  def segments(from: Long, to: Long): Seq[Segment] =
    if (appends) Seq(whole(from, to))
    else {
      val ops = opsIn(from, to)
      if (ops.values.exists(_.isEmpty)) Seq(changesSegment(ops, from, to))
      else {
        val cuts = ops.values.flatMap(_.get).collect {
          case (e, op) if TableStore.RewriteOps(op) => Seq(e - 1, e)
        }.flatten.filter(e => e > from && e < to).toSeq
        (from +: cuts :+ to).distinct.sorted.sliding(2).collect {
          case Seq(a, b) => changesSegment(ops, a, b)
        }.toSeq
      }
    }

  /** `(from, to]` as ONE segment, uncut — the reader formats serve
    * whatever window they were handed.
    */
  def whole(from: Long, to: Long): Segment =
    if (appends) {
      // one rewrite-aware walk per member holding files in the window;
      // the frames read the files it found
      lazy val added = {
        val withFiles = store.withFilesInWindow(tables, from, to)
        tables.filter(withFiles).map(t => t -> store.addedRelsSince(t, from, to))
          .filter(_._2.nonEmpty).toMap
      }
      new Segment(from, to, tables.filter(added.contains), added)
    }
    else changesSegment(opsIn(from, to), from, to)

  private def opsIn(from: Long, to: Long) =
    tables.map(t => t -> store.commitOps(t, from, to)).toMap

  // a member changed in (a, b] iff a logical (non-rewrite) commit
  // touched it there; unprovable (unwalkable history) counts as changed
  private def changesSegment(
      ops: Map[String, Option[Seq[(Long, String)]]], a: Long, b: Long) =
    new Segment(a, b, tables.filter(t => ops(t).forall(_.exists {
      case (e, op) => e > a && e <= b && !TableStore.RewriteOps(op) })))

  /** Each changed member's frame over the segment, in member order. */
  def frames(s: Segment): Seq[(String, DataFrame)] =
    members.collect { case (t, pk) if s.changed.contains(t) =>
      t -> (if (appends) store.readAdded(t, s.added(t))
            else store.readChangesSince(t, s.from, s.to, pk))
    }

  /** The registration delivery: every member holding data, in full as
    * of `epoch` (tagged `insert` in changes mode).
    */
  def snapshot(epoch: Long): Seq[(String, DataFrame)] =
    tables.flatMap { t =>
      if (store.readIfExists(t).isEmpty) None
      else {
        val df = store.readEpoch(t, epoch)
        Some(t -> (if (appends) df
          else df.withColumn(store.ChangeTypeCol, lit("insert"))))
      }
    }

  /** Whether every member's history over `(from, to]` is walkable —
    * false means the window degrades to one endpoint segment.
    */
  def walkable(from: Long, to: Long): Boolean =
    opsIn(from, to).values.forall(_.isDefined)

  /** A member's served fields: current surface schema without dropped
    * tombstones or the bucket routing column, else its declared
    * schema, else — a member emptied since the served window, with no
    * declared schema — the shape it had in that window: its frame
    * there, or its files at a window endpoint. None when it has none
    * of these.
    */
  private def memberSchema(
      t: String, window: Option[(Segment, Seq[(String, DataFrame)])])
      : Option[StructType] = {
    val gone = store.droppedColumnsOf(t).toSet
    def inWindow = window.flatMap { case (s, parts) =>
      parts.collectFirst { case (`t`, df) => df.schema }.orElse(
        Seq(s.to, s.from).find(e => store.withFilesInWindow(Seq(t), e, e)(t))
          .map(store.readEpoch(t, _).schema))
    }.map(s => store.surfaceSchemaOf(t,
      StructType(s.fields.filterNot(_.name == store.ChangeTypeCol))))
    store.readIfExists(t).map(df => store.surfaceSchemaOf(t, df.schema))
      .orElse(store.declaredSchemaOf(t))
      .orElse(inWindow)
      .map(s => StructType(s.fields.filterNot(f =>
        f.name == store.BucketCol || gone(f.name))))
  }

  /** The schema the reader formats serve (see the class doc). `multi`
    * adds `_table` and makes every field nullable (members null-fill
    * each other's columns); same-name columns must agree on type.
    * `window` (a segment and its [[frames]]) lends its shape to a
    * member that is empty now and declares no schema. A member with
    * no shape at all contributes nothing — or is refused when
    * `requireShape`.
    */
  def servedSchema(multi: Boolean, requireShape: Boolean,
      window: Option[(Segment, Seq[(String, DataFrame)])] = None): StructType = {
    val fields = scala.collection.mutable.LinkedHashMap[String, StructField]()
    tables.foreach { t =>
      memberSchema(t, window) match {
        case None => require(!requireShape,
          s"table '$t' holds no data and declares no schema" +
            (if (window.isDefined) " and held none in the window" else "") +
            " — no schema to serve (graft-cdc: pass .schema(...) to " +
            "start a stream over it)")
        case Some(s) => s.fields.foreach { f =>
          fields.get(f.name) match {
            case Some(g) => require(g.dataType == f.dataType,
              s"column '${f.name}' is ${g.dataType} in one member and " +
                s"${f.dataType} in '$t' — members must agree on the type " +
                "(graft-cdc: pass .schema(...) to pick the served type)")
            case None => fields(f.name) = if (multi) f.copy(nullable = true) else f
          }
        }
      }
    }
    withChangeType(StructType(
      (if (multi) Seq(StructField(ChangeWindow.TableCol, StringType, nullable = false))
       else Nil) ++ fields.values))
  }

  /** `schema` plus `_change_type` in changes mode (unless present). */
  def withChangeType(schema: StructType): StructType =
    if (appends || schema.fieldNames.contains(store.ChangeTypeCol)) schema
    else schema.add(store.ChangeTypeCol, StringType, nullable = false)

  /** Member frames served as one frame of `schema`: each surfaced
    * (physical → surface names), `_table`-tagged when `multi`, aligned
    * and unioned; no frames serve an empty frame of `schema`.
    */
  def serve(
      parts: Seq[(String, DataFrame)], schema: StructType, multi: Boolean,
      surface: (String, DataFrame) => DataFrame = (t, df) => store.toSurface(t, df))
      : DataFrame =
    if (parts.isEmpty)
      store.spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    else parts.map { case (t, df) =>
      val s = surface(t, df)
      ChangeWindow.align(
        if (multi) s.withColumn(ChangeWindow.TableCol, lit(t)) else s, schema)
    }.reduce(_.unionByName(_))

  /** Refuse members no window can serve: a name neither governed (now
    * or at an `endpoints` epoch), holding data, nor declaring a schema
    * — a misspelling would serve zero rows forever — and, in appends
    * mode, a flat (never-governed) table, whose commit-log walk would
    * also serve zero rows forever.
    */
  def requireKnown(endpoints: Seq[Long]): Unit = {
    val known = endpoints.flatMap(store.tablesAt).toSet ++ store.governed
    val when = ("now" +: endpoints.distinct.map(e => s"at epoch $e")).mkString(", ")
    tables.foreach { t =>
      val declared = store.declaredSchemaOf(t).isDefined
      require(known(t) || declared || store.readIfExists(t).isDefined,
        s"unknown table '$t' — not governed ($when), holds no data, and " +
          "declares no schema (misspelled table name?)")
      if (appends) require(known(t) || declared,
        s"table '$t' is a flat (ungoverned) table — appends windows walk " +
          "the commit log, so it would serve zero rows forever; govern it " +
          "(ensureGoverned) or read it directly")
    }
  }
}

object ChangeWindow {

  /** Multi-table discriminator column: which member a row belongs to. */
  val TableCol = "_table"

  /** One delivery piece `(from, to]`. `changed` lists the members with
    * a logical change in it (empty: advance, deliver nothing);
    * computed on first use, so cutting costs no data-file metadata.
    * In appends mode `added` holds each changed member's walked file
    * list, which its frame reads.
    */
  final class Segment private[store] (
      val from: Long, val to: Long, changedIn: => Seq[String],
      addedIn: => Map[String, Seq[String]] = Map.empty) {
    lazy val changed: Seq[String] = changedIn
    private[store] lazy val added: Map[String, Seq[String]] = addedIn
  }

  /** Fit `df` to `schema`: keep a matching column, cast one of another
    * type, null-fill a missing one; columns outside `schema` go.
    */
  def align(df: DataFrame, schema: StructType): DataFrame = {
    val have = df.schema.map(f => f.name -> f.dataType).toMap
    df.select(schema.map { f =>
      have.get(f.name) match {
        case Some(dt) if dt == f.dataType => col(f.name)
        case Some(_) => col(f.name).cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }: _*)
  }

  // ------------------------------------------------------------------
  // reader-format options (`format` names the reader in messages)

  def required(params: Map[String, String], key: String, format: String): String =
    params.getOrElse(key,
      throw new IllegalArgumentException(s"$format needs option(\"$key\", ...)"))

  /** `mode` = `changes` (default) | `appends`; true for appends. */
  def appendsMode(params: Map[String, String]): Boolean =
    params.getOrElse("mode", "changes") match {
      case "changes" => false
      case "appends" => true
      case other => throw new IllegalArgumentException(
        s"mode must be changes|appends, got '$other'")
    }

  /** The multi-table form: `tables` given instead of `table`. */
  def isMulti(params: Map[String, String]): Boolean = params.contains("tables")

  /** Member table names: `tables` (comma-separated) XOR `table`. */
  def tablesOf(params: Map[String, String], format: String): Seq[String] =
    params.get("tables") match {
      case Some(ts) =>
        require(!params.contains("table"),
          "pass option(\"table\", ...) or option(\"tables\", ...), not both")
        val names = splitCsv(ts)
        require(names.nonEmpty, "tables must name at least one table")
        names
      case None => Seq(required(params, "table", format))
    }

  /** Members with their keys: `pk` (single) or `pk.<table>` (multi),
    * required in changes mode, unused in appends mode.
    */
  def membersOf(params: Map[String, String], appends: Boolean,
      format: String): Seq[(String, Seq[String])] = {
    val multi = isMulti(params)
    tablesOf(params, format).map { t =>
      val key = if (multi) s"pk.$t" else "pk"
      t -> (if (appends) Seq.empty else params.get(key).map(splitCsv)
        .filter(_.nonEmpty).getOrElse(throw new IllegalArgumentException(
          s"${if (multi) "multi-table " else ""}$format needs " +
            s"option(\"$key\", ...) — the logical key of '$t'")))
    }
  }

  private def splitCsv(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** A whole number of epochs (non-empty digits), else refused. */
  def number(key: String, v: String): Long = {
    require(v.nonEmpty && v.length <= 18 && v.forall(_.isDigit),
      s"option $key must be a whole number, got '$v'")
    v.toLong
  }

  /** Epoch millis or an ISO-8601 instant, else refused. */
  def instant(key: String, v: String): Long =
    if (v.nonEmpty && v.forall(_.isDigit)) number(key, v)
    else try java.time.Instant.parse(v).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(
          s"option $key must be epoch millis or an ISO-8601 instant, got '$v'")
    }

  /** A window endpoint: `<side>Tag` (a release tag), else
    * `<side>Timestamp` (the latest commit stamped at or before it),
    * else `<side>Epoch`; None when no such option is given.
    */
  def endpoint(store: TableStore, params: Map[String, String],
      side: String): Option[Long] =
    params.get(s"${side}Tag").map(tag => store.tags().getOrElse(tag,
      throw new IllegalArgumentException(s"unknown tag '$tag'")))
      .orElse(params.get(s"${side}Timestamp").map(v =>
        store.epochAtTimestamp(instant(s"${side}Timestamp", v))))
      .orElse(params.get(s"${side}Epoch").map(number(s"${side}Epoch", _)))
}
