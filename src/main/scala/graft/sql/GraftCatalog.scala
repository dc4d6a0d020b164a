package graft.sql

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.store.{FileManifest, TableStore}

/** Governed tables as a FIRST-CLASS SQL catalog — DataSource V2
  * `TableCatalog`, so the store joins `spark.sql` by name:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
  * spark.conf.set("spark.sql.catalog.graft.root", "/data/corpus")
  * spark.sql("SELECT lang, count(*) FROM graft.documents GROUP BY 1")
  * spark.sql("SELECT * FROM graft.documents VERSION AS OF 7")  // epoch
  * spark.sql("INSERT INTO graft.documents SELECT ...")
  * }}}
  *
  * Reads resolve through the store's epoch machinery: `VERSION AS OF
  * n` maps to [[TableStore.readEpoch]] (time travel over the commit
  * log — retained epochs only, the vacuum retention contract), a bare
  * read serves the current commit. The scan is a `V1Scan` bridge over
  * the store's own DataFrame: Spark hands down required columns and
  * filters, both are applied to the underlying frame so column pruning
  * and predicate pushdown reach the PARQUET scan (the store's stats /
  * bucket / z-order pruning all engage); every filter is also kept as
  * a residual above (reported un-pushed), so correctness never
  * depends on the translation. `INSERT INTO` upserts by the table's
  * declared bucket pk when one exists (the store's only write
  * discipline for bucketed layout) and whole-table-merges otherwise;
  * `INSERT OVERWRITE` maps to [[TableStore.overwrite]] on flat
  * tables. `CREATE TABLE` / CTAS declare governed (+ optionally
  * bucketed) tables — see [[createTable]]; `DELETE FROM` and
  * `TRUNCATE` route through the index-cascading retraction — see
  * [[GraftTable]]. `UPDATE` and `MERGE INTO` complete the DML story
  * through the extensions seam ([[GraftDml]], injected by
  * `spark.sql.extensions=graft.functions.GraftExtensions`): Spark's
  * own path would need a native DSv2 `BatchWrite` (executor-side
  * writers) where this catalog deliberately bridges through V1
  * frames, so the analyzed plans are intercepted one level up and
  * routed through the store's upsert / retraction verbs instead.
  * `ALTER TABLE ADD COLUMN` / `DROP COLUMN` evolve metadata-only (see
  * [[alterTable]]), `RENAME TO` moves the table WITH its index
  * inventory (see [[renameTable]]), and `DROP TABLE` / `DROP TABLE
  * PURGE` close the lifecycle (see [[dropTable]]); remaining ALTER
  * shapes (column renames/type changes) stay with the library's
  * richer lifecycle.
  *
  * Consistency: like Iceberg/Delta catalogs, each TABLE REFERENCE
  * resolves the then-current commit independently, so a multi-table
  * query racing a concurrent commit can observe tables at different
  * epochs (the library-side fix is [[TableStore.withSnapshot]]). The
  * SQL-side fix is free here because the epoch is GLOBAL across
  * tables: `VERSION AS OF e` on every referenced table is a
  * transactionally consistent multi-table snapshot — one epoch, all
  * tables, however the query interleaves with writers (pinned in
  * GraftCatalogSpec).
  *
  * Scale: catalog calls are driver metadata (`tableNames`, schema
  * resolution); the data path is the same governed parquet scan every
  * library read uses — nothing is collected or re-encoded. A fresh
  * [[TableStore]] is opened per call (instances are single-threaded;
  * concurrent SQL sessions each get their own) — the price of the
  * re-rooting contract above: a hot SQL loop pays one store open
  * (pointer listing + parse, a couple of driver-side FS calls) per
  * table resolution, never per row.
  */
class GraftCatalog extends TableCatalog with ProcedureCatalog {

  private var catalogName: String = _
  private var initRoot: Option[String] = None

  /** Maintenance verbs as SQL stored procedures (`CALL
    * graft.system.doctor()` etc. — see [[GraftProcedures]]); resolve
    * under the `system` namespace or bare.
    */
  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.isEmpty ||
      (ident.namespace.length == 1 && ident.namespace.head == "system"),
      s"procedures live in the 'system' namespace " +
        s"(got ${ident.namespace.mkString(".")})")
    GraftProcedures.load(ident.name, () => store()).getOrElse(
      throw new UnsupportedOperationException(
        s"unknown procedure '${ident.name}' — known: " +
          GraftProcedures.idents.map(_.name).sorted.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] = {
    require(namespace.isEmpty || namespace.sameElements(Array("system")),
      s"procedures live in the 'system' namespace " +
        s"(got ${namespace.mkString(".")})")
    GraftProcedures.idents
  }

  override def initialize(
      name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initRoot = Option(options.get("root"))
    require(root.nonEmpty,
      s"catalog '$name' needs spark.sql.catalog.$name.root")
  }

  override def name(): String = catalogName

  /** Spark caches the catalog INSTANCE on first reference and never
    * re-runs initialize, so the root is re-read from the live session
    * conf on every call — `spark.conf.set(...root, newRoot)` re-roots
    * the catalog the way users expect (one catalog name, many stores
    * over a session's lifetime; the CLI `sql` verb relies on it).
    */
  private def root: String =
    Option(SparkSession.active.conf.get(
      s"spark.sql.catalog.$catalogName.root", null))
      .orElse(initRoot).getOrElse(
        throw new IllegalArgumentException(
          s"catalog '$catalogName' needs spark.sql.catalog.$catalogName.root"))

  private def store(): TableStore =
    new TableStore(SparkSession.active, root)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    require(namespace.isEmpty,
      s"graft catalog has no namespaces (got ${namespace.mkString(".")})")
    store().tableNames.map(Identifier.of(Array.empty[String], _)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.isEmpty && {
      val (base, meta) = GraftCatalog.splitMeta(ident.name)
      (meta.isEmpty || GraftCatalog.MetaTables.contains(meta.get)) &&
        store().tableNames.contains(base)
    }

  override def loadTable(ident: Identifier): Table =
    load(ident, epoch = None)

  /** `VERSION AS OF <epoch>` — the commit log is the version history.
    * A version that parses as a Long is an EPOCH; anything else
    * resolves as a release TAG (`VERSION AS OF 'rel-1'`), the Iceberg
    * ref convention — tags are named pinned epochs, so the
    * global-epoch consistency rule applies to them too. Numeric tag
    * names are therefore shadowed by the epoch interpretation (tag
    * names are free-form; epochs are not) — name tags with a
    * non-digit character. A version that is neither fails loudly.
    */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, epoch = Some(
      scala.util.Try(version.trim.toLong).toOption.getOrElse(
        store().log.tags().getOrElse(version,
          throw new IllegalArgumentException(
            s"'$version' is neither an epoch nor a known tag")))))

  /** `TIMESTAMP AS OF <instant>` — Spark hands the instant as
    * MICROSECONDS since the epoch; it resolves to the latest retained
    * commit whose persisted wall-clock stamp is ≤ the instant
    * ([[graft.store.CommitLog.epochAtTimestamp]] — commit-log `#ts=` headers,
    * immune to mtime-rewriting copies). Like `VERSION AS OF`, the
    * resolved epoch is GLOBAL, so the same instant on every referenced
    * table is a transactionally consistent multi-table snapshot.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    load(ident, epoch = Some(store().log.epochAtTimestamp(
      Math.floorDiv(timestamp, 1000L))))

  private def load(ident: Identifier, epoch: Option[Long]): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    GraftCatalog.splitMeta(ident.name) match {
      case (base, Some(meta)) =>
        require(epoch.isEmpty,
          "metadata tables are not versioned — query them unpinned")
        new GraftMetaTable(root, base, meta)
      case (name, None) => new GraftTable(root, name, epoch)
    }
  }

  override def invalidateTable(ident: Identifier): Unit = ()

  /** CREATE TABLE / CTAS — the one DDL the catalog accepts, closing
    * the SQL-only lifecycle gap (everything else still lives with the
    * library's richer verbs):
    *
    * {{{
    * CREATE TABLE graft.docs TBLPROPERTIES('pk'='id','buckets'='16')
    *   AS SELECT ...   -- governed + bucketed: INSERT INTO upserts by pk
    * CREATE TABLE graft.flat AS SELECT ...   -- governed, flat layout
    * }}}
    *
    * `pk` (comma-separated) + optional `buckets` (default 16) declare
    * the bucketed upsert layout; without `pk` the table is flat
    * (whole-table-merge INSERT discipline). The create commits the
    * declared schema as an EMPTY governed table first (so the table
    * resolves, time-travels and SELECTs as zero rows immediately); a
    * CTAS's rows then land as the next epoch through the normal
    * INSERT path — the standard non-atomic V2 CTAS shape, with each
    * step crash-safe on its own. Layout is `pk`-hash bucketing only:
    * `PARTITIONED BY` is refused (the store owns physical layout).
    *
    * `TBLPROPERTIES('fts'='col1,col2')` (requires a single-column
    * `pk`; optional `'fts_buckets'='N'`, default = the base bucket
    * count) creates the table WITH its FTS index — the reference's
    * own contract (`ensure_tables` creates the FTS shadow tables at
    * table-creation time, `/root/reference/utils.py:330-352`): the
    * index exists from birth (stats-only until rows arrive),
    * [[graft.store.IndexMaintain]] refreshes it inside every INSERT /
    * UPDATE / MERGE epoch from the very first one, and DROP removes
    * it with the inventory. ADD/DROP COLUMN, RENAME TO and DROP TABLE
    * are supported (see [[alterTable]]/[[renameTable]]/[[dropTable]]);
    * column renames/type changes stay with the library.
    */
  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    require(ident.namespace.isEmpty,
      s"graft catalog has no namespaces (got ${ident.namespace.mkString(".")})")
    require(!ident.name.contains("$"),
      "'$' names the metadata-table suffix — pick another table name")
    require(partitions.isEmpty,
      "PARTITIONED BY is not supported — declare TBLPROPERTIES('pk'=..., " +
        "'buckets'=...) for the bucketed layout; the store owns physical layout")
    val s = store()
    // governed-but-dirless names (CREATE before any insert, or an
    // index governed empty at DDL time) collide too — a dir-only
    // check would let CREATE silently adopt a live pointer entry
    if (s.tableNames.contains(ident.name) || s.governed.contains(ident.name))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(Seq(catalogName, ident.name))
    val pk = Option(properties.get("pk"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val buckets = Option(properties.get("buckets")).map(_.trim.toInt)
    require(buckets.isEmpty || pk.nonEmpty,
      "'buckets' needs a 'pk' table property to bucket on")
    pk.foreach(p => p.foreach(c => require(schema.fieldNames.contains(c),
      s"pk column '$c' is not in the created schema " +
        s"(${schema.fieldNames.mkString(", ")})")))
    val fts = Option(properties.get("fts"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val ftsBuckets = Option(properties.get("fts_buckets")).map(_.trim.toInt)
    require(ftsBuckets.isEmpty || fts.nonEmpty,
      "'fts_buckets' needs an 'fts' table property to lay out")
    fts.foreach { cols =>
      require(pk.exists(_.size == 1),
        "'fts' needs a single-column 'pk' table property — per-pk " +
          "indexes key on one column")
      cols.foreach(c => require(schema.fieldNames.contains(c),
        s"fts column '$c' is not in the created schema " +
          s"(${schema.fieldNames.mkString(", ")})"))
    }
    // declare layout + schema, then govern — the schema marker lets
    // the empty table resolve (and SELECT as zero rows) before any
    // insert; the CTAS rows land as the next epoch via the normal
    // INSERT path
    pk.foreach(p => s.ensureBucketed(ident.name, p, buckets.getOrElse(16)))
    s.declareSchema(ident.name, schema)
    s.ensureGoverned(Seq(ident.name))
    // index-from-birth: stats-only build records the provenance, the
    // write tables govern empty, and the CTAS/INSERT rows arriving
    // next land base + postings as ONE epoch (IndexMaintain)
    fts.foreach(cols => graft.store.IndexMaintain.buildFts(
      s, ident.name, cols, ftsBuckets.getOrElse(-1)))
    new GraftTable(root, ident.name, epoch = None)
  }

  /** `ALTER TABLE graft.t ADD COLUMN c TYPE` / `DROP COLUMN c` /
    * `RENAME COLUMN a TO b` — METADATA-ONLY schema evolution,
    * Delta/Iceberg-style: no table rewrite in any direction (at
    * 100 TB an ALTER must not touch data files).
    *
    * ADD widens the `_graft_schema` marker to the union and the
    * catalog's reader NULL-FILLS the declared-but-missing column until
    * data actually carries it; the store's own upsert evolution takes
    * over from the first write that includes the column. This is also
    * the hook Spark's `MERGE WITH SCHEMA EVOLUTION` resolves through
    * (the table declares `AUTOMATIC_SCHEMA_EVOLUTION`, Spark's
    * analyzer computes the source-minus-target changes and calls
    * here). Top-level nullable adds only: a non-nullable add has no
    * value for existing rows.
    *
    * DROP narrows the marker AND records the name in the dropped
    * tombstone list ([[TableStore.declareDropped]]): the data files
    * keep the column, the reader projects it out of CURRENT reads,
    * and time-travel keeps each epoch's own shape. Because the values
    * survive in the files, RE-ADDING a dropped name is REFUSED — it
    * would resurrect the old values instead of null-filling (Iceberg
    * avoids this with field ids; a name-keyed store must refuse) —
    * which also blocks `MERGE WITH SCHEMA EVOLUTION` from
    * accidentally resurrecting it from a stale source. Refused drops:
    * pk/bucket columns (the table's identity), columns a maintained
    * index records as its input ([[graft.store.IndexMaintain
    * .provenancedColumns]] — the next refresh would need them), and
    * the last column.
    *
    * RENAME records a physical→surface NAME-MAP entry
    * ([[TableStore.declareRenamed]]): the data files keep the column's
    * BIRTH name forever, current reads serve the mapped name, every
    * SQL write path translates surface→physical before landing, and
    * time-travel keeps each epoch's own (physical) shape. Renaming
    * back to the birth name clears the entry (the values were live
    * throughout — no resurrection). Refused renames mirror DROP's
    * identity guards (pk/bucket, index-provenance inputs) plus
    * target-name hazards: a live surface name, a DROPPED name (its
    * values may survive in files), another renamed column's physical
    * name (the write translation would collide at the file level),
    * and the store's bucket routing column. Struct-field surgery and
    * type changes stay with the library's richer verbs.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    require(ident.namespace.isEmpty && !ident.name.contains("$"),
      s"cannot ALTER '${ident.name}'")
    val s = store()
    if (!s.tableNames.contains(ident.name))
      throw new NoSuchTableException(ident)
    val resolver = spark.sessionState.conf.resolver
    val base: StructType = s.declaredSchemaOf(ident.name).getOrElse(
      StructType(s.readIfExists(ident.name).map(_.schema.fields
        .filterNot(_.name == s.BucketCol)).getOrElse(Array.empty)))
    val dropped = Seq.newBuilder[String]
    // the physical→surface name map, threaded through the fold so a
    // statement chaining renames sees its own earlier changes; a
    // surface name's PHYSICAL name is what the data files carry (its
    // birth name — identity unless a rename map entry says otherwise)
    var renames: Seq[(String, String)] = s.renamedColumnsOf(ident.name)
    def physOf(surface: String): String =
      renames.find { case (_, surf) => resolver(surf, surface) }
        .map(_._1).getOrElse(surface)
    val evolved = changes.foldLeft(base) { (sch, ch) =>
      ch match {
        case add: TableChange.AddColumn =>
          require(add.fieldNames.length == 1,
            s"ADD COLUMN supports top-level columns only " +
              s"(got ${add.fieldNames.mkString(".")}) — struct-field " +
              "surgery stays with the library")
          val name = add.fieldNames.head
          require(add.isNullable,
            s"added column '$name' must be nullable — existing rows " +
              "null-fill; there is no value to backfill NOT NULL with")
          require(!sch.fieldNames.exists(resolver(_, name)),
            s"column '$name' already exists in ${ident.name}")
          require(!s.droppedColumnsOf(ident.name).exists(resolver(_, name)),
            s"column '$name' was DROPPED from ${ident.name} and its old " +
              "values may still live in the data files — re-adding the " +
              "name would resurrect them instead of null-filling; pick " +
              "another name, or really shed the column with a CTAS " +
              "rewrite: CREATE TABLE graft.tmp TBLPROPERTIES(...) AS " +
              s"SELECT <surviving columns> FROM graft.${ident.name}; " +
              s"DROP TABLE graft.${ident.name}; ALTER TABLE graft.tmp " +
              s"RENAME TO ${ident.name}; then ADD COLUMN $name " +
              "null-fills as expected (the rewrite dropped the values)")
          require(!renames.exists { case (phys, _) => resolver(phys, name) },
            s"column name '$name' is the PHYSICAL (file-level) name of a " +
              s"renamed column of ${ident.name} " +
              s"(${renames.map { case (p, sf) => s"$p→$sf" }.mkString(", ")}) " +
              "— the data files still carry values under it, so adding it " +
              "would collide with the renamed column's storage; pick " +
              "another name, or rename the column back first")
          Seq(s.BucketCol, "_table", s.ChangeTypeCol).foreach(res =>
            require(!resolver(name, res),
              s"cannot add column '$name' — the name is reserved " +
                "(bucket routing / CDC metadata column)"))
          sch.add(name, add.dataType, nullable = true)
        case del: TableChange.DeleteColumn =>
          require(del.fieldNames.length == 1,
            s"DROP COLUMN supports top-level columns only " +
              s"(got ${del.fieldNames.mkString(".")}) — struct-field " +
              "surgery stays with the library")
          val name = del.fieldNames.head
          sch.fields.find(f => resolver(f.name, name)) match {
            case None =>
              require(del.ifExists,
                s"no such column '$name' in ${ident.name} " +
                  s"(${sch.fieldNames.mkString(", ")})")
              sch
            case Some(field) =>
              require(sch.fields.length > 1,
                s"cannot drop '$name' — it is ${ident.name}'s last column")
              // guards and the tombstone operate on the PHYSICAL name:
              // that is what the bucket layout, index provenance, and
              // data files record
              val phys = physOf(field.name)
              require(!s.bucketLayoutOf(ident.name)
                .exists(_._2.exists(resolver(_, phys))),
                s"cannot drop '$name' — it is part of ${ident.name}'s " +
                  "declared bucket pk (the table's identity); rewrite " +
                  "via CTAS instead")
              val indexed =
                graft.store.IndexMaintain.provenancedColumns(s, ident.name)
              require(!indexed.exists(resolver(_, phys)),
                s"cannot drop '$name' — a maintained index of " +
                  s"${ident.name} records it as its input " +
                  s"(indexed columns: ${indexed.toSeq.sorted.mkString(", ")}); " +
                  "drop the index first")
              dropped += phys
              renames = renames.filterNot { case (p, _) => resolver(p, phys) }
              StructType(sch.fields.filterNot(f => resolver(f.name, name)))
          }
        case ren: TableChange.RenameColumn =>
          require(ren.fieldNames.length == 1,
            s"RENAME COLUMN supports top-level columns only " +
              s"(got ${ren.fieldNames.mkString(".")}) — struct-field " +
              "surgery stays with the library")
          val from = ren.fieldNames.head
          val to = ren.newName
          val field = sch.fields.find(f => resolver(f.name, from)).getOrElse(
            throw new IllegalArgumentException(
              s"no such column '$from' in ${ident.name} " +
                s"(${sch.fieldNames.mkString(", ")})"))
          val phys = physOf(field.name)
          // identity guards mirror DROP: the pk/bucket columns ARE the
          // table's identity (every index, CDC key and bucket route
          // names them), and index provenance records its input by
          // name (column-scoped MATCH, rebuilds and refreshes would
          // split between two names)
          require(!s.bucketLayoutOf(ident.name)
            .exists(_._2.exists(resolver(_, phys))),
            s"cannot rename '$from' — it is part of ${ident.name}'s " +
              "declared bucket pk (the table's identity); rewrite via " +
              "CTAS instead")
          val indexed =
            graft.store.IndexMaintain.provenancedColumns(s, ident.name)
          require(!indexed.exists(resolver(_, phys)),
            s"cannot rename '$from' — a maintained index of ${ident.name} " +
              s"records it as its input (indexed columns: " +
              s"${indexed.toSeq.sorted.mkString(", ")}); drop the index " +
              "first, rename, and rebuild under the new name")
          // target-name guards: live surface names, dropped tombstones
          // (files may still carry their values — the same resurrect
          // hazard ADD refuses), other columns' physical names (write
          // translation would collide at the file level), and the
          // store-internal bucket column
          // the column itself is exempt: renaming to a CASE-variant of
          // its own current name is a legal re-casing, not a collision
          require(!sch.fieldNames.exists(f =>
            resolver(f, to) && !resolver(f, from)),
            s"cannot rename '$from' to '$to' — column '$to' already " +
              s"exists in ${ident.name}")
          require(!s.droppedColumnsOf(ident.name).exists(resolver(_, to)),
            s"cannot rename '$from' to '$to' — '$to' was DROPPED from " +
              s"${ident.name} and its old values may still live in the " +
              "data files; pick another name or CTAS-rewrite first")
          // reserved: the bucket routing column and the CDC metadata
          // columns (graft-changes/graft-cdc stamp `_table` and
          // `_change_type` onto every frame — a user column of either
          // name would be silently replaced or collide)
          Seq(s.BucketCol, "_table", s.ChangeTypeCol).foreach(res =>
            require(!resolver(to, res),
              s"cannot rename '$from' to '$to' — the name is reserved " +
                "(bucket routing / CDC metadata column)"))
          require(!renames.exists { case (p, surf) =>
            resolver(p, to) && !resolver(surf, from) },
            s"cannot rename '$from' to '$to' — '$to' is the PHYSICAL " +
              s"(file-level) name of another renamed column of " +
              s"${ident.name}; the data files still carry values under it")
          // metadata-only: update the name map (physical name is the
          // birth name — renaming back to it clears the entry; EXACT
          // match, because a case-variant of the birth name still
          // needs the map so reads serve the declared casing) and the
          // declared surface; no data file is touched
          renames = renames.filterNot { case (p, _) => resolver(p, phys) }
          if (phys != to) renames = renames :+ (phys -> to)
          StructType(sch.fields.map(f =>
            if (resolver(f.name, from)) f.copy(name = to) else f))
        case other => throw new UnsupportedOperationException(
          s"unsupported ALTER on graft tables: $other — only ADD COLUMN, " +
            "DROP COLUMN and RENAME COLUMN; type changes stay with the " +
            "library")
      }
    }
    s.declareSchema(ident.name, evolved)
    val newDropped = dropped.result()
    if (newDropped.nonEmpty)
      s.declareDropped(ident.name,
        (s.droppedColumnsOf(ident.name) ++ newDropped).distinct)
    if (renames != s.renamedColumnsOf(ident.name))
      s.declareRenamed(ident.name, renames)
    new GraftTable(root, ident.name, epoch = None)
  }

  private def spark: SparkSession = SparkSession.active

  /** `DROP TABLE graft.t` — close the lifecycle the catalog opened
    * with CREATE/CTAS: remove the base table AND every index-family
    * artifact keyed on it (postings, maps, params, centroids,
    * codebooks, occupancy snapshots, `_meta` provenance rows —
    * [[graft.store.Retract.artifactTablesOf]]), un-governing all of
    * them in ONE pointer write before the directories delete. The
    * reference's own archive flow is drop-and-recreate
    * (`/root/reference/archive.py:240-248`), so removal is IMMEDIATE —
    * there is no to-be-vacuumed limbo state; `VERSION AS OF` a
    * pre-drop epoch fails loudly afterwards (the commit resolves, its
    * files are gone), and a re-created table of the same name starts
    * its `$history` fresh (the dead incarnation's epochs are not its
    * history).
    *
    * Pins follow Iceberg's drop-vs-purge escalation: plain DROP
    * REFUSES while a release tag's pinned commit contains the table
    * (or any of its artifacts) or a consumer cursor is registered on
    * one — deleting under a pin would break it silently; `DROP TABLE
    * ... PURGE` ([[purgeTable]]) releases those pins itself
    * (deregisters the cursors; drops a pinning tag only when it pins
    * nothing but the doomed tables, KEEPING a tag that also protects
    * other tables' retention — purging one table never silently
    * un-pins the rest) and then drops. Streaming
    * consumers of a dropped table fail loudly on their next window
    * ("not governed at epoch"), never serve empty batches.
    */
  override def dropTable(ident: Identifier): Boolean =
    dropImpl(ident, purge = false)

  override def purgeTable(ident: Identifier): Boolean =
    dropImpl(ident, purge = true)

  private def dropImpl(ident: Identifier, purge: Boolean): Boolean = {
    if (ident.namespace.nonEmpty) return false
    val (base, meta) = GraftCatalog.splitMeta(ident.name)
    require(meta.isEmpty,
      s"cannot DROP metadata table '${ident.name}' — it is a read-only " +
        s"view over '$base'; DROP the base table")
    val s = store()
    if (!s.tableNames.contains(base)) return false
    val doomed = base +: graft.store.Retract.artifactTablesOf(s, base)
    if (purge) {
      // release the pins DROP would refuse on: consumer cursors on any
      // doomed table deregister; a tag whose pinned commit contains
      // one is DROPPED only when it pins nothing else — a tag that
      // also protects OTHER tables' retention at its epoch SURVIVES
      // (dropping it would silently release their vacuum pins too),
      // and the doomed tables simply leave it (the kept tag's epoch
      // then names a dead table, the same retained-commit state every
      // plain DROP leaves — vacuum-safe, and VERSION AS OF that tag
      // fails loudly for the dead table, exactly like any pre-drop
      // epoch)
      graft.store.EpochFollower.cursors(s).keys.foreach {
        case (t, c) if doomed.contains(t) =>
          graft.store.EpochFollower.drop(s, t, c)
        case _ =>
      }
      val kept = Set.newBuilder[String]
      val doomedSet = doomed.toSet
      s.log.taggedTables().foreach { case (tag, _, at) =>
        if (at.exists(doomedSet)) {
          if ((at -- doomedSet).isEmpty) s.log.dropTag(tag)
          else kept += tag
        }
      }
      s.dropTables(doomed, ignorePinsOf = kept.result())
    } else s.dropTables(doomed)
    true
  }

  /** `ALTER TABLE graft.t RENAME TO t2` — the inventory-carrying move:
    * the base AND every index artifact keyed on it rename together
    * (postings, codes, params, `_meta` provenance, occupancy
    * snapshots — the same [[graft.store.Retract.artifactTablesOf]]
    * set DROP takes), via one commit-pointer re-key + directory moves
    * ([[TableStore.renameTables]]); `_meta` provenance rows re-point
    * their recorded base name so Doctor's orphan proof and the
    * retrain loop follow the rename. Pins REFUSE, exactly like plain
    * DROP: a release tag pinning the table (the pinned epoch would
    * resolve moved files) or a consumer cursor on it (its diff base
    * would break silently) must be dropped first — there is no
    * RENAME ... PURGE escalation. History is name-keyed: queries,
    * MATCH and CDC serve under the new name from the rename commit
    * on; the old name is NoSuchTable; the new name's `$history`
    * starts fresh at the rename (pre-rename epochs keep the old name
    * — retained pointers are immutable), the DROP + re-CREATE
    * incarnation rule.
    */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    require(oldIdent.namespace.isEmpty && newIdent.namespace.isEmpty,
      "graft catalog has no namespaces — RENAME TO a bare table name")
    val (oldBase, meta) = GraftCatalog.splitMeta(oldIdent.name)
    require(meta.isEmpty && !newIdent.name.contains("$"),
      "'$' names the metadata-table suffix — rename the base table")
    val s = store()
    val newName = newIdent.name
    val oldGov = s.governed.contains(oldBase)
    val oldDir = s.tableNames.contains(oldBase)
    val newGov = s.governed.contains(newName)
    val newDir = s.tableNames.contains(newName)
    if (!oldGov && newGov) {
      // the pointer may ALREADY serve the new name — the crash-RESUME
      // states (renameTables writes an intent marker, flips the
      // pointer, then moves directories; a death anywhere between
      // leaves old-named dirs and/or stale _meta provenance behind).
      // Resume ONLY on positive evidence that THIS old name was
      // renamed to THIS new one: the intent marker recording exactly
      // this pair (the primary signal — every crash inside
      // renameTables leaves it), a leftover artifact whose TARGET name
      // the pointer carries, or stale provenance on the new name's
      // artifacts recording the old base. A bare orphan set of some
      // dead table, a typo'd rename against an unrelated live target,
      // or a live FLAT table colliding with a governed-but-dirless
      // name (SQL CREATE before any insert — directory shapes
      // identical to a mid-move crash) has none of these and must NOT
      // graft — it stays NoSuchTable/collision. (Spark's analyzer
      // pre-validates the old name for the SQL form, so the resume
      // entry is this catalog method / the library's renameTables —
      // pinned in GraftCatalogSpec.)
      val arts = graft.store.Retract.artifactTablesOf(s, oldBase)
      // artifacts first, BASE LAST (same order as the normal path):
      // while any artifact dir is still old-named the base dir is too,
      // so no crash state can present a provably-dead base
      val pairs = (arts ++ (if (oldDir) Seq(oldBase) else Nil))
        .map(a => a -> (newName + a.stripPrefix(oldBase)))
      val intended = s.renameIntent()
        .exists(_.get(oldBase).contains(newName))
      val staleMeta = graft.store.Retract.artifactTablesOf(s, newName)
        .exists(na => graft.store.IvfDrift.trainingMeta(s, na)
          .exists(_.get("table").contains(oldBase)))
      val evidence = intended || staleMeta ||
        pairs.exists { case (o, n) => o != oldBase && s.governed.contains(n) }
      if (evidence) {
        // an empty pair list still completes the rename: renameTables
        // clears the intent marker once every pending pair is
        // complete (old name un-keyed, old dir gone) — which an
        // all-moved crash state satisfies
        s.renameTables(pairs)
        repointMeta(s, oldBase, newName)
        return
      }
    }
    if (!oldGov && !oldDir) throw new NoSuchTableException(oldIdent)
    if (newGov || newDir)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(Seq(catalogName, newName))
    val arts = graft.store.Retract.artifactTablesOf(s, oldBase)
    // directory moves run in pair order — artifacts first, BASE LAST:
    // a crash anywhere mid-moves then still has the old base dir
    // present, so (a) the resume evidence above holds trivially and
    // (b) heal_orphans can never prove the base dead while un-moved
    // artifact dirs remain (names.contains(base) defeats every orphan
    // proof); after the base moves, only the _meta re-point remains,
    // which the name-agreement rule keeps un-healable and the resume
    // (staleMeta evidence) completes
    val pairs = arts.map(a =>
      a -> (newName + a.stripPrefix(oldBase))) :+ (oldBase -> newName)
    s.renameTables(pairs)
    repointMeta(s, oldBase, newName)
  }

  /** Re-point every renamed artifact's recorded base name at the new
    * one — Doctor's orphan proof and IvfDrift's retrain loop key on
    * it. Scans the NEW names (resume-safe: works whether the move
    * just happened or is being completed).
    */
  private def repointMeta(
      s: TableStore, oldBase: String, newName: String): Unit =
    graft.store.Retract.artifactTablesOf(s, newName).foreach { na =>
      graft.store.IvfDrift.trainingMeta(s, na).foreach { m =>
        if (m.get("table").contains(oldBase))
          graft.store.IvfDrift.recordTraining(s, na,
            m.updated("table", newName))
      }
    }
}

object GraftCatalog {
  /** Metadata-table suffixes (Iceberg's `table$snapshots` pattern —
    * backtick the identifier in SQL: `` graft.`docs$history` ``).
    */
  val MetaTables: Set[String] = Set("history", "files", "tags", "cursors")

  private[sql] def splitMeta(name: String): (String, Option[String]) =
    name.lastIndexOf('$') match {
      case -1 => (name, None)
      case i => (name.substring(0, i), Some(name.substring(i + 1)))
    }
}

/** Read-only metadata tables over the commit log: `$history` (epoch,
  * op, n_files — retained commits that changed the table), `$files`
  * (the stats manifest: per-file row counts / sizes / column
  * envelopes), `$tags` (name → pinned epoch), `$cursors` (consumer →
  * last-processed epoch). All driver-metadata-sized; served through
  * the same V1 scan bridge.
  */
private[sql] class GraftMetaTable(root: String, base: String, meta: String)
  extends Table with SupportsRead {

  private def frame(): DataFrame = {
    val spark = SparkSession.active
    import spark.implicits._
    val s = new TableStore(spark, root)
    meta match {
      case "history" =>
        // committed_at = the pointer's persisted wall-clock stamp
        // (pointer mtime for legacy commits) — what TIMESTAMP AS OF
        // resolves against, surfaced Iceberg-snapshots-style
        val stamps = s.log.commitStamps().toMap
        s.log.tableHistory(base)
          .map { case (e, op, n) =>
            (e, new java.sql.Timestamp(stamps(e)), op, n) }
          .toDF("epoch", "committed_at", "op", "n_files")
      case "files" =>
        // manifest-backed when the table opted into footer-free pruning
        // (FileManifest.build); plain live file list otherwise
        FileManifest.table(s, base).getOrElse(s.dataFiles(base).toDF("file"))
      case "tags" =>
        // dead_members: tables the pinned commit names that are no
        // longer live (the PURGE-survivor state Doctor's
        // tag-dead-member flags) — empty for a fully-live tag
        graft.store.Doctor.tagDeadMembers(s, s.tableNames.toSet ++ s.governed)
          .map { case (t, e, dead) => (t, e, dead.mkString(",")) }
          .toDF("tag", "epoch", "dead_members")
      case "cursors" =>
        graft.store.EpochFollower.cursors(s).toSeq.collect {
          case ((t, consumer), epoch) if t == base => (consumer, epoch)
        }.toDF("consumer", "epoch")
    }
  }

  override def name(): String = s"$base$$$meta"
  override lazy val schema: StructType = frame().schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(() => frame())
}

/** One governed table (optionally pinned to an epoch) behind the V2
  * Table interface; reads, writes and deletes bridge to the store's
  * own verbs.
  *
  * `DELETE FROM graft.t WHERE …` routes through [[SupportsDelete]]:
  * Spark hands the condition down as source filters (anything it
  * cannot translate fails the query loudly at planning — a DELETE
  * never silently falls back to a scan-and-rewrite Spark would have
  * to invent). On a single-pk bucketed table the matching keys feed
  * [[graft.store.Retract.cascade]], so the base rows AND every
  * maintained per-pk index (FTS postings, trigram, the ANN codes
  * ladder) retract together — one atomic epoch when everything is
  * governed, the healable base-first order otherwise, exactly the
  * library contract. Composite-pk bucketed tables take the
  * O(touched buckets) [[TableStore.deleteByPk]] (per-pk indexes
  * cannot exist on them); flat tables take the predicate rewrite
  * ([[TableStore.deleteWhere]]) and are REFUSED while per-pk indexes
  * exist (no declared key to cascade with — the library's
  * Retract.cascade owns that case).
  */
private[sql] class GraftTable(
    root: String, tableName: String, epoch: Option[Long])
  extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  // exposed for the DML interception rule (GraftDml), which re-roots
  // its own store from the same coordinates
  private[sql] def graftRoot: String = root
  private[sql] def graftTableName: String = tableName
  private[sql] def graftEpoch: Option[Long] = epoch

  private def store(): TableStore =
    new TableStore(SparkSession.active, root)

  private def frame(): DataFrame = {
    val s = store()
    val raw = epoch match {
      case Some(e) => s.readEpoch(tableName, e)
      case None => s.readIfExists(tableName)
        .orElse(s.declaredSchemaOf(tableName).map(sch =>
          // created empty (SQL CREATE/CTAS): serve the declared shape
          SparkSession.active.createDataFrame(
            new java.util.ArrayList[Row](), sch)))
        .getOrElse(throw new IllegalStateException(
          s"$tableName holds no data yet — insert through the library first"))
    }
    // the bucket routing column is store-internal layout, not table
    // surface: SQL readers never see it, INSERT never has to supply it
    // (the upsert path recomputes it)
    val surfaced =
      if (raw.columns.contains(s.BucketCol)) raw.drop(s.BucketCol) else raw
    // CURRENT reads serve the DECLARED surface: a column added by SQL
    // ALTER (metadata-only — see GraftCatalog.alterTable) null-fills
    // until data carries it, a column DROPPED by SQL ALTER projects
    // OUT even though the data files still carry its values (the
    // tombstone list — no rewrite happened), and a column RENAMED by
    // SQL ALTER serves its mapped surface name over the files'
    // physical one (the name map — tombstones key on physical names,
    // so they project before the map applies). Time-travel reads keep
    // the epoch's own shape — old snapshots predate the evolution in
    // every direction.
    epoch match {
      case None =>
        val tombstoned = s.droppedColumnsOf(tableName)
        val current = s.toSurface(tableName,
          if (tombstoned.isEmpty) surfaced
          else surfaced.drop(tombstoned: _*))
        s.declaredSchemaOf(tableName) match {
          case Some(decl) =>
            // resolver-aware presence check: a declared case-variant
            // of a present column must NOT null-fill — withColumn
            // would REPLACE the live column under case-insensitive
            // resolution, serving NULLs over intact data
            val resolver = SparkSession.active.sessionState.conf.resolver
            val have = current.columns
            decl.fields
              .filterNot(f => have.exists(resolver(_, f.name)))
              .foldLeft(current)(
                (df, f) => df.withColumn(f.name, lit(null).cast(f.dataType)))
          case None => current
        }
      case Some(_) => surfaced
    }
  }

  override def name(): String =
    epoch.fold(tableName)(e => s"$tableName@$e")

  override lazy val schema: StructType = frame().schema

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      // MERGE WITH SCHEMA EVOLUTION: Spark's analyzer gates on this
      // capability, then routes the source-minus-target column adds
      // through GraftCatalog.alterTable and reloads the relation
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(() => frame())

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(epoch.isEmpty,
      s"cannot write to $tableName pinned at epoch ${epoch.get} — " +
        "time-travel reads are immutable")
    new GraftWriteBuilder(() => store(), tableName)
  }

  /** Only fully-translatable conditions are deletable — Spark then
    * raises its standard "cannot delete where" analysis error for the
    * rest instead of this table guessing at semantics.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    epoch.isEmpty && filters.forall(f => GraftScanBuilder.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(epoch.isEmpty,
      s"cannot delete from $tableName pinned at epoch ${epoch.get} — " +
        "time-travel reads are immutable")
    val cols = filters.map(f => GraftScanBuilder.toColumn(f).getOrElse(
      throw new UnsupportedOperationException(
        s"DELETE condition not translatable to a source filter: $f")))
    val cond = cols.reduceOption(_ && _).getOrElse(lit(true))
    val s = store()
    s.bucketLayoutOf(tableName) match {
      case Some((_, Seq(pk))) =>
        // single declared key: the full index cascade (one governed
        // epoch when base + indexes are all governed; base-first,
        // healGhosts-repairable otherwise)
        graft.store.Retract.cascade(
          s, tableName, frame().filter(cond).select(col(pk)), pk)
      case Some((_, pk)) =>
        // composite key: per-pk indexes cannot exist — bucket-scoped
        // base delete only
        s.deleteByPk(tableName,
          frame().filter(cond).select(pk.map(col): _*), pk)
      case None =>
        val indexed = graft.store.Retract.indexTablesOf(s, tableName)
        require(indexed.isEmpty,
          s"$tableName has maintained per-pk indexes " +
            s"(${indexed.mkString(", ")}) but no declared bucket pk — " +
            "SQL DELETE cannot cascade without a key; use the library's " +
            "Retract.cascade(store, table, keys, pkCol)")
        // the store's predicate rewrite runs against the PHYSICAL
        // frame — translate renamed surface names in the condition
        // first (the bucketed branches above filter frame(), which
        // already serves the surface shape)
        val toPhys = s.renamedColumnsOf(tableName)
          .map { case (p, sf) => sf -> p }.toMap
        val physCond =
          if (toPhys.isEmpty) cond
          // each filter already proved translatable above — .get holds
          else filters.map(f => GraftScanBuilder.toColumn(
            GraftScanBuilder.renameRefs(f, toPhys)).get)
            .reduceOption(_ && _).getOrElse(lit(true))
        s.deleteWhere(tableName, physCond)
    }
  }
}

/** Column pruning + filter pushdown, both applied to the underlying
  * frame so they reach the parquet scan; every filter is ALSO reported
  * un-pushed (residual), so Spark re-applies it above and correctness
  * never depends on the Filter→Column translation.
  */
private[sql] class GraftScanBuilder(frame: () => DataFrame)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns {

  private var required: Option[StructType] = None
  private var filters: Array[Filter] = Array.empty

  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs
    fs // all residual: re-applied by Spark above the scan
  }
  override def pushedFilters(): Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  override def build(): Scan = {
    val pruned0 = filters.flatMap(GraftScanBuilder.toColumn)
      .foldLeft(frame())(_.filter(_))
    val pruned = required match {
      case Some(s) if s.fieldNames.nonEmpty =>
        pruned0.select(s.fieldNames.map(col).toIndexedSeq: _*)
      case Some(_) => // COUNT(*)-style empty projection: keep one col
        pruned0.select(col(pruned0.columns.head))
      case None => pruned0
    }
    new GraftV1Scan(pruned, required)
  }
}

private[sql] object GraftScanBuilder {
  /** Best-effort Filter→Column translation — anything untranslatable
    * is simply not pushed (the residual above keeps semantics).
    */
  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === v)
    case EqualNullSafe(a, v) => Some(col(a) <=> v)
    case GreaterThan(a, v) => Some(col(a) > v)
    case GreaterThanOrEqual(a, v) => Some(col(a) >= v)
    case LessThan(a, v) => Some(col(a) < v)
    case LessThanOrEqual(a, v) => Some(col(a) <= v)
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a && b
    case Or(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a || b
    case Not(c) => toColumn(c).map(!_)
    case AlwaysTrue() => Some(lit(true)) // DELETE with no WHERE
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }

  /** Rewrite a filter's attribute references through a name map —
    * used to translate a condition over RENAMED surface columns to
    * the physical names the store's own frames carry. Covers exactly
    * the shapes [[toColumn]] translates.
    */
  def renameRefs(f: Filter, m: Map[String, String]): Filter = {
    def r(a: String): String = m.getOrElse(a, a)
    f match {
      case EqualTo(a, v) => EqualTo(r(a), v)
      case EqualNullSafe(a, v) => EqualNullSafe(r(a), v)
      case GreaterThan(a, v) => GreaterThan(r(a), v)
      case GreaterThanOrEqual(a, v) => GreaterThanOrEqual(r(a), v)
      case LessThan(a, v) => LessThan(r(a), v)
      case LessThanOrEqual(a, v) => LessThanOrEqual(r(a), v)
      case In(a, vs) => In(r(a), vs)
      case IsNull(a) => IsNull(r(a))
      case IsNotNull(a) => IsNotNull(r(a))
      case StringStartsWith(a, v) => StringStartsWith(r(a), v)
      case StringEndsWith(a, v) => StringEndsWith(r(a), v)
      case StringContains(a, v) => StringContains(r(a), v)
      case And(l, rr) => And(renameRefs(l, m), renameRefs(rr, m))
      case Or(l, rr) => Or(renameRefs(l, m), renameRefs(rr, m))
      case Not(c) => Not(renameRefs(c, m))
      case other => other
    }
  }
}

private[sql] class GraftV1Scan(projected: DataFrame, required: Option[StructType])
  extends V1Scan with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = projected.schema

  /** The underlying frame's OWN Catalyst estimate (file-size-based,
    * pruning- and filter-aware). Honest caveat: current Spark wraps V1
    * scans in V1ScanWrapper, which does NOT forward this interface, so
    * the STATIC optimizer still sees the unknown-size default — the
    * broadcast decision for SQL joins over governed tables lands at
    * RUNTIME instead, where AQE's measured shuffle sizes convert
    * sort-merge to broadcast-hash (pinned in GraftCatalogSpec). Kept
    * because it costs nothing, is correct, and engages the moment the
    * wrapper learns to delegate.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val st = projected.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .queryExecution.optimizedPlan.stats
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(
          st.sizeInBytes.min(BigInt(Long.MaxValue)).toLong)
      override def numRows(): java.util.OptionalLong =
        st.rowCount.fold(java.util.OptionalLong.empty())(r =>
          java.util.OptionalLong.of(r.min(BigInt(Long.MaxValue)).toLong))
    }
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = projected.schema
      override def buildScan(): RDD[Row] = projected.rdd
    }.asInstanceOf[T]
}

/** INSERT INTO → upsert by the declared bucket pk (bucketed tables) or
  * whole-table merge (flat governed tables — the store's swap
  * discipline); INSERT OVERWRITE (truncate) → [[TableStore.overwrite]].
  */
private[sql] class GraftWriteBuilder(mkStore: () => TableStore, table: String)
  extends WriteBuilder with SupportsTruncate {

  private var overwrite = false

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data0: DataFrame, ovr: Boolean): Unit = {
          val s = mkStore()
          // SQL batches arrive in the SURFACE shape; the files carry
          // physical (birth) names — translate before landing (see
          // TableStore.declareRenamed)
          val data = s.toPhysical(table, data0)
          val wantOverwrite = overwrite || ovr
          s.bucketLayoutOf(table) match {
            case Some((_, pk)) =>
              require(!wantOverwrite,
                s"INSERT OVERWRITE on bucketed table $table is not " +
                  "supported — use the library's overwrite + ensureBucketed")
              // maintained indexes refresh with the batch (the
              // trigger contract, one epoch when governed) — see
              // graft.store.IndexMaintain
              graft.store.IndexMaintain.upsertMaintained(s, table, data, pk)
            case None =>
              // flat tables keep the append-by-rewrite (or, for
              // OVERWRITE, whole-swap) contract — but a flat table
              // WITH per-pk indexes has no declared key to refresh
              // them by, so accepting EITHER write would silently
              // diverge every index (OVERWRITE strictly worse: all
              // postings go stale, not just the batch's). Refuse with
              // the library pointer, the same boundary
              // DELETE/UPDATE/MERGE hold.
              val indexed = graft.store.Retract.indexTablesOf(s, table)
              require(indexed.isEmpty,
                s"$table has maintained per-pk indexes " +
                  s"(${indexed.mkString(", ")}) but no declared bucket pk — " +
                  "SQL INSERT cannot keep them consistent without a key; " +
                  "use the library's upsertWith* verbs (or declare a pk " +
                  "via ensureBucketed)")
              if (wantOverwrite) s.overwrite(table, data)
              else s.overwrite(table, s.readIfExists(table) match {
                case Some(cur) =>
                  cur.unionByName(data, allowMissingColumns = true)
                case None => data
              })
          }
        }
      }
  }
}
