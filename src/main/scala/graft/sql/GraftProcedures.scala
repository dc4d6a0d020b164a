package graft.sql

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.store.{Doctor, Retract, TableStore}

/** The store's MAINTENANCE verbs as SQL stored procedures — the
  * Iceberg `CALL catalog.system.…` pattern, on Spark 4's DSv2
  * procedure API, so the SQL/PySpark audience the catalog serves can
  * operate a store (not just query it) without the Scala library:
  *
  * {{{
  * CALL graft.system.doctor()                    -- integrity findings
  * CALL graft.system.compact('docs')             -- bin-pack small files
  * CALL graft.system.vacuum(min_age_ms => 86400000)
  * CALL graft.system.tag('rel-1')                -- pin current epoch
  * CALL graft.system.drop_tag('rel-1')
  * CALL graft.system.heal_ghosts('docs', 'id')   -- index ghost repair
  * CALL graft.system.refresh_stats('docs')       -- footer-free pruning
  * }}}
  *
  * Each procedure executes the same library verb the CLI dispatches
  * to and returns a small summary relation (a driver-local
  * [[LocalScan]] — all of these are metadata-sized results; the heavy
  * lifting inside compact/heal runs as ordinary distributed jobs).
  * Procedures resolve under the `system` namespace or bare; all are
  * non-deterministic (they mutate the store) so Spark never caches or
  * re-orders them.
  */
private[sql] object GraftProcedures {

  private def utf8(s: String) = UTF8String.fromString(s)
  private def row(vs: Any*): InternalRow =
    new GenericInternalRow(vs.toArray)

  private def in(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()
  private def inDefault(
      name: String, dt: DataType, default: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  /** One procedure: parameters, output schema, and a body mapping the
    * bound argument row to summary rows against a fresh store.
    */
  private final case class Proc(
      procName: String,
      params: Seq[ProcedureParameter],
      output: StructType,
      body: (TableStore, InternalRow) => Seq[InternalRow],
      procDescription: String)
    extends UnboundProcedure with BoundProcedure {

    private var mkStore: () => TableStore = _
    def withStore(f: () => TableStore): Proc = { mkStore = f; this }

    override def name(): String = procName
    override def description(): String = procDescription
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false

    override def call(input: InternalRow): util.Iterator[Scan] = {
      val result = body(mkStore(), input).toArray
      val scan: Scan = new LocalScan {
        override def rows(): Array[InternalRow] = result
        override def readSchema(): StructType = output
      }
      util.Collections.singletonList(scan).iterator()
    }
  }

  private val procs: Seq[Proc] = Seq(
    Proc("doctor", Seq.empty,
      StructType(Seq(StructField("component", StringType),
        StructField("table", StringType), StructField("problem", StringType))),
      (s, _) => Doctor.check(s).map(i =>
        row(utf8(i.component), utf8(i.table), utf8(i.problem))),
      "run every index-family integrity check; one row per finding " +
        "(no rows = healthy)"),
    Proc("compact",
      Seq(in("table", StringType),
        inDefault("target_bytes", LongType, (128L << 20).toString)),
      StructType(Seq(StructField("table", StringType),
        StructField("files_before", LongType),
        StructField("files_after", LongType))),
      (s, args) => {
        val t = args.getUTF8String(0).toString
        val (before, after) = s.compact(t, targetBytes = args.getLong(1))
        Seq(row(utf8(t), before, after))
      },
      "bin-pack a table's small files (AQE-rebalanced rewrite)"),
    Proc("vacuum",
      Seq(inDefault("min_age_ms", LongType, "0")),
      StructType(Seq(StructField("current_epoch", LongType))),
      (s, args) => {
        s.vacuumEpochs(args.getLong(0))
        Seq(row(s.currentEpochIfAny.getOrElse(0L)))
      },
      "drop commits older than the retention window and their " +
        "unreferenced files (tags and consumer cursors stay pinned)"),
    Proc("tag",
      Seq(in("name", StringType),
        inDefault("epoch", LongType, "-1")),
      StructType(Seq(StructField("tag", StringType),
        StructField("epoch", LongType))),
      (s, args) => {
        val name = args.getUTF8String(0).toString
        val e = args.getLong(1)
        val pinned = s.tagEpoch(name, if (e < 0) None else Some(e))
        Seq(row(utf8(name), pinned))
      },
      "pin an epoch (default: current) as a named release tag — a " +
        "vacuum root, readable as VERSION AS OF '<tag>'"),
    Proc("drop_tag", Seq(in("name", StringType)),
      StructType(Seq(StructField("dropped", StringType))),
      (s, args) => {
        val name = args.getUTF8String(0).toString
        s.dropTag(name)
        Seq(row(utf8(name)))
      },
      "drop a release tag (its epoch becomes vacuumable)"),
    Proc("heal_ghosts",
      Seq(in("table", StringType), in("pk", StringType)),
      StructType(Seq(StructField("index_table", StringType),
        StructField("ghosts_retracted", LongType))),
      (s, args) => Retract.healGhosts(s,
        args.getUTF8String(0).toString, args.getUTF8String(1).toString)
        .map { case (idx, n) => row(utf8(idx), n) },
      "retract index rows whose pks no longer exist in the base table " +
        "(the repairable aftermath of a bare delete); one row per " +
        "index that held ghosts"),
    Proc("heal_coverage", Seq.empty,
      StructType(Seq(StructField("table", StringType),
        StructField("what", StringType), StructField("healed", LongType))),
      (s, _) => Doctor.healCoverage(s).map { case (t, w, n) =>
        row(utf8(t), utf8(w), n) },
      "heal pk-set divergence of every per-pk index: ghosts retract, " +
        "missing vector rows re-encode from recorded provenance; one " +
        "row per healed divergence (no rows = nothing to heal)"),
    Proc("heal_orphans", Seq.empty,
      StructType(Seq(StructField("dead_base", StringType),
        StructField("artifacts_dropped", LongType))),
      (s, _) => Doctor.healOrphans(s).map { case (base, arts) =>
        row(utf8(base), arts.size.toLong) },
      "drop provenance-proven orphan index artifacts — the full " +
        "inventory of every base a library-side drop removed without " +
        "them; lookalike user tables are never touched; one row per " +
        "dead base (no rows = nothing orphaned); idempotent"),
    Proc("heal_window",
      Seq(in("table", StringType), in("from_epoch", LongType),
        inDefault("to_epoch", LongType, "-1")),
      StructType(Seq(StructField("family", StringType),
        StructField("pks_refreshed", LongType))),
      (s, args) => {
        val t = args.getUTF8String(0).toString
        val to = args.getLong(2)
        graft.store.IndexMaintain.healWindow(s, t, args.getLong(1),
          if (to < 0) None else Some(to))
          .map { case (fam, n) => row(utf8(fam), n) }
      },
      "re-refresh every per-pk index for exactly the pks the change " +
        "feed reports upserted in (from_epoch, to_epoch] — heals " +
        "content-stale rows a bypassed write left behind, O(window)"),
    Proc("refresh_stats", Seq(in("table", StringType)),
      StructType(Seq(StructField("table", StringType),
        StructField("files", LongType))),
      (s, args) => {
        val t = args.getUTF8String(0).toString
        s.refreshFileStats(t)
        Seq(row(utf8(t), s.dataFiles(t).size.toLong))
      },
      "rebuild the footer-free column-envelope manifest used for " +
        "file-level pruning"),
    Proc("build_fts",
      Seq(in("table", StringType), in("cols", StringType),
        inDefault("buckets", LongType, "-1")),
      StructType(Seq(StructField("table", StringType),
        StructField("cols", StringType))),
      (s, args) => {
        val t = args.getUTF8String(0).toString
        // callers name the SURFACE columns (ALTER RENAME COLUMN);
        // the build and its provenance operate on the physical names
        // the files carry
        val cols = args.getUTF8String(1).toString
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
          .map(s.physicalColumnOf(t, _))
        graft.store.IndexMaintain.buildFts(s, t, cols,
          args.getLong(2).toInt)
        Seq(row(utf8(t), utf8(cols.mkString(","))))
      },
      "build (or rebuild) the table's FTS index over its current rows " +
        "under the declared bucket pk — empty tables build stats-only " +
        "(index-from-birth; the first INSERT materializes postings in " +
        "its own epoch); every later SQL write keeps it fresh; " +
        "buckets<0 = mirror the base bucket count"),
    Proc("build_index",
      Seq(in("table", StringType), in("family", StringType),
        in("column", StringType),
        inDefault("k", LongType, "16"),
        inDefault("slices", LongType, "4")),
      StructType(Seq(StructField("table", StringType),
        StructField("family", StringType),
        StructField("rows_indexed", LongType))),
      (s, args) => {
        val t = args.getUTF8String(0).toString
        val fam = args.getUTF8String(1).toString
        graft.store.IndexMaintain.buildFamily(s, t, fam,
          s.physicalColumnOf(t, args.getUTF8String(2).toString),
          k = args.getLong(3).toInt, slices = args.getLong(4).toInt)
        Seq(row(utf8(t), utf8(fam), s.read(t).count()))
      },
      "build one index family (" + ("trigram" +: "lsh" +:
        graft.store.VectorIndex.families.map(_.name)).mkString(", ") +
        ") over the table's current rows with recorded " +
        "provenance — every later SQL write refreshes it, Doctor " +
        "checks it, DROP removes it; k = cells for the IVF families, " +
        "slices = PQ sub-spaces (subDim derives from the emb dim)"),
    Proc("drop_index",
      Seq(in("table", StringType), in("family", StringType)),
      StructType(Seq(StructField("table", StringType),
        StructField("family", StringType),
        StructField("artifacts_dropped", LongType))),
      (s, args) => {
        val t = args.getUTF8String(0).toString
        val fam = args.getUTF8String(1).toString
        require(s.tableNames.contains(t) || s.governed.contains(t),
          s"no such table '$t'")
        val arts = Retract.familyArtifacts(s, t, fam)
        if (arts.nonEmpty) s.dropTables(arts)
        Seq(row(utf8(t), utf8(fam), arts.size.toLong))
      },
      "drop ONE index family's artifacts from a table — build_fts / " +
        "build_index's inverse: postings/codes, parameter tables and " +
        "provenance rows go (one pointer write when governed), the " +
        "base table and every other family stay, later SQL writes " +
        "stop refreshing it; idempotent (a second call drops 0); " +
        "refuses unknown tables and unknown families; a release tag " +
        "pinning an artifact refuses exactly like DROP TABLE"),
    Proc("search",
      Seq(in("table", StringType), in("query", StringType),
        inDefault("k", LongType, "100")),
      StructType(Seq(StructField("pk", StringType))),
      (s, args) => {
        import org.apache.spark.sql.functions.col
        val t = args.getUTF8String(0).toString
        // order on the NATIVE pk BEFORE casting — string order would
        // pick a lexicographic subset of numeric pks at the k cut
        graft.store.Fts.search(s.spark, s, t,
          args.getUTF8String(1).toString)
          .orderBy(col("pk")).limit(args.getLong(2).toInt)
          .select(col("pk").cast("string"))
          .collect().map(r => row(utf8(r.getString(0)))).toSeq
      },
      "FTS5 MATCH over the table's FTS index (AND/OR/NOT, phrases, " +
        "prefix terms, NEAR, column filters) — first k matching pks " +
        "in native pk order (served cast to string); the SQL-only " +
        "MATCH surface"),
    Proc("search_ranked",
      Seq(in("table", StringType), in("query", StringType),
        inDefault("k", LongType, "20")),
      StructType(Seq(StructField("pk", StringType),
        StructField("score", DoubleType))),
      (s, args) => {
        val t = args.getUTF8String(0).toString
        import org.apache.spark.sql.functions.col
        // best-first, ties on the NATIVE pk (string order would tie-
        // break numeric pks lexicographically); cast after the cut
        graft.store.Fts.searchRanked(s.spark, s, t,
          args.getUTF8String(1).toString)
          .orderBy(col("score").desc, col("pk"))
          .limit(args.getLong(2).toInt)
          .select(col("pk").cast("string"), col("score"))
          .collect().map(r => row(utf8(r.getString(0)), r.getDouble(1)))
          .toSeq
      },
      "BM25-ranked FTS5 MATCH — top-k (pk, score) best-first, the " +
        "reference's `rank` ordering, SQL-only"))

  private val byName: Map[String, Proc] = procs.map(p => p.procName -> p).toMap

  def load(name: String, mkStore: () => TableStore): Option[UnboundProcedure] =
    byName.get(name).map(_.copy().withStore(mkStore))

  def idents: Array[Identifier] =
    procs.map(p => Identifier.of(Array("system"), p.procName)).toArray
}
