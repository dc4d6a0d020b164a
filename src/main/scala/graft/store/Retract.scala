package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cascading pk deletion across EVERY maintained per-pk index — the
  * piece that makes deletes first-class for an indexed corpus. Every
  * index family in the engine (FTS/trigram/LSH postings, the whole
  * ANN codes ladder) keys its rows on the base table's pk, and every
  * family's UPSERT maintenance replaces by pk — but an upsert can
  * never RETRACT a pk, so a dedup pass or retention delete would
  * leave each index ranking ghosts (exactly what Doctor's coverage
  * invariants flag). [[cascade]] is the one-call fix: retract the pks
  * from each existing index table (O(scan + touched partitions) —
  * partition-scoped dynamic overwrite where the layout allows), then
  * delete the base rows ([[TableStore.deleteByPk]], op-tagged so the
  * change feed propagates the retraction to downstream mirrors).
  *
  * Model-parameter tables (IVF centroids, SQ scales, PQ codebooks)
  * are untouched — they parameterize the encoding, not the corpus,
  * and stay valid for the surviving rows (drift detection owns their
  * long-term health). Aggregate sketches (KMV, heavy hitters,
  * quantile samples) cannot subtract an element by construction;
  * rebuild those from the surviving table.
  */
object Retract {

  /** (index table, within-partition sort columns its maintenance
    * keeps) — the per-pk index families of `table`; sort columns
    * preserve each family's row-group-pruning layout through the
    * retraction rewrite.
    */
  private def registry(table: String): Seq[(String, Seq[String])] = Seq(
    Trigram.indexName(table) -> Nil,
    Lsh.indexName(table) -> Seq("band"),
    Lsh.mapName(table) -> Nil) ++
    VectorIndex.families.flatMap(_.perPkTables(table)).map(_ -> Nil)

  /** Every maintained per-pk index table of `table` that EXISTS in the
    * store right now (FTS postings + the trigram/LSH/ANN registry) —
    * the set [[cascade]] retracts from. Callers that cannot supply a
    * pk (SQL DELETE on a flat table) use this to detect when a bare
    * base delete would orphan index rows and fail loudly instead.
    */
  def indexTablesOf(store: TableStore, table: String): Seq[String] =
    (if (store.exists(Fts.indexName(table))) Seq(Fts.indexName(table))
     else Nil) ++ registry(table).map(_._1).filter(store.exists)

  /** Model-PARAMETER tables per family — what [[cascade]] deliberately
    * leaves alive (they parameterize the encoding, not the corpus) but
    * a DROP must take: FTS's stats/epoch rows, LSH's params, the
    * centroids/codebooks/scales. The vector families' entries here and
    * in [[registry]] come from [[VectorIndex.families]], so every
    * consumer (cascade, ghost heal, the DROP inventory) stays complete
    * when a family is added there.
    */
  private def paramsRegistry(table: String): Seq[String] = Seq(
    Fts.statsName(table), Fts.epochName(table),
    Lsh.paramsName(table)) ++
    VectorIndex.families.flatMap(_.paramTables(table))

  /** EVERY store artifact belonging to `table`'s index families that
    * exists right now — the per-pk tables [[indexTablesOf]] names
    * (derived from the SAME [[registry]] the cascade uses, so a new
    * family is never silently absent here) PLUS everything that
    * parameterizes them ([[paramsRegistry]]) and the derived `_meta`
    * training-provenance rows and k-means occupancy snapshots. This
    * is the DROP inventory: removing a table without these leaves
    * orphans no later build can reach (they key on a dead name) and
    * pointless bytes on disk. Contrast [[cascade]], which
    * deliberately leaves model-parameter tables alive — there the
    * corpus survives; here it does not.
    */
  def artifactTablesOf(store: TableStore, table: String): Seq[String] = {
    val perPk = Fts.indexName(table) +: registry(table).map(_._1)
    val params = paramsRegistry(table)
    val derived = (perPk ++ params).flatMap(f =>
      Seq(IvfDrift.metaName(f), IvfDrift.snapName(f)))
    // governed-but-EMPTY artifacts count too: a DDL-time index build
    // on an empty table governs the postings table before any file
    // exists (index-from-birth atomicity) — leaving it out of the
    // inventory would strand a phantom pointer entry after DROP
    val governed = store.governed
    (perPk ++ params ++ derived).distinct
      .filter(f => store.exists(f) || governed(f))
  }

  /** One FAMILY's slice of the artifact inventory — per-pk tables,
    * parameter tables, and the derived `_meta`/occupancy rows, filtered
    * to what exists (or is governed empty) right now. This is what
    * `CALL graft.system.drop_index(table, family)` removes: exactly one
    * family's artifacts, base untouched, every other family intact —
    * build_fts/build_index's inverse. Unknown family names refuse with
    * the known list (a typo must never silently drop nothing); the
    * vector families resolve through [[VectorIndex.byName]].
    */
  def familyArtifacts(
      store: TableStore, table: String, family: String): Seq[String] = {
    val named: Seq[String] = family match {
      case "fts" => Seq(Fts.indexName(table), Fts.statsName(table),
        Fts.epochName(table))
      case "trigram" => Seq(Trigram.indexName(table))
      case "lsh" => Seq(Lsh.indexName(table), Lsh.mapName(table),
        Lsh.paramsName(table))
      case other => VectorIndex.byName(other)
        .map(f => f.perPkTables(table) ++ f.paramTables(table))
        .getOrElse(throw new IllegalArgumentException(
          s"unknown index family '$other' — known: " +
            ("fts" +: "trigram" +: "lsh" +: VectorIndex.families.map(_.name))
              .mkString(", ")))
    }
    val derived = named.flatMap(f =>
      Seq(IvfDrift.metaName(f), IvfDrift.snapName(f)))
    val governed = store.governed
    (named ++ derived).distinct
      .filter(f => store.exists(f) || governed(f))
  }

  /** Every table a [[cascade]] on `table` would WRITE for its indexes
    * (the FTS postings commit together with their corpus-stats row,
    * hence the extra stats entry vs [[indexTablesOf]]).
    */
  private def indexWriteTables(store: TableStore, table: String): Seq[String] =
    (if (store.exists(Fts.indexName(table)))
      Seq(Fts.indexName(table), Fts.statsName(table)) else Nil) ++
      registry(table).map(_._1).filter(store.exists)

  /** True when a [[cascade]] on `table` may ride an OUTER
    * [[TableStore.transact]]: the base and every index table the
    * cascade would write are governed, so the whole retraction stages
    * into the caller's single epoch. The SQL MERGE path uses this to
    * decide whether deletes + upserts can commit as one epoch; when
    * false, cascade's own mixed-governance ordering applies (and it
    * refuses to run inside an outer transaction — see below).
    */
  def cascadeAtomic(store: TableStore, table: String): Boolean = {
    val governed = store.governed
    governed.contains(table) &&
      indexWriteTables(store, table).forall(governed.contains)
  }

  /** Retract `delPks` (a 1-column frame named `pk`) from one pk-keyed
    * index table. Declared bucket layouts ride
    * [[TableStore.deleteByPk]]'s O(touched buckets) path; a
    * Hive-partitioned layout (pk-hash buckets, IVF cells) rewrites
    * only the partitions that actually HOLD a deleted pk (one semi-
    * join scan to find them — never more than the index's own read
    * cost) through [[TableStore.rewritePartitions]]; an unpartitioned
    * table pays the flat rewrite.
    */
  def fromIndexTable(
      store: TableStore, name: String, delPks: DataFrame,
      sortCols: Seq[String] = Nil): Unit = {
    store.bucketLayoutOf(name) match {
      case Some((_, declaredPk)) =>
        require(declaredPk.size == 1,
          s"$name declares a composite bucket pk (${declaredPk.mkString(",")}) " +
            "— per-pk index tables key on one column")
        store.deleteByPk(name, delPks.toDF(declaredPk.head), declaredPk)
      case None =>
        val ex = store.read(name)
        store.partitionColumnsOf(name) match {
          case Seq(p) =>
            val hit = ex.join(delPks, Seq("pk"), "left_semi")
              .select(col(p)).distinct().collect().map(_.get(0)).toSeq
            store.rewritePartitions(name, p, hit, TableStore.OpDelete) { cur =>
              val kept = cur.join(delPks, Seq("pk"), "left_anti").repartition(col(p))
              if (sortCols.isEmpty) kept
              else kept.sortWithinPartitions(sortCols.map(col): _*)
            }
          case _ =>
            store.deleteByPk(name, delPks, Seq("pk"))
        }
    }
  }

  /** Heal the GHOST aftermath of a bare base-row delete (a
    * [[TableStore.deleteByPk]] that bypassed [[cascade]], an
    * out-of-band rewrite): retract from every maintained index the pks
    * that no longer exist in the base table. Safe by construction —
    * a ghost row only ever ranks a deleted document, so removing it
    * cannot lose data (the MISSING direction, base pks absent from an
    * index, still needs a human: re-upsert from source or rebuild).
    * Returns (index table, ghosts retracted) for the tables that had
    * any; Doctor's coverage invariants go green for the ghost-only
    * divergences afterwards. Idempotent.
    */
  def healGhosts(
      store: TableStore, table: String, pkCol: String): Seq[(String, Long)] = {
    val basePks = Iteration.materialize(
      store.read(table).select(col(pkCol).as("pk")).distinct())
    def ghostsOf(name: String): DataFrame = Iteration.materialize(
      store.read(name).select(col("pk")).distinct()
        .join(basePks, Seq("pk"), "left_anti"))
    val out = Seq.newBuilder[(String, Long)]
    if (store.exists(Fts.indexName(table))) {
      val g = ghostsOf(Fts.indexName(table))
      val n = g.count()
      if (n > 0) {
        Fts.retractPostings(store, table, g, Fts.bucketCountOf(store, table))
        out += ((Fts.indexName(table), n))
      }
    }
    registry(table).foreach { case (name, sortCols) =>
      if (store.exists(name)) {
        val g = ghostsOf(name)
        val n = g.count()
        if (n > 0) {
          fromIndexTable(store, name, g, sortCols)
          out += ((name, n))
        }
      }
    }
    out.result()
  }

  /** Delete `keys` from the base table AND every maintained per-pk
    * index of it that exists in the store — FTS postings go through
    * [[Fts.retractPostings]] (corpus stats decremented, bucket count
    * auto-detected from the stats row), everything else through
    * [[fromIndexTable]]. Returns the index tables retracted from, for
    * operator visibility. Idempotent: re-running with the same keys
    * changes nothing.
    *
    * Crash discipline: when the base AND every existing index table
    * are governed, the entire cascade stages as ONE transaction
    * ([[TableStore.inOneEpoch]]) — readers see the delete everywhere
    * or nowhere. In any MIXED or un-governed configuration (the common
    * one: governed base, swap-maintained in-place indexes — see
    * FileManifest.markPending) the BASE delete lands FIRST (its own
    * single-table commit where governed), index retractions after: a
    * crash mid-cascade then leaves only GHOST index rows (pks absent
    * from the base), which [[healGhosts]] self-repairs. A transaction
    * can only stage GOVERNED writes, so wrapping un-governed index
    * retractions would apply them immediately while the base delete
    * stays staged — indexes MISSING postings for still-live rows, the
    * divergence direction no automated repair can close; the mixed
    * path exists precisely to keep the failure mode on the healable
    * side (and is refused inside an outer [[TableStore.transact]],
    * where the base-first order cannot be enforced).
    */
  def cascade(
      store: TableStore, table: String, keys: DataFrame,
      pkCol: String): Seq[String] = {
    val delPks = Iteration.materialize(
      keys.select(col(pkCol).as("pk")).distinct())
    val touched = Seq.newBuilder[String]
    def retractIndexes(): Unit = {
      if (store.exists(Fts.indexName(table))) {
        Fts.retractPostings(store, table, delPks,
          Fts.bucketCountOf(store, table))
        touched += Fts.indexName(table)
      }
      registry(table).foreach { case (name, sortCols) =>
        if (store.exists(name)) {
          fromIndexTable(store, name, delPks, sortCols)
          touched += name
        }
      }
    }
    val indexWrites = indexWriteTables(store, table)
    val governed = store.governed
    if (governed.contains(table) && indexWrites.forall(governed.contains)) {
      // fully governed: one atomic epoch, everywhere-or-nowhere
      store.inOneEpoch(table) {
        store.deleteByPk(table, delPks.toDF(pkCol), Seq(pkCol))
        retractIndexes()
      }
    } else {
      require(!store.inTransaction,
        s"cascade on $table inside an outer transact needs every index " +
          s"table governed (un-governed: ${indexWrites.filterNot(governed.contains).mkString(", ")}) " +
          "— their retraction would apply before the staged base delete " +
          "commits, leaving indexes missing postings for live rows")
      store.inOneEpoch(table) {
        store.deleteByPk(table, delPks.toDF(pkCol), Seq(pkCol))
      }
      retractIndexes()
    }
    touched.result()
  }
}
