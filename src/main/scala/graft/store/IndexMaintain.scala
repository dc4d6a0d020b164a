package graft.store

import org.apache.spark.sql.DataFrame

/** Index maintenance for SQL writes — the trigger contract. The
  * reference keeps its FTS index fresh with SQLite sync triggers on
  * every write (`/root/reference/utils.py:330-352`); this is that
  * contract generalized to EVERY maintained per-pk index family: a
  * SQL `INSERT INTO` / `UPDATE` / `MERGE INTO` on a bucketed governed
  * table refreshes the postings/codes of exactly the written rows,
  * O(batch) through each family's own incremental maintenance, and —
  * when the base and every index write-table are governed — inside
  * the SAME epoch as the base rows, so a reader or CDC consumer never
  * sees the base and its indexes disagree.
  *
  * What makes an index REFRESHABLE with nothing restated is recorded
  * provenance: each family's build/refresh persists the column map it
  * was built with (`<index>_meta`, the [[IvfDrift.recordTraining]]
  * convention the IVF families already used for retrain; FTS needs no
  * extra table — its stats row already carries the indexed columns
  * and bucket count; LSH's numeric parameters already persist in its
  * params table). An index built BEFORE provenance capture (or under
  * a different pk column than the table's declared bucket key) is
  * reported as skipped and keeps the previous contract: Doctor flags
  * the divergence, the change feed names the rows to refresh.
  *
  * The library-facing `upsertWith*` verbs are untouched — explicit
  * composition stays the library's model (streaming sinks pick their
  * own families per batch); this object is the SQL surface's
  * "indexes just stay correct" counterpart.
  */
object IndexMaintain {

  /** Write (or rewrite, when changed) an index's provenance rows —
    * the key/value map a later refresh needs with nothing restated.
    * Keyed on the index's PRIMARY table name (`<idx>_meta`). The
    * guard read keeps per-batch callers cheap: an unchanged map never
    * rewrites.
    */
  def recordIfChanged(
      store: TableStore, idxTable: String, kv: Map[String, String]): Unit =
    if (!IvfDrift.trainingMeta(store, idxTable).contains(kv))
      IvfDrift.recordTraining(store, idxTable, kv)

  private final case class Family(
      name: String,
      writes: Seq[String],
      refresh: (TableStore, String, DataFrame, String) => Unit)

  /** (refreshable families, skipped families) for `table` under the
    * declared pk column: a family is skipped when its index exists
    * but its metadata is missing (pre-provenance build) or was
    * recorded under a different pk.
    */
  private def resolve(
      store: TableStore, table: String,
      pkCol: String): (Seq[Family], Seq[String]) = {
    val out = Seq.newBuilder[Family]
    val skip = Seq.newBuilder[String]

    if (store.exists(Fts.indexName(table)) ||
        store.exists(Fts.statsName(table))) {
      def ftsFamily(cols: Seq[String]): Family = Family("fts",
        Seq(Fts.indexName(table), Fts.statsName(table)),
        (s, t, b, pk) => Fts.refreshPostings(
          s, t, b, pk, cols, Fts.bucketCountOf(s, t)))
      Fts.statsProvenance(store, table) match {
        // same pk-provenance rule as every `_meta`-carrying family:
        // an index recorded under a DIFFERENT key than the declared
        // bucket pk is skipped, never refreshed under a guessed key —
        // mixing key domains in the postings is the one thing a
        // refresh must not do
        case (Some(cols), Some(pk)) if pk == pkCol =>
          out += ftsFamily(cols)
        // LEGACY stats (predating pk capture): verify-then-stamp the
        // declared pk once (postings ⊆ base pk set) so pre-upgrade
        // indexes keep refreshing instead of silently going stale —
        // a verification failure keeps the skip
        case (Some(cols), None) if Fts.adoptLegacyPk(store, table, pkCol) =>
          out += ftsFamily(cols)
        case _ => skip += "fts"
      }
    }

    def withMeta(fam: String, primary: String, writes: Seq[String],
        need: Seq[String])(
        mk: Map[String, String] =>
          (TableStore, String, DataFrame, String) => Unit): Unit =
      if (store.exists(primary))
        IvfDrift.trainingMeta(store, primary) match {
          case Some(m) if need.forall(m.contains) &&
              m.get("pk").contains(pkCol) =>
            out += Family(fam, writes, mk(m))
          case _ => skip += fam
        }

    withMeta("trigram", Trigram.indexName(table),
      Seq(Trigram.indexName(table)), Seq("text"))(m =>
      (s, t, b, pk) => Trigram.refreshIndex(s, t, b, pk, m("text")))

    if (store.exists(Lsh.indexName(table)))
      (IvfDrift.trainingMeta(store, Lsh.indexName(table)),
        Lsh.params(store, table)) match {
        case (Some(m), Some(p)) if m.contains("text") &&
            m.get("pk").contains(pkCol) =>
          out += Family("lsh",
            Seq(Lsh.indexName(table), Lsh.mapName(table),
              Lsh.paramsName(table)),
            (s, t, b, pk) => Lsh.refreshBands(s, t, b, pk, m("text"), p))
        case _ => skip += "lsh"
      }

    VectorIndex.families.foreach { f =>
      withMeta(f.name, f.primaryName(table), f.perPkTables(table),
        f.refreshKeys)(m =>
        (s, t, b, pk) => f.withMeta(m).refresh(s, t, b, pk, m("emb")))
    }

    (out.result(), skip.result())
  }

  /** Heal coverage divergence of `table`'s per-pk indexes from
    * recorded provenance: GHOST pks (indexed rows whose base row is
    * gone) retract everywhere via [[Retract.healGhosts]]; MISSING
    * rows (live base rows a VECTOR index does not cover — the exact
    * count-coverage invariant Doctor checks) re-encode through the
    * family's own incremental refresh. The text families (FTS,
    * trigram, LSH) are deliberately ghost-only here: a doc can be
    * LEGITIMATELY absent from them (no tokens, sub-trigram text, too
    * short to shingle), so "missing" is not decidable from pk sets —
    * their content checks stay with Doctor and their refresh with the
    * write paths. Content-stale rows (same pk, outdated postings) are
    * likewise undetectable from coverage; re-upsert to heal those.
    * Returns (what, healed-count) rows; idempotent — a healed table
    * reports nothing.
    */
  def healDiverged(
      store: TableStore, table: String): Seq[(String, Long)] =
    store.bucketLayoutOf(table) match {
      case Some((_, Seq(pk))) if Retract.indexTablesOf(store, table).nonEmpty =>
        val ghosts = Retract.healGhosts(store, table, pk)
          .map { case (idx, n) => s"ghosts:$idx" -> n }
        val covers = VectorIndex.families.map(f =>
          f.name -> f.coverName(table)).toMap
        val (fams, _) = resolve(store, table, pk)
        val base = store.read(table)
        val refreshed = fams.filter(f => covers.contains(f.name)).flatMap { f =>
          val art = store.read(covers(f.name))
            .select(org.apache.spark.sql.functions.col("pk").as(pk))
            .distinct()
          val missing = Iteration.materialize(
            base.join(art, Seq(pk), "left_anti"))
          val n = missing.count()
          if (n == 0L) None
          else {
            f.refresh(store, table, missing, pk)
            Some(s"missing:${covers(f.name)}" -> n)
          }
        }
        ghosts ++ refreshed
      case _ => Nil
    }

  /** Heal CONTENT-STALE index rows over an epoch window — the gap
    * [[healDiverged]] documents as undetectable from pk coverage: a
    * base write that bypassed index maintenance (library
    * `store.upsert`, a family skipped on pk-mismatch later fixed)
    * leaves the postings/codes of exactly the window's upserted pks
    * outdated, and the CHANGE FEED knows which pks those are. This
    * verb re-refreshes precisely them: one
    * [[TableStore.readChangesSince]] for the window's inserted pks,
    * one semi-join to their CURRENT base rows, then each refreshable
    * family's own delete-and-replace refresh — cost O(window + touched
    * index buckets), never O(table), and idempotent in effect
    * (replace-by-pk: a second run rewrites the same correct rows).
    * Deleted pks are out of scope — an index can never retract by
    * refresh; [[Retract.cascade]] owns deletes and
    * [[healDiverged]]/healGhosts repair their aftermath. One epoch
    * when the base and index tables are all governed. Returns
    * (family, pks-refreshed). REFUSES (rather than silently returning
    * nothing) on a table without a single-column declared bucket pk —
    * per-pk indexes only exist on single-pk bucketed tables, so a
    * composite-pk or unbucketed caller has either nothing healWindow
    * could ever touch or a flat layout whose indexes the library's
    * own verbs must own; "nothing to do" would misreport both.
    */
  def healWindow(
      store: TableStore, table: String, fromEpoch: Long,
      toEpoch: Option[Long] = None): Seq[(String, Long)] =
    store.bucketLayoutOf(table) match {
      case Some((_, Seq(pk))) =>
        val (fams, _) = resolve(store, table, pk)
        if (fams.isEmpty) return Nil
        val to = toEpoch.orElse(store.currentEpochIfAny).getOrElse(
          return Nil)
        val feed = store.readChangesSince(table, fromEpoch, to, Seq(pk))
        val upserted = feed
          .filter(org.apache.spark.sql.functions.col(store.ChangeTypeCol)
            === "insert")
          .select(org.apache.spark.sql.functions.col(pk)).distinct()
        val rows = Iteration.materialize(
          store.read(table).join(upserted, Seq(pk), "left_semi"))
        val n = rows.count()
        if (n == 0L) return Nil
        def go(): Unit = fams.foreach(_.refresh(store, table, rows, pk))
        val governed = store.governed
        val atomic = fams.flatMap(_.writes).forall(governed.contains)
        if (atomic && !store.inTransaction) store.transact(go()) else go()
        fams.map(f => f.name -> n)
      case other => throw new IllegalArgumentException(
        s"healWindow needs a single-pk bucketed table; '$table' has " +
          other.fold("no declared bucket layout")(l =>
            s"a composite bucket pk (${l._2.mkString(", ")})") +
          " — per-pk indexes cannot exist on it, so there is nothing " +
          "a window heal could refresh; use healDiverged/heal_ghosts " +
          "for coverage repair or the library's upsertWith* verbs")
    }

  /** `CALL graft.system.build_fts` / `TBLPROPERTIES('fts'=...)`: build
    * the FTS index of `table` over its current rows (stats-only on an
    * empty table — [[Fts.buildIndex]]) under the DECLARED bucket pk,
    * and when the base is governed, govern the index's write tables
    * too — empty-inclusive, so the very first INSERT commits base rows
    * and postings as ONE epoch (the reference's index-comes-with-the-
    * table contract, trigger semantics from birth). `buckets < 0`
    * defaults the postings layout to the base table's own bucket
    * count.
    */
  def buildFts(
      store: TableStore, table: String, cols: Seq[String],
      buckets: Int = -1): Unit = {
    val (baseBuckets, pk) = store.bucketLayoutOf(table) match {
      case Some((n, Seq(p))) => (n, p)
      case other => throw new IllegalArgumentException(
        s"build_fts needs a single-pk bucketed table; '$table' has " +
          other.fold("no declared bucket layout")(l =>
            s"a composite bucket pk (${l._2.mkString(", ")})") +
          " — declare TBLPROPERTIES('pk'=..., 'buckets'=...) or " +
          "ensureBucketed first")
    }
    Fts.buildIndex(store, table, pk, cols,
      if (buckets < 0) baseBuckets else buckets)
    if (store.governed.contains(table))
      store.ensureGoverned(Seq(Fts.indexName(table), Fts.statsName(table),
        Fts.epochName(table)))
  }

  /** `CALL graft.system.build_index(table, family, column, ...)`: build
    * one non-FTS index family over `table`'s CURRENT rows with recorded
    * provenance, so every later SQL write refreshes it and Doctor can
    * check it — the SQL-surface twin of the library's per-family
    * `buildIndex` verbs. The frame handed to each family's build IS
    * the base upsert batch (replace semantics), so the FULL current
    * rows go in — never a projection, which would null-fill every
    * other column. Vector/text families must train on data: an empty
    * table refuses (only FTS can build index-from-birth). When the
    * base is governed, every artifact the build created is governed
    * after it, so later maintenance stays one-epoch-atomic.
    */
  def buildFamily(
      store: TableStore, table: String, family: String, column: String,
      k: Int = 16, slices: Int = 4): Unit = {
    val pk = store.bucketLayoutOf(table) match {
      case Some((_, Seq(p))) => p
      case other => throw new IllegalArgumentException(
        s"build_index needs a single-pk bucketed table; '$table' has " +
          other.fold("no declared bucket layout")(l =>
            s"a composite bucket pk (${l._2.mkString(", ")})"))
    }
    val rows = store.readIfExists(table).getOrElse(
      throw new IllegalArgumentException(
        s"$table holds no rows — vector/text index builds train on " +
          "data; only build_fts can build on an empty table"))
      .drop(store.BucketCol)
    require(rows.columns.contains(column),
      s"column '$column' is not in $table (${rows.columns.mkString(", ")})")
    family match {
      case "trigram" => Trigram.upsertWithIndex(store, table, rows, pk, column)
      case "lsh" => Lsh.buildIndex(store, table, rows, pk, column)
      case other =>
        val f = VectorIndex.byName(other).getOrElse(
          throw new IllegalArgumentException(
            s"unknown index family '$other' — known: " +
              ("trigram" +: "lsh" +: VectorIndex.families.map(_.name))
                .mkString(", ") + " (FTS builds through build_fts)"))
        // k = cells for the IVF families; slices = PQ sub-spaces, the
        // sub-space width derived from the emb dim
        val pq = f.codec match {
          case _: VectorIndex.Codec.Pq =>
            val d = rows.select(org.apache.spark.sql.functions.size(
              org.apache.spark.sql.functions.col(column))).head.getInt(0)
            require(slices > 0 && d % slices == 0,
              s"emb dim $d is not divisible by slices=$slices")
            Seq("slices" -> slices, "subDim" -> d / slices)
          case _ => Nil
        }
        f.tuned((f.cellsKey -> k) +: pq: _*)
          .build(store, table, rows, pk, column)
    }
    if (store.governed.contains(table))
      store.ensureGoverned(Retract.artifactTablesOf(store, table))
  }

  /** Every base-table column some maintained index of `table` records
    * as its INPUT — the FTS stats row's indexed columns plus each
    * `_meta`-carrying family's recorded text/emb column. These are the
    * columns `ALTER TABLE DROP COLUMN` must refuse: dropping one would
    * break the very next maintained write (the refresh would project a
    * column the surface no longer serves) and strand the index with no
    * rebuild path.
    */
  def provenancedColumns(store: TableStore, table: String): Set[String] = {
    val fts = Fts.statsProvenance(store, table)._1.getOrElse(Nil).toSet
    val meta = Retract.artifactTablesOf(store, table).flatMap(art =>
      IvfDrift.trainingMeta(store, art).toSeq.flatMap(m =>
        Seq("text", "emb").flatMap(m.get))).toSet
    fts ++ meta
  }

  /** Upsert `batch` into `table` AND refresh every refreshable index
    * for those rows — ONE epoch when the base and all index
    * write-tables are governed (no-op wrapping inside an already-open
    * transaction, which then provides the atomicity). Composite-pk
    * tables cannot carry per-pk indexes: plain upsert. Returns
    * (refreshed, skipped) family names.
    *
    * Ordering/healing: the batch is materialized first (severing any
    * plan dependency on base files an un-governed bucketed upsert
    * rewrites in place), then base, then indexes — under mixed
    * governance a crash between the two leaves indexes STALE for
    * already-live rows, the direction Doctor detects and a re-upsert
    * heals (contrast deletes, where [[Retract.cascade]] must own the
    * ordering because an upsert can never retract).
    */
  def upsertMaintained(
      store: TableStore, table: String, batch: DataFrame,
      pk: Seq[String]): (Seq[String], Seq[String]) = {
    if (pk.size != 1) {
      store.upsert(table, batch, pk)
      return (Nil, Nil)
    }
    val (fams, skipped) = resolve(store, table, pk.head)
    if (fams.isEmpty) {
      store.upsert(table, batch, pk)
      return (Nil, skipped)
    }
    val b = Iteration.materialize(batch)
    def go(): Unit = {
      store.upsert(table, b, pk)
      fams.foreach(_.refresh(store, table, b, pk.head))
    }
    val governed = store.governed
    val atomic = governed.contains(table) &&
      fams.flatMap(_.writes).forall(governed.contains)
    if (atomic && !store.inTransaction) store.transact(go()) else go()
    (fams.map(_.name), skipped)
  }
}
