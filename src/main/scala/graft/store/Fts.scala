package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Transforms

/** Full-text search (SURVEY.md §4.3.2): SQLite FTS5 shadow tables
  * (`/root/reference/utils.py:330-332, 352`) re-expressed as a derived
  * inverted-index table `<table>_fts(pk, token, tf, dl, positions)`
  * maintained alongside the base table, queried by token equi-join.
  * Covers the FTS5 `MATCH` surface the reference exposes:
  *
  *  - AND-of-terms (`spark window`), explicit `AND`
  *  - boolean `OR` / binary `NOT` / parentheses at FTS5's precedence
  *    (NOT > AND > OR, fts5parse.y)
  *  - column filters (`name:simon`) against a multi-column index
  *    (`upsertWithIndexCols` — the reference's users FTS spans
  *    name/screen_name/description/location, utils.py:352)
  *  - quoted phrases (`"spark window"` — positional verify against the
  *    per-posting position list, FTS5's poslist analog), including the
  *    prefix-phrase form (`"spark wind"*`)
  *  - trailing-`*` prefix terms (`spar*` — a `startsWith` range
  *    predicate on the token column, pushed to the parquet scan)
  *  - proximity (`NEAR(spark window, 5)` — positional span check over
  *    the same poslists, either order, FTS5's default n=10)
  *  - relevance order (`searchRanked`, BM25 — FTS5's default `rank`)
  *
  * The reference keeps the index fresh with sync triggers; here the
  * index rebuild rides the same upsert batch (rebuild-of-affected-keys
  * — the index rows for an upserted pk are replaced wholesale), and the
  * corpus-level stats BM25 needs (doc count, mean doc length) are
  * persisted ONCE per index build into `<table>_fts_stats` — the FTS5
  * docsize/stat shadow-table analog — so ranked search never
  * re-aggregates the full postings table in the query hot path.
  *
  * Scale: the index is a (token, pk) table, so a term lookup is a
  * pruned scan + semi-join; multi-term AND is an intersection of
  * per-term pk sets done as a groupBy count filter — one shuffle, no
  * quadratic step. A phrase adds one ≤1-row-per-pk equi-join per phrase
  * word over the already-token-pruned postings; corpus stats ride a
  * broadcast of the 1-row stats table.
  */
object Fts {

  def indexName(table: String): String = s"${table}_fts"

  /** 1-row corpus stats `(n_docs, avgdl)` — FTS5 keeps the same in its
    * docsize/stat shadow tables, computed at write time not query time.
    */
  def statsName(table: String): String = s"${table}_fts_stats"

  /** 1-row write-epoch marker. The incremental commit is a non-atomic
    * multi-step write (partition overwrite → stats); the epoch is
    * bumped HERE before the postings write and recorded in the stats
    * row after it, so a crash inside the window leaves the two values
    * disagreeing and the next upsert falls through to the wholesale
    * rebuild instead of compounding stale BM25 totals forever.
    */
  def epochName(table: String): String = s"${table}_fts_epoch"

  /** Build/refresh index rows for a batch of (pk, text): one posting
    * per (pk, token) carrying the term frequency, the document's token
    * count, and the sorted token positions (FTS5's poslist) — the
    * per-document stats BM25 and phrase verification need, computed
    * once at index time.
    */
  def indexRows(batch: DataFrame, pkCol: String, textCol: String): DataFrame =
    fanOutNarrow(batch)
      .select(col(pkCol).as("pk"), Transforms.tokens(col(textCol)).as("toks"))
      // pairs and bounds are PROJECTED before the lambdas that index
      // into them: a computed array referenced inside a higher-order
      // lambda is re-evaluated PER ELEMENT (no common-subexpression
      // reuse inside lambda bodies) — as attributes they are one row
      // field read, keeping the derivation O(dl log dl) per document
      .select(col("pk"), size(col("toks")).cast("long").as("dl"),
        sortedPairs(col("toks")).as("pairs"))
      .select(col("pk"), col("dl"), col("pairs"),
        runBounds(col("pairs")).as("bounds"))
      .select(col("pk"), col("dl"),
        explode(perRowPostings(col("pairs"), col("bounds"))).as("e"))
      .select(col("pk"), col("e.token").as("token"),
        size(col("e.positions")).cast("long").as("tf"), col("dl"),
        col("e.positions").as("positions"))

  /** All (token, positions) entries of ONE document's token array,
    * computed row-local with higher-order functions: the (pk, token)
    * grouping the postings need never crosses rows, so the former
    * posexplode → groupBy(pk, dl, token) → collect_list shape shuffled
    * every token occurrence just to regroup values that already sat in
    * a single row (guide §2.4: remove shuffles outright). Positions
    * come out ascending within each token; tf = size(positions).
    *
    * Single pass per row, O(dl log dl): sort the (token, position)
    * pairs once, find each token run's start index, and slice the run
    * back out — every step is O(1) per element. The previous shape
    * (`array_distinct` + re-`filter`ing the whole position sequence
    * per distinct token) was O(distinct_tokens × dl) per document:
    * invisible on tweet-length text but a CPU cliff on a 100k-token
    * document (~10^10 comparisons in one task). Rows are identical up
    * to entry order (token runs now come out sorted instead of in
    * first-occurrence order — the entries are exploded into an
    * unordered postings table either way); proved by exceptAll in both
    * directions plus the oracle.
    */
  /** (token, position) pairs sorted by token then position — struct
    * ordering is field-by-field, so each token's positions come out
    * ascending. Index-aware transform, NOT zip_with(toks,
    * sequence(0, dl-1)): sequence(0, -1) on an empty doc is the
    * descending [0, -1] and zip_with null-pads the shorter side — a
    * spurious NULL posting.
    */
  private def sortedPairs(toks: Column): Column =
    array_sort(transform(toks, (t, i) => struct(t.as("token"), i.as("pos"))))

  /** 0-based indexes where a new token run starts in `pairs`, plus the
    * terminating size(pairs): run k spans pairs[bounds(k) ..
    * bounds(k+1)-1]. `pairs` MUST be a projected attribute, never a
    * computed expression (see indexRows). The index-lambda `filter`
    * keeps this [size] for an empty token array, where a
    * `sequence(0, -1)` would instead yield the descending [0, -1].
    *
    * The predicate relies on `Or` short-circuiting: at i = 0 the left
    * side is true, so `element_at(pairs, 0)` — an invalid index that
    * throws INVALID_ARRAY_INDEX under ANSI — is never evaluated. An
    * expression rewrite that reorders the disjuncts or evaluates both
    * sides eagerly would break every non-empty document.
    */
  private def runBounds(pairs: Column): Column =
    concat(
      filter(transform(pairs, (_, i) => i),
        i => (i === lit(0)) ||
          (element_at(pairs, i + 1)("token") =!= element_at(pairs, i)("token"))),
      array(size(pairs)))

  /** All (token, positions) entries of the sorted pair array: one
    * slice per token run. O(1) per element — both inputs are
    * attributes, so the lambdas only index into already-computed
    * arrays.
    */
  private def perRowPostings(pairs: Column, bounds: Column): Column =
    zip_with(
      slice(bounds, lit(1), size(bounds) - 1),
      slice(bounds, lit(2), size(bounds) - 1),
      (s, e) => struct(
        element_at(pairs, s + 1)("token").as("token"),
        transform(sequence(s, e - 1),
          j => element_at(pairs, j + 1)("pos")).as("positions")))

  /** Scan-parallelism floor for the CPU-dense tokenize+postings
    * derivation — see [[Iteration.fanOutNarrow]]. Capped at 8 ways:
    * index builds are per-batch and usually small, and the measured
    * sweet spot for the derivation kernel was 8 tasks (32-way fan-out
    * paid more scheduling than it saved; adjacent-JVM A/B). At
    * cluster scale the width guard makes this the identity either
    * way.
    */
  private def fanOutNarrow(df: DataFrame): DataFrame =
    Iteration.fanOutNarrow(df, cap = 8)

  /** Multi-column index rows `(pk, fcol, token, tf, dl, positions)`:
    * one posting per (pk, column, token). dl and positions are PER
    * COLUMN — FTS5's model (each indexed column is its own position
    * space and scoring unit; the reference's users index spans
    * name/screen_name/description/location, `/root/reference/
    * utils.py:352`). Phrases and NEAR never span columns.
    */
  def indexRowsCols(batch: DataFrame, pkCol: String, textCols: Seq[String]): DataFrame =
    fanOutNarrow(batch)
      .select(col(pkCol).as("pk"),
        explode(array(textCols.map(tc =>
          struct(lit(tc).as("fcol"),
            Transforms.tokens(col(tc)).as("toks"))): _*)).as("c"))
      // pairs/bounds projected before the lambdas consume them — see
      // indexRows for why (per-element re-evaluation inside lambdas)
      .select(col("pk"), col("c.fcol").as("fcol"),
        size(col("c.toks")).cast("long").as("dl"),
        sortedPairs(col("c.toks")).as("pairs"))
      .select(col("pk"), col("fcol"), col("dl"), col("pairs"),
        runBounds(col("pairs")).as("bounds"))
      .select(col("pk"), col("fcol"), col("dl"),
        explode(perRowPostings(col("pairs"), col("bounds"))).as("e"))
      .select(col("pk"), col("fcol"), col("e.token").as("token"),
        size(col("e.positions")).cast("long").as("tf"), col("dl"),
        col("e.positions").as("positions"))

  /** Partition column of the bucketed postings layout. */
  private val BucketCol = "pk_bucket"

  /** `postings` in the bucketed layout: filed under their pk's bucket,
    * range-split and sorted on (bucket, token) so each file covers a
    * narrow token range (tight envelopes for the manifest file skip).
    */
  private def bucketedPostings(
      store: TableStore, postings: DataFrame, buckets: Int): DataFrame =
    postings.withColumn(BucketCol, store.bucketOfPk(Seq("pk"), buckets))
      .repartitionByRange(col(BucketCol), col("token"))
      .sortWithinPartitions(col(BucketCol), col("token"))

  /** Upsert base rows AND their index rows: delete-and-replace the
    * index entries of every pk in the batch (trigger analog), then
    * refresh the persisted corpus stats.
    *
    * `buckets = 0` (default) keeps the postings as one unpartitioned
    * table, rewritten wholesale per batch — fine while the index is
    * small. `buckets > 0` lays the postings out Hive-partitioned by a
    * pk hash (`pk_bucket`) and maintains them with DYNAMIC PARTITION
    * OVERWRITE: a batch rewrites only the ≤|batch| buckets containing
    * its pks, so index maintenance is O(batch), not O(corpus) — the
    * scale path for a 100 TB index (a lakehouse MERGE would replace
    * exactly this seam with transactional semantics). Rows are sorted
    * by token within each written file so term lookups prune row
    * groups via parquet min/max stats even though the partitioning key
    * is the pk hash. Corpus stats update INCREMENTALLY on this path
    * (counts/totals ± the replaced and fresh docs — FTS5's docsize
    * bookkeeping), never rescanning the index. Switching layouts (or
    * migrating a pre-positions index) rebuilds wholesale once.
    */
  def upsertWithIndex(
      store: TableStore,
      table: String,
      batch: DataFrame,
      pkCol: String,
      textCol: String,
      buckets: Int = 0): Unit =
    upsertWithIndexCols(store, table, batch, pkCol, Seq(textCol), buckets)

  /** Multi-column variant: index `textCols` with per-column postings
    * (fcol layout) so `col:term` MATCH filters work. A single column
    * keeps the compact fcol-less layout; switching a table between
    * the two (or changing the column set) rebuilds wholesale once.
    */
  def upsertWithIndexCols(
      store: TableStore,
      table: String,
      batch: DataFrame,
      pkCol: String,
      textCols: Seq[String],
      buckets: Int = 0): Unit = {
    refreshPostings(store, table, batch, pkCol, textCols, buckets)
    store.upsert(table, batch, Seq(pkCol))
  }

  /** Build (or rebuild) the FTS index of `table` from its CURRENT
    * rows — the entry DDL-time index creation
    * (`TBLPROPERTIES('fts'=...)` on CREATE/CTAS) and `CALL
    * graft.system.build_fts` reach, completing the reference's
    * index-comes-with-the-table contract (`ensure_tables` creates the
    * FTS shadow tables at DDL time,
    * `/root/reference/utils.py:330-352`) for SQL-only users. An EMPTY
    * table (CREATE/CTAS before any insert) builds STATS-ONLY: the
    * 1-row stats table records the provenance (cols, pk, bucket
    * count) [[IndexMaintain]] resolves, so the first INSERT
    * materializes the postings in the same epoch as its base rows —
    * no empty postings table is written (an empty parquet dir has no
    * schema to serve; [[search]]/[[searchRanked]] treat the
    * stats-only state as an empty result, never an error).
    */
  def buildIndex(
      store: TableStore, table: String, pkCol: String,
      textCols: Seq[String], buckets: Int = 0): Unit = {
    require(textCols.nonEmpty, "at least one indexed column required")
    store.readIfExists(table) match {
      case Some(rows) =>
        (pkCol +: textCols).foreach(c => require(rows.columns.contains(c),
          s"column '$c' is not in $table (${rows.columns.mkString(", ")})"))
        refreshPostings(store, table, rows, pkCol, textCols, buckets)
        // full-corpus build: also purge GHOST postings (pks no longer
        // in the base — the aftermath of a bare delete this build is
        // often run to repair). The incremental refresh path replaces
        // live pks but can never retract dead ones, so without this a
        // "rebuild" would keep ranking deleted documents. The
        // emptiness probe runs on the LAZY join (nothing is rewriting
        // the index files at this point), so the ghost-free common
        // case pays one metadata-cheap scan and no scratch I/O; only
        // an actual purge materializes (retraction rewrites the files
        // the plan reads).
        val basePks = rows.select(col(pkCol).as("pk")).distinct()
        val ghosts = store.read(indexName(table)).select(col("pk"))
          .distinct().join(basePks, Seq("pk"), "left_anti")
        if (ghosts.limit(1).count() > 0)
          retractPostings(store, table, Iteration.materialize(ghosts),
            bucketCountOf(store, table))
      case None =>
        val sch = store.declaredSchemaOf(table).getOrElse(
          throw new IllegalArgumentException(
            s"$table holds no data and declares no schema — nothing " +
              "to index"))
        // cols arrive PHYSICAL; the declared schema is surface-shaped
        // (a CREATE→RENAME COLUMN→build_fts sequence on a still-empty
        // table must validate through the name map)
        val physDecl =
          sch.fieldNames.map(store.physicalColumnOf(table, _))
        (pkCol +: textCols).foreach(c => require(physDecl.contains(c),
          s"column '$c' is not in $table (${sch.fieldNames.mkString(", ")})"))
        val epoch = writeEpoch(store, table)
        writeStats(store, table, 0L, 0L, buckets, epoch, textCols,
          Some(pkCol))
    }
  }

  /** The empty result of a MATCH against a stats-only index (built at
    * DDL time over an empty table): a zero-row `pk` frame typed from
    * the base/declared schema's recorded pk column.
    */
  private def emptyPkFrame(store: TableStore, table: String): DataFrame = {
    val dt: org.apache.spark.sql.types.DataType =
      statsPk(store, table).flatMap { p =>
        store.readIfExists(table).map(_.schema)
          .orElse(store.declaredSchemaOf(table))
          .flatMap(_.fields.find(_.name == p).map(_.dataType))
      }.getOrElse(org.apache.spark.sql.types.StringType)
    store.spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("pk", dt))))
  }

  /** The postings half of [[upsertWithIndexCols]] — delete-and-replace
    * the index rows and stats of the batch's pks WITHOUT writing the
    * base table. The seam SQL DML maintenance composes with: there the
    * base rows land through the statement's own upsert, and this call
    * keeps the index in step ([[IndexMaintain]]).
    */
  private[store] def refreshPostings(
      store: TableStore,
      table: String,
      batch: DataFrame,
      pkCol: String,
      textCols: Seq[String],
      buckets: Int = 0): Unit = {
    require(textCols.nonEmpty, "at least one indexed column required")
    // Index FIRST, base table second: `batch` may lazily reference the
    // base table's current parquet files (e.g. a reindex of the table
    // itself), and TableStore's write-swap deletes them — any plan
    // still pointing at the old files would fail afterwards.
    val multi = textCols.size > 1
    // pinned ONCE: the incremental path below reads the fresh postings
    // twice (stats deltas + the merged write) and the lazy form would
    // re-run the whole tokenize+postings derivation per consumer
    lazy val fresh = Iteration.materialize(
      if (multi) indexRowsCols(batch, pkCol, textCols)
      else indexRows(batch, pkCol, textCols.head))
    val existing = store.readIfExists(indexName(table))
    val existingBucketed = existing.exists(_.columns.contains(BucketCol))

    existing match {
      // incremental only when the caller's bucket count MATCHES the
      // one the index was built with (persisted in the stats row):
      // filtering old partitions by buckets computed mod a different N
      // would silently leave stale postings behind — a mismatch falls
      // through to the wholesale rebuild below instead
      case Some(ex) if ex.columns.contains("positions") &&
          ex.columns.contains("fcol") == multi &&
          statsCols(store, table).forall(_ == textCols) &&
          existingBucketed && buckets > 0 &&
          statsBucketCount(store, table).contains(buckets) &&
          epochsAgree(store, table) =>
        val batchPks = batch.select(col(pkCol).as("pk")).distinct()
        // affected buckets derive from the BATCH pks (not from fresh
        // postings): a doc re-upserted with empty text has no fresh
        // rows but its old postings must still be cleared
        val affected = batchPks.select(store.bucketOfPk(Seq("pk"), buckets))
          .distinct().collect().map(_.getLong(0)).toSeq
        // incremental stats deltas read the OLD index — before any write
        val (oldN, oldDl) = statsTotals(store, table, ex)
        val (outN, outDl) = docTotals(ex.filter(col(BucketCol).isin(affected: _*))
          .join(batchPks, Seq("pk"), "left_semi"))
        val (inN, inDl) = docTotals(fresh)
        // bump the epoch BEFORE touching postings: a crash anywhere
        // between here and writeStats leaves epoch ≠ stats.epoch and
        // the next upsert rebuilds wholesale instead of trusting
        // silently-stale BM25 totals
        val epoch = writeEpoch(store, table)
        // the range split's sampling pass reads the PINNED fresh
        // postings, so it does not re-execute the tokenize subtree
        store.rewritePartitions(indexName(table), BucketCol, affected)(cur =>
          bucketedPostings(store, cur.join(batchPks, Seq("pk"), "left_anti")
            .drop(BucketCol).unionByName(fresh), buckets))
        writeStats(store, table, oldN - outN + inN, oldDl - outDl + inDl,
          buckets, epoch, textCols, Some(pkCol))

      case _ =>
        // (re)build wholesale: first index of this table, a layout
        // switch (bucketed <-> flat, single <-> multi column, changed
        // column set), or a pre-positions migration
        def rebuildFromBase: DataFrame = {
          // the old index's schema can't union with the new layout, so
          // re-derive the postings from the post-upsert base table
          // (the text lives there)
          val full = Upsert.upsert(store.readIfExists(table), batch, Seq(pkCol))
            .select((pkCol +: textCols).map(col): _*)
          if (multi) indexRowsCols(full, pkCol, textCols)
          else indexRows(full, pkCol, textCols.head)
        }
        val flat = existing match {
          case Some(ex) if !ex.columns.contains("positions") ||
              ex.columns.contains("fcol") != multi ||
              !statsCols(store, table).forall(_ == textCols) =>
            rebuildFromBase
          case Some(ex) =>
            // drop all index rows of the re-upserted pks, then add fresh
            ex.drop(BucketCol)
              .join(batch.select(col(pkCol).as("pk")).distinct(), Seq("pk"), "left_anti")
              .unionByName(fresh)
          case None => fresh
        }
        // epoch bump FIRST (same crash-window rule as the incremental
        // path: any tear between here and writeStats forces the next
        // upsert back through this self-healing wholesale rebuild)
        val epoch = writeEpoch(store, table)
        if (buckets > 0)
          store.overwrite(indexName(table),
            bucketedPostings(store, flat, buckets), partitionBy = Seq(BucketCol))
        else store.overwrite(indexName(table), flat)
        // corpus stats from the fresh index: one scan at write time —
        // the price FTS5 pays in its docsize table — so ranked queries
        // read a broadcast 1-row table instead of re-aggregating
        val (n, dl) = docTotals(store.read(indexName(table)))
        writeStats(store, table, n, dl, buckets, epoch, textCols, Some(pkCol))
    }
  }

  /** Opt `table`'s postings into FILE-level term skipping: build the
    * `_graft_stats` manifest (token envelopes encoded via
    * [[TableStore.stringStatKey]]) over the index once; every later
    * [[upsertWithIndex]] batch keeps it fresh at O(replaced files),
    * and every MATCH query prunes its file list through it — the
    * listing-level analog of the in-file row-group skipping the
    * per-file token sort already provides. On a pk-bucketed layout
    * this is what stops a single-term probe opening all N bucket
    * footers.
    */
  def enableFileSkipping(store: TableStore, table: String): Unit =
    store.refreshFileStats(indexName(table))

  /** Delete rows AND their postings — the ghost-free path a dedup
    * pass or retention delete takes on an FTS-indexed table (the
    * delete-side twin of [[upsertWithIndex]]'s trigger analog; FTS5's
    * DELETE trigger). On the bucketed layout with healthy stats the
    * index maintenance is O(affected buckets) with the corpus stats
    * DECREMENTED incrementally; a flat or torn index rewrites
    * wholesale (stats recomputed exact). The base rows go through
    * [[TableStore.deleteByPk]] (O(touched buckets) on a declared
    * layout), so the whole operation is op-tagged `delete` and the
    * change feed retracts exactly these pks downstream.
    */
  def deleteWithIndex(
      store: TableStore,
      table: String,
      keys: DataFrame,
      pkCol: String,
      buckets: Int = 0): Unit = {
    retractPostings(store, table,
      keys.select(col(pkCol).as("pk")).distinct(), buckets)
    store.deleteByPk(table, keys.select(col(pkCol)), Seq(pkCol))
  }

  /** The bucket count the index was built with, from the stats row —
    * 0 for a flat or legacy index. What [[deleteWithIndex]] callers
    * pass when they did not record the layout themselves.
    */
  def bucketCountOf(store: TableStore, table: String): Int =
    statsBucketCount(store, table).getOrElse(0)

  /** The postings half of [[deleteWithIndex]]: retract `delPks` (a
    * 1-column `pk` frame) from the index and decrement the corpus
    * stats, leaving the base table untouched — the piece
    * [[Retract.cascade]] composes with the other index families'
    * retractions before one shared base delete.
    */
  private[store] def retractPostings(
      store: TableStore,
      table: String,
      delPks: DataFrame,
      buckets: Int): Unit = {
    store.readIfExists(indexName(table)) match {
      case Some(ex) if ex.columns.contains("positions") &&
          ex.columns.contains(BucketCol) && buckets > 0 &&
          statsBucketCount(store, table).contains(buckets) &&
          statsCols(store, table).isDefined &&
          epochsAgree(store, table) =>
        val affected = delPks.select(store.bucketOfPk(Seq("pk"), buckets))
          .distinct().collect().map(_.getLong(0)).toSeq
        if (affected.nonEmpty) {
          val (oldN, oldDl) = statsTotals(store, table, ex)
          val (outN, outDl) = docTotals(ex.filter(col(BucketCol).isin(affected: _*))
            .join(delPks, Seq("pk"), "left_semi"))
          // same crash discipline as the upsert path: epoch bump FIRST
          val epoch = writeEpoch(store, table)
          store.rewritePartitions(indexName(table), BucketCol, affected,
            TableStore.OpDelete)(cur => bucketedPostings(store,
              cur.join(delPks, Seq("pk"), "left_anti").drop(BucketCol), buckets))
          writeStats(store, table, oldN - outN, oldDl - outDl,
            buckets, epoch, statsCols(store, table).get,
            statsPk(store, table))
        }
      case Some(ex) =>
        // flat layout, legacy schema, or torn stats: wholesale rewrite
        // of the postings minus the deleted pks; stats recomputed
        // exact from the fresh index when the store records them
        val flat = (if (ex.columns.contains(BucketCol)) ex.drop(BucketCol)
          else ex).join(delPks, Seq("pk"), "left_anti")
        val epoch = writeEpoch(store, table)
        if (buckets > 0)
          store.overwrite(indexName(table),
            bucketedPostings(store, flat, buckets), partitionBy = Seq(BucketCol))
        else store.overwrite(indexName(table), flat)
        statsCols(store, table).foreach { cols =>
          val (n, dl) = docTotals(store.read(indexName(table)))
          writeStats(store, table, n, dl, buckets, epoch, cols,
            statsPk(store, table))
        }
      case None => () // never indexed — nothing to retract
    }
  }

  /** Apply a [[TableStore.readChangesSince]] frame to an FTS-indexed
    * table: deletes retract rows AND postings ([[deleteWithIndex]]),
    * inserts upsert rows and reindex ([[upsertWithIndexCols]]) — the
    * one-call consumer for a ghost-free FTS mirror driven by
    * `EpochFollower.consumeChanges` / `EpochStream`. Idempotent per
    * batch (both halves replace by pk), so the change feed's
    * at-least-once redelivery converges.
    */
  def applyChanges(
      store: TableStore,
      table: String,
      changes: DataFrame,
      pkCol: String,
      textCols: Seq[String],
      buckets: Int = 0): Unit = {
    val tagCol = "_change_type"
    val del = changes.filter(col(tagCol) === "delete")
      .select(col(pkCol)).distinct()
    val ins = changes.filter(col(tagCol) === "insert").drop(tagCol)
    if (!del.isEmpty) deleteWithIndex(store, table, del, pkCol, buckets)
    if (!ins.isEmpty) upsertWithIndexCols(store, table, ins, pkCol,
      textCols, buckets)
  }

  /** (distinct docs, summed dl) of a postings slice — dl is constant
    * per pk (per (pk, fcol) on the multi-column layout), so the
    * distinct collapses to one row per doc/column and n_docs counts
    * distinct pks.
    */
  private def docTotals(postings: DataFrame): (Long, Long) =
    if (postings.columns.contains("fcol")) {
      val r = postings.select(col("pk"), col("fcol"), col("dl")).distinct()
        .agg(countDistinct(col("pk")), sum(col("dl"))).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    } else {
      val r = postings.select(col("pk"), col("dl")).distinct()
        .agg(count(lit(1)), sum(col("dl"))).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

  /** Current (n_docs, total_dl); legacy stats rows without total_dl
    * (or no stats table) recompute once from the index.
    */
  private def statsTotals(store: TableStore, table: String, idx: DataFrame): (Long, Long) =
    store.readIfExists(statsName(table)) match {
      case Some(st) if st.columns.contains("total_dl") =>
        val r = st.select(col("n_docs"), col("total_dl")).head
        (r.getLong(0), r.getLong(1))
      case _ => docTotals(idx)
    }

  /** Bucket count the index was built with, from the stats row
    * (0 = flat layout; None = no/legacy stats).
    */
  private def statsBucketCount(store: TableStore, table: String): Option[Int] =
    store.readIfExists(statsName(table)).flatMap { st =>
      if (st.columns.contains("n_buckets"))
        Some(st.select(col("n_buckets")).head.getInt(0))
      else None
    }

  private def writeStats(
      store: TableStore, table: String, nDocs: Long, totalDl: Long,
      buckets: Int, epoch: Long, cols: Seq[String],
      pk: Option[String]): Unit = {
    val spark = store.spark
    import spark.implicits._
    store.overwrite(statsName(table),
      Seq((nDocs, totalDl, buckets, epoch, cols.mkString(","),
        pk.orNull))
        .toDF("n_docs", "total_dl", "n_buckets", "epoch", "cols", "pk")
        .withColumn("avgdl",
          when(col("n_docs") > 0,
            col("total_dl").cast("double") / col("n_docs").cast("double"))))
  }

  /** The pk column the index was built under, recorded in the stats
    * row — the provenance [[IndexMaintain]]'s pk-match guard checks
    * for FTS exactly as the `_meta` rows do for every other family
    * (None = legacy stats from before pk capture: such an index is
    * reported as skipped, never refreshed under a guessed key).
    * Retractions carry the recorded value forward (delete keys arrive
    * pre-projected to `pk`, so the retraction path cannot learn the
    * name itself).
    */
  private[store] def statsPk(store: TableStore, table: String): Option[String] =
    store.readIfExists(statsName(table)).flatMap { st =>
      if (st.columns.contains("pk"))
        Option(st.select(col("pk")).head.getString(0))
      else None
    }

  /** Adopt a LEGACY index — stats row predating pk capture — under the
    * declared bucket pk, so pre-upgrade indexes keep refreshing on SQL
    * writes instead of silently going stale behind a provenance guard
    * they never had the chance to satisfy. Adoption is VERIFIED, never
    * assumed, in two steps: (1) the postings' pk set must be a subset
    * of the base table's declared-pk values (subset, not equality —
    * text indexes legitimately skip token-less docs); (2) a SAMPLE of
    * up to 100 BASE pks (deterministic hash order — spread across the
    * pk domain) must have postings agreeing byte-for-byte with
    * postings recomputed from the base rows at those pk values under
    * the candidate key. Step 2 is what step 1 cannot decide: an index
    * built under a DIFFERENT integer surrogate key whose value domain
    * overlaps the declared pk's (both starting at 0/1 — common, not
    * pathological) passes the subset check, but the base row AT an
    * overlapping pk value carries different text, so its recomputed
    * token rows disagree. A CONTENT-STALE or INCOMPLETE legacy index
    * (right key, rows upserted or inserted while it was skipped) fails
    * step 2 whenever the divergence touches the sample — base-driven,
    * so never-indexed rows are visible too; staleness entirely outside
    * the sample is probabilistic, and the rebuild path is the
    * exhaustive answer. The verdict STAMPS either way,
    * so the O(index-pks + sample) check runs ONCE per legacy index:
    * success records the pk (maintenance resumes), failure records
    * [[PkMismatchSentinel]] (the index stays skipped at O(1) per
    * write — Doctor flags the divergence, the old contract — and a
    * rebuild under the right key overwrites the sentinel with the
    * true pk).
    */
  private[store] def adoptLegacyPk(
      store: TableStore, table: String, pkCol: String): Boolean = {
    val cols = statsCols(store, table).getOrElse(return false)
    val base = store.readIfExists(table).getOrElse(return false)
    if (!base.columns.contains(pkCol)) return false
    val idx = store.readIfExists(indexName(table))
    val ok = idx match {
      case Some(ix) =>
        ix.schema.fields.find(_.name == "pk").exists(
          _.dataType == base.schema(pkCol).dataType) &&
          ix.select(col("pk")).distinct()
            .join(base.select(col(pkCol).as("pk")), Seq("pk"), "left_anti")
            .isEmpty &&
          sampledContentAgrees(store, ix, base, pkCol, cols)
      case None => true // stats without postings: nothing to mis-key
    }
    // stamp the VERDICT: same totals, same layout, same epoch marker —
    // only the pk field changes, so epochsAgree and the incremental
    // path are undisturbed
    val (n, dl) = statsTotals(store, table,
      idx.getOrElse(base.limit(0).select(lit(1L).as("pk"))
        .withColumn("dl", lit(0L))))
    val recordedEpoch = store.readIfExists(statsName(table)).flatMap { st =>
      if (st.columns.contains("epoch"))
        Some(st.select(col("epoch")).head.getLong(0))
      else None
    }.getOrElse(0L)
    writeStats(store, table, n, dl,
      statsBucketCount(store, table).getOrElse(0), recordedEpoch,
      cols, Some(if (ok) pkCol else PkMismatchSentinel))
    ok
  }

  /** [[adoptLegacyPk]]'s step 2: postings for a deterministic sample
    * of pks must equal postings recomputed from the base rows at those
    * pk values under the candidate key. The sample draws up to 100
    * BASE pks in hash order (`xxhash64` — deterministic, spread across
    * the whole pk domain rather than privileging the lowest values),
    * so it also catches base rows the index never indexed at all
    * (recomputed postings non-empty, index postings absent) — a sample
    * drawn from the index's own pks could never see those. Compared on
    * the column intersection (a pre-positions legacy index still
    * verifies on pk/token/tf), both directions, exact — tokenization
    * is deterministic, so any divergence means a wrong key, stale
    * content, or missing rows, and each must refuse adoption.
    * Staleness OUTSIDE the sample remains probabilistic — the hash
    * spread makes the sample representative, not exhaustive; the
    * exhaustive answer is the rebuild path. A multi-column index
    * carries `fcol`; a single-column legacy shape only verifies when
    * exactly one column is recorded (anything else is an
    * unreconstructable shape — refuse).
    */
  private def sampledContentAgrees(
      store: TableStore, ix: DataFrame, base: DataFrame,
      pkCol: String, cols: Seq[String]): Boolean = {
    if (!cols.forall(base.columns.contains)) return false
    val multi = ix.columns.contains("fcol")
    if (!multi && cols.size != 1) return false
    val sampled = base.select(col(pkCol).as("pk")).distinct()
      .orderBy(org.apache.spark.sql.functions.xxhash64(col("pk")), col("pk"))
      .limit(100)
    val rows = base.join(sampled.select(col("pk").as(pkCol)),
      Seq(pkCol), "left_semi")
    val recomputed =
      if (multi) indexRowsCols(rows, pkCol, cols)
      else indexRows(rows, pkCol, cols.head)
    val shared = recomputed.columns.filter(ix.columns.contains).toSeq
    val rec = recomputed.select(shared.map(col): _*)
    val got = ix.join(sampled, Seq("pk"), "left_semi")
      .select(shared.map(col): _*)
    rec.exceptAll(got).isEmpty && got.exceptAll(rec).isEmpty
  }

  /** Recorded in the stats row's pk field when [[adoptLegacyPk]]'s
    * verification FAILED — never a real column name (column names
    * cannot start with '!'), so the maintenance pk-match guard skips
    * at O(1) forever instead of re-verifying per write; a rebuild
    * under the correct key overwrites it with the true pk.
    */
  private[store] val PkMismatchSentinel = "!verified-mismatch"

  /** (indexed columns, recorded pk) in ONE read of the 1-row stats
    * table — the hot-DML-path accessor ([[IndexMaintain.resolve]]
    * consults both per SQL write; separate statsCols/statsPk calls
    * would pay two collect jobs for one row).
    */
  private[store] def statsProvenance(
      store: TableStore, table: String): (Option[Seq[String]], Option[String]) =
    store.readIfExists(statsName(table)) match {
      case Some(st) =>
        val hasCols = st.columns.contains("cols")
        val hasPk = st.columns.contains("pk")
        if (!hasCols && !hasPk) (None, None)
        else {
          val r = st.select(
            (if (hasCols) col("cols") else lit(null).cast("string"))
              .as("cols"),
            (if (hasPk) col("pk") else lit(null).cast("string")).as("pk"))
            .head
          (Option(r.getString(0)).map(_.split(",", -1).toSeq),
            Option(r.getString(1)))
        }
      case None => (None, None)
    }

  /** Indexed column names recorded in the stats row (None = legacy
    * stats from before multi-column support).
    */
  private[store] def statsCols(store: TableStore, table: String): Option[Seq[String]] =
    store.readIfExists(statsName(table)).flatMap { st =>
      if (st.columns.contains("cols"))
        Some(st.select(col("cols")).head.getString(0).split(",", -1).toSeq)
      else None
    }

  /** Bump and persist the 1-row write-epoch marker; returns the new
    * value. Called BEFORE any postings write so a torn commit is
    * detectable (epoch marker ahead of stats.epoch).
    */
  private def writeEpoch(store: TableStore, table: String): Long = {
    val spark = store.spark
    import spark.implicits._
    val next = store.readIfExists(epochName(table))
      .map(_.select(col("epoch")).head.getLong(0) + 1L).getOrElse(0L)
    store.overwrite(epochName(table), Seq(next).toDF("epoch"))
    next
  }

  /** True when the epoch marker and the stats row recorded the same
    * write — the incremental path's integrity precondition. A store
    * from before this guard (neither value present) counts as
    * agreeing; any one-sided or mismatched state means a commit tore
    * partway and the caller must rebuild wholesale.
    */
  private def epochsAgree(store: TableStore, table: String): Boolean = {
    val marker = store.readIfExists(epochName(table))
      .map(_.select(col("epoch")).head.getLong(0))
    val recorded = store.readIfExists(statsName(table)).flatMap { st =>
      if (st.columns.contains("epoch"))
        Some(st.select(col("epoch")).head.getLong(0))
      else None
    }
    (marker, recorded) match {
      case (None, None)       => true
      case (Some(a), Some(b)) => a == b
      case _                  => false
    }
  }

  // --- query parsing (FTS5 MATCH surface) ------------------------------

  private[store] sealed trait Term
  private[store] case class Plain(tok: String) extends Term
  private[store] case class PrefixTerm(pre: String) extends Term
  private[store] case class Phrase(toks: Seq[String], lastPrefix: Boolean = false) extends Term
  /** FTS5 NEAR group: 2+ phrases (each 1+ tokens — quoted operands
    * keep multi-token phrases) clustered within a window of ≤ n + Σ
    * phrase-lengths tokens.
    */
  private[store] case class Near(phrases: Seq[Seq[String]], n: Int) extends Term
  /** FTS5 column filter `col:term` / `{col1 col2}:term` — restricts
    * the inner term to the named indexed column(s); requires the
    * multi-column (fcol) index layout.
    */
  private[store] case class ColFiltered(fcols: Seq[String], t: Term) extends Term

  /** FTS5 initial-token anchor `^term` / `^"a phrase"` — the (first
    * token of the) inner term must sit at position 0 of its column.
    */
  private[store] case class Anchored(t: Term) extends Term

  /** Boolean MATCH expression (fts5parse.y grammar): leaves are match
    * terms; AND is n-ary (FTS5's implicit connective between adjacent
    * units), OR is n-ary, NOT is binary (`a NOT b` = a minus b).
    * Precedence NOT > AND > OR, parentheses override.
    */
  private[store] sealed trait Node
  private[store] case class TermNode(t: Term) extends Node
  private[store] case class AndNode(kids: Seq[Node]) extends Node
  private[store] case class OrNode(kids: Seq[Node]) extends Node
  private[store] case class NotNode(incl: Node, excl: Node) extends Node

  private def tokenize(s: String): Seq[String] =
    s.toLowerCase(java.util.Locale.ROOT).split("\\W+").filter(_.nonEmpty).toSeq

  private sealed trait Tok
  private case class TTerm(t: Term) extends Tok
  private case class TCol(names: Seq[String]) extends Tok
  private case object TOr extends Tok
  private case object TAnd extends Tok
  private case object TNot extends Tok
  private case object TLp extends Tok
  private case object TRp extends Tok

  /** Lex a MATCH query into term and operator tokens. Quoted phrases
    * keep their content verbatim (a `NEAR(` inside quotes is phrase
    * text, FTS5 tokenizes it); `NEAR(` is recognized only at a token
    * start, so `UNNEAR(...)` is plain text, not a proximity operator;
    * the boolean keywords must be standalone and uppercase (FTS5:
    * lowercase `or` is just a token). A `*` at the tail of a quoted
    * phrase — inside (`"ab cd*"`) or outside (`"ab cd"*`) the closing
    * quote — makes the LAST phrase word a prefix, FTS5's prefix-phrase
    * form. An empty phrase (`""`) contributes nothing.
    */
  private def lex(query: String): Seq[Tok] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Tok]
    var i = 0
    // `^` (FTS5 initial-token anchor) applies to the NEXT emitted
    // phrase; a dangling anchor is a syntax error, matching FTS5
    var anchorNext = false
    def unitChar(c: Char): Boolean =
      !c.isWhitespace && c != '(' && c != ')' && c != '"'
    def emitPhrase(ws: Seq[String], pfx: Boolean): Unit = {
      val t: Option[Term] = ws match {
        case Seq()             => None
        case Seq(w) if pfx     => Some(PrefixTerm(w))
        case Seq(w)            => Some(Plain(w))
        case more              => Some(Phrase(more, pfx))
      }
      t.foreach { term =>
        out += TTerm(if (anchorNext) Anchored(term) else term)
        anchorNext = false
      }
    }
    while (i < query.length) {
      val c = query.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '^') {
        require(!anchorNext, s"doubled ^ in MATCH query: $query")
        anchorNext = true; i += 1
        require(i < query.length &&
          (unitChar(query.charAt(i)) || query.charAt(i) == '"'),
          s"dangling ^ in MATCH query: $query")
      } else if (c == '(') { out += TLp; i += 1 }
      else if (c == ')') { out += TRp; i += 1 }
      else if (c == '{') {
        // `{col1 col2}:` — FTS5 multi-column filter
        val end = query.indexOf('}', i + 1)
        require(end >= 0 && end + 1 < query.length &&
          query.charAt(end + 1) == ':',
          s"expected {col ...}: in MATCH query: $query")
        val names = query.substring(i + 1, end).trim
          .split("\\s+").filter(_.nonEmpty).toSeq
        require(names.nonEmpty && names.forall(_.matches("\\w+")),
          s"bad column list in MATCH query: $query")
        out += TCol(names)
        i = end + 2
      } else if (c == '"') {
        val end = query.indexOf('"', i + 1)
        require(end >= 0, s"unterminated quote in MATCH query: $query")
        val content = query.substring(i + 1, end)
        i = end + 1
        var pfx = content.trim.endsWith("*")
        if (i < query.length && query.charAt(i) == '*') { pfx = true; i += 1 }
        emitPhrase(tokenize(content), pfx)
      } else if (query.startsWith("NEAR(", i)) {
        val close = query.indexOf(')', i + 5)
        require(close >= 0, s"unterminated NEAR( in MATCH query: $query")
        require(!anchorNext, s"^ is not supported on NEAR(): $query")
        out += TTerm(parseNear(query.substring(i + 5, close)))
        i = close + 1
      } else {
        val start = i
        while (i < query.length && unitChar(query.charAt(i)) &&
          query.charAt(i) != ':' && query.charAt(i) != '^') i += 1
        // `name:` at a token start is an FTS5 column filter; the
        // filtered operand (word, "phrase", prefix*, ^anchored,
        // NEAR(...)) lexes on the next loop turn
        if (i < query.length && query.charAt(i) == ':' && i > start &&
            query.substring(start, i).matches("\\w+")) {
          out += TCol(Seq(query.substring(start, i)))
          i += 1
        } else {
          while (i < query.length && unitChar(query.charAt(i))) i += 1
          query.substring(start, i) match {
            case "OR"  => out += TOr
            case "AND" => out += TAnd
            case "NOT" => out += TNot
            case unit  =>
              val pfx = unit.endsWith("*")
              emitPhrase(tokenize(if (pfx) unit.dropRight(1) else unit), pfx)
          }
        }
      }
    }
    require(!anchorNext, s"dangling ^ in MATCH query: $query")
    out.toSeq
  }

  /** `p1 p2 ... pk, n` → Near(phrases, n); n defaults to FTS5's 10.
    * Operands are phrases: a quoted span is ONE multi-token phrase,
    * bare words are single-token phrases each (fts5parse.y's NEAR
    * argument list). Prefix tokens stay unsupported inside NEAR
    * (documented restriction).
    */
  private def parseNear(inner: String): Term = {
    val parts = inner.split(",", 2)
    val n = if (parts.length == 2) {
      val g = parts(1).trim
      if (!g.matches("\\d+"))
        throw new IllegalArgumentException(s"NEAR distance out of range: $g")
      g.toInt
    } else 10
    require(n >= 0 && n < Int.MaxValue - 1, s"NEAR distance out of range: $n")
    if (parts(0).contains("*") || parts(0).contains("^"))
      throw new IllegalArgumentException(
        s"NEAR operands must be plain phrases (no * or ^): ${parts(0)}")
    // alternate unquoted/quoted segments; quoted = one phrase
    val segs = parts(0).split("\"", -1)
    require(segs.length % 2 == 1, s"unterminated quote in NEAR: ${parts(0)}")
    val phrases = segs.zipWithIndex.flatMap { case (seg, i) =>
      val toks = tokenize(seg)
      if (i % 2 == 1) { // quoted span
        if (toks.isEmpty) Seq.empty else Seq(toks)
      } else toks.map(Seq(_))
    }.toSeq
    phrases match {
      case Seq()                  =>
        throw new IllegalArgumentException(s"empty NEAR(): ${parts(0)}")
      case Seq(p) if p.size == 1  => Plain(p.head) // degenerate single term
      case Seq(p)                 => Phrase(p)     // degenerate single phrase
      case ps                     => Near(ps, n)
    }
  }

  /** Parse a MATCH query to its boolean tree (None = no terms at all).
    * Grammar at FTS5 precedence (fts5parse.y: OR lowest, then AND,
    * NOT tightest):
    *
    * {{{
    * or   := and (OR and)*
    * and  := not ((AND)? not)*        // adjacency = implicit AND
    * not  := prim (NOT prim)*         // left-assoc: a NOT b NOT c
    * prim := '(' or ')' | term
    * }}}
    *
    * AND kids are dedup'd (repeating a term doesn't change the match
    * set). Column filters (`col:term`, `col:"a phrase"`, `col:pre*`,
    * `col:NEAR(a b)`) parse as ColFiltered leaves and require the
    * multi-column index layout at evaluation time.
    */
  private[store] def parseQuery(query: String): Option[Node] = {
    val toks = lex(query)
    if (toks.isEmpty) return None
    var pos = 0
    def peek: Option[Tok] = if (pos < toks.length) Some(toks(pos)) else None
    def orExpr(): Node = {
      var kids = List(andExpr())
      while (peek.contains(TOr)) { pos += 1; kids ::= andExpr() }
      kids match {
        case single :: Nil => single
        case many          => OrNode(many.reverse.distinct)
      }
    }
    def andExpr(): Node = {
      var kids = List(notExpr())
      var more = true
      while (more) peek match {
        case Some(TAnd)                              => pos += 1; kids ::= notExpr()
        case Some(TTerm(_)) | Some(TCol(_)) | Some(TLp) => kids ::= notExpr()
        case _                                       => more = false
      }
      kids match {
        case single :: Nil => single
        case many          => AndNode(many.reverse.distinct)
      }
    }
    def notExpr(): Node = {
      var left = primary()
      while (peek.contains(TNot)) { pos += 1; left = NotNode(left, primary()) }
      left
    }
    def primary(): Node = peek match {
      case Some(TTerm(t)) => pos += 1; TermNode(t)
      case Some(TCol(names)) =>
        pos += 1
        peek match {
          case Some(TTerm(t)) => pos += 1; TermNode(ColFiltered(names, t))
          case other =>
            throw new IllegalArgumentException(
              s"MATCH syntax error (term expected after ${names.mkString(" ")}:, " +
                s"got $other): $query")
        }
      case Some(TLp) =>
        pos += 1
        val e = orExpr()
        require(peek.contains(TRp), s"expected ) in MATCH query: $query")
        pos += 1
        e
      case other =>
        throw new IllegalArgumentException(
          s"MATCH syntax error (operand expected, got $other): $query")
    }
    val root = orExpr()
    require(pos == toks.length, s"MATCH syntax error (trailing tokens): $query")
    Some(root)
  }

  /** Terms that contribute to a doc's relevance score: everything
    * except the EXCLUDED side of a NOT (those terms can't occur in a
    * matched doc, and FTS5's bm25 scores only the positive phrases).
    */
  private def positiveTerms(node: Node): Seq[Term] = node match {
    case TermNode(t)     => Seq(t)
    case AndNode(kids)   => kids.flatMap(positiveTerms)
    case OrNode(kids)    => kids.flatMap(positiveTerms)
    case NotNode(incl, _) => positiveTerms(incl)
  }

  /** The flat term list of a pure AND-of-terms tree (no OR/NOT/nesting)
    * — the common MATCH shape, kept on the one-shuffle fast path.
    */
  private def pureAndTerms(node: Node): Option[Seq[Term]] = node match {
    case TermNode(t) => Some(Seq(t))
    case AndNode(kids) =>
      val ts = kids.collect { case TermNode(t) => t }
      if (ts.size == kids.size) Some(ts) else None
    case _ => None
  }

  /** pks whose token stream contains `ws` consecutively: equi-join the
    * per-word postings (≤1 row per pk each — (pk, token) is unique),
    * then verify positions by shift-and-intersect: positions where the
    * phrase prefix ending at word i matches = (prev matches + 1) ∩
    * positions(word i). All word scans are token-pruned. With
    * `lastPrefix` (FTS5's `"ab cd*"` prefix phrase) the LAST word
    * matches any token carrying the prefix — its position list is the
    * merged poslists of every such token (one extra groupBy, still
    * token-pruned by the startsWith range predicate).
    */
  /** pks where the inner term occurs at position 0 of its column —
    * FTS5's `^` initial-token anchor. Position lists are sorted, so
    * "anchored single token" is a first-element check on the pruned
    * postings; an anchored phrase requires a phrase INSTANCE starting
    * at 0 (its last word's valid position equals len−1).
    */
  private def anchoredPks(idx: DataFrame, t: Term, multi: Boolean): DataFrame = t match {
    case Plain(w) =>
      val pks = idx.filter(col("token") === w &&
        element_at(col("positions"), 1) === 0).select(col("pk"))
      if (multi) pks.distinct() else pks
    case PrefixTerm(p) =>
      idx.filter(col("token").startsWith(p) &&
        element_at(col("positions"), 1) === 0).select(col("pk")).distinct()
    case Phrase(ws, pfx) => phrasePks(idx, ws, pfx, multi, anchored = true)
    case other =>
      throw new IllegalArgumentException(s"^ is not supported on: $other")
  }

  private def phrasePks(
      idx: DataFrame, ws: Seq[String], lastPrefix: Boolean = false,
      multi: Boolean = false, anchored: Boolean = false): DataFrame = {
    // on the multi-column layout a phrase must stay inside ONE column
    // (each column is its own position space — FTS5), so the per-word
    // joins key on (pk, fcol) and the final pk set dedups
    val keys = if (multi) Seq("pk", "fcol") else Seq("pk")
    val keyCols = keys.map(col)
    val last = ws.size - 1
    val parts = ws.zipWithIndex.map {
      case (w, i) if i == last && lastPrefix =>
        idx.filter(col("token").startsWith(w))
          .groupBy(keyCols: _*)
          .agg(sort_array(flatten(collect_list(col("positions")))).as(s"__p$i"))
      case (w, i) =>
        idx.filter(col("token") === w)
          .select(keyCols :+ col("positions").as(s"__p$i"): _*)
    }
    val joined = parts.reduce((a, b) => a.join(b, keys))
    val ends = (1 until ws.size).foldLeft(col("__p0")) { (acc, i) =>
      array_intersect(transform(acc, x => x + 1), col(s"__p$i"))
    }
    // an instance ending at e started at e − (len − 1); anchored
    // phrases need an instance starting at 0
    val cond =
      if (anchored) exists(ends, e => e === lit(ws.size - 1))
      else size(ends) > 0
    val out = joined.filter(cond).select(col("pk"))
    if (multi) out.distinct() else out
  }

  /** pks where all NEAR phrases cluster inside a window of ≤ n + Σ
    * phrase-lengths tokens (FTS5's rule: for some choice of one
    * instance per phrase, lastTokenOf(rightmost) − firstTokenOf(
    * leftmost) + 1 ≤ n + Σ Lᵢ; for the classic two-single-token form
    * this is |posA − posB| ≤ n + 1). Identical phrases must use
    * DISTINCT instances (`NEAR(echo echo, 3)` needs two echoes).
    *
    * Shape: one token-pruned ≤1-row-per-key frame per phrase (a
    * multi-token phrase pre-filters its instance STARTS with the same
    * shift-intersect as phrasePks), k−1 equi-joins on the key, then a
    * k-deep nested EXISTS over the (short, per-doc) instance lists —
    * work is Π|instances| per doc, bounded by tf, never corpus-sized.
    */
  private def nearPks(
      idx: DataFrame, phrases: Seq[Seq[String]], n: Int,
      multi: Boolean = false): DataFrame = {
    require(phrases.size >= 2, "NEAR needs at least two phrases")
    val keys = if (multi) Seq("pk", "fcol") else Seq("pk")
    val keyCols = keys.map(col)
    // per-phrase instance START lists, one row per key
    val parts = phrases.zipWithIndex.map { case (ws, i) =>
      val wordParts = ws.zipWithIndex.map { case (w, j) =>
        idx.filter(col("token") === w)
          .select(keyCols :+ col("positions").as(s"__q$j"): _*)
      }
      val joined = wordParts.reduce((a, b) => a.join(b, keys))
      val starts =
        if (ws.size == 1) col("__q0")
        else filter(col("__q0"), x =>
          (1 until ws.size).map(j =>
            exists(col(s"__q$j"), y => y === x + lit(j)))
            .reduce(_ && _))
      joined.select(keyCols :+ starts.as(s"__p$i"): _*)
        .filter(size(col(s"__p$i")) > 0)
    }
    val joined = parts.reduce((a, b) => a.join(b, keys))
    val bound = lit(n + phrases.map(_.size).sum)
    def nest(i: Int, chosen: Seq[Column]): Column =
      if (i == phrases.size) {
        val ends = chosen.zip(phrases).map { case (s, ws) => s + lit(ws.size - 1) }
        val window = greatest(ends: _*) - least(chosen: _*) + 1
        val distinctInst = (for {
          a <- phrases.indices; b <- phrases.indices
          if a < b && phrases(a) == phrases(b)
        } yield chosen(a) =!= chosen(b))
          .foldLeft(window <= bound)(_ && _)
        distinctInst
      } else exists(col(s"__p$i"), x => nest(i + 1, chosen :+ x))
    val out = joined.filter(nest(0, Nil)).select(col("pk"))
    if (multi) out.distinct() else out
  }

  /** Distinct pk set of one match term, token-pruned. */
  private def termPks(idx: DataFrame, t: Term, multi: Boolean): DataFrame = t match {
    case Plain(w) =>
      // (pk, token) is unique on the single-column layout; on the
      // multi-column one a token can post under several columns
      val pks = idx.filter(col("token") === w).select(col("pk"))
      if (multi) pks.distinct() else pks
    case PrefixTerm(p) =>
      // startsWith pushes to the scan as a StringStartsWith filter;
      // distinct because several tokens of one doc can share a prefix
      idx.filter(col("token").startsWith(p)).select(col("pk")).distinct()
    case Phrase(ws, pfx) => phrasePks(idx, ws, pfx, multi)
    case Near(ps, n)     => nearPks(idx, ps, n, multi)
    case Anchored(inner) => anchoredPks(idx, inner, multi)
    case ColFiltered(cs, inner) =>
      // restrict to the named column(s) FIRST; a single-column slice
      // regains (pk, token) uniqueness, so the inner term evaluates
      // with multi = false (phrase joins key on pk alone again); a
      // multi-column list keeps per-column position spaces
      require(multi,
        s"column filter '${cs.mkString(" ")}:' requires a multi-column index " +
          "(upsertWithIndexCols)")
      termPks(idx.filter(col("fcol").isin(cs: _*)), inner,
        multi = cs.size > 1)
  }

  /** Distinct pk set of a boolean MATCH tree. AND of plain terms keeps
    * the one-shuffle groupBy-count intersection; every other AND kid
    * adds one pk-set semi-join. OR collapses its plain/prefix kids
    * into ONE pruned scan + distinct (a single isin/startsWith
    * disjunction), unions the rest. NOT is a left-anti join — the
    * excluded side never expands beyond its own pk set.
    */
  private def evalPks(idx: DataFrame, node: Node, multi: Boolean): DataFrame = node match {
    case TermNode(t) => termPks(idx, t, multi)

    case AndNode(kids) =>
      val plains = kids.collect { case TermNode(Plain(w)) => w }.distinct
      val others = kids.filterNot {
        case TermNode(Plain(_)) => true
        case _                  => false
      }
      val base: DataFrame =
        if (plains.nonEmpty)
          // countDistinct(token) collapses multi-column duplicates, so
          // this intersection is layout-independent
          idx.filter(col("token").isin(plains: _*))
            .groupBy(col("pk"))
            .agg(countDistinct(col("token")).as("n_terms"))
            .filter(col("n_terms") === plains.size)
            .select(col("pk"))
        else evalPks(idx, others.head, multi)
      val rest = if (plains.nonEmpty) others else others.tail
      rest.foldLeft(base)((acc, k) =>
        acc.join(evalPks(idx, k, multi), Seq("pk"), "left_semi"))

    case OrNode(kids) =>
      val scanConds = kids.collect {
        case TermNode(Plain(w))      => col("token") === w
        case TermNode(PrefixTerm(p)) => col("token").startsWith(p)
      }
      val others = kids.filterNot {
        case TermNode(Plain(_) | PrefixTerm(_)) => true
        case _                                  => false
      }
      val scanned =
        if (scanConds.nonEmpty)
          Seq(idx.filter(scanConds.reduce(_ || _)).select(col("pk")))
        else Seq.empty
      (scanned ++ others.map(k => evalPks(idx, k, multi)))
        .reduce(_ unionByName _).distinct()

    case NotNode(incl, excl) =>
      evalPks(idx, incl, multi).join(evalPks(idx, excl, multi), Seq("pk"), "left_anti")
  }

  /** FTS5 `MATCH`: pks satisfying the boolean query — implicit AND
    * between adjacent units, `OR`, binary `NOT`, parentheses, at
    * FTS5's precedence (NOT > AND > OR). Plain-term ANDs run as one
    * groupBy-count intersection over the token-pruned postings (single
    * shuffle); each phrase/prefix/NEAR term adds one pk-set semi-join;
    * OR unions pk sets (plain/prefix branches in one scan); NOT is a
    * left-anti join.
    */
  def search(spark: SparkSession, store: TableStore, table: String, query: String): DataFrame = {
    // stats-only index (DDL-time build, table still empty): nothing
    // matches, which is an empty result — not an error. The guard is
    // deliberately conditioned on the BASE being empty too: postings
    // missing while the base HAS rows is a broken index (a write path
    // that bypassed maintenance) and must stay a loud read failure,
    // never a silent zero-matches. Known conservative edge: a corpus
    // whose EVERY doc was re-upserted with token-less text reaches the
    // same (no postings, live base) state legitimately and also reads
    // loud — indistinguishable from the bypass without scanning the
    // base, and loud-on-ambiguity is the engine's norm.
    if (store.readIfExists(indexName(table)).isEmpty &&
        store.exists(statsName(table)) &&
        store.readIfExists(table).isEmpty)
      return emptyPkFrame(store, table)
    parseQuery(query) match {
      case None => store.read(indexName(table)).select(col("pk")).limit(0)
      case Some(node) =>
        val idx = prunedIndex(store, table, node)
        val multi = idx.columns.contains("fcol")
        validateColFilters(store, table, node, multi)
        evalPks(idx, node, multi).select(col("pk"))
    }
  }

  /** Encoded `[lo, hi]` token ranges the query's terms probe — one
    * point range per exact token ([[TableStore.stringStatKey]]), one
    * closed range per prefix term. Every Term variant contributes (a
    * NOT branch's postings are read too — the anti-join needs them),
    * so the union of ranges covers every token `evalPks` can touch.
    */
  private def termProbes(node: Node): Seq[(Long, Long)] = {
    def point(t: String) =
      (TableStore.stringStatKey(t), TableStore.stringStatKey(t))
    def prefix(p: String) =
      (TableStore.stringStatKey(p), TableStore.stringStatKeyUpper(p))
    def ofTerm(t: Term): Seq[(Long, Long)] = t match {
      case Plain(w)       => Seq(point(w))
      case PrefixTerm(p)  => Seq(prefix(p))
      case Phrase(toks, lastPrefix) =>
        if (lastPrefix) toks.init.map(point) :+ prefix(toks.last)
        else toks.map(point)
      case Near(ps, _)          => ps.flatten.map(point)
      case ColFiltered(_, inner) => ofTerm(inner)
      case Anchored(inner)       => ofTerm(inner)
    }
    def walk(n: Node): Seq[(Long, Long)] = n match {
      case TermNode(t)   => ofTerm(t)
      case AndNode(ks)   => ks.flatMap(walk)
      case OrNode(ks)    => ks.flatMap(walk)
      case NotNode(a, b) => walk(a) ++ walk(b)
    }
    walk(node).distinct
  }

  /** The postings subset a MATCH query needs: on a manifest-backed
    * index, only the FILES whose encoded token envelope intersects
    * some query-term range — file-level skipping on top of the
    * row-group pruning the per-file token sort already provides, so
    * a selective term on a 4096-bucket postings layout opens a
    * handful of footers instead of all 4096 (the store's
    * `_graft_stats` machinery, same rows as z-order pruning; string
    * envelopes ride [[TableStore.stringStatKey]]'s order-preserving
    * prefix encoding — conservative, never a false skip). Indexes
    * without a manifest (or whose manifest predates string stats)
    * read everything, exactly as before.
    */
  private def prunedIndex(
      store: TableStore, table: String, node: Node): DataFrame = {
    val name = indexName(table)
    if (!store.hasFileStats(name)) return store.read(name)
    val probes = termProbes(node)
    if (probes.isEmpty) return store.read(name)
    val env = store.fileEnvelopes(name, Seq("token"))
    // SEARCH-path staleness guard for an UN-governed index (a governed
    // one gets this from the store's manifest guard, which re-syncs on
    // presence mismatch): the manifest refresh is a separate step
    // after the postings overwrite, so a crash between them leaves
    // envelopes describing the PREVIOUS batch's files — pruning on
    // them would silently skip live postings (false negatives) or
    // open files the overwrite removed. When the epoch marker
    // disagrees with the stats row (the torn-write signal the upsert
    // path already honors) or the write-ahead pending flag shows a
    // mutation ran without its refresh, prune NOTHING: slower once,
    // never wrong; the next refresh heals it. Both probes are O(1) —
    // no directory listing re-enters the prune path.
    if (!store.governed.contains(name) && (!store.statsManifestFresh(name)
        || !epochsAgree(store, table)))
      return store.read(name)
    val keep = env.collect {
      case (f, e) if probes.exists { case (lo, hi) =>
        e.get("token").forall { case (mn, mx) => mx >= lo && mn <= hi }
      } => f
    }
    if (keep.size == env.size) store.read(name)
    else store.readFileSubset(name, keep)
  }

  /** Column filters referenced by the query tree. */
  private def colFilterNames(node: Node): Seq[String] = node match {
    case TermNode(ColFiltered(cs, _)) => cs
    case TermNode(_)                 => Nil
    case AndNode(ks)                 => ks.flatMap(colFilterNames)
    case OrNode(ks)                  => ks.flatMap(colFilterNames)
    case NotNode(a, b)               => colFilterNames(a) ++ colFilterNames(b)
  }

  /** FTS5 errors on a column filter naming an unindexed column; so do
    * we, against the column list recorded in the stats row (a legacy
    * multi-column store without it skips the name check).
    */
  private def validateColFilters(
      store: TableStore, table: String, node: Node, multi: Boolean): Unit = {
    val names = colFilterNames(node).distinct
    if (names.isEmpty) return
    require(multi,
      s"column filters (${names.mkString(", ")}) require a multi-column index " +
        "(upsertWithIndexCols)")
    statsCols(store, table).foreach { known =>
      names.foreach(n => require(known.contains(n),
        s"no such fts column: $n (indexed: ${known.mkString(", ")})"))
    }
  }

  /** FTS5 `MATCH … ORDER BY rank`: matched pks scored with BM25
    * (k1=1.2, b=0.75 — FTS5's constants, fts5_aux.c), best first, over
    * the same MATCH subset as `search`: a prefix term matches (and
    * scores) every token carrying the prefix; a phrase term is
    * enforced POSITIONALLY (the shift-intersect semi-join — a doc with
    * the words scattered does not rank) and scored bag-of-words over
    * its constituent tokens (FTS5 scores phrase hits as units; the
    * per-token sum is a documented, deterministic approximation). A
    * posting satisfying several query terms is scored once.
    *
    * Corpus stats (N, avgdl) come from the persisted 1-row
    * `<table>_fts_stats` table (built at index time — no full-postings
    * aggregation in the query path; a legacy store without the stats
    * table falls back to computing them once from the index). Per-term
    * document frequencies ride a broadcast aggregate of the matched
    * postings, so scoring adds no extra shuffle over the unranked
    * search: one groupBy(pk) on the matched postings, everything
    * upstream narrow.
    */
  def searchRanked(
      spark: SparkSession,
      store: TableStore,
      table: String,
      query: String,
      k1: Double = 1.2,
      b: Double = 0.75,
      colWeights: Map[String, Double] = Map.empty): DataFrame = {
    // stats-only index (DDL-time build, table still empty): empty
    // ranked result — same contract and same base-empty condition as
    // [[search]] (a populated base with missing postings stays loud)
    if (store.readIfExists(indexName(table)).isEmpty &&
        store.exists(statsName(table)) &&
        store.readIfExists(table).isEmpty)
      return emptyPkFrame(store, table)
        .withColumn("score", lit(0.0))
    val node = parseQuery(query) match {
      case Some(n) => n
      case None    => return store.read(indexName(table))
        .select(col("pk"), lit(0.0).as("score")).limit(0)
    }
    val idx = prunedIndex(store, table, node)
    val multi = idx.columns.contains("fcol")
    validateColFilters(store, table, node, multi)
    // FTS5 `bm25(fts, w1, w2, …)` per-column weights: each posting's
    // contribution scales by its column's weight (default 1.0;
    // weighting needs the fcol layout — FTS5 likewise only weights
    // multi-column tables meaningfully)
    require(colWeights.isEmpty || multi,
      "column weights require a multi-column index (upsertWithIndexCols)")
    statsCols(store, table).foreach { known =>
      colWeights.keys.foreach(c => require(known.contains(c),
        s"no such fts column: $c (indexed: ${known.mkString(", ")})"))
    }
    val colWeight: Column =
      if (colWeights.isEmpty) lit(1.0)
      else coalesce(element_at(
        map(colWeights.toSeq.flatMap { case (c, w) =>
          Seq(lit(c), lit(w)) }: _*), col("fcol")), lit(1.0))
    val stats: DataFrame = store.readIfExists(statsName(table)) match {
      case Some(st) =>
        st.select(col("n_docs").cast("double").as("n_docs"), col("avgdl"))
      case None => // legacy store indexed before stats persistence —
        // computed from the FULL index, never the term-pruned subset
        // (N and avgdl are corpus constants)
        store.read(indexName(table)).select(col("pk"), col("dl")).distinct()
          .agg(count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
    }
    def termCond(t: Term): Column = t match {
      case Plain(w)      => col("token") === w
      case PrefixTerm(p) => col("token").startsWith(p)
      case Phrase(ws, pfx) =>
        val base = if (pfx) ws.init else ws
        val pre = if (pfx) Seq(col("token").startsWith(ws.last)) else Seq.empty
        (pre ++ (if (base.nonEmpty) Seq(col("token").isin(base.distinct: _*)) else Seq.empty))
          .reduce(_ || _)
      case Near(ps, _)           => col("token").isin(ps.flatten.distinct: _*)
      case Anchored(inner)       => termCond(inner)
      case ColFiltered(cs, inner) =>
        col("fcol").isin(cs: _*) && termCond(inner)
    }
    // positional (phrase/NEAR) enforcement of one term, column-scoped
    // when the term carries a col: filter
    def positionalPks(t: Term): Option[DataFrame] = t match {
      case Phrase(ws, pfx) => Some(phrasePks(idx, ws, pfx, multi))
      case Near(ps, n)     => Some(nearPks(idx, ps, n, multi))
      case Anchored(inner) => Some(anchoredPks(idx, inner, multi))
      case ColFiltered(cs, inner) =>
        val scoped = idx.filter(col("fcol").isin(cs: _*))
        val m = cs.size > 1
        inner match {
          case Phrase(ws, pfx) => Some(phrasePks(scoped, ws, pfx, m))
          case Near(ps, n)     => Some(nearPks(scoped, ps, n, m))
          case Anchored(in2)   => Some(anchoredPks(scoped, in2, m))
          case _               => None
        }
      case _ => None
    }
    def bm25(matched: DataFrame, docFreq: DataFrame): DataFrame = matched
      .join(broadcast(docFreq), Seq("token"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("s",
        colWeight * col("idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))

    pureAndTerms(node) match {
      case Some(terms) =>
        // pure-AND fast path: one pruned scan scores AND enforces —
        // a posting tags the term ids it satisfies so the AND check
        // counts TERMS, not tokens (a doc with two tokens under one
        // prefix satisfies one term)
        val conds = terms.map(termCond)
        val termIds = filter(
          array(conds.zipWithIndex.map { case (c, i) => when(c, lit(i)) }: _*),
          x => x.isNotNull)
        val matched = idx.filter(conds.reduce(_ || _))
          .withColumn("__tids", termIds)
        val docFreq = matched.groupBy(col("token"))
          .agg(countDistinct(col("pk")).cast("double").as("df"))
        val scored = bm25(matched, docFreq)
          .groupBy(col("pk"))
          .agg(size(array_distinct(flatten(collect_list(col("__tids"))))).as("n_terms"),
            sum(col("s")).as("score"))
          .filter(col("n_terms") === terms.size)
        terms.flatMap(positionalPks)
          .foldLeft(scored)((acc, pks) => acc.join(pks, Seq("pk")))
          .select(col("pk"), col("score"))
          .orderBy(col("score").desc, col("pk"))

      case None =>
        // boolean query: the match set comes from the tree evaluation;
        // each matched doc is scored over the POSITIVE terms it
        // contains (FTS5's bm25 scores the query's phrases — terms
        // under a NOT's excluded side can't occur in a matched doc).
        // df stays corpus-wide (computed before the match-set
        // restriction) so a term scores identically here and on the
        // fast path.
        val matchedPks = evalPks(idx, node, multi)
        val terms = positiveTerms(node).distinct
        val conds = terms.map(termCond)
        val cand = idx.filter(conds.reduce(_ || _))
        val docFreq = cand.groupBy(col("token"))
          .agg(countDistinct(col("pk")).cast("double").as("df"))
        bm25(cand.join(matchedPks, Seq("pk"), "left_semi"), docFreq)
          .groupBy(col("pk"))
          .agg(sum(col("s")).as("score"))
          .select(col("pk"), col("score"))
          .orderBy(col("score").desc, col("pk"))
    }
  }

  /** The query's positive leaf terms as highlight phrase strings
    * (space-joined, trailing `*` = prefix word), restricted to terms
    * that apply to `target` (unscoped terms plus `target:`-scoped
    * ones). NOT-excluded subtrees contribute nothing — their phrases
    * cannot occur in a matched doc.
    */
  private def highlightTerms(node: Node, target: String): Seq[String] = {
    def ofTerm(t: Term): Seq[String] = t match {
      case Plain(w)        => Seq(w)
      case PrefixTerm(p)   => Seq(p + "*")
      case Phrase(ws, pfx) =>
        Seq(if (pfx) (ws.init :+ (ws.last + "*")).mkString(" ")
            else ws.mkString(" "))
      case Near(ps, _)     => ps.map(_.mkString(" "))
      case Anchored(inner)       => ofTerm(inner)
      case ColFiltered(cs, inner) =>
        if (cs.contains(target)) ofTerm(inner) else Nil
    }
    (positiveTerms(node).flatMap(ofTerm)).distinct
  }

  private def renderTarget(
      store: TableStore, table: String, column: Option[String]): String =
    column.orElse(statsCols(store, table) match {
      case Some(Seq(one)) => Some(one)
      case _              => None
    }).getOrElse(throw new IllegalArgumentException(
      "pass the column to render (multi-column or legacy index)"))

  private def marked(
      spark: SparkSession, store: TableStore, table: String, query: String,
      pkCol: String, column: Option[String],
      mark: (Column, Seq[String]) => Column): DataFrame = {
    val target = renderTarget(store, table, column)
    val base = store.read(table)
    require(base.columns.contains(target), s"no such column: $target")
    val terms = parseQuery(query).map(highlightTerms(_, target)).getOrElse(Nil)
    base.join(search(spark, store, table, query)
        .withColumnRenamed("pk", "__hit_pk"),
        base(pkCol) === col("__hit_pk"), "left_semi")
      .select(col(pkCol).as("pk"), mark(col(target), terms))
  }

  /** FTS5 `highlight(fts, col, open, close)`: the matched rows with
    * every query-phrase instance in `column` (default: the single
    * indexed column) wrapped in open/close — fts5_aux.c's highlight,
    * under [[graft.functions.FtsMarkCore]]'s documented semantics.
    * Returns (pk, highlight).
    */
  def searchHighlighted(
      spark: SparkSession, store: TableStore, table: String, query: String,
      pkCol: String, column: Option[String] = None,
      open: String = "[", close: String = "]"): DataFrame =
    marked(spark, store, table, query, pkCol, column, (c, ts) =>
      graft.functions.FtsMark.ftsHighlight(spark, c, ts, open, close)
        .as("highlight"))

  /** FTS5 `snippet(fts, col, open, close, ellipsis, ntok)`: like
    * [[searchHighlighted]] but trimmed to the best ≤ nTok-token
    * window. Returns (pk, snippet).
    */
  def searchSnippet(
      spark: SparkSession, store: TableStore, table: String, query: String,
      pkCol: String, column: Option[String] = None,
      open: String = "[", close: String = "]",
      ellipsis: String = "…", nTok: Int = 10): DataFrame =
    marked(spark, store, table, query, pkCol, column, (c, ts) =>
      graft.functions.FtsMark.ftsSnippet(spark, c, ts, open, close,
        ellipsis, nTok).as("snippet"))
}
