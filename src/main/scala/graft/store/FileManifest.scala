package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions.{col, concat, lit}

/** Persisted file-stats manifest — the Delta/Iceberg data-skipping
  * analog (per-file stats kept next to the data, Armbrust et al.,
  * VLDB 2020). Walking every parquet footer on the driver per prune
  * is fine at sf0.1 (dozens of files) and fatal at 100 TB (10^5-10^6
  * files × an open+read each = minutes of single-threaded I/O per
  * query). Instead, per-file (col, min, max) rows are PERSISTED inside
  * the table directory, built by a DISTRIBUTED footer read and
  * maintained AT WRITE TIME: every whole-table rewrite rebuilds them,
  * every commit and in-place partition rewrite refreshes them at
  * O(changed files), and compactZorder creates them — the reference
  * analog is the FTS index discipline (maintained at write,
  * utils.py:330-352), never rebuilt at read.
  *
  * On disk, both underscore-prefixed (invisible to data scans, same
  * convention as `_graft_layout`):
  *  - `_graft_stats/`: parquet rows (file, col, mn, mx). `file` is
  *    relative to the table dir, so the manifest stays valid across a
  *    table (or store) move. One PRESENCE row per file (col = "", mn =
  *    the footer row count, mx = 0) lets readers tell "file has no
  *    stats" from "file unknown to the manifest"; one row per column
  *    with stats follows. The format marker row (file = "", col =
  *    `__rows_v2`) says the presence rows carry row counts — legacy
  *    manifests carried zeros there.
  *  - `_graft_stats_pending`: the write-ahead flag of an un-governed
  *    in-place mutation ([[markPending]]).
  *
  * Readers trust the manifest only while it describes the live file
  * set: a governed reader compares presence rows against the commit's
  * live set and refreshes on mismatch ([[guardedRows]]); an
  * un-governed index probe checks the pending flag. Stale is slower,
  * never wrong.
  */
object FileManifest {

  /** A file's [min, max] per column, for the columns it has stats for. */
  type Envelope = Map[String, (Long, Long)]

  private val RowsMarker = "__rows_v2"

  private def statsPath(store: TableStore, name: String) =
    new Path(store.path(name), "_graft_stats")

  private def pendingPath(store: TableStore, name: String) =
    new Path(store.path(name), "_graft_stats_pending")

  private def qualifiedDir(store: TableStore, name: String): String =
    store.fs.makeQualified(new Path(store.path(name))).toString

  /** Whether `name` maintains a persisted file-stats manifest. */
  def exists(store: TableStore, name: String): Boolean =
    store.fs.exists(statsPath(store, name))

  // -------------------------------------------------------------------
  // Format and build

  /** Top-level integral and string columns — the types whose footer
    * min/max the Long envelope model covers (integrals numerically;
    * strings via [[stringStatKey]]'s order-preserving 8-byte-prefix
    * encoding, the seam that lets an FTS term probe prune postings
    * FILES through the same manifest).
    */
  private def statCols(store: TableStore, name: String): Seq[String] = {
    import org.apache.spark.sql.types._
    store.read(name).schema.fields.collect {
      case f if Seq[DataType](ByteType, ShortType, IntegerType, LongType,
        StringType).contains(f.dataType) => f.name
    }.toSeq
  }

  /** Footer min/max rows for the absolute paths `files`, read
    * DISTRIBUTED — one Spark task per slice of the file list, so a
    * 10^6-file manifest build is a cluster job, not a driver loop.
    * Emits one presence row plus one row per column with stats, file
    * paths relativized to the table dir.
    */
  private def footerRows(
      store: TableStore, name: String, files: Seq[String]): DataFrame = {
    val spark = store.spark
    import spark.implicits._
    val cols = statCols(store, name)
    val bc = spark.sparkContext.broadcast(new org.apache.spark.SerializableWritable(
      spark.sparkContext.hadoopConfiguration))
    val par = math.max(1,
      math.min(files.size, spark.sparkContext.defaultParallelism))
    val prefix = qualifiedDir(store, name) + "/"
    spark.createDataset(files).repartition(par)
      .mapPartitions { it =>
        val conf = bc.value.value
        it.flatMap { f =>
          val rel = f.stripPrefix(prefix)
          val (nRows, env) = footerEnvelope(f, conf, cols)
          (rel, "", nRows, 0L) +: env.map { case (c, mn, mx) => (rel, c, mn, mx) }
        }
      }.toDF("file", "col", "mn", "mx")
  }

  /** No rows — the manifest of a table whose live set is empty
    * (footerRows over no files can't run: statCols needs a readable
    * schema).
    */
  private def emptyRows(store: TableStore): DataFrame = {
    val spark = store.spark
    import spark.implicits._
    Seq.empty[(String, String, Long, Long)].toDF("file", "col", "mn", "mx")
  }

  /** The persisted rows as written (relative file paths). */
  private def storedRows(store: TableStore, name: String): DataFrame =
    store.spark.read.parquet(statsPath(store, name).toString)

  /** Whether the presence rows carry row counts (the __rows_v2
    * format) — an incremental refresh must not graft counted rows onto
    * a zero-count legacy manifest.
    */
  private def hasRowCounts(store: TableStore, name: String): Boolean =
    exists(store, name) &&
      !storedRows(store, name).filter(col("col") === RowsMarker).isEmpty

  /** Replace the manifest with `rows`, stamped with the format marker,
    * then clear the pending flag. The tmp dir is written BEFORE the
    * old manifest is deleted, so an incremental update that lazily
    * reads the old manifest executes against live files.
    */
  private def writeRows(store: TableStore, name: String, rows: DataFrame): Unit = {
    val spark = store.spark
    import spark.implicits._
    val fs = store.fs
    val tmp = new Path(store.path(name), "_graft_stats.__tmp")
    val dst = statsPath(store, name)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    rows.filter(col("col") =!= RowsMarker)
      .unionByName(Seq(("", RowsMarker, 0L, 0L)).toDF("file", "col", "mn", "mx"))
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (fs.exists(dst)) fs.delete(dst, true)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"rename $tmp -> $dst failed")
    clearPending(store, name)
  }

  // -------------------------------------------------------------------
  // Write-ahead pending flag

  /** WRITE-AHEAD dirt marker for the manifest of an UN-governed,
    * in-place-maintained table (FTS/trigram/IVF postings): every
    * dynamic-partition overwrite / partition drop sets it BEFORE
    * mutating files, [[writeRows]] clears it after the refresh — so a
    * crash in the window between them leaves the flag on disk, and a
    * manifest-driven prune detects the stale envelopes with ONE
    * existence probe instead of the O(files) directory listing the
    * prune path exists to avoid. Governed tables don't need it (their
    * reads re-sync against the commit's live set).
    */
  private[store] def markPending(store: TableStore, name: String): Unit =
    if (exists(store, name)) store.writeSmall(pendingPath(store, name), "")

  private def clearPending(store: TableStore, name: String): Unit = {
    val p = pendingPath(store, name)
    if (store.fs.exists(p)) store.fs.delete(p, false)
  }

  /** False while an in-place mutation has run without its manifest
    * refresh — the search-path staleness probe (O(1)).
    */
  private[store] def fresh(store: TableStore, name: String): Boolean =
    !store.fs.exists(pendingPath(store, name))

  // -------------------------------------------------------------------
  // Refresh

  /** (Re)build the manifest for `name` from its current files — a
    * distributed footer read of every file. Call once (or via
    * `compactZorder` / the refresh-stats CLI and procedure) to opt a
    * table into footer-free pruning; every write path keeps it fresh
    * thereafter. Deferred to the commit for a table staged in an open
    * transaction.
    */
  def build(store: TableStore, name: String): Unit =
    if (!store.stagedInTx(name)) {
      val files = store.dataFiles(name)
      writeRows(store, name,
        if (files.isEmpty) emptyRows(store) else footerRows(store, name, files))
    }

  /** The manifest after an UN-governed write: a swap deleted it with
    * the old directory, so it is built afresh; after an in-place
    * partition rewrite (FTS/trigram/IVF postings) it refreshes at
    * O(changed files) against the directory's current files, where a
    * full [[build]] per batch would re-open every footer of a
    * 10^6-file index. An already-exact manifest only clears the
    * pending flag.
    */
  def refresh(store: TableStore, name: String): Unit =
    if (store.stagedInTx(name)) () // deferred to the commit
    else if (!exists(store, name)) build(store, name)
    else {
      val base = qualifiedDir(store, name) + "/"
      val live = store.dataFiles(name).map(_.stripPrefix(base))
      val stored = storedRows(store, name)
      val prior = stored.filter(col("col") === "").select("file")
        .collect().map(_.getString(0)).toSet
      if (prior == live.toSet && hasRowCounts(store, name)) clearPending(store, name)
      else refreshChanged(store, name, live, prior, stored)
    }

  /** The commit's refresh, after the pointer flip: `live` is the
    * table's new committed file list, `prior` the one before the
    * flip (both relative).
    */
  private[store] def refreshCommitted(
      store: TableStore, name: String, live: Seq[String], prior: Set[String]): Unit =
    if (exists(store, name))
      refreshChanged(store, name, live, prior, storedRows(store, name))

  /** THE O(changed files) refresh: rows of files in both `live` and
    * `prior` carry over from `stored`, only files new since `prior`
    * are footer-read, rows of files no longer live drop. An emptied
    * table gets a marker-only manifest (statCols would read() the
    * empty live set and throw — after a commit that already landed).
    * A legacy manifest (zero-count presence rows) pays one full footer
    * read instead: grafting counted rows onto it under the format
    * marker would be a silent underestimate.
    */
  private def refreshChanged(
      store: TableStore, name: String, live: Seq[String], prior: Set[String],
      stored: => DataFrame): Unit = {
    def abs(rels: Seq[String]) =
      rels.map(r => store.fs.makeQualified(new Path(store.path(name), r)).toString)
    if (live.isEmpty) writeRows(store, name, emptyRows(store))
    else if (!hasRowCounts(store, name)) writeRows(store, name, footerRows(store, name, abs(live)))
    else writeRows(store, name,
      stored.filter(col("file").isInCollection(live.toSet.intersect(prior)))
        .unionByName(footerRows(store, name, abs(live.filterNot(prior)))))
  }

  // -------------------------------------------------------------------
  // Reads

  /** The manifest as a DataFrame of (file, col, mn, mx) with ABSOLUTE
    * file paths (presence rows carry col = ""), or None for a table
    * that never opted in.
    */
  def table(store: TableStore, name: String): Option[DataFrame] =
    if (!exists(store, name)) None
    else Some(storedRows(store, name)
      .withColumn("file", concat(lit(qualifiedDir(store, name) + "/"), col("file"))))

  /** Absolute paths of the files the manifest's presence rows name. */
  private[store] def presence(store: TableStore, name: String): Set[String] =
    table(store, name).get.filter(col("col") === "").select(col("file"))
      .collect().map(_.getString(0)).toSet

  /** Presence rows (absolute) against the live file set: the live
    * files the manifest does not know, and the files it names that
    * are no longer live. Both empty iff the manifest is exact.
    */
  private[store] def drift(
      store: TableStore, name: String, presence: Set[String]): (Set[String], Set[String]) = {
    val live = store.dataFiles(name).toSet
    (live -- presence, presence -- live)
  }

  /** Manifest rows whose `col` is "" (presence) or in `cols`, read
    * through the governed-table staleness guard: a crash between a
    * commit's pointer flip and its manifest refresh — or an
    * out-of-band write — leaves the manifest describing a PREVIOUS
    * epoch's files, and a manifest-driven read would then silently
    * serve retired (pre-vacuum) files that disagree with read().
    * Presence rows must match the live set exactly; on mismatch the
    * manifest is rebuilt and read once more (slower once, never
    * wrong — the staleness Doctor's file-stats check reports). The
    * guard is skipped mid-transaction for a staged table: there the
    * manifest legitimately describes the committed epoch while the
    * pending files are not in place yet.
    *
    * None when there is no manifest, or when the reader must not
    * trust it: an UN-governed manifest whose write-ahead pending flag
    * is set describes the files before an in-place rewrite that has not
    * refreshed it yet (possibly files that rewrite removed); a PINNED
    * reader must neither trust one that describes another epoch (the
    * pin would silently leak) nor "heal" it backwards to the pinned
    * file set (corrupting it for every un-pinned reader); the same
    * holds if a rebuild somehow failed to converge.
    */
  private def guardedRows(
      store: TableStore, name: String, cols: Seq[String]): Option[Array[Row]] = {
    lazy val governed = store.isGoverned(name)
    def attempt(retried: Boolean): Option[Array[Row]] = {
      // deliberate driver-side collect: (files × (1 + |cols|)) tiny
      // rows — the same driver-resident skipping state Delta keeps
      // when it evaluates its stats log. ~10^6 files × a few query
      // columns is tens of MB; if tables ever outgrow that, the prune
      // itself becomes a distributed anti-join against the manifest,
      // not a bigger collect.
      val rows = table(store, name).get.filter(col("col").isin("" +: cols: _*)).collect()
      val present = rows.filter(_.getString(1).isEmpty).map(_.getString(0)).toSet
      val stale = governed && !store.stagedInTx(name) &&
        drift(store, name, present) != ((Set.empty, Set.empty))
      if (!stale) Some(rows)
      else if (store.pinned || retried) None
      else { build(store, name); attempt(retried = true) }
    }
    if (!exists(store, name) || (!governed && !fresh(store, name))) None
    else attempt(retried = false)
  }

  /** Per-file [min, max] envelopes of `cols`. For a table that
    * maintains a manifest the ENTIRE answer — including the file list
    * itself, from the presence rows — comes from the manifest: zero
    * footer opens AND zero driver directory listings on the prune
    * path. Tables without a manifest, and readers the guard refuses,
    * walk the live files' footers on the driver instead (slower, never
    * wrong, writes nothing). A column absent from a file's stats is
    * absent from its map.
    */
  def envelopes(
      store: TableStore, name: String, cols: Seq[String]): Seq[(String, Envelope)] =
    guardedRows(store, name, cols) match {
      case Some(rows) =>
        val env = rows.filter(_.getString(1).nonEmpty)
          .groupBy(_.getString(0))
          .map { case (f, rs) => f ->
            rs.map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap }
        rows.filter(_.getString(1).isEmpty).map(_.getString(0)).toSet.toSeq.sorted
          .map(f => (f, env.getOrElse(f, Map.empty[String, (Long, Long)])))
      case None =>
        val conf = store.spark.sparkContext.hadoopConfiguration
        store.dataFiles(name).map(f => (f,
          footerEnvelope(f, conf, cols)._2.map { case (c, mn, mx) => c -> (mn, mx) }.toMap))
    }

  /** Whether `env` may hold a `c` value in [lo, hi] — a file without
    * stats for `c` may (can't prune what can't be proven).
    */
  def overlaps(env: Envelope, c: String, lo: Long, hi: Long): Boolean =
    env.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }

  /** THE prune: the files among `env` whose envelope passes `keep`. */
  private def kept(env: Seq[(String, Envelope)], keep: Envelope => Boolean): Seq[String] =
    env.collect { case (f, e) if keep(e) => f }

  /** The files a stats-aware scan must open for a conjunction of
    * closed-range predicates `col BETWEEN lo AND hi` — every file
    * whose envelope overlaps ALL ranges. This is the READ-PATH dividend
    * of `compactZorder`: after z-ordering on (x, y), a 2-dim box
    * predicate keeps a small fraction of files, where plain
    * `compact(sortBy = x)` keeps them all (ZOrderSpec measures both).
    * The engine-level analog (parquet row-group skipping via pushed
    * filters) additionally prunes WITHIN the files kept here.
    */
  def pruneFiles(
      store: TableStore, name: String, preds: Seq[(String, Long, Long)]): Seq[String] =
    kept(envelopes(store, name, preds.map(_._1)),
      e => preds.forall { case (c, lo, hi) => overlaps(e, c, lo, hi) })

  /** Read only the files [[pruneFiles]] keeps for `preds` — result
    * equals the full scan filtered to the same ranges (pruned files
    * provably hold no matching rows). The caller still applies the
    * row-level filter; this trims the FILE list.
    */
  def readPruned(
      store: TableStore, name: String, preds: Seq[(String, Long, Long)]): DataFrame =
    readFiles(store, name, pruneFiles(store, name, preds))

  /** The rows of `name` in the files whose envelopes over `cols` pass
    * `keep` — the FTS term and trigram probes' read. Everything is
    * read when the table keeps no manifest, when nothing is pruned,
    * and when an UN-governed manifest may be torn: the refresh is a
    * separate step after an in-place postings overwrite, so a crash
    * between them leaves envelopes describing the PREVIOUS batch's
    * files, and pruning on them would silently skip live postings or
    * open files the overwrite removed. The pending flag shows that
    * window in O(1); `trusted` adds the caller's own torn-write check,
    * evaluated only then. (A governed index gets this from
    * [[guardedRows]].)
    */
  def readKept(
      store: TableStore, name: String, cols: Seq[String], trusted: => Boolean = true)(
      keep: Envelope => Boolean): DataFrame =
    if (!exists(store, name) ||
        (!store.governed.contains(name) && (!fresh(store, name) || !trusted)))
      store.read(name)
    else {
      val env = envelopes(store, name, cols)
      val files = kept(env, keep)
      if (files.size == env.size) store.read(name) else readFiles(store, name, files)
    }

  /** An explicit (pre-pruned) absolute-path file subset of `name`,
    * schema-identical to `read(name)`.
    */
  private def readFiles(store: TableStore, name: String, files: Seq[String]): DataFrame =
    if (files.isEmpty) store.read(name).limit(0)
    else
      // basePath keeps Hive partition discovery working on leaf-file
      // reads, so a partitioned table's partition columns survive and
      // both branches return the same schema as read(name)
      store.spark.read.option("basePath", store.path(name)).parquet(files: _*)

  /** Manifest-driven cardinality estimate for a pruned range scan —
    * the reference's progress-bar estimate (A3,
    * `cli.py:151-157` guesses work from count fields
    * before fetching) promoted to the query layer: the sum of the ROW
    * COUNTS of exactly the files [[pruneFiles]] keeps for `preds`,
    * read from the presence rows' footer totals — zero data I/O, zero
    * file opens on a manifest-backed table. With no predicates this is
    * the table's total row count. An UPPER BOUND on the rows a
    * filtered scan returns (kept files may hold non-matching rows) and
    * EXACT for the file-level scan (readPruned(preds).count()). None
    * when the table has no manifest with row counts (an estimate would
    * cost footer opens — callers fall back to counting or opt in via
    * [[build]]), and for a pinned reader whose epoch the manifest does
    * not describe.
    */
  def estimateRows(
      store: TableStore, name: String,
      preds: Seq[(String, Long, Long)] = Nil): Option[Long] =
    statsSummary(store, name, preds).map(_._1)

  /** One-pass form of the estimate report: (estimated rows, total
    * rows, kept files, total files) from a SINGLE presence-row collect
    * plus one prune — the `estimate` CLI / `Explain --stats` backend.
    * None under the same conditions as [[estimateRows]].
    */
  def statsSummary(
      store: TableStore, name: String,
      preds: Seq[(String, Long, Long)]): Option[(Long, Long, Int, Int)] =
    guardedRows(store, name, Seq(RowsMarker))
      .filter(_.exists(_.getString(1) == RowsMarker))
      .map { rows =>
        val presence = rows.filter(_.getString(1).isEmpty)
        val keep = pruneFiles(store, name, preds).toSet
        val kept = presence.filter(r => keep(r.getString(0)))
        (kept.map(_.getLong(2)).sum, presence.map(_.getLong(2)).sum,
          kept.length, presence.length)
      }

  // -------------------------------------------------------------------
  // Envelope encoding

  /** Order-preserving 8-byte-prefix encoding of a string into the
    * manifest's Long envelope slots: the first 8 UTF-8 bytes, read
    * big-endian as an unsigned number, remapped to signed order
    * (`^ Long.MinValue`). Monotone — `a ≤ b` (byte-lex, which UTF-8
    * makes code-point order) implies `key(a) ≤ key(b)` — so a file
    * whose true token range is `[m, M]` provably holds no token `t`
    * with `key(t)` outside `[key(m), key(M)]`, and pruning on the
    * encoded range is conservative (false keeps only, on shared
    * 8-byte prefixes — never a false skip). This is what lets STRING
    * columns ride the same (file, col, mn, mx) manifest rows as the
    * integral ones.
    */
  def stringStatKey(s: String): Long =
    prefix8(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), pad = 0x00)

  /** Upper bound of [[stringStatKey]] over every string that STARTS
    * WITH `s` — the closed prefix-range probe (`token LIKE 's%'`):
    * the 8-byte prefix padded with 0xFF instead of zeros.
    */
  def stringStatKeyUpper(s: String): Long =
    prefix8(s.getBytes(java.nio.charset.StandardCharsets.UTF_8), pad = 0xFF)

  private def prefix8(bytes: Array[Byte], pad: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) {
      v = (v << 8) | (if (i < bytes.length) bytes(i) & 0xffL else pad.toLong)
      i += 1
    }
    v ^ Long.MinValue
  }

  /** Footer (row count, [min, max] of `cols`) for one parquet file —
    * the shared core of the manifest build (executor-side, inside
    * mapPartitions) and the driver walk. Only the footer is read; data
    * pages are never touched. Integral columns carry their numeric
    * min/max; STRING columns carry [[stringStatKey]]-encoded min/max
    * (parquet-mr truncates long binary stats with max rounded UP, so
    * the encoded envelope stays conservative).
    */
  private def footerEnvelope(
      file: String,
      conf: org.apache.hadoop.conf.Configuration,
      cols: Seq[String]): (Long, Seq[(String, Long, Long)]) = {
    import scala.jdk.CollectionConverters._
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(file), conf))
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val nRows = blocks.map(_.getRowCount).sum
      (nRows, cols.flatMap { c =>
        val stats = blocks.flatMap(_.getColumns.asScala
          .find(_.getPath.toDotString == c).map(_.getStatistics))
        if (stats.isEmpty || stats.exists(s =>
            s == null || !s.hasNonNullValue)) None
        else stats.head.genericGetMin match {
          case _: Number => Some((c,
            stats.map(_.genericGetMin.asInstanceOf[Number].longValue).min,
            stats.map(_.genericGetMax.asInstanceOf[Number].longValue).max))
          case _: org.apache.parquet.io.api.Binary => Some((c,
            stats.map(s => prefix8(s.genericGetMin
              .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
              pad = 0x00)).min,
            stats.map(s => prefix8(s.genericGetMax
              .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
              pad = 0xFF)).max))
          case _ => None
        }
      })
    } finally r.close()
  }
}
