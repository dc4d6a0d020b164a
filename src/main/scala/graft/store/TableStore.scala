package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

/** Parquet-directory table catalog with the reference's sink semantics
  * (SURVEY.md §2.5): `upsert` (K1/K2 replace), `insertIgnore` (K7
  * following edges), `overwrite` (K4 archive drop-and-recreate). One
  * directory per table under `root`.
  *
  * Writes go to a temp dir then swap (read-modify-write over the same
  * parquet path is illegal in Spark). A lakehouse format would replace
  * exactly this class with MERGE INTO; everything above it is
  * format-agnostic.
  */
class TableStore(val spark: SparkSession, val root: String) {

  import TableStore.{OpCompact, OpGovern, OpOverwrite, OpUnknown, OpUpsert, RewriteOps}

  private def path(name: String) = s"$root/$name"

  private def fs = new Path(root).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  /** For governed tables existence is a COMMIT-LOG question, not a
    * directory one: the table dir only appears at commit, so inside a
    * transaction a directory probe would report a just-staged new
    * table as absent — and a second upsert to it in the same
    * transaction would then merge against nothing and silently drop
    * the first write's rows. Pending state first, committed second —
    * the same resolution order read()/dataFiles() use.
    */
  def exists(name: String): Boolean =
    if (isGoverned(name) || activeTx.exists(_.pending.contains(name)))
      liveRefs(name).nonEmpty
    else fs.exists(new Path(path(name)))

  def read(name: String): DataFrame =
    if (isGoverned(name)) {
      val refs = liveRefs(name)
      // an empty live set must NOT fall back to a directory scan: the
      // dir may still hold RETIRED files (pre-vacuum) that a raw read
      // would happily serve back — fail like an empty table instead
      // (readIfExists already reports this state as absent)
      if (refs.isEmpty) throw new IllegalStateException(
        s"$name has no live files in the current epoch (retired files " +
          "may remain on disk until vacuum-epochs; use readIfExists for " +
          "a None instead of an error)")
      else refs.groupBy(_.base).toSeq.sortBy(_._1.toString).map { case (b, rs) =>
        // basePath keeps Hive partition discovery working per source
        // dir (committed files under the table dir; staged files
        // under their staging dir, mid-transaction only)
        memoParquet(b.toString, rs.map(_.rel))
      }.reduce(_.unionByName(_, allowMissingColumns = true))
    } else spark.read.parquet(path(name))

  /** Read an explicit parquet file set under `base` with the schema
    * memoized on the exact (base, rel set): part files are UUID-named
    * and immutable (writes add files, vacuum removes them -- never
    * rewrites in place), so an identical file set always carries the
    * identical schema. Skipping re-inference saves one footer-reading
    * Spark job PER read -- the write paths read the same epoch's live
    * set many times per statement (merge, stats, index refresh,
    * end-state select), each paying ~50 ms of pure job-scheduling
    * overhead otherwise (guide: fewer passes/actions first).
    */
  private def memoParquet(base: String, rels: Seq[String]): DataFrame = {
    val paths = rels.map(r => new Path(base, r).toString)
    // the confs that change what parquet inference yields — part of
    // the key, so sessions with different settings never share entries
    val cfg = spark.conf.get("spark.sql.caseSensitive", "false") + "|" +
      spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true") + "|" +
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    val key = (cfg, base, rels.sorted.mkString("|"))
    val reader = spark.read.option("basePath", base)
    TableStore.schemaMemo.get(key) match {
      case Some(s) => reader.schema(s).parquet(paths: _*)
      case None =>
        val df = reader.parquet(paths: _*)
        if (TableStore.schemaMemo.size > 512) TableStore.schemaMemo.clear()
        TableStore.schemaMemo.putIfAbsent(key, df.schema)
        df
    }
  }

  // a dir holding only markers (ensureBucketed before first write) has
  // no schema to read — treat it as absent
  def readIfExists(name: String): Option[DataFrame] =
    if (exists(name) && dataFiles(name).nonEmpty) Some(read(name)) else None

  def tableNames: Seq[String] =
    if (!fs.exists(new Path(root))) Seq.empty
    else fs.listStatus(new Path(root)).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(_.endsWith(".__tmp")) // stale swap leftovers are not tables
      .filterNot(_.startsWith("_")) // store bookkeeping (_graft_epoch)
      .toSeq.sorted

  /** Atomic-ish replace: write to `<name>.__tmp`, then swap. A failed
    * rename must THROW — the destination was already deleted, and
    * silently returning would present data loss as success.
    */
  private def writeSwapped(
      name: String, df: DataFrame, partitionBy: Seq[String] = Nil,
      op: String = OpOverwrite): Unit = {
    if (isGoverned(name)) { withTxWrite(tx => stageReplace(tx, name, df, partitionBy, op)); return }
    val tmp = new Path(path(name + ".__tmp"))
    val dst = new Path(path(name))
    if (fs.exists(tmp)) fs.delete(tmp, true)
    // the stats manifest and the declared-schema marker live INSIDE
    // the table dir, so the swap destroys them with the old files —
    // remember and restore after, so a table that opted into file
    // skipping stays skippable and a declared surface (SQL
    // CREATE/ALTER) survives every whole-table rewrite (overwrite,
    // compact, schema evolution)
    val hadStats = hasFileStats(name)
    val declared = declaredSchemaOf(name)
    val dropped = droppedColumnsOf(name)
    val renamed = renamedColumnsOf(name)
    val writer = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(tmp.toString)
    // the declared-surface markers are written INTO the tmp dir so the
    // rename installs data + surface atomically — a crash after the
    // swap can no longer silently drop ALTER-added (not yet
    // data-carried) or resurrect ALTER-dropped columns, and the column
    // name map survives every whole-table rewrite; the stats manifest
    // below is only a perf artifact, so its post-swap rebuild window
    // stays acceptable
    declared.foreach(s => writeSmall(new Path(tmp, SchemaMarkerFile), s.json))
    if (dropped.nonEmpty)
      writeSmall(new Path(tmp, DroppedMarkerFile), dropped.mkString("\n"))
    if (renamed.nonEmpty)
      writeSmall(new Path(tmp, RenamedMarkerFile),
        renamed.map { case (p, s) => s"$p\t$s" }.mkString("\n"))
    if (fs.exists(dst)) fs.delete(dst, true)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(
        s"rename $tmp -> $dst failed; data is preserved at $tmp")
    if (hadStats) refreshFileStats(name)
  }

  /** Replace a table wholesale. `partitionBy` lays the table out as a
    * Hive-partitioned directory tree (e.g. `day=…/`), the lake layout
    * an append-mostly stream (the `events` firehose) wants: time
    * predicates then prune at PLANNING time to the matching
    * directories (PartitionPruningSpec proves the scan's
    * PartitionFilters). Key-upsert tables stay unpartitioned — the
    * rewrite-based upsert would churn every partition anyway; a
    * lakehouse MERGE is the scale path for those (see class doc).
    */
  def overwrite(name: String, df: DataFrame, partitionBy: Seq[String] = Nil): Unit =
    writeSwapped(name, df, partitionBy)

  /** Overwrite ONLY the Hive partitions present in `df`, leaving all
    * other partitions' files untouched (dynamic partition overwrite) —
    * the write step of [[rewritePartitions]], which every maintained
    * partitioned table goes through.
    *
    * The caller MUST pass a `df` that does not lazily read from this
    * table's own files (materialize/checkpoint first): unlike the
    * swap-based writes, this writes in place, and Spark refuses — or
    * worse, corrupts — reads of a path being overwritten.
    */
  def overwritePartitions(
      name: String, df: DataFrame, partitionBy: Seq[String],
      op: String = OpUpsert): Unit = {
    require(partitionBy.nonEmpty, "overwritePartitions needs partition columns")
    if (isGoverned(name)) { withTxWrite(tx => stagePartitions(tx, name, df, partitionBy, op)); return }
    markStatsPending(name)
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy: _*)
      .parquet(path(name))
  }

  def drop(name: String): Unit = dropTables(Seq(name))

  /** Drop several tables as ONE operation: the pin guards run for all
    * of them first (nothing is deleted when any member refuses), every
    * governed member leaves the commit log in a SINGLE un-govern
    * pointer write (one epoch, not one per table — the SQL DROP of an
    * indexed table removes the base plus ~20 index artifacts), then
    * the directories delete. A release tag whose pinned commit
    * contains a member, or a consumer cursor registered on one,
    * refuses the whole drop: deleting the directory would break the
    * pin SILENTLY (the pinned epochs would still resolve, to files
    * that no longer exist) — the same drop-the-ref-first discipline
    * as branches in git.
    */
  def dropTables(names: Seq[String]): Unit = dropTables(names, Set.empty)

  /** [[dropTables]] with an explicit tag override: tags named in
    * `ignorePinsOf` do not refuse the drop — the PURGE escalation
    * path, which has already DECIDED each pinning tag's fate (drop it
    * when it pins nothing but doomed tables; keep it when it also
    * protects others, accepting that the kept tag's epoch now names a
    * dead table — the same retained-commit state every plain DROP
    * leaves behind, vacuum-safe because only currently-governed dirs
    * are swept).
    */
  private[graft] def dropTables(
      names: Seq[String], ignorePinsOf: Set[String]): Unit = {
    require(activeTx.isEmpty, "cannot drop tables inside a transaction")
    require(pinnedCommit.isEmpty, "cannot drop tables inside withSnapshot")
    // the cursor guard runs regardless of governance — a consumer can
    // be registered on a table the current pointer no longer lists,
    // and its diff-base break would be just as silent
    val cursorsOn = EpochFollower.cursors(this).keys.collect {
      case (t, c) if names.contains(t) => s"$c (on $t)" }.toSeq.sorted
    require(cursorsOn.isEmpty,
      s"registered consumer cursor(s) ${cursorsOn.mkString(", ")} — " +
        "drop-consumer first (or DROP TABLE ... PURGE)")
    val governedNow = names.filter(isGoverned)
    if (governedNow.nonEmpty) {
      val taggedBy = pinnedByTags(governedNow)
        .collect { case (t, n) if !ignorePinsOf(t) => s"$t (pins $n)" }
      require(taggedBy.isEmpty,
        s"pinned by release tag(s) ${taggedBy.mkString(", ")} — " +
          "drop-tag first (or DROP TABLE ... PURGE)")
      currentCommit.foreach { case (epoch, tables) =>
        val remaining = tables -- governedNow
        writePointer(epoch + 1, remaining.toSeq.sorted
          .map { case (t, lf) => s"$t\t$lf" }.mkString("\n"))
      }
    }
    names.foreach { n =>
      val dst = new Path(path(n))
      if (fs.exists(dst)) fs.delete(dst, true)
    }
  }

  /** Rename several tables as ONE operation — the inventory-carrying
    * move SQL `RENAME TABLE` drives (base + every index artifact
    * renames together). Commit-log entries are rel-path lists keyed
    * only by the POINTER's table name (table-name-agnostic contents),
    * so a rename is: the same pin guards [[dropTables]] runs (a
    * release tag pinning a member, or a consumer cursor on one,
    * REFUSES — moved files would break the pinned epoch's resolution
    * just as silently as deleted ones), ONE pointer write re-keying
    * every governed member's current entry to its new name, then the
    * directory moves. History is name-keyed and retained pointers are
    * IMMUTABLE (the cross-instance parse caches rely on it), so
    * pre-rename epochs keep the old name: the new name starts its
    * `$history` at the rename commit and `VERSION AS OF` a pre-rename
    * epoch fails loudly under both names — DROP + re-CREATE
    * incarnation semantics, deliberately. Crash discipline mirrors
    * [[dropTables]]: the pointer flips FIRST (the log is the source
    * of truth), directories move after; a crash between leaves
    * governed reads of the new name failing loudly ("no files") and
    * RE-RUNNING the same rename completes the moves (the pointer
    * re-key detects it already happened).
    */
  def renameTables(pairs: Seq[(String, String)]): Unit = {
    require(activeTx.isEmpty, "cannot rename tables inside a transaction")
    require(pinnedCommit.isEmpty, "cannot rename tables inside withSnapshot")
    val renames = pairs.toMap
    require(renames.size == pairs.size && pairs.map(_._2).distinct.size == pairs.size,
      "rename pairs must be unique on both sides")
    val olds = pairs.map(_._1)
    // A marker from a DIFFERENT crashed rename refuses loudly: finish
    // (re-run) that rename first — completing it is the only way to
    // tell its unmoved directories from fresh collisions. A resume's
    // pairs are a subset of the crashed rename's (already-moved
    // members drop out), so subset-consistency is the re-run test.
    val pendingIntent = renameIntent()
    pendingIntent.foreach { pending =>
      require(pairs.forall { case (o, n) => pending.get(o).contains(n) },
        s"a previous rename crashed mid-move (${pending.toSeq.sorted
          .map { case (o, n) => s"$o -> $n" }.mkString(", ")}) — " +
          "re-run that rename to complete it before starting another")
    }
    pairs.foreach { case (o, n) =>
      require(n.nonEmpty && !n.contains("/") && !n.startsWith("_") &&
        !n.contains("$") && !n.endsWith(".__tmp"),
        s"'$n' is not a valid table name")
      // a GENUINE collision is the new name being live alongside the
      // old one — a live pointer entry next to the old's (re-keying
      // would write duplicate keys), or both directories present
      // (moving would merge). A new name present while the OLD one is
      // already un-keyed/gone is the crash-RESUME state (pointer
      // flipped, some dirs moved) and must pass, per the re-run
      // contract below.
      require(!(isGoverned(o) && isGoverned(n)),
        s"cannot rename $o -> $n: '$n' is already a governed table")
      require(!(fs.exists(new Path(path(o))) && fs.exists(new Path(path(n)))),
        s"cannot rename $o -> $n: '$n' already exists")
    }
    val cursorsOn = EpochFollower.cursors(this).keys.collect {
      case (t, c) if olds.contains(t) => s"$c (on $t)" }.toSeq.sorted
    require(cursorsOn.isEmpty,
      s"registered consumer cursor(s) ${cursorsOn.mkString(", ")} — " +
        "their diff base would silently break under the new name; " +
        "drop-consumer first")
    val governedNow = olds.filter(isGoverned)
    val taggedBy = pinnedByTags(governedNow)
      .map { case (t, n) => s"$t (pins $n)" }
    require(taggedBy.isEmpty,
      s"pinned by release tag(s) ${taggedBy.mkString(", ")} — the " +
        "pinned epoch resolves files the rename would move; drop-tag first")
    // POSITIVE rename intent: written only after every guard passed,
    // immediately before anything flips, and deleted after the last
    // directory move — so a crash state carries explicit old→new
    // evidence, and the catalog's resume keys on it instead of
    // guessing from directory shapes (a live FLAT table next to a
    // governed-but-dirless name looks exactly like a mid-move crash
    // to any heuristic; the marker cannot be confused). A guard
    // failure above leaves NO marker behind — an abandoned attempt
    // never blocks later renames.
    if (pendingIntent.isEmpty && pairs.nonEmpty)
      writeSmall(renameIntentPath,
        pairs.map { case (o, n) => s"$o\t$n" }.mkString("\n"))
    if (governedNow.nonEmpty) {
      currentCommit.foreach { case (epoch, tables) =>
        writePointer(epoch + 1, tables.toSeq
          .map { case (t, lf) => renames.getOrElse(t, t) -> lf }
          .sorted.map { case (t, lf) => s"$t\t$lf" }.mkString("\n"))
      }
    }
    // already-moved pairs (crash resume) skip; both-present was refused
    pairs.foreach { case (o, n) =>
      val src = new Path(path(o))
      if (fs.exists(src) && !fs.rename(src, new Path(path(n))))
        throw new java.io.IOException(
          s"rename $src -> ${path(n)} failed; the commit log already " +
            "serves the new name — re-run the rename to complete the move")
    }
    // the marker clears only when every pending pair is COMPLETE —
    // its old name un-keyed from the pointer and its old directory
    // gone. A catalog resume derives its pairs from the still-unmoved
    // subset (or none, when the crash hit after the last move), so
    // keying the delete on this invocation's own pair list would
    // either strand the marker forever (deadlocking all later
    // renames) or erase a DIFFERENT crashed rename's evidence while
    // its directories still wait; completion of the pending pairs
    // themselves is the one test that does neither.
    val pendingDone = renameIntent().forall(_.forall { case (o, _) =>
      !isGoverned(o) && !fs.exists(new Path(path(o))) })
    if (pendingDone) fs.delete(renameIntentPath, false)
  }

  private def renameIntentPath: Path = new Path(root, "_graft_renaming")

  /** The old→new pairs of a rename that started but has not finished —
    * Some only between [[renameTables]]'s intent write and its final
    * marker delete, i.e. exactly the crash states. The catalog's
    * RENAME resume and Doctor's pending-rename finding key on it.
    */
  def renameIntent(): Option[Map[String, String]] =
    if (!fs.exists(renameIntentPath)) None
    else Some(readSmall(renameIntentPath).linesIterator
      .map(_.trim).filter(_.nonEmpty)
      .map { l => val Array(o, n) = l.split("\t", 2); o -> n }.toMap)

  /** (tag, pinned table) pairs for every release tag whose pinned
    * commit contains one of `names` — the shared pin guard
    * [[dropTables]] and [[renameTables]] refuse on (one commit-log
    * listing for the whole check).
    */
  private def pinnedByTags(names: Seq[String]): Seq[(String, String)] = {
    val commitByEpoch = listCommits().toMap
    val allTags = tags()
    names.flatMap(n => allTags.collect {
      case (t, e) if commitByEpoch.get(e)
        .exists(p => parseCommit(p).contains(n)) => (t, n)
    }).distinct.sorted
  }

  /** Delete one Hive partition directory (`name/col=value`) — the
    * companion of `overwritePartitions` for partitions whose new
    * content is empty (dynamic overwrite can only rewrite partitions
    * present in the written frame); [[rewritePartitions]] pairs them.
    */
  def dropPartition(name: String, partCol: String, value: String): Unit = {
    if (isGoverned(name)) {
      // a metadata-only pending update: the partition's files leave
      // the live set at commit (physical deletion is vacuum's job)
      withTxWrite { tx =>
        tx.pending(name) = liveRefs(name)
          .filterNot(_.rel.startsWith(s"$partCol=$value/"))
        recordOp(tx, name, TableStore.OpDelete)
      }
      return
    }
    markStatsPending(name)
    val dst = new Path(path(name) + s"/$partCol=$value")
    if (fs.exists(dst)) fs.delete(dst, true)
  }

  def upsert(name: String, incoming: DataFrame, pk: Seq[String]): Unit =
    mergeKeyed(name, incoming, pk, ignore = false)

  def insertIgnore(name: String, incoming: DataFrame, pk: Seq[String]): Unit =
    mergeKeyed(name, incoming, pk, ignore = true)

  private def mergeKeyed(
      name: String, incoming: DataFrame, pk: Seq[String], ignore: Boolean): Unit =
    bucketLayoutOf(name) match {
      case Some((n, declaredPk)) =>
        require(declaredPk == pk,
          s"$name is bucketed on pk=${declaredPk.mkString(",")}; " +
            s"${if (ignore) "insertIgnore" else "upsert"} passed " +
            s"pk=${pk.mkString(",")} — refusing a mixed-key merge")
        mergeBucketed(name, incoming, pk, n, ignore)
      case None =>
        writeSwapped(name, keyMerge(pk, ignore)(readIfExists(name), incoming),
          op = OpUpsert)
    }

  /** The keyed merge rule of [[upsert]] (later wins) or
    * [[insertIgnore]] (existing wins).
    */
  private def keyMerge(pk: Seq[String], ignore: Boolean)(
      ex: Option[DataFrame], inc: DataFrame): DataFrame =
    if (ignore) Upsert.insertIgnore(ex, inc, pk) else Upsert.upsert(ex, inc, pk)

  /** Delete rows by pk — the write path a dedup pass or retention
    * policy takes (the reference never deletes; this is the
    * extension-side complement of upsert that the row-level change
    * feed retracts through). On a declared bucket layout the delete is
    * O(touched buckets): only the buckets the keys hash into are
    * anti-joined and rewritten through [[rewritePartitions]] (emptied
    * buckets drop, and a governed table sees the whole delete as ONE
    * epoch); a flat table pays the whole-table rewrite (the same
    * Delta-MERGE seam as the flat upsert), atomic by the single swap.
    * Commits are op-tagged `delete`, so incremental consumers see
    * exactly the retracted pks through [[readChangesSince]]. Keys with
    * pk types narrower than the stored ones are cast up front (the
    * type-sensitive-xxhash64 rule the bucketed merge enforces); a
    * lossy cast is refused.
    */
  def deleteByPk(name: String, keys: DataFrame, pk: Seq[String]): Unit = {
    require(pk.nonEmpty, "deleteByPk needs pk columns")
    require(exists(name), s"no such table: $name")
    import org.apache.spark.sql.functions.col
    val existing = read(name)
    val keyCols = keys.select(pk.map(col): _*)
    bucketLayoutOf(name) match {
      case Some((buckets, declaredPk)) =>
        require(declaredPk == pk,
          s"$name is bucketed on pk=${declaredPk.mkString(",")}; deleteByPk " +
            s"passed pk=${pk.mkString(",")} — refusing a mixed-key delete")
        import org.apache.spark.sql.catalyst.expressions.Cast
        val keyTyped = pk.foldLeft(keyCols) { (df, c) =>
          val cur = df.schema(c).dataType
          val stored = existing.schema(c).dataType
          if (cur == stored) df
          else {
            require(Cast.canUpCast(cur, stored),
              s"$name pk column $c is $stored but the key frame carries " +
                s"$cur — refusing a lossy pk cast")
            df.withColumn(c, col(c).cast(stored))
          }
        }
        rewriteTouchedBuckets(name, keyTyped, pk, buckets, TableStore.OpDelete)(
          (ex, inc) => ex.get.join(inc, pk, "left_anti"))
      case None =>
        writeSwapped(name,
          existing.join(keyCols, pk, "left_anti"),
          partitionColumnsOf(name), op = TableStore.OpDelete)
    }
  }

  /** Delete the rows matching `cond` from a FLAT (un-bucketed) table —
    * the predicate form of [[deleteByPk]] for tables with no declared
    * key (SQL `DELETE FROM … WHERE …` lands here when no bucket layout
    * exists). Null-safe by construction: rows where `cond` evaluates
    * to NULL are KEPT (SQL's three-valued DELETE contract — only
    * definite matches go), which a pk anti-join over all columns could
    * not promise. The whole-table rewrite is the same Delta-MERGE seam
    * as the flat upsert, atomic by the single swap, op-tagged `delete`
    * so the change feed diffs the retraction. Bucketed tables must
    * take [[deleteByPk]] (O(touched buckets)); this method refuses
    * them rather than silently paying O(table).
    */
  def deleteWhere(name: String, cond: org.apache.spark.sql.Column): Unit = {
    require(exists(name), s"no such table: $name")
    require(bucketLayoutOf(name).isEmpty,
      s"$name is bucketed — delete by key (deleteByPk / Retract.cascade), " +
        "which rewrites only the touched buckets")
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    writeSwapped(name,
      read(name).filter(not(coalesce(cond, lit(false)))),
      partitionColumnsOf(name), op = TableStore.OpDelete)
  }

  /** Run `f`'s writes to governed `name` as ONE epoch: outside a
    * transaction every partition overwrite and every partition drop
    * is its own commit, so a reader or change-feed consumer landing
    * between them would observe a PARTIALLY-applied rewrite. No-op
    * when un-governed (swap writes are already atomic) or when the
    * caller already opened a transaction (nesting is refused by
    * [[transact]]; the outer tx provides the atomicity).
    */
  private[store] def inOneEpoch[T](name: String)(f: => T): T =
    if (isGoverned(name) && activeTx.isEmpty) transact(f) else f

  /** Rewrite the `touched` Hive partitions of `name` (partitioned on
    * `partCol`) and nothing else — the one O(touched partitions) write
    * every bucket- or cell-partitioned table is maintained through
    * (bucketed base upsert/insertIgnore/deleteByPk, the custom
    * [[mergeTouchedBuckets]], FTS/trigram/LSH postings, IVF cells,
    * index retraction). `rewrite` maps the touched partitions' current
    * rows (partition column included) to their COMPLETE new content;
    * rows of other partitions are never read.
    *
    * In one epoch ([[inOneEpoch]]): partition-pruned read, materialize
    * (severing the plan from the files the in-place overwrite
    * replaces), the invariant gate — every output row must land in a
    * touched partition, else untouched rows would be silently lost —
    * dynamic partition overwrite, one collect of the partitions that
    * still hold rows, and a drop of each emptied one (dynamic
    * overwrite never visits an absent partition). The file-stats
    * manifest then refreshes at O(changed files); governed tables get
    * that from the commit itself. Returns the touched partitions that
    * still hold rows (as partition-value strings); nothing is touched
    * when `touched` is empty.
    */
  private[store] def rewritePartitions(
      name: String, partCol: String, touched: Seq[Any], op: String = OpUpsert)(
      rewrite: DataFrame => DataFrame): Set[String] = {
    import org.apache.spark.sql.functions.col
    val values = touched.distinct
    if (values.isEmpty) return Set.empty
    val keys = values.map(_.toString)
    val survivors = inOneEpoch(name) {
      val merged = Iteration.materialize(
        rewrite(read(name).filter(col(partCol).isin(values: _*))))
      val out = merged.select(col(partCol).cast("string")).distinct()
        .collect().map(_.getString(0)).toSet
      require(out.subsetOf(keys.toSet),
        s"$name merge produced partitions outside the touched set " +
          s"(${(out -- keys).mkString(",")}) — the partition key diverged " +
          "between batch and merge; refusing to overwrite")
      overwritePartitions(name, merged, Seq(partCol), op)
      keys.filterNot(out).foreach(dropPartition(name, partCol, _))
      out
    }
    if (!isGoverned(name) && hasFileStats(name)) refreshFileStatsIncremental(name)
    survivors
  }

  // -------------------------------------------------------------------
  // Bucketed base-table layout — the O(batch) upsert path. The plain
  // upsert above rewrites the WHOLE table per batch (the documented
  // lakehouse-MERGE seam); at 100 TB that is untenable for the K1-K9
  // sinks. A table declared bucketed is laid out as Hive partitions on
  // pk_bucket = [[bucketOfPk]], and every keyed write — upsert,
  // insertIgnore, deleteByPk and the custom [[mergeTouchedBuckets]] —
  // derives its touched buckets from the batch's key hashes and hands
  // them to [[rewritePartitions]]: O(batch + touched buckets' data),
  // not O(table). Size `buckets` so one bucket ≈ 100-500 MB at the
  // target scale (task-sized), and at least the cluster parallelism
  // you want for a full-table scan.
  //
  // The layout is DECLARED in a `_graft_layout` marker inside the
  // table directory (underscore-prefixed: invisible to parquet scans
  // and the file-stats walkers). Readers need no change — Hive
  // partition discovery surfaces pk_bucket as a normal column, and
  // plain `upsert`/`insertIgnore` auto-route through the bucket-scoped
  // merge when the marker is present, so every existing sink gets the
  // O(batch) path the moment its table is converted. A crash between
  // the partitioned write and the marker write leaves a table that
  // merely re-converts wholesale on the next upsert — never wrong,
  // only once-slow.

  /** Partition column carrying the pk-hash bucket of each row. */
  val BucketCol = "pk_bucket"

  private def layoutPath(name: String) = new Path(path(name), "_graft_layout")

  /** The declared (buckets, pk columns) of a bucketed table, if any. */
  def bucketLayoutOf(name: String): Option[(Int, Seq[String])] = {
    val p = layoutPath(name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val kv = scala.io.Source.fromInputStream(in, "UTF-8").mkString
          .linesIterator.map(_.split("=", 2))
          .collect { case Array(k, v) => k -> v }.toMap
        Some((kv("buckets").toInt, kv("pk").split(",").toSeq))
      } finally in.close()
    }
  }

  private def writeBucketLayout(name: String, buckets: Int, pk: Seq[String]): Unit =
    // inside a transaction that staged this table, the marker must not
    // land AHEAD of the data it describes: a crash before the pointer
    // flip would leave a bucketed declaration over flat live files and
    // the next upsert would fail on the missing partition column.
    // Defer to the commit (runs after the flip, same crash atom).
    deferInTx(name, () => {
      val out = fs.create(layoutPath(name), true)
      try out.write(s"buckets=$buckets\npk=${pk.mkString(",")}\n".getBytes("UTF-8"))
      finally out.close()
    })

  /** The bucket `cols` hash into — THE bucket-layout rule of every
    * pk-bucketed artifact (base tables, FTS/trigram postings, LSH
    * bands): xxhash64 then pmod, so the layout survives any key type.
    * Changing it re-files every existing store.
    */
  def bucketOfPk(cols: Seq[String], buckets: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    pmod(xxhash64(cols.map(col): _*), lit(buckets.toLong))
  }

  /** Upsert into a pk-bucketed layout, converting the table on first
    * use: a flat (or absent) table is rewritten once partitioned by
    * [[BucketCol]] and the layout declared; thereafter every merge —
    * including plain `upsert`/`insertIgnore` calls, which auto-route —
    * rewrites only the buckets the batch touches.
    */
  def upsertBucketed(
      name: String, incoming: DataFrame, pk: Seq[String], buckets: Int): Unit =
    mergeBucketed(name, incoming, pk, buckets, ignore = false)

  /** insertIgnore counterpart of [[upsertBucketed]]. */
  def insertIgnoreBucketed(
      name: String, incoming: DataFrame, pk: Seq[String], buckets: Int): Unit =
    mergeBucketed(name, incoming, pk, buckets, ignore = true)

  /** One-time conversion of an existing table to the bucketed layout
    * (one full rewrite, the last this table ever pays): every later
    * plain `upsert`/`insertIgnore` — the K1-K9 sinks' call shape —
    * auto-routes through the O(batch) bucket-scoped merge.
    */
  def bucketize(name: String, pk: Seq[String], buckets: Int): Unit = {
    require(exists(name), s"no such table: $name")
    require(bucketLayoutOf(name).isEmpty,
      s"$name already declares a bucket layout")
    mergeBucketed(name, read(name).limit(0), pk, buckets, ignore = false,
      op = OpCompact)
  }

  /** Declare the bucket layout BEFORE the first write — the
    * ensure-tables analog (utils.py:313-408 creates schemas up front)
    * for the grow-forever sinks: a fresh store's very first
    * `save-tweets` batch then lands partitioned and every later batch
    * is O(touched buckets), with no full-rewrite conversion ever paid.
    * Idempotent on a matching declaration; an existing flat table
    * converts via [[bucketize]]; a conflicting declaration is refused.
    */
  def ensureBucketed(name: String, pk: Seq[String], buckets: Int): Unit =
    bucketLayoutOf(name) match {
      case Some((n, declaredPk)) =>
        require(n == buckets && declaredPk == pk,
          s"$name already declares (buckets=$n, pk=${declaredPk.mkString(",")}); " +
            s"ensureBucketed passed (buckets=$buckets, pk=${pk.mkString(",")})")
      case None if exists(name) && dataFiles(name).nonEmpty =>
        bucketize(name, pk, buckets)
      case None =>
        fs.mkdirs(new Path(path(name)))
        writeBucketLayout(name, buckets, pk)
    }

  /** Keep a declared z-order clustering alive across bucket rewrites:
    * the merged bucket is re-sorted on (bucket, zkey) before the
    * write, so row-group min/max stats stay selective. File-level
    * z-ranges within a merged bucket re-tighten at the next
    * compactZorder (the merge writes one file per bucket).
    */
  private def zsortIfDeclared(name: String, df: DataFrame): DataFrame =
    zorderLayoutOf(name) match {
      case Some((zCols, bits)) if zCols.forall(df.columns.contains) =>
        import org.apache.spark.sql.functions.col
        df.sortWithinPartitions(col(BucketCol),
          graft.functions.ZOrder.zorderKey(zCols.map(col), bits))
      case _ => df
    }

  private def mergeBucketed(
      name: String, incoming: DataFrame, pk: Seq[String], buckets: Int,
      ignore: Boolean, op: String = OpUpsert): Unit = {
    import org.apache.spark.sql.functions.col
    val merge = keyMerge(pk, ignore) _
    val declared = checkBucketLayout(name, pk, buckets)
    readIfExists(name) match {
      case Some(existing) if declared =>
        // xxhash64 is TYPE-sensitive: an INT-id batch against a
        // LONG-id table would hash the same key to different buckets
        // before vs after union widening, steering the dynamic
        // overwrite at a bucket whose existing rows were never read —
        // silent data loss. Cast the batch's pk columns to the stored
        // types up front (safe upcasts only), so one bucket function
        // applies to batch, touched-set, and merge alike. A batch
        // whose pk is WIDER than the stored type re-buckets every
        // existing row, so it falls through to the full-rewrite path
        // below; a pk that casts neither way is refused loudly.
        import org.apache.spark.sql.catalyst.expressions.Cast
        val incTyped = pk.foldLeft(incoming) { (df, c) =>
          val cur = df.schema(c).dataType
          val stored = existing.schema(c).dataType
          if (cur == stored) df
          else if (Cast.canUpCast(cur, stored)) df.withColumn(c, col(c).cast(stored))
          else {
            // canUpCast(anything → string) is true, but union-coercing
            // a NUMERIC stored pk to the batch's string would blow up
            // (or silently re-key the table) — only a genuinely wider
            // non-string batch pk may fall through to the full rewrite
            require(Cast.canUpCast(stored, cur) &&
                cur != org.apache.spark.sql.types.StringType,
              s"$name pk column $c is $stored but the batch carries $cur — " +
                "refusing a lossy pk cast")
            df // batch pk wider: handled by the full-rewrite path
          }
        }
        // Upsert's schema-evolution contract (alter=True: unionByName
        // allowMissingColumns) is all-or-nothing per table — evolving
        // only the touched buckets would leave mixed file schemas, and
        // a later read would surface whichever subset parquet sampled.
        // A batch carrying NEW columns therefore pays one full
        // partitioned rewrite (rare: schema changes, not data growth,
        // trigger it), as does one whose shared columns CHANGE TYPE
        // (union widening would otherwise leave the touched buckets'
        // files typed differently from the rest). A batch with FEWER
        // columns (null-fill) merges to the existing schema and stays
        // on the O(touched) path, as does the transient __ord column
        // (dropped by the merge).
        val exTypes = existing.schema
          .map(f => f.name -> f.dataType).toMap
        val widens = (incTyped.columns.toSet - Upsert.OrdCol - BucketCol)
          .exists(c => !exTypes.get(c).contains(incTyped.schema(c).dataType))
        if (widens)
          rewriteBucketedWhole(name, merge(Some(existing.drop(BucketCol)),
            incTyped), pk, buckets, op)
        else rewriteTouchedBuckets(name, incTyped, pk, buckets, op)(merge)
      case existing =>
        // first bucketed write — declared before first write
        // (ensureBucketed), or one-time conversion of an existing flat
        // table: full merge, full partitioned rewrite, (re-)declare
        // (writeSwapped replaces the dir, marker included)
        val merged = merge(existing.map(df =>
            if (df.columns.contains(BucketCol)) df.drop(BucketCol) else df),
          incoming)
          .withColumn(BucketCol, bucketOfPk(pk, buckets))
          .repartition(col(BucketCol))
        writeSwapped(name, merged, Seq(BucketCol), op = op)
        writeBucketLayout(name, buckets, pk)
    }
  }

  /** Whether `name` already declares a bucket layout; refuses one that
    * disagrees with the caller's (`buckets`, `key`).
    */
  private def checkBucketLayout(
      name: String, key: Seq[String], buckets: Int): Boolean = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    require(key.nonEmpty, "bucketed layout needs key columns")
    bucketLayoutOf(name).map { case (n, declared) =>
      require(n == buckets && declared == key,
        s"$name declares (buckets=$n, key=${declared.mkString(",")}); " +
          s"caller passed (buckets=$buckets, key=${key.mkString(",")})")
    }.isDefined
  }

  /** Full partitioned rewrite of a bucketed table to `merged` (no
    * bucket column), re-declaring the layout after the swap. The swap
    * deletes the in-dir markers, so a declared z-order clustering is
    * applied to the rewrite and re-declared too.
    */
  private def rewriteBucketedWhole(
      name: String, merged: DataFrame, key: Seq[String], buckets: Int,
      op: String): Unit = {
    import org.apache.spark.sql.functions.col
    val zl = zorderLayoutOf(name)
    writeSwapped(name, zsortIfDeclared(name, merged
      .withColumn(BucketCol, bucketOfPk(key, buckets))
      .repartition(col(BucketCol))), Seq(BucketCol), op = op)
    writeBucketLayout(name, buckets, key)
    zl.foreach { case (zc, b) => writeZorderMarker(name, zc, b) }
  }

  /** Merge `batch` into the buckets its `key` hashes into through
    * [[rewritePartitions]]: `mergeFn(touched buckets' rows, batch)`
    * (both without the bucket column) gives their new content, which
    * is re-bucketed and re-z-sorted before the write. The batch is
    * pinned ONCE — it feeds the touched set and the merge, and an
    * expensive frame (a streaming sink's join output) must not
    * re-execute per consumer.
    */
  private def rewriteTouchedBuckets(
      name: String, batch: DataFrame, key: Seq[String], buckets: Int,
      op: String)(mergeFn: (Option[DataFrame], DataFrame) => DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    val inc = Iteration.materialize(
      batch.withColumn(BucketCol, bucketOfPk(key, buckets)))
    // a ≤`buckets`-row driver set
    val touched = inc.select(col(BucketCol)).distinct()
      .collect().map(_.getLong(0)).toSeq
    rewritePartitions(name, BucketCol, touched, op)(ex =>
      zsortIfDeclared(name, mergeFn(Some(ex.drop(BucketCol)), inc.drop(BucketCol))
        .withColumn(BucketCol, bucketOfPk(key, buckets))
        .repartition(col(BucketCol))))
  }

  /** Bucket-scoped CUSTOM merge for maintained artifacts whose merge is
    * NOT a keyed upsert — the motivating case is an EVICTION merge:
    * StreamQuantiles' bottom-k sample keeps the k best rows per group
    * and displaces the rest, which no upsert/insertIgnore precedence
    * rule expresses. The touched buckets derive from the batch's `key`
    * hashes; the write is [[rewritePartitions]].
    *
    * `mergeFn(existing, batch)` must return the touched buckets'
    * COMPLETE new content: `existing` carries every row of every
    * touched bucket (whole Hive partitions are replaced), so rows of
    * groups that merely share a bucket with the batch have to ride
    * through `mergeFn` unchanged.
    *
    * Unlike the upsert path there is no pk-type-widening escape here:
    * callers cast `key` columns to stable types at the sink boundary
    * (the invariant gate still turns any drift into an error, never
    * silent loss). A flat existing table converts with one full
    * partitioned rewrite of `mergeFn(all, batch)`; thereafter every
    * call is O(batch + touched buckets' data).
    */
  def mergeTouchedBuckets(
      name: String, incoming: DataFrame, key: Seq[String], buckets: Int)(
      mergeFn: (Option[DataFrame], DataFrame) => DataFrame): Unit =
    // readIfExists treats a marker-only dir (declared before first
    // write) as absent
    (checkBucketLayout(name, key, buckets), readIfExists(name)) match {
      case (true, Some(_)) =>
        rewriteTouchedBuckets(name, incoming, key, buckets, OpUpsert)(mergeFn)
      case (_, existing) =>
        // first write, declared-before-first-write, or one-time flat
        // conversion
        rewriteBucketedWhole(name, mergeFn(existing.map(df =>
          if (df.columns.contains(BucketCol)) df.drop(BucketCol) else df),
          incoming), key, buckets, OpUpsert)
    }

  /** Absolute paths of the table's parquet part files (layout
    * inspection: compaction specs, per-file min/max locality checks).
    * Shares fileStats' skip rules via the same bookkeeping filter.
    */
  def dataFiles(name: String): Seq[String] = {
    // governed tables answer from the commit manifest: the live set,
    // never the directory (which also holds retired files until
    // vacuum and, mid-commit-crash, orphaned staged files)
    if (isGoverned(name))
      return liveRefs(name).map(fr =>
        fs.makeQualified(new Path(fr.base, fr.rel)).toString)
    TableStore.driverListings.incrementAndGet()
    def walk(p: Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val base = st.getPath.getName
        if (base.startsWith("_") || base.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath)
        else if (base.endsWith(".parquet")) Seq(st.getPath.toString)
        else Nil
      }
    walk(new Path(path(name)))
  }

  /** Data-file count and total bytes of a table directory (recursive,
    * skipping `_SUCCESS`/hidden bookkeeping files) — the fragmentation
    * signal `compact` acts on.
    */
  def fileStats(name: String): (Long, Long) = {
    if (isGoverned(name)) {
      // one listStatus per live DIRECTORY, filtered to the live set —
      // a per-file getFileStatus would cost one serial metadata RPC
      // per file, 10^6 of them on the tables this exists for
      val sts = liveRefs(name)
        .groupBy(fr => new Path(fr.base, fr.rel).getParent)
        .toSeq.flatMap { case (dir, refs) =>
          val names = refs.map(fr => new Path(fr.base, fr.rel).getName).toSet
          if (!fs.exists(dir)) Nil
          else fs.listStatus(dir).filter(st => names(st.getPath.getName)).toSeq
        }
      return (sts.size.toLong, sts.map(_.getLen).sum)
    }
    def walk(p: Path): (Long, Long) =
      fs.listStatus(p).foldLeft((0L, 0L)) { case ((n, b), st) =>
        val base = st.getPath.getName
        if (base.startsWith("_") || base.startsWith(".")) (n, b)
        else if (st.isDirectory) {
          val (dn, db) = walk(st.getPath); (n + dn, b + db)
        } else (n + 1, b + st.getLen)
      }
    walk(new Path(path(name)))
  }

  /** The Hive partition column chain of a table's directory layout
    * (`day=…/`, `pk_bucket=…/`), detected from the first
    * `col=value` directory path — empty for flat tables. Lets
    * `compact` preserve the layout without the caller restating it.
    */
  def partitionColumnsOf(name: String): Seq[String] = {
    // governed tables answer from a LIVE file's rel path — the
    // directory tree also holds retired shells from earlier layouts
    // (a flat overwrite of an ex-bucketed table keeps the old
    // pk_bucket=N dirs until vacuum), and walking it would report a
    // chain the live data no longer carries
    if (isGoverned(name))
      return liveRefs(name).headOption.map(_.rel.split("/").dropRight(1)
        .takeWhile(_.contains("=")).map(_.split("=", 2)(0)).toSeq)
        .getOrElse(Seq.empty)
    @annotation.tailrec
    def loop(p: Path, acc: Vector[String]): Vector[String] = {
      val sub = fs.listStatus(p).find(st => st.isDirectory &&
        !st.getPath.getName.startsWith(".") &&
        st.getPath.getName.contains("="))
      sub match {
        case Some(st) =>
          loop(st.getPath, acc :+ st.getPath.getName.split("=", 2)(0))
        case None => acc
      }
    }
    loop(new Path(path(name)), Vector.empty)
  }

  /** Compact a fragmented table in place (swap-safe): the incremental
    * maintenance paths (dynamic-partition FTS postings, IVF cells,
    * upsert-rewritten base tables) accrete one file per batch per
    * partition, and at 100 TB the resulting small-files listing +
    * open-per-file overhead dominates scan time long before data
    * volume does. This is the OPTIMIZE/bin-packing half of a lakehouse
    * maintenance story (the other half, MERGE, is the documented
    * Upsert seam).
    *
    *  - Partitioned tables rewrite through an AQE REBALANCE on the
    *    partition columns: small partitions coalesce into shared
    *    tasks, a skewed hot partition splits across several — neither
    *    a million tiny files nor one unwritable giant.
    *  - Flat tables repartition to ceil(bytes / targetBytes) output
    *    files.
    *  - `sortBy` additionally sort-clusters rows WITHIN each output
    *    file (after the partition columns), so parquet row-group
    *    min/max stats become selective for predicates on those
    *    columns — the poor man's Z-order, and the right call for a
    *    pk-ranged read pattern.
    *
    * Returns (filesBefore, filesAfter). The rewrite reads the live
    * files and writes `<name>.__tmp`, then swaps — a concurrent crash
    * leaves the original table intact.
    */
  /** Order- and partitioning-independent content fingerprint:
    * (row count, wrapping Σ xxhash64(row)) over `cols` (default: the
    * full schema, column-name order pinned so two stores with
    * different on-disk column orders still agree). Two tables
    * fingerprint-equal iff they hold the same MULTISET of rows (sum,
    * not xor: xor cancels duplicate pairs; long addition wraps mod
    * 2^64 and commutes, so the result is identical on any
    * partitioning, row order, file layout, or cluster). One map-only
    * scan + a 2-value aggregate — the cheap reproducibility check a
    * dataset release ships with, and the invariant every layout
    * rewrite (compact, z-order, bucketize) must preserve.
    */
  def contentFingerprint(
      name: String, cols: Seq[String] = Nil): (Long, Long) = {
    import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
    val df = read(name)
    // BucketCol is a layout artifact, not data: excluding it by
    // default makes a flat table and its bucketized conversion
    // fingerprint-equal — the comparison the check exists for
    val use =
      if (cols.nonEmpty) cols
      else df.columns.filterNot(_ == BucketCol).sorted.toSeq
    // Spark's hash expressions SKIP null children (the running hash
    // passes through unchanged), so xxhash64(a, b) on (5, null) and
    // (null, 5) would collide — interleaving a never-null null-flag
    // before each column keeps the fold sequence distinct per null
    // pattern, preserving the "equal iff same row multiset" claim
    val flagged = use.flatMap(c => Seq(col(c).isNull.cast("int"), col(c)))
    val row = df.select(xxhash64(flagged: _*).as("h"))
    val r = row.agg(count(lit(1)).as("n"),
      // exact DECIMAL sum (no ANSI-mode overflow ambiguity), wrapped
      // to 64 bits explicitly below
      sum(col("h").cast("decimal(38,0)")).as("s")).head
    val n = r.getLong(0)
    val s = if (r.isNullAt(1)) BigInt(0) else BigInt(r.getDecimal(1).toBigInteger)
    (n, s.mod(BigInt(2).pow(64)).toLong)
  }

  def compact(
      name: String,
      sortBy: Seq[String] = Nil,
      targetBytes: Long = 128L << 20): (Long, Long) = {
    require(exists(name), s"no such table: $name")
    val (nBefore, bytes) = fileStats(name)
    val partCols = partitionColumnsOf(name)
    // the swap replaces the whole directory, marker included — carry
    // the bucket layout across or the next upsert silently falls back
    // to the O(table) rewrite
    val layout = bucketLayoutOf(name)
    val df = read(name)
    import org.apache.spark.sql.functions.col
    val shaped =
      if (partCols.nonEmpty) df.hint("rebalance", partCols.map(col): _*)
      else df.repartition(
        math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt)
    val sorted =
      if (sortBy.isEmpty) shaped
      else shaped.sortWithinPartitions((partCols ++ sortBy).map(col): _*)
    writeSwapped(name, sorted, partCols, op = OpCompact)
    layout.foreach { case (n, pk) =>
      if (partCols.contains(BucketCol)) writeBucketLayout(name, n, pk)
    }
    (nBefore, fileStats(name)._1)
  }

  /** Z-ORDER compaction (the Delta/Iceberg `OPTIMIZE ZORDER BY`
    * analog): rewrite a table range-partitioned + sorted on the
    * interleaved-bit Morton key of `zCols`, so every output file
    * covers a narrow range of EVERY clustered dimension and parquet
    * min/max stats prune files for predicates on any of them —
    * where plain `compact(sortBy = x)` leaves each file spanning the
    * full range of every other column. `zCols` must hold
    * non-negative ints below 2^bits (pre-bucket with rank, hash, or
    * min/max scaling). Returns (filesBefore, filesAfter).
    *
    * Hive-partitioned tables — notably the pk-bucketed base layout —
    * z-cluster WITHIN each partition directory: the range shuffle
    * leads with the partition columns, so every output task holds a
    * contiguous (partition, zkey) slice and each partition dir gets
    * files covering narrow z-ranges. Both markers coexist
    * (`_graft_layout` + `_graft_zorder`), the O(touched-buckets)
    * upsert property is preserved, and [[mergeBucketed]] keeps the
    * clustering alive by z-sorting the buckets it rewrites.
    */
  def compactZorder(
      name: String,
      zCols: Seq[String],
      bits: Int = 16,
      targetBytes: Long = 128L << 20): (Long, Long) = {
    require(exists(name), s"no such table: $name")
    val partCols = partitionColumnsOf(name)
    require(!zCols.exists(partCols.contains),
      s"z-order columns must be data columns; ${zCols.mkString(",")} " +
        s"overlap the partition chain ${partCols.mkString(",")} (directory " +
        "layout already localizes those)")
    val (nBefore, bytes) = fileStats(name)
    import org.apache.spark.sql.functions.{col, max, min}
    // out-of-range values would silently interleave only their low
    // bits — rows far apart colliding on the z-key destroys the
    // clustering while the command reports success; fail loudly
    // cast to long up front — int-typed z columns would CCE the
    // driver-side getLong (the int-pk indexing gotcha)
    val longs = zCols.map(c => col(c).cast("long"))
    // least/greatest demand ≥2 args — a single z column is legal
    // (degenerate Morton = the value itself) and must not crash
    val (joint: org.apache.spark.sql.Column, disjoint: org.apache.spark.sql.Column) =
      if (zCols.size == 1) (longs.head, longs.head)
      else (org.apache.spark.sql.functions.least(longs: _*),
        org.apache.spark.sql.functions.greatest(longs: _*))
    val bounds = read(name).agg(min(joint), max(disjoint)).head
    require(bounds.isNullAt(0) ||
      (bounds.getLong(0) >= 0L && bounds.getLong(1) < (1L << bits)),
      s"z-order columns ${zCols.mkString(",")} must lie in [0, 2^$bits): " +
        s"found [${bounds.get(0)}, ${bounds.get(1)}] — pre-bucket them " +
        "(rank, hash, or min/max scale)")
    // writeSwapped destroys the in-dir markers; carry the bucket
    // layout across like compact does
    val layout = bucketLayoutOf(name)
    val zkey = graft.functions.ZOrder.zorderKey(zCols.map(col), bits)
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val shaped = read(name)
      .withColumn("__zkey", zkey)
      .repartitionByRange(nFiles, partCols.map(col) :+ col("__zkey"): _*)
      .sortWithinPartitions(partCols.map(col) :+ col("__zkey"): _*)
      .drop("__zkey")
    writeSwapped(name, shaped, partCols, op = OpCompact)
    layout.foreach { case (n, pk) =>
      if (partCols.contains(BucketCol)) writeBucketLayout(name, n, pk)
    }
    // declare the clustering (the _graft_layout convention) so the
    // prune path and Doctor know which columns the files localize on;
    // any later whole-table rewrite deletes the marker with the dir —
    // correct, since it also destroys the clustering (the bucketed
    // merge paths re-sort and re-declare)
    writeZorderMarker(name, zCols, bits)
    // z-order's read dividend is file skipping, and footer-free
    // skipping needs the manifest — create it here (writeSwapped
    // already refreshed it if the table had one before the rewrite)
    if (!hasFileStats(name)) refreshFileStats(name)
    (nBefore, fileStats(name)._1)
  }

  private def writeZorderMarker(name: String, zCols: Seq[String], bits: Int): Unit =
    // same marker-behind-data discipline as writeBucketLayout
    deferInTx(name, () => {
      val out = fs.create(new Path(path(name), "_graft_zorder"), true)
      try out.write(s"zcols=${zCols.mkString(",")}\nbits=$bits\n".getBytes("UTF-8"))
      finally out.close()
    })

  /** The declared (zCols, bits) of a z-order-compacted table, if any. */
  def zorderLayoutOf(name: String): Option[(Seq[String], Int)] = {
    val p = new Path(path(name), "_graft_zorder")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val kv = scala.io.Source.fromInputStream(in, "UTF-8").mkString
          .linesIterator.map(_.split("=", 2))
          .collect { case Array(k, v) => k -> v }.toMap
        Some((kv("zcols").split(",").toSeq, kv("bits").toInt))
      } finally in.close()
    }
  }

  // -------------------------------------------------------------------
  // Persisted file-stats manifest — the Delta/Iceberg data-skipping
  // analog. Walking every parquet footer on the driver per pruneFiles
  // call is fine at sf0.1 (dozens of files) and fatal at 100 TB
  // (10^5-10^6 files × an open+read each = minutes of single-threaded
  // I/O per query). Instead, per-file (col, min, max) rows are
  // PERSISTED in a `_graft_stats` parquet dir inside the table
  // directory (underscore-prefixed: invisible to data scans, same
  // convention as `_graft_layout`), built by a DISTRIBUTED footer read
  // and maintained AT WRITE TIME: every whole-table rewrite rebuilds
  // it (writeSwapped), a bucketed merge replaces only the touched
  // buckets' rows (mergeBucketed), and compactZorder creates it — the
  // reference analog is the FTS index discipline (maintained at write,
  // utils.py:330-352), never rebuilt at read. Readers fall back to a
  // driver footer walk only for files the manifest doesn't know
  // (out-of-band additions), so stale is slower, never wrong.

  /** Relative file paths keep the manifest valid across a table (or
    * store) move; presence rows (col = "") let readers tell "file has
    * no stats" from "file unknown to the manifest".
    */
  private def statsPath(name: String) = new Path(path(name), "_graft_stats")

  /** Whether `name` maintains a persisted file-stats manifest. */
  def hasFileStats(name: String): Boolean = fs.exists(statsPath(name))

  private def qualifiedDir(name: String): String =
    fs.makeQualified(new Path(path(name))).toString

  /** Top-level integral and string columns — the types whose footer
    * min/max the Long envelope model covers (integrals numerically;
    * strings via [[TableStore.stringStatKey]]'s order-preserving
    * 8-byte-prefix encoding, the seam that lets an FTS term probe
    * prune postings FILES through the same manifest).
    */
  private def statCols(name: String): Seq[String] = {
    import org.apache.spark.sql.types._
    read(name).schema.fields.collect {
      case f if Seq[DataType](ByteType, ShortType, IntegerType, LongType,
        StringType).contains(f.dataType) => f.name
    }.toSeq
  }

  /** Footer min/max rows for `files`, read DISTRIBUTED — one Spark
    * task per slice of the file list, so a 10^6-file manifest build is
    * a cluster job, not a driver loop. Emits one presence row plus one
    * row per column with stats, file paths relativized to `base`. The
    * presence row's `mn` carries the file's ROW COUNT (footer total),
    * which is what [[estimateRows]] sums for manifest-driven
    * cardinality estimates; its `mx` stays 0.
    */
  private def footerStatsDf(
      files: Seq[String], cols: Seq[String], base: String): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(new org.apache.spark.SerializableWritable(
      spark.sparkContext.hadoopConfiguration))
    val par = math.max(1,
      math.min(files.size, spark.sparkContext.defaultParallelism))
    val prefix = base + "/"
    spark.createDataset(files).repartition(par)
      .mapPartitions { it =>
        val conf = bc.value.value
        it.flatMap { f =>
          val rel = f.stripPrefix(prefix)
          val (nRows, env) = TableStore.footerEnvelope(f, conf, cols)
          (rel, "", nRows, 0L) +: env.map { case (c, mn, mx) => (rel, c, mn, mx) }
        }
      }.toDF("file", "col", "mn", "mx")
  }

  /** Format marker row (file = "", col = this): present iff the
    * manifest's presence rows carry footer ROW COUNTS in `mn` —
    * manifests written before that change carried zeros there, and
    * [[estimateRows]] must refuse them rather than report 0 rows for
    * a populated table.
    */
  private val StatsRowsMarker = "__rows_v2"

  /** An empty (marker-only) stats frame, for tables whose live set is
    * empty — footerStatsDf over no files can't run (statCols needs a
    * readable schema).
    */
  private def emptyStatsFrame: DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String, Long, Long)].toDF("file", "col", "mn", "mx")
  }

  /** Whether the persisted manifest's presence rows carry row counts
    * (the __rows_v2 format) — incremental merges must not graft
    * counted rows onto a zero-count legacy manifest.
    */
  private def manifestHasRowCounts(name: String): Boolean =
    hasFileStats(name) && !spark.read.parquet(statsPath(name).toString)
      .filter(org.apache.spark.sql.functions.col("col") === StatsRowsMarker)
      .isEmpty

  private def writeStatsManifest(name: String, stats: DataFrame): Unit = {
    val tmp = new Path(path(name), "_graft_stats.__tmp")
    val dst = statsPath(name)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    import spark.implicits._
    val stamped = stats
      .filter(org.apache.spark.sql.functions.col("col") =!= StatsRowsMarker)
      .unionByName(Seq(("", StatsRowsMarker, 0L, 0L)).toDF("file", "col", "mn", "mx"))
    // tmp is written BEFORE dst is deleted, so an incremental update
    // that lazily reads the old manifest executes against live files
    stamped.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (fs.exists(dst)) fs.delete(dst, true)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"rename $tmp -> $dst failed")
    clearStatsPending(name)
  }

  private def statsPendingPath(name: String) =
    new Path(path(name), "_graft_stats_pending")

  /** WRITE-AHEAD dirt marker for the skipping manifest of an
    * UN-governed, in-place-maintained table (FTS/trigram/IVF
    * postings): every dynamic-partition overwrite / partition drop
    * sets it BEFORE mutating files, [[writeStatsManifest]] clears it
    * after the refresh — so a crash in the window between them leaves
    * the flag on disk, and a manifest-driven prune can detect the
    * stale envelopes with ONE existence probe instead of the O(files)
    * directory listing the prune path exists to avoid. Governed
    * tables don't need it (their manifest guard re-syncs against the
    * commit's live set).
    */
  private[store] def markStatsPending(name: String): Unit =
    if (hasFileStats(name)) writeSmall(statsPendingPath(name), "")

  private def clearStatsPending(name: String): Unit = {
    val p = statsPendingPath(name)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** False while an in-place mutation has run without its manifest
    * refresh — the search-path staleness probe (O(1)).
    */
  private[store] def statsManifestFresh(name: String): Boolean =
    !fs.exists(statsPendingPath(name))

  /** (Re)build the persisted manifest for `name` from its current
    * files — a distributed footer read. Call once (or via
    * `compactZorder` / the refresh-stats CLI) to opt a table into
    * footer-free pruning; every write path keeps it fresh thereafter.
    */
  def refreshFileStats(name: String): Unit =
    if (activeTx.exists(_.pending.contains(name))) () // deferred to commit
    else {
      val files = dataFiles(name)
      // zero data files (e.g. a governed table whose live set was
      // emptied): statCols would read() and throw — a marker-only
      // manifest is the correct description of "no files"
      if (files.isEmpty) writeStatsManifest(name, emptyStatsFrame)
      else writeStatsManifest(name,
        footerStatsDf(files, statCols(name), qualifiedDir(name)))
    }

  /** O(changed files) manifest refresh for UN-governed tables
    * maintained by dynamic partition overwrite (FTS/trigram/IVF
    * postings): rows for files still on disk carry over, only files
    * that appeared since the last refresh are footer-read, rows for
    * gone files drop. (Governed tables get exactly this from the
    * commit itself — step 4 of commitTx; this is the same contract
    * for the in-place path, where a full [[refreshFileStats]] per
    * batch would re-open every footer of a 10^6-file index.) Falls
    * back to the full build when no usable manifest exists.
    */
  def refreshFileStatsIncremental(name: String): Unit =
    if (activeTx.exists(_.pending.contains(name))) () // deferred to commit
    else if (!hasFileStats(name) || !manifestHasRowCounts(name))
      refreshFileStats(name)
    else {
      val live = dataFiles(name)
      if (live.isEmpty) { writeStatsManifest(name, emptyStatsFrame); return }
      val dir = qualifiedDir(name) + "/"
      val liveRel = live.map(_.stripPrefix(dir)).toSet
      import org.apache.spark.sql.functions.col
      val prior = spark.read.parquet(statsPath(name).toString)
        .filter(col("col") =!= StatsRowsMarker)
      val priorRel = prior.filter(col("col") === "")
        .select("file").collect().map(_.getString(0)).toSet
      val fresh = live.filterNot(f => priorRel(f.stripPrefix(dir)))
      // materialize the carried rows: writeStatsManifest deletes the
      // old manifest AFTER writing the tmp, but keep the plan simple
      val kept = prior.filter(col("file")
        .isInCollection(liveRel.intersect(priorRel)))
      if (fresh.isEmpty && priorRel == liveRel)
        clearStatsPending(name) // already exact — the refresh ran
      else writeStatsManifest(name, kept.unionByName(
        footerStatsDf(fresh, statCols(name), qualifiedDir(name))))
    }

  /** The maintained manifest as a DataFrame of (file, col, mn, mx)
    * with ABSOLUTE file paths (presence rows carry col = ""), or None
    * for a table that never opted in.
    */
  def fileStatsTable(name: String): Option[DataFrame] =
    if (!hasFileStats(name)) None
    else {
      import org.apache.spark.sql.functions.{col, concat, lit}
      Some(spark.read.parquet(statsPath(name).toString)
        .withColumn("file", concat(lit(qualifiedDir(name) + "/"), col("file"))))
    }

  /** Per-file [min, max] envelopes of integral columns. For a table
    * that maintains a `_graft_stats` manifest the ENTIRE answer —
    * including the file list itself, from the presence rows — comes
    * from the manifest: zero footer opens AND zero driver directory
    * listings on the prune path (the last O(files) driver walk the
    * round-6 audit flagged). Every write path maintains the manifest
    * transactionally, so its presence rows ARE the live file set; an
    * out-of-band write that bypasses the store is exactly what
    * [[Doctor]]'s file-stats invariant detects ("run refresh-stats"),
    * the same staleness contract Delta/Iceberg logs carry. Tables
    * without a manifest keep the listing + driver footer walk. A
    * column absent from a file's stats is absent from its map.
    */
  def fileEnvelopes(
      name: String, cols: Seq[String]): Seq[(String, Map[String, (Long, Long)])] =
    fileEnvelopes0(name, cols, retried = false)

  /** Governed-table staleness guard for the manifest-driven read
    * paths: a crash between a commit's pointer flip and its manifest
    * refresh (commitTx step 4) — or an out-of-band write — leaves the
    * manifest describing a PREVIOUS epoch's files, and a
    * manifest-driven prune would then silently serve retired
    * (pre-vacuum) files that disagree with read(). Presence rows must
    * match the live set exactly; on mismatch the caller refreshes and
    * retries once (slower once, never wrong — the same staleness
    * contract Doctor's file-stats invariant reports). Skipped
    * mid-transaction for a staged table: there the manifest
    * legitimately describes the committed epoch while the pending
    * files are not in place yet.
    */
  private def manifestStale(name: String, presenceAbs: Set[String]): Boolean =
    isGoverned(name) && !activeTx.exists(_.pending.contains(name)) &&
      presenceAbs != dataFiles(name).toSet

  /** Driver footer walk over the LIVE file set — the no-manifest
    * path, and the fallback a pinned (or irreparably stale) reader
    * takes instead of trusting a manifest that describes some other
    * epoch.
    */
  private def footerWalkEnvelopes(
      name: String, cols: Seq[String]): Seq[(String, Map[String, (Long, Long)])] = {
    val files = dataFiles(name)
    val conf = spark.sparkContext.hadoopConfiguration
    files.map(f => (f,
      TableStore.footerEnvelope(f, conf, cols)._2
        .map { case (c, mn, mx) => c -> (mn, mx) }.toMap))
  }

  private def fileEnvelopes0(
      name: String, cols: Seq[String],
      retried: Boolean): Seq[(String, Map[String, (Long, Long)])] =
    fileStatsTable(name) match {
      case Some(st) =>
        import org.apache.spark.sql.functions.col
        // deliberate driver-side collect: (files × (1 + |cols|)) tiny
        // rows — the same driver-resident skipping state Delta keeps
        // when it evaluates its stats log. ~10^6 files × a few query
        // columns is tens of MB; if tables ever outgrow that, the
        // prune itself becomes a distributed anti-join against the
        // manifest, not a bigger collect.
        val rows = st.filter(col("col").isin("" +: cols: _*)).collect()
        val presence = rows.filter(_.getString(1).isEmpty)
          .map(_.getString(0)).toSet
        if (manifestStale(name, presence)) {
          if (pinnedCommit.isDefined || retried)
            // a PINNED reader must neither trust a manifest that
            // describes another epoch (the pin would silently leak)
            // nor "heal" it backwards to the pinned file set
            // (corrupting it for every un-pinned reader): walk the
            // pinned live set's footers instead — slower, never
            // wrong, writes nothing. Same escape if a refresh somehow
            // failed to converge (retried).
            footerWalkEnvelopes(name, cols)
          else {
            refreshFileStats(name)
            fileEnvelopes0(name, cols, retried = true)
          }
        } else {
          val env = rows.filter(_.getString(1).nonEmpty)
            .groupBy(_.getString(0))
            .map { case (f, rs) => f ->
              rs.map(r => r.getString(1) -> (r.getLong(2), r.getLong(3))).toMap }
          // presence rows carry col = "" — one per file, stats or not
          presence.toSeq.sorted
            .map(f => (f, env.getOrElse(f, Map.empty[String, (Long, Long)])))
        }
      case None => footerWalkEnvelopes(name, cols)
    }

  /** The files a stats-aware scan must open for a conjunction of
    * closed-range predicates `col BETWEEN lo AND hi` — every file
    * whose footer envelope overlaps ALL ranges (a file without stats
    * for a predicate column is kept: can't prune what can't be
    * proven). This is the READ-PATH dividend of `compactZorder`: after
    * z-ordering on (x, y), a 2-dim box predicate keeps a small
    * fraction of files, where plain `compact(sortBy = x)` keeps them
    * all (ZOrderSpec measures both). At 100 TB this listing-level skip
    * is what Delta/Iceberg data-skipping indexes do with the same
    * stats; the engine-level analog (parquet row-group skipping via
    * pushed filters) additionally prunes WITHIN the files kept here.
    */
  def pruneFiles(
      name: String, preds: Seq[(String, Long, Long)]): Seq[String] =
    fileEnvelopes(name, preds.map(_._1)).collect {
      case (f, env) if preds.forall { case (c, lo, hi) =>
        env.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
      } => f
    }

  /** Read only the files [[pruneFiles]] keeps for `preds` — result
    * equals the full scan filtered to the same ranges (pruned files
    * provably hold no matching rows). The caller still applies the
    * row-level filter; this trims the FILE list.
    */
  /** Manifest-driven cardinality estimate for a pruned range scan —
    * the reference's progress-bar estimate (A3,
    * `/root/reference/cli.py:151-157` guesses work from count fields
    * before fetching) promoted to the query layer: the sum of the
    * ROW COUNTS of exactly the files [[pruneFiles]] keeps for
    * `preds`, read from the presence rows' footer totals — zero data
    * I/O, zero file opens on a manifest-backed table. With no
    * predicates this is the table's total row count. The estimate is
    * an UPPER BOUND on the rows a filtered scan returns (kept files
    * may hold non-matching rows) and EXACT for the file-level scan
    * (readPruned(preds).count() — a spec pins both). None when the
    * table has no stats manifest (estimate would cost footer opens —
    * callers fall back to counting or opt in via refreshFileStats).
    */
  def estimateRows(
      name: String, preds: Seq[(String, Long, Long)] = Nil): Option[Long] =
    statsSummary(name, preds).map(_._1)

  /** One-pass form of the estimate report: (estimated rows, total
    * rows, kept files, total files) from a SINGLE presence-row
    * collect plus one prune — the `estimate` CLI / `Explain --stats`
    * backend (four independent estimateRows/dataFiles calls would
    * re-collect the manifest each time; at 10^6 files that matters).
    * None under the same conditions as [[estimateRows]].
    */
  def statsSummary(name: String, preds: Seq[(String, Long, Long)])
      : Option[(Long, Long, Int, Int)] =
    statsSummary0(name, preds, retried = false)

  private def statsSummary0(
      name: String, preds: Seq[(String, Long, Long)],
      retried: Boolean): Option[(Long, Long, Int, Int)] =
    fileStatsTable(name).flatMap { st =>
      import org.apache.spark.sql.functions.col
      val rows = st.filter(col("col") === "" || col("col") === StatsRowsMarker)
        .collect()
      val presence0 = rows.filter(_.getString(1).isEmpty)
        .map(_.getString(0)).toSet
      // same post-crash staleness guard as the prune path: estimates
      // must describe the live epoch, not the one before the flip. A
      // PINNED reader gets None instead (estimate honestly
      // unavailable for its epoch — callers fall back to counting);
      // it must not refresh (see fileEnvelopes0) and the manifest's
      // row counts describe a different epoch.
      if (manifestStale(name, presence0)) {
        if (pinnedCommit.isDefined || retried) None
        else {
          refreshFileStats(name)
          statsSummary0(name, preds, retried = true)
        }
      } else if (!rows.exists(_.getString(1) == StatsRowsMarker)) None
      else {
        val presence = rows.filter(_.getString(1).isEmpty)
        val keep = pruneFiles(name, preds).toSet
        val kept = presence.filter(r => keep(r.getString(0)))
        Some((kept.map(_.getLong(2)).sum, presence.map(_.getLong(2)).sum,
          kept.length, presence.length))
      }
    }

  def readPruned(
      name: String, preds: Seq[(String, Long, Long)]): DataFrame =
    readFileSubset(name, pruneFiles(name, preds))

  /** Read an explicit (pre-pruned) absolute-path file subset of
    * `name`, schema-identical to `read(name)` — the shared tail of
    * [[readPruned]] and callers with their own prune semantics (the
    * FTS term probe unions ranges instead of intersecting them).
    */
  private[store] def readFileSubset(
      name: String, keep: Seq[String]): DataFrame =
    if (keep.isEmpty)
      read(name).limit(0)
    else
      // basePath keeps Hive partition discovery working on leaf-file
      // reads, so a partitioned table's partition columns survive and
      // both branches return the same schema as read(name)
      spark.read.option("basePath", path(name)).parquet(keep: _*)

  // -------------------------------------------------------------------
  // Epoch-pointer commit log — atomic MULTI-TABLE visibility. The
  // reference wraps each streamed tweet's six table writes in one
  // SQLite transaction (`/root/reference/cli.py:664-668` `with
  // db.conn:`; save_tweets touches tweets/users/places/sources/media/
  // media_tweets, `utils.py:411-446`), so a reader never observes a
  // tweet whose user row hasn't landed. The per-table swap above is
  // atomic per TABLE only; this section restores the reference's
  // point-in-time guarantee with the design every table format at this
  // scale uses (Delta/Iceberg snapshot logs): writes STAGE files,
  // reads resolve through a commit pointer, and one pointer-file
  // rename flips every governed table from all-old to all-new at once.
  //
  // Layout under `<root>/_graft_epoch/`:
  //   commit-<epoch%020d>   lines `<table>\t<listfile>` — THE pointer;
  //                         readers resolve the max-epoch file
  //   files-<table>-<epoch> one live data-file rel path per line
  //                         (immutable once written; unchanged tables
  //                         re-reference their old list, so a commit
  //                         writes O(changed tables' files) metadata,
  //                         not O(store) — the Iceberg manifest-list
  //                         trick)
  //   stage/<...>           per-transaction staging dirs
  //
  // Governance is opt-in per table (ensureGoverned): un-governed
  // tables keep the plain swap exactly as before. For governed tables
  // EVERY write path routes through staging — a write outside an
  // explicit `transact` block becomes its own single-table commit, so
  // compaction, z-order, upserts and markers all stay correct without
  // knowing about epochs. Untouched files carry across epochs BY
  // REFERENCE (the new list names the old files), so the bucketed
  // upsert keeps its O(touched buckets) property through an atomic
  // commit — nothing is ever copied.
  //
  // Crash matrix: before the pointer rename, readers resolve the old
  // commit and see the complete OLD state of every table (staged or
  // even already-moved files are unreferenced and invisible); after
  // it, the complete NEW state. Replaced files stay on disk until
  // [[vacuumEpochs]], so a reader that planned against the old commit
  // finishes its scan. Single writer per store root (the reference's
  // SQLite model); readers are unrestricted and cross-process.

  private def epochDir = new Path(root, "_graft_epoch")
  private def stageRoot = new Path(epochDir, "stage")

  /** A live file: `base` is the table dir for committed files or a
    * staging dir mid-transaction; `rel` preserves the Hive partition
    * subpath so moved files keep their layout.
    */
  private case class FileRef(base: Path, rel: String, staged: Boolean)

  private class TxState {
    val pending = scala.collection.mutable.LinkedHashMap[String, Seq[FileRef]]()
    val staging = scala.collection.mutable.Buffer[Path]()
    val deferred = scala.collection.mutable.Buffer[() => Unit]()
    // WHY each table changed (append/upsert/compact/overwrite/delete) —
    // stamped into the commit's log entries so incremental consumers
    // can skip rewrite-only commits (Iceberg's REPLACE-snapshot rule)
    val ops = scala.collection.mutable.LinkedHashMap[String, String]()
    // tables whose pending state came from a WHOLE-TABLE replace: the
    // commit clears their layout markers (the invariant the
    // ungoverned dir-swap provided for free), and any deferred marker
    // write then re-declares what still applies
    val fullyReplaced = scala.collection.mutable.Set[String]()
    var n = 0
  }

  /** Run `action` now — unless an open transaction staged `name`, in
    * which case it runs after the commit's pointer flip (metadata
    * markers must never land ahead of the data they describe).
    */
  private def deferInTx(name: String, action: () => Unit): Unit =
    activeTx match {
      case Some(tx) if tx.pending.contains(name) => tx.deferred += action
      case _ => action()
    }
  private var activeTx: Option[TxState] = None

  /** Whether a [[transact]] block is open on this instance — the
    * signal [[Retract.cascade]] uses to refuse a MIXED-governance
    * cascade inside an outer transaction (its base delete would stage
    * while un-governed index retractions apply immediately, the
    * unhealable missing-postings direction).
    */
  private[store] def inTransaction: Boolean = activeTx.nonEmpty

  // commit + list files are IMMUTABLE once written (fresh name per
  // epoch), so caching parsed content by file name is safe across
  // writers — only the latest-pointer LISTING hits the FS per resolve
  private val commitCache = scala.collection.mutable.HashMap[String, Map[String, String]]()
  private val listCache = scala.collection.mutable.HashMap[String, Seq[String]]()

  private def readSmall(p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }
  private def writeSmall(p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  /** Write the commit pointer ATOMICALLY: tmp file then rename to the
    * fresh `commit-<epoch>` name. A direct create-and-write would let
    * a crash mid-write (or a concurrent cross-process reader) observe
    * a TRUNCATED max-epoch pointer — tables missing from it would
    * silently read as un-governed directory scans, returning retired
    * files. The tmp name is dot-prefixed so [[listCommits]] can never
    * resolve it.
    */
  private def writePointer(epoch: Long, content: String): Unit =
    if (!tryWritePointer(epoch, content))
      throw new java.util.ConcurrentModificationException(
        s"commit-$epoch already exists — a concurrent writer committed " +
          "first; re-resolve and retry")

  /** Attempt the flip; `false` iff the target pointer name already
    * exists — another writer won epoch `epoch`, the OCC conflict
    * signal [[commitTx]] rebases on. Any other rename failure throws.
    */
  private def tryWritePointer(epoch: Long, content: String): Boolean = {
    val name = f"commit-$epoch%020d"
    val tmp = new Path(epochDir, s".tmp-$name-$writerTag")
    // wall-clock stamped INTO the pointer (a `#`-header line, invisible
    // to the table\tentry parser): file mtimes are the wrong identity
    // for a commit's time — an rsync/copy/restore rewrites them — so
    // TIMESTAMP AS OF resolution and vacuum retention key on this
    // persisted stamp, with mtime only as the legacy-pointer fallback
    writeSmall(tmp, s"#ts=${System.currentTimeMillis()}\n" + content)
    val dst = new Path(epochDir, name)
    atomicPointerPut(tmp, dst)
  }

  /** THE atomicity primitive of the whole commit log: publish `tmp` as
    * `dst` iff `dst` does not exist yet, atomically. Everything else in
    * the log — staging, entries, vacuum — only needs plain writes and
    * deletes; correctness under concurrent writers and crashes reduces
    * to this one put-if-absent. The default is HDFS/POSIX `rename`
    * (atomic, fails-if-exists on both). Object stores without atomic
    * rename (S3) override JUST this method with a conditional put
    * (`If-None-Match: *`) or a small CAS service (DynamoDB — what
    * Delta's S3 LogStore does); see SCALING.md §commit-log. Contract:
    * return true iff this writer's content is now `dst`; false iff
    * `dst` already existed (the OCC conflict signal — `tmp` must be
    * cleaned up); throw on anything else (the commit must not be
    * half-visible).
    */
  protected def atomicPointerPut(tmp: Path, dst: Path): Boolean =
    if (fs.rename(tmp, dst)) true
    else if (fs.exists(dst)) { fs.delete(tmp, false); false }
    else throw new java.io.IOException(
      s"rename $tmp -> $dst failed; commit not visible")

  /** Parse a commit pointer file: table → log entry. One parser for
    * the latest-pointer path and the time-travel path, memoized by
    * the immutable file name.
    */
  private def parseCommit(p: Path): Map[String, String] =
    commitCache.getOrElseUpdate(p.getName,
      readSmall(p).linesIterator
        .filter(l => l.nonEmpty && !l.startsWith("#")) // `#` = headers (ts)
        .map(_.split("\t", 2))
        .collect { case Array(t, lf) => t -> lf }.toMap)

  // pointer files are immutable → stamp memoizes by name, like the
  // entry caches (None = legacy pointer written before stamping)
  private val tsCache = scala.collection.mutable.HashMap[String, Option[Long]]()

  private def commitTsOf(p: Path): Option[Long] =
    tsCache.getOrElseUpdate(p.getName,
      readSmall(p).linesIterator.collectFirst {
        case l if l.startsWith("#ts=") => l.stripPrefix("#ts=").toLong
      })

  private def listCommits(): Seq[(Long, Path)] =
    if (!fs.exists(epochDir)) Nil
    else fs.listStatus(epochDir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("commit-"))
      .flatMap(p => scala.util.Try(
        p.getName.stripPrefix("commit-").toLong).toOption.map(_ -> p))
      .sortBy(_._1)

  /** Retained commits with their wall-clock stamps, epoch-ascending —
    * the persisted `#ts=` header where present (every pointer written
    * since stamping), the pointer file's mtime for legacy pointers.
    * These are the inputs of [[vacuumEpochs]]' retention decision and
    * of [[epochAtTimestamp]], exposed so Doctor can PREDICT which
    * intermediate commits a planned vacuum would drop (the
    * rewrite-skipping horizon check) instead of only reporting the
    * loss after the fact.
    */
  def commitStamps(): Seq[(Long, Long)] =
    listCommits().map { case (e, p) =>
      (e, commitTsOf(p).getOrElse(fs.getFileStatus(p).getModificationTime)) }

  /** The epoch a wall-clock instant resolves to: the LATEST retained
    * commit whose persisted stamp is ≤ `tsMillis` — Delta/Iceberg's
    * `TIMESTAMP AS OF` rule (a query at time T sees the table as the
    * then-current commit served it). Stamps are the commit log's own
    * `#ts=` headers, so a copied/restored store resolves identically —
    * file mtimes play no part for stamped pointers. Throws when
    * `tsMillis` predates every retained commit (vacuumed history or a
    * before-first-commit instant) — never silently serves a newer
    * epoch. Robust to cross-writer clock skew: the scan takes the max
    * qualifying epoch rather than assuming stamps are monotone.
    */
  def epochAtTimestamp(tsMillis: Long): Long = {
    val stamps = commitStamps()
    require(stamps.nonEmpty, "no commits — govern tables first")
    val at = stamps.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"no retained commit at or before ts=$tsMillis (earliest retained: " +
        s"epoch ${stamps.head._1} at ${stamps.head._2}) — vacuumed, or a " +
        "before-first-commit instant")
    at.map(_._1).max
  }

  // entry filenames carry a per-store random tag so two OCC writers
  // staging the SAME table at the same epoch can never overwrite each
  // other's immutable log entries before the pointer flip arbitrates
  // (the loser aborts at the flip, but its entry write must not have
  // corrupted the winner's already-referenced list)
  private val writerTag = java.util.UUID.randomUUID().toString.take(8)

  // read-side twin of activeTx: a snapshot scope pins the resolved
  // commit so every governed read inside serves ONE epoch
  private var pinnedCommit: Option[(Long, Map[String, String])] = None

  /** (epoch, table → list-file name) of the latest commit — or the
    * PINNED commit inside a [[withSnapshot]] scope, if any.
    */
  private def currentCommit: Option[(Long, Map[String, String])] =
    pinnedCommit.orElse(
      listCommits().lastOption.map { case (e, p) => (e, parseCommit(p)) })

  /** Read-side twin of [[transact]]: resolve the commit pointer ONCE
    * and serve every governed read inside `f` from that commit, so a
    * multi-table query — a tweets⋈users join built side by side — can
    * never straddle a concurrent commit flip and plan table A at
    * epoch N while table B resolves N+1 (the torn view the write-side
    * log kills, resurfacing at query-plan level; the reference's
    * single SQLite connection gives this for free). File lists are
    * baked into the plan at DataFrame construction, and replaced
    * files stay on disk until [[vacuumEpochs]]' retention window
    * passes, so frames built inside the scope stay collectable after
    * it. Governed WRITES inside the scope are refused loudly — a
    * snapshot is read-only by definition (a commit computed against a
    * pinned stale base would be a lost update).
    */
  def withSnapshot[T](f: => T): T = {
    require(pinnedCommit.isEmpty, "nested withSnapshot is not supported")
    require(activeTx.isEmpty,
      "withSnapshot inside transact is redundant — a transaction " +
        "already reads its own pending state consistently")
    pinnedCommit = listCommits().lastOption.map { case (e, p) => (e, parseCommit(p)) }
    try f finally pinnedCommit = None
  }

  /** The latest committed epoch, or None when nothing is governed yet
    * — the non-throwing poll for consumers that start before the
    * first commit (the streaming source's getOffset). Pure pointer
    * read, no data I/O.
    */
  def currentEpochIfAny: Option[Long] = currentCommit.map(_._1)

  /** A frozen commit handle ([[Snapshot]]): every `.read` resolves
    * from the SAME epoch, however many commits land in between — the
    * handle form of [[withSnapshot]] for callers that pass a reader
    * around. Throws if nothing is governed yet (no commit to pin).
    */
  def snapshot(): Snapshot = {
    val (e, tables) = currentCommit.getOrElse(throw new IllegalStateException(
      "no commit to snapshot — govern tables first (ensureGoverned)"))
    new Snapshot(this, e, tables)
  }

  /** Resolve `name` against an explicit commit's entries — the shared
    * core of [[readEpoch]] and [[Snapshot.read]].
    */
  private[store] def readResolved(
      name: String, tables: Map[String, String], epoch: Long): DataFrame = {
    val rels = tables.get(name) match {
      case Some(lf) => resolveEntry(lf)
      case None => throw new IllegalArgumentException(
        s"$name was not governed at epoch $epoch")
    }
    // an empty snapshot must NOT fall back to a directory scan — the
    // dir may hold files from OTHER epochs (retired or newer), which
    // would silently serve out-of-snapshot data. A DECLARED schema
    // (SQL CREATE before any insert) serves the empty frame instead.
    if (rels.isEmpty) declaredSchemaOf(name) match {
      case Some(s) =>
        spark.createDataFrame(new java.util.ArrayList[Row](), s)
      case None => throw new IllegalStateException(
        s"$name has no files at epoch $epoch (empty snapshot)")
    }
    else memoParquet(path(name), rels)
  }

  private val SchemaMarkerFile = "_graft_schema"
  private val DroppedMarkerFile = "_graft_dropped"
  private val RenamedMarkerFile = "_graft_renamed"

  private def schemaPath(name: String) = new Path(path(name), SchemaMarkerFile)
  private def droppedPath(name: String) = new Path(path(name), DroppedMarkerFile)
  private def renamedPath(name: String) = new Path(path(name), RenamedMarkerFile)

  /** Record column names as DROPPED from the declared SQL surface —
    * the metadata-only half of `ALTER TABLE ... DROP COLUMN` (the ADD
    * mirror of [[declareSchema]]'s widening): data files are never
    * rewritten (at 100 TB a DROP COLUMN must not touch them), the
    * catalog's reader simply projects the column out of CURRENT reads,
    * and time-travel keeps each epoch's own shape. The tombstone list
    * REPLACES wholesale (pass the full set); an empty list clears the
    * marker. Kept separate from the schema marker so legacy markers
    * (plain StructType json) parse unchanged.
    */
  def declareDropped(name: String, cols: Seq[String]): Unit = {
    fs.mkdirs(new Path(path(name)))
    if (cols.isEmpty) fs.delete(droppedPath(name), false)
    else writeSmall(droppedPath(name), cols.mkString("\n"))
  }

  /** Column names dropped from the declared SQL surface (empty when
    * none) — consulted by the catalog's current-read projection and by
    * ADD COLUMN's resurrect guard (re-adding a dropped name would
    * serve the OLD values still in the data files, not nulls).
    */
  def droppedColumnsOf(name: String): Seq[String] =
    if (!fs.exists(droppedPath(name))) Seq.empty
    else readSmall(droppedPath(name)).linesIterator
      .map(_.trim).filter(_.nonEmpty).toSeq

  /** Record the physical→surface column NAME MAP — the metadata-only
    * half of `ALTER TABLE ... RENAME COLUMN` (the sibling of
    * [[declareDropped]]'s tombstone): data files keep the column's
    * BIRTH name forever (at 100 TB a rename must not touch them), the
    * catalog's current reads serve the mapped surface name, write
    * paths translate surface→physical before landing, and time-travel
    * keeps each epoch's own (physical) shape. The map REPLACES
    * wholesale (pass the full set); identity entries are elided; an
    * empty map clears the marker. Like the dropped tombstone this is
    * a SQL-surface contract — the library's own read/upsert verbs
    * keep operating on physical names.
    */
  def declareRenamed(name: String, physToSurface: Seq[(String, String)]): Unit = {
    fs.mkdirs(new Path(path(name)))
    val kept = physToSurface.filter { case (p, s) => p != s }
    if (kept.isEmpty) fs.delete(renamedPath(name), false)
    else writeSmall(renamedPath(name),
      kept.map { case (p, s) => s"$p\t$s" }.mkString("\n"))
  }

  /** The physical→surface column name map (empty when no column was
    * ever SQL-renamed), in declaration order. Consulted by the
    * catalog's current-read projection, every SQL write path's
    * surface→physical translation, and the CDC readers' member-frame
    * surfacing.
    */
  def renamedColumnsOf(name: String): Seq[(String, String)] =
    if (!fs.exists(renamedPath(name))) Seq.empty
    else readSmall(renamedPath(name)).linesIterator
      .map(_.trim).filter(_.nonEmpty).map { line =>
        val i = line.indexOf('\t')
        require(i > 0, s"corrupt rename marker line for $name: '$line'")
        (line.substring(0, i), line.substring(i + 1))
      }.toSeq

  /** Apply the rename map to a PHYSICAL-shape frame, producing the
    * surface shape current SQL reads serve. Columns absent from the
    * frame are skipped (a projection may have pruned them).
    */
  def toSurface(name: String, df: DataFrame): DataFrame =
    toSurface(renamedColumnsOf(name), df)

  /** [[toSurface]] with an already-read map — for callers on a hot
    * path that just read it (the streaming source reads the map once
    * per member per batch for its changed-mid-stream check).
    */
  def toSurface(map: Seq[(String, String)], df: DataFrame): DataFrame = {
    val resolver = spark.sessionState.conf.resolver
    map.foldLeft(df) { case (d, (phys, surf)) =>
      if (d.columns.exists(resolver(_, phys)))
        d.withColumnRenamed(phys, surf)
      else d
    }
  }

  /** Apply the rename map in REVERSE to a SURFACE-shape frame (a SQL
    * INSERT/UPDATE/MERGE batch), producing the physical shape the
    * store's files carry.
    */
  def toPhysical(name: String, df: DataFrame): DataFrame = {
    val resolver = spark.sessionState.conf.resolver
    renamedColumnsOf(name).foldLeft(df) { case (d, (phys, surf)) =>
      if (d.columns.exists(resolver(_, surf)))
        d.withColumnRenamed(surf, phys)
      else d
    }
  }

  /** A schema's field names mapped physical→surface — the schema-level
    * sibling of [[toSurface]], for readers that union or compare
    * schemas (CDC shape resolution, Doctor's drift check).
    */
  def surfaceSchemaOf(name: String,
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    val m = renamedColumnsOf(name)
    if (m.isEmpty) schema
    else {
      val resolver = spark.sessionState.conf.resolver
      org.apache.spark.sql.types.StructType(schema.fields.map { f =>
        m.find { case (p, _) => resolver(p, f.name) }
          .fold(f) { case (_, s) => f.copy(name = s) }
      })
    }
  }

  /** Resolve ONE surface column name to the physical name the data
    * files carry (identity when never renamed) — session-resolver
    * semantics, the same rule the catalog's ALTER guards use.
    */
  def physicalColumnOf(name: String, col: String): String = {
    val resolver = spark.sessionState.conf.resolver
    renamedColumnsOf(name)
      .find { case (_, surf) => resolver(surf, col) }
      .fold(col)(_._1)
  }

  /** Persist the DECLARED schema of a table created EMPTY (SQL
    * CREATE / CTAS, before any insert): [[declaredSchemaOf]] lets
    * readers serve a zero-row frame of this shape while the table
    * holds no data files. Underscore-prefixed like the layout marker —
    * invisible to parquet scans and the file-stats walkers. Strictly a
    * FALLBACK: the moment data lands, the data's own schema wins
    * everywhere (flat overwrites even delete the marker with the old
    * dir; on bucketed layouts it lingers, consulted again only if a
    * delete empties the table — where serving the original declared
    * shape is the right answer).
    */
  def declareSchema(name: String, schema: org.apache.spark.sql.types.StructType): Unit = {
    fs.mkdirs(new Path(path(name)))
    writeSmall(schemaPath(name), schema.json)
  }

  def declaredSchemaOf(name: String): Option[org.apache.spark.sql.types.StructType] =
    if (!fs.exists(schemaPath(name))) None
    else Some(org.apache.spark.sql.types.DataType.fromJson(
      readSmall(schemaPath(name))).asInstanceOf[org.apache.spark.sql.types.StructType])

  /** Tables whose visibility is governed by the commit pointer. */
  def governed: Set[String] = currentCommit.map(_._2.keySet).getOrElse(Set.empty)

  private def isGoverned(name: String): Boolean =
    fs.exists(epochDir) && currentCommit.exists(_._2.contains(name))

  // chain compaction bound: after this many delta links a commit
  // writes a full list again, so resolution reads ≤ MaxDeltaDepth+1
  // small files and vacuum reachability stays shallow
  private val MaxDeltaDepth = 10

  private val depthCache = scala.collection.mutable.HashMap[String, Int]()

  /** Resolve a commit entry to its full rel-path list. `files-*`
    * entries ARE the list; `delta-*` entries carry `base=<entry>` +
    * `+rel`/`-rel` lines and resolve recursively — the Delta-log
    * trick that makes a commit write O(batch) metadata instead of
    * O(table files). Entries are immutable once written, so the
    * resolved set caches by name across the store's lifetime.
    */
  private def resolveEntry(entry: String): Seq[String] =
    listCache.getOrElseUpdate(entry, {
      val content = readSmall(new Path(epochDir, entry))
      if (!entry.startsWith("delta-")) {
        depthCache(entry) = 0
        // `#`-prefixed lines are headers (op=…); rel paths never start
        // with `#` (partition dirs are `col=value`, part files `part-…`)
        content.linesIterator.filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
      } else {
        val lines = content.linesIterator.toSeq
        val base = lines.collectFirst {
          case l if l.startsWith("base=") => l.stripPrefix("base=")
        }.getOrElse(throw new IllegalStateException(
          s"delta entry $entry carries no base= header"))
        depthCache(entry) = lines.collectFirst {
          case l if l.startsWith("depth=") => l.stripPrefix("depth=").toInt
        }.getOrElse(1)
        val set = scala.collection.mutable.LinkedHashSet(resolveEntry(base): _*)
        lines.foreach { l =>
          if (l.startsWith("+")) set += l.substring(1)
          else if (l.startsWith("-")) set -= l.substring(1)
        }
        set.toSeq
      }
    })

  private def entryDepth(entry: String): Int = {
    if (!depthCache.contains(entry)) resolveEntry(entry) // populates
    depthCache(entry)
  }

  // entry → op tag, memoized like the list/depth caches (entries are
  // immutable once written)
  private val opCache = scala.collection.mutable.HashMap[String, String]()

  /** The operation that produced a log entry — [[TableStore.OpUnknown]]
    * for entries written before op stamping (treated as a logical
    * change: never skipped).
    */
  private def opOf(entry: String): String =
    opCache.getOrElseUpdate(entry, {
      readSmall(new Path(epochDir, entry)).linesIterator.collectFirst {
        case l if l.startsWith("#op=") => l.stripPrefix("#op=")
        case l if entry.startsWith("delta-") && l.startsWith("op=") =>
          l.stripPrefix("op=")
      }.getOrElse(OpUnknown)
    })

  /** RETAINED commit history affecting `name`, oldest first: (epoch,
    * op, n_files) of every retained commit that changed the table's
    * file list — the `$history` metadata surface (Iceberg's snapshots
    * table). The first retained entry counts as a change (its op is
    * whatever produced it — earlier history may have been vacuumed).
    * Pure metadata walk, O(retained commits).
    */
  def tableHistory(name: String): Seq[(Long, String, Int)] = {
    val commits = listCommits()
    val cmap = commits.toMap
    var prevEntry: Option[String] = None
    var out = Seq.newBuilder[(Long, String, Int)]
    commits.map(_._1).sorted.foreach { e =>
      val cur = entryAt(name, cmap, e)
      if (cur != prevEntry) {
        // a governance GAP (the table left the commit log — DROP, or
        // an explicit ungovern) ends the incarnation: a re-created
        // table of the same name starts its history fresh; the dead
        // incarnation's epochs are not ITS history (their reads fail
        // loudly — the files are gone)
        if (cur.isEmpty && prevEntry.nonEmpty)
          out = Seq.newBuilder[(Long, String, Int)]
        cur.foreach(en => out += ((e, opOf(en), resolveEntry(en).size)))
        prevEntry = cur
      }
    }
    out.result()
  }

  /** Every log entry reachable from `entry` through base= links —
    * what vacuum must retain for the current commit to resolve.
    */
  private def reachableEntries(entry: String): Set[String] = {
    resolveEntry(entry) // ensure headers cached / base chain readable
    if (!entry.startsWith("delta-")) Set(entry)
    else {
      val base = readSmall(new Path(epochDir, entry)).linesIterator
        .collectFirst { case l if l.startsWith("base=") => l.stripPrefix("base=") }
        .get
      reachableEntries(base) + entry
    }
  }

  private def committedRefs(name: String): Seq[FileRef] =
    currentCommit.flatMap(_._2.get(name)).toSeq.flatMap { lf =>
      resolveEntry(lf)
        .map(r => FileRef(new Path(path(name)), r, staged = false))
    }

  /** Post-pending live set inside a transaction, committed set outside. */
  private def liveRefs(name: String): Seq[FileRef] =
    activeTx.flatMap(_.pending.get(name)).getOrElse(committedRefs(name))

  private def walkParquetRel(dir: Path): Seq[String] = {
    val prefix = dir.toString + "/"
    def walk(p: Path): Seq[String] =
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.flatMap { st =>
        val base = st.getPath.getName
        if (base.startsWith("_") || base.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath)
        else if (base.endsWith(".parquet"))
          Seq(fs.makeQualified(st.getPath).toString
            .stripPrefix(fs.makeQualified(dir).toString + "/").stripPrefix(prefix))
        else Nil
      }
    walk(dir)
  }

  /** Opt `names` into epoch-pointer governance: their CURRENT files
    * become epoch 1 (or join the live epoch), and every later write —
    * plain upsert, bucketed merge, compact, overwrite — stages and
    * commits through the pointer. Idempotent for already-governed
    * tables; a table that does not exist yet is governed empty (its
    * first write creates it atomically).
    */
  def ensureGoverned(names: Seq[String]): Unit = {
    require(activeTx.isEmpty, "cannot change governance inside a transaction")
    require(pinnedCommit.isEmpty, "cannot change governance inside withSnapshot")
    val (epoch, tables) = currentCommit.getOrElse((0L, Map.empty[String, String]))
    val missing = names.filterNot(tables.contains)
    if (missing.isEmpty) return
    val next = epoch + 1
    fs.mkdirs(epochDir)
    val added = missing.map { n =>
      val rels =
        if (exists(n)) walkParquetRel(new Path(path(n))) else Seq.empty[String]
      val lf = s"files-$n-$next-$writerTag"
      writeSmall(new Path(epochDir, lf), (s"#op=$OpGovern" +: rels).mkString("\n"))
      opCache(lf) = OpGovern
      n -> lf
    }
    writePointer(next,
      (tables ++ added).toSeq.sorted.map { case (t, lf) => s"$t\t$lf" }.mkString("\n"))
  }

  /** Run `f` with every governed-table write STAGED, then commit them
    * all with one pointer flip: a reader — concurrent or after a crash
    * anywhere inside `f` or before the flip — sees either the complete
    * old state of every table or the complete new state, never a
    * mixture. This is the engine's equivalent of the reference's
    * per-tweet SQLite transaction around save_tweets' six table
    * writes. Writes to UN-governed tables inside `f` apply
    * immediately (they are outside the atomic group by construction).
    * Any exception aborts: staging is discarded, nothing was visible.
    */
  def transact[T](f: => T): T = {
    require(activeTx.isEmpty, "nested transact is not supported")
    require(pinnedCommit.isEmpty,
      "governed writes inside withSnapshot are refused — a commit " +
        "computed against a pinned stale base would be a lost update")
    val tx = new TxState
    activeTx = Some(tx)
    val r =
      try f
      catch {
        case e: Throwable =>
          activeTx = None
          tx.staging.foreach(p => if (fs.exists(p)) fs.delete(p, true))
          throw e
      }
    activeTx = None
    commitTx(tx)
    r
  }

  /** [[transactWithRetry]]: [[transact]] with bounded automatic retry of SAME-TABLE OCC
    * overlaps — the serialization loop the reference's single SQLite
    * writer gets from its connection lock. `f` MUST be an idempotent
    * batch-builder: on an overlap abort it is re-executed verbatim
    * against the REBASED base (governed reads inside `f` resolve the
    * interleaved writer's commit on the retry, so a read-merge-write
    * batch recomputes against fresh state — no lost update). Disjoint
    * concurrent commits still rebase without retrying; any other
    * failure propagates immediately. The loser's already-moved staged
    * files from a failed attempt are unreferenced (invisible) and
    * reclaimed by [[vacuumEpochs]]. Past `maxAttempts` the final
    * overlap propagates loudly.
    */
  def transactWithRetry[T](maxAttempts: Int)(f: => T): T = {
    require(maxAttempts >= 1, s"maxAttempts must be ≥ 1: $maxAttempts")
    var attempt = 1
    while (true) {
      try return transact(f)
      catch {
        case e: TableStore.OccOverlapException =>
          if (attempt >= maxAttempts) throw e
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Inside a transaction: record with it. Outside: a governed write
    * is its own single-table transaction (stage + immediate commit),
    * so non-transactional callers stay correct without code changes.
    */
  private def withTxWrite(f: TxState => Unit): Unit = activeTx match {
    case Some(tx) => f(tx)
    case None => transact(f(activeTx.get))
  }

  private def newStageDir(tx: TxState, name: String): Path = {
    tx.n += 1
    val p = new Path(stageRoot, s"$name-${java.util.UUID.randomUUID().toString.take(8)}-${tx.n}")
    fs.mkdirs(p)
    tx.staging += p
    p
  }

  /** Whole-table replace, staged: the transactional twin of
    * writeSwapped's delete-and-rename.
    */
  private def stageReplace(
      tx: TxState, name: String, df: DataFrame, partitionBy: Seq[String],
      op: String): Unit = {
    val stage = newStageDir(tx, name)
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(stage.toString)
    tx.pending(name) =
      walkParquetRel(stage).map(r => FileRef(stage, r, staged = true))
    tx.fullyReplaced += name
    recordOp(tx, name, op)
  }

  /** Combine a transaction's op tags per table: repeated same-op writes
    * keep the tag; mixed tags degrade conservatively to a
    * logical-change tag (never to a skippable rewrite), with overwrite
    * dominating (the table's whole content was replaced at some point
    * in the transaction).
    */
  private def recordOp(tx: TxState, name: String, op: String): Unit =
    tx.ops(name) = tx.ops.get(name) match {
      case None | Some(`op`) => op
      case Some(prev) if prev == OpOverwrite || op == OpOverwrite => OpOverwrite
      case _ => OpUpsert
    }

  /** Dynamic-partition overwrite, staged: partitions present in `df`
    * swap their file lists; all other live files carry across BY
    * REFERENCE — the O(touched buckets) property survives the commit.
    */
  private def stagePartitions(
      tx: TxState, name: String, df: DataFrame, partitionBy: Seq[String],
      op: String): Unit = {
    val stage = newStageDir(tx, name)
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*)
      .parquet(stage.toString)
    val staged = walkParquetRel(stage)
    def dirOf(rel: String): String = {
      val i = rel.lastIndexOf('/')
      if (i < 0) "" else rel.substring(0, i)
    }
    val replaced = staged.map(dirOf).toSet
    val kept = liveRefs(name).filterNot(fr => replaced.contains(dirOf(fr.rel)))
    tx.pending(name) = kept ++ staged.map(r => FileRef(stage, r, staged = true))
    recordOp(tx, name, op)
  }

  /** Test seam: invoked after staged files are moved into place but
    * BEFORE the commit pointer is written — the crash window the
    * atomicity spec kills a writer in.
    */
  private[graft] var beforeCommitFlip: () => Unit = () => ()

  /** Test seam: invoked right AFTER the pointer flip, before the
    * stats-manifest refresh (step 4) — the crash window that leaves a
    * manifest describing the previous epoch, which the read-path
    * staleness guard ([[manifestStale]]) must absorb.
    */
  private[graft] var afterCommitFlip: () => Unit = () => ()

  private def commitTx(tx: TxState): Unit = {
    if (tx.pending.isEmpty) {
      tx.staging.foreach(p => if (fs.exists(p)) fs.delete(p, true))
      return
    }
    val (epoch, tables) = currentCommit.getOrElse((0L, Map.empty[String, String]))
    require(tx.pending.keySet.subsetOf(tables.keySet),
      s"transaction wrote un-governed tables ${tx.pending.keySet.toSet -- tables.keySet}")
    val next = epoch + 1
    // pre-flip live sets, for the O(changed) stats refresh in step 4
    val committedBefore: Map[String, Set[String]] =
      tx.pending.keys.map(n => n -> committedRefs(n).map(_.rel).toSet).toMap
    // 1. move staged files into the table dirs (metadata renames;
    //    invisible to readers — nothing references them yet)
    val finalRels: Seq[(String, Seq[String])] = tx.pending.toSeq.map {
      case (name, refs) =>
        name -> refs.map { fr =>
          if (!fr.staged) fr.rel
          else {
            val src = new Path(fr.base, fr.rel)
            val dst0 = new Path(path(name), fr.rel)
            fs.mkdirs(dst0.getParent)
            // Spark part names carry a job UUID, so collisions are
            // theoretical — but never silently overwrite a live file
            val dst =
              if (!fs.exists(dst0)) dst0
              else new Path(dst0.getParent, s"e$next-${dst0.getName}")
            if (!fs.rename(src, dst))
              throw new java.io.IOException(
                s"rename $src -> $dst failed; commit aborted (pointer " +
                  "unflipped — readers still see the old epoch)")
            val rel = fr.rel.take(fr.rel.lastIndexOf('/') + 1) + dst.getName
            rel
          }
        }
    }
    beforeCommitFlip()
    // whole-table replaces drop their layout markers here (pre-flip,
    // same crash atom): the ungoverned dir-swap destroyed markers with
    // the directory, and leaving a bucketed declaration over a staged
    // FLAT replacement would wedge the next upsert on the missing
    // partition column. Deferred marker writes (a conversion in this
    // same tx) re-declare after the flip. A crash here leaves old
    // live data with no marker — re-derived wholesale on the next
    // upsert, never wrong.
    tx.fullyReplaced.foreach { n =>
      fs.delete(layoutPath(n), false)
      fs.delete(new Path(path(n), "_graft_zorder"), false)
    }
    // 2. new log entries for CHANGED tables only; unchanged tables
    //    re-reference their existing immutable entry. A changed table
    //    whose delta vs its previous entry is SMALLER than its full
    //    list writes a delta link (O(batch) commit metadata — the
    //    Delta-log incremental form); chains compact back to a full
    //    list every MaxDeltaDepth links so resolution stays shallow.
    val ourEntries = finalRels.map { case (n, rels) =>
      // WHY this table changed, stamped into the entry so incremental
      // scans can skip rewrite-only commits without reading any data
      val op = tx.ops.getOrElse(n, OpUpsert)
      def writeFull(): String = {
        val lf = s"files-$n-$next-$writerTag"
        writeSmall(new Path(epochDir, lf),
          (s"#op=$op" +: rels).mkString("\n"))
        lf
      }
      val entry = tables.get(n) match {
        case Some(prev) if entryDepth(prev) < MaxDeltaDepth =>
          val old = committedBefore.getOrElse(n, resolveEntry(prev).toSet)
          val newSet = rels.toSet
          val adds = rels.filterNot(old)
          val dels = (old -- newSet).toSeq.sorted
          if (adds.size + dels.size < rels.size) {
            val df = s"delta-$n-$next-$writerTag"
            writeSmall(new Path(epochDir, df),
              (s"base=$prev" +: s"depth=${entryDepth(prev) + 1}" +:
                s"op=$op" +: (adds.map("+" + _) ++ dels.map("-" + _)))
                .mkString("\n"))
            depthCache(df) = entryDepth(prev) + 1
            df
          } else writeFull()
        case _ => writeFull()
      }
      // entries are immutable — memoize the set (and op) we just wrote
      listCache(entry) = rels
      opCache(entry) = op
      if (!entry.startsWith("delta-")) depthCache(entry) = 0
      n -> entry
    }
    // 3. THE atomic step: tmp-write + rename to one fresh pointer
    //    file; readers resolve the max epoch, so visibility flips for
    //    every table at once and a truncated pointer can never appear.
    //    On a pointer COLLISION (a concurrent writer committed this
    //    epoch first) the Delta/Iceberg OCC rule applies: re-resolve
    //    the current commit and re-flip at the next epoch iff the
    //    interleaved commits touched only tables DISJOINT from this
    //    transaction's — our staged entries and moved files stay valid
    //    verbatim (delta bases reference per-table entries the
    //    interleaver did not change). Overlap aborts loudly: merging
    //    two writers' divergent file lists for one table would be a
    //    lost update, exactly what the pointer exists to prevent.
    var base = tables
    var attempt = next
    var flipped = false
    while (!flipped) {
      val content = (base ++ ourEntries).toSeq.sorted
        .map { case (t, lf) => s"$t\t$lf" }.mkString("\n")
      if (tryWritePointer(attempt, content)) flipped = true
      else {
        val (curEpoch, curTables) = currentCommit.getOrElse(
          throw new IllegalStateException(
            s"commit-$attempt exists but no commit resolves — corrupt log?"))
        val changed = (curTables.keySet ++ base.keySet)
          .filter(t => curTables.get(t) != base.get(t))
        val overlap = changed.intersect(tx.pending.keySet)
        if (overlap.nonEmpty)
          throw new TableStore.OccOverlapException(
            s"concurrent commit(s) changed ${overlap.toSeq.sorted.mkString(", ")} " +
              "while this transaction also staged them — rebase is only " +
              "safe for disjoint table sets; re-read and retry the batch " +
              "(or commit through transactWithRetry for bounded " +
              "automatic retry of an idempotent batch)")
        base = curTables
        attempt = curEpoch + 1
      }
    }
    afterCommitFlip()
    // 4. keep the stats manifests of changed tables fresh (the Doctor
    //    invariant) at O(changed files): rows for files still live
    //    carry over, only the NEWLY COMMITTED files are footer-read —
    //    a full refreshFileStats here would re-open every file of a
    //    10^6-file table per batch commit
    finalRels.foreach { case (n, rels) =>
      if (hasFileStats(n)) {
        if (rels.isEmpty)
          // an emptied table: marker-only manifest (statCols would
          // read() the empty live set and throw AFTER a commit that
          // already landed — the abort contract must not lie)
          writeStatsManifest(n, emptyStatsFrame)
        else if (!manifestHasRowCounts(n))
          // legacy manifest (zero-count presence rows): the
          // incremental merge would stamp the format marker over
          // rows that still carry zeros — a silent underestimate.
          // Pay the one-time full footer read instead.
          refreshFileStats(n)
        else {
          val live = rels.toSet
          val prior = committedBefore.getOrElse(n, Set.empty)
          val fresh = rels.filterNot(prior)
          val keepOld = spark.read.parquet(statsPath(n).toString)
            .filter(org.apache.spark.sql.functions.col("file")
              .isInCollection(live.intersect(prior)))
          writeStatsManifest(n, keepOld.unionByName(footerStatsDf(
            fresh.map(r => fs.makeQualified(new Path(path(n), r)).toString),
            statCols(n), qualifiedDir(n))))
        }
      }
    }
    // 5. deferred metadata markers (bucket layout, z-order) land
    //    AFTER the data they describe became visible
    tx.deferred.foreach(_())
    // 6. staging dirs are spent (their files moved out)
    tx.staging.foreach(p => if (fs.exists(p)) fs.delete(p, true))
  }

  /** Retained commit epochs, oldest first ([[vacuumEpochs]] prunes all
    * but the latest).
    */
  def epochs(): Seq[Long] = listCommits().map(_._1)

  /** Whether `name` was governed in the retained commit at `epoch` —
    * pure pointer metadata. Single-probe convenience over
    * [[tablesAt]] (which the DROP/PURGE pin loop uses directly — one
    * pointer resolution per tag instead of one per doomed table).
    */
  def governedAt(name: String, epoch: Long): Boolean =
    tablesAt(epoch).contains(name)

  /** Snapshot read — the governed table AS OF `epoch`, the time-travel
    * dividend the pointer log pays for free (Delta's `versionAsOf`):
    * resolve THAT epoch's pointer instead of the latest and read its
    * file list. Works for any epoch still retained — replaced files
    * stay on disk until [[vacuumEpochs]], which is exactly the
    * retention window. A table governed later than `epoch` (absent
    * from that commit) reads as empty-of-files, i.e. fails like an
    * empty dir — it did not exist in that snapshot.
    */
  def readEpoch(name: String, epoch: Long): DataFrame = {
    val commits = listCommits()
    val p = commits.collectFirst { case (e, path) if e == epoch => path }
      .getOrElse(throw new IllegalArgumentException(
        s"no retained commit for epoch $epoch " +
          s"(retained: ${commits.map(_._1).mkString(", ")}) — vacuumed?"))
    readResolved(name, parseCommit(p), epoch)
  }

  /** The table's log entry at epoch `e`, or None if the table was not
    * governed in that commit.
    */
  private def entryAt(
      name: String, commits: Map[Long, Path], e: Long): Option[String] =
    commits.get(e).flatMap(p => parseCommit(p).get(name))

  /** The subset of `names` holding data files at SOME retained commit
    * in `[a, b]` — pure pointer metadata, ONE commit-log listing for
    * the whole probe (a per-name form would re-list the directory per
    * member per micro-batch; on object stores every listing is a
    * billed round-trip). The guard multi-table appends consumers
    * need: a governed-but-EMPTY member (SQL CREATE/CTAS before any
    * insert) has no schema [[readAddedSince]] could serve — callers
    * that already know the union schema skip such members instead of
    * crashing every window on the empty one. The probe checks the two
    * ENDPOINTS first (the common case short-circuits in two lookups)
    * but must also walk the retained interior for endpoint-empty
    * members: an insert → rewrite → delete-all sequence inside one
    * window is empty at both endpoints yet [[readAddedSince]]'s
    * rewrite-aware walk still owes its added files (the at-least-once
    * appends contract) — an endpoints-only skip would silently drop
    * them. Interior commits vacuumed away probe as absent, matching
    * what the walk itself could deliver.
    */
  def withFilesInWindow(names: Seq[String], a: Long, b: Long): Set[String] = {
    val commits = listCommits().toMap
    def has(n: String, e: Long): Boolean =
      entryAt(n, commits, e).exists(resolveEntry(_).nonEmpty)
    // iterate the RETAINED commit keys, not the numeric epoch range —
    // a wide catch-up window (fromEpoch=0 on a long-lived store) must
    // cost O(retained commits), not O(epochs)
    lazy val interior =
      commits.keysIterator.filter(e => e > a && e < b).toSeq
    names.filter(n =>
      has(n, a) || has(n, b) || interior.exists(has(n, _))).toSet
  }

  /** Table names governed in the retained commit at `epoch` (empty
    * when the commit is not retained) — pure pointer metadata; the
    * PURGE tag guard resolves "what else does this tag pin" through
    * it.
    */
  def tablesAt(epoch: Long): Set[String] =
    listCommits().collectFirst { case (e, p) if e == epoch =>
      parseCommit(p).keySet }.getOrElse(Set.empty)

  private def relsAtRequired(
      name: String, commits: Map[Long, Path], e: Long): Set[String] = {
    val p = commits.getOrElse(e, throw new IllegalArgumentException(
      s"no retained commit for epoch $e " +
        s"(retained: ${commits.keys.toSeq.sorted.mkString(", ")}) — vacuumed?"))
    parseCommit(p).get(name) match {
      case Some(lf) => resolveEntry(lf).toSet
      case None => throw new IllegalArgumentException(
        s"$name was not governed at epoch $e")
    }
  }

  /** The (epoch, op) history of commits that CHANGED `name`'s file
    * list in `(fromEpoch, toEpoch]` — None when any intermediate
    * commit was vacuumed (epochs are consecutive, so a gap in the
    * retained set is detectable) or the table was ungoverned at some
    * step, in which case only the endpoint-diff is computable.
    */
  def commitOps(
      name: String, fromEpoch: Long, toEpoch: Long): Option[Seq[(Long, String)]] = {
    val commits = listCommits().toMap
    val epochs = (fromEpoch to toEpoch)
    if (!epochs.forall(commits.contains)) None
    else {
      val entries = epochs.map(e => entryAt(name, commits, e))
      if (entries.exists(_.isEmpty)) None
      else Some(epochs.zip(entries.map(_.get)).sliding(2).collect {
        case Seq((_, prev), (e, cur)) if cur != prev => (e, opOf(cur))
      }.toSeq)
    }
  }

  /** Rel paths of the files an incremental consumer must read to catch
    * up from `fromEpoch` to `toEpoch` — the file-level diff behind
    * [[readAddedSince]], REWRITE-AWARE when the intermediate commit
    * history is still retained: the walk accumulates each step's added
    * files, skips steps whose op is rewrite-only (compact / z-order /
    * bucketize — no logical rows changed, Iceberg's REPLACE-snapshot
    * rule), and drops files a later non-rewrite step removed (their
    * surviving rows ride that step's own adds). When any intermediate
    * commit was vacuumed the walk falls back to the coarse endpoint
    * diff (`rels(to) -- rels(from)`) — correct, but a compaction in
    * the gap then redelivers the table, so size the vacuum retention
    * window to cover consumer lag.
    */
  private[store] def addedRelsSince(
      name: String, fromEpoch: Long, toEpoch: Long): Seq[String] = {
    require(fromEpoch <= toEpoch,
      s"fromEpoch $fromEpoch > toEpoch $toEpoch")
    val commits = listCommits().toMap
    // endpoint validation happens unconditionally (retained + governed)
    val fromSet = relsAtRequired(name, commits, fromEpoch)
    val toSet = relsAtRequired(name, commits, toEpoch)
    val stepEpochs = ((fromEpoch + 1) to toEpoch)
    val walkable = stepEpochs.forall(e =>
      entryAt(name, commits, e).isDefined) &&
      entryAt(name, commits, fromEpoch).isDefined
    if (!walkable) (toSet -- fromSet).toSeq.sorted
    else {
      val acc = scala.collection.mutable.LinkedHashSet[String]()
      var prevEntry = entryAt(name, commits, fromEpoch).get
      var prevSet = fromSet
      stepEpochs.foreach { e =>
        val entry = entryAt(name, commits, e).get
        if (entry != prevEntry) {
          val cur = resolveEntry(entry).toSet
          if (!RewriteOps(opOf(entry))) {
            // a non-rewrite step supersedes what it removed: rows that
            // survive ride its adds, removed-and-gone rows must not be
            // redelivered as stale images
            acc --= (prevSet -- cur)
            acc ++= (cur -- prevSet)
          }
          // rewrite step: content is row-identical — neither its adds
          // nor its removals change what the consumer must see; files
          // accumulated earlier stay on disk (their commit is retained)
          prevSet = cur
          prevEntry = entry
        }
      }
      acc.toSeq
    }
  }

  /** INCREMENTAL scan between two retained epochs (Iceberg's
    * incremental-read semantics): the rows a downstream job must
    * process to catch up from one dataset version to the next without
    * rescanning the table. The file list comes from
    * [[addedRelsSince]], so REWRITE-ONLY commits (compact / z-order /
    * bucketize) deliver NOTHING when the intermediate history is
    * retained — a routine compaction no longer redelivers the table.
    * Exact for append-shaped history; a file REWRITTEN by an upsert
    * (bucketed merge) reappears in full, so the contract remains
    * AT-LEAST-ONCE per changed-or-moved row — downstream dedup by pk
    * (the skip-existing anti-join this engine already ships) restores
    * exactly-once; [[readChangesSince]] is the row-exact form. One
    * at-least-once nuance of the rewrite-aware walk: a window spanning
    * a compaction FOLLOWED by an upsert can deliver a pre-compaction
    * file alongside the upsert's newer images of some of its rows —
    * consumers that upsert by pk with a latest-wins tiebreak (or use
    * readChangesSince) are unaffected. Cost: one metadata walk + a
    * scan of only the delivered files — never O(table).
    *
    * Both epochs must still be retained (vacuum retention / tags /
    * cursors); `fromEpoch` must be ≤ `toEpoch` and both must govern
    * `name`. An empty diff returns an empty frame with the table's
    * schema.
    */
  def readAddedSince(
      name: String, fromEpoch: Long, toEpoch: Long): DataFrame = {
    val added = addedRelsSince(name, fromEpoch, toEpoch)
    def relsAt(e: Long): Set[String] =
      entryAt(name, listCommits().toMap, e).map(resolveEntry(_).toSet)
        .getOrElse(Set.empty)
    if (added.nonEmpty) readAdded(name, added)
    // empty diff: serve an empty frame with the table's schema from
    // whichever endpoint still has files (readEpoch refuses empty
    // snapshots — correctly — so pick a non-empty one)
    else if (relsAt(toEpoch).nonEmpty) readEpoch(name, toEpoch).limit(0)
    else if (relsAt(fromEpoch).nonEmpty) readEpoch(name, fromEpoch).limit(0)
    else throw new IllegalStateException(
      s"$name holds no files at either epoch — no schema to serve")
  }

  /** The non-empty file list [[addedRelsSince]] walked, read as one
    * frame — split out so a caller that already walked the window
    * (the appends segments of [[ChangeWindow]]) reads without a
    * second walk. mergeSchema: the delivered files can come from
    * SEVERAL commits, and a window spanning a schema-evolving upsert
    * mixes pre- and post-evolution files — without the union, parquet
    * samples ONE footer and either drops the new column or serves an
    * unstable schema per poll. Cost: O(delivered files) footer reads,
    * the window's own size — never O(table).
    */
  private[store] def readAdded(name: String, rels: Seq[String]): DataFrame =
    spark.read.option("basePath", path(name))
      .option("mergeSchema", "true")
      .parquet(rels.map(r => new Path(path(name), r).toString): _*)

  /** [[readAddedSince]] against the CURRENT epoch — the steady-state
    * incremental-consumer call: "everything that landed after the
    * epoch I last processed".
    */
  def readAddedSince(name: String, fromEpoch: Long): DataFrame = {
    val (cur, _) = currentCommit.getOrElse(throw new IllegalStateException(
      "no commits — govern tables first"))
    readAddedSince(name, fromEpoch, cur)
  }

  /** Column carrying each changed row's change type in
    * [[readChangesSince]] frames: `insert` (new or updated row, new
    * image) or `delete` (row gone, last image).
    */
  val ChangeTypeCol = "_change_type"

  /** ROW-LEVEL change feed between two retained epochs — the CDC form
    * of [[readAddedSince]], exact where the file-level scan is only
    * at-least-once: every returned row is tagged
    * `_change_type ∈ {insert, delete}`, where `insert` carries the new
    * image of a row that is new OR changed since `fromEpoch`, and
    * `delete` carries the last image of a row whose pk left the table
    * (a dedup pass, a retention delete, a dropped partition). Carried
    * rows — including every row a compaction or z-order merely moved —
    * are emitted NOT AT ALL: a derived mirror (the CDC-driven FTS
    * pattern) applies inserts as upserts and deletes as pk removals
    * and converges exactly, with no ghosts.
    *
    * Mechanics: the file diff between the endpoints (rewrite-skipping
    * where retained — a rewrite-only window short-circuits to an empty
    * feed with ZERO data I/O), reconciled row-level: added-file rows
    * anti-joined against removed-file rows on (pk, full-row hash) are
    * the inserts; removed-file pks anti-joined against added-file pks
    * are the deletes. Cost is O(changed files' rows) for
    * upsert-shaped history; a window mixing a compaction WITH logical
    * changes degrades to reconciling the rewritten files (consume
    * promptly, or cut consumption windows at compaction boundaries,
    * to stay O(diff)).
    *
    * `pk` must be the table's logical key (non-null; the declared
    * bucket pk where one exists). Both epochs must be retained and
    * govern `name`. SCHEMA EVOLUTION is first-class: a window spanning
    * a column-adding upsert (the bucketed upsert's alter=True rewrite)
    * null-fills BOTH endpoint frames to the union schema before
    * hashing — the same unionByName(null-fill) rule the evolution
    * rewrite itself applies — so a carried row whose only "difference"
    * is the null-filled new column is emitted NOT AT ALL, and a row
    * whose new image populates the column is an insert. The feed's
    * schema is the union (toEpoch's columns first, any dropped columns
    * appended): deletes keep their full last image, inserts carry null
    * for columns the new schema dropped. One degrade, never a lie: a
    * window spanning a LAYOUT change (bucketize, an overwrite that
    * flattens a partitioned table) can re-emit unchanged rows as
    * inserts — partition-column values can round-trip through a
    * different representation — but never emits a false delete
    * (deletes key on the pk alone); mirrors upserting by pk stay
    * exact.
    */
  def readChangesSince(
      name: String, fromEpoch: Long, toEpoch: Long,
      pk: Seq[String]): DataFrame = {
    require(pk.nonEmpty, "readChangesSince needs the table's pk columns")
    require(fromEpoch <= toEpoch,
      s"fromEpoch $fromEpoch > toEpoch $toEpoch")
    import org.apache.spark.sql.functions.{col, lit, xxhash64}
    val commits = listCommits().toMap
    val fromSet = relsAtRequired(name, commits, fromEpoch)
    val toSet = relsAtRequired(name, commits, toEpoch)
    val schemaSource =
      if (toSet.nonEmpty) readEpoch(name, toEpoch)
      else readEpoch(name, fromEpoch)
    pk.foreach(c => require(schemaSource.columns.contains(c),
      s"$name has no column $c (pk passed: ${pk.mkString(",")})"))
    val empty = schemaSource.limit(0)
      .withColumn(ChangeTypeCol, lit("insert"))
    // rewrite-only window: provably no logical change, zero data I/O
    val ops = commitOps(name, fromEpoch, toEpoch)
    if (ops.exists(_.forall { case (_, op) => RewriteOps(op) })) return empty
    val added = (toSet -- fromSet).toSeq.sorted
    val removed = (fromSet -- toSet).toSeq.sorted
    def readRels(rels: Seq[String]): DataFrame =
      memoParquet(path(name), rels)
    if (added.isEmpty && removed.isEmpty) return empty
    if (removed.isEmpty)
      return readRels(added).withColumn(ChangeTypeCol, lit("insert"))
    if (added.isEmpty)
      return readRels(removed).withColumn(ChangeTypeCol, lit("delete"))
    val aRaw = readRels(added)
    val rRaw = readRels(removed)
    // Align both sides to the UNION schema before hashing (toEpoch's
    // columns first, dropped columns appended): a removed file that
    // predates a column-adding upsert lacks the new column, so hashing
    // the toEpoch column list against it fails analysis. Null-filling
    // mirrors the evolution rewrite's own unionByName semantics —
    // xxhash64 skips null inputs, so an old image and its null-filled
    // rewrite hash identically (carried), while a populated new column
    // makes the row an insert. Types are reconciled toward the added
    // side (partition-discovered columns can surface as INT where the
    // flat form stored LONG — casting keeps cross-layout hashes
    // comparable).
    val union = org.apache.spark.sql.types.StructType(aRaw.schema.fields ++
      rRaw.schema.fields.filterNot(f => aRaw.columns.contains(f.name)))
    val rowHash = xxhash64(union.fieldNames.toSeq.map(col): _*)
    val a = ChangeWindow.align(aRaw, union).withColumn("__h", rowHash)
    val r = ChangeWindow.align(rRaw, union).withColumn("__h", rowHash)
    // new or changed: present in the added files with no identical row
    // (pk + full-row hash) among the removed — carried rows cancel out
    val inserts = a.join(r.select((pk :+ "__h").map(col): _*),
        pk :+ "__h", "left_anti")
      .drop("__h").withColumn(ChangeTypeCol, lit("insert"))
    // gone: a removed file's pk absent from every added file. (A
    // removed file's rows either moved into an added file or left the
    // table — the live set never needs scanning.)
    val deletes = r.join(a.select(pk.map(col): _*), pk, "left_anti")
      .drop("__h").withColumn(ChangeTypeCol, lit("delete"))
    inserts.unionByName(deletes)
  }

  // -------------------------------------------------------------------
  // Named epoch tags — Iceberg-style refs for dataset releases: a tag
  // pins a commit ("the exact corpus that trained model X") as a
  // VACUUM ROOT, so every file and log entry it references survives
  // any retention window until the tag is dropped, and readTag
  // resolves reads through it by name. This is the reproducibility
  // primitive a training-data release ships with: contentFingerprint
  // proves WHAT the release holds, the tag guarantees it stays
  // readable.

  private def tagPath(tag: String) = new Path(epochDir, s"tag-$tag")

  /** Pin `epoch` (default: the current commit) under a name.
    * Re-tagging an existing name re-points it (Iceberg's replace-tag
    * form). Returns the pinned epoch.
    */
  def tagEpoch(tag: String, epoch: Option[Long] = None): Long = {
    require(tag.nonEmpty && tag.matches("[A-Za-z0-9._-]+"),
      s"tag names are [A-Za-z0-9._-]+: '$tag'")
    val commits = listCommits()
    require(commits.nonEmpty, "no commits to tag — govern tables first")
    val e = epoch.getOrElse(commits.last._1)
    require(commits.exists(_._1 == e),
      s"no retained commit for epoch $e " +
        s"(retained: ${commits.map(_._1).mkString(", ")})")
    writeSmall(tagPath(tag), e.toString)
    e
  }

  /** All tags: name → pinned epoch. */
  def tags(): Map[String, Long] =
    if (!fs.exists(epochDir)) Map.empty
    else fs.listStatus(epochDir).map(_.getPath)
      .filter(_.getName.startsWith("tag-"))
      .map(p => p.getName.stripPrefix("tag-") -> readSmall(p).trim.toLong)
      .toMap

  /** Drop a tag — its epoch becomes reclaimable by the next vacuum
    * (unless otherwise retained).
    */
  def dropTag(tag: String): Unit = fs.delete(tagPath(tag), false)

  /** Read a governed table as of a tag — [[readEpoch]] by name. */
  def readTag(name: String, tag: String): DataFrame = {
    val t = tags()
    val e = t.getOrElse(tag, throw new IllegalArgumentException(
      s"no such tag: $tag (tags: ${t.keys.toSeq.sorted.mkString(", ")})"))
    readEpoch(name, e)
  }

  /** Data files on disk that the current commit does NOT reference —
    * replaced epochs awaiting [[vacuumEpochs]] plus any orphans from a
    * crash between file moves and the pointer flip. Surfaced so
    * Doctor can suggest a vacuum; empty for un-governed tables.
    */
  def unreferencedFiles(name: String): Seq[String] =
    if (!isGoverned(name)) Nil
    else {
      val live = committedRefs(name).map(_.rel).toSet
      walkParquetRel(new Path(path(name))).filterNot(live)
    }

  /** Total bytes of [[unreferencedFiles]] — Doctor's vacuum-advice
    * signal (one huge retired file wastes as much as many small
    * ones). Diagnostic cadence: one getFileStatus per orphan.
    */
  def unreferencedBytes(name: String): Long =
    unreferencedFiles(name).map(r =>
      fs.getFileStatus(new Path(path(name), r)).getLen).sum

  /** Committed files MISSING from disk — an out-of-band deletion
    * (something bypassed the store and removed data a commit still
    * references). Reads will fail on these; Doctor reports them as a
    * loud integrity error. Empty for un-governed tables.
    */
  def missingCommittedFiles(name: String): Seq[String] =
    if (!isGoverned(name)) Nil
    else committedRefs(name)
      .groupBy(fr => new Path(fr.base, fr.rel).getParent)
      .toSeq.flatMap { case (dir, refs) =>
        // one listing per directory (a per-file exists() would be one
        // serial metadata RPC per committed file)
        val present =
          if (!fs.exists(dir)) Set.empty[String]
          else fs.listStatus(dir).map(_.getPath.getName).toSet
        refs.map(_.rel).filterNot(r => present(new Path(r).getName))
      }.sorted

  /** Reclaim space: delete governed tables' data files no RETAINED
    * commit references, prune superseded commit pointers and
    * unreachable log entries, and clear stale tmp/staging leftovers —
    * under a RETENTION WINDOW (Delta's `RETAIN` semantics): a commit
    * that was still the current pointer at any instant in the last
    * `minAgeMs` is retained, together with every file and log entry
    * it references, so an in-flight reader that planned on it
    * finishes its scan and [[readEpoch]] time-travels to it. A
    * pointer is "current" until its SUCCESSOR lands, so retention
    * keys on the successor pointer's PERSISTED `#ts=` stamp (its
    * mtime only for legacy pointers written before stamping) — file
    * mtimes are the wrong signal twice over: a file retired five
    * minutes ago may have been WRITTEN days ago, and an rsync/copy/
    * restore rewrites every mtime while the stamps ride the bytes.
    * Unreferenced files additionally keep a file-mtime guard so a
    * CONCURRENT writer's just-moved (not yet committed) staged files
    * are never swept mid-flip.
    *
    * `minAgeMs = 0` (the default) reclaims everything but the latest
    * commit — only safe when no readers are mid-query and no other
    * writer is mid-commit, the pre-window contract.
    */
  def vacuumEpochs(minAgeMs: Long = 0L): Unit = {
    require(activeTx.isEmpty, "cannot vacuum inside a transaction")
    require(pinnedCommit.isEmpty, "cannot vacuum inside withSnapshot")
    val commits = listCommits()
    if (commits.isEmpty) return
    val cutoff = System.currentTimeMillis() - minAgeMs
    val stamps = commits.map { case (_, p) =>
      commitTsOf(p).getOrElse(fs.getFileStatus(p).getModificationTime) }
    // commits(i) was current during [stamp(i), stamp(i+1)): retained
    // iff that interval touches the window — successor younger than
    // the cutoff — or it IS the latest, or a TAG or a registered
    // CONSUMER CURSOR pins it (both are vacuum roots: a named release
    // must stay readable until dropped, and a lagging incremental
    // consumer must keep its diff base until it catches up or is
    // unregistered). Stamps are the pointers' persisted `#ts=`
    // headers (mtime only for legacy pointers), so retention survives
    // an mtime-rewriting copy/restore.
    val pinnedEpochs = tags().values.toSet ++
      EpochFollower.cursors(this).values.toSet
    val (retained, dropped) = commits.zipWithIndex.partition { case ((e, _), i) =>
      i == commits.size - 1 || stamps(i + 1) > cutoff || pinnedEpochs(e)
    }
    val retainedTables = retained.map { case ((_, p), _) => parseCommit(p) }
    // live rel-paths per CURRENTLY governed table across ALL retained
    // commits (an ex-governed table's directory is plain data now —
    // never sweep it); unreferenced files older than the cutoff go
    val current = retainedTables.last
    current.keys.foreach { n =>
      val live = retainedTables.flatMap(_.get(n)).distinct
        .flatMap(resolveEntry).toSet
      walkParquetRel(new Path(path(n))).filterNot(live)
        .map(r => new Path(path(n), r))
        .filter(p => fs.getFileStatus(p).getModificationTime <= cutoff)
        .foreach(p => fs.delete(p, false))
      deleteEmptyDirs(new Path(path(n)))
    }
    dropped.foreach { case ((_, p), _) => fs.delete(p, false) }
    // retain every log entry ANY retained commit's chains reach
    // (delta entries resolve through their base= links); everything
    // else — superseded lists, dead chains — goes
    val liveEntries =
      retainedTables.flatMap(_.values).toSet.flatMap(reachableEntries)
    fs.listStatus(epochDir).map(_.getPath)
      .filter(p => (p.getName.startsWith("files-") ||
        p.getName.startsWith("delta-")) && !liveEntries(p.getName))
      .foreach(p => fs.delete(p, false))
    // crash leftovers: unflipped pointer tmp files past the window
    // (younger ones may be a concurrent writer's in-flight flip)
    fs.listStatus(epochDir).map(_.getPath)
      .filter(_.getName.startsWith(".tmp-"))
      .filter(p => fs.getFileStatus(p).getModificationTime <= cutoff)
      .foreach(p => fs.delete(p, false))
    if (fs.exists(stageRoot))
      fs.listStatus(stageRoot)
        .filter(_.getModificationTime <= cutoff)
        .foreach(st => fs.delete(st.getPath, true))
    // bound the driver-side metadata caches (the unbounded-growth
    // fix): drop every memoized commit/list/depth entry no retained
    // commit reaches — on a long-lived high-commit-rate writer these
    // otherwise accrete one full file list per historical entry
    val keepCommits = retained.map { case ((_, p), _) => p.getName }.toSet
    commitCache.filterInPlace((k, _) => keepCommits(k))
    tsCache.filterInPlace((k, _) => keepCommits(k))
    listCache.filterInPlace((k, _) => liveEntries(k))
    depthCache.filterInPlace((k, _) => liveEntries(k))
    opCache.filterInPlace((k, _) => liveEntries(k))
  }

  /** Test-only size probe for the epoch metadata caches — the
    * cache-bounding spec asserts O(live entries) across N
    * commit+vacuum cycles. (commitCache, listCache, depthCache).
    */
  private[graft] def metadataCacheSizes: (Int, Int, Int) =
    (commitCache.size, listCache.size, depthCache.size)

  /** Remove empty subdirectories left behind by file-level vacuum —
    * a stale `col=value` shell would otherwise confuse partition-
    * chain detection (partitionColumnsOf walks DIRECTORIES).
    */
  private def deleteEmptyDirs(dir: Path): Unit =
    if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
      if (st.isDirectory && !st.getPath.getName.startsWith("_")) {
        deleteEmptyDirs(st.getPath)
        if (fs.listStatus(st.getPath).isEmpty) fs.delete(st.getPath, false)
      }
    }
}

/** A frozen view of one commit: every [[read]] resolves from the SAME
  * epoch regardless of concurrent commits — the handle form of
  * [[TableStore.withSnapshot]], for callers that pass a consistent
  * reader around instead of scoping a block. Valid for as long as the
  * epoch is retained ([[TableStore.vacuumEpochs]]' retention window).
  */
final class Snapshot private[store] (
    store: TableStore, val epoch: Long,
    private[store] val entries: Map[String, String]) {

  /** Tables governed at this snapshot's epoch. */
  def tables: Set[String] = entries.keySet

  /** The governed table as of this snapshot's epoch — same resolution
    * as [[TableStore.readEpoch]], pointer parsed exactly once at
    * handle creation.
    */
  def read(name: String): DataFrame = store.readResolved(name, entries, epoch)
}

object TableStore {

  // Operation types stamped into commit-log entries — WHY a table's
  // file list changed, not just how. Rewrite-only ops ([[RewriteOps]])
  // change no logical rows, so incremental consumers skip them
  // (Iceberg's REPLACE-snapshot rule for changelog scans).
  val OpUpsert = "upsert"
  val OpOverwrite = "overwrite"
  val OpCompact = "compact"
  val OpDelete = "delete"
  val OpGovern = "govern"
  /** Entries written before op stamping — treated as a logical change
    * (conservative: never skipped).
    */
  val OpUnknown = "unknown"

  /** Ops that rewrite files without changing logical rows. */
  val RewriteOps: Set[String] = Set(OpCompact)

  /** Two writers committed divergent file lists for the SAME table —
    * the one OCC conflict a rebase cannot resolve (merging the lists
    * would be a lost update). A `ConcurrentModificationException`
    * subtype so existing catch sites keep working, and
    * [[TableStore.transactWithRetry]] can retry EXACTLY this and
    * nothing else.
    */
  class OccOverlapException(msg: String)
      extends java.util.ConcurrentModificationException(msg)

  /** Driver-side recursive directory listings performed (dataFiles
    * calls) — a test-visible shim counter so specs can PROVE a
    * manifest-backed prune never lists the filesystem, instead of
    * inferring it from the plan.
    */
  private[graft] val driverListings = new java.util.concurrent.atomic.AtomicLong

  /** (inference confs, base dir, sorted rel file list) → inferred
    * read schema, shared across TableStore instances (scratch stores
    * are re-instantiated per statement over the same committed files).
    * The parquet-affecting confs (caseSensitive, inferTimestampNTZ,
    * nanosAsLong) are part of the key, so a schema inferred under one
    * session's settings is never replayed into a session with
    * different ones. Bounded: cleared wholesale past 512 entries —
    * correctness never depends on it (a miss merely re-infers from
    * footers).
    */
  private val schemaMemo =
    scala.collection.concurrent.TrieMap
      .empty[(String, String, String), org.apache.spark.sql.types.StructType]

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
    * mapPartitions) and the legacy driver walk. Only the footer is
    * read; data pages are never touched. Integral columns carry their
    * numeric min/max; STRING columns carry [[stringStatKey]]-encoded
    * min/max (parquet-mr truncates long binary stats with max rounded
    * UP, so the encoded envelope stays conservative).
    */
  private[store] def footerEnvelope(
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
