package graft.store

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

/** Parquet-directory table catalog with the reference's sink semantics
  * (SURVEY.md §2.5): `upsert` (K1/K2 replace), `insertIgnore` (K7
  * following edges), `overwrite` (K4 archive drop-and-recreate). One
  * directory per table under `root`.
  *
  * Un-governed writes go to a temp dir then swap (read-modify-write
  * over the same parquet path is illegal in Spark). Governed writes
  * stage files and commit through the epoch pointer; a keyed upsert
  * there rewrites only the files (flat tables) or buckets (bucketed
  * tables) that hold a batch key and carries the rest by reference. A
  * lakehouse format would replace exactly this class with MERGE INTO;
  * everything above it is format-agnostic.
  */
class TableStore(val spark: SparkSession, val root: String) {

  import TableStore.{OpCompact, OpGovern, OpOverwrite, OpUpsert, RewriteOps}

  /** The epoch log under `_graft_epoch` ([[CommitLog]]): pointers,
    * entries, tags, history and the change walk. This class keeps the
    * transaction and every verb that reads or deletes data files.
    */
  lazy val log: CommitLog = new CommitLog(this)

  private[store] def path(name: String) = s"$root/$name"

  private[store] def fs = new Path(root).getFileSystem(
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
    if (isGoverned(name) || stagedInTx(name))
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
    val hadStats = FileManifest.exists(this, name)
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
    if (hadStats) FileManifest.refresh(this, name)
  }

  /** Replace a table wholesale. `partitionBy` lays the table out as a
    * Hive-partitioned directory tree (e.g. `day=…/`), the lake layout
    * an append-mostly stream (the `events` firehose) wants: time
    * predicates then prune at PLANNING time to the matching
    * directories (PartitionPruningSpec proves the scan's
    * PartitionFilters). Key-upsert tables stay unpartitioned — a
    * keyed upsert rewrites a partitioned flat table whole; the bucketed
    * layout below is the keyed partitioning (see class doc).
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
    FileManifest.markPending(this, name)
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
    val governedNow = requireUnpinned(names,
      "drop-consumer first (or DROP TABLE ... PURGE)",
      "drop-tag first (or DROP TABLE ... PURGE)", ignorePinsOf)
    if (governedNow.nonEmpty)
      currentCommit.foreach { case (epoch, tables) =>
        log.publish(epoch, tables)(_ -- governedNow)
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
    val governedNow = requireUnpinned(olds,
      "their diff base would silently break under the new name; " +
        "drop-consumer first",
      "the pinned epoch resolves files the rename would move; drop-tag first")
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
    if (governedNow.nonEmpty)
      currentCommit.foreach { case (epoch, tables) =>
        log.publish(epoch, tables)(_.map { case (t, en) => renames.getOrElse(t, t) -> en })
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

  /** THE pin guard of [[dropTables]] and [[renameTables]]: refuses
    * while a registered consumer cursor is on one of `names`, or a
    * release tag outside `ignoreTags` pins a commit naming one of its
    * governed members (one listing of the log for the whole check);
    * each hint completes its refusal. Returns the governed members.
    * The cursor guard runs regardless of governance — a consumer can
    * be registered on a table the current pointer no longer lists, and
    * its diff-base break would be just as silent.
    */
  private def requireUnpinned(
      names: Seq[String], cursorHint: String, tagHint: String,
      ignoreTags: Set[String] = Set.empty): Seq[String] = {
    val cursorsOn = EpochFollower.cursors(this).keys.collect {
      case (t, c) if names.contains(t) => s"$c (on $t)" }.toSeq.sorted
    require(cursorsOn.isEmpty,
      s"registered consumer cursor(s) ${cursorsOn.mkString(", ")} — $cursorHint")
    val governedNow = names.filter(isGoverned)
    if (governedNow.nonEmpty) {
      val tagged = log.taggedTables()
      val taggedBy = governedNow.flatMap(n => tagged.collect {
        case (t, _, tables) if tables(n) => (t, n)
      }).distinct.sorted.collect { case (t, n) if !ignoreTags(t) => s"$t (pins $n)" }
      require(taggedBy.isEmpty,
        s"pinned by release tag(s) ${taggedBy.mkString(", ")} — $tagHint")
    }
    governedNow
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
        tx.stage(name, liveRefs(name)
          .filterNot(_.rel.startsWith(s"$partCol=$value/")), TableStore.OpDelete)
      }
      return
    }
    FileManifest.markPending(this, name)
    val dst = new Path(path(name) + s"/$partCol=$value")
    if (fs.exists(dst)) fs.delete(dst, true)
  }

  /** Keyed replace-upsert (later wins). A bucketed table rewrites the
    * touched buckets ([[mergeBucketed]]); a governed flat table the
    * touched files ([[stageTouchedFiles]]: a key-column probe, the
    * files holding batch keys, the batch), so new keys append a file.
    * An un-governed, partitioned or z-ordered flat table, and any batch
    * that [[widens]] the schema, rewrites the whole table.
    */
  def upsert(name: String, incoming: DataFrame, pk: Seq[String]): Unit =
    mergeKeyed(name, incoming, pk, ignore = false)

  /** [[upsert]] with existing rows winning (insert-or-ignore). */
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
        val merge = keyMerge(pk, ignore) _
        readIfExists(name) match {
          case Some(existing) if isGoverned(name) &&
              partitionColumnsOf(name).isEmpty && zorderLayoutOf(name).isEmpty &&
              !widens(existing.schema, incoming) =>
            withTxWrite(tx => stageTouchedFiles(tx, name, existing.schema, incoming, pk)(merge))
          case existing =>
            writeSwapped(name, merge(existing, incoming), op = OpUpsert)
        }
    }

  /** Whether merging `batch` into a table of `stored` schema changes
    * the table's schema: a batch column the table lacks, or a shared
    * column of another type (the transient `__ord` and the bucket
    * column aside). Such a batch rewrites the whole table, so every
    * file keeps one schema; a batch with FEWER columns null-fills.
    */
  private def widens(stored: org.apache.spark.sql.types.StructType, batch: DataFrame): Boolean = {
    val types = stored.map(f => f.name -> f.dataType).toMap
    (batch.columns.toSet - Upsert.OrdCol - BucketCol)
      .exists(c => !types.get(c).contains(batch.schema(c).dataType))
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
    if (!isGoverned(name) && FileManifest.exists(this, name)) FileManifest.refresh(this, name)
    survivors
  }

  // -------------------------------------------------------------------
  // Bucketed base-table layout — the O(batch) upsert path. The flat
  // upsert above rewrites the touched FILES of a governed table, but
  // finding them probes every live file's key columns, and an
  // un-governed flat table is rewritten whole; at 100 TB neither fits
  // the K1-K9 sinks. A table declared bucketed is laid out as Hive
  // partitions on pk_bucket = [[bucketOfPk]], and every keyed write —
  // upsert, insertIgnore, deleteByPk and the custom
  // [[mergeTouchedBuckets]] — derives its touched buckets from the
  // batch's key hashes and hands
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

  private val LayoutMarker = "_graft_layout"
  private val ZorderMarker = "_graft_zorder"

  /** The `key=value` lines of marker `file` in `name`'s dir, if present. */
  private def readMarker(name: String, file: String): Option[Map[String, String]] = {
    val p = new Path(path(name), file)
    if (!fs.exists(p)) None
    else Some(readSmall(p).linesIterator.map(_.split("=", 2))
      .collect { case Array(k, v) => k -> v }.toMap)
  }

  /** Write marker `file` of `name` as `key=value` lines. Inside a
    * transaction that staged this table, the marker must not land
    * AHEAD of the data it describes: a crash before the pointer flip
    * would leave e.g. a bucketed declaration over flat live files, and
    * the next upsert would fail on the missing partition column — so
    * it defers to the commit (runs after the flip, same crash atom).
    */
  private def writeMarker(name: String, file: String, kv: (String, String)*): Unit =
    deferInTx(name, () => writeSmall(new Path(path(name), file),
      kv.map { case (k, v) => s"$k=$v\n" }.mkString))

  /** The declared (buckets, pk columns) of a bucketed table, if any. */
  def bucketLayoutOf(name: String): Option[(Int, Seq[String])] =
    readMarker(name, LayoutMarker).map(kv =>
      (kv("buckets").toInt, kv("pk").split(",").toSeq))

  private def writeBucketLayout(name: String, buckets: Int, pk: Seq[String]): Unit =
    writeMarker(name, LayoutMarker, "buckets" -> buckets.toString, "pk" -> pk.mkString(","))

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
        // A batch that [[widens]] the table therefore pays one full
        // partitioned rewrite (rare: schema changes, not data growth,
        // trigger it); one with FEWER columns (null-fill) stays on the
        // O(touched) path, as does the transient __ord column.
        if (widens(existing.schema, incTyped))
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
    * Shares fileStats' skip rules through [[walkFiles]].
    */
  def dataFiles(name: String): Seq[String] = {
    // governed tables answer from the commit manifest: the live set,
    // never the directory (which also holds retired files until
    // vacuum and, after a crash mid-commit, orphaned staged files)
    if (isGoverned(name))
      return liveRefs(name).map(fr =>
        fs.makeQualified(new Path(fr.base, fr.rel)).toString)
    TableStore.driverListings.incrementAndGet()
    walkFiles(new Path(path(name))).map(_.getPath)
      .collect { case p if p.getName.endsWith(".parquet") => p.toString }
  }

  /** Every file under `dir`, recursively, minus bookkeeping: a name
    * starting with `_` or `.` (layout markers, the stats manifest,
    * `_SUCCESS`, checksums) is skipped, file or directory alike.
    */
  private def walkFiles(dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.flatMap { st =>
      val base = st.getPath.getName
      if (base.startsWith("_") || base.startsWith(".")) Nil
      else if (st.isDirectory) walkFiles(st.getPath)
      else Seq(st)
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
    val sts = walkFiles(new Path(path(name)))
    (sts.size.toLong, sts.map(_.getLen).sum)
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
  def compact(
      name: String,
      sortBy: Seq[String] = Nil,
      targetBytes: Long = 128L << 20): (Long, Long) = {
    require(exists(name), s"no such table: $name")
    val (nBefore, bytes) = fileStats(name)
    val partCols = partitionColumnsOf(name)
    val df = read(name)
    import org.apache.spark.sql.functions.col
    val shaped =
      if (partCols.nonEmpty) df.hint("rebalance", partCols.map(col): _*)
      else df.repartition(
        math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt)
    val sorted =
      if (sortBy.isEmpty) shaped
      else shaped.sortWithinPartitions((partCols ++ sortBy).map(col): _*)
    swapCompacted(name, sorted, partCols)
    (nBefore, fileStats(name)._1)
  }

  /** The swap of [[compact]] and [[compactZorder]]. It replaces the
    * whole directory, marker included — the bucket layout is carried
    * across (while the rewrite keeps the bucket partitioning), or the
    * next upsert would silently fall back to the O(table) rewrite.
    */
  private def swapCompacted(name: String, df: DataFrame, partCols: Seq[String]): Unit = {
    val layout = bucketLayoutOf(name)
    writeSwapped(name, df, partCols, op = OpCompact)
    layout.foreach { case (n, pk) =>
      if (partCols.contains(BucketCol)) writeBucketLayout(name, n, pk)
    }
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
    val zkey = graft.functions.ZOrder.zorderKey(zCols.map(col), bits)
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val shaped = read(name)
      .withColumn("__zkey", zkey)
      .repartitionByRange(nFiles, partCols.map(col) :+ col("__zkey"): _*)
      .sortWithinPartitions(partCols.map(col) :+ col("__zkey"): _*)
      .drop("__zkey")
    swapCompacted(name, shaped, partCols)
    // declare the clustering (the _graft_layout convention) so the
    // prune path and Doctor know which columns the files localize on;
    // any later whole-table rewrite deletes the marker with the dir —
    // correct, since it also destroys the clustering (the bucketed
    // merge paths re-sort and re-declare)
    writeZorderMarker(name, zCols, bits)
    // z-order's read dividend is file skipping, and footer-free
    // skipping needs the manifest — create it here (writeSwapped
    // already refreshed it if the table had one before the rewrite)
    if (!FileManifest.exists(this, name)) FileManifest.build(this, name)
    (nBefore, fileStats(name)._1)
  }

  private def writeZorderMarker(name: String, zCols: Seq[String], bits: Int): Unit =
    writeMarker(name, ZorderMarker, "zcols" -> zCols.mkString(","), "bits" -> bits.toString)

  /** The declared (zCols, bits) of a z-order-compacted table, if any. */
  def zorderLayoutOf(name: String): Option[(Seq[String], Int)] =
    readMarker(name, ZorderMarker).map(kv =>
      (kv("zcols").split(",").toSeq, kv("bits").toInt))

  // -------------------------------------------------------------------
  // Transactions over the epoch log ([[CommitLog]]). Governance is
  // opt-in per table (ensureGoverned): un-governed tables keep the
  // plain swap exactly as before. For governed tables EVERY write path
  // routes through staging — a write outside an explicit `transact`
  // block becomes its own single-table commit, so compaction, z-order,
  // upserts and markers all stay correct without knowing about epochs.
  // Untouched files carry across epochs BY REFERENCE (the new entry
  // names the old files), so the bucketed upsert keeps its O(touched
  // buckets) property through an atomic commit — nothing is ever
  // copied.

  private def stageRoot = new Path(log.dir, "stage")

  /** A live file: `base` is the table dir for committed files or a
    * staging dir mid-transaction; `rel` preserves the Hive partition
    * subpath so moved files keep their layout.
    */
  private case class FileRef(base: Path, rel: String, staged: Boolean)

  /** One open transaction's staged state. The writes of one
    * [[stageConcurrently]] call share it from their own threads, so
    * every access takes the state's lock.
    */
  private class TxState {
    private val pending = scala.collection.mutable.LinkedHashMap[String, Seq[FileRef]]()
    private val staging = scala.collection.mutable.Buffer[Path]()
    private val deferred = scala.collection.mutable.Buffer[() => Unit]()
    // WHY each table changed (append/upsert/compact/overwrite/delete) —
    // stamped into the commit's log entries so incremental consumers
    // can skip rewrite-only commits (Iceberg's REPLACE-snapshot rule)
    private val ops = scala.collection.mutable.LinkedHashMap[String, String]()
    // tables whose pending state came from a WHOLE-TABLE replace: the
    // commit clears their layout markers (the invariant the
    // ungoverned dir-swap provided for free), and any deferred marker
    // write then re-declares what still applies
    private val fullyReplaced = scala.collection.mutable.Set[String]()
    private var n = 0

    def pendingOf(name: String): Option[Seq[FileRef]] = synchronized(pending.get(name))
    def staged(name: String): Boolean = synchronized(pending.contains(name))
    def stagedTables: Seq[(String, Seq[FileRef])] = synchronized(pending.toSeq)
    def stagedOp(name: String): String = synchronized(ops.getOrElse(name, OpUpsert))
    def replacedTables: Seq[String] = synchronized(fullyReplaced.toSeq)
    def stagingDirs: Seq[Path] = synchronized(staging.toSeq)
    def deferredActions: Seq[() => Unit] = synchronized(deferred.toSeq)

    /** A fresh staging dir for `name`, registered for cleanup. */
    def newStageDir(name: String): Path = synchronized {
      n += 1
      val p = new Path(stageRoot,
        s"$name-${java.util.UUID.randomUUID().toString.take(8)}-$n")
      staging += p
      p
    }

    /** Set `name`'s pending live set, written by `op` (`whole`: a
      * whole-table replace). Op tags combine per table: repeated
      * same-op writes keep the tag; mixed tags degrade conservatively
      * to a logical-change tag (never to a skippable rewrite), with
      * overwrite dominating (the table's whole content was replaced at
      * some point in the transaction).
      */
    def stage(name: String, refs: Seq[FileRef], op: String, whole: Boolean = false): Unit =
      synchronized {
        pending(name) = refs
        if (whole) fullyReplaced += name
        ops(name) = ops.get(name) match {
          case None | Some(`op`) => op
          case Some(prev) if prev == OpOverwrite || op == OpOverwrite => OpOverwrite
          case _ => OpUpsert
        }
      }

    /** Queue `action` for after the flip iff `name` is staged. */
    def deferIfStaged(name: String, action: () => Unit): Boolean = synchronized {
      val s = pending.contains(name)
      if (s) deferred += action
      s
    }
  }

  /** Run `action` now — unless an open transaction staged `name`, in
    * which case it runs after the commit's pointer flip (metadata
    * markers must never land ahead of the data they describe).
    */
  private def deferInTx(name: String, action: () => Unit): Unit =
    if (!activeTx.exists(_.deferIfStaged(name, action))) action()
  // read by the writes of a [[stageConcurrently]] call on their threads
  @volatile private var activeTx: Option[TxState] = None

  /** Whether a [[transact]] block is open on this instance — the
    * signal [[Retract.cascade]] uses to refuse a MIXED-governance
    * cascade inside an outer transaction (its base delete would stage
    * while un-governed index retractions apply immediately, the
    * unhealable missing-postings direction).
    */
  private[store] def inTransaction: Boolean = activeTx.nonEmpty

  /** Whether an open transaction staged `name` — its files on disk
    * then still describe the committed epoch.
    */
  private[store] def stagedInTx(name: String): Boolean = activeTx.exists(_.staged(name))

  private[store] def readSmall(p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }
  private[store] def writeSmall(p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  // read-side twin of activeTx: a snapshot scope pins the resolved
  // commit so every governed read inside serves ONE epoch
  private var pinnedCommit: Option[(Long, Map[String, String])] = None

  /** Whether reads are pinned to a [[withSnapshot]] epoch. */
  private[store] def pinned: Boolean = pinnedCommit.isDefined

  /** (epoch, table → entry) of the latest commit — or the PINNED
    * commit inside a [[withSnapshot]] scope, if any.
    */
  private def currentCommit: Option[(Long, Map[String, String])] =
    pinnedCommit.orElse(log.latest)

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
    pinnedCommit = log.latest
    try f finally pinnedCommit = None
  }

  /** The latest committed epoch (the pinned one inside
    * [[withSnapshot]]), or None when nothing is governed yet — the
    * non-throwing poll for consumers that start before the first commit
    * (the streaming source's getOffset). Pure pointer read, no data I/O.
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
    val rels = log.relsIn(name, tables, epoch)
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

  private[store] def isGoverned(name: String): Boolean =
    fs.exists(log.dir) && currentCommit.exists(_._2.contains(name))

  private def committedRefs(name: String): Seq[FileRef] =
    currentCommit.flatMap(_._2.get(name)).toSeq.flatMap { en =>
      log.rels(en).map(r => FileRef(new Path(path(name)), r, staged = false))
    }

  /** Post-pending live set inside a transaction, committed set outside. */
  private def liveRefs(name: String): Seq[FileRef] =
    activeTx.flatMap(_.pendingOf(name)).getOrElse(committedRefs(name))

  /** Rel paths of the parquet files under `dir` (none if absent). */
  private def walkParquetRel(dir: Path): Seq[String] =
    if (!fs.exists(dir)) Nil
    else {
      val qualified = fs.makeQualified(dir).toString + "/"
      val prefix = dir.toString + "/"
      walkFiles(dir).map(_.getPath).collect {
        case p if p.getName.endsWith(".parquet") =>
          fs.makeQualified(p).toString.stripPrefix(qualified).stripPrefix(prefix)
      }
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
    fs.mkdirs(log.dir)
    val added = missing.map { n =>
      val rels =
        if (exists(n)) walkParquetRel(new Path(path(n))) else Seq.empty[String]
      n -> log.writeEntry(n, epoch + 1, rels, OpGovern, prev = None)
    }
    log.publish(epoch, tables)(_ ++ added)
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
          tx.stagingDirs.foreach(p => if (fs.exists(p)) fs.delete(p, true))
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

  /** Stage the independent writes of one transaction concurrently:
    * each `(table, write)` must touch only its own table, and no write
    * may read another's output. Inside a [[transact]] whose targets are
    * distinct governed tables, every write runs on a thread created
    * for this call — so it inherits the caller's Spark local
    * properties (job group, description, scheduler pool) — and their
    * jobs overlap the driver-side gaps between each other's. The call
    * returns only when every write has finished; a failure is rethrown
    * only then (the earliest failed write in `writes` order, the
    * others attached as suppressed), so the enclosing transaction's
    * abort discards staging no sibling is still writing to. Staged
    * files, op tags and the one pointer flip are what the same writes
    * made in order. Outside a transaction, or when a target is
    * un-governed (its write applies immediately), the writes run in
    * order on the caller's thread, keeping the caller's FK-safe order;
    * so do a single write and a table named twice.
    */
  def stageConcurrently(writes: Seq[(String, () => Unit)]): Unit = {
    val names = writes.map(_._1)
    if (writes.size < 2 || activeTx.isEmpty || names.distinct.size < names.size ||
        !names.toSet.subsetOf(governed)) writes.foreach(_._2())
    else {
      val failures = new Array[Throwable](writes.size)
      val threads = writes.zipWithIndex.map { case ((name, write), i) =>
        val t = new Thread(() =>
          try write() catch { case e: Throwable => failures(i) = e },
          s"graft-stage-$name")
        t.setDaemon(true)
        t
      }
      // every started write is joined, even when the caller is
      // interrupted (the interrupt is restored after) or a later
      // thread fails to start
      var interrupted = false
      try threads.foreach(_.start())
      finally threads.foreach { t =>
        while (t.isAlive)
          try t.join() catch { case _: InterruptedException => interrupted = true }
      }
      if (interrupted) Thread.currentThread.interrupt()
      failures.find(_ != null).foreach { first =>
        failures.filter(e => e != null && (e ne first)).foreach(first.addSuppressed)
        throw first
      }
    }
  }

  /** Inside a transaction: record with it. Outside: a governed write
    * is its own single-table transaction (stage + immediate commit),
    * so non-transactional callers stay correct without code changes.
    */
  private def withTxWrite(f: TxState => Unit): Unit = activeTx match {
    case Some(tx) => f(tx)
    case None => transact(f(activeTx.get))
  }

  /** Whole-table replace, staged: the transactional twin of
    * writeSwapped's delete-and-rename.
    */
  private def stageReplace(
      tx: TxState, name: String, df: DataFrame, partitionBy: Seq[String],
      op: String): Unit =
    tx.stage(name, writeStage(tx, name, df, partitionBy), op, whole = true)

  /** Write `df` into a fresh staging dir of `name`; its files as refs. */
  private def writeStage(
      tx: TxState, name: String, df: DataFrame, partitionBy: Seq[String]): Seq[FileRef] = {
    val stage = tx.newStageDir(name)
    fs.mkdirs(stage)
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(stage.toString)
    walkParquetRel(stage).map(r => FileRef(stage, r, staged = true))
  }

  /** Keyed merge into a governed FLAT table, staged at O(touched files
    * + batch): one null-safe join of the batch keys against the live
    * files' key columns names the files holding any batch key; only
    * their rows merge with the batch (`merge`, the table's keyed
    * rule), and the result, aligned to `schema`, replaces exactly
    * those files. Every other live file carries across BY REFERENCE —
    * the file-level twin of [[stagePartitions]]. A batch of new keys
    * adds one file and removes none; an empty batch stages nothing.
    * The batch is pinned once: the probe and the merge must see one
    * key set, and an expensive batch must not run twice.
    */
  private def stageTouchedFiles(
      tx: TxState, name: String, schema: org.apache.spark.sql.types.StructType,
      incoming: DataFrame, pk: Seq[String])(
      merge: (Option[DataFrame], DataFrame) => DataFrame): Unit = {
    import org.apache.spark.sql.functions.col
    val inc = Iteration.materialize(incoming)
    val live = liveRefs(name)
    val fileKeys = live.groupBy(_.base).toSeq.map { case (b, rs) =>
      memoParquet(b.toString, rs.map(_.rel)).select(
        col("_metadata.file_name").as("__file") +:
          pk.indices.map(i => col(pk(i)).as(s"__k$i")): _*)
    }.reduce(_.union(_))
    val batchKeys = inc.select(pk.indices.map(i => col(pk(i)).as(s"__b$i")): _*)
    // one row per (batch key, file holding it); a new key's file is null
    val hits = batchKeys.join(fileKeys,
        pk.indices.map(i => col(s"__b$i") <=> col(s"__k$i")).reduce(_ && _), "left")
      .select(col("__file")).distinct().collect().map(r => Option(r.getString(0)))
    if (hits.isEmpty) return
    val touched = hits.flatten.toSet
    // part-file names carry a write-job UUID; a name shared by two live
    // files only widens the rewrite, never loses a row
    val replaced = live.filter(r => touched(new Path(r.rel).getName)).toSet
    val ex = replaced.groupBy(_.base).toSeq.map { case (b, rs) =>
      spark.read.option("basePath", b.toString).schema(schema)
        .parquet(rs.toSeq.map(r => new Path(b, r.rel).toString): _*)
    }.reduceOption(_.union(_))
    val staged = writeStage(tx, name, ChangeWindow.align(merge(ex, inc), schema), Nil)
    tx.stage(name, live.filterNot(replaced) ++ staged, OpUpsert)
  }

  /** Dynamic-partition overwrite, staged: partitions present in `df`
    * swap their file lists; all other live files carry across BY
    * REFERENCE — the O(touched buckets) property survives the commit.
    */
  private def stagePartitions(
      tx: TxState, name: String, df: DataFrame, partitionBy: Seq[String],
      op: String): Unit = {
    val staged = writeStage(tx, name, df, partitionBy)
    def dirOf(rel: String): String = {
      val i = rel.lastIndexOf('/')
      if (i < 0) "" else rel.substring(0, i)
    }
    val replaced = staged.map(fr => dirOf(fr.rel)).toSet
    val kept = liveRefs(name).filterNot(fr => replaced.contains(dirOf(fr.rel)))
    tx.stage(name, kept ++ staged, op)
  }

  /** Test seam: invoked after staged files are moved into place but
    * BEFORE the commit pointer is written — the crash window the
    * atomicity spec kills a writer in.
    */
  private[graft] var beforeCommitFlip: () => Unit = () => ()

  /** Test seam: invoked right AFTER the pointer flip, before the
    * stats-manifest refresh (step 4) — the crash window that leaves a
    * manifest describing the previous epoch, which the read-path
    * staleness guard of [[FileManifest]] must absorb.
    */
  private[graft] var afterCommitFlip: () => Unit = () => ()

  private def commitTx(tx: TxState): Unit = {
    val pending = tx.stagedTables
    if (pending.isEmpty) {
      tx.stagingDirs.foreach(p => if (fs.exists(p)) fs.delete(p, true))
      return
    }
    val (epoch, tables) = currentCommit.getOrElse((0L, Map.empty[String, String]))
    val pendingNames = pending.map(_._1).toSet
    require(pendingNames.subsetOf(tables.keySet),
      s"transaction wrote un-governed tables ${pendingNames -- tables.keySet}")
    val next = epoch + 1
    // pre-flip live sets, for the O(changed) stats refresh in step 4
    val committedBefore: Map[String, Set[String]] =
      pendingNames.map(n => n -> log.rels(tables(n)).toSet).toMap
    // 1. move staged files into the table dirs (metadata renames;
    //    invisible to readers — nothing references them yet)
    val finalRels: Seq[(String, Seq[String])] = pending.map {
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
    tx.replacedTables.foreach { n =>
      fs.delete(new Path(path(n), LayoutMarker), false)
      fs.delete(new Path(path(n), ZorderMarker), false)
    }
    // 2. new log entries for CHANGED tables only (a delta link where
    //    that is smaller, [[CommitLog.writeEntry]]); unchanged tables
    //    re-reference their existing immutable entry, stamped with WHY
    //    the table changed
    val ourEntries = finalRels.map { case (n, rels) =>
      n -> log.writeEntry(n, next, rels, tx.stagedOp(n), tables.get(n))
    }
    // 3. THE atomic step: one pointer publish flips every table at
    //    once; a concurrent commit of disjoint tables is rebased over,
    //    one that changed a staged table aborts the transaction
    log.publish(epoch, tables, rebaseUnless = Some(pendingNames))(_ ++ ourEntries)
    afterCommitFlip()
    // 4. keep the stats manifests of changed tables fresh (the Doctor
    //    invariant) at O(changed files)
    finalRels.foreach { case (n, rels) =>
      FileManifest.refreshCommitted(this, n, rels, committedBefore(n))
    }
    // 5. deferred metadata markers (bucket layout, z-order) land
    //    AFTER the data they describe became visible
    tx.deferredActions.foreach(_())
    // 6. staging dirs are spent (their files moved out)
    tx.stagingDirs.foreach(p => if (fs.exists(p)) fs.delete(p, true))
  }

  /** Snapshot read — the governed table AS OF `epoch`, the time-travel
    * dividend the pointer log pays for free (Delta's `versionAsOf`):
    * resolve THAT epoch's pointer instead of the latest and read its
    * file list. Works for any epoch still retained — replaced files
    * stay on disk until [[vacuumEpochs]], which is exactly the
    * retention window. A table governed later than `epoch` (absent
    * from that commit) reads as empty-of-files, i.e. fails like an
    * empty dir — it did not exist in that snapshot.
    */
  def readEpoch(name: String, epoch: Long): DataFrame =
    readResolved(name, log.retainedAt(log.list(), epoch), epoch)

  /** INCREMENTAL scan between two retained epochs (Iceberg's
    * incremental-read semantics): the rows a downstream job must
    * process to catch up from one dataset version to the next without
    * rescanning the table. The file list comes from
    * [[CommitLog.addedRelsSince]], so REWRITE-ONLY commits (compact / z-order /
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
    val added = log.addedRelsSince(name, fromEpoch, toEpoch)
    def hasFiles(e: Long): Boolean = log.withFilesInWindow(Seq(name), e, e).nonEmpty
    if (added.nonEmpty) readAdded(name, added)
    // empty diff: serve an empty frame with the table's schema from
    // whichever endpoint still has files (readEpoch refuses empty
    // snapshots — correctly — so pick a non-empty one)
    else if (hasFiles(toEpoch)) readEpoch(name, toEpoch).limit(0)
    else if (hasFiles(fromEpoch)) readEpoch(name, fromEpoch).limit(0)
    else throw new IllegalStateException(
      s"$name holds no files at either epoch — no schema to serve")
  }

  /** The non-empty file list [[CommitLog.addedRelsSince]] walked, read as one
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
    val commits = log.list()
    val fromSet = log.relsAt(commits, name, fromEpoch)
    val toSet = log.relsAt(commits, name, toEpoch)
    val schemaSource =
      if (toSet.nonEmpty) readEpoch(name, toEpoch)
      else readEpoch(name, fromEpoch)
    pk.foreach(c => require(schemaSource.columns.contains(c),
      s"$name has no column $c (pk passed: ${pk.mkString(",")})"))
    val empty = schemaSource.limit(0)
      .withColumn(ChangeTypeCol, lit("insert"))
    // rewrite-only window: provably no logical change, zero data I/O
    val ops = log.commitOps(name, fromEpoch, toEpoch)
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

  /** Read a governed table as of a tag ([[CommitLog.tagEpoch]]) —
    * [[readEpoch]] by name.
    */
  def readTag(name: String, tag: String): DataFrame = {
    val t = log.tags()
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
    * ([[CommitLog.retention]]) keys on the successor pointer's
    * PERSISTED stamp (its mtime only for legacy pointers) — file
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
    val commits = log.list()
    if (commits.isEmpty) return
    val cutoff = System.currentTimeMillis() - minAgeMs
    val kept = log.retention(commits, cutoff).collect { case (e, _, true) => e }
    val keptTables = kept.map(e => log.tables(commits(e)))
    // live rel-paths per CURRENTLY governed table across ALL retained
    // commits (an ex-governed table's directory is plain data now —
    // never sweep it); unreferenced files older than the cutoff go
    keptTables.last.keys.foreach { n =>
      val live = keptTables.flatMap(_.get(n)).distinct.flatMap(log.rels).toSet
      walkParquetRel(new Path(path(n))).filterNot(live)
        .map(r => new Path(path(n), r))
        .filter(p => fs.getFileStatus(p).getModificationTime <= cutoff)
        .foreach(p => fs.delete(p, false))
      deleteEmptyDirs(new Path(path(n)))
    }
    log.prune(commits, kept.toSet, cutoff)
    if (fs.exists(stageRoot))
      fs.listStatus(stageRoot)
        .filter(_.getModificationTime <= cutoff)
        .foreach(st => fs.delete(st.getPath, true))
  }

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

  // Operation types stamped into the log's entries — WHY a table's
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
}
