package graft.store

import org.apache.spark.sql.functions._

/** Store integrity checks — the `PRAGMA integrity_check` /
  * `fts5('integrity-check')` analog for every maintained index
  * family. Each derived artifact (FTS postings, LSH bands, IVF
  * cells, PQ codes, IVF+PQ residual codes, trigram postings) carries
  * invariants its incremental maintenance relies on; a torn multi-step commit (crash between partition
  * overwrite and stats write) or an out-of-band table edit breaks
  * them SILENTLY — queries keep answering, just wrongly. `check`
  * verifies the invariants and names what is broken; maintenance
  * self-heals most of them on the next upsert (the FTS epoch guard
  * forces a wholesale rebuild), so the findings are actionable, not
  * fatal.
  */
object Doctor {

  /** One finding: which index family, which table, what is wrong. */
  final case class Issue(component: String, table: String, problem: String)

  /** Check every index family of every base table in the store. */
  def check(store: TableStore): Seq[Issue] = {
    val names = store.tableNames.toSet
    // LIVENESS includes governed-but-dirless names: a table created
    // empty (CREATE/CTAS before any insert) and a mid-rename base
    // whose dir move is pending are both live — treating either as
    // dead would mis-prove its artifacts orphaned
    val live = names ++ store.governed
    val issues = Seq.newBuilder[Issue]

    def baseOf(idx: String, suffix: String): String =
      idx.stripSuffix(suffix)

    // ORPHAN index artifacts: SQL DROP removes a base plus its whole
    // artifact inventory, but a library-side `store.drop(base)` alone
    // leaves every index family keyed on the dead name — unreachable
    // by any later build and invisible to the per-family checks below
    // (they anchor on the base). Flag them HERE, and only with the
    // provenance that proves they are index artifacts: a `_meta`
    // provenance row naming a base that is gone, or an FTS postings +
    // stats pair whose base is gone. A user table that merely LOOKS
    // like an artifact (`x_fts` with no stats shadow) is never
    // flagged on its name alone.
    names.filter(_.endsWith("_meta")).foreach { m =>
      val famBase = baseOf(m, "_meta")
      // trainingMeta is shape-guarded: a user table that merely
      // matches the _meta name reads as None, never crashes the pass
      IvfDrift.trainingMeta(store, famBase).foreach { kv =>
        kv.get("table").foreach { base =>
          // proof needs NAME agreement too: every build derives the
          // index name from its base (famBase = base + suffix), so a
          // meta whose own name does NOT extend the recorded base is
          // not an orphan — it is STALE PROVENANCE (a crash between a
          // rename's directory moves and its _meta re-point), which
          // the rename's resume repairs; flagging (and worse, healing)
          // it as an orphan would delete a live table's artifacts
          if (!live.contains(base) && famBase.startsWith(base))
            issues += Issue("orphan", famBase,
              s"index artifact whose base table '$base' is not in the " +
                "store — most likely a library-side drop that bypassed " +
                "the artifact inventory; remove the family's tables " +
                "(Retract.artifactTablesOf + dropTables) or re-create " +
                s"'$base' (a deliberately base-less index built through " +
                "the refresh seam can silence this by dropping its " +
                "_meta provenance row)")
        }
      }
    }
    names.filter(_.endsWith("_fts")).foreach { idx =>
      val base = baseOf(idx, "_fts")
      if (!live.contains(base) && names.contains(Fts.statsName(base)))
        issues += Issue("orphan", idx,
          s"FTS postings whose base table '$base' is not in the store " +
            "— most likely a library-side drop; remove postings + " +
            s"stats or re-create '$base'")
    }

    names.filter(_.endsWith("_fts")).foreach { idx =>
      issues ++= fts(store, baseOf(idx, "_fts"), names)
    }
    names.filter(_.endsWith("_lsh")).foreach { idx =>
      issues ++= lsh(store, baseOf(idx, "_lsh"), names)
    }
    names.toSeq.flatMap(VectorIndex.ofPrimary).foreach { case (f, t) =>
      issues ++= f.check(store, t, names)
    }
    names.filter(_.endsWith("_tri")).foreach { idx =>
      issues ++= trigram(store, baseOf(idx, "_tri"))
    }
    names.filter(_.endsWith("_hh")).foreach { idx =>
      issues ++= heavyHitters(store, baseOf(idx, "_hh"), names)
    }
    names.filter(_.endsWith("_decon_grams")).foreach { idx =>
      issues ++= decontaminate(store, baseOf(idx, "_decon_grams"), names)
    }
    names.filter(_.endsWith("_qcls")).foreach { idx =>
      issues ++= centroidModel(store, baseOf(idx, "_qcls"))
    }
    names.filter(_.endsWith("_cdc_ledger")).foreach { idx =>
      issues ++= cdcLedger(store, baseOf(idx, "_cdc_ledger"), names)
    }
    names.filter(_.endsWith("_bks")).foreach { idx =>
      issues ++= bottomKSample(store, baseOf(idx, "_bks"))
    }
    names.foreach { t =>
      store.bucketLayoutOf(t).foreach { case (n, pk) =>
        issues ++= bucketedBase(store, t, n, pk)
      }
      store.zorderLayoutOf(t).foreach { case (zCols, bits) =>
        issues ++= zordered(store, t, zCols, bits)
      }
      if (store.hasFileStats(t)) issues ++= fileStatsFresh(store, t)
      issues ++= declaredSchema(store, t)
    }
    // epoch-governed tables: every committed file must exist on disk —
    // an out-of-band deletion breaks reads loudly at scan time, so
    // name it here first (the commit log is the source of truth;
    // unreferenced EXTRA files are normal pre-vacuum state and a
    // `suggest` matter, not an error)
    store.governed.toSeq.sorted.foreach { t =>
      val missing = store.missingCommittedFiles(t)
      if (missing.nonEmpty)
        issues += Issue("epoch", t,
          s"commit references ${missing.size} missing file(s) " +
            s"(e.g. ${missing.head}) — out-of-band deletion; restore " +
            "the files or rebuild and re-govern the table")
    }
    // PARTIALLY-DEAD release tags: `DROP TABLE PURGE` deliberately
    // keeps a tag that also pins OTHER tables' retention (dropping it
    // would silently release their vacuum pins), so the kept tag's
    // pinned commit then names tables that no longer exist — correct,
    // but silent: `VERSION AS OF '<tag>'` fails only per-dead-table at
    // read time. Name the state here so a release manager can see
    // which release pins are partial ($tags surfaces the same list).
    store.tags().toSeq.sortBy(_._1).foreach { case (tag, e) =>
      val dead = (store.tablesAt(e) -- live).toSeq.sorted
      if (dead.nonEmpty)
        issues += Issue("tag-dead-member", tag,
          s"release tag pins epoch $e whose commit names non-live " +
            s"table(s) ${dead.mkString(", ")} — a DROP TABLE PURGE " +
            "kept the tag because it also protects other tables' " +
            "retention; VERSION AS OF the tag fails for the dead " +
            "members; drop_tag when the release no longer matters")
    }
    // a rename that started but never finished (crash mid-move): the
    // intent marker is the positive evidence the resume keys on —
    // surface it so the fix (re-run the same rename) is visible
    // instead of discovered through failing reads
    store.renameIntent().foreach(_.toSeq.sorted.foreach { case (o, n) =>
      issues += Issue("rename-pending", o,
        s"a rename $o -> $n started but did not finish (crash " +
          "mid-move) — re-run the same rename (ALTER TABLE ... RENAME " +
          "TO / renameTables) to complete it; other renames refuse " +
          "until it completes")
    })
    issues.result()
  }

  /** Advisory maintenance suggestions — the self-driving half of the
    * compaction story: integrity `check` reports what is WRONG, this
    * reports what is SLOW. The one signal that matters at 100 TB is
    * small-file fragmentation — the incremental paths (bucket-scoped
    * upserts, dynamic-partition index maintenance) accrete one file
    * per batch per partition, and listing + per-file open overhead
    * comes to dominate scan time long before data volume does.
    *
    * The threshold derives from the table's own fileStats: the
    * bin-packed ideal is ceil(bytes / targetBytes), floored at one
    * file per live partition directory (a bucketed table can never
    * pack below one file per occupied bucket, and that is not
    * fragmentation). A table is flagged when it carries more than
    * 2× that floor (and at least a handful of files), i.e. exactly
    * when the suggested compact would actually reduce the file count.
    */
  def suggest(
      store: TableStore, targetBytes: Long = 128L << 20,
      vacuumMinAgeMs: Option[Long] = None): Seq[Issue] =
    store.tableNames.flatMap { t =>
      val (files, bytes) = store.fileStats(t)
      val ideal = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
      val partDirs = store.dataFiles(t)
        .map(p => p.substring(0, p.lastIndexOf('/'))).distinct.size
      val floor = math.max(ideal, partDirs.toLong)
      if (files > math.max(8L, 2L * floor)) {
        val verb = store.zorderLayoutOf(t) match {
          case Some((zCols, bits)) =>
            s"compact-z <store> $t $bits ${zCols.mkString(",")}"
          case None => s"compact <store> $t"
        }
        Some(Issue("compact", t,
          s"$files files for $bytes bytes (packed floor ≈ $floor): " +
            s"small-file fragmentation — run `$verb`"))
      } else None
    } ++ centroidDrift(store) ++ epochGarbage(store) ++ consumerLag(store) ++
      vacuumMinAgeMs.toSeq.flatMap(vacuumHorizon(store, _))

  /** Incremental-consumer lag advisories: a registered cursor is a
    * vacuum root, so a consumer that stops consuming pins every epoch
    * since its cursor — storage and metadata grow until it catches up
    * or is dropped. Flag past a handful of pinned epochs.
    */
  private def consumerLag(store: TableStore): Seq[Issue] = {
    val cur = store.epochs().lastOption.getOrElse(return Seq.empty)
    EpochFollower.cursors(store).toSeq.sortBy(_._1).flatMap {
      case ((table, consumer), epoch) =>
        val lag = cur - epoch
        if (lag >= 8)
          Some(Issue("consumer-lag", table,
            s"consumer '$consumer' is $lag epochs behind (cursor $epoch, " +
              s"head $cur) — its vacuum pin retains every epoch since; " +
              "run `consume <store> $table $consumer` to catch it up, or " +
              "`drop-consumer` if it is dead"))
        else if (lag > 0 &&
            !ChangeWindow(store, Seq(table -> Nil), appends = false)
              .walkable(epoch, cur))
          // the window is no longer rewrite-walkable (intermediate
          // commits vacuumed / table ungoverned at a step): the next
          // consume falls back to the coarse endpoint diff, and any
          // compaction in the gap then redelivers the table
          Some(Issue("consumer-lag", table,
            s"consumer '$consumer' (cursor $epoch, head $cur) has a " +
              "non-walkable catch-up window — intermediate commits were " +
              "vacuumed, so its next consume cannot skip rewrite-only " +
              "commits and may redeliver compacted files; consume sooner " +
              "or widen the vacuum retention window past consumer lag"))
        else None
    }
  }

  /** PREDICTIVE vacuum-horizon check: would `vacuumEpochs(planned)`
    * run NOW cost a lagging consumer its rewrite-skipping? The
    * rewrite-aware incremental walk needs every intermediate commit in
    * (cursor, head) retained; vacuum retains a commit only while its
    * successor's mtime is inside the retention window (or a tag /
    * cursor pins it directly). The existing consumer-lag advisory
    * fires AFTER the fallback is already in force — this one names the
    * consumers a planned retention would break, counts the commits at
    * risk, and reports the minAgeMs that would be safe — retention
    * sizing stops being an operator guess.
    */
  private def vacuumHorizon(
      store: TableStore, plannedMinAgeMs: Long): Seq[Issue] = {
    val commits = store.commitStamps()
    if (commits.size < 3) return Seq.empty
    val head = commits.last._1
    val pinned = store.tags().values.toSet ++
      EpochFollower.cursors(store).values.toSet
    val now = System.currentTimeMillis()
    val cutoff = now - plannedMinAgeMs
    EpochFollower.cursors(store).toSeq.sortBy(_._1).flatMap {
      case ((table, consumer), epoch) =>
        // the walk needs every commit in (cursor, head); commit i
        // survives vacuum while its SUCCESSOR is younger than the
        // cutoff, it is the latest, or a pin holds it directly
        val atRisk = commits.zipWithIndex.collect {
          case ((e, _), i) if e > epoch && e < head && !pinned(e) &&
            commits(i + 1)._2 <= cutoff => (e, commits(i + 1)._2)
        }
        if (atRisk.isEmpty) None
        else {
          val safeMs = now - atRisk.map(_._2).min + 1
          Some(Issue("vacuum-horizon", table,
            s"consumer '$consumer' (cursor $epoch, head $head) would " +
              s"lose rewrite-skipping: vacuumEpochs($plannedMinAgeMs) " +
              s"drops ${atRisk.size} intermediate commit(s) from its " +
              s"catch-up window, so its next consume degrades to the " +
              s"coarse endpoint diff and a compaction in the gap " +
              s"redelivers the table — use minAgeMs >= $safeMs, or " +
              s"consume/drop the consumer first"))
        }
    }
  }

  /** Epoch-store garbage advisories: unreferenced files from replaced
    * epochs (or commit-crash orphans) are NORMAL pre-vacuum state —
    * in-flight readers may still scan them — but past a handful they
    * are pure listing/storage overhead, so suggest the reclaim.
    */
  private def epochGarbage(
      store: TableStore, thresholdBytes: Long = 64L << 20): Seq[Issue] =
    store.governed.toSeq.sorted.flatMap { t =>
      val orphans = store.unreferencedFiles(t)
      // two independent triggers: many small retired files (listing
      // overhead) OR few huge ones (storage) — one 1 GB retired file
      // wastes as much as a thousand 1 MB ones
      val bytes = if (orphans.isEmpty) 0L else store.unreferencedBytes(t)
      if (orphans.size >= 8 || bytes >= thresholdBytes)
        Some(Issue("vacuum", t,
          s"${orphans.size} unreferenced files ($bytes bytes) from " +
            "replaced epochs — run `vacuum-epochs <store> [minutes]` " +
            "(retention window keeps in-flight readers safe)"))
      else None
    }

  /** IVF centroid-drift advisories ([[IvfDrift]]): cells train once,
    * so after heavy post-training upserts the occupancy distribution
    * skews away from the train-time snapshot and probe recall decays
    * silently — degraded, not wrong, hence a SUGGEST finding with a
    * retrain recommendation (one buildIndex re-run — the Kmeans.train
    * path the index was born from — rewrites cells and snapshot).
    */
  private def centroidDrift(store: TableStore): Seq[Issue] =
    VectorIndex.driftReports(store).flatMap { case (famBase, r) =>
      val reasons = Seq(
        if (r.tv > 0.25)
          Some(f"occupancy shape drifted (TV ${r.tv}%.2f > 0.25)")
        else None,
        if (r.growth > 2.0 && r.nTrain == 0L)
          // growth is +Infinity here — "grew Infinityx" reads as a
          // bug, and the real story is an index trained before any
          // vectors landed
          Some(s"index trained on an EMPTY corpus (now ${r.nNow} " +
            "vectors) — the centroids are meaningless")
        else if (r.growth > 2.0)
          Some(f"corpus grew ${r.growth}%.1fx past the training snapshot " +
            f"(${r.nTrain} -> ${r.nNow} vectors)")
        else None).flatten
      if (reasons.isEmpty) None
      else Some(Issue("ivf-drift", famBase,
        reasons.mkString("; ") + " — probe recall decays silently; " +
          "retrain the coarse quantizer (re-run buildIndex / kmeans " +
          "training) to restore the recall floor"))
    }

  /** Execute every [[suggest]] finding — closing the self-driving
    * maintenance loop: `check` names what is WRONG, `suggest` what is
    * SLOW, `repair` fixes the slow half. Each flagged table compacts
    * through the layout-aware verb (z-ordered tables recompact with
    * their declared Morton key so the clustering — and every
    * pruneFiles answer that depends on it — survives; plain tables
    * bin-pack). Deliberately compaction-only: integrity findings need
    * a human decision (rebuild WHICH index, from WHAT source),
    * fragmentation does not. Returns (table, filesBefore, filesAfter)
    * per compacted table — idempotent, since a repaired table no
    * longer suggests.
    */
  def repair(
      store: TableStore, targetBytes: Long = 128L << 20): Seq[(String, Long, Long)] =
    suggest(store, targetBytes).map { s =>
      val t = s.table
      val (before, after) = store.zorderLayoutOf(t) match {
        case Some((zCols, bits)) =>
          store.compactZorder(t, zCols, bits, targetBytes)
        case None => store.compact(t, targetBytes = targetBytes)
      }
      (t, before, after)
    }

  /** Execute the RETRAIN half of the advisory loop: every ivf-drift
    * [[suggest]] finding whose index recorded training provenance
    * ([[IvfDrift.recordTraining]], captured by every buildIndex)
    * re-runs its family's buildIndex on the current corpus — the
    * `doctor --repair` twin of the compaction `repair`, closing the
    * detect→recommend→retrain loop in one command. Indexes without
    * provenance (pre-capture builds) stay advisory-only: retraining
    * them needs the caller's pk/emb columns. Returns (famBase,
    * reportBefore, reportAfter) per retrained index — `after.tv ≈ 0`
    * and `growth = 1` by construction, so the call is idempotent
    * (a retrained index no longer suggests).
    */
  /** Execute the COVERAGE half of `--repair`: every bucketed
    * single-pk table with per-pk indexes heals its pk-set divergences
    * through [[IndexMaintain.healDiverged]] — ghosts retract from
    * every family, missing vector rows re-encode from recorded
    * provenance (the column map that used to need a human to
    * restate). Returns (table, what, n) per healed divergence;
    * idempotent — a healed store returns nothing.
    */
  def healCoverage(store: TableStore): Seq[(String, String, Long)] =
    store.tableNames.sorted.flatMap(t =>
      IndexMaintain.healDiverged(store, t).map { case (w, n) => (t, w, n) })

  /** Remove PROVENANCE-PROVEN orphan index artifacts — the repair verb
    * paired with [[check]]'s `orphan` findings, closing the
    * detect→repair loop the other Doctor families already have. A dead
    * base is proven exactly the way the check proves it: a `_meta`
    * provenance row naming a base that is not in the store, or an FTS
    * postings + stats pair whose base is gone; once proven, the ENTIRE
    * inventory of that base drops ([[Retract.artifactTablesOf]] — the
    * same set a SQL DROP takes), because partial removal would leave
    * the per-family checks flagging the remainder. A user table that
    * merely LOOKS like an artifact (`x_fts` with no stats shadow, a
    * mis-shaped `_meta` lookalike) is never touched — no provenance,
    * no proof, no drop. Tag/cursor pins on an artifact refuse through
    * [[TableStore.dropTables]]' own guards, the same discipline DROP
    * has. Returns (dead base, artifacts dropped); idempotent — a
    * healthy store returns nothing.
    */
  def healOrphans(store: TableStore): Seq[(String, Seq[String])] = {
    val names = store.tableNames.toSet
    // governed-but-dirless names are LIVE (create-before-insert, a
    // mid-rename base) — same rule as the check
    val live = names ++ store.governed
    val dead = scala.collection.mutable.LinkedHashSet[String]()
    names.filter(_.endsWith("_meta")).foreach { m =>
      val famBase = m.stripSuffix("_meta")
      IvfDrift.trainingMeta(store, famBase).foreach { kv =>
        kv.get("table").foreach { base =>
          // same NAME-agreement rule as the check: a meta whose own
          // name does not extend the recorded base is stale provenance
          // from a mid-rename crash, NOT an orphan — healing it would
          // delete the not-yet-moved directories the rename's resume
          // needs (data loss); the resume re-points it instead
          if (!live.contains(base) && famBase.startsWith(base))
            dead += base
        }
      }
    }
    names.filter(_.endsWith("_fts")).foreach { idx =>
      val base = idx.stripSuffix("_fts")
      if (!live.contains(base) && names.contains(Fts.statsName(base)))
        dead += base
    }
    dead.toSeq.sorted.flatMap { base =>
      val arts = Retract.artifactTablesOf(store, base)
      if (arts.isEmpty) None
      else {
        store.dropTables(arts)
        Some(base -> arts)
      }
    }
  }

  def retrainDrifted(
      store: TableStore): Seq[(String, IvfDrift.Report, IvfDrift.Report)] =
    centroidDrift(store).flatMap { issue =>
      val famBase = issue.table
      IvfDrift.trainingMeta(store, famBase).map { _ =>
        val before = VectorIndex.driftReport(store, famBase).get
        (famBase, before, IvfDrift.retrain(store, famBase))
      }
    }

  /** The stats manifest must track exactly the table's current data
    * files — an out-of-band write leaves untracked files that every
    * pruneFiles call footer-walks on the driver (slow, never wrong),
    * and tracked-but-gone files that waste manifest rows.
    */
  /** A `_graft_schema` marker (SQL CREATE/CTAS/ALTER) serves two
    * roles: the schema while the table holds no data, and — since SQL
    * `ALTER TABLE ADD COLUMN` — the declared surface the catalog's
    * reader NULL-FILLS declared-but-missing columns from. A marker
    * that is a SUPERSET of the data (agreeing on shared column types)
    * is therefore the VALID pending-evolution state, not drift: the
    * added column simply has no data yet. What IS drift: a data
    * column absent from the marker (library-side evolution the marker
    * never learned — a delete emptying the table would serve the
    * stale narrow shape) or a type disagreement on a shared column
    * (fix: re-declare, or remove the marker). The REVERSE
    * subset-direction has one sanctioned case: a data column named in
    * the DROPPED tombstone list ([[TableStore.droppedColumnsOf]]) is
    * the valid post-`ALTER TABLE DROP COLUMN` state — the catalog
    * projects it out of current reads, the data files deliberately
    * keep it (metadata-only drop, no rewrite at 100 TB). A data
    * column under a RENAMED physical name compares by its SURFACE
    * name ([[TableStore.renamedColumnsOf]]) — the files keeping the
    * birth name is the valid post-`RENAME COLUMN` state. Name+type
    * only — nullability and the store-internal bucket column are not
    * part of the declared surface.
    */
  private def declaredSchema(store: TableStore, table: String): Seq[Issue] =
    store.declaredSchemaOf(table) match {
      case Some(declared) =>
        store.readIfExists(table) match {
          case Some(df) =>
            val dropped = store.droppedColumnsOf(table).toSet
            val actual = store.surfaceSchemaOf(table,
              org.apache.spark.sql.types.StructType(df.schema.fields
                .filterNot(_.name == store.BucketCol)))
              .fields.map(f => f.name -> f.dataType).toMap
            val decl = declared.fields.map(f => f.name -> f.dataType).toMap
            val drift =
              (actual.keySet -- decl.keySet -- dropped).toSeq.sorted
                .map(c => s"$c only in data") ++
              decl.keySet.intersect(actual.keySet).toSeq.sorted
                .filter(c => decl(c) != actual(c))
                .map(c => s"$c ${decl(c)}→${actual(c)}")
            if (drift.isEmpty) Seq.empty
            else Seq(Issue("schema", table,
              s"declared-schema marker diverges from the data " +
                s"(${drift.mkString(", ")}) — a delete emptying the " +
                "table would serve the stale declared shape; " +
                "re-declare (declareSchema) or remove the marker"))
          case None => Seq.empty // empty table: the marker IS the schema
        }
      case None => Seq.empty
    }

  private def fileStatsFresh(store: TableStore, table: String): Seq[Issue] = {
    val out = Seq.newBuilder[Issue]
    val listed = store.dataFiles(table).toSet
    val known = store.fileStatsTable(table).get
      .filter(col("col") === "").select(col("file"))
      .collect().map(_.getString(0)).toSet
    val untracked = listed -- known
    val gone = known -- listed
    if (untracked.nonEmpty || gone.nonEmpty)
      out += Issue("file-stats", table,
        s"manifest out of date: ${untracked.size} data files untracked " +
          s"(footer-walked per prune call), ${gone.size} tracked files " +
          "gone — out-of-band write; run refresh-stats")
    out.result()
  }

  private def zordered(
      store: TableStore, table: String, zCols: Seq[String], bits: Int): Seq[Issue] = {
    val out = Seq.newBuilder[Issue]
    val df = store.read(table)
    val cols = df.columns.toSet
    val missing = zCols.filterNot(cols.contains)
    if (missing.nonEmpty) {
      out += Issue("zorder", table,
        s"declared z-order column(s) ${missing.mkString(", ")} no longer " +
          "exist — the clustering claim is stale (recompact or drop the marker)")
      return out.result()
    }
    // values past [0, 2^bits) interleave only their low bits — rows
    // far apart collide on the z-key and the clustering (and with it
    // every pruneFiles answer's selectivity) silently degrades; the
    // same invariant compactZorder enforces loudly at write time
    val bad = df.filter(zCols.map(c =>
        col(c).cast("long") < 0L || col(c).cast("long") >= (1L << bits))
      .reduce(_ || _)).count()
    if (bad > 0)
      out += Issue("zorder", table,
        s"$bad rows carry z-column values outside [0, 2^$bits) — " +
          "out-of-band edit after compaction; re-run compactZorder")
    out.result()
  }

  private def bucketedBase(
      store: TableStore, table: String, buckets: Int, pk: Seq[String]): Seq[Issue] = {
    val out = Seq.newBuilder[Issue]
    val df = store.read(table)
    val cols = df.columns.toSet
    val missing = (pk :+ store.BucketCol).filterNot(cols.contains)
    if (missing.nonEmpty) {
      out += Issue("bucketed-base", table,
        s"declared layout names column(s) ${missing.mkString(", ")} the " +
          "table no longer has — the bucket-scoped upsert cannot route " +
          "(re-declare or rebuild)")
      return out.result()
    }
    // a row filed under the wrong bucket still reads fine (scans don't
    // prune by bucket unless asked) but breaks O(batch) maintenance:
    // the next upsert of its pk rewrites a bucket that doesn't hold it,
    // leaving the stale row behind — the Trigram misfiled-row invariant
    val bad = df.filter(
      col(store.BucketCol).cast("long") =!= store.bucketOfPk(pk, buckets)).count()
    if (bad > 0)
      out += Issue("bucketed-base", table,
        s"$bad rows sit in the wrong pk bucket — an upsert of their pks " +
          "would leave them stale (recompact via upsertBucketed rebuild)")
    out.result()
  }

  private def trigram(store: TableStore, table: String): Seq[Issue] = {
    val out = Seq.newBuilder[Issue]
    val idx = store.read(Trigram.indexName(table))
    // malformed grams (anything but exactly 3 chars) can never match a
    // needle trigram — those docs silently vanish from search results
    val badG = idx.filter(length(col("g")) =!= 3).count()
    if (badG > 0)
      out += Issue("trigram", table,
        s"$badG postings rows are not 3-char grams — docs with them " +
          "are invisible to substring search (rebuild)")
    // bucket integrity: a row filed under the wrong pk bucket survives
    // queries (search doesn't prune by bucket) but breaks O(batch)
    // maintenance — the next upsert of its pk won't rewrite its dir
    val badB = idx.filter(
      col("pk_bucket").cast("long") =!= store.bucketOfPk(Seq("pk"), Trigram.nBuckets))
      .count()
    if (badB > 0)
      out += Issue("trigram", table,
        s"$badB postings rows sit in the wrong pk bucket — incremental " +
          "maintenance would leave them stale (rebuild)")
    out.result()
  }

  private def heavyHitters(
      store: TableStore, table: String, names: Set[String]): Seq[Issue] = {
    val out = Seq.newBuilder[Issue]
    val sk = store.read(s"${table}_hh")
    val cols = sk.columns.toSet
    // schema first: a *_hh table that is not sketch-shaped must be an
    // Issue, not an AnalysisException that aborts the whole check —
    // the integrity checker survives exactly the states it reports
    val missing = Seq("item", "cnt").filterNot(cols.contains)
    if (missing.nonEmpty) {
      out += Issue("heavy-hitters", table,
        s"sketch is missing column(s) ${missing.mkString(", ")} — not " +
          "MG-counter-shaped (out-of-band rewrite; rebuild via the sink)")
      return out.result()
    }
    // non-positive counters can never be emitted by the MG combine
    // (it drops them) — their presence means an out-of-band edit
    val bad = sk.filter(col("item").isNotNull && col("cnt") <= 0L).count()
    if (bad > 0)
      out += Issue("heavy-hitters", table,
        s"$bad sketch counters are non-positive — the mergeable " +
          "combine never writes those (out-of-band edit; rebuild)")
    // the (run_id, batch_id) watermark rides the sketch swap itself;
    // a sketch without it predates (or lost) redelivery protection —
    // a recovered stream would merge a redelivered batch twice, and
    // without run_id a fresh-checkpoint restart would silently skip
    // batches until its ids caught up
    if (!sk.columns.contains("batch_id"))
      out += Issue("heavy-hitters", table,
        "sketch has no batch_id column — a redelivered micro-batch " +
          "would merge twice (rebuild via the sink)")
    else if (!sk.columns.contains("run_id"))
      out += Issue("heavy-hitters", table,
        "sketch has no run_id column — a restart with a fresh " +
          "checkpoint would skip batches until its ids caught up " +
          "(rebuild via the sink)")
    out.result()
  }

  /** Streaming centroid-classifier model (`<table>_qcls`,
    * streaming/StreamCentroid): same shape discipline as the sketch
    * checks — a mis-shaped model is an Issue, never a crash.
    */
  private def centroidModel(store: TableStore, table: String): Seq[Issue] = {
    val out = Seq.newBuilder[Issue]
    val m = store.read(s"${table}_qcls")
    val cols = m.columns.toSet
    val missing = Seq("bucket", "sp", "sn").filterNot(cols.contains)
    if (missing.nonEmpty) {
      out += Issue("centroid-model", table,
        s"model is missing column(s) ${missing.mkString(", ")} — not " +
          "centroid-shaped (out-of-band rewrite; rebuild via the sink)")
      return out.result()
    }
    // exactly one doc-counts row (bucket = -1): the decision rule
    // divides through by these — zero rows means an unservable model,
    // several means a torn merge
    val nCounts = m.filter(col("bucket") === -1).count()
    if (nCounts != 1L)
      out += Issue("centroid-model", table,
        s"$nCounts doc-count rows (bucket = -1); the sink writes exactly " +
          "one — out-of-band edit or torn merge (rebuild via the sink)")
    // sums are token/doc COUNTS — the additive merge can never write
    // a negative
    val neg = m.filter(col("sp") < 0L || col("sn") < 0L).count()
    if (neg > 0)
      out += Issue("centroid-model", table,
        s"$neg model rows carry negative class sums — the additive " +
          "merge never writes those (out-of-band edit; rebuild)")
    // redelivery watermark discipline (same contract as the sketches)
    if (!cols.contains("batch_id"))
      out += Issue("centroid-model", table,
        "model has no batch_id column — a redelivered micro-batch " +
          "would merge twice (rebuild via the sink)")
    else if (!cols.contains("run_id"))
      out += Issue("centroid-model", table,
        "model has no run_id column — a fresh-checkpoint restart " +
          "would skip batches until its ids caught up (rebuild)")
    out.result()
  }

  private def decontaminate(
      store: TableStore, table: String, names: Set[String]): Seq[Issue] = {
    val out = Seq.newBuilder[Issue]
    // the bloom blob must exist next to the gram table: the sink
    // prefilters with the blob and verifies against the grams — a
    // missing blob fails every batch at read time
    if (!names.contains(s"${table}_decon_bloom"))
      out += Issue("decontaminate", table,
        "eval gram table present but the bloom blob is missing — " +
          "the streaming gate cannot prefilter (re-run install)")
    else {
      // the blob must COVER the gram table (no false negatives): any
      // gram whose bit-test misses proves the artifacts diverged
      // (e.g. grams rewritten without re-running install). A 0-row
      // blob table is itself a finding, not a crash — the integrity
      // checker must survive exactly the torn writes it reports.
      val blobRow = store.read(s"${table}_decon_bloom").collect().headOption
      if (blobRow.isEmpty) {
        out += Issue("decontaminate", table,
          "bloom blob table exists but holds no rows — torn install; " +
            "re-run install")
        return out.result()
      }
      val blob = blobRow.get.getAs[Array[Byte]]("bf")
      val grams = store.read(s"${table}_decon_grams")
      if (blob == null) {
        val n = grams.count()
        if (n > 0)
          out += Issue("decontaminate", table,
            s"NULL bloom blob but $n eval grams — every batch would " +
              "pass unchecked (re-run install)")
      } else {
        val missed = grams.filter(!graft.functions.BloomFns.mightContain(
          store.spark, lit(blob), xxhash64(col("gram")))).count()
        if (missed > 0)
          out += Issue("decontaminate", table,
            s"$missed eval grams are NOT covered by the bloom blob — " +
              "contaminated docs can slip the prefilter (re-run install)")
      }
    }
    out.result()
  }

  /** StreamQuantiles' bottom-k sample: every row's hash must equal
    * the salted-md5 recompute of its tie key (the sample is a pure
    * function of the data — a drifted hash silently biases every
    * quantile it answers), and (grp, tie) must be unique (set-union
    * merge can never write two rows for one key).
    */
  private def bottomKSample(store: TableStore, table: String): Seq[Issue] = {
    val out = Seq.newBuilder[Issue]
    val sk = store.read(s"${table}_bks")
    val cols = sk.columns.toSet
    val missing = Seq("grp", "h", "tie", "v", "k").filterNot(cols.contains)
    if (missing.nonEmpty) {
      out += Issue("quantile-sample", table,
        s"sample is missing column(s) ${missing.mkString(", ")} — not " +
          "bottom-k-shaped (out-of-band rewrite; rebuild via the sink)")
      return out.result()
    }
    // the k-bound the table itself declares: a group holding more
    // rows than k means an out-of-band write the eviction merge never
    // produces (and cardinality's estimator would silently misread)
    val kBound = sk.agg(max(col("k"))).head
    if (!kBound.isNullAt(0)) {
      val over = sk.groupBy(col("grp")).count()
        .filter(col("count") > kBound.getInt(0)).count()
      if (over > 0)
        out += Issue("quantile-sample", table,
          s"$over groups hold more rows than the declared k=" +
            s"${kBound.getInt(0)} — the eviction merge never writes " +
            "that (out-of-band edit; rebuild via the sink)")
    }
    val recomputed =
      conv(substring(md5(concat(lit("q|"), col("tie").cast("string"))), 1, 12), 16, 10)
        .cast("long")
    val drifted = sk.filter(col("h") =!= recomputed).count()
    if (drifted > 0)
      out += Issue("quantile-sample", table,
        s"$drifted sample rows carry a hash that does not recompute " +
          "from the tie key — the sample is no longer a function of " +
          "the data (out-of-band edit; rebuild via the sink)")
    val dup = sk.groupBy(col("grp"), col("tie")).count()
      .filter(col("count") > 1).count()
    if (dup > 0)
      out += Issue("quantile-sample", table,
        s"$dup (grp, tie) keys have multiple sample rows — set-union " +
          "merge never writes duplicates (out-of-band edit; rebuild)")
    out.result()
  }

  private def cdcLedger(
      store: TableStore, table: String, names: Set[String]): Seq[Issue] = {
    val out = Seq.newBuilder[Issue]
    val ledger = store.read(s"${table}_cdc_ledger")
    // insert-ignore on fp can never write two rows per fingerprint —
    // duplicates mean an out-of-band write, and the seen-count
    // semi-join would still answer right but the ledger's first-wins
    // ownership is ambiguous
    val dup = ledger.groupBy(col("fp")).count().filter(col("count") > 1).count()
    if (dup > 0)
      out += Issue("cdc-dedup", table,
        s"$dup chunk fingerprints have multiple ledger rows — " +
          "first-wins ownership is ambiguous (out-of-band write; rebuild)")
    // the stats sink writes n_seen from a semi-join of the doc's own
    // chunks, so n_seen > n_chunks (or negatives) cannot come from the
    // sink
    names.find(_ == s"${table}_cdc_stats").foreach { st =>
      val bad = store.read(st).filter(
        col("n_seen") > col("n_chunks") || col("n_seen") < 0L ||
          col("n_chunks") <= 0L || col("n_chars") <= 0L).count()
      if (bad > 0)
        out += Issue("cdc-dedup", table,
          s"$bad stats rows violate 0 <= n_seen <= n_chunks (with " +
            "positive chunk counts) — out-of-band edit; rebuild via the sink")
    }
    out.result()
  }

  private def fts(store: TableStore, table: String, names: Set[String]): Seq[Issue] = {
    val out = Seq.newBuilder[Issue]
    val idx = store.read(Fts.indexName(table))
    val statsOpt = store.readIfExists(Fts.statsName(table))

    // torn commit: the epoch marker is bumped BEFORE postings write,
    // the stats row records it after — a mismatch means a crash tore
    // the maintenance partway (next upsert rebuilds wholesale)
    val marker = store.readIfExists(Fts.epochName(table))
      .map(_.select(col("epoch")).head.getLong(0))
    val recorded = statsOpt.flatMap { st =>
      if (st.columns.contains("epoch"))
        Some(st.select(col("epoch")).head.getLong(0))
      else None
    }
    (marker, recorded) match {
      case (Some(a), Some(b)) if a != b =>
        out += Issue("fts", table,
          s"torn commit: epoch marker $a != stats epoch $b " +
            "(next upsert rebuilds wholesale)")
      case (Some(_), None) | (None, Some(_)) =>
        out += Issue("fts", table, "torn commit: one-sided epoch state")
      case _ => ()
    }

    statsOpt.foreach { st =>
      if (st.columns.contains("total_dl")) {
        val r = st.select(col("n_docs"), col("total_dl")).head
        val (n, dl) = (r.getLong(0), r.getLong(1))
        // recompute from the postings: dl is constant per doc (per
        // (pk, fcol) on the multi-column layout)
        val docs =
          if (idx.columns.contains("fcol"))
            idx.select(col("pk"), col("fcol"), col("dl")).distinct()
          else idx.select(col("pk"), col("dl")).distinct()
        val a = docs.agg(countDistinct(col("pk")), sum(col("dl"))).head
        val (gotN, gotDl) =
          (a.getLong(0), if (a.isNullAt(1)) 0L else a.getLong(1))
        if (gotN != n || gotDl != dl)
          out += Issue("fts", table,
            s"stale stats: recorded (n_docs=$n, total_dl=$dl), " +
              s"postings say ($gotN, $gotDl) — BM25 is scoring wrong")
      }
      if (st.columns.contains("n_buckets")) {
        val declared = st.select(col("n_buckets")).head.getInt(0)
        val bucketed = idx.columns.contains("pk_bucket")
        if ((declared > 0) != bucketed)
          out += Issue("fts", table,
            s"layout mismatch: stats say $declared buckets, index is " +
              (if (bucketed) "bucketed" else "flat"))
      }
    }
    out.result()
  }

  private def lsh(store: TableStore, table: String, names: Set[String]): Seq[Issue] = {
    val out = Seq.newBuilder[Issue]
    if (!names.contains(Lsh.paramsName(table)))
      out += Issue("lsh", table,
        "params table missing: incremental maintenance cannot verify " +
          "the banding family (next upsert rebuilds)")
    val idx = store.read(Lsh.indexName(table))
      .select(col("pk"), col("bucket").cast("long")).distinct()
    store.readIfExists(Lsh.mapName(table)) match {
      case None =>
        out += Issue("lsh", table,
          "map table missing: stale-row cleanup would scan the index")
      case Some(m) =>
        val map = m.select(col("pk"), col("bucket").cast("long"))
        val onlyIdx = idx.join(map, Seq("pk", "bucket"), "left_anti").count()
        val onlyMap = map.join(idx, Seq("pk", "bucket"), "left_anti").count()
        if (onlyIdx > 0 || onlyMap > 0)
          out += Issue("lsh", table,
            s"map out of sync: $onlyIdx index-only / $onlyMap map-only " +
              "(pk, bucket) rows — re-upserts would leave stale bands")
    }
    out.result()
  }
}
