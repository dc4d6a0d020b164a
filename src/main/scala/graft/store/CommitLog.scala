package graft.store

import scala.collection.immutable.TreeMap

import org.apache.hadoop.fs.{FileStatus, Path}

/** The store's epoch log — atomic MULTI-TABLE visibility. The
  * reference wraps each streamed tweet's six table writes in one
  * SQLite transaction (`/root/reference/cli.py:664-668` `with
  * db.conn:`; save_tweets touches tweets/users/places/sources/media/
  * media_tweets, `utils.py:411-446`), so a reader never observes a
  * tweet whose user row hasn't landed. This log restores that
  * point-in-time guarantee with the design every table format at this
  * scale uses (Delta/Iceberg snapshot logs): writes STAGE files
  * ([[TableStore.transact]]), reads resolve through a commit pointer,
  * and one pointer publish flips every governed table from all-old to
  * all-new at once. It is also the offset source of the change feed.
  *
  * Layout under `<root>/_graft_epoch/`:
  * {{{
  *   commit-<epoch%020d>        THE pointer: a `#ts=<ms>` header, then
  *                              `<table>\t<entry>` lines; readers
  *                              resolve the max-epoch file
  *   files-<table>-<epoch>-<w>  a full entry: an `#op=` header, then one
  *                              live data-file rel path per line
  *   delta-<table>-<epoch>-<w>  a delta entry: `base=`/`depth=`/`op=`
  *                              headers, then `+rel`/`-rel` lines
  *                              against its base entry
  *   tag-<name>                 a release tag: the epoch it pins
  *   stage/<...>                TableStore's per-transaction staging
  * }}}
  * `<w>` is a per-store random writer tag. Unchanged tables re-reference
  * their old entry, so a commit writes O(changed tables' files)
  * metadata, not O(store) — the Iceberg manifest-list trick. Pointers
  * and entries are IMMUTABLE once written (fresh names per epoch and
  * writer), so their parses cache by file name across writers; only
  * the listing of the latest pointer hits the filesystem per resolve.
  * The numbered snapshot files behind [[EpochFollower]]'s cursors
  * publish the same way as pointers, through [[putIfAbsent]].
  *
  * Crash matrix: before the pointer publish, readers resolve the old
  * commit and see the complete OLD state of every table (staged or
  * even already-moved files are unreferenced and invisible); after it,
  * the complete NEW state. Replaced files stay on disk until
  * [[TableStore.vacuumEpochs]], so a reader that planned against the
  * old commit finishes its scan. Single writer per store root (the
  * reference's SQLite model), with OCC for concurrent ones; readers
  * are unrestricted and cross-process.
  */
class CommitLog private[store] (store: TableStore) {

  import CommitLog.{Commits, Entry, MaxDeltaDepth, Pointer}
  import TableStore.{OpUnknown, RewriteOps}

  private def fs = store.fs

  private[store] val dir = new Path(store.root, "_graft_epoch")

  // entry and tmp names carry a per-store random tag so two OCC writers
  // staging the SAME table at the same epoch can never overwrite each
  // other's immutable log entries before the pointer publish arbitrates
  // (the loser aborts there, but its entry write must not have
  // corrupted the winner's already-referenced list)
  private val writerTag = java.util.UUID.randomUUID().toString.take(8)

  // parses by immutable file name. Concurrent maps: the writes of a
  // [[TableStore.stageConcurrently]] call resolve entries from their
  // own threads
  private val pointers = scala.collection.concurrent.TrieMap[String, Pointer]()
  private val entries = scala.collection.concurrent.TrieMap[String, Entry]()

  // -------------------------------------------------------------------
  // Pointers

  /** Retained commits: epoch → pointer file, epoch-ascending. */
  private[store] def list(): Commits =
    if (!fs.exists(dir)) TreeMap.empty
    else TreeMap.from(fs.listStatus(dir).toSeq
      .filter(_.getPath.getName.startsWith("commit-"))
      .flatMap(st => scala.util.Try(
        st.getPath.getName.stripPrefix("commit-").toLong).toOption.map(_ -> st)))

  /** THE pointer parse: table → entry and the `#ts=` stamp, read once
    * per pointer file.
    */
  private def pointer(st: FileStatus): Pointer =
    pointers.getOrElseUpdate(st.getPath.getName, {
      val lines = store.readSmall(st.getPath).linesIterator.toSeq
      Pointer(
        lines.filter(l => l.nonEmpty && !l.startsWith("#")) // `#` = headers
          .map(_.split("\t", 2)).collect { case Array(t, e) => t -> e }.toMap,
        lines.collectFirst { case l if l.startsWith("#ts=") => l.stripPrefix("#ts=").toLong })
    })

  /** Table → entry of the commit whose pointer is `st`. */
  private[store] def tables(st: FileStatus): Map[String, String] = pointer(st).tables

  /** THE stamp rule: when a commit became current. The wall-clock
    * stamp persisted in its pointer (a file mtime is the wrong identity
    * for a commit's time — an rsync/copy/restore rewrites it), the
    * pointer file's mtime only for a legacy pointer written before
    * stamping. TIMESTAMP AS OF resolution and vacuum retention key on
    * it.
    */
  private def stamp(st: FileStatus): Long = pointer(st).ts.getOrElse(st.getModificationTime)

  /** (epoch, table → entry) of the latest commit, if any. */
  private[store] def latest: Option[(Long, Map[String, String])] =
    list().lastOption.map { case (e, st) => (e, tables(st)) }

  /** Retained commit epochs, oldest first ([[TableStore.vacuumEpochs]]
    * prunes all but the latest).
    */
  def epochs(): Seq[Long] = list().keys.toSeq

  /** Retained commits with their stamps, epoch-ascending — the inputs
    * of the vacuum's [[retention]] and of [[epochAtTimestamp]], exposed
    * for `$history` and the streaming source's timestamp start.
    */
  def commitStamps(): Seq[(Long, Long)] = list().toSeq.map { case (e, st) => (e, stamp(st)) }

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

  /** Table names governed in the retained commit at `epoch` (empty
    * when the commit is not retained) — pure pointer metadata.
    */
  def tablesAt(epoch: Long): Set[String] =
    list().get(epoch).fold(Set.empty[String])(tables(_).keySet)

  /** THE retained-commit lookup: table → entry of the commit at
    * `epoch` among `commits`, refusing one that is not retained.
    */
  private[store] def retainedAt(commits: Commits, epoch: Long): Map[String, String] =
    tables(commits.getOrElse(epoch, throw new IllegalArgumentException(
      s"${notRetained(commits, epoch)} — vacuumed?")))

  private def notRetained(commits: Commits, epoch: Long): String =
    s"no retained commit for epoch $epoch (retained: ${commits.keys.mkString(", ")})"

  /** `name`'s entry at epoch `e`, or None if the commit is not retained
    * or did not govern the table.
    */
  private def entryAt(commits: Commits, name: String, e: Long): Option[String] =
    commits.get(e).flatMap(tables(_).get(name))

  // -------------------------------------------------------------------
  // Publish

  /** THE publish: write the commit after `epoch` — `update` of that
    * commit's `tables` — as one fresh pointer through [[put]], so
    * visibility flips for every table at once and a truncated pointer
    * can never appear. On a lost race (a concurrent writer published
    * that epoch first) `rebaseUnless` decides: None refuses with a
    * ConcurrentModificationException; Some(staged) applies the
    * Delta/Iceberg OCC rule — re-resolve the latest commit and publish
    * after it iff the interleaved commits touched only tables DISJOINT
    * from `staged` (the staged entries stay valid verbatim: delta bases
    * reference entries the interleaver did not change), else abort
    * with [[TableStore.OccOverlapException]]: merging two writers'
    * divergent file lists for one table would be a lost update, exactly
    * what the pointer exists to prevent.
    */
  private[store] def publish(
      epoch: Long, tables: Map[String, String], rebaseUnless: Option[Set[String]] = None)(
      update: Map[String, String] => Map[String, String]): Unit = {
    var (at, base) = (epoch + 1, tables)
    // the stamp is a `#`-header line, invisible to the table\tentry parse
    while (!put(new Path(dir, f"commit-$at%020d"), s"#ts=${System.currentTimeMillis()}\n" +
        update(base).toSeq.sorted.map { case (t, en) => s"$t\t$en" }.mkString("\n"))) {
      val staged = rebaseUnless.getOrElse(throw new java.util.ConcurrentModificationException(
        s"commit-$at already exists — a concurrent writer committed " +
          "first; re-resolve and retry"))
      val (cur, curTables) = latest.getOrElse(throw new IllegalStateException(
        s"commit-$at exists but no commit resolves — corrupt log?"))
      val overlap = (curTables.keySet ++ base.keySet)
        .filter(t => curTables.get(t) != base.get(t)).intersect(staged)
      if (overlap.nonEmpty)
        throw new TableStore.OccOverlapException(
          s"concurrent commit(s) changed ${overlap.toSeq.sorted.mkString(", ")} " +
            "while this transaction also staged them — rebase is only " +
            "safe for disjoint table sets; re-read and retry the batch " +
            "(or commit through transactWithRetry for bounded " +
            "automatic retry of an idempotent batch)")
      base = curTables
      at = cur + 1
    }
  }

  /** Publish `content` as `dst` iff no writer published it first: a tmp
    * write beside it (dot-prefixed, so no listing ever resolves it),
    * then [[putIfAbsent]].
    */
  private def put(dst: Path, content: String): Boolean = {
    val tmp = new Path(dst.getParent, s".tmp-${dst.getName}-$writerTag")
    store.writeSmall(tmp, content)
    putIfAbsent(tmp, dst)
  }

  /** THE atomicity primitive of the whole log: publish `tmp` as `dst`
    * iff `dst` does not exist yet, atomically. Everything else —
    * staging, entries, vacuum — only needs plain writes and deletes;
    * correctness under concurrent writers and crashes reduces to this
    * one put-if-absent. The default is HDFS/POSIX `rename` (atomic,
    * fails-if-exists on both). Object stores without atomic rename
    * (S3) override JUST this method with a conditional put
    * (`If-None-Match: *`) or a small CAS service (DynamoDB — what
    * Delta's S3 LogStore does); see SCALING.md §commit-log. Contract:
    * return true iff this writer's content is now `dst`; false iff
    * `dst` already existed (the OCC conflict signal — `tmp` must be
    * cleaned up); throw on anything else (the commit must not be
    * half-visible).
    */
  protected[store] def putIfAbsent(tmp: Path, dst: Path): Boolean =
    if (fs.rename(tmp, dst)) true
    else if (fs.exists(dst)) { fs.delete(tmp, false); false }
    else throw new java.io.IOException(
      s"rename $tmp -> $dst failed; commit not visible")

  // -------------------------------------------------------------------
  // Entries

  /** THE entry parse, memoized by the immutable entry name. A `files-*`
    * entry IS the list; a `delta-*` entry resolves through its base —
    * the Delta-log trick that makes a commit write O(batch) metadata
    * instead of O(table files).
    */
  private def entry(name: String): Entry =
    entries.getOrElseUpdate(name, {
      val lines = store.readSmall(new Path(dir, name)).linesIterator.toSeq
      val op = lines.collectFirst {
        case l if l.startsWith("#op=") => l.stripPrefix("#op=")
        case l if name.startsWith("delta-") && l.startsWith("op=") => l.stripPrefix("op=")
      }.getOrElse(OpUnknown) // written before op stamping: a logical change
      if (!name.startsWith("delta-"))
        // rel paths never start with `#` (partition dirs are
        // `col=value`, part files `part-…`)
        Entry(op, None, 0, lines.filter(l => l.nonEmpty && !l.startsWith("#")))
      else {
        val base = lines.collectFirst {
          case l if l.startsWith("base=") => l.stripPrefix("base=")
        }.getOrElse(throw new IllegalStateException(
          s"delta entry $name carries no base= header"))
        val depth = lines.collectFirst {
          case l if l.startsWith("depth=") => l.stripPrefix("depth=").toInt
        }.getOrElse(1)
        val set = scala.collection.mutable.LinkedHashSet(entry(base).rels: _*)
        lines.foreach { l =>
          if (l.startsWith("+")) set += l.substring(1)
          else if (l.startsWith("-")) set -= l.substring(1)
        }
        Entry(op, Some(base), depth, set.toSeq)
      }
    })

  /** The live rel paths an entry lists. */
  private[store] def rels(name: String): Seq[String] = entry(name).rels

  /** The operation that produced an entry — [[TableStore.OpUnknown]]
    * for entries written before op stamping (never skipped).
    */
  private def op(name: String): String = entry(name).op

  /** THE entry writer: `table`'s entry for the commit at `epoch`,
    * listing `rels`, stamped with the `op` that produced it (so
    * incremental scans can skip rewrite-only commits without reading
    * any data). A delta link against `prev` when its `+`/`-` lines are
    * fewer than the full list and `prev`'s chain is under
    * [[CommitLog.MaxDeltaDepth]] links, a full list otherwise — so a
    * commit writes O(batch) metadata and resolution stays shallow.
    * Returns the entry's name.
    */
  private[store] def writeEntry(
      table: String, epoch: Long, rels: Seq[String], op: String,
      prev: Option[String]): String = {
    val delta = prev.map(p => p -> entry(p)).filter(_._2.depth < MaxDeltaDepth).flatMap {
      case (p, base) =>
        val old = base.rels.toSet
        val adds = rels.filterNot(old)
        val dels = (old -- rels).toSeq.sorted
        if (adds.size + dels.size >= rels.size) None
        else Some((s"delta-$table-$epoch-$writerTag", Entry(op, Some(p), base.depth + 1, rels),
          Seq(s"base=$p", s"depth=${base.depth + 1}", s"op=$op") ++
            adds.map("+" + _) ++ dels.map("-" + _)))
    }
    val (name, parsed, lines) = delta.getOrElse(
      (s"files-$table-$epoch-$writerTag", Entry(op, None, 0, rels), s"#op=$op" +: rels))
    store.writeSmall(new Path(dir, name), lines.mkString("\n"))
    entries(name) = parsed // immutable: memoize what we just wrote
    name
  }

  /** `name`'s rel paths under `tables`, the commit at `epoch`; refuses
    * a table that commit did not govern.
    */
  private[store] def relsIn(
      name: String, tables: Map[String, String], epoch: Long): Seq[String] =
    tables.get(name) match {
      case Some(en) => rels(en)
      case None => throw new IllegalArgumentException(
        s"$name was not governed at epoch $epoch")
    }

  /** `name`'s rel paths at the retained commit at `epoch`. */
  private[store] def relsAt(commits: Commits, name: String, epoch: Long): Set[String] =
    relsIn(name, retainedAt(commits, epoch), epoch).toSet

  /** Every entry reachable from `name` through base= links. */
  private def reachable(name: String): Set[String] =
    entry(name).base.fold(Set(name))(reachable(_) + name)

  // -------------------------------------------------------------------
  // Change walks

  /** THE change walk: of `name`'s entry per epoch (ascending), the
    * steps where it differs from the step before — the first compared
    * with no entry; None marks a step where the table left the log.
    */
  private def changed(steps: Seq[(Long, Option[String])]): Seq[(Long, Option[String])] =
    steps.zip(None +: steps.map(_._2)).collect { case ((e, cur), prev) if cur != prev => e -> cur }

  /** The changed steps of `name` in `(from, to]` as (epoch, entry) —
    * None when a commit in `[from, to]` was vacuumed (epochs are
    * consecutive, so a gap in the retained set is detectable) or did
    * not govern the table; only the endpoint diff is computable then.
    */
  private def changes(
      commits: Commits, name: String, from: Long, to: Long): Option[Seq[(Long, String)]] = {
    val window = (from to to).map(e => e -> entryAt(commits, name, e))
    if (window.exists(_._2.isEmpty)) None
    else Some(changed(window).drop(1).map { case (e, en) => e -> en.get })
  }

  /** RETAINED commit history affecting `name`, oldest first: (epoch,
    * op, n_files) of every retained commit that changed the table's
    * file list — the `$history` metadata surface (Iceberg's snapshots
    * table). The first retained entry counts as a change (its op is
    * whatever produced it — earlier history may have been vacuumed).
    * Pure metadata walk, O(retained commits).
    */
  def tableHistory(name: String): Seq[(Long, String, Int)] =
    changed(list().toSeq.map { case (e, st) => e -> tables(st).get(name) })
      .foldLeft(Seq.empty[(Long, String, Int)]) {
        // a governance GAP (the table left the commit log — DROP, or an
        // explicit ungovern) ends the incarnation: a re-created table
        // of the same name starts its history fresh; the dead
        // incarnation's epochs are not ITS history (their reads fail
        // loudly — the files are gone)
        case (_, (_, None)) => Seq.empty
        case (out, (e, Some(en))) => out :+ ((e, op(en), rels(en).size))
      }

  /** The (epoch, op) history of commits that CHANGED `name`'s file
    * list in `(fromEpoch, toEpoch]` — None when any intermediate
    * commit was vacuumed or the table was ungoverned at some step, in
    * which case only the endpoint-diff is computable.
    */
  def commitOps(
      name: String, fromEpoch: Long, toEpoch: Long): Option[Seq[(Long, String)]] =
    changes(list(), name, fromEpoch, toEpoch).map(_.map { case (e, en) => e -> op(en) })

  /** Rel paths of the files an incremental consumer must read to catch
    * up from `fromEpoch` to `toEpoch` — the file-level diff behind
    * [[TableStore.readAddedSince]], REWRITE-AWARE when the intermediate
    * commit history is still retained: the walk accumulates each step's
    * added files, skips steps whose op is rewrite-only (compact /
    * z-order / bucketize — no logical rows changed, Iceberg's
    * REPLACE-snapshot rule), and drops files a later non-rewrite step
    * removed (their surviving rows ride that step's own adds). When any
    * intermediate commit was vacuumed the walk falls back to the coarse
    * endpoint diff (`rels(to) -- rels(from)`) — correct, but a
    * compaction in the gap then redelivers the table, so size the
    * vacuum retention window to cover consumer lag.
    */
  private[store] def addedRelsSince(
      name: String, fromEpoch: Long, toEpoch: Long): Seq[String] = {
    require(fromEpoch <= toEpoch,
      s"fromEpoch $fromEpoch > toEpoch $toEpoch")
    val commits = list()
    // endpoint validation happens unconditionally (retained + governed)
    val fromSet = relsAt(commits, name, fromEpoch)
    val toSet = relsAt(commits, name, toEpoch)
    changes(commits, name, fromEpoch, toEpoch) match {
      case None => (toSet -- fromSet).toSeq.sorted
      case Some(steps) =>
        val acc = scala.collection.mutable.LinkedHashSet[String]()
        steps.foldLeft(fromSet) { case (prevSet, (_, en)) =>
          val cur = rels(en).toSet
          if (!RewriteOps(op(en))) {
            // a non-rewrite step supersedes what it removed: rows that
            // survive ride its adds, removed-and-gone rows must not be
            // redelivered as stale images
            acc --= (prevSet -- cur)
            acc ++= (cur -- prevSet)
          }
          // rewrite step: content is row-identical — neither its adds
          // nor its removals change what the consumer must see; files
          // accumulated earlier stay on disk (their commit is retained)
          cur
        }
        acc.toSeq
    }
  }

  /** The subset of `names` holding data files at SOME retained commit
    * in `[a, b]` — pure pointer metadata, ONE commit-log listing for
    * the whole probe (a per-name form would re-list the directory per
    * member per micro-batch; on object stores every listing is a
    * billed round-trip). The guard multi-table appends consumers
    * need: a governed-but-EMPTY member (SQL CREATE/CTAS before any
    * insert) has no schema [[TableStore.readAddedSince]] could serve —
    * callers that already know the union schema skip such members
    * instead of crashing every window on the empty one. The probe
    * checks the two ENDPOINTS first (the common case short-circuits in
    * two lookups) but must also walk the retained interior for
    * endpoint-empty members: an insert → rewrite → delete-all sequence
    * inside one window is empty at both endpoints yet
    * [[addedRelsSince]]'s rewrite-aware walk still owes its added files
    * (the at-least-once appends contract) — an endpoints-only skip
    * would silently drop them. Interior commits vacuumed away probe as
    * absent, matching what the walk itself could deliver.
    */
  def withFilesInWindow(names: Seq[String], a: Long, b: Long): Set[String] = {
    val commits = list()
    def has(n: String, e: Long): Boolean = entryAt(commits, n, e).exists(rels(_).nonEmpty)
    // iterate the RETAINED commit keys, not the numeric epoch range —
    // a wide catch-up window (fromEpoch=0 on a long-lived store) must
    // cost O(retained commits), not O(epochs)
    lazy val interior = commits.keysIterator.filter(e => e > a && e < b).toSeq
    names.filter(n =>
      has(n, a) || has(n, b) || interior.exists(has(n, _))).toSet
  }

  // -------------------------------------------------------------------
  // Named epoch tags — Iceberg-style refs for dataset releases: a tag
  // pins a commit ("the exact corpus that trained model X") as a
  // VACUUM ROOT, so every file and log entry it references survives
  // any retention window until the tag is dropped, and
  // [[TableStore.readTag]] resolves reads through it by name. This is
  // the reproducibility primitive a training-data release ships with:
  // contentFingerprint proves WHAT the release holds, the tag
  // guarantees it stays readable.

  private def tagPath(tag: String) = new Path(dir, s"tag-$tag")

  /** Pin `epoch` (default: the current commit) under a name.
    * Re-tagging an existing name re-points it (Iceberg's replace-tag
    * form). Returns the pinned epoch.
    */
  def tagEpoch(tag: String, epoch: Option[Long] = None): Long = {
    require(tag.nonEmpty && tag.matches("[A-Za-z0-9._-]+"),
      s"tag names are [A-Za-z0-9._-]+: '$tag'")
    val commits = list()
    require(commits.nonEmpty, "no commits to tag — govern tables first")
    val e = epoch.getOrElse(commits.lastKey)
    require(commits.contains(e), notRetained(commits, e))
    store.writeSmall(tagPath(tag), e.toString)
    e
  }

  /** All tags: name → pinned epoch. */
  def tags(): Map[String, Long] =
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith("tag-"))
      .map(p => p.getName.stripPrefix("tag-") -> store.readSmall(p).trim.toLong)
      .toMap

  /** Drop a tag — its epoch becomes reclaimable by the next vacuum
    * (unless otherwise retained).
    */
  def dropTag(tag: String): Unit = fs.delete(tagPath(tag), false)

  /** Every tag with its pinned epoch and the tables that commit names
    * (none once the commit is gone) — one listing for all tags; the
    * drop/rename pin guard and the dead-member rule read it.
    */
  private[graft] def taggedTables(): Seq[(String, Long, Set[String])] = {
    lazy val commits = list()
    tags().toSeq.map { case (t, e) =>
      (t, e, commits.get(e).fold(Set.empty[String])(tables(_).keySet)) }
  }

  // -------------------------------------------------------------------
  // Retention

  /** THE retention rule of a vacuum at `cutoff` over the retained
    * `commits`: each epoch with the stamp at which it stopped being
    * current (its successor's; None for the latest) and whether the
    * vacuum keeps it. A commit is kept when it is the latest, when it
    * was current at some instant after `cutoff` (its successor is
    * younger), or when a TAG or a registered CONSUMER CURSOR pins it —
    * both are vacuum roots: a named release must stay readable until
    * dropped, and a lagging incremental consumer must keep its diff
    * base until it catches up or is unregistered.
    */
  private[store] def retention(
      commits: Commits, cutoff: Long): Seq[(Long, Option[Long], Boolean)] = {
    val stamps = commits.values.map(stamp).toSeq
    val pinned = tags().values.toSet ++ EpochFollower.cursors(store).values.toSet
    commits.keys.toSeq.zipWithIndex.map { case (e, i) =>
      val until = stamps.lift(i + 1)
      (e, until, until.forall(_ > cutoff) || pinned(e))
    }
  }

  /** The log half of a vacuum keeping the `kept` epochs of `commits`:
    * delete the other pointers, every entry no kept commit's chains
    * reach (superseded lists, dead chains), and pointer tmp files older
    * than `cutoff` (unflipped crash leftovers — younger ones may be a
    * concurrent writer's in-flight publish). The caches then drop what
    * no kept commit reaches, so a long-lived high-commit-rate writer
    * does not accrete one parsed list per historical entry.
    */
  private[store] def prune(commits: Commits, kept: Set[Long], cutoff: Long): Unit = {
    commits.foreach { case (e, st) => if (!kept(e)) fs.delete(st.getPath, false) }
    val keptCommits = commits.filter { case (e, _) => kept(e) }
    val liveEntries = keptCommits.values.flatMap(tables(_).values).toSet.flatMap(reachable)
    fs.listStatus(dir).map(_.getPath)
      .filter(p => (p.getName.startsWith("files-") ||
        p.getName.startsWith("delta-")) && !liveEntries(p.getName))
      .foreach(p => fs.delete(p, false))
    fs.listStatus(dir)
      .filter(st => st.getPath.getName.startsWith(".tmp-") && st.getModificationTime <= cutoff)
      .foreach(st => fs.delete(st.getPath, false))
    val keptPointers = keptCommits.values.map(_.getPath.getName).toSet
    pointers.filterInPlace((k, _) => keptPointers(k))
    entries.filterInPlace((k, _) => liveEntries(k))
  }

  /** Test-only size probe of the parse caches (pointers, entries) —
    * the cache-bounding spec asserts O(live entries) across N
    * commit+vacuum cycles.
    */
  private[graft] def metadataCacheSizes: (Int, Int) = (pointers.size, entries.size)

  // -------------------------------------------------------------------
  // Numbered snapshot files: small store bookkeeping state that readers
  // must never see half-replaced (the consumer cursors of
  // [[EpochFollower]]) lives as `<root>/<dir>/<prefix><n>`, each file
  // immutable once published and the highest `n` current. A write
  // publishes n+1 through the pointers' [[put]] and never touches n, so
  // a read resolves ONE immutable file.

  /** The published snapshots under `dirName`, oldest first: (n, file). */
  private[store] def snapshots(dirName: String, prefix: String): Seq[(Long, FileStatus)] = {
    val d = new Path(store.root, dirName)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(prefix))
      .map(st => st.getPath.getName.stripPrefix(prefix).toLong -> st)
      .sortBy(_._1)
  }

  /** Publish `content` as snapshot `n` under `dirName` iff no writer
    * published `n` first; false = lost the race, re-read and retry. A
    * snapshot is deleted once its successor is older than `retainMs` —
    * a reader resolves and opens the newest file within microseconds,
    * so it never opens a deleted one.
    */
  private[store] def publishSnapshot(
      dirName: String, prefix: String, n: Long, content: String, retainMs: Long): Boolean = {
    val won = put(new Path(new Path(store.root, dirName), f"$prefix$n%020d"), content)
    if (won) {
      val cutoff = System.currentTimeMillis() - retainMs
      snapshots(dirName, prefix).sliding(2).collect {
        case Seq((_, old), (_, next)) if next.getModificationTime <= cutoff => old.getPath
      }.foreach(fs.delete(_, false))
    }
    won
  }
}

object CommitLog {

  /** Retained commits: epoch → pointer file, epoch-ascending. */
  type Commits = TreeMap[Long, FileStatus]

  /** Chain compaction bound: after this many delta links a commit
    * writes a full list again, so resolution reads ≤ MaxDeltaDepth+1
    * small files and vacuum reachability stays shallow.
    */
  private val MaxDeltaDepth = 10

  /** A parsed pointer: table → entry, and its `#ts=` stamp (None for a
    * legacy pointer written before stamping).
    */
  private final case class Pointer(tables: Map[String, String], ts: Option[Long])

  /** A parsed entry: its op, its base (delta entries), its chain depth
    * (0 for a full list) and its fully resolved rel paths.
    */
  private final case class Entry(op: String, base: Option[String], depth: Int, rels: Seq[String])
}
