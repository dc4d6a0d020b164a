package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-10 epoch-log hardening, each half pinned at its exact
  * failure window:
  *
  *  - SNAPSHOT-CONSISTENT READS: `transact` makes writes atomic, but
  *    two independent `read` calls each resolve the latest pointer —
  *    a tweets⋈users join built side by side could plan table A at
  *    epoch N and table B at N+1. `snapshot()` / `withSnapshot`
  *    resolve the pointer ONCE (the read-side twin of `transact`;
  *    the reference's single SQLite connection gives this for free,
  *    `/root/reference/cli.py:664-668`).
  *  - VACUUM RETENTION: a reader that planned on epoch N must finish
  *    its scan even after a commit + vacuum — Delta's RETAIN rule,
  *    keyed on pointer-supersede time (file mtime is the wrong
  *    signal: a file retired seconds ago may be days old).
  *  - OCC WRITER CONFLICTS: two writers racing a commit rebase when
  *    their table sets are disjoint (the Delta/Iceberg rule) and
  *    abort loudly on overlap — never a lost update.
  *  - BOUNDED METADATA CACHES: vacuum evicts every memoized log entry
  *    no retained commit reaches, so a long-lived writer's driver
  *    memory is O(live entries), not O(commits ever made).
  */
abstract class SnapshotOccBehavior extends SparkSpec {
  import spark.implicits._

  /** The store under test — overridden by the S3-seam twin suite, so
    * the whole OCC/crash matrix runs against BOTH pointer-seam
    * implementations (POSIX rename and simulated conditional put).
    */
  protected def mkStore(root: String): TableStore =
    new TableStore(spark, root)

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-snap").toString

  private def rows(df: DataFrame): Set[(Long, String)] =
    df.select(col("id").cast("long"), col("v"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  private def governedPair(root: String): TableStore = {
    val store = mkStore(root)
    store.ensureGoverned(Seq("tweets", "users"))
    store.transact {
      store.upsert("tweets", Seq((10L, "t-old")).toDF("id", "v"), Seq("id"))
      store.upsert("users", Seq((1L, "u-old")).toDF("id", "v"), Seq("id"))
    }
    store
  }

  test("snapshot(): a commit flipped between building a join's two sides is invisible") {
    val store = governedPair(freshRoot())
    val snap = store.snapshot()
    val epochAtPin = snap.epoch
    // side 1 of the join built from the handle...
    val tweets = snap.read("tweets")
    // ...a concurrent commit flips BOTH tables...
    store.transact {
      store.upsert("tweets", Seq((11L, "t-new")).toDF("id", "v"), Seq("id"))
      store.upsert("users", Seq((2L, "u-new")).toDF("id", "v"), Seq("id"))
    }
    // ...side 2 built after the flip still serves the pinned epoch
    val users = snap.read("users")
    assert(rows(tweets) === Set((10L, "t-old")))
    assert(rows(users) === Set((1L, "u-old")))
    assert(snap.epoch === epochAtPin)
    assert(snap.tables === Set("tweets", "users"))
    // un-pinned reads (and a fresh snapshot) see the new epoch
    assert(rows(store.read("users")) === Set((1L, "u-old"), (2L, "u-new")))
    assert(store.snapshot().epoch === epochAtPin + 1)
  }

  test("withSnapshot: plain store.read serves one epoch across a concurrent flip") {
    val root = freshRoot()
    val store = governedPair(root)
    val writer = mkStore(root)
    val (tweets, users) = store.withSnapshot {
      val t = store.read("tweets")
      writer.transact {
        writer.upsert("tweets", Seq((11L, "t-new")).toDF("id", "v"), Seq("id"))
        writer.upsert("users", Seq((2L, "u-new")).toDF("id", "v"), Seq("id"))
      }
      (t, store.read("users"))
    }
    assert(rows(tweets) === Set((10L, "t-old")))
    assert(rows(users) === Set((1L, "u-old")))
    // the pin is scoped: outside the block the latest epoch serves
    assert(rows(store.read("users")) === Set((1L, "u-old"), (2L, "u-new")))
  }

  test("withSnapshot is read-only for governed tables: a write inside is refused") {
    val store = governedPair(freshRoot())
    val e = intercept[IllegalArgumentException] {
      store.withSnapshot {
        store.upsert("users", Seq((9L, "x")).toDF("id", "v"), Seq("id"))
      }
    }
    assert(e.getMessage.contains("withSnapshot"))
    // nothing leaked: the refused write left no trace
    assert(rows(store.read("users")) === Set((1L, "u-old")))
  }

  test("vacuum retention window: a reader planned pre-flip finishes; age-0 reclaims") {
    val store = governedPair(freshRoot())
    val epoch1 = store.snapshot().epoch
    // a reader plans its scan on the current epoch (file list baked
    // into the DataFrame at construction)...
    val planned = store.read("tweets")
    // ...then the writer replaces the table AND vacuums with a
    // retention window: the superseded commit was current within the
    // window, so its files and pointer survive
    store.transact {
      store.upsert("tweets", Seq((10L, "t-NEW")).toDF("id", "v"), Seq("id"))
    }
    store.vacuumEpochs(minAgeMs = 3600L * 1000)
    assert(rows(planned) === Set((10L, "t-old")),
      "in-flight reader lost files despite the retention window")
    // time travel to the retained epoch still resolves
    assert(rows(store.readEpoch("tweets", epoch1)) === Set((10L, "t-old")))
    // age-0 vacuum (the no-readers contract) reclaims: the old epoch
    // is gone and its files swept
    store.vacuumEpochs()
    assert(store.log.epochs() === Seq(epoch1 + 1))
    intercept[IllegalArgumentException] { store.readEpoch("tweets", epoch1) }
    assert(store.unreferencedFiles("tweets").isEmpty)
    assert(rows(store.read("tweets")) === Set((10L, "t-NEW")))
  }

  test("OCC: disjoint concurrent commits rebase; both land; overlap aborts loudly") {
    val root = freshRoot()
    val a = mkStore(root)
    a.ensureGoverned(Seq("ta", "tb"))
    a.transact {
      a.upsert("ta", Seq((1L, "a0")).toDF("id", "v"), Seq("id"))
      a.upsert("tb", Seq((1L, "b0")).toDF("id", "v"), Seq("id"))
    }
    val b = mkStore(root)
    // writer B commits table tb INSIDE writer A's commit window (after
    // A staged ta, before A's pointer flip) — A's first flip attempt
    // collides and must rebase onto B's commit
    a.beforeCommitFlip = () => {
      a.beforeCommitFlip = () => ()
      b.transact {
        b.upsert("tb", Seq((2L, "b1")).toDF("id", "v"), Seq("id"))
      }
    }
    try a.transact {
      a.upsert("ta", Seq((2L, "a1")).toDF("id", "v"), Seq("id"))
    } finally a.beforeCommitFlip = () => ()
    // BOTH writers' rows are visible from a fresh reader — no lost
    // update on either side of the race
    val reader = mkStore(root)
    assert(rows(reader.read("ta")) === Set((1L, "a0"), (2L, "a1")))
    assert(rows(reader.read("tb")) === Set((1L, "b0"), (2L, "b1")))

    // overlap: both writers stage the SAME table — the loser must
    // abort (merging divergent file lists would be a lost update)
    val c = mkStore(root)
    reader.beforeCommitFlip = () => {
      reader.beforeCommitFlip = () => ()
      c.transact {
        c.upsert("ta", Seq((3L, "a2-c")).toDF("id", "v"), Seq("id"))
      }
    }
    val boom =
      try intercept[java.util.ConcurrentModificationException] {
        reader.transact {
          reader.upsert("ta", Seq((4L, "a2-r")).toDF("id", "v"), Seq("id"))
        }
      } finally reader.beforeCommitFlip = () => ()
    assert(boom.getMessage.contains("ta"))
    // the winner's commit stands untouched
    assert(rows(mkStore(root).read("ta")) ===
      Set((1L, "a0"), (2L, "a1"), (3L, "a2-c")))
  }

  test("OCC rebase composes with the bucketed O(touched) path and delta entries") {
    // the rebase carries OUR log entries verbatim — including DELTA
    // entries whose base= references the per-table entry the
    // interleaver did not change. A bucketed upsert under a race must
    // keep both properties: the rebased commit resolves correctly AND
    // untouched buckets' files carried by reference.
    val root = freshRoot()
    val a = mkStore(root)
    a.ensureBucketed("big", Seq("id"), 8)
    a.ensureGoverned(Seq("big", "other"))
    a.transact {
      a.upsert("big", (0 until 64).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
        Seq("id"))
      a.upsert("other", Seq((1L, "o0")).toDF("id", "v"), Seq("id"))
    }
    val filesBefore = a.dataFiles("big").toSet
    val b = mkStore(root)
    a.beforeCommitFlip = () => {
      a.beforeCommitFlip = () => ()
      b.transact {
        b.upsert("other", Seq((2L, "o1")).toDF("id", "v"), Seq("id"))
      }
    }
    try a.transact {
      a.upsert("big", Seq((3L, "UPD")).toDF("id", "v"), Seq("id"))
    } finally a.beforeCommitFlip = () => ()
    val reader = mkStore(root)
    // both writers' rows visible; the race lost nothing
    assert(reader.read("big").count() === 64L)
    assert(rows(reader.read("other")) === Set((1L, "o0"), (2L, "o1")))
    assert(reader.read("big").filter(col("id") === 3L)
      .select(col("v")).head.getString(0) === "UPD")
    // O(touched) survived the rebase: untouched buckets' files are
    // carried BY REFERENCE into the rebased commit
    val filesAfter = reader.dataFiles("big").toSet
    assert((filesBefore intersect filesAfter).nonEmpty,
      "rebase lost the by-reference carry-over (full rewrite?)")
    assert(Doctor.check(reader) === Seq.empty)
  }

  test("metadata caches stay O(live entries) across commit+vacuum cycles") {
    val store = governedPair(freshRoot())
    def sizes = store.log.metadataCacheSizes
    var watermark = (0, 0)
    (1 to 20).foreach { i =>
      store.transact {
        // re-upserting the seed key makes each commit replace the file
        // holding it, so the live set stays one file
        store.upsert("tweets", Seq((100L + i, s"t$i"), (10L, "t-old")).toDF("id", "v"),
          Seq("id"))
      }
      store.read("tweets").count() // resolve (and memoize) the live chain
      store.vacuumEpochs()
      val s = sizes
      if (i == 5) watermark = s
      if (i > 5) {
        assert(s._1 <= watermark._1 + 1,
          s"pointer cache grew past steady state at cycle $i: $s vs $watermark")
        assert(s._2 <= watermark._2 + 2,
          s"entry cache grew past steady state at cycle $i: $s vs $watermark")
      }
    }
    // absolute bound: one retained commit, ≤ (MaxDeltaDepth+1) chain
    // entries per table — nowhere near the 20 commits made
    val (c, e) = sizes
    assert(c <= 2 && e <= 2 * 12, s"caches unbounded: ($c, $e)")
  }

  test("a pinned reader never trusts — or heals backwards — a newer epoch's manifest") {
    val root = freshRoot()
    val store = mkStore(root)
    store.overwrite("p", Seq((1L, "old")).toDF("id", "v"))
    FileManifest.build(store, "p")
    store.ensureGoverned(Seq("p"))
    val writer = mkStore(root)
    store.withSnapshot {
      // concurrent commit + its step-4 manifest refresh: the manifest
      // now describes epoch N+1 while this scope is pinned to N
      writer.transact {
        writer.overwrite("p", Seq((2L, "new")).toDF("id", "v"))
      }
      // the pinned manifest-driven scan serves the PINNED epoch
      // (footer-walk fallback, not the newer manifest)...
      assert(rows(FileManifest.readPruned(store, "p", Seq(("id", 0L, 100L)))) ===
        Set((1L, "old")),
        "pinned prune leaked the newer epoch through the manifest")
      // ...and estimates are honestly unavailable for the pinned epoch
      assert(FileManifest.estimateRows(store, "p") === None)
    }
    // the pinned reader wrote NOTHING: the manifest still describes
    // the new epoch (a backwards heal would corrupt every un-pinned
    // reader until their own cross-check re-healed it forward)
    val reader = mkStore(root)
    val newRels = reader.dataFiles("p").map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    val manifestFiles = spark.read.parquet(s"$root/p/_graft_stats")
      .filter(col("col") === "").select("file")
      .collect().map(r => { val f = r.getString(0); f.substring(f.lastIndexOf('/') + 1) })
      .filter(_.nonEmpty).toSet
    assert(manifestFiles === newRels,
      "pinned reader rewrote the manifest to its own epoch")
    // un-pinned manifest-driven reads serve the new epoch as usual
    assert(rows(FileManifest.readPruned(reader, "p", Seq(("id", 0L, 100L)))) === Set((2L, "new")))
    assert(FileManifest.estimateRows(reader, "p") === Some(1L))
  }

  test("incremental scan: readAddedSince reads only the files added between epochs") {
    val root = freshRoot()
    val store = mkStore(root)
    // bucketed so a later upsert touches ONE bucket and the diff can
    // prove it scanned only the changed files, not the table
    store.ensureBucketed("inc", Seq("id"), 4)
    store.ensureGoverned(Seq("inc"))
    store.transact {
      store.upsert("inc", (0 until 64).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
        Seq("id"))
    }
    val e1 = store.snapshot().epoch
    store.transact {
      store.upsert("inc", Seq((100L, "NEW")).toDF("id", "v"), Seq("id"))
    }
    val e2 = store.snapshot().epoch
    val diff = store.readAddedSince("inc", e1, e2)
    val got = rows(diff)
    // the new row is in the diff...
    assert(got.contains((100L, "NEW")))
    // ...and the diff read only the touched bucket's files — a strict
    // subset of the table (the at-least-once contract: the rewritten
    // bucket's old rows ride along, the other 3 buckets do not)
    assert(got.size < 65, s"diff scanned the whole table (${got.size} rows)")
    // exactly-once restored by the engine's own skip-existing
    // anti-join against the consumer's last-seen epoch
    val fresh = diff.join(store.readEpoch("inc", e1), Seq("id"), "left_anti")
    assert(rows(fresh) === Set((100L, "NEW")))
    // same-epoch diff is empty, with the table's schema
    assert(store.readAddedSince("inc", e2, e2).count() === 0L)
    assert(store.readAddedSince("inc", e1).columns.contains("v"))
    // a vacuumed endpoint is refused loudly
    store.vacuumEpochs()
    val e = intercept[IllegalArgumentException] {
      store.readAddedSince("inc", e1, e2)
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("tags are vacuum roots: a tagged release epoch survives age-0 vacuum until dropped") {
    val store = governedPair(freshRoot())
    val e1 = store.snapshot().epoch
    store.log.tagEpoch("release-v1")
    assert(store.log.tags() === Map("release-v1" -> e1))
    store.transact {
      store.upsert("tweets", Seq((11L, "t2")).toDF("id", "v"), Seq("id"))
    }
    store.transact {
      store.upsert("tweets", Seq((12L, "t3")).toDF("id", "v"), Seq("id"))
    }
    store.vacuumEpochs()
    // the tagged epoch survived the age-0 vacuum with its files; the
    // untagged middle epoch was reclaimed
    assert(store.log.epochs() === Seq(e1, e1 + 2))
    assert(rows(store.readTag("tweets", "release-v1")) === Set((10L, "t-old")))
    // dropping the tag releases the pin; the next vacuum reclaims
    store.log.dropTag("release-v1")
    store.vacuumEpochs()
    assert(store.log.epochs() === Seq(e1 + 2))
    intercept[IllegalArgumentException] {
      store.readTag("tweets", "release-v1")
    }
    // tagging an unretained epoch is refused loudly
    val e = intercept[IllegalArgumentException] {
      store.log.tagEpoch("ghost", Some(e1))
    }
    assert(e.getMessage.contains("retained"))
  }

  test("drop refuses while a tag or cursor still pins the table, allows after release") {
    val store = governedPair(freshRoot())
    store.log.tagEpoch("pin")
    val t = intercept[IllegalArgumentException] { store.drop("tweets") }
    assert(t.getMessage.contains("pin"))
    store.log.dropTag("pin")
    EpochFollower.consumeNew(store, "tweets", "c1")(identity)
    val c = intercept[IllegalArgumentException] { store.drop("tweets") }
    assert(c.getMessage.contains("c1"))
    EpochFollower.drop(store, "tweets", "c1")
    store.drop("tweets") // pins released: destructive drop proceeds
    assert(!store.exists("tweets"))
    // the sibling table is untouched
    assert(rows(store.read("users")) === Set((1L, "u-old")))
  }

  test("two upserts to a brand-new governed table inside one transact both survive") {
    // regression (ADVICE r9): exists/readIfExists gated on the table
    // DIRECTORY, which for a governed table only appears at commit —
    // the second upsert merged against nothing and silently dropped
    // the first write's rows
    val root = freshRoot()
    val store = mkStore(root)
    store.ensureGoverned(Seq("fresh"))
    store.transact {
      store.upsert("fresh", Seq((1L, "first")).toDF("id", "v"), Seq("id"))
      store.upsert("fresh", Seq((2L, "second")).toDF("id", "v"), Seq("id"))
    }
    assert(rows(store.read("fresh")) === Set((1L, "first"), (2L, "second")))
    assert(rows(mkStore(root).read("fresh")) ===
      Set((1L, "first"), (2L, "second")))
  }

  test("a crash between the pointer flip and the stats refresh cannot serve retired files") {
    // regression (ADVICE r9): pruneFiles/readPruned/estimateRows
    // answer entirely from the manifest; a manifest describing the
    // PREVIOUS epoch would silently serve pre-vacuum retired files
    // that disagree with read(). The read path now cross-checks
    // presence rows against the live set and refreshes on mismatch.
    val root = freshRoot()
    val store = mkStore(root)
    store.overwrite("m", Seq((1L, "old")).toDF("id", "v"))
    FileManifest.build(store, "m")
    store.ensureGoverned(Seq("m"))
    store.afterCommitFlip = () => throw new RuntimeException("power cut post-flip")
    try intercept[RuntimeException] {
      store.transact {
        store.overwrite("m", Seq((2L, "new")).toDF("id", "v"))
      }
    } finally store.afterCommitFlip = () => ()
    // fresh process over the crashed store: the commit LANDED (flip
    // precedes the crash), so every read form must serve the new epoch
    val reader = mkStore(root)
    assert(rows(reader.read("m")) === Set((2L, "new")))
    val pruned = FileManifest.readPruned(reader, "m", Seq(("id", 0L, 100L)))
    assert(rows(pruned) === Set((2L, "new")),
      "manifest-driven scan served the pre-flip epoch")
    assert(FileManifest.estimateRows(reader, "m") === Some(1L))
  }
}

/** The matrix over the default POSIX-rename pointer seam. */
class SnapshotOccSpec extends SnapshotOccBehavior

/** The SAME matrix over the simulated S3 conditional-put seam, with
  * every flip crossing a transient 500 and a duplicated request —
  * proving the one protected method is genuinely the only thing an
  * object-store deployment overrides.
  */
class SnapshotOccS3Spec extends SnapshotOccBehavior {
  override protected def mkStore(root: String): TableStore =
    S3SeamStore.flaky(spark, root)
}
