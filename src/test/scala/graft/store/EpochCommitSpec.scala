package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Atomic multi-table visibility through the epoch-pointer commit log:
  * the reference wraps save_tweets' six table writes in one SQLite
  * transaction (`/root/reference/cli.py:664-668`), so a reader never
  * observes a torn multi-table state. These specs kill the writer at
  * every interesting point — mid-transaction, and in the crash window
  * between staged-file moves and the pointer flip — and prove a
  * concurrent reader (a separate TableStore over the same root, the
  * cross-process reader model) sees the complete OLD state of every
  * governed table, then the complete NEW state only after the flip.
  */
class EpochCommitSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-epoch").toString

  private def rows(df: DataFrame): Set[(Long, String)] =
    df.select(col("id").cast("long"), col("v"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("ungoverned stores are pass-throughs: transact leaves no epoch machinery behind") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.transact {
      store.upsert("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    }
    assert(rows(store.read("t")) === Set((1L, "a")))
    assert(store.governed === Set.empty)
    assert(!new java.io.File(s"$root/_graft_epoch").exists())
    // and the plain directory read still serves it (no manifest)
    assert(rows(spark.read.parquet(s"$root/t")) === Set((1L, "a")))
  }

  test("an exception between table N and N+1 leaves readers on the complete old state") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.upsert("users", Seq((1L, "old-user")).toDF("id", "v"), Seq("id"))
    store.upsert("tweets", Seq((10L, "old-tweet")).toDF("id", "v"), Seq("id"))
    store.ensureGoverned(Seq("users", "tweets"))

    val boom = intercept[RuntimeException] {
      store.transact {
        store.upsert("users", Seq((2L, "new-user")).toDF("id", "v"), Seq("id"))
        throw new RuntimeException("killed between users and tweets")
      }
    }
    assert(boom.getMessage.contains("killed"))
    // the writer's own store AND a fresh cross-process reader both see
    // the complete old state of BOTH tables
    val reader = new TableStore(spark, root)
    Seq(store, reader).foreach { s =>
      assert(rows(s.read("users")) === Set((1L, "old-user")))
      assert(rows(s.read("tweets")) === Set((10L, "old-tweet")))
    }
    // the store is not wedged: a retry lands both tables atomically
    store.transact {
      store.upsert("users", Seq((2L, "new-user")).toDF("id", "v"), Seq("id"))
      store.upsert("tweets", Seq((11L, "new-tweet")).toDF("id", "v"), Seq("id"))
    }
    assert(rows(reader.read("users")) === Set((1L, "old-user"), (2L, "new-user")))
    assert(rows(reader.read("tweets")) === Set((10L, "old-tweet"), (11L, "new-tweet")))
  }

  test("a concurrent reader mid-transaction sees old state; the writer sees its own writes") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.upsert("users", Seq((1L, "old")).toDF("id", "v"), Seq("id"))
    store.upsert("tweets", Seq((10L, "old")).toDF("id", "v"), Seq("id"))
    store.ensureGoverned(Seq("users", "tweets"))
    val reader = new TableStore(spark, root)
    store.transact {
      store.upsert("users", Seq((2L, "new")).toDF("id", "v"), Seq("id"))
      // reader: both tables still the complete OLD state (users was
      // already written by the transaction, tweets not yet — exactly
      // the torn window the per-table swap used to expose)
      assert(rows(reader.read("users")) === Set((1L, "old")))
      assert(rows(reader.read("tweets")) === Set((10L, "old")))
      // writer: read-your-writes inside the transaction
      assert(rows(store.read("users")) === Set((1L, "old"), (2L, "new")))
      store.upsert("tweets", Seq((11L, "new")).toDF("id", "v"), Seq("id"))
    }
    assert(rows(reader.read("users")) === Set((1L, "old"), (2L, "new")))
    assert(rows(reader.read("tweets")) === Set((10L, "old"), (11L, "new")))
  }

  test("a crash between file moves and the pointer flip is invisible; redelivery converges") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.upsert("users", Seq((1L, "old")).toDF("id", "v"), Seq("id"))
    store.upsert("tweets", Seq((10L, "old")).toDF("id", "v"), Seq("id"))
    store.ensureGoverned(Seq("users", "tweets"))
    store.beforeCommitFlip = () => throw new RuntimeException("power cut")
    try {
      intercept[RuntimeException] {
        store.transact {
          store.upsert("users", Seq((2L, "new")).toDF("id", "v"), Seq("id"))
          store.upsert("tweets", Seq((11L, "new")).toDF("id", "v"), Seq("id"))
        }
      }
    } finally store.beforeCommitFlip = () => ()
    // staged files were already MOVED into the table dirs — but the
    // pointer never flipped, so a fresh reader resolves the old epoch
    // and sees the complete old state of both tables
    val reader = new TableStore(spark, root)
    assert(rows(reader.read("users")) === Set((1L, "old")))
    assert(rows(reader.read("tweets")) === Set((10L, "old")))
    // at-least-once redelivery of the same batch converges
    store.transact {
      store.upsert("users", Seq((2L, "new")).toDF("id", "v"), Seq("id"))
      store.upsert("tweets", Seq((11L, "new")).toDF("id", "v"), Seq("id"))
    }
    assert(rows(reader.read("users")) === Set((1L, "old"), (2L, "new")))
    assert(rows(reader.read("tweets")) === Set((10L, "old"), (11L, "new")))
    // vacuum reclaims the crash's orphaned files + replaced epochs;
    // the live state is untouched
    store.vacuumEpochs()
    assert(rows(reader.read("users")) === Set((1L, "old"), (2L, "new")))
    assert(rows(reader.read("tweets")) === Set((10L, "old"), (11L, "new")))
  }

  test("a governed write outside transact is its own atomic single-table commit") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.upsert("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    store.ensureGoverned(Seq("t"))
    store.upsert("t", Seq((2L, "b")).toDF("id", "v"), Seq("id"))
    assert(rows(store.read("t")) === Set((1L, "a"), (2L, "b")))
    val reader = new TableStore(spark, root)
    assert(rows(reader.read("t")) === Set((1L, "a"), (2L, "b")))
    // replaced files linger for in-flight readers until vacuum
    store.vacuumEpochs()
    assert(rows(reader.read("t")) === Set((1L, "a"), (2L, "b")))
  }

  test("bucketed governed table: O(touched) maintenance survives the atomic commit") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    val b0 = (0 until 64).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    store.ensureBucketed("t", Seq("id"), 8)
    store.upsert("t", b0, Seq("id"))
    store.ensureGoverned(Seq("t"))
    val before = store.dataFiles("t").toSet
    // a 1-row batch touches exactly one bucket
    store.upsert("t", Seq((1000L, "x")).toDF("id", "v"), Seq("id"))
    val after = store.dataFiles("t").toSet
    // untouched buckets' files carried across BY REFERENCE (same
    // physical files, no copy) — the O(touched buckets) property
    val carried = before.intersect(after)
    assert(carried.size >= 6,
      s"expected most bucket files untouched; before=${before.size} " +
        s"after=${after.size} carried=${carried.size}")
    assert(after !== before) // the touched bucket WAS replaced
    val got = store.read("t")
    assert(got.count() === 65)
    assert(rows(got.filter(col("id") === 1000L)) === Set((1000L, "x")))
    // the layout still declares bucketing and reads still carry the
    // partition column for pruning
    assert(store.bucketLayoutOf("t") === Some((8, Seq("id"))))
    assert(got.columns.contains(store.BucketCol))
    // content identical to an ungoverned twin taking the same batches
    val twinRoot = freshRoot()
    val twin = new TableStore(spark, twinRoot)
    twin.ensureBucketed("t", Seq("id"), 8)
    twin.upsert("t", b0, Seq("id"))
    twin.upsert("t", Seq((1000L, "x")).toDF("id", "v"), Seq("id"))
    assert(rows(store.read("t")) === rows(twin.read("t")))
  }

  test("stats manifest stays fresh across governed commits (Doctor invariant)") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.ensureBucketed("t", Seq("id"), 4)
    store.upsert("t", (0 until 32).map(i => (i.toLong, s"v$i")).toDF("id", "v"), Seq("id"))
    store.ensureGoverned(Seq("t"))
    FileManifest.build(store, "t")
    assert(FileManifest.exists(store, "t"))
    store.transact {
      store.upsert("t", Seq((100L, "x")).toDF("id", "v"), Seq("id"))
    }
    val stale = Doctor.check(store).filter(_.component == "file-stats")
    assert(stale.isEmpty, s"manifest went stale across a governed commit: $stale")
    // the manifest-backed prune still answers from the live set
    val pruned = FileManifest.readPruned(store, "t", Seq(("id", 100L, 100L)))
    assert(rows(pruned.filter(col("id") === 100L)) === Set((100L, "x")))
  }

  test("vacuum reclaims replaced files and superseded pointers, never live data") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.upsert("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    store.ensureGoverned(Seq("t"))
    // each upsert re-writes key 1 unchanged, so it replaces the file
    // holding it (new keys alone would only add files)
    (2 to 4).foreach(i =>
      store.upsert("t", Seq((i.toLong, s"v$i"), (1L, "a")).toDF("id", "v"), Seq("id")))
    def diskFiles(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$root/t")).count(_.getName.endsWith(".parquet"))
    }
    val beforeVac = diskFiles()
    store.vacuumEpochs()
    val afterVac = diskFiles()
    assert(afterVac < beforeVac, s"vacuum freed nothing ($beforeVac -> $afterVac)")
    assert(afterVac === store.dataFiles("t").size)
    assert(rows(store.read("t")) ===
      Set((1L, "a"), (2L, "v2"), (3L, "v3"), (4L, "v4")))
  }

  test("a layout marker never lands ahead of staged data (conversion killed pre-flip)") {
    // bucketize-conversion inside a transaction killed before the
    // pointer flip: the bucketed marker must NOT be on disk over
    // still-flat live files (the next upsert would fail on the
    // missing partition column) — markers are deferred past the flip
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.upsert("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    store.ensureGoverned(Seq("t"))
    store.beforeCommitFlip = () => throw new RuntimeException("power cut")
    try intercept[RuntimeException] {
      store.transact {
        store.upsertBucketed("t", Seq((3L, "c")).toDF("id", "v"), Seq("id"), 4)
      }
    } finally store.beforeCommitFlip = () => ()
    // no marker, flat live files, fully readable
    assert(store.bucketLayoutOf("t") === None)
    assert(rows(store.read("t")) === Set((1L, "a"), (2L, "b")))
    // redelivery converts cleanly: data AND marker both land
    store.upsertBucketed("t", Seq((3L, "c")).toDF("id", "v"), Seq("id"), 4)
    assert(store.bucketLayoutOf("t") === Some((4, Seq("id"))))
    assert(rows(store.read("t")) === Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(Doctor.check(store) === Seq.empty)
  }

  test("compact on a governed table commits through the pointer, content intact") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.overwrite("t", (0 until 200).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v").repartition(20))
    store.ensureGoverned(Seq("t"))
    val fp = store.contentFingerprint("t")
    val (before, after) = store.compact("t")
    assert(after < before, s"compact freed nothing ($before -> $after)")
    assert(store.contentFingerprint("t") === fp)
    // live set is the compacted files; replaced epochs await vacuum
    assert(store.dataFiles("t").size.toLong === after)
    store.vacuumEpochs()
    assert(store.contentFingerprint("t") === fp)
    assert(Doctor.check(store) === Seq.empty)
  }

  test("doctor: out-of-band deletion is loud; epoch garbage suggests vacuum") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.upsert("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    store.ensureGoverned(Seq("t"))
    // accrete replaced epochs until the vacuum advisory fires: each
    // upsert re-writes key 1 unchanged, so it replaces the file holding
    // it (new keys alone would only add files)
    (2 to 10).foreach(i =>
      store.upsert("t", Seq((i.toLong, s"v$i"), (1L, "a")).toDF("id", "v"), Seq("id")))
    val sug = Doctor.suggest(store).filter(_.component == "vacuum")
    assert(sug.size === 1, s"no vacuum advisory: ${Doctor.suggest(store)}")
    assert(sug.head.problem.contains("vacuum-epochs"))
    store.vacuumEpochs()
    assert(Doctor.suggest(store).filter(_.component == "vacuum") === Seq.empty)
    assert(Doctor.check(store) === Seq.empty)
    // out-of-band deletion of a committed file → loud integrity error
    val victim = new java.io.File(store.dataFiles("t").head
      .stripPrefix("file:"))
    assert(victim.delete(), s"fixture failed to delete $victim")
    val issues = Doctor.check(store).filter(_.component == "epoch")
    assert(issues.size === 1, s"missing-file not flagged: ${Doctor.check(store)}")
    assert(issues.head.problem.contains("missing file"))
  }

  test("time travel: readEpoch serves any retained snapshot; vacuum ends retention") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.upsert("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    store.ensureGoverned(Seq("t")) // epoch 1: {1}
    store.upsert("t", Seq((2L, "b")).toDF("id", "v"), Seq("id")) // epoch 2: {1,2}
    store.upsert("t", Seq((1L, "a2")).toDF("id", "v"), Seq("id")) // epoch 3: LWW
    assert(store.log.epochs() === Seq(1L, 2L, 3L))
    assert(rows(store.readEpoch("t", 1L)) === Set((1L, "a")))
    assert(rows(store.readEpoch("t", 2L)) === Set((1L, "a"), (2L, "b")))
    assert(rows(store.readEpoch("t", 3L)) === Set((1L, "a2"), (2L, "b")))
    assert(rows(store.read("t")) === rows(store.readEpoch("t", 3L)))
    intercept[IllegalArgumentException] { store.readEpoch("t", 99L) }
    intercept[IllegalArgumentException] { store.readEpoch("nope", 2L) }
    // vacuum prunes history: only the latest snapshot remains
    store.vacuumEpochs()
    assert(store.log.epochs() === Seq(3L))
    assert(rows(store.readEpoch("t", 3L)) === Set((1L, "a2"), (2L, "b")))
    intercept[IllegalArgumentException] { store.readEpoch("t", 2L) }
  }

  test("a governed custom-merge table (streaming quantile sample) commits atomically") {
    // mergeTouchedBuckets — the eviction-merge path no upsert rule
    // expresses — must route through the same staging/commit
    // machinery when its table is governed
    val root = freshRoot()
    val store = new TableStore(spark, root)
    val sink = graft.streaming.StreamQuantiles
      .quantilesSink(store, "docs", "grp", "id", "v", 4)
    sink((0 until 40).map(i => (s"g${i % 8}", i.toLong, i.toLong))
      .toDF("grp", "id", "v"), 0L)
    val sample = graft.streaming.StreamQuantiles.sampleName("docs")
    graft.streaming.StreamQuantiles.ensureBucketedSample(store, "docs", 4)
    store.ensureGoverned(Seq(sample))
    sink(Seq(("g0", 100L, 1L)).toDF("grp", "id", "v"), 1L) // converts, governed
    val flat = {
      val twin = new TableStore(spark, freshRoot())
      val s2 = graft.streaming.StreamQuantiles
        .quantilesSink(twin, "docs", "grp", "id", "v", 4)
      s2((0 until 40).map(i => (s"g${i % 8}", i.toLong, i.toLong))
        .toDF("grp", "id", "v"), 0L)
      s2(Seq(("g0", 100L, 1L)).toDF("grp", "id", "v"), 1L)
      twin.read(sample).select(col("grp"), col("tie"), col("v"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    }
    val got = store.read(sample).select(col("grp"), col("tie"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === flat, "governed custom merge diverged from ungoverned twin")
    // a killed commit leaves the complete prior sample
    val before = store.read(sample).count()
    store.beforeCommitFlip = () => throw new RuntimeException("power cut")
    try intercept[RuntimeException] {
      sink(Seq(("g1", 101L, 2L)).toDF("grp", "id", "v"), 2L)
    } finally store.beforeCommitFlip = () => ()
    assert(store.read(sample).count() === before)
    sink(Seq(("g1", 101L, 2L)).toDF("grp", "id", "v"), 2L) // redelivery
    assert(Doctor.check(store) === Seq.empty)
  }

  test("incremental log: commits write O(batch) metadata, chains compact, history resolves") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    // a bucketed table with many files, so the full list is large
    store.ensureBucketed("t", Seq("id"), 16)
    store.upsert("t", (0 until 320).map(i => (i.toLong, s"v$i")).toDF("id", "v"), Seq("id"))
    store.ensureGoverned(Seq("t"))
    val logDir = new java.io.File(s"$root/_graft_epoch")
    def logFiles(prefix: String): Seq[java.io.File] =
      logDir.listFiles().filter(_.getName.startsWith(prefix)).toSeq
    val fullLen = logFiles("files-t-").map(_.length).max

    // 1-row upserts touch one bucket: the log entry must be a DELTA
    // far smaller than the full list
    val expected = scala.collection.mutable.Map(
      (0 until 320).map(i => i.toLong -> s"v$i"): _*)
    (1 to 10).foreach { i =>
      store.upsert("t", Seq((1000L + i, s"x$i")).toDF("id", "v"), Seq("id"))
      expected(1000L + i) = s"x$i"
    }
    val deltas = logFiles("delta-t-")
    assert(deltas.size === 10, s"expected 10 delta links, got ${deltas.size}")
    assert(deltas.map(_.length).max < fullLen / 3,
      s"delta entries (${deltas.map(_.length).max} B) not materially " +
        s"smaller than the full list ($fullLen B)")
    // the 11th link would exceed MaxDeltaDepth: the chain compacts to
    // a fresh full list instead
    store.upsert("t", Seq((2000L, "y")).toDF("id", "v"), Seq("id"))
    expected(2000L) = "y"
    assert(logFiles("delta-t-").size === 10, "chain did not compact at depth 10")
    assert(logFiles("files-t-").size >= 2)

    // reads resolve identically through the whole chain
    assert(rows(store.read("t")) === expected.toSet.map(
      (kv: (Long, String)) => (kv._1, kv._2)))
    val reader = new TableStore(spark, root) // cold caches: chain walk
    assert(rows(reader.read("t")) === rows(store.read("t")))
    // time travel still resolves mid-chain epochs
    val midEpoch = store.log.epochs()(4)
    assert(store.readEpoch("t", midEpoch).count() ===
      320L + (midEpoch - 1)) // epoch 1 = snapshot, each +1 adds a row
    // vacuum keeps the live chains; reads + history survive
    store.vacuumEpochs()
    assert(rows(store.read("t")) === rows(reader.read("t")))
    assert(Doctor.check(store) === Seq.empty)
  }

  test("an empty live set reads as empty/absent, never as the retired files on disk") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.overwrite("t", Seq((1L, "a", "d1")).toDF("id", "v", "day"), Seq("day"))
    store.ensureGoverned(Seq("t"))
    // drop the only partition: live set empty, files still on disk
    store.dropPartition("t", "day", "d1")
    assert(store.readIfExists("t").isEmpty, "dropped table should read absent")
    val ex = intercept[IllegalStateException] { store.read("t") }
    assert(ex.getMessage.contains("no live files"), ex.getMessage)
    // the retired files ARE still physically present (retention) —
    // which is exactly why the directory-scan fallback would lie
    assert(store.unreferencedFiles("t").nonEmpty)
  }

  test("a stray pointer tmp file never resolves; vacuum removes it") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.upsert("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    store.ensureGoverned(Seq("t"))
    // simulate a writer killed mid-pointer-write: a partial tmp file
    val tmp = new java.io.File(s"$root/_graft_epoch/.tmp-commit-00000000000000000099")
    java.nio.file.Files.writeString(tmp.toPath, "t\tfiles-t-")
    assert(store.log.epochs() === Seq(1L), "tmp pointer must not resolve")
    assert(rows(store.read("t")) === Set((1L, "a")))
    store.vacuumEpochs()
    assert(!tmp.exists(), "vacuum should clear pointer tmp leftovers")
  }

  test("a flat governed overwrite of a bucketed table clears the stale layout marker") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.ensureBucketed("t", Seq("id"), 4)
    store.upsert("t", (0 until 16).map(i => (i.toLong, s"v$i")).toDF("id", "v"), Seq("id"))
    store.ensureGoverned(Seq("t"))
    assert(store.bucketLayoutOf("t").nonEmpty)
    // a whole-table replace with a FLAT frame (the ungoverned dir-swap
    // used to destroy the marker with the directory)
    store.overwrite("t", Seq((100L, "x")).toDF("id", "v"))
    assert(store.bucketLayoutOf("t") === None,
      "stale bucketed declaration over flat live files")
    assert(rows(store.read("t")) === Set((100L, "x")))
    // the next upsert works (would throw on the missing partition
    // column if the marker had survived)
    store.upsert("t", Seq((101L, "y")).toDF("id", "v"), Seq("id"))
    assert(rows(store.read("t")) === Set((100L, "x"), (101L, "y")))
  }

  test("a fully governed store: every maintained index family composes with the commit log") {
    // govern base + FTS postings/stats + LSH bands + SQ8 codes + the
    // quantile sample, run a mixed maintenance workload, and the
    // whole store must stay query-correct, integrity-clean, and
    // vacuumable — the "new layer composes with every artifact" pin
    val root = freshRoot()
    val store = new TableStore(spark, root)
    val mk = (i: Int) => (i.toLong,
      if (i % 3 == 0) s"alpha beta doc $i" else s"plain filler text $i",
      (0 until 8).map(d => math.sin(i * 8.0 + d)))
    val b1 = (0 until 20).map(mk).toDF("pk", "text", "e")
    Fts.upsertWithIndex(store, "docs", b1, "pk", "text", buckets = 4)
    Sq.buildIndex(store, "docs", b1, "pk", "e")
    Lsh.buildIndex(store, "docs", b1.select(col("pk"), col("text")), "pk", "text")
    store.ensureGoverned(Seq("docs",
      Fts.indexName("docs"), Fts.statsName("docs"),
      Sq.codesName("docs"), Sq.scalesName("docs"),
      Lsh.indexName("docs"), Lsh.mapName("docs"), Lsh.paramsName("docs"),
      graft.streaming.StreamQuantiles.sampleName("docs")))

    // incremental batches through every family, governed
    val b2 = (20 until 32).map(mk).toDF("pk", "text", "e")
    Fts.upsertWithIndex(store, "docs", b2, "pk", "text", buckets = 4)
    Sq.upsertWithCodes(store, "docs", b2, "pk", "e")
    Lsh.upsertWithBands(store, "docs",
      b2.select(col("pk"), col("text")), "pk", "text")
    graft.streaming.StreamQuantiles.quantilesSink(
      store, "docs", "pk", "pk", "pk", 8)(
      b1.select(col("pk"), col("pk").as("id"), col("pk").as("v"))
        .toDF("pk", "id", "v"), 0L)

    // queries over the governed indexes answer correctly
    val hits = Fts.search(spark, store, "docs", "alpha beta")
      .select(col("pk").cast("long")).collect().map(_.getLong(0)).toSet
    assert(hits === (0 until 32).filter(_ % 3 == 0).map(_.toLong).toSet)
    val ann = Sq.annTopK(store, "docs",
      Seq((0L, (0 until 8).map(d => math.sin(d.toDouble)))).toDF("qid", "qe"),
      "qid", "qe", 5)
    assert(ann.count() === 5)
    assert(Lsh.candidates(store, "docs").count() >= 0)
    assert(Doctor.check(store) === Seq.empty,
      "governed multi-family store left integrity issues")

    // vacuum the accumulated epochs; everything still answers
    store.vacuumEpochs()
    assert(Fts.search(spark, store, "docs", "alpha beta")
      .select(col("pk").cast("long")).collect().map(_.getLong(0)).toSet === hits)
    assert(Sq.annTopK(store, "docs",
      Seq((0L, (0 until 8).map(d => math.sin(d.toDouble)))).toDF("qid", "qe"),
      "qid", "qe", 5).count() === 5)
    assert(Doctor.check(store) === Seq.empty)
  }

  test("emptying and reshaping governed tables never wedges maintenance pre-vacuum") {
    // finding-class pins: (a) a stats-manifest table emptied by
    // dropPartition must COMMIT cleanly (the stats refresh used to
    // read() the empty live set and throw after the flip); (b) a flat
    // overwrite of an ex-bucketed table must compact correctly while
    // the retired pk_bucket shells are still on disk (the partition
    // chain derives from LIVE files, not the directory tree)
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.overwrite("a", Seq((1L, "x", "d1")).toDF("id", "v", "day"), Seq("day"))
    store.ensureGoverned(Seq("a"))
    FileManifest.build(store, "a")
    store.dropPartition("a", "day", "d1") // live set now empty
    assert(store.readIfExists("a").isEmpty)
    assert(FileManifest.estimateRows(store, "a") === Some(0L)) // marker-only manifest
    // and it can refill afterwards
    store.overwrite("a", Seq((2L, "y", "d2")).toDF("id", "v", "day"), Seq("day"))
    assert(store.read("a").count() === 1L)

    val storeB = new TableStore(spark, root)
    storeB.ensureBucketed("b", Seq("id"), 4)
    storeB.upsert("b", (0 until 16).map(i => (i.toLong, s"v$i")).toDF("id", "v"), Seq("id"))
    storeB.ensureGoverned(Seq("b"))
    storeB.overwrite("b", (0 until 8).map(i => (i.toLong, s"f$i")).toDF("id", "v"))
    // retired bucket shells still on disk, live data is FLAT
    assert(storeB.partitionColumnsOf("b") === Seq.empty,
      "partition chain leaked from retired directory shells")
    val fp = storeB.contentFingerprint("b")
    storeB.compact("b")
    assert(storeB.contentFingerprint("b") === fp)
    assert(storeB.read("b").count() === 8L)
  }

  test("TweetSink on a governed store: the six-table fan-out is all-or-nothing") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    val raw = spark.read.option("multiLine", true)
      .schema(graft.schema.TwitterSchemas.tweet(2))
      .json(resource("tweets.json"))
    val tables = graft.ingest.Normalize.saveTweets(raw)
    store.ensureGoverned(graft.ingest.TweetSink.Tables)
    // crash in the final commit window: NOTHING of the batch is visible
    store.beforeCommitFlip = () => throw new RuntimeException("power cut")
    try intercept[RuntimeException] {
      graft.ingest.TweetSink(store, tables, now = None)
    } finally store.beforeCommitFlip = () => ()
    val reader = new TableStore(spark, root)
    graft.ingest.TweetSink.Tables.foreach { t =>
      assert(reader.readIfExists(t).forall(_.isEmpty),
        s"torn visibility: $t has rows after a killed commit")
    }
    // redelivery lands the whole fan-out atomically
    graft.ingest.TweetSink(store, tables, now = None)
    assert(reader.read("tweets").count() === 5)
    assert(reader.read("users").count() === 3)
    assert(reader.read("sources").count() === 4)
    assert(reader.read("media_tweets").count() === 1)
  }
}
