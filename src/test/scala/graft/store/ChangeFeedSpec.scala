package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-11 commit-log semantics, each pinned at its scale failure:
  *
  *  - OPERATION TYPES: the log records WHY a table's files changed
  *    (upsert / compact / overwrite / delete / govern), so incremental
  *    scans skip rewrite-only commits — Iceberg's REPLACE-snapshot
  *    rule. Without it, ONE routine compaction redelivers the ENTIRE
  *    table to every EpochFollower consumer: O(table) per consumer per
  *    compaction at 100 TB.
  *  - ROW-LEVEL CHANGE FEED: readChangesSince tags rows
  *    insert/delete, so a derived mirror (the CDC FTS pattern) drops
  *    ghosts after a dedup or retention delete — readAddedSince alone
  *    can never retract a row.
  *  - OCC OVERLAP RETRY: transact(maxAttempts) re-executes an
  *    idempotent batch against the rebased base when two writers race
  *    the SAME table — the serialization the reference's single SQLite
  *    writer lock provides (`/root/reference/utils.py` writes through
  *    one connection), bounded and loud past the bound.
  */
abstract class ChangeFeedBehavior extends SparkSpec {
  import spark.implicits._

  /** Overridden by the S3-seam twin suite: the whole CDC/OCC matrix
    * runs over BOTH pointer-seam implementations.
    */
  protected def mkStore(root: String): TableStore =
    new TableStore(spark, root)

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-cdc").toString

  private def rows(df: DataFrame): Set[(Long, String)] =
    df.select(col("id").cast("long"), col("v"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  private def changes(df: DataFrame): Set[(Long, String, String)] =
    df.select(col("id").cast("long"), col("v"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

  test("the commit log records WHY each table changed (op types)") {
    val store = mkStore(freshRoot())
    store.ensureBucketed("t", Seq("id"), 4)
    store.ensureGoverned(Seq("t"))
    store.upsert("t", (0 until 32).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      Seq("id"))
    val eUp = store.snapshot().epoch
    store.compact("t")
    val eCp = store.snapshot().epoch
    store.overwrite("t", Seq((1L, "only")).toDF("id", "v"))
    val eOw = store.snapshot().epoch
    val ops = store.log.commitOps("t", eUp - 1, eOw).get.toMap
    assert(ops(eUp) === TableStore.OpUpsert)
    assert(ops(eCp) === TableStore.OpCompact)
    assert(ops(eOw) === TableStore.OpOverwrite)
  }

  test("a compaction delivers NOTHING to incremental consumers; an upsert its batch") {
    val store = mkStore(freshRoot())
    store.ensureBucketed("t", Seq("id"), 4)
    store.ensureGoverned(Seq("t"))
    store.upsert("t", (0 until 64).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      Seq("id"))
    // register the consumer (first delivery = full table)
    var fired = 0
    val first = EpochFollower.consumeNew(store, "t", "mirror") { df =>
      fired += 1; df.count()
    }
    assert(first.map(_._1) === Some(64L))
    val ePre = store.snapshot().epoch

    // a routine compaction: files rewritten, no logical rows changed —
    // the consumer crosses it WITHOUT the handler firing
    store.compact("t")
    assert(EpochFollower.consumeNew(store, "t", "mirror")(df => {
      fired += 1; df.count() }) === None)
    assert(fired === 1, "handler fired on a rewrite-only commit")
    // the cursor still advanced (no re-examination next call)
    assert(EpochFollower.cursor(store, "t", "mirror")
      === Some(store.snapshot().epoch))

    // an upsert delivers its batch (at file level: the touched bucket,
    // a strict subset — never the table)
    store.upsert("t", Seq((100L, "NEW")).toDF("id", "v"), Seq("id"))
    val second = EpochFollower.consumeNew(store, "t", "mirror")(rows)
    assert(second.isDefined)
    val got = second.get._1
    assert(got.contains((100L, "NEW")))
    assert(got.size < 64, s"compaction echo redelivered the table (${got.size})")

    // a window SPANNING compact-then-upsert still skips the rewrite:
    // only the upsert's files are delivered
    val spanned = rows(store.readAddedSince("t", ePre))
    assert(spanned.contains((100L, "NEW")))
    assert(spanned.size < 64,
      s"spanning window redelivered the compaction (${spanned.size})")
    // and a compact-only window is file-empty with the table's schema
    val compactOnly = store.readAddedSince("t", ePre, ePre + 1)
    assert(compactOnly.count() === 0L)
    assert(compactOnly.columns.contains("v"))
  }

  test("readChangesSince: inserts carry new images, deletes last images, carried rows nothing") {
    val store = mkStore(freshRoot())
    store.ensureGoverned(Seq("t"))
    store.upsert("t", (0 until 16).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      Seq("id"))
    val e1 = store.snapshot().epoch
    // one new row, one updated row — everything else carried
    store.upsert("t", Seq((100L, "NEW"), (5L, "V5-UPD")).toDF("id", "v"),
      Seq("id"))
    val e2 = store.snapshot().epoch
    assert(changes(store.readChangesSince("t", e1, e2, Seq("id"))) ===
      Set((100L, "NEW", "insert"), (5L, "V5-UPD", "insert")))
    // a retention delete (governed overwrite dropping pk 7): exactly
    // one delete, carrying the row's last image
    store.overwrite("t", store.read("t").filter(col("id") =!= 7L))
    val e3 = store.snapshot().epoch
    assert(changes(store.readChangesSince("t", e2, e3, Seq("id"))) ===
      Set((7L, "v7", "delete")))
    // a compaction emits ZERO changes (metadata fast path)
    store.compact("t")
    val e4 = store.snapshot().epoch
    assert(store.readChangesSince("t", e3, e4, Seq("id")).count() === 0L)
    // same-epoch window: empty, schema intact (with the tag column)
    val same = store.readChangesSince("t", e4, e4, Seq("id"))
    assert(same.count() === 0L && same.columns.contains("_change_type"))
  }

  test("CDC mirror: consumeChanges retracts deleted rows — no ghosts") {
    val store = mkStore(freshRoot())
    store.ensureBucketed("docs", Seq("id"), 4)
    store.ensureGoverned(Seq("docs"))
    store.upsert("docs",
      (0 until 32).map(i => (i.toLong, s"d$i")).toDF("id", "v"), Seq("id"))
    // the mirror: a plain (un-governed) derived table maintained from
    // the change feed — inserts upsert, deletes remove by pk
    var fired = 0
    def sync(): Unit =
      EpochFollower.consumeChanges(store, "docs", "mirror", Seq("id")) { ch =>
        fired += 1
        val ins = ch.filter(col("_change_type") === "insert").drop("_change_type")
        val del = ch.filter(col("_change_type") === "delete")
          .select(col("id")).distinct()
        val cur = store.readIfExists("mirror")
          .map(m => m.join(del, Seq("id"), "left_anti"))
        val next = cur match {
          case Some(m) => Upsert.upsert(Some(m),
            ins.select(col("id"), col("v")), Seq("id"))
          case None => ins.select(col("id"), col("v"))
        }
        store.overwrite("mirror", next)
      }
    sync()
    assert(fired === 1 && store.read("mirror").count() === 32L)

    // a dedup-style delete: drop the bucket holding pk 0 — the mirror
    // must stop serving every pk that lived there
    val bucket = store.read("docs").filter(col("id") === 0L)
      .select(col("pk_bucket").cast("long")).head.getLong(0)
    val doomed = store.read("docs")
      .filter(col("pk_bucket").cast("long") === bucket)
      .select(col("id").cast("long")).collect().map(_.getLong(0)).toSet
    store.dropPartition("docs", "pk_bucket", bucket.toString)
    sync()
    assert(fired === 2)
    val mirrorIds = store.read("mirror")
      .select(col("id").cast("long")).collect().map(_.getLong(0)).toSet
    assert(mirrorIds.intersect(doomed) === Set.empty,
      s"ghost rows survived the delete: ${mirrorIds.intersect(doomed)}")
    assert(mirrorIds.size === 32 - doomed.size)

    // a compaction fires nothing at the mirror
    store.compact("docs")
    sync()
    assert(fired === 2, "compaction echoed into the CDC mirror")
  }

  test("a poll spanning upsert→compact→upsert splits at the rewrite: two exact batches, compaction outputs never read") {
    val store = mkStore(freshRoot())
    store.ensureBucketed("t", Seq("id"), 16)
    store.ensureGoverned(Seq("t"))
    store.upsert("t", (0 until 8).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      Seq("id"))
    EpochFollower.consumeChanges(store, "t", "m", Seq("id"))(_.count())
    val occupied = store.read("t")
      .select(col("pk_bucket").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    def bucketOf(pk: Long): Long = Seq(pk).toDF("pk")
      .select(pmod(xxhash64(col("pk")), lit(16L))).head.getLong(0)

    // pending while the consumer sleeps: a logical upsert, a routine
    // compaction, and a second logical upsert (into a previously-empty
    // bucket — an append-shaped diff)
    store.upsert("t", Seq((3L, "V3-UPD")).toDF("id", "v"), Seq("id"))
    val preCompact = store.read("t").inputFiles.toSet
    store.compact("t")
    val compactOutputs = store.read("t").inputFiles.toSet -- preCompact
    assert(compactOutputs.nonEmpty)
    val freshPk = (100L to 300L).find(p => !occupied.contains(bucketOf(p))).get
    store.upsert("t", Seq((freshPk, "NEW")).toDF("id", "v"), Seq("id"))

    // ONE poll: the window is cut at the rewrite — two exact batches,
    // and the rewritten files are reconciled by NEITHER (the IO
    // assertion: no batch's scan set touches the compaction's outputs)
    var batches = Vector.empty[Set[(Long, String, String)]]
    var readFiles = Set.empty[String]
    val fed = EpochFollower.consumeChanges(store, "t", "m", Seq("id")) { ch =>
      readFiles ++= ch.inputFiles.toSet
      batches :+= changes(ch)
    }
    assert(fed.isDefined)
    assert(batches === Vector(
      Set((3L, "V3-UPD", "insert")),
      Set((freshPk, "NEW", "insert"))),
      "the mixed window must deliver each logical run as its own exact batch")
    assert(readFiles.intersect(compactOutputs) === Set.empty,
      s"CDC reconciled the compaction's rewritten files: " +
        s"${readFiles.intersect(compactOutputs)}")
    // cursor is current; nothing re-emits
    assert(EpochFollower.cursor(store, "t", "m")
      === Some(store.snapshot().epoch))
    assert(EpochFollower.consumeChanges(store, "t", "m", Seq("id"))(changes)
      .isEmpty)
  }

  test("readChangesSince survives schema evolution: ALTER-shaped window, exactly-once") {
    val store = mkStore(freshRoot())
    store.ensureBucketed("t", Seq("id"), 4)
    store.ensureGoverned(Seq("t"))
    store.upsert("t", (0 until 32).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      Seq("id"))
    // a CDC consumer registered BEFORE the evolution
    var batches = Vector.empty[Set[(Long, String, Option[String], String)]]
    def consume(): Option[Long] =
      EpochFollower.consumeChanges(store, "t", "mirror", Seq("id")) { ch =>
        batches :+= ch.select(col("id").cast("long"), col("v"),
            col("lang"), col(store.ChangeTypeCol))
          .collect().map(r => (r.getLong(0), r.getString(1),
            Option(r.getString(2)), r.getString(3))).toSet
      }.map(_._2)
    // first consume: lang doesn't exist yet — use the plain form
    EpochFollower.consumeChanges(store, "t", "mirror", Seq("id"))(_.count())
    val ePre = store.snapshot().epoch

    // the ALTER-shaped commit: the batch carries a NEW column, so the
    // bucketed upsert pays its all-or-nothing evolution rewrite (EVERY
    // file replaced). One row updated, one inserted, 31 carried.
    store.upsert("t",
      Seq((5L, "V5-UPD", "en"), (100L, "NEW", "de")).toDF("id", "v", "lang"),
      Seq("id"))
    assert(consume().isDefined)
    assert(batches.last === Set(
      (5L, "V5-UPD", Some("en"), "insert"),
      (100L, "NEW", Some("de"), "insert")),
      "an ALTER-spanning window must emit exactly the changed rows — " +
        "carried rows null-filled by the evolution rewrite emit NOTHING")
    // nothing unchanged re-emits on the next poll
    assert(consume().isEmpty)

    // a window spanning BOTH the evolution and a later delete: the
    // delete carries the pre-evolution image null-filled to the union
    // schema (never a false delete)
    store.deleteByPk("t", Seq(7L).toDF("id"), Seq("id"))
    val span = store.readChangesSince("t", ePre, store.snapshot().epoch,
      Seq("id"))
    val del = span.filter(col(store.ChangeTypeCol) === "delete")
      .select(col("id").cast("long"), col("v"), col("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    assert(del.toSet === Set((7L, "v7", None)))
  }

  test("readAddedSince serves the union schema over a mixed-schema window") {
    // upsert → compact → schema-evolving upsert: the rewrite-aware
    // walk keeps the pre-compaction file (its rows were merely moved)
    // AND the evolution's new-schema files — a mixed-schema file set.
    // Without an explicit schema union, parquet samples one footer and
    // the delivered frame either lacks the new column or changes shape
    // per poll.
    val store = mkStore(freshRoot())
    store.ensureBucketed("t", Seq("id"), 4)
    store.ensureGoverned(Seq("t"))
    store.upsert("t", (0 until 8).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      Seq("id"))
    val ePre = store.snapshot().epoch
    store.upsert("t", Seq((20L, "x")).toDF("id", "v"), Seq("id"))
    store.compact("t")
    store.upsert("t", Seq((21L, "y", "en")).toDF("id", "v", "lang"), Seq("id"))
    val got = store.readAddedSince("t", ePre)
    assert(got.columns.contains("lang"),
      "mixed-schema window dropped the evolved column")
    val rows = got.select(col("id").cast("long"), col("v"), col("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)))).toSet
    assert(rows.contains((21L, "y", Some("en"))))
    assert(rows.exists(r => r._1 == 20L && r._3.isEmpty),
      "pre-evolution rows must null-fill the new column")
  }

  test("a bucketed delete lands as ONE epoch — never a partially-applied state") {
    val store = mkStore(freshRoot())
    store.ensureBucketed("t", Seq("id"), 4)
    store.ensureGoverned(Seq("t"))
    store.upsert("t", (0 until 32).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      Seq("id"))
    // doom EVERY pk of one bucket (forces a dropPartition) plus one pk
    // of another (forces a dynamic overwrite) — the multi-commit shape
    // readers used to observe mid-delete
    val byBucket = store.read("t")
      .select(col("pk_bucket").cast("long"), col("id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2).toSet }
    val emptiedBucket = byBucket.keys.min
    val otherPk = byBucket(byBucket.keys.max).head
    val doomed = byBucket(emptiedBucket) + otherPk
    val e0 = store.snapshot().epoch
    store.deleteByPk("t", doomed.toSeq.toDF("id"), Seq("id"))
    assert(store.snapshot().epoch === e0 + 1,
      "the bucketed delete committed more than one epoch — readers " +
        "between them would see a partially-applied delete")
    // the single-epoch window carries exactly the doomed pks as deletes
    val ch = changes(store.readChangesSince("t", e0, e0 + 1, Seq("id")))
    assert(ch.map(c => (c._1, c._3)) === doomed.map((_, "delete")))
    assert(rows(store.read("t")).map(_._1).toSet
      === (0L until 32L).toSet -- doomed)
  }

  test("property: readChangesSince equals the model diff over random histories") {
    // random governed histories of upserts / deletes / compactions;
    // for random epoch windows the change feed must equal the model:
    // inserts = pks whose value is NEW OR CHANGED across the window
    // (new image), deletes = pks present at `from` and gone at `to`,
    // carried rows (and everything a compaction moved) = NOTHING.
    val rnd = new scala.util.Random(23)
    val store = mkStore(freshRoot())
    store.ensureBucketed("t", Seq("id"), 4)
    store.ensureGoverned(Seq("t"))
    val model = scala.collection.mutable.Map[Long, String]()
    // epoch → model snapshot after that commit
    val snaps = scala.collection.mutable.Map[Long, Map[Long, String]]()
    store.upsert("t", Seq((0L, "seed")).toDF("id", "v"), Seq("id"))
    model(0L) = "seed"
    snaps(store.snapshot().epoch) = model.toMap
    (1 to 20).foreach { step =>
      rnd.nextInt(4) match {
        case 0 | 1 => // upsert: mix of new pks and updates
          val batch = (1 to 1 + rnd.nextInt(4)).map { _ =>
            val pk = rnd.nextInt(24).toLong
            (pk, s"v$step-${rnd.nextInt(100)}")
          }.distinct.groupBy(_._1).map(_._2.head).toSeq
          store.upsert("t", batch.toDF("id", "v"), Seq("id"))
          batch.foreach { case (k, v) => model(k) = v }
        case 2 => // delete a random existing subset
          val doomed = model.keys.toSeq.sorted
            .filter(_ => rnd.nextBoolean()).take(3)
          if (doomed.nonEmpty) {
            store.deleteByPk("t", doomed.toDF("id"), Seq("id"))
            doomed.foreach(model.remove)
          } else {
            store.upsert("t", Seq((99L, s"v$step")).toDF("id", "v"), Seq("id"))
            model(99L) = s"v$step"
          }
        case 3 => // rewrite-only: must contribute NOTHING to any window
          store.compact("t")
      }
      snaps(store.snapshot().epoch) = model.toMap
    }
    val epochs = snaps.keys.toSeq.sorted
    (1 to 12).foreach { _ =>
      val i = rnd.nextInt(epochs.size)
      val j = i + rnd.nextInt(epochs.size - i)
      val (from, to) = (epochs(i), epochs(j))
      val (a, b) = (snaps(from), snaps(to))
      val expectIns = b.filter { case (k, v) => !a.get(k).contains(v) }.toSet
      val expectDel = (a.keySet -- b.keySet)
      val got = store.readChangesSince("t", from, to, Seq("id"))
        .select(col("id").cast("long"), col("v"), col("_change_type"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val gotIns = got.collect { case (k, v, "insert") => (k, v) }.toSet
      val gotDel = got.collect { case (k, _, "delete") => k }.toSet
      assert(gotIns === expectIns, s"inserts diverge for window ($from, $to]")
      assert(gotDel === expectDel, s"deletes diverge for window ($from, $to]")
    }
  }

  test("transactWithRetry converges a same-table two-writer race") {
    val root = freshRoot()
    val a = mkStore(root)
    a.ensureGoverned(Seq("t"))
    a.transact { a.upsert("t", Seq((1L, "base")).toDF("id", "v"), Seq("id")) }
    val b = mkStore(root)
    // writer B lands a SAME-TABLE commit inside A's window: A's flip
    // collides with an overlap — un-retried this aborts (the r10 spec);
    // with retry the batch re-executes against B's base and BOTH land
    a.beforeCommitFlip = () => {
      a.beforeCommitFlip = () => ()
      b.transact { b.upsert("t", Seq((2L, "from-b")).toDF("id", "v"), Seq("id")) }
    }
    try a.transactWithRetry(3) {
      a.upsert("t", Seq((3L, "from-a")).toDF("id", "v"), Seq("id"))
    } finally a.beforeCommitFlip = () => ()
    assert(rows(mkStore(root).read("t")) ===
      Set((1L, "base"), (2L, "from-b"), (3L, "from-a")))

    // bounded: attempts exhausted → the overlap propagates loudly
    val c = mkStore(root)
    c.beforeCommitFlip = () => {
      c.beforeCommitFlip = () => ()
      b.transact { b.upsert("t", Seq((4L, "b2")).toDF("id", "v"), Seq("id")) }
    }
    val boom =
      try intercept[java.util.ConcurrentModificationException] {
        c.transactWithRetry(1) {
          c.upsert("t", Seq((5L, "c1")).toDF("id", "v"), Seq("id"))
        }
      } finally c.beforeCommitFlip = () => ()
    assert(boom.getMessage.contains("t"))
    // the winner's commit stands; the loser's staged leftovers are
    // invisible and vacuumable
    assert(rows(mkStore(root).read("t")).contains((4L, "b2")))
    assert(!rows(mkStore(root).read("t")).contains((5L, "c1")))
  }
}

/** The matrix over the default POSIX-rename pointer seam. */
class ChangeFeedSpec extends ChangeFeedBehavior

/** The SAME matrix over the simulated S3 conditional-put seam
  * (transient 500 + duplicated request on every flip) — incl. the
  * two-writer transactWithRetry race.
  */
class ChangeFeedS3Spec extends ChangeFeedBehavior {
  override protected def mkStore(root: String): TableStore =
    S3SeamStore.flaky(spark, root)
}
