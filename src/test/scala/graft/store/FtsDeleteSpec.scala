package graft.store

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Delete support (round 11): the reference never deletes, but a
  * training-data pipeline does (dedup passes, retention). deleteByPk
  * is the O(touched buckets) base-table delete; deleteWithIndex is its
  * FTS twin (FTS5's DELETE-trigger analog) with incrementally
  * DECREMENTED corpus stats; applyChanges is the one-call consumer
  * that keeps an FTS mirror ghost-free from the row-level change feed.
  */
class FtsDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): (TableStore, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft-ftsdel").toString
    (new TableStore(spark, root), root)
  }

  private def partitionFiles(root: String, dir: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(root, dir)
    val walk = java.nio.file.Files.walk(p)
    try walk.iterator().asScala
      .filter(f => java.nio.file.Files.isRegularFile(f) &&
        f.toString.contains("pk_bucket="))
      .map(f => p.relativize(f).toString ->
        java.nio.file.Files.getLastModifiedTime(f).toMillis)
      .toMap
    finally walk.close()
  }

  test("deleteByPk: O(touched buckets) on a declared layout; op-tagged delete") {
    val (store, root) = freshStore()
    store.ensureBucketed("t", Seq("id"), 8)
    store.ensureGoverned(Seq("t"))
    store.upsert("t",
      (0 until 64).map(i => (i.toLong, s"v$i")).toDF("id", "v"), Seq("id"))
    val e1 = store.snapshot().epoch
    val before = partitionFiles(root, "t")
    val doomedBucket = store.read("t").filter(col("id") === 7L)
      .select(col("pk_bucket").cast("long")).head.getLong(0)

    store.deleteByPk("t", Seq(7L).toDF("id"), Seq("id"))
    assert(store.read("t").count() === 63L)
    assert(store.read("t").filter(col("id") === 7L).isEmpty)
    // untouched buckets kept their exact files
    val after = partitionFiles(root, "t")
    val touched = s"pk_bucket=$doomedBucket"
    assert(before.filterNot(_._1.startsWith(touched)).toSet
      .subsetOf(after.toSet), "an untouched bucket was rewritten")
    // the commit is op-tagged delete → the change feed retracts pk 7
    val e2 = store.snapshot().epoch
    assert(store.log.commitOps("t", e1, e2).get.map(_._2).contains(TableStore.OpDelete))
    val ch = store.readChangesSince("t", e1, e2, Seq("id"))
      .select(col("id").cast("long"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ch === Set((7L, "delete")))

    // INT keys against the LONG pk cast safely (xxhash type rule);
    // a lossy (string) key frame is refused
    store.deleteByPk("t", Seq(8).toDF("id"), Seq("id"))
    assert(store.read("t").count() === 62L)
    intercept[IllegalArgumentException] {
      store.deleteByPk("t", Seq("9").toDF("id"), Seq("id"))
    }

    // flat table: whole-table rewrite, rows gone
    store.overwrite("flat", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    store.deleteByPk("flat", Seq(1L).toDF("id"), Seq("id"))
    assert(store.read("flat").collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("deleteWithIndex: postings retract, stats decrement, O(affected buckets)") {
    val (store, root) = freshStore()
    val docs = (0 until 12).map(i =>
      (i.toLong, s"common word${i} extra")).toDF("id", "full_text")
    Fts.upsertWithIndex(store, "tweets", docs, "id", "full_text", buckets = 8)
    def hits(q: String): Set[Long] =
      Fts.search(spark, store, "tweets", q).collect().map(_.getLong(0)).toSet
    assert(hits("word3") === Set(3L))
    val stBefore = store.read(Fts.statsName("tweets")).head
    assert(stBefore.getAs[Long]("n_docs") === 12L)
    val filesBefore = partitionFiles(root, Fts.indexName("tweets"))
    val doomedBucket = store.read(Fts.indexName("tweets"))
      .filter(col("pk") === 3L)
      .select(col("pk_bucket").cast("long")).head.getLong(0)

    Fts.deleteWithIndex(store, "tweets", Seq(3L).toDF("id"), "id", buckets = 8)
    // postings and base row gone; everything else searchable
    assert(hits("word3") === Set.empty)
    assert(hits("word4") === Set(4L))
    assert(hits("common").size === 11)
    assert(store.read("tweets").filter(col("id") === 3L).isEmpty)
    // corpus stats decremented incrementally (each doc dl = 3)
    val st = store.read(Fts.statsName("tweets")).head
    assert(st.getAs[Long]("n_docs") === 11L)
    assert(st.getAs[Long]("total_dl") === stBefore.getAs[Long]("total_dl") - 3L)
    // O(affected): index buckets without the deleted pk kept their files
    val filesAfter = partitionFiles(root, Fts.indexName("tweets"))
    val touched = s"pk_bucket=$doomedBucket"
    assert(filesBefore.filterNot(_._1.startsWith(touched)).toSet
      .subsetOf(filesAfter.toSet), "an unaffected postings bucket was rewritten")

    // incremental delete == from-scratch index of the remaining docs
    val rebuilt = Fts.indexRows(
      store.read("tweets").select(col("id"), col("full_text")),
      "id", "full_text")
      .select("pk", "token", "tf", "dl")
      .collect().map(_.toSeq).toSet
    val maintained = store.read(Fts.indexName("tweets"))
      .select("pk", "token", "tf", "dl")
      .collect().map(_.toSeq).toSet
    assert(maintained === rebuilt)

    // deleting every doc of one bucket drops the partition, not just rows
    val doomedAll = store.read(Fts.indexName("tweets"))
      .filter(col("pk_bucket").cast("long") === doomedBucket)
      .select(col("pk").cast("long")).distinct()
      .collect().map(_.getLong(0))
    if (doomedAll.nonEmpty) {
      Fts.deleteWithIndex(store, "tweets",
        doomedAll.toSeq.toDF("id"), "id", buckets = 8)
      assert(store.read(Fts.indexName("tweets"))
        .filter(col("pk_bucket").cast("long") === doomedBucket).isEmpty)
    }

    // flat layout: wholesale path, same semantics
    val (s2, _) = freshStore()
    Fts.upsertWithIndex(s2, "d", docs, "id", "full_text")
    Fts.deleteWithIndex(s2, "d", Seq(5L).toDF("id"), "id")
    assert(Fts.search(spark, s2, "d", "word5").isEmpty)
    assert(s2.read(Fts.statsName("d")).head.getAs[Long]("n_docs") === 11L)
  }

  test("Retract.cascade clears the deleted pks from EVERY maintained index") {
    val (store, _) = freshStore()
    val dims = 8
    val docs = (0 until 24).map { i =>
      (i.toLong, s"common word$i text",
        (0 until dims).map(d => math.sin(i * dims + d) * 3.0))
    }.toDF("id", "full_text", "e")
    store.overwrite("docs", docs)
    // one index from each family class: FTS (stats + postings), LSH
    // (bucketed + map), trigram (bucketed), SQ + IVF (codes ladder)
    Fts.upsertWithIndexCols(store, "docs", store.read("docs"), "id",
      Seq("full_text"), buckets = 4)
    Lsh.buildIndex(store, "docs", store.read("docs"), "id", "full_text")
    Trigram.upsertWithIndex(store, "docs", store.read("docs"), "id",
      "full_text")
    Sq.buildIndex(store, "docs", store.read("docs"), "id", "e")
    Ivf.buildIndex(store, "docs", store.read("docs"), "id", "e", k = 4)
    assert(Doctor.check(store) === Seq.empty)

    val touched = Retract.cascade(store, "docs", Seq(3L, 7L).toDF("id"), "id")
    assert(touched.contains(Fts.indexName("docs")))
    assert(touched.contains(Sq.codesName("docs")))
    // base rows gone
    assert(store.read("docs").count() === 22L)
    // every index retracted the pks — no family ranks ghosts
    Seq(Fts.indexName("docs"), Trigram.indexName("docs"),
      Lsh.indexName("docs"), Lsh.mapName("docs"),
      Sq.codesName("docs"), Ivf.indexName("docs")).foreach { idx =>
      assert(store.read(idx).filter(col("pk").isin(3L, 7L)).isEmpty,
        s"$idx still holds deleted pks")
    }
    // FTS corpus stats decremented; coverage invariants all green
    assert(store.read(Fts.statsName("docs")).head.getAs[Long]("n_docs") === 22L)
    assert(Doctor.check(store) === Seq.empty)
    // idempotent: a redelivered cascade changes nothing
    Retract.cascade(store, "docs", Seq(3L, 7L).toDF("id"), "id")
    assert(store.read("docs").count() === 22L)
    assert(Doctor.check(store) === Seq.empty)
  }

  test("fully-governed cascade (base + indexes) stages as ONE epoch") {
    val (store, _) = freshStore()
    val docs = (0 until 12).map(i => (i.toLong, s"common word$i text"))
      .toDF("id", "full_text")
    store.overwrite("docs", docs)
    Fts.upsertWithIndexCols(store, "docs", store.read("docs"), "id",
      Seq("full_text"), buckets = 4)
    // govern the base AND every table the cascade writes — only then
    // is the everywhere-or-nowhere claim honest (a transaction stages
    // governed writes only)
    store.ensureGoverned(Seq("docs", Fts.indexName("docs"),
      Fts.statsName("docs")))
    val e0 = store.snapshot().epoch
    Retract.cascade(store, "docs", Seq(3L, 7L).toDF("id"), "id")
    assert(store.snapshot().epoch === e0 + 1,
      "the governed cascade committed more than one epoch — a reader " +
        "between them would see the delete partially applied")
    assert(store.read("docs").count() === 10L)
    assert(store.read(Fts.indexName("docs"))
      .filter(col("pk").isin(3L, 7L)).isEmpty)
    assert(store.read(Fts.statsName("docs")).head.getAs[Long]("n_docs") === 10L)
    assert(Doctor.check(store) === Seq.empty)
  }

  test("mixed governance: the BASE delete commits before any index retraction") {
    // governed base, swap-maintained (un-governed) FTS index — the
    // common config. The index retraction must not apply while the
    // base delete is still staged (a reader would see an index
    // missing postings for live rows, the unhealable direction); the
    // base commit flips FIRST, indexes retract after (ghost
    // direction, healGhosts-repairable).
    val (store, _) = freshStore()
    store.ensureGoverned(Seq("docs"))
    val docs = (0 until 12).map(i => (i.toLong, s"common word$i text"))
      .toDF("id", "full_text")
    store.overwrite("docs", docs)
    Fts.upsertWithIndexCols(store, "docs", store.read("docs"), "id",
      Seq("full_text"), buckets = 4)
    val probe = new TableStore(spark, store.root) // reader's-eye view
    var postingsAtFlip = -1L
    store.beforeCommitFlip = () =>
      // fires at the BASE commit: the un-governed index must still be
      // intact at this instant (the old order had already gutted it)
      postingsAtFlip = probe.read(Fts.indexName("docs"))
        .filter(col("pk").isin(3L, 7L)).count()
    try Retract.cascade(store, "docs", Seq(3L, 7L).toDF("id"), "id")
    finally store.beforeCommitFlip = () => ()
    assert(postingsAtFlip > 0L,
      "index postings were retracted BEFORE the base delete committed — " +
        "a crash there leaves indexes missing postings for live rows")
    assert(store.read("docs").count() === 10L)
    assert(store.read(Fts.indexName("docs"))
      .filter(col("pk").isin(3L, 7L)).isEmpty)
    assert(Doctor.check(store) === Seq.empty)

    // cascade inside an outer transact cannot enforce base-first for
    // un-governed indexes — refused loudly, nothing applied
    val before = store.read(Fts.indexName("docs")).count()
    val e = intercept[IllegalArgumentException](store.transact {
      Retract.cascade(store, "docs", Seq(1L).toDF("id"), "id")
    })
    assert(e.getMessage.contains("governed"))
    assert(store.read(Fts.indexName("docs")).count() === before)
    assert(store.read("docs").count() === 10L)
  }

  test("mixed-governance crash between base commit and index retraction heals") {
    val (store, _) = freshStore()
    store.ensureGoverned(Seq("docs"))
    val docs = (0 until 12).map(i => (i.toLong, s"common word$i text"))
      .toDF("id", "full_text")
    store.overwrite("docs", docs)
    Fts.upsertWithIndexCols(store, "docs", store.read("docs"), "id",
      Seq("full_text"), buckets = 4)
    // power cut right after the base commit's pointer flip: the delete
    // is visible, index retraction never runs
    store.afterCommitFlip = () => throw new RuntimeException("power cut")
    try intercept[RuntimeException](
      Retract.cascade(store, "docs", Seq(3L, 7L).toDF("id"), "id"))
    finally store.afterCommitFlip = () => ()
    assert(store.read("docs").count() === 10L, "base delete committed")
    assert(store.read(Fts.indexName("docs"))
      .filter(col("pk").isin(3L, 7L)).count() > 0L,
      "crash left GHOST postings — the repairable direction")
    // the advertised repair closes it
    val healed = Retract.healGhosts(store, "docs", "id").toMap
    assert(healed(Fts.indexName("docs")) === 2L)
    assert(Doctor.check(store) === Seq.empty)
  }

  test("healGhosts retracts what a bare delete orphaned; Doctor goes green") {
    val (store, _) = freshStore()
    val dims = 8
    val docs = (0 until 16).map { i =>
      (i.toLong, s"common word$i",
        (0 until dims).map(d => math.sin(i * dims + d)))
    }.toDF("id", "full_text", "e")
    store.overwrite("docs", docs)
    Fts.upsertWithIndexCols(store, "docs", store.read("docs"), "id",
      Seq("full_text"), buckets = 4)
    Sq.buildIndex(store, "docs", store.read("docs"), "id", "e")
    assert(Doctor.check(store) === Seq.empty)

    // a BARE base delete (no cascade) orphans every index
    store.deleteByPk("docs", Seq(2L, 5L).toDF("id"), Seq("id"))
    assert(Doctor.check(store).nonEmpty, "coverage divergence undetected")

    val healed = Retract.healGhosts(store, "docs", "id").toMap
    assert(healed(Fts.indexName("docs")) === 2L)
    assert(healed(Sq.codesName("docs")) === 2L)
    assert(store.read(Fts.indexName("docs"))
      .filter(col("pk").isin(2L, 5L)).isEmpty)
    // FTS corpus stats were decremented with the retraction
    assert(store.read(Fts.statsName("docs")).head.getAs[Long]("n_docs") === 14L)
    assert(Doctor.check(store) === Seq.empty)
    // idempotent: nothing left to heal
    assert(Retract.healGhosts(store, "docs", "id") === Seq.empty)
  }

  test("applyChanges keeps an FTS mirror ghost-free from the change feed") {
    val (store, _) = freshStore()
    store.ensureBucketed("docs", Seq("id"), 4)
    store.ensureGoverned(Seq("docs"))
    store.upsert("docs", (0 until 8).map(i =>
      (i.toLong, s"alpha token$i")).toDF("id", "full_text"), Seq("id"))

    def sync(): Unit =
      EpochFollower.consumeChanges(store, "docs", "fts", Seq("id")) { ch =>
        Fts.applyChanges(store, "docs_mirror", ch, "id",
          Seq("full_text"), buckets = 4)
      }
    // registration delivers the table as inserts (consumeChanges tags it)
    sync()
    def hits(q: String): Set[Long] =
      Fts.search(spark, store, "docs_mirror", q).collect()
        .map(_.getLong(0)).toSet
    assert(hits("alpha").size === 8)

    // upstream update + insert flow through
    store.upsert("docs",
      Seq((2L, "alpha UPDATED"), (100L, "alpha fresh")).toDF("id", "full_text"),
      Seq("id"))
    sync()
    assert(hits("updated") === Set(2L))
    assert(hits("token2") === Set.empty) // old image's postings retracted
    assert(hits("fresh") === Set(100L))

    // upstream dedup-style delete: the mirror retracts rows AND postings
    store.deleteByPk("docs", Seq(5L, 100L).toDF("id"), Seq("id"))
    sync()
    assert(hits("token5") === Set.empty)
    assert(hits("fresh") === Set.empty)
    assert(hits("alpha").size === 7)
    assert(store.read("docs_mirror").count() === 7L)
    // mirror base and index agree with a from-scratch rebuild
    val rebuilt = Fts.indexRows(store.read("docs")
        .select(col("id"), col("full_text")), "id", "full_text")
      .select("pk", "token").collect().map(_.toSeq).toSet
    val maintained = store.read(Fts.indexName("docs_mirror"))
      .select("pk", "token").collect().map(_.toSeq).toSet
    assert(maintained === rebuilt)
  }
}
