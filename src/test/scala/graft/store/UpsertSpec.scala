package graft.store

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Upsert semantics (SURVEY.md §2.5): replace = last-writer-wins,
  * ignore = first-writer-wins, schema evolution via deep unionByName,
  * idempotence under replay (redelivery safety, §2.7).
  */
class UpsertSpec extends SparkSpec {
  import spark.implicits._

  test("replace: incoming beats existing, later ord beats earlier") {
    val existing = Seq((1L, "old"), (2L, "keep")).toDF("id", "v")
    val incoming = Seq((1L, "mid", 0L), (1L, "new", 1L), (3L, "add", 2L))
      .toDF("id", "v", Upsert.OrdCol)
    val out = Upsert.upsert(Some(existing), incoming, Seq("id"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq === Seq((1L, "new"), (2L, "keep"), (3L, "add")))
  }

  test("insert-ignore: existing wins, first in batch wins (following first_seen)") {
    val existing = Seq((1L, 2L, "2020-01-01")).toDF("followed_id", "follower_id", "first_seen")
    val incoming = Seq(
      (1L, 2L, "2021-05-05", 0L),
      (1L, 3L, "2021-05-05", 1L),
      (1L, 3L, "2021-06-06", 2L))
      .toDF("followed_id", "follower_id", "first_seen", Upsert.OrdCol)
    val out = Upsert.insertIgnore(Some(existing), incoming, Seq("followed_id", "follower_id"))
      .orderBy("followed_id", "follower_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq === Seq((1L, 2L, "2020-01-01"), (1L, 3L, "2021-05-05")))
  }

  test("schema evolution: alter=true analog adds and null-fills columns") {
    val existing = Seq((1L, "a")).toDF("id", "v")
    val incoming = Seq((2L, "b", 42L)).toDF("id", "v", "extra")
    val out = Upsert.upsert(Some(existing), incoming, Seq("id")).orderBy("id").collect()
    assert(out(0).getAs[Any]("extra") === null)
    assert(out(1).getAs[Long]("extra") === 42L)
  }

  test("idempotence: replaying the same batch is a fixed point") {
    val batch = Seq((1L, "x", 0L), (2L, "y", 1L)).toDF("id", "v", Upsert.OrdCol)
    val once = Upsert.upsert(None, batch, Seq("id"))
    val twice = Upsert.upsert(Some(once), batch, Seq("id"))
    assert(once.orderBy("id").collect().toSeq === twice.orderBy("id").collect().toSeq)
  }

  test("TableStore: upsert/insertIgnore/overwrite round-trip on disk") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString
    val store = new TableStore(spark, dir)
    store.overwrite("t", Seq((1L, "a")).toDF("id", "v"))
    store.upsert("t", Seq((1L, "b"), (2L, "c")).toDF("id", "v"), Seq("id"))
    val rows = store.read("t").orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq === Seq((1L, "b"), (2L, "c")))
    store.insertIgnore("t", Seq((2L, "zzz"), (3L, "d")).toDF("id", "v"), Seq("id"))
    val rows2 = store.read("t").orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows2.toSeq === Seq((1L, "b"), (2L, "c"), (3L, "d")))
    assert(store.tableNames === Seq("t"))
  }

  // ------------------------------------------- governed flat upsert

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** A governed flat table `t` whose live set is one file of keys 1-2
    * plus what an upsert of new keys 3-4 added.
    */
  private def twoFileTable(): (TableStore, Set[String]) = {
    val store = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-touched").toString)
    store.overwrite("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    store.ensureGoverned(Seq("t"))
    val first = store.dataFiles("t").toSet
    store.upsert("t", Seq((3L, "c"), (4L, "d")).toDF("id", "v"), Seq("id"))
    assert(first.size === 1 && store.dataFiles("t").toSet.size > 1 &&
      first.subsetOf(store.dataFiles("t").toSet))
    (store, first)
  }

  /** Merge `batch` into `t`; the table must equal the keyed rule over
    * the WHOLE old table, and the commit's change feed exactly the new
    * or changed rows. Returns the (removed, added) live files.
    */
  private def mergeChecked(
      store: TableStore, name: String, batch: org.apache.spark.sql.DataFrame,
      ignore: Boolean = false): (Set[String], Set[String]) = {
    val old = store.read(name) // governed files stay on disk until vacuum
    val before = store.dataFiles(name).toSet
    val e0 = store.currentEpochIfAny.get
    if (ignore) store.insertIgnore(name, batch, Seq("id"))
    else store.upsert(name, batch, Seq("id"))
    val expected =
      if (ignore) Upsert.insertIgnore(Some(old), batch, Seq("id"))
      else Upsert.upsert(Some(old), batch, Seq("id"))
    val now = store.read(name)
    assert(now.columns.toSeq === expected.columns.toSeq)
    assert(rowsOf(now) === rowsOf(expected))
    assert(now.count() === expected.count())
    val e1 = store.currentEpochIfAny.get
    val changes = store.readChangesSince(name, e0, e1, Seq("id"))
    assert(changes.filter(col("_change_type") =!= "insert").count() === 0)
    assert(rowsOf(changes.drop("_change_type")) ===
      rowsOf(expected.select(now.columns.map(col): _*)) --
        rowsOf(ChangeWindow.align(old, now.schema)))
    val after = store.dataFiles(name).toSet
    (before -- after, after -- before)
  }

  test("governed flat upsert: new keys add a file and remove none") {
    val (store, _) = twoFileTable()
    val (removed, added) = mergeChecked(store, "t",
      Seq((5L, "e"), (6L, "f")).toDF("id", "v"))
    assert(removed.isEmpty)
    assert(added.nonEmpty)
  }

  test("governed flat upsert: keys in one file replace exactly that file") {
    val (store, first) = twoFileTable()
    val (removed, added) = mergeChecked(store, "t",
      Seq((1L, "A"), (9L, "i")).toDF("id", "v"))
    assert(removed === first)
    assert(added.nonEmpty)
    // a batch with fewer columns null-fills and stays on the file path
    val (removed2, _) = mergeChecked(store, "t", Seq(3L).toDF("id"))
    assert(removed2.nonEmpty && store.dataFiles("t").toSet.size > 1)
  }

  test("governed flat insertIgnore keeps the existing rows, rewrites only touched files") {
    val (store, first) = twoFileTable()
    val (removed, _) = mergeChecked(store, "t",
      Seq((2L, "zzz"), (7L, "g")).toDF("id", "v"), ignore = true)
    assert(removed === first)
    assert(store.read("t").filter(col("id") === 2L).head.getString(1) === "b")
  }

  test("governed flat upsert: a column-adding batch replaces every file; the widened schema reads back") {
    val (store, _) = twoFileTable()
    val before = store.dataFiles("t").toSet
    val (removed, _) = mergeChecked(store, "t",
      Seq((2L, "B", 9)).toDF("id", "v", "w"))
    assert(removed === before)
    assert(store.read("t").columns.toSeq === Seq("id", "v", "w"))
    assert(store.read("t").filter(col("w").isNotNull).count() === 1)
  }

  test("governed flat upsert: an empty batch commits nothing") {
    val (store, _) = twoFileTable()
    val epoch = store.currentEpochIfAny
    val history = store.log.tableHistory("t")
    val files = store.dataFiles("t")
    store.upsert("t", Seq.empty[(Long, String)].toDF("id", "v"), Seq("id"))
    store.insertIgnore("t", Seq.empty[(Long, String)].toDF("id", "v"), Seq("id"))
    assert(store.currentEpochIfAny === epoch)
    assert(store.log.tableHistory("t") === history)
    assert(store.dataFiles("t") === files)
  }

  test("partitioned and z-ordered governed tables keep the whole-table upsert") {
    val root = java.nio.file.Files.createTempDirectory("graft-touched-whole").toString
    val store = new TableStore(spark, root)
    store.overwrite("p", Seq((1L, "a", 1), (2L, "b", 2)).toDF("id", "v", "g"),
      partitionBy = Seq("g"))
    store.overwrite("z", (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v").repartition(4))
    store.compactZorder("z", Seq("id"))
    store.ensureGoverned(Seq("p", "z"))
    Seq("p" -> Seq((3L, "c", 3)).toDF("id", "v", "g"),
      "z" -> Seq((41L, "x")).toDF("id", "v")).foreach { case (t, batch) =>
      val before = store.dataFiles(t).toSet
      val (removed, _) = mergeChecked(store, t, batch)
      assert(removed === before, s"$t carried files through a keyed upsert")
    }
  }
}
