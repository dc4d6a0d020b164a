package graft.state

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.store.TableStore

/** A1 since_id watermarks (monotone, resumable) and A2 count_history
  * CDC (append-on-change only), per SURVEY.md §2.4.
  */
class WatermarksSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): TableStore =
    new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-state").toString)

  test("A1: since_id records batch max, is monotone, reads back") {
    val store = freshStore()
    Watermarks.ensureTypeTables(spark, store)
    assert(Watermarks.sinceId(store, "user", "simonw").isEmpty)
    // each enum table is one file, not one per seed row
    assert(store.dataFiles("since_id_types").size === 1)
    assert(store.dataFiles("count_history_types").size === 1)
    assert(store.read("since_id_types").count() === 4)
    assert(store.read("count_history_types").count() === 3)

    Watermarks.recordBatchMax(store, "user", "simonw", Seq(100L, 250L, 180L))
    assert(Watermarks.sinceId(store, "user", "simonw") === Some(250L))

    // an older page must NOT regress the watermark
    Watermarks.recordBatchMax(store, "user", "simonw", Seq(10L, 20L))
    assert(Watermarks.sinceId(store, "user", "simonw") === Some(250L))

    // separate (type,key) tracked independently
    Watermarks.recordBatchMax(store, "home", "simonw", Seq(999L))
    assert(Watermarks.sinceId(store, "home", "simonw") === Some(999L))
    assert(Watermarks.sinceId(store, "user", "simonw") === Some(250L))

    // empty batch is a no-op
    Watermarks.recordBatchMax(store, "user", "simonw", Seq.empty)
    assert(Watermarks.sinceId(store, "user", "simonw") === Some(250L))
  }

  test("A2: count_history appends only on change") {
    val store = freshStore()
    val users1 = Seq((12497L, 100L, 50L, 10L))
      .toDF("id", "followers_count", "friends_count", "listed_count")
    Watermarks.saveUserCounts(store, users1, "2026-01-01T00:00:00+00:00")
    // first sighting: 3 rows (followers, friends, listed)
    assert(store.read("count_history").count() === 3)

    // same counts later → nothing appended
    Watermarks.saveUserCounts(store, users1, "2026-01-02T00:00:00+00:00")
    assert(store.read("count_history").count() === 3)

    // one count changes → exactly one new row
    val users2 = Seq((12497L, 101L, 50L, 10L))
      .toDF("id", "followers_count", "friends_count", "listed_count")
    Watermarks.saveUserCounts(store, users2, "2026-01-03T00:00:00+00:00")
    val hist = store.read("count_history")
    assert(hist.count() === 4)
    val followerRows = hist.filter(col("type") === 1).orderBy("datetime")
      .collect().map(r => (r.getAs[String]("datetime"), r.getAs[Long]("count")))
    assert(followerRows.toSeq === Seq(
      ("2026-01-01T00:00:00+00:00", 100L),
      ("2026-01-03T00:00:00+00:00", 101L)))
  }

  test("save_users + following edges keep first_seen via insert-ignore") {
    val store = freshStore()
    val raw = Seq(
      (43L, "a", "Mon Sep 02 14:19:58 +0000 2019", "", null.asInstanceOf[String]),
      (44L, "b", "Mon Sep 02 14:19:58 +0000 2019", "", null.asInstanceOf[String]))
      .toDF("id", "screen_name", "created_at", "description", "url")
    val out = graft.ingest.Normalize.saveUsers(raw,
      followedId = Some(42L), firstSeen = "2026-01-01T00:00:00")
    store.upsert("users", out("users"), Seq("id"))
    store.insertIgnore("following", out("following"),
      Seq("followed_id", "follower_id"))
    assert(store.read("following").count() === 2)

    // refetch later: first_seen must survive
    val out2 = graft.ingest.Normalize.saveUsers(raw,
      followedId = Some(42L), firstSeen = "2026-06-06T00:00:00")
    store.insertIgnore("following", out2("following"),
      Seq("followed_id", "follower_id"))
    val seen = store.read("following").collect()
      .map(_.getAs[String]("first_seen")).toSet
    assert(seen === Set("2026-01-01T00:00:00"))
    // users got ISO created_at via transform_user
    assert(store.read("users").collect().map(_.getAs[String]("created_at")).toSet
      === Set("2019-09-02T14:19:58+00:00"))
  }

  test("A2: only the batch's users are ranked; appended rows match the whole-history rule") {
    val store = freshStore()
    def counts(rows: (Long, Long, Long, Long)*) =
      rows.toDF("id", "followers_count", "friends_count", "listed_count")
    // user 1 builds several history rows, then sits out the last batch
    Watermarks.saveUserCounts(store, counts((1L, 10L, 5L, 1L), (2L, 7L, 7L, 7L)),
      "2026-01-01T00:00:00+00:00")
    Watermarks.saveUserCounts(store, counts((1L, 11L, 5L, 1L)), "2026-01-02T00:00:00+00:00")
    Watermarks.saveUserCounts(store, counts((1L, 12L, 6L, 2L)), "2026-01-03T00:00:00+00:00")
    val before = store.read("count_history").collect().toSeq
    assert(before.count(_.getAs[Long]("user") == 1L) === 7)

    // the rule over the WHOLE history: latest row per (type, user)
    val now = "2026-01-04T00:00:00+00:00"
    val batch = counts((2L, 8L, 7L, 7L), (3L, 1L, 1L, 1L))
    import org.apache.spark.sql.expressions.Window
    val latest = store.read("count_history")
      .withColumn("rn", row_number().over(
        Window.partitionBy("type", "user").orderBy(col("datetime").desc)))
      .filter(col("rn") === 1)
      .select(col("type"), col("user"), col("count").as("prev"))
    val expected = batch.selectExpr("id as user",
        "stack(3, 1, followers_count, 2, friends_count, 3, listed_count) as (type, count)")
      .join(latest, Seq("type", "user"), "left")
      .filter(!(col("count") <=> col("prev")))
      .select(col("type"), col("user"), lit(now).as("datetime"), col("count"))
      .collect().toSeq

    Watermarks.saveUserCounts(store, batch, now)
    def key(r: org.apache.spark.sql.Row) = (r.getAs[Int]("type"), r.getAs[Long]("user"),
      r.getAs[String]("datetime"), r.getAs[Long]("count"))
    assert(store.read("count_history").collect().map(key).sorted.toSeq ===
      (before ++ expected).map(key).sorted)
    assert(expected.map(key).sorted === Seq((1, 2L, now, 8L), (1, 3L, now, 1L),
      (2, 3L, now, 1L), (3, 3L, now, 1L)))
  }
}
