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
}
