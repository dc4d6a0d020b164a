package graft.sources

import graft.SparkSpec
import graft.store.TableStore
import graft.state.Watermarks
import graft.ingest.LinkSinks

/** The source layer (SURVEY.md §2.1): descending-id pagination with
  * since_id resume and rate-limit retry (S1), cursor pagination
  * (S4/S5), batched lookups (S6/S7), SQL-as-input (S15), and the
  * timeline/search sinks (K5/K6, A5) — driven against an in-memory
  * fake of the Twitter API (the real HTTP boundary is injected).
  */
class SourcesSpec extends SparkSpec {

  /** Fake statuses/user_timeline: `total` tweets with ids N..1,
    * newest first, page size from args, honoring max_id / since_id.
    */
  class FakeTimelineApi(total: Int, pageSize: Int = 10) {
    var calls = 0
    var failuresToThrow = 0
    def tweetJson(id: Long): String =
      s"""{"created_at": "Wed Sep 04 13:51:55 +0000 2019", "id": $id,
         | "id_str": "$id", "full_text": "tweet $id",
         | "user": {"id": 7, "id_str": "7", "name": "U", "screen_name": "u",
         |   "location": "", "description": "", "url": null,
         |   "created_at": "Mon Sep 02 14:19:58 +0000 2019",
         |   "followers_count": 1, "friends_count": 2, "listed_count": 3},
         | "is_quote_status": false, "retweet_count": 0, "favorite_count": 0,
         | "favorited": false, "retweeted": false, "lang": "en"}"""
        .stripMargin.replace("\n", "")

    def fetch(args: Map[String, String]): Seq[String] = {
      calls += 1
      if (failuresToThrow > 0) {
        failuresToThrow -= 1
        throw Paginate.RateLimited("88")
      }
      val maxId = args.get("max_id").map(_.toLong).getOrElse(Long.MaxValue)
      val sinceId = args.get("since_id").map(_.toLong).getOrElse(0L)
      val count = args.get("count").map(_.toInt).getOrElse(pageSize).min(pageSize)
      (total.toLong to 1L by -1)
        .filter(id => id <= maxId && id > sinceId)
        .take(count)
        .map(tweetJson)
    }
  }

  private def freshStore(): TableStore =
    new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-src").toString)

  test("S1: descending max_id pagination visits every id exactly once") {
    val api = new FakeTimelineApi(total = 25, pageSize = 10)
    val pages = Paginate.timeline(api.fetch,
      doc => """"id"\s*:\s*(\d+)""".r.findFirstMatchIn(doc).get.group(1).toLong)
      .toList
    assert(pages.map(_.size) === List(10, 10, 5))
    assert(api.calls === 4) // 3 pages + the empty terminator
  }

  test("S1: rate-limit retry (error 88) recovers; >5 failures aborts") {
    val api = new FakeTimelineApi(total = 5)
    api.failuresToThrow = 3
    var sleeps = 0
    val pages = Paginate.timeline(api.fetch,
      d => """"id"\s*:\s*(\d+)""".r.findFirstMatchIn(d).get.group(1).toLong,
      sleep = _ => sleeps += 1).toList
    assert(pages.head.size === 5)
    assert(sleeps >= 3)

    val api2 = new FakeTimelineApi(total = 5)
    api2.failuresToThrow = 99
    intercept[IllegalArgumentException] {
      Paginate.timeline(api2.fetch,
        d => """"id"\s*:\s*(\d+)""".r.findFirstMatchIn(d).get.group(1).toLong).toList
    }
  }

  test("S1+A1+K1+K5 lifecycle: ingest, watermark, resume skips old pages") {
    val store = freshStore()
    val api = new FakeTimelineApi(total = 23, pageSize = 10)
    val n1 = TimelineIngest.run(spark, store, api.fetch,
      sinceType = "user", sinceKey = "u", useSince = true,
      linkTable = Some(("timeline_tweets", 7L)))
    assert(n1 === 23)
    assert(store.read("tweets").count() === 23)
    assert(store.read("timeline_tweets").count() === 23)
    assert(store.read("users").count() === 1)
    assert(Watermarks.sinceId(store, "user", "u") === Some(23L))
    // A2 rides the ingest: first sighting of user 7's counts = 3 rows
    assert(store.read("count_history").count() === 3)

    // nothing new → second run fetches nothing (since_id floor)
    val calls0 = api.calls
    val n2 = TimelineIngest.run(spark, store, api.fetch,
      sinceType = "user", sinceKey = "u", useSince = true)
    assert(n2 === 0)
    assert(api.calls === calls0 + 1)

    // 7 new tweets appear → only they are fetched
    val api2 = new FakeTimelineApi(total = 30, pageSize = 10)
    val n3 = TimelineIngest.run(spark, store, api2.fetch,
      sinceType = "user", sinceKey = "u", useSince = true)
    assert(n3 === 7)
    assert(store.read("tweets").count() === 30)
    assert(Watermarks.sinceId(store, "user", "u") === Some(30L))
  }

  test("S1: stop_after truncates to one page") {
    val api = new FakeTimelineApi(total = 50, pageSize = 10)
    val store = freshStore()
    val n = TimelineIngest.run(spark, store, api.fetch,
      sinceType = "user", sinceKey = "u", stopAfter = Some(5))
    assert(n === 5)
    assert(store.read("tweets").count() === 5)
  }

  test("per-endpoint pacing: injected sleep sequence matches reference constants") {
    val extract: String => Long =
      d => """"id"\s*:\s*(\d+)""".r.findFirstMatchIn(d).get.group(1).toLong
    def sleepsFor(pacing: Endpoints.Pacing): Seq[Long] = {
      val api = new FakeTimelineApi(total = 25, pageSize = 10)
      val sleeps = scala.collection.mutable.Buffer.empty[Long]
      Paginate.timeline(api.fetch, extract, count = pacing.pageSize,
          sleep = sleeps += _, sleepMillis = pacing.sleepMillis)
        .foreach(_ => ())
      sleeps.toSeq
    }
    // 3 pages → one inter-page sleep after each non-empty page
    assert(sleepsFor(Endpoints.UserTimeline) === Seq(1000L, 1000L, 1000L))
    assert(sleepsFor(Endpoints.Favorites) === Seq(12000L, 12000L, 12000L))
    assert(sleepsFor(Endpoints.MentionsTimeline) === Seq(10000L, 10000L, 10000L))
    assert(sleepsFor(Endpoints.Search).forall(_ === 6000L))
    // page sizes encode the reference's batch constants
    assert(Endpoints.UsersLookup.pageSize === 70)
    assert(Endpoints.StatusesLookup.pageSize === 100)
    assert(Endpoints.FollowerIds.pageSize === 5000)
    assert(Endpoints.FollowersHydrated.sleepMillis === 61000L)
  }

  test("home timeline: API hard cap stops the scan at 800 tweets") {
    val store = freshStore()
    val api = new FakeTimelineApi(total = 2000, pageSize = 200)
    val n = TimelineIngest.run(spark, store, api.fetch,
      sinceType = "home", sinceKey = "7", useSince = true,
      pacing = Endpoints.HomeTimeline)
    assert(n === 800)
    assert(store.read("tweets").count() === 800)
    // 4 pages of 200 requested, then the cap halts — no 5th fetch
    assert(api.calls === 4)
    // resume continues from the watermark like any timeline
    assert(Watermarks.sinceId(store, "home", "7") === Some(2000L))
  }

  test("S4/S5: cursor pagination terminates on cursor 0") {
    val pages = Map(
      -1L -> (Seq("a", "b"), 17L),
      17L -> (Seq("c"), 99L),
      99L -> (Seq("d"), 0L))
    val out = Paginate.cursor((cur, _) => pages(cur)).toList
    assert(out === List(Seq("a", "b"), Seq("c"), Seq("d")))
  }

  test("S6/S7: batched lookup chunking (70 users / 100 statuses)") {
    assert(Paginate.batched(1 to 200, 70).map(_.size).toList === List(70, 70, 60))
    assert(Paginate.batched(1 to 100, 100).map(_.size).toList === List(100))
    assert(Paginate.batched(Seq.empty[Int], 70).toList === Nil)
  }

  test("S15: --sql/--attach input source over parquet") {
    val ids = Identifiers.resolve(spark,
      identifiers = Seq("explicit_user"),
      attachEntries = Seq("cust:/root/testdata/sf0.001/customer.parquet"),
      sql = Some("SELECT c_name FROM cust WHERE c_custkey < 3 ORDER BY c_custkey"))
    assert(ids.head === "explicit_user")
    assert(ids.size === 4) // 1 explicit + customers 0,1,2
  }

  test("K6+A5: search run ledger with args fingerprint") {
    val store = freshStore()
    val args = Seq("q" -> "spark", "lang" -> "en", "count" -> "100")
    // fingerprint matches the reference formula: sha1 of canonical JSON
    val fp = LinkSinks.searchArgsFingerprint(args)
    assert(fp.length === 40)
    val run1 = LinkSinks.recordSearchRun(spark, store, args, "2026-01-01T00:00:00")
    val run2 = LinkSinks.recordSearchRun(spark, store, args, "2026-01-02T00:00:00")
    assert(run1 === 1L && run2 === 2L)
    val rows = store.read("search_runs").orderBy("id").collect()
    assert(rows(0).getAs[String]("hash") === fp)
    // args JSON excludes q and count, stored with Python's default
    // json.dumps separators in insertion order (cli.py:861-866)
    assert(rows(0).getAs[String]("args") === """{"lang": "en"}""")

    import spark.implicits._
    LinkSinks.linkSearchRun(store, run1,
      Seq((101L), (102L)).toDF("id"))
    assert(store.read("search_runs_tweets").collect()
      .map(r => (r.getAs[Long]("search_run"), r.getAs[Long]("tweet"))).toSet
      === Set((1L, 101L), (1L, 102L)))
  }

  test("TimelineIngest's from_json parse normalizes a page like spark.read.json") {
    import spark.implicits._
    // the golden fixture's three tweets (nested quote / retweet, media,
    // place), a doc with no nested statuses and a malformed doc, one
    // JSON document per string as a timeline page serves them
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val fixture = {
      val it = mapper.readTree(new java.io.File(resource("tweets.json"))).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().toString).toSeq
    }
    val page = fixture ++ Seq(new FakeTimelineApi(total = 1).tweetJson(5L),
      """{"id": 4, "full_text": "cut off""")
    val now = "2026-01-01T00:00:00+00:00"
    def governed(): TableStore = {
      val s = freshStore()
      s.ensureGoverned(graft.ingest.TweetSink.Tables)
      s
    }
    val viaIngest = governed()
    var served = false
    TimelineIngest.run(spark, viaIngest,
      _ => if (served) Nil else { served = true; page },
      sinceType = "user", sinceKey = "u", now = () => now)
    val viaRead = governed()
    graft.ingest.TweetSink(viaRead, graft.ingest.Normalize.saveTweets(
      spark.read.schema(graft.schema.TwitterSchemas.tweet(2)).json(page.toDS)),
      Some(now))
    val tables = graft.ingest.TweetSink.Tables.filter(viaRead.exists)
    assert(tables.toSet === Set("tweets", "users", "sources", "places", "media",
      "media_tweets", "count_history"))
    assert(tables.filter(viaIngest.exists) === tables)
    tables.foreach { t =>
      val (a, b) = (viaIngest.read(t), viaRead.read(t))
      assert(a.schema === b.schema, t)
      assert(a.collect().map(_.toString).sorted.toSeq ===
        b.collect().map(_.toString).sorted.toSeq, t)
    }
    // 3 fixture tweets + 2 nested statuses + the plain doc + the
    // malformed doc's all-null row, as the reader parse gives it
    assert(viaIngest.read("tweets").count() === 7)
  }
}
