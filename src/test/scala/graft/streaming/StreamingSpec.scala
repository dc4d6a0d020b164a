package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.store.TableStore

/** Streaming semantics (SURVEY.md §2.7): control-record drop,
  * streaming-format normalization (extended_tweet hoist, text →
  * full_text), per-batch idempotent multi-table upsert, redelivery
  * safety.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): TableStore =
    new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-stream").toString)

  private val user =
    """"user": {"id": 42, "id_str": "42", "name": "Streamer",
      | "screen_name": "streamer", "location": "", "description": "",
      | "url": null, "protected": false, "followers_count": 10,
      | "friends_count": 5, "listed_count": 1,
      | "created_at": "Mon Sep 02 14:19:58 +0000 2019",
      | "favourites_count": 3, "geo_enabled": false, "verified": false,
      | "statuses_count": 7}""".stripMargin.replace("\n", "")

  // streaming-format tweet: truncated `text`, full version in extended_tweet
  private val streamingTweet =
    s"""{"created_at": "Wed Sep 04 13:51:55 +0000 2019", "id": 900000000000000001,
       | "id_str": "900000000000000001", "text": "truncated…",
       | "extended_tweet": {"full_text": "the full streaming text &amp; more",
       |   "entities": {"urls": []}},
       | "source": "<a href=\\"http://twitter.com/download/iphone\\" rel=\\"nofollow\\">Twitter for iPhone</a>",
       | "truncated": true, $user, "is_quote_status": false,
       | "retweet_count": 0, "favorite_count": 0, "favorited": false,
       | "retweeted": false, "lang": "en"}""".stripMargin.replace("\n", "")

  // REST-format tweet with a nested retweet whose text needs the fallback
  private val restTweet =
    s"""{"created_at": "Wed Sep 04 14:00:00 +0000 2019", "id": 900000000000000002,
       | "id_str": "900000000000000002",
       | "full_text": "RT @streamer: nested goes here",
       | "retweeted_status": {"created_at": "Wed Sep 04 13:59:00 +0000 2019",
       |   "id": 900000000000000003, "id_str": "900000000000000003",
       |   "text": "nested streaming-format text", $user,
       |   "is_quote_status": false, "retweet_count": 1, "favorite_count": 2,
       |   "favorited": false, "retweeted": false, "lang": "en"},
       | $user, "is_quote_status": false, "retweet_count": 0,
       | "favorite_count": 0, "favorited": false, "retweeted": false,
       | "lang": "en"}""".stripMargin.replace("\n", "")

  // keepalive / control messages the firehose interleaves
  private val controlMessages = Seq(
    """{"limit": {"track": 123}}""",
    """{"delete": {"status": {"id": 123, "user_id": 456}}}""")

  test("end-to-end: control drop + S12 normalize + K8 upsert + redelivery") {
    val store = freshStore()
    val checkpoint =
      java.nio.file.Files.createTempDirectory("graft-chk").toString

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = StreamNormalize.start(mem.toDF(), store, checkpoint)

    mem.addData(controlMessages :+ streamingTweet: _*)
    q.processAllAvailable()

    // control messages dropped; streaming tweet normalized
    val tweets1 = store.read("tweets").collect()
    assert(tweets1.map(_.getAs[Long]("id")).toSet === Set(900000000000000001L))
    val t1 = tweets1(0)
    // extended_tweet hoisted THEN entity-expanded/unescaped by save_tweets
    assert(t1.getAs[String]("full_text") === "the full streaming text & more")
    assert(t1.getAs[String]("source") === "95f3aaaddaa45937ac94765e0ddb68ba2be92d20")

    // second batch: REST tweet with nested streaming-format retweet
    mem.addData(restTweet)
    q.processAllAvailable()
    val tweets2 = store.read("tweets").collect()
    assert(tweets2.map(_.getAs[Long]("id")).toSet ===
      Set(900000000000000001L, 900000000000000002L, 900000000000000003L))
    val nested = tweets2.find(_.getAs[Long]("id") == 900000000000000003L).get
    // nested tweet had only `text` → fallback populated full_text
    assert(nested.getAs[String]("full_text") === "nested streaming-format text")
    val parent = tweets2.find(_.getAs[Long]("id") == 900000000000000002L).get
    assert(parent.getAs[Long]("retweeted_status") === 900000000000000003L)

    // redelivery: same payload again → idempotent (counts unchanged)
    mem.addData(streamingTweet, restTweet)
    q.processAllAvailable()
    q.stop()
    assert(store.read("tweets").count() === 3)
    assert(store.read("users").count() === 1)
    assert(store.read("users").collect()(0).getAs[Long]("id") === 42L)
    assert(store.read("sources").count() === 1)
  }

  test("K8 sink on a GOVERNED store: each micro-batch is one atomic multi-table commit") {
    // the reference's per-tweet transaction (cli.py:664-668) at the
    // streaming sink: with the tweet tables epoch-governed, a reader
    // between micro-batches always sees a CONSISTENT multi-table
    // state, and a commit killed mid-flight leaves the complete prior
    // batch visible (torn-visibility gap from the r8 verdict, closed)
    val root = java.nio.file.Files.createTempDirectory("graft-streamg").toString
    val store = new TableStore(spark, root)
    store.ensureGoverned(graft.ingest.TweetSink.Tables)
    val checkpoint =
      java.nio.file.Files.createTempDirectory("graft-chkg").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = StreamNormalize.start(mem.toDF(), store, checkpoint)
    mem.addData(streamingTweet)
    q.processAllAvailable()
    val reader = new TableStore(spark, root)
    assert(reader.read("tweets").count() === 1)
    assert(reader.read("users").count() === 1)

    // kill the SECOND batch's commit right before the pointer flip:
    // the sink's foreachBatch throws, and a reader still sees the
    // complete batch-1 state on EVERY table
    store.beforeCommitFlip = () => throw new RuntimeException("power cut")
    mem.addData(restTweet)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    store.beforeCommitFlip = () => ()
    assert(reader.read("tweets").count() === 1,
      "torn visibility: batch 2 partially visible after a killed commit")
    assert(reader.read("users").count() === 1)

    // restart the stream from the checkpoint: the batch redelivers,
    // commits atomically, and the multi-table state is complete
    val q2 = StreamNormalize.start(mem.toDF(), store, checkpoint)
    q2.processAllAvailable()
    q2.stop()
    assert(reader.read("tweets").count() === 3)
    assert(reader.read("users").count() === 1)
    assert(reader.read("sources").count() === 1)
    assert(graft.store.Doctor.check(store) === Seq.empty)
  }

  test("restart after a crash BETWEEN the commit flip and the checkpoint advance converges") {
    // the composition crash test: at-least-once redelivery AND the
    // epoch log are individually pinned; this kills the stream in the
    // window where they interact worst — the batch's epoch commit
    // LANDED but the streaming checkpoint did NOT advance, so the
    // restarted query replays an ALREADY-COMMITTED batch. Idempotent
    // keyed upserts inside a fresh commit must converge to exactly
    // one epoch-visible copy of every row.
    val root = java.nio.file.Files.createTempDirectory("graft-streamr").toString
    val store = new TableStore(spark, root)
    store.ensureGoverned(graft.ingest.TweetSink.Tables)
    val checkpoint =
      java.nio.file.Files.createTempDirectory("graft-chkr").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = StreamNormalize.start(mem.toDF(), store, checkpoint)
    mem.addData(streamingTweet)
    q.processAllAvailable()
    val epochAfterB1 = store.log.epochs().last

    store.afterCommitFlip = () => throw new RuntimeException("crash post-flip")
    mem.addData(restTweet)
    try intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    } finally store.afterCommitFlip = () => ()
    // the commit landed BEFORE the crash: a fresh reader already sees
    // the complete batch-2 state on every table
    val reader = new TableStore(spark, root)
    assert(reader.read("tweets").count() === 3)
    assert(reader.read("users").count() === 1)
    val epochAfterCrash = new TableStore(spark, root).log.epochs().last
    assert(epochAfterCrash > epochAfterB1)

    // checkpoint replay: the same batch redelivers into a store that
    // already holds it — exactly one copy survives, as a real commit
    val q2 = StreamNormalize.start(mem.toDF(), store, checkpoint)
    q2.processAllAvailable()
    q2.stop()
    assert(reader.read("tweets").count() === 3,
      "redelivered committed batch duplicated rows")
    assert(reader.read("users").count() === 1)
    assert(reader.read("sources").count() === 1)
    // the epoch-visible copy is singular at EVERY retained epoch the
    // replay produced, and the store stays integrity-clean
    assert(graft.store.Doctor.check(store) === Seq.empty)
  }

  test("K8 sink auto-routes through a bucketized tweets table") {
    val store = freshStore()
    val checkpoint =
      java.nio.file.Files.createTempDirectory("graft-chkb").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = StreamNormalize.start(mem.toDF(), store, checkpoint)
    mem.addData(streamingTweet)
    q.processAllAvailable()

    // ops bucketizes the hot table once; the sink's plain upsert then
    // auto-routes through the O(touched-buckets) merge
    store.bucketize("tweets", Seq("id"), buckets = 16)
    val before = store.dataFiles("tweets").toSet
    mem.addData(restTweet)
    q.processAllAvailable()
    val after = store.dataFiles("tweets").toSet
    assert((before intersect after).nonEmpty,
      "bucketed stream upsert fell back to a full rewrite")
    assert(store.read("tweets").count() === 3)

    // redelivery converges through the bucketed path too
    mem.addData(restTweet)
    q.processAllAvailable()
    q.stop()
    assert(store.read("tweets").count() === 3)
    assert(store.bucketLayoutOf("tweets") === Some((16, Seq("id"))))
  }

  test("event-time tumbling window with watermark drops late data") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")

    val agg = EventWindows.tumblingCounts(events,
      windowLength = "1 hour", lateness = "10 minutes")
    val q = agg.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("win_out")
      .start()

    def ts(s: String) = Timestamp.valueOf(s)
    // two full hours of events, then an event far ahead to advance the
    // watermark past hour 1 and 2 so their windows finalize (append
    // mode only emits closed windows)
    mem.addData(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:55:00"), "click", 2.0),
      (ts("2024-01-01 11:10:00"), "buy", 5.0))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 13:00:00"), "click", 0.5))
    q.processAllAvailable()
    // a LATE event for hour 10 arrives after the watermark passed — dropped
    mem.addData((ts("2024-01-01 10:30:00"), "click", 99.0))
    q.processAllAvailable()
    mem.addData((ts("2024-01-01 15:00:00"), "click", 0.1))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("win_out")
      .orderBy("window_start", "event_type").collect()
      .map(r => (r.getAs[Timestamp]("window_start").toString,
        r.getAs[String]("event_type"), r.getAs[Long]("n"),
        r.getAs[Double]("total_value")))
    // hour 10: the 99.0 late event must NOT be counted
    assert(rows.contains(("2024-01-01 10:00:00.0", "click", 2L, 3.0)))
    assert(rows.contains(("2024-01-01 11:00:00.0", "buy", 1L, 5.0)))
  }

  test("event-time session windows merge on gap, close at the watermark, drop late") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val events = mem.toDF().toDF("ts", "user_id")

    val q = EventWindows.sessionCounts(events,
        gap = "30 minutes", lateness = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_out").start()

    def ts(s: String) = Timestamp.valueOf(s)
    // two events 10 min apart → ONE session ending 30 min after the
    // last event
    mem.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:10:00"), 1L))
    q.processAllAvailable()
    // next event far past the gap: watermark (11:50) passes the open
    // session's end (10:40) → it finalizes; a new session opens
    mem.addData((ts("2024-01-01 12:00:00"), 1L))
    q.processAllAvailable()
    // LATE event inside the closed session's span — must be dropped,
    // not re-open or extend anything
    mem.addData((ts("2024-01-01 10:05:00"), 1L))
    q.processAllAvailable()
    // another user far ahead closes user 1's second session
    mem.addData((ts("2024-01-01 14:00:00"), 2L))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("sess_out").collect()
      .map(r => (r.getAs[Timestamp]("session_start").toString,
        r.getAs[Timestamp]("session_end").toString,
        r.getAs[Long]("user_id"), r.getAs[Long]("n_events"))).toSet
    // merged session: both early events, end = last ts + gap
    assert(rows.contains(
      ("2024-01-01 10:00:00.0", "2024-01-01 10:40:00.0", 1L, 2L)))
    // second session: the 12:00 event alone (late 10:05 never joined)
    assert(rows.contains(
      ("2024-01-01 12:00:00.0", "2024-01-01 12:30:00.0", 1L, 1L)))
    // nothing else emitted for user 1
    assert(rows.count(_._3 == 1L) === 2)
  }

  test("streaming exact dedup drops in-horizon duplicates, state bounded by watermark") {
    import java.sql.Timestamp

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val docs = mem.toDF().toDF("ts", "doc_id", "text")

    val q = StreamDedup.dedupWithinWatermark(docs, lateness = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()

    def ts(s: String) = Timestamp.valueOf(s)
    mem.addData(
      (ts("2024-01-01 10:00:00"), 1L, "Hello, World!"),
      (ts("2024-01-01 10:01:00"), 2L, "hello   world"), // same normalized fp
      (ts("2024-01-01 10:02:00"), 3L, "something else"))
    q.processAllAvailable()
    // duplicate within the horizon → dropped even across batches
    mem.addData((ts("2024-01-01 10:03:00"), 4L, "HELLO WORLD"))
    q.processAllAvailable()
    // advance the watermark far past the fingerprints' horizon…
    mem.addData((ts("2024-01-01 12:00:00"), 5L, "advancer"))
    q.processAllAvailable()
    // …after expiry the same text is admitted again (state was evicted;
    // the batch sweep owns cross-horizon dedup)
    mem.addData((ts("2024-01-01 12:01:00"), 6L, "hello world"))
    q.processAllAvailable()
    q.stop()

    val ids = spark.table("dedup_out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 3L, 5L, 6L)) // 2 and 4 deduped, 6 re-admitted
    // batch fallback: same API exact-dedups a static frame
    val batch = Seq(
      (ts("2024-01-01 10:00:00"), 1L, "a b"),
      (ts("2024-01-01 10:01:00"), 2L, "A  b"),
      (ts("2024-01-01 10:02:00"), 3L, "c")).toDF("ts", "doc_id", "text")
    assert(StreamDedup.dedupWithinWatermark(batch).count() === 2)
    // null-text (media-only) docs are NOT duplicates of each other:
    // md5(null) would be a shared null key — they get per-doc
    // surrogates instead
    val nulls = Seq(
      (ts("2024-01-01 10:00:00"), 1L, null.asInstanceOf[String]),
      (ts("2024-01-01 10:01:00"), 2L, null.asInstanceOf[String]),
      (ts("2024-01-01 10:02:00"), 3L, "x")).toDF("ts", "doc_id", "text")
    assert(StreamDedup.dedupWithinWatermark(nulls).count() === 3)
  }

  test("A2 streaming CDC: flatMapGroupsWithState emits only count changes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, Long, String, Long)]
    val counts = mem.toDF().toDF("typeId", "user", "datetime", "count")

    val q = StreamCdc.changesOnly(counts).writeStream
      .outputMode("append")
      .format("memory")
      .queryName("cdc_out")
      .start()

    // batch 1: first sighting (emit) + unchanged (suppress) + change (emit)
    mem.addData((1, 7L, "t1", 100L), (1, 7L, "t2", 100L), (1, 7L, "t3", 101L))
    q.processAllAvailable()
    // batch 2: unchanged across batches (state!) then a change
    mem.addData((1, 7L, "t4", 101L))
    q.processAllAvailable()
    mem.addData((1, 7L, "t5", 99L), (2, 7L, "t5", 5L))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("cdc_out").orderBy("typeId", "datetime").collect()
      .map(r => (r.getAs[Int]("typeId"), r.getAs[String]("datetime"),
        r.getAs[Long]("count")))
    assert(rows.toSeq === Seq(
      (1, "t1", 100L), (1, "t3", 101L), (1, "t5", 99L), (2, "t5", 5L)))
  }

  test("streaming FTS maintenance: index searchable after every micro-batch") {
    import graft.store.Fts
    implicit val sqlCtx = spark.sqlContext
    val store = freshStore()
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("id", "full_text")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sfts").toString
    val q = StreamFts.writeIndexed(docs, store, "docs", "id", "full_text", ckpt)

    def hits(s: String): Set[Long] =
      Fts.search(spark, store, "docs", s).collect().map(_.getLong(0)).toSet

    mem.addData((1L, "spark streams here"), (2L, "quick brown fox"))
    q.processAllAvailable()
    assert(hits("spark") === Set(1L))
    assert(hits("\"quick brown\"") === Set(2L)) // phrase works mid-stream

    // second micro-batch REPLACES doc 1's postings (trigger analog)
    mem.addData((1L, "completely different now"), (3L, "spark again"))
    q.processAllAvailable()
    assert(hits("spark") === Set(3L))
    assert(hits("streams") === Set.empty)
    q.stop()

    // ranked search sees stream-maintained corpus stats
    val st = store.read(Fts.statsName("docs")).head
    assert(st.getAs[Long]("n_docs") === 3L)

    // redelivery idempotence: re-running a batch converges to the
    // same index (exactly-once = offsets + idempotent sink)
    val replay = Seq((3L, "spark again")).toDF("id", "full_text")
    StreamFts.indexSink(store, "docs", "id", "full_text")(replay, 99L)
    assert(hits("spark") === Set(3L))
    assert(store.read(Fts.statsName("docs")).head.getAs[Long]("n_docs") === 3L)
  }

  test("streaming FTS maintenance through the bucketed O(batch) layout") {
    import graft.store.Fts
    implicit val sqlCtx = spark.sqlContext
    val store = freshStore()
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("id", "full_text")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sftsb").toString
    val q = StreamFts.writeIndexed(docs, store, "docs", "id", "full_text",
      ckpt, buckets = 4)

    mem.addData((1L, "alpha beta"), (2L, "gamma delta"))
    q.processAllAvailable()
    mem.addData((3L, "alpha omega"))
    q.processAllAvailable()
    q.stop()

    assert(store.read(Fts.indexName("docs")).columns.contains("pk_bucket"))
    assert(Fts.search(spark, store, "docs", "alpha")
      .collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    val st = store.read(Fts.statsName("docs")).head
    assert(st.getAs[Long]("n_docs") === 3L && st.getAs[Int]("n_buckets") === 4)
  }
}
