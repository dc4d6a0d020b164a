package graft.ingest

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.schema.TwitterSchemas
import graft.store.{SqliteCompat, TableStore, Upsert}
import graft.streaming.StreamNormalize

/** Port of the reference's end-to-end golden test
  * (`/root/reference/tests/test_save_tweets.py`): the same 3-tweet
  * fixture must normalize into 5 tweets / 3 users / 4 sources /
  * 1 place / 1 media (+ m2m), with golden field values.
  *
  * Known, deliberate divergences from the SQLite goldens:
  *  - ids stay LongType end-to-end (the reference's fixture ids were
  *    float-truncated by its own tooling; values here match the JSON
  *    exactly). in_reply_to_* stay numeric — the goldens show TEXT
  *    because sqlite-utils created those columns from a null (TEXT) and
  *    SQLite's column affinity coerced later ints; we do not replicate
  *    that accident.
  *  - booleans stay BooleanType; the SQLite-compat render maps them to
  *    0/1 (asserted below via SqliteCompat).
  */
class SaveTweetsSpec extends SparkSpec {

  lazy val tables: Map[String, DataFrame] = {
    val raw = spark.read
      .option("multiLine", true)
      .schema(TwitterSchemas.tweet(2))
      .json(resource("tweets.json"))
    Normalize.saveTweets(raw).map { case (k, v) => k -> v.cache() }
  }

  test("table inventory (test_save_tweets.py:21-44, minus sqlite internals)") {
    assert(tables.keySet === Set(
      "tweets", "users", "sources", "places", "media", "media_tweets"))
  }

  test("five tweets: nested quote + retweet flattened (:186-314)") {
    val rows = tables("tweets").orderBy("id").collect()
    assert(rows.length === 5)
    val byId = rows.map(r => r.getAs[Long]("id") -> r).toMap
    assert(byId.keySet === Set(
      861696799362478100L, 1168529001599533000L, 1169196446043664400L,
      1169242008432644000L, 1169246717864136700L))

    // the quote tweet (1168529001599533000): quoted_status resolved to id,
    // full_text has the t.co link expanded to the twitter.com URL
    val quote = byId(1168529001599533000L)
    assert(quote.getAs[Long]("quoted_status") === 861696799362478100L)
    assert(quote.getAs[Any]("retweeted_status") === null)
    assert(quote.getAs[String]("created_at") === "2019-09-02T14:19:58+00:00")
    assert(quote.getAs[String]("source") === "1f89d6a41b1505a3071169f8d0d028ba9ad6f952")
    assert(quote.getAs[String]("full_text").endsWith(
      "https://twitter.com/bwhitman/status/861696799362478085"))

    // the retweet (1169246717864136700): retweeted_status resolved,
    // html entities unescaped (&amp; -> &)
    val rt = byId(1169246717864136700L)
    assert(rt.getAs[Long]("retweeted_status") === 1169242008432644000L)
    assert(rt.getAs[String]("source") === "95f3aaaddaa45937ac94765e0ddb68ba2be92d20")
    assert(rt.getAs[String]("full_text") ===
      "RT @drvox: My new post: an explainer on “carbon capture & utilization” (CCU). CO2 captured from waste gases or the ambient air can be used…")
    assert(rt.getAs[Any]("possibly_sensitive") === null)

    // the reply (1169196446043664400): place + in_reply_to preserved,
    // empty source -> null
    val reply = byId(1169196446043664400L)
    assert(reply.getAs[String]("place") === "01a9a39529b27f36")
    assert(reply.getAs[Any]("source") === null)
    assert(reply.getAs[Long]("in_reply_to_status_id") === 1169079390577320000L)
    assert(reply.getAs[Long]("in_reply_to_user_id") === 82016165L)
    assert(reply.getAs[String]("in_reply_to_screen_name") === "scientiffic")

    // the nested mac tweet (861696799362478100): entity-expanded gist URL
    val mac = byId(861696799362478100L)
    assert(mac.getAs[Long]("user") === 14148390L)
    assert(mac.getAs[String]("created_at") === "2017-05-08T21:38:21+00:00")
    assert(mac.getAs[String]("source") === "e6528b505bcfd811fdd40ff2d46665dbccba2024")
    assert(mac.getAs[String]("full_text") ===
      "If you use Photos (mac) & Live Photos, run this command to generate a lovely sound collage of where you’ve been https://gist.github.com/bwhitman/5be2f905556a25145dbac74fe4080739")

    // user fk substitution across all rows
    assert(rows.map(_.getAs[Long]("user")).toSet === Set(12497L, 14148390L, 22737278L))
  }

  test("cross-level LWW: retweet-of-a-quote keeps the nested copy") {
    import spark.implicits._
    def t(id: Long, text: String, extra: String = ""): String =
      s"""{"id": $id, "created_at": "Wed Sep 04 13:51:55 +0000 2019",
         | "full_text": "$text",
         | "user": {"id": 7, "created_at": "Mon Sep 02 14:19:58 +0000 2019",
         |   "name": "U", "screen_name": "u", "followers_count": 1,
         |   "friends_count": 2, "listed_count": 3}$extra}"""
        .stripMargin.replace("\n", "")
    // id 100 appears BOTH as the parent's quoted_status ("top copy")
    // and as retweeted_status.quoted_status ("nested copy"). The
    // reference's recursive save_tweets inserts quoted fully (top copy)
    // BEFORE retweeted's children (nested copy) — last insert wins, so
    // the NESTED copy must survive (utils.py:425-431).
    val parent = t(1, "parent",
      s""", "quoted_status": ${t(100, "top copy")},
         | "retweeted_status": ${t(2, "rt",
        s""", "quoted_status": ${t(100, "nested copy")}""")}"""
        .stripMargin.replace("\n", ""))
    val raw = spark.read.schema(TwitterSchemas.tweet(2)).json(Seq(parent).toDS)
    val row = Normalize.saveTweets(raw)("tweets")
      .filter(col("id") === 100L).collect()
    assert(row.length === 1)
    assert(row(0).getAs[String]("full_text") === "nested copy")
  }

  test("sqlite-compat rendering of tweets (display_text_range, bools)") {
    val compat = SqliteCompat.render(tables("tweets"))
      .filter(col("id") === 1168529001599533000L).collect()(0)
    assert(compat.getAs[String]("display_text_range") === "[0, 239]")
    assert(compat.getAs[Int]("truncated") === 0)
    assert(compat.getAs[Int]("is_quote_status") === 1)
    assert(compat.getAs[Int]("favorited") === 0)
  }

  test("three users with entity-expanded profile urls (:54-183)") {
    val rows = tables("users").orderBy("id").collect()
    assert(rows.length === 3)
    val simonw = rows(0)
    assert(simonw.getAs[Long]("id") === 12497L)
    assert(simonw.getAs[String]("screen_name") === "simonw")
    assert(simonw.getAs[String]("name") === "Simon Willison")
    // t.co url expanded via user.entities.url.urls:
    assert(simonw.getAs[String]("url") === "https://simonwillison.net/")
    assert(simonw.getAs[String]("created_at") === "2006-11-15T13:18:50+00:00")
    assert(simonw.getAs[String]("description") ===
      "Creator of Datasette, co-creator Django. Fellow at @JSKstanford. Usually hanging out with @natbat and @cleopaws. He/Him")
    assert(simonw.getAs[Long]("followers_count") === 17754L)
    assert(simonw.getAs[Boolean]("verified") === true)
    assert(simonw.getAs[Boolean]("protected") === false)
    // dropped columns:
    assert(!tables("users").columns.contains("entities"))
    assert(!tables("users").columns.contains("id_str"))
    assert(!tables("users").columns.contains("status"))

    val bwhitman = rows(1)
    assert(bwhitman.getAs[Long]("id") === 14148390L)
    assert(bwhitman.getAs[String]("url") === "https://notes.variogr.am/about/")
    assert(bwhitman.getAs[String]("created_at") === "2008-03-14T18:19:20+00:00")

    val drvox = rows(2)
    assert(drvox.getAs[Long]("id") === 22737278L)
    // description t.co link expanded via entities.description.urls:
    assert(drvox.getAs[String]("description") ===
      "Seattleite transplanted from Tennessee; now blogging for http://Vox.com about energy politics. Climate hawk, deficit dove. Not a doctor.")
    assert(drvox.getAs[String]("url") === "http://www.vox.com/authors/david-roberts")
  }

  test("four sources with golden hash ids (:317-340)") {
    val rows = tables("sources").orderBy("name").collect()
      .map(r => (r.getAs[String]("id"), r.getAs[String]("name"), r.getAs[String]("url")))
    assert(rows.toSet === Set(
      ("95f3aaaddaa45937ac94765e0ddb68ba2be92d20", "Twitter for iPhone",
        "http://twitter.com/download/iphone"),
      ("942cfc2bf9f290ddbe3d78f1907dc084a00ed23f", "Vox Media",
        "http://www.voxmedia.com"),
      ("1f89d6a41b1505a3071169f8d0d028ba9ad6f952", "Twitter Web App",
        "https://mobile.twitter.com"),
      ("e6528b505bcfd811fdd40ff2d46665dbccba2024", "Twitter for Mac",
        "http://itunes.apple.com/us/app/twitter/id409789998?mt=12")))
  }

  test("one place, compat-rendered to the golden TEXT forms (:343-358)") {
    val native = tables("places").collect()
    assert(native.length === 1)
    val compat = SqliteCompat.render(tables("places")).collect()(0)
    assert(compat.getAs[String]("id") === "01a9a39529b27f36")
    assert(compat.getAs[String]("url") ===
      "https://api.twitter.com/1.1/geo/id/01a9a39529b27f36.json")
    assert(compat.getAs[String]("place_type") === "city")
    assert(compat.getAs[String]("name") === "Manhattan")
    assert(compat.getAs[String]("full_name") === "Manhattan, NY")
    assert(compat.getAs[String]("country_code") === "US")
    assert(compat.getAs[String]("country") === "United States")
    assert(compat.getAs[String]("contained_within") === "[]")
    assert(compat.getAs[String]("bounding_box") ===
      """{"type": "Polygon", "coordinates": [[[-74.026675, 40.683935], [-73.910408, 40.683935], [-73.910408, 40.877483], [-74.026675, 40.877483]]]}""")
    assert(compat.getAs[String]("attributes") === "{}")
  }

  test("one media + m2m link, sizes compat-rendered (:361-380)") {
    val compat = SqliteCompat.render(
      tables("media").drop("source_status_id", "source_status_id_str",
        "source_user_id", "source_user_id_str")).collect()
    assert(compat.length === 1)
    val m = compat(0)
    assert(m.getAs[Long]("id") === 504727051174031360L)
    assert(m.getAs[String]("id_str") === "504727051174031361")
    assert(m.getAs[String]("indices") === "[116, 138]")
    assert(m.getAs[String]("media_url") === "http://pbs.twimg.com/media/BwEmlDHCMAEGwu_.jpg")
    assert(m.getAs[String]("type") === "photo")
    assert(m.getAs[String]("sizes") ===
      """{"thumb": {"w": 150, "h": 150, "resize": "crop"}, "large": {"w": 1024, "h": 768, "resize": "fit"}, "medium": {"w": 1024, "h": 768, "resize": "fit"}, "small": {"w": 680, "h": 510, "resize": "fit"}}""")

    val links = tables("media_tweets").collect()
    assert(links.length === 1)
    assert(links(0).getAs[Long]("media_id") === 504727051174031360L)
    assert(links(0).getAs[Long]("tweets_id") === 1169196446043664400L)
  }

  test("dynamic schema: fully INFERRED input produces the same tables (alter=True analog)") {
    // the reference never declares tweet schemas — sqlite-utils infers
    // and alters. The pipeline is schema-driven, so it must work
    // against spark.read.json's inferred schema too (including columns
    // the explicit seed schema doesn't know about).
    val inferred = spark.read
      .option("multiLine", true)
      .json(resource("tweets.json"))
    val out = Normalize.saveTweets(inferred)
    assert(out("tweets").count() === 5)
    assert(out("users").count() === 3)
    assert(out("sources").count() === 4)
    assert(out("places").count() === 1)
    assert(out("media").count() === 1)
    // inferred path carries the same golden values
    val rt = out("tweets").filter(col("id") === 1169246717864136700L).collect()(0)
    assert(rt.getAs[Long]("retweeted_status") === 1169242008432644000L)
    assert(rt.getAs[String]("source") === "95f3aaaddaa45937ac94765e0ddb68ba2be92d20")
    val simonw = out("users").filter(col("id") === 12497L).collect()(0)
    assert(simonw.getAs[String]("url") === "https://simonwillison.net/")
    // inferred levels type nested fields differently: the row type
    // widens per column exactly as a union of the levels does
    assertUnionParity(inferred)
  }

  test("a fresh bucketed store: first batch lands partitioned, second rewrites only touched buckets") {
    import spark.implicits._
    val store = new graft.store.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-st-bucketed").toString)
    // declare BEFORE first write — the ensure-tables shape: no flat
    // phase, no one-time conversion rewrite ever paid
    store.ensureBucketed("tweets", Seq("id"), 32)
    store.ensureBucketed("users", Seq("id"), 32)

    val raw = spark.read
      .option("multiLine", true)
      .schema(TwitterSchemas.tweet(2))
      .json(resource("tweets.json"))
    val first = Normalize.saveTweets(raw)
    store.upsert("tweets", first("tweets"), Seq("id"))
    store.upsert("users", first("users"), Seq("id"))

    assert(store.bucketLayoutOf("tweets") === Some((32, Seq("id"))))
    assert(store.bucketLayoutOf("users") === Some((32, Seq("id"))))
    assert(store.partitionColumnsOf("tweets") === Seq("pk_bucket"))
    // golden rows unchanged through the bucketed write path
    assert(store.read("tweets").count() === 5L)
    assert(store.read("users").count() === 3L)
    val rt = store.read("tweets")
      .filter(col("id") === 1169246717864136700L).collect()(0)
    assert(rt.getAs[Long]("retweeted_status") === 1169242008432644000L)
    assert(rt.getAs[String]("source") === "95f3aaaddaa45937ac94765e0ddb68ba2be92d20")

    // second batch: one NEW tweet by an EXISTING user — the steady-
    // state sink shape
    val batch2Json =
      s"""{"id": 9999999999, "created_at": "Wed Sep 04 13:51:55 +0000 2019",
         | "full_text": "a later batch",
         | "user": {"id": 12497, "created_at": "Wed Nov 15 13:18:50 +0000 2006",
         |   "name": "Simon Willison", "screen_name": "simonw",
         |   "followers_count": 17754, "friends_count": 3460, "listed_count": 1230}}"""
        .stripMargin.replace("\n", "")
    val raw2 = spark.read.schema(TwitterSchemas.tweet(2)).json(Seq(batch2Json).toDS)
    val second = Normalize.saveTweets(raw2)
    val beforeT = store.dataFiles("tweets").toSet
    val beforeU = store.dataFiles("users").toSet
    store.upsert("tweets", second("tweets"), Seq("id"))
    store.upsert("users", second("users"), Seq("id"))
    val afterT = store.dataFiles("tweets").toSet
    val afterU = store.dataFiles("users").toSet

    def changedBuckets(b: Set[String], a: Set[String]) =
      ((b diff a) ++ (a diff b)).map(p =>
        p.split("/").find(_.startsWith("pk_bucket=")).getOrElse(p))
    assert(changedBuckets(beforeT, afterT).size === 1,
      s"tweets batch rewrote ${changedBuckets(beforeT, afterT)}")
    assert(changedBuckets(beforeU, afterU).size === 1,
      s"users batch rewrote ${changedBuckets(beforeU, afterU)}")

    // counts and goldens still intact after the incremental merge
    assert(store.read("tweets").count() === 6L)
    assert(store.read("users").count() === 3L)
    assert(store.read("tweets").filter(col("id") === 9999999999L)
      .select(col("full_text")).head.getString(0) === "a later batch")
    val rt2 = store.read("tweets")
      .filter(col("id") === 1169246717864136700L).collect()(0)
    assert(rt2.getAs[Long]("retweeted_status") === 1169242008432644000L)
    // ensureBucketed is idempotent on a matching declaration and loud
    // on a conflict
    store.ensureBucketed("tweets", Seq("id"), 32)
    intercept[IllegalArgumentException] {
      store.ensureBucketed("tweets", Seq("id"), 64)
    }
  }

  test("favorited_by variant (utils.py:435-441)") {
    val raw = spark.read
      .option("multiLine", true)
      .schema(TwitterSchemas.tweet(2))
      .json(resource("tweets.json"))
    val withFav = Normalize.saveTweets(raw, favoritedBy = Some(12497L))
    val favs = withFav("favorited_by").collect()
    // only the 3 TOP-LEVEL tweets are favorited — the nested quote and
    // retweet are normalized into `tweets` but were never favorited
    // (reference recursion passes no favorited_by, utils.py:431)
    assert(favs.length === 3)
    assert(favs.map(_.getAs[Long]("user")).toSet === Set(12497L))
    assert(favs.map(_.getAs[Long]("tweet")).toSet ===
      Set(1169246717864136700L, 1169196446043664400L, 1168529001599533000L))
  }

  // ------------------------------------------ one scan, union parity

  /** `lines` as a frame of `schema` over an RDD of `parts` partitions
    * that counts every partition it computes.
    */
  private def counted(lines: Seq[String], parts: Int, schema: StructType) = {
    val computed = spark.sparkContext.longAccumulator
    val rdd = spark.sparkContext.parallelize(lines, parts)
      .mapPartitions { it => computed.add(1); it }
    (spark.read.schema(schema).json(spark.createDataset(rdd)(Encoders.STRING)), computed)
  }

  private lazy val fixtureLines: Seq[String] = spark.read
    .option("multiLine", true).schema(TwitterSchemas.tweet(2))
    .json(resource("tweets.json")).toJSON.collect().toSeq

  test("saveTweets computes every input partition exactly once") {
    val (raw, computed) = counted(fixtureLines, 3, TwitterSchemas.tweet(2))
    val out = Normalize.saveTweets(raw, favoritedBy = Some(12497L))
    out.values.foreach(_.collect())
    assert(computed.value === 3L)
    assert(out("tweets").count() === 5L)
  }

  test("writeBatch computes every input partition exactly once; keepalives alone write nothing") {
    val store = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-st-scan").toString)
    store.ensureGoverned(TweetSink.Tables)
    val (batch, computed) = counted(fixtureLines, 3, TwitterSchemas.streamTweet(2))
    StreamNormalize.writeBatch(store, batch)
    assert(computed.value === 3L)
    assert(store.read("tweets").count() === 5L)

    val epochs = store.log.epochs()
    val (keepalives, _) = counted(Seq("""{"limit": {"track": 5}}""",
      """{"delete": {"status": {"id": 1}}}"""), 2, TwitterSchemas.streamTweet(2))
    StreamNormalize.writeBatch(store, keepalives)
    assert(store.log.epochs() === epochs)
    assert(store.read("tweets").count() === 5L)
  }

  /** save_tweets as a union of per-level frames: each nested level a
    * filtered, flattened copy of the input, projected on its own and
    * unioned by name, media exploded per level.
    */
  private def unionTables(raw: DataFrame): Map[String, DataFrame] = {
    import Normalize.Iid
    val ord = Upsert.OrdCol
    val base = raw.withColumn(Iid, monotonically_increasing_id())
    def nested(df: DataFrame, f: String): Option[DataFrame] =
      df.schema.find(_.name == f).collect { case sf if sf.dataType.isInstanceOf[StructType] =>
        df.filter(col(s"$f.id").isNotNull).select(col(Iid), col(s"$f.*"))
      }
    val l1 = Seq("quoted_status" -> 0, "retweeted_status" -> 3).flatMap { case (f, b) =>
      nested(base, f).map(_ -> b)
    }
    val l2 = l1.flatMap { case (l, b) =>
      Seq("quoted_status" -> b, "retweeted_status" -> (b + 1)).flatMap { case (f, off) =>
        nested(l, f).map(_ -> off)
      }
    }
    val levels = (l2 ++ l1.map { case (l, b) => (l, b + 2) } :+ (base -> 9)).map {
      case (df, off) =>
        val flat = df.withColumn(ord, col(Iid) * 10 + off).drop(Iid)
        flat -> Normalize.Level(col, flat.schema, lit(true), col(ord))
    }
    val statuses = levels.map { case (df, l) => df.select(Normalize.statusCols(l): _*) }
    val media = levels.flatMap { case (df, l) =>
      Normalize.mediaSchema(l).map(ms => df
        .filter(col("extended_entities.media").isNotNull)
        .select(col("*"), explode(col("extended_entities.media")).as("__m"))
        .select(Normalize.mediaCols(l, ms, col("__m")): _*))
    }
    Normalize.tables((statuses ++ media).reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  private def assertUnionParity(raw: DataFrame): Unit = {
    val got = Normalize.saveTweets(raw)
    val want = unionTables(raw)
    assert(got.keySet === want.keySet)
    want.foreach { case (t, w) =>
      assert(got(t).schema.catalogString === w.schema.catalogString, s"$t schema")
      assert(got(t).toJSON.collect().sorted.toSeq === w.toJSON.collect().sorted.toSeq, s"$t rows")
    }
  }

  private def user(id: Long): String =
    s"""{"id": $id, "created_at": "Mon Sep 02 14:19:58 +0000 2019", "name": "U$id",
       | "screen_name": "u$id", "followers_count": $id, "friends_count": 2,
       | "listed_count": 3}""".stripMargin

  private def status(id: Long, text: String, extra: String = ""): String =
    s"""{"id": $id, "created_at": "Wed Sep 04 13:51:55 +0000 2019",
       | "full_text": "$text", "user": ${user(id % 3 + 1)}$extra}""".stripMargin

  private def docs(schema: StructType, json: String*): DataFrame = {
    import spark.implicits._
    spark.read.schema(schema).json(json.map(_.replace("\n", "")).toDS)
  }

  test("union parity: streaming docs with extended_tweet at the nested levels") {
    def streamed(id: Long, extra: String = ""): String =
      s"""{"id": $id, "created_at": "Wed Sep 04 13:51:55 +0000 2019",
         | "text": "short $id", "truncated": true, "user": ${user(id % 3 + 1)},
         | "source": "<a href=\\"http://x.example\\" rel=\\"nofollow\\">X</a>",
         | "extended_tweet": {"full_text": "full $id &amp; https://t.co/$id",
         |   "entities": {"urls": [{"url": "https://t.co/$id",
         |     "expanded_url": "https://example.com/$id"}]}}$extra}""".stripMargin
    val raw = docs(TwitterSchemas.streamTweet(2),
      streamed(1, s""", "retweeted_status": ${streamed(2,
        s""", "quoted_status": ${streamed(3)}, "retweeted_status": ${streamed(4)}""")}"""),
      streamed(5, s""", "quoted_status": ${streamed(6, s""", "quoted_status": ${streamed(7)}""")}"""),
      streamed(8))
    val fixed = StreamNormalize.fixStreaming(StreamNormalize.controlFilter(raw))
    assertUnionParity(fixed)
    val t3 = Normalize.saveTweets(fixed)("tweets").filter(col("id") === 3L).collect()
    assert(t3.map(_.getAs[String]("full_text")).toSeq === Seq("full 3 & https://example.com/3"))
  }

  test("union parity: a null media entity, a doc with no nested statuses, retweet-of-a-quote LWW") {
    val media =
      s""", "extended_entities": {"media": [null, {"id": 50, "id_str": "50",
         | "media_url": "http://m.example/50.jpg", "type": "photo"}]}""".stripMargin
    val raw = docs(TwitterSchemas.tweet(2),
      status(10, "top", media + s""", "quoted_status": ${status(11, "quoted", media)}"""),
      status(20, "alone"),
      status(30, "parent", s""", "quoted_status": ${status(100, "top copy")},
        | "retweeted_status": ${status(31, "rt",
        s""", "quoted_status": ${status(100, "nested copy")}""")}""".stripMargin))
    assertUnionParity(raw)
    val out = Normalize.saveTweets(raw)
    // each level's null entity still gives a media row, as explode does
    assert(out("media_tweets").filter(col("media_id").isNull).count() === 2L)
    assert(out("tweets").filter(col("id") === 100L).select("full_text").head.getString(0)
      === "nested copy")
  }
}
