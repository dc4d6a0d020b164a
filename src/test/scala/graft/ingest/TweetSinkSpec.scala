package graft.ingest

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.schema.TwitterSchemas
import graft.state.Watermarks
import graft.store.TableStore

/** TweetSink stages its table writes concurrently inside one governed
  * transaction. These specs pin what that must not change: a failed
  * write aborts the whole batch only after every sibling write has
  * returned, the commit equals the same upserts written out in order,
  * and the writes run under the caller's Spark job group.
  */
class TweetSinkSpec extends SparkSpec {

  private val Now = "2026-01-01T00:00:00"

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-sink").toString

  private def raw: DataFrame = spark.read.option("multiLine", true)
    .schema(TwitterSchemas.tweet(2)).json(resource("tweets.json"))

  private def governedStore(): TableStore = {
    val store = new TableStore(spark, freshRoot())
    store.ensureGoverned(TweetSink.Tables)
    store
  }

  private def stageDirsLeft(store: TableStore): Seq[String] =
    Option(new java.io.File(s"${store.root}/_graft_epoch/stage").list())
      .toSeq.flatten

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("a failed write aborts the batch only after every sibling write has returned") {
    val store = governedStore()
    val tables = Normalize.saveTweets(raw)
    val broken = tables
      .updated("tweets", tables("tweets").withColumn("full_text",
        coalesce(raise_error(lit("tweets write failed")).cast("string"), col("full_text"))))
      // a sibling still running when the tweets write fails
      .updated("media", tables("media").withColumn("id", TweetSinkSpec.slowId(col("id"))))
    val e = intercept[Exception](TweetSink(store, broken, Some(Now)))
    // no write of the fan-out is still running when the error surfaces
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "TweetSink rethrew while a sibling write was still running")
    assert(causes(e).exists(c => String.valueOf(c.getMessage).contains("tweets write failed")))
    assert(stageDirsLeft(store).isEmpty)
    val reader = new TableStore(spark, store.root)
    TweetSink.Tables.foreach { t =>
      assert(reader.readIfExists(t).forall(_.isEmpty), s"$t has rows of the aborted batch")
    }
    // redelivery lands every table in one epoch
    val before = reader.log.epochs()
    TweetSink(store, tables, Some(Now))
    val after = reader.log.epochs()
    assert(after.size === before.size + 1)
    Seq("tweets" -> 5L, "users" -> 3L, "sources" -> 4L, "media" -> 1L,
      "media_tweets" -> 1L, "count_history" -> 9L).foreach { case (t, n) =>
        assert(reader.read(t).count() === n, t)
        assert(reader.log.tableHistory(t).last._1 === after.last, t)
      }
  }

  test("concurrent staging commits what the same upserts write in order") {
    val page1 = Normalize.saveTweets(raw, favoritedBy = Some(12497L))
    // the second page re-delivers page one's keys with new counts, plus
    // new tweets: every table goes through the touched-file path
    val page2 = Normalize.saveTweets(
      raw.withColumn("favorite_count", col("favorite_count") + 1)
        .unionByName(raw.withColumn("id", col("id") + 1000)),
      favoritedBy = Some(12497L))
    val concurrent = governedStore()
    val ordered = governedStore()
    Seq(concurrent, ordered).foreach(TweetSink(_, page1, Some(Now)))
    val now2 = "2026-01-02T00:00:00"
    TweetSink(concurrent, page2, Some(now2))
    ordered.transact {
      Seq("users", "sources", "places", "media").foreach { t =>
        page2.get(t).foreach(ordered.upsert(t, _, Seq("id")))
      }
      Watermarks.saveUserCounts(ordered, page2("users"), now2)
      ordered.upsert("tweets", page2("tweets"), Seq("id"))
      ordered.upsert("media_tweets", page2("media_tweets"), Seq("media_id", "tweets_id"))
      ordered.upsert("favorited_by", page2("favorited_by"), Seq("user", "tweet"))
    }
    assert(concurrent.log.epochs().size === ordered.log.epochs().size)
    TweetSink.Tables.foreach { t =>
      val (a, b) = (concurrent.read(t), ordered.read(t))
      assert(a.schema === b.schema, t)
      assert(a.collect().map(_.toString).sorted === b.collect().map(_.toString).sorted, t)
      // same ops and file counts per epoch
      assert(concurrent.log.tableHistory(t) === ordered.log.tableHistory(t), t)
    }
    assert(concurrent.read("tweets").count() === 8)
  }

  test("the writes run under the caller's job group, and cancelling it fails the commit cleanly") {
    val sc = spark.sparkContext
    val tables = Normalize.saveTweets(raw)
    val groups = new ConcurrentLinkedQueue[String]()
    val started = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val group = String.valueOf(js.properties.getProperty("spark.jobGroup.id"))
        groups.add(group)
        if (group == "tweet-sink-cancelled") started.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      val store = governedStore()
      sc.setJobGroup("tweet-sink", "ingest one page")
      try TweetSink(store, tables, Some(Now))
      finally sc.clearJobGroup()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(10)
      while (groups.size < 10 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(groups.size >= 10)
      assert(groups.asScala.toSet === Set("tweet-sink"))

      // cancel the group once the first job of a second batch starts
      val cancelled = governedStore()
      groups.clear()
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val writer = new Thread(() => {
        sc.setJobGroup("tweet-sink-cancelled", "ingest one page")
        try TweetSink(cancelled, tables, Some(Now))
        catch { case e: Throwable => failure.set(e) }
      })
      writer.start()
      assert(started.await(60, TimeUnit.SECONDS))
      sc.cancelJobGroup("tweet-sink-cancelled")
      writer.join(120000)
      assert(!writer.isAlive)
      assert(failure.get != null, "the cancelled commit succeeded")
      assert(stageDirsLeft(cancelled).isEmpty)
      val reader = new TableStore(spark, cancelled.root)
      assert(reader.log.epochs().size === 1) // the governance commit only
      TweetSink.Tables.foreach(t => assert(reader.readIfExists(t).forall(_.isEmpty), t))
      TweetSink(cancelled, tables, Some(Now))
      assert(reader.read("tweets").count() === 5)
    } finally sc.removeSparkListener(listener)
  }
}

object TweetSinkSpec {
  val slowId = udf { (id: Long) => Thread.sleep(3000); id }
}
