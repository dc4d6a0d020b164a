package graft

import org.apache.spark.sql.SparkSession

import graft.ingest.Normalize
import graft.schema.TwitterSchemas
import graft.store.{SqliteCompat, TableStore}

/** End-to-end ingest driver (the save_tweets pipeline through the
  * public API): JSON tweet docs → normalized tables in a TableStore.
  * Usage: tools/run_main.sh graft.IngestDemo <tweets.json> <storeDir>
  * Run twice against the same store to observe idempotent upserts.
  */
object IngestDemo {
  def main(args: Array[String]): Unit = {
    val Array(input, storeDir) = args
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val raw = spark.read
      .option("multiLine", true)
      .schema(TwitterSchemas.tweet(2))
      .json(input)
    val tables = Normalize.saveTweets(raw)
    val store = new TableStore(spark, storeDir)
    // atomic when the store governs the tweet tables (FK-safe order
    // when it does not)
    graft.ingest.TweetSink(store, tables, now = None)

    store.tableNames.foreach { t =>
      println(s"[ingest] $t: ${store.read(t).count()} rows")
    }
    val tw = SqliteCompat.render(store.read("tweets"))
    tw.select("id", "user", "created_at", "source", "retweeted_status", "quoted_status")
      .orderBy("id").show(10, truncate = false)
    spark.stop()
  }
}
