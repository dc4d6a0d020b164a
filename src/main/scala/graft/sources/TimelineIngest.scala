package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, from_json}

import graft.ingest.Normalize
import graft.schema.TwitterSchemas
import graft.state.Watermarks
import graft.store.TableStore

/** S2/S3 + K1/K5 assembled: the user-timeline / favorites /
  * home-timeline ingest lifecycle (SURVEY.md §3.1) with the fetch
  * boundary injected. Per page: parse on the cluster → save_tweets
  * normalization → multi-table upsert → advance the since_id
  * watermark, so an interrupted scan resumes exactly like the
  * reference (`/root/reference/utils.py:209-222`).
  *
  * `linkTable` implements K5 (`cli.py:398-431`): timeline_tweets /
  * mentions_tweets provenance rows (user, tweet), replace-upserted.
  */
object TimelineIngest {

  def run(
      spark: SparkSession,
      store: TableStore,
      fetch: Map[String, String] => Seq[String],
      sinceType: String,
      sinceKey: String,
      useSince: Boolean = false,
      sinceId: Option[Long] = None,
      stopAfter: Option[Int] = None,
      linkTable: Option[(String, Long)] = None,
      favoritedBy: Option[Long] = None,
      sleep: Long => Unit = _ => (),
      now: () => String = TimelineIngest.utcNowIso,
      pacing: Endpoints.Pacing = Endpoints.UserTimeline): Long = {
    import spark.implicits._
    require(!(useSince && sinceId.isDefined),
      "Use either since or sinceId, not both")
    Watermarks.ensureTypeTables(spark, store)
    val effectiveSince =
      if (useSince) Watermarks.sinceId(store, sinceType, sinceKey) else sinceId

    var total = 0L
    val extractId: String => Long = doc => {
      // driver-side peek, no full parse: "id": <digits>
      val m = """"id"\s*:\s*(\d+)""".r.findFirstMatchIn(doc)
      m.map(_.group(1).toLong).getOrElse(
        throw new IllegalArgumentException("tweet without id"))
    }

    val pages = Paginate.timeline(fetch, extractId,
      count = pacing.pageSize, sinceId = effectiveSince,
      stopAfter = stopAfter, sleep = sleep,
      sleepMillis = pacing.sleepMillis)
    // API-imposed total cap (home timeline: 800, cli.py:395)
    pacing.hardCap.fold(pages)(Paginate.capTotal(pages, _))
      .foreach { page =>
        // from_json over the one-column page: Catalyst plans the parse
        // and compiles it once per plan (a spark.read.json relation is
        // opaque, and every task of every scan over it generates a
        // fresh projection of the whole nested schema)
        val raw = page.toDS
          .select(from_json(col("value"), TwitterSchemas.tweet(2)).as("t"))
          .select("t.*")
        val tables = Normalize.saveTweets(raw, favoritedBy)
        // the table fan-out incl. the A2 count CDC (utils.py:433
        // save_user_counts inside save_tweets), atomic per page when
        // the store governs the tweet tables
        graft.ingest.TweetSink(store, tables, Some(now()))
        // provenance links + the since_id watermark use the PAGE's
        // top-level tweets only — nested quoted/retweeted statuses are
        // normalized into `tweets` but never appeared in the timeline
        // (cli.py:417-422 links only `tweet in chunk`); their ids are
        // the ones the driver already read for max_id paging
        val pageIds = page.map(extractId).distinct
        linkTable.foreach { case (table, userId) =>
          store.upsert(table, pageIds.map((userId, _)).toDF("user", "tweet"),
            Seq("user", "tweet"))
        }
        // watermark AFTER the page is durably sunk (resume-safe)
        Watermarks.recordBatchMax(store, sinceType, sinceKey, pageIds)
        total += page.size
      }
    total
  }

  def utcNowIso(): String =
    java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern(
        "yyyy-MM-dd'T'HH:mm:ss'+00:00'"))
}
