package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.schema.TwitterSchemas
import graft.sources.{Endpoints, TimelineIngest}
import graft.state.Watermarks
import graft.store.{Fts, TableStore}
import graft.streaming.{EpochStream, StreamNormalize}

import Main.{M, Outcome, StoreDelta, median}

/** The two workloads. Both start from a fresh, empty store with the
  * tweet tables governed (`TweetSink.Tables`), feed it only generated
  * documents, and measure a closed loop: the next page or batch is
  * handed over only when the previous one has finished. The loop runs
  * at least `Min*` operations and keeps going while `--seconds` have not
  * passed.
  */
object Workloads {
  val Names: Seq[String] = Seq("timeline_sync", "stream_bulk")

  val PageSize: Int = Endpoints.UserTimeline.pageSize
  val MinPages = 1
  val MaxPages = 4

  val BatchDocs = 1000
  val MinBatches = 1
  val MaxBatches = 2
  val Mirror = "tweets_mirror"
  val Consumer = "perfbench-fts"
  val SinceKey = "perfbench"

  /** Fixed FTS probe set run on the live mirror after every batch:
    * (kind, MATCH query). Words span common to rare (TweetGen's skew).
    */
  val Probes: Seq[(String, String)] = Seq(
    "search" -> "qx001", "search" -> "qx000 qx002", "ranked" -> "qx170",
    "sql" -> "qx040")

  /** `TimelineIngest.run` over a synthetic user timeline: 200-tweet
    * pages served newest first, honouring `max_id`/`since_id`, no sleep
    * between pages. A page's commit latency is the interval between
    * successive calls of the injected fetch: parse, `saveTweets`,
    * `TweetSink`, then the since_id watermark. Throughput divides the
    * tweets served by the wall time of the whole `run` call, which also
    * covers its start (state tables) and the final empty fetch.
    */
  def timelineSync(c: Ctx): Outcome = {
    val templates = TweetGen.templates(c.o.checkout)
    val (store, docs) = c.setup {
      (c.freshStore("timeline"), new TweetGen(c.o.seed, templates, descending = true,
        owner = Some(TweetGen.Owner)).take(PageSize * MaxPages))
    }
    val served = new Expect
    val stamps = ArrayBuffer.empty[Long]
    val commits = ArrayBuffer.empty[StoreDelta]
    val snap = new Snapshots(c, store)
    val budget = c.o.seconds * 1000000000L
    var next = 0
    val fetch: Map[String, String] => Seq[String] = { args =>
      if (stamps.nonEmpty) snap.delta().foreach(commits += _)
      val now = System.nanoTime()
      stamps += now
      val pages = stamps.size - 1
      if (next >= docs.size || (pages >= MinPages && now - stamps.head >= budget)) Nil
      else {
        val maxId = args.get("max_id").map(_.toLong).getOrElse(Long.MaxValue)
        val sinceId = args.get("since_id").map(_.toLong).getOrElse(Long.MinValue)
        val count = args.get("count").map(_.toInt).getOrElse(PageSize)
        while (next < docs.size && docs(next).id > maxId) next += 1
        val page = docs.slice(next, next + count).takeWhile(_.id > sinceId)
        next += page.size
        page.foreach(served.add)
        page.map(_.json)
      }
    }
    val r0 = System.nanoTime()
    val total = c.span("sources", split = true) {
      TimelineIngest.run(c.spark, store, fetch, sinceType = "user",
        sinceKey = SinceKey, sleep = _ => (), pacing = Endpoints.UserTimeline)
    }
    val runS = (System.nanoTime() - r0) / 1e9
    val intervals = stamps.toSeq.zip(stamps.toSeq.drop(1)).map { case (a, b) => (b - a) / 1e9 }
    c.attempted += intervals.size

    c.check(s"run returned $total, served ${served.docs}", total == served.docs)
    checkTables(c, store, served)
    val since = Watermarks.sinceId(store, "user", SinceKey)
    c.check(s"since_id $since, max served ${served.maxTopId}",
      since.contains(served.maxTopId))

    Outcome(
      e2e = Seq(
        "ingest_tweets_per_s" -> M(served.docs / runS, "tweets/s"),
        "commit_p50_s" -> M(median(intervals), "s"),
        "space_amp" -> M(Disk.bytes(store.root).toDouble / served.jsonBytes, "ratio")),
      detail = Nil,
      samples = Seq("pages" -> intervals.size),
      ops = intervals.size,
      commits = commits.toSeq)
  }

  /** Micro-batches of generated documents through
    * `StreamNormalize.writeBatch`, each followed by the `follow-fts`
    * path (drain the row-level change feed of `tweets` into an
    * FTS-indexed mirror with `EpochStream.processAvailable` +
    * `Fts.applyChanges`), the fixed probe set on the live mirror, and
    * one SQL `UPDATE` ([[write]]). The mirror goes through the change
    * feed because the streaming sink does not maintain an FTS index
    * itself.
    */
  def streamBulk(c: Ctx): Outcome = {
    import c.spark.implicits._
    val templates = TweetGen.templates(c.o.checkout)
    val (store, batches) = c.setup {
      val gen = new TweetGen(c.o.seed, templates, descending = false, owner = None)
      (c.freshStore("stream"), (0 until MaxBatches).map(_ => gen.take(BatchDocs)))
    }
    // the SQL probe and the SQL write resolve against this store
    c.spark.conf.set("spark.sql.catalog.graft", classOf[graft.sql.GraftCatalog].getName)
    c.spark.conf.set("spark.sql.catalog.graft.root", store.root)

    val expect = new Expect
    val commitS, searchableS, cycleS, probeMs, writeMs = ArrayBuffer.empty[Double]
    val commits = ArrayBuffer.empty[StoreDelta]
    val snap = new Snapshots(c, store)
    val budget = c.o.seconds * 1000000000L
    val t0 = System.nanoTime()
    var b = 0
    while (b < MaxBatches && (b < MinBatches || System.nanoTime() - t0 < budget)) {
      val docs = batches(b)
      val h0 = System.nanoTime()
      c.span("ingest.normalize", split = true) {
        val df = c.spark.read.schema(TwitterSchemas.streamTweet(2))
          .json(docs.map(_.json).toDS())
        StreamNormalize.writeBatch(store, df)
      }
      val commit = System.nanoTime() - h0
      snap.delta().foreach(commits += _)
      val f0 = System.nanoTime()
      c.span("streaming.follow") {
        EpochStream.processAvailable(store, "tweets", Consumer, Some(Seq("id"))) { ch =>
          Fts.applyChanges(store, Mirror, ch, "id", Seq("full_text"))
        }
      }
      val follow = System.nanoTime() - f0
      docs.foreach(expect.add)
      val p0 = System.nanoTime()
      Probes.foreach { case (kind, q) =>
        val q0 = System.nanoTime()
        val n = kind match {
          case "search" => c.span("store.fts_search") {
            Fts.search(c.spark, store, Mirror, q).count() }
          case "ranked" => c.span("store.fts_search") {
            Fts.searchRanked(c.spark, store, Mirror, q).count() }
          case "sql" => c.span("queries.read") {
            c.spark.sql(s"SELECT count(*) FROM graft_fts('$Mirror', '$q')").head().getLong(0) }
        }
        probeMs += (System.nanoTime() - q0) / 1e6
        val want = expect.hits(q.split(' ').toSeq)
        c.check(s"batch $b $kind '$q': $n hits, expected $want", n == want)
      }
      val probe = System.nanoTime() - p0
      writeMs += write(c, store, b, docs.head.levels.head.user, expect)
      commitS += commit / 1e9
      searchableS += (commit + follow) / 1e9
      cycleS += (commit + follow + probe) / 1e9
      c.attempted += 1
      b += 1
    }

    checkTables(c, store, expect)
    val mirror = store.read(Mirror).count()
    c.check(s"mirror holds $mirror docs, expected ${expect.tweets}", mirror == expect.tweets)

    Outcome(
      e2e = Seq(
        "ingest_tweets_per_s" -> M(expect.docs / cycleS.sum, "tweets/s"),
        "commit_p50_s" -> M(median(commitS.toSeq), "s"),
        "space_amp" -> M(Disk.bytes(store.root).toDouble / expect.jsonBytes, "ratio")),
      detail = Seq(
        "searchable_p50_s" -> M(median(searchableS.toSeq), "s"),
        "search_p50_ms" -> M(median(probeMs.toSeq), "ms"),
        "write_p50_ms" -> M(median(writeMs.toSeq), "ms")),
      samples = Seq("batches" -> b, "probes" -> probeMs.size, "writes" -> writeMs.size),
      ops = b,
      commits = commits.toSeq)
  }

  /** One SQL write through the `graft` catalog (`GraftDml`), after
    * batch `b`: mark every tweet of `user` with a retweet count of
    * `-(b + 1)`, then check the marked rows against the generator.
    * Returns the write's latency in ms.
    */
  private def write(c: Ctx, store: TableStore, b: Int, user: Long, e: Expect): Double = {
    val mark = -(b + 1)
    val w0 = System.nanoTime()
    c.span("queries.write") {
      c.spark.sql(s"UPDATE graft.tweets SET retweet_count = $mark WHERE `user` = $user")
    }
    val ms = (System.nanoTime() - w0) / 1e6
    val marked = store.read("tweets").where(s"retweet_count = $mark").count()
    val want = e.tweetsBy(user)
    c.check(s"batch $b update of user $user marked $marked tweets, expected $want",
      marked == want)
    ms
  }

  /** Row counts of the normalized tables against the generator. */
  private def checkTables(c: Ctx, store: TableStore, e: Expect): Unit = {
    val tweets = store.read("tweets").count()
    c.check(s"tweets holds $tweets rows, expected ${e.tweets}", tweets == e.tweets)
    val users = store.read("users").count()
    c.check(s"users holds $users rows, expected ${e.distinctUsers}", users == e.distinctUsers)
  }
}

/** Per-commit store deltas, taken only on traced runs: files and bytes
  * that are new or changed since the previous snapshot, and epochs
  * committed.
  */
final class Snapshots(c: Ctx, store: TableStore) {
  private var files = if (c.trace.isDefined) Disk.files(store.root) else Map.empty[String, Long]
  private var epoch = store.currentEpochIfAny.getOrElse(0L)

  def delta(): Option[StoreDelta] =
    if (c.trace.isEmpty) None
    else {
      val now = Disk.files(store.root)
      val fresh = now.filter { case (p, n) => !files.get(p).contains(n) }
      val e = store.currentEpochIfAny.getOrElse(0L)
      val d = StoreDelta(fresh.size.toLong, fresh.valuesIterator.sum, e - epoch)
      files = now
      epoch = e
      Some(d)
    }
}
