package graft.ingest

import org.apache.spark.sql.DataFrame

import graft.store.TableStore

/** The one place save_tweets' normalized tables land in the store —
  * shared by the batch CLI, the archive/timeline ingests, and the K8
  * streaming sink.
  *
  * The reference applies all of save_tweets' table writes inside ONE
  * SQLite transaction per call (`/root/reference/cli.py:664-668`
  * `with db.conn:`; the writes span tweets/users/places/sources/
  * media/media_tweets plus the count-history CDC, `utils.py:411-446`),
  * so a concurrent reader never sees a tweet row whose user or source
  * dimension row hasn't landed. This helper restores that guarantee:
  * the whole fan-out runs in [[TableStore.transact]], which stages
  * every governed table's write and flips one commit pointer at the
  * end — all-or-nothing for readers, exactly the reference's
  * per-batch atomicity. No write reads another's output, so on a
  * governed store they stage concurrently
  * ([[TableStore.stageConcurrently]]); visibility still changes at the
  * one flip. On a store with no governed tables the transact is a
  * pass-through, the writes apply one by one in FK-safe order, and
  * behavior is byte-identical to the historical per-table swaps
  * (existing specs unchanged); opt in with
  * `store.ensureGoverned(TweetSink.Tables)`.
  */
object TweetSink {

  /** Every table a save_tweets application can touch — the governance
    * set for an atomic ingest (count_history rides along because the
    * reference's save_user_counts runs inside the same transaction).
    */
  val Tables: Seq[String] = Seq(
    "tweets", "users", "sources", "places", "media", "media_tweets",
    "favorited_by", "count_history")

  /** Apply a [[Normalize.saveTweets]] result map atomically when the
    * store governs the tables, staging the writes concurrently; on an
    * un-governed store, in FK-safe order (dimensions → CDC → facts →
    * links). `now` feeds the A2 count-history CDC; pass None to skip it
    * (the archive path, which carries no live counts).
    */
  def apply(
      store: TableStore,
      tables: Map[String, DataFrame],
      now: Option[String]): Unit = {
    def upsert(t: String, pk: String*): Option[(String, () => Unit)] =
      tables.get(t).map(df => t -> (() => store.upsert(t, df, pk)))
    val counts = for (ts <- now; users <- tables.get("users")) yield
      "count_history" -> (() => graft.state.Watermarks.saveUserCounts(store, users, ts))
    store.transact {
      store.stageConcurrently(Seq(
        upsert("users", "id"), upsert("sources", "id"), upsert("places", "id"),
        upsert("media", "id"), counts, upsert("tweets", "id"),
        upsert("media_tweets", "media_id", "tweets_id"),
        upsert("favorited_by", "user", "tweet")).flatten)
    }
  }
}
