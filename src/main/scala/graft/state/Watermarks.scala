package graft.state

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.TableStore

/** Stateful/incremental operators (SURVEY.md §2.4):
  *
  *  - A1 since_id high-watermark: per-(type, key) monotone max tweet id
  *    persisted so interrupted scans resume (`since_ids` table,
  *    `/root/reference/utils.py:154-225`, 371-387).
  *  - A2 count_history change-data-capture: for followers/friends/
  *    listed counts, append a row only when the value CHANGED vs the
  *    latest stored row — an irregular compressed time series
  *    (`utils.py:676-701`, 389-408).
  *
  * Both are tiny state tables updated with the same keyed-upsert
  * machinery as the data tables; in Structured Streaming the same
  * roles are played by the checkpoint (offsets) and
  * flatMapGroupsWithState, but the batch forms below are what the
  * reference's resumable CLI semantics actually need.
  */
object Watermarks {

  /** Enum seeds (`utils.py:19-33`), persisted like ensure_tables does. */
  val SinceIdTypes: Map[String, Int] =
    Map("user" -> 1, "home" -> 2, "mentions" -> 3, "search" -> 4)
  val CountHistoryTypes: Map[String, Int] =
    Map("followers" -> 1, "friends" -> 2, "listed" -> 3)

  /** Seed each enum table once, as one file (a local Seq would split
    * into one part file per row, up to the session parallelism).
    */
  def ensureTypeTables(spark: SparkSession, store: TableStore): Unit = {
    import spark.implicits._
    Seq("since_id_types" -> SinceIdTypes, "count_history_types" -> CountHistoryTypes)
      .foreach { case (table, seed) =>
        if (!store.exists(table))
          store.overwrite(table,
            seed.toSeq.map(t => (t._2, t._1)).toDF("id", "name").coalesce(1))
      }
  }

  // ------------------------------------------------------------- A1

  /** Merge new max ids into since_ids, monotonically: the stored value
    * only ever grows (utils.py:209-222 takes max(last, page_max)).
    * `maxima` columns: (type, key, since_id).
    */
  def recordSinceIds(store: TableStore, maxima: DataFrame): Unit = {
    val merged = store.readIfExists("since_ids") match {
      case Some(ex) => ex.unionByName(maxima, allowMissingColumns = true)
      case None => maxima
    }
    store.overwrite("since_ids", merged
      .groupBy(col("type"), col("key"))
      .agg(max(col("since_id")).as("since_id")))
  }

  /** Record the max of one (type, key) scan's ids — ids the driver
    * already holds (a timeline page's, read for max_id paging), so no
    * job scans the page for them. No ids, no write.
    */
  def recordBatchMax(
      store: TableStore, typeName: String, key: String, ids: Seq[Long]): Unit =
    if (ids.nonEmpty) {
      import store.spark.implicits._
      recordSinceIds(store,
        Seq((SinceIdTypes(typeName), key, ids.max)).toDF("type", "key", "since_id"))
    }

  /** --since read-back (utils.py:160-173). */
  def sinceId(store: TableStore, typeName: String, key: String): Option[Long] =
    store.readIfExists("since_ids").flatMap { df =>
      df.filter(col("type") === SinceIdTypes(typeName) && col("key") === key)
        .select("since_id").collect().headOption.map(_.getLong(0))
    }

  // ------------------------------------------------------------- A2

  /** save_user_counts as a batch CDC: `users` needs (id,
    * followers_count, friends_count, listed_count). For each (type,
    * user), append (type, user, datetime=now, count) iff the count
    * differs from the latest stored row (null-safe: first sighting
    * always writes). Plan shape: unpivot → the batch's (type, user)
    * histories (a semi-join) → top-1-per-group on them (window on the
    * pk prefix) → null-safe anti condition → append; one shuffle on
    * (type, user). The ranking reads only the batch's users' history,
    * so its cost grows with the batch, not the whole history.
    */
  def saveUserCounts(store: TableStore, users: DataFrame, now: String): Unit = {
    // nothing to record if the user docs carry no count columns
    if (!Set("followers_count", "friends_count", "listed_count")
        .subsetOf(users.columns.toSet)) return
    val ord = graft.store.Upsert.OrdCol
    val withOrd =
      if (users.columns.contains(ord)) users else users.withColumn(ord, lit(0L))
    val current = withOrd.selectExpr(
      "id as user", ord,
      "stack(3, 1, followers_count, 2, friends_count, 3, listed_count) as (type, count)")
      .filter(col("user").isNotNull)
      // LWW within the batch if the same user appears repeatedly
      .groupBy(col("type"), col("user"))
      .agg(max_by(col("count"), col(ord)).as("count"))

    val latest = store.readIfExists("count_history") match {
      case Some(h) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("type"), col("user"))
          .orderBy(col("datetime").desc)
        h.join(current.select("type", "user"), Seq("type", "user"), "left_semi")
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("type"), col("user"), col("count").as("prev_count"))
      case None => current.sparkSession.emptyDataFrame
        .withColumn("type", lit(null).cast("int"))
        .withColumn("user", lit(null).cast("long"))
        .withColumn("prev_count", lit(null).cast("long"))
    }

    val changed = current
      .join(latest, Seq("type", "user"), "left")
      .filter(!(col("count") <=> col("prev_count")))
      .select(col("type"), col("user"), lit(now).as("datetime"), col("count"))

    store.upsert("count_history", changed, Seq("type", "user", "datetime"))
  }
}
