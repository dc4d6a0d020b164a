package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ingest.Normalize
import graft.store.TableStore

/** Streaming ingest (SURVEY.md §2.7, S11/S12/K8): the reference
  * long-polls `statuses/filter.json` (predicates pushed to the server),
  * drops control/keepalive records, normalizes streaming-format tweets
  * to REST shape, and writes each tweet in its own transaction with an
  * idempotent replace-upsert so reconnect redelivery is safe
  * (`/root/reference/utils.py:603-644`, cli.py:664-668).
  *
  * Spark shape: any `readStream` source (file/socket/kafka in
  * production, MemoryStream in tests) delivering JSON lines →
  * `from_json(streamTweet)` → control filter (the engine-side residue
  * of the server-side predicate pushdown) → S12 normalize →
  * `foreachBatch` multi-table upsert. Exactly-once = checkpointed
  * offsets + idempotent keyed upsert, replacing the reference's
  * since_id/reconnect bookkeeping.
  */
object StreamNormalize {

  /** S11's line filter (`utils.py:622-632`): a record is a tweet only
    * if it has both `id` and `created_at`; everything else is a
    * keepalive / status message and is dropped.
    */
  def controlFilter(df: DataFrame): DataFrame =
    df.filter(col("id").isNotNull && col("created_at").isNotNull)

  /** S12 fix_streaming_tweet (`utils.py:636-644`) as a struct rewrite:
    * hoist every extended_tweet field over its truncated counterpart,
    * fall back full_text ← text, recurse into retweeted_status /
    * quoted_status.
    */
  def fixStreaming(df: DataFrame): DataFrame = {
    val schema = df.schema
    val fixed = hoistCols(schema).foldLeft(df) { case (acc, (name, c)) =>
      acc.withColumn(name, c)
    }
    val recursed = Seq("retweeted_status", "quoted_status").foldLeft(fixed) { (acc, f) =>
      schema.fields.find(_.name == f).map(_.dataType) match {
        case Some(st: StructType) =>
          acc.withColumn(f, fixStruct(col(f), st))
        case _ => acc
      }
    }
    // the reference POPS extended_tweet after hoisting (utils.py:638);
    // the redundant truncated `text` is likewise dropped downstream by
    // tweetFact (deliberate divergence: the reference keeps `text` as
    // an accident of dict dynamism)
    recursed.drop("extended_tweet")
  }

  /** Top-level (name → fixed column) pairs for one tweet level. */
  private def hoistCols(schema: StructType): Seq[(String, Column)] = {
    val names = schema.fieldNames.toSet
    val ext = schema.fields.find(_.name == "extended_tweet").map(_.dataType)
    ext match {
      case Some(extSt: StructType) =>
        val hoisted = extSt.fieldNames.toSeq.filter(names.contains).map { f =>
          if (f == "full_text")
            f -> coalesce(col("extended_tweet.full_text"), col("full_text"), col("text"))
          else
            f -> coalesce(col(s"extended_tweet.`$f`"), col(s"`$f`"))
        }
        val rest =
          if (names.contains("full_text") && !extSt.fieldNames.contains("full_text"))
            Seq("full_text" -> coalesce(col("full_text"), col("text")))
          else Nil
        hoisted ++ rest
      case _ =>
        if (names.contains("full_text") && names.contains("text"))
          Seq("full_text" -> coalesce(col("full_text"), col("text")))
        else Nil
    }
  }

  /** Same rewrite for a nested tweet struct, via withField. */
  private def fixStruct(c: Column, st: StructType): Column = {
    val names = st.fieldNames.toSet
    val ext = st.fields.find(_.name == "extended_tweet").map(_.dataType)
    val afterHoist = ext match {
      case Some(extSt: StructType) =>
        val base = extSt.fieldNames.toSeq.filter(names.contains).foldLeft(c) { (acc, f) =>
          if (f == "full_text")
            acc.withField("full_text", coalesce(
              c.getField("extended_tweet").getField("full_text"),
              c.getField("full_text"),
              if (names.contains("text")) c.getField("text") else lit(null)))
          else
            acc.withField(f, coalesce(
              c.getField("extended_tweet").getField(f), c.getField(f)))
        }
        base
      case _ =>
        if (names.contains("full_text") && names.contains("text"))
          c.withField("full_text", coalesce(c.getField("full_text"), c.getField("text")))
        else c
    }
    val recursed = Seq("retweeted_status", "quoted_status").foldLeft(afterHoist) { (acc, f) =>
      st.fields.find(_.name == f).map(_.dataType) match {
        case Some(sub: StructType) => acc.withField(f, fixStruct(c.getField(f), sub))
        case _ => acc
      }
    }
    val popped =
      if (st.fieldNames.contains("extended_tweet"))
        recursed.dropFields("extended_tweet")
      else recursed
    // a null nested tweet must stay null, not become a struct of nulls
    when(c.isNull, lit(null)).otherwise(popped)
  }

  /** K8: one microbatch → full save_tweets normalization → idempotent
    * multi-table upsert through [[graft.ingest.TweetSink]] (one commit
    * on a governed store). The batch is scanned once, by
    * the normalize pin; a batch of keepalives only pins no rows and
    * writes nothing.
    */
  def writeBatch(store: TableStore, batch: DataFrame): Unit = {
    val pinned = Normalize.pin(fixStreaming(controlFilter(batch)))
    if (pinned.isEmpty) return
    // one atomic multi-table commit per micro-batch when the store
    // governs the tweet tables (the reference's per-tweet transaction,
    // cli.py:664-668); a pass-through otherwise
    graft.ingest.TweetSink(store, Normalize.tables(pinned),
      Some(graft.sources.TimelineIngest.utcNowIso()))
  }

  /** Wire a parsed tweet stream into the sink. `jsonLines` is a
    * streaming DataFrame with one string column of raw JSON.
    */
  def start(
      jsonLines: DataFrame,
      store: TableStore,
      checkpoint: String): StreamingQuery = {
    import graft.schema.TwitterSchemas
    val parsed = jsonLines
      .select(from_json(col(jsonLines.columns.head),
        TwitterSchemas.streamTweet(2)).as("t"))
      .select(col("t.*"))
    parsed.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) => writeBatch(store, batch) }
      .start()
  }
}
