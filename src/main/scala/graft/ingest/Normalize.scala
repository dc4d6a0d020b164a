package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.store.{HashId, Iteration, Upsert}

/** The save_tweets normalization DAG (SURVEY.md §2.5 K1/K2,
  * `/root/reference/utils.py:411-469`): one DataFrame of nested tweet
  * documents → normalized fact / dimension / link DataFrames:
  *
  *   tweets (fact, self-referencing quoted/retweeted ids),
  *   users, sources (sha1 hash id), places, media (dims),
  *   media_tweets, favorited_by (links).
  *
  * The reference recurses into quoted_status / retweeted_status and
  * saves nested tweets first (utils.py:424-431). The API nests at most
  * two levels (retweet of a quote), so the recursion unrolls into up
  * to seven levels, each an accessor on the input frame. One
  * projection and one generator over a single scan of the input emit
  * every level's status and media rows — no driver-side loops, no
  * per-level branch re-reading the input; the flatten is one
  * declarative plan (SURVEY.md §7.3), run once and pinned ([[pin]]),
  * and every table is derived from the pin ([[tables]]).
  *
  * Everything here is schema-driven: each transform inspects the
  * incoming schema and handles absent optional fields, mirroring the
  * reference's dict-based dynamism (`alter=True`) without giving up
  * Catalyst optimization.
  */
object Normalize {

  import Transforms.{htmlUnescape, isoFormat, parseTwitterTime}

  private val Ord = Upsert.OrdCol

  // ---------------------------------------------------------------- util

  private def fieldType(schema: StructType, name: String): Option[DataType] =
    schema.fields.find(_.name == name).map(_.dataType)

  private def structField(schema: StructType, name: String): Option[StructType] =
    fieldType(schema, name) collect { case st: StructType => st }

  // ------------------------------------------------- entity expansion T3

  /** Column form of expand_entities (`utils.py:275-281`): for every
    * array field of `entities` whose element struct has a `url`, fold
    * string-replace(url → expanded_url or url) over the text. Null/
    * absent arrays contribute nothing; a null url leaves the text
    * untouched (the reference would never see one).
    */
  private def expandEntities(text: Column, ent: Column, entSchema: StructType): Column = {
    val urlArrays: Seq[Column] = entSchema.fields.collect {
      case StructField(fname, ArrayType(elem: StructType, _), _, _)
          if elem.fieldNames.contains("url") =>
        val arr = ent.getField(fname)
        val hasExpanded = elem.fieldNames.contains("expanded_url")
        val pairs = transform(arr, e => struct(
          e.getField("url").as("u"),
          (if (hasExpanded) e.getField("expanded_url") else e.getField("url")).as("x")))
        coalesce(pairs, array().cast(ArrayType(StructType(Seq(
          StructField("u", StringType), StructField("x", StringType))))))
    }.toSeq
    if (urlArrays.isEmpty) text
    else {
      val all = if (urlArrays.size == 1) urlArrays.head else concat(urlArrays: _*)
      aggregate(all, text, (acc, e) => {
        val repl = when(length(e.getField("x")) > 0, e.getField("x"))
          .otherwise(e.getField("u"))
        when(e.getField("u").isNotNull && length(e.getField("u")) > 0,
          replace(acc, e.getField("u"), repl)).otherwise(acc)
      })
    }
  }

  // -------------------------------------------------------- T4 sources

  /** extract_and_save_source (`utils.py:668-673`): parse the anchor,
    * hash-id the {name, url} record; empty/null source → null key.
    */
  def sourceHashId(source: Column): Column =
    when(source.isNull || length(source) === 0, lit(null).cast(StringType))
      .otherwise(HashId.hashId(
        "name" -> Transforms.sourceName(source),
        "url" -> Transforms.sourceUrl(source)))

  // ----------------------------------------------------- level flatten

  /** Row id of an input tweet: every level of one tweet reads it. */
  private[ingest] val Iid = "__iid"

  /** One tweet level of a batch, described in place on the base frame:
    * `at` reads a field of the level's status, `schema` is that status's
    * struct, `present` holds on the rows where the level exists (its
    * parent's presence and a non-null `id`), and `ord` is the level's
    * `__ord` — the reference's insertion sequence.
    */
  private[ingest] final case class Level(
      at: String => Column, schema: StructType, present: Column, ord: Column)

  /** Unroll the recursive quoted/retweeted nesting into the levels of
    * `base` (which carries [[Iid]]): nested tweets precede their
    * parent, input order preserved (utils.py:424-431: per input tweet,
    * quoted then retweeted then parent).
    */
  private def levels(base: DataFrame): Seq[Level] = {
    def ord(off: Int): Column = col(Iid) * 10 + off
    val top = Level(col, StructType(base.schema.filterNot(_.name == Iid)), lit(true), ord(9))
    def nested(parent: Level, f: String, off: Int): Option[Level] =
      structField(parent.schema, f).map { st =>
        val at = (n: String) => parent.at(f).getField(n)
        Level(at, st, parent.present && at("id").isNotNull, ord(off))
      }
    // reference insertion sequence per input tweet (utils.py:424-431,
    // recursive save_tweets([quoted, retweeted])): quoted's children,
    // QUOTED ITSELF, retweeted's children, retweeted, parent — i.e.
    // q.q=0, q.r=1, q=2, r.q=3, r.r=4, r=5, parent=9. The quoted
    // subtree completes (2) BEFORE retweeted's children (3,4) start,
    // so a tweet id present in both subtrees resolves LWW exactly
    // like the reference's last sequential insert — including the
    // retweet-of-a-quote shape where the same id is both the parent's
    // quoted_status and retweeted_status.quoted_status.
    val l1 = Seq("quoted_status" -> 0, "retweeted_status" -> 3).flatMap { case (f, b) =>
      nested(top, f, b + 2).map(_ -> b)
    }
    val l2 = l1.flatMap { case (l, b) =>
      Seq("quoted_status" -> b, "retweeted_status" -> (b + 1)).flatMap {
        case (f, off) => nested(l, f, off)
      }
    }
    l2 ++ l1.map(_._1) :+ top
  }

  // ------------------------------------------------------- T1 tweets

  /** transform_tweet (`utils.py:299-310`) + the id-substitutions of
    * save_tweets (utils.py:415-429): entity-expand + unescape
    * full_text, ISO created_at, drop *_str / quoted_status_id /
    * quoted_status_permalink, replace nested user/place/source/
    * quoted/retweeted with their keys. Named output columns of one
    * level's status.
    */
  private def tweetFact(l: Level): Seq[(String, Column)] = {
    val entSchema = structField(l.schema, "entities")
    // With INFERRED schemas (the reference's alter=True world), an
    // always-null nested field (place, quoted_status, …) infers as
    // StringType — extract the surrogate key only when it is actually
    // a struct, otherwise keep the (null) column as-is.
    def keyOf(name: String): Column =
      if (structField(l.schema, name).isDefined) l.at(name).getField("id") else l.at(name)
    l.schema.fields.toSeq.flatMap { f =>
      val c: Option[Column] = f.name match {
        case Ord => None // the level's order rides beside the fact
        case "created_at" => Some(isoFormat(parseTwitterTime(l.at("created_at"))))
        case "full_text" =>
          val expanded = entSchema
            .map(es => expandEntities(l.at("full_text"), l.at("entities"), es))
            .getOrElse(l.at("full_text"))
          Some(htmlUnescape(expanded))
        case "user" | "place" | "quoted_status" | "retweeted_status" => Some(keyOf(f.name))
        case "source" => Some(sourceHashId(l.at("source")))
        case "entities" | "extended_entities" | "quoted_status_id" |
            "quoted_status_permalink" | "text" => None
        case n if n.endsWith("_str") => None
        case n => Some(l.at(n))
      }
      c.map(f.name -> _)
    }
  }

  // -------------------------------------------------------- T2 users

  /** transform_user (`utils.py:284-296`): expand entities inside
    * description and url (only when non-empty, Python truthiness),
    * ISO created_at, drop entities / status / *_str. Named output
    * columns of a user struct of `schema` whose fields `at` reads.
    */
  private def userCols(schema: StructType, at: String => Column): Seq[(String, Column)] = {
    val entSchema = structField(schema, "entities")
    def expandVia(textCol: String, entKey: String): Column = {
      val base = at(textCol)
      entSchema.flatMap(structField(_, entKey)) match {
        case Some(sub) =>
          when(base.isNotNull && length(base) > 0,
            expandEntities(base, at("entities").getField(entKey), sub))
            .otherwise(base)
        case None => base
      }
    }
    schema.fields.toSeq.flatMap { f =>
      val c: Option[Column] = f.name match {
        case "created_at" => Some(isoFormat(parseTwitterTime(at("created_at"))))
        case "description" => Some(expandVia("description", "description"))
        case "url" => Some(expandVia("url", "url"))
        case "entities" | "status" => None
        case n if n.endsWith("_str") => None
        case n => Some(at(n))
      }
      c.map(f.name -> _)
    }
  }

  // ---------------------------------------------------------- the DAG

  // column prefixes of the one normalized frame saveTweets pins: each
  // table's columns ride under its own prefix, so one row type carries
  // every table with the per-column type widening a per-table union
  // would give
  private val Kind = "__kind"
  private val StatusRow = 0
  private val MediaRow = 1
  private val TweetP = "__t_"
  private val UserP = "__u_"
  private val SourceP = "__s_"
  private val PlaceP = "__p_"
  private val MediaP = "__m_"
  private val MediaOf = "__media_of"

  private def under(prefix: String, cols: Seq[(String, Column)]): Seq[Column] =
    cols.map { case (n, c) => c.as(prefix + n) }

  /** One level's status row: the tweet fact, the user, the source and
    * the place, side by side, then the level's order and row kind.
    */
  private[ingest] def statusCols(l: Level): Seq[Column] = {
    val user = structField(l.schema, "user").toSeq.flatMap(us =>
      under(UserP, userCols(us, n => l.at("user").getField(n))))
    val source = fieldType(l.schema, "source").toSeq.flatMap(_ => under(SourceP, Seq(
      "id" -> sourceHashId(l.at("source")),
      "name" -> Transforms.sourceName(l.at("source")),
      "url" -> Transforms.sourceUrl(l.at("source")))))
    val place = structField(l.schema, "place").toSeq.flatMap(ps =>
      under(PlaceP, ps.fieldNames.toSeq.map(n => n -> l.at("place").getField(n))))
    under(TweetP, tweetFact(l)) ++ user ++ source ++ place ++
      Seq(l.ord.as(Ord), lit(StatusRow).as(Kind))
  }

  /** The struct of a level's media entities, if it has any. */
  private[ingest] def mediaSchema(l: Level): Option[StructType] =
    structField(l.schema, "extended_entities").flatMap(fieldType(_, "media")).collect {
      case ArrayType(m: StructType, _) => m
    }

  /** Media entity `m` (a `ms` struct) of level `l` as a media row: its
    * fields, its tweet's id, the level's order and row kind.
    */
  private[ingest] def mediaCols(l: Level, ms: StructType, m: Column): Seq[Column] =
    under(MediaP, ms.fieldNames.toSeq.map(n => n -> m.getField(n))) ++
      Seq(l.at("id").as(MediaOf), l.ord.as(Ord), lit(MediaRow).as(Kind))

  /** `c`, of type `from`, in the union-widened type `to`: struct fields
    * by name (a field `from` lacks is null, a null struct stays null),
    * array elements likewise, anything else cast — what
    * `unionByName(allowMissingColumns = true)` does to one branch.
    */
  private def widen(c: Column, from: DataType, to: DataType): Column = (from, to) match {
    case _ if from.catalogString == to.catalogString => c
    case (f: StructType, t: StructType) =>
      when(c.isNotNull, struct(t.fields.toSeq.map(tf => fieldType(f, tf.name)
        .fold(lit(null).cast(tf.dataType))(widen(c.getField(tf.name), _, tf.dataType))
        .as(tf.name)): _*))
    case (ArrayType(fe, _), ArrayType(te, _)) => transform(c, widen(_, fe, te))
    case _ => c.cast(to)
  }

  /** The normalized frame of a batch of tweet documents, pinned
    * ([[Iteration.materialize]]): one row per status of every level
    * (`__kind` 0) and one per media entity (`__kind` 1), each table's
    * columns under its prefix; [[tables]] derives every table from it.
    *
    * The input is scanned ONCE. The levels are accessors on the base
    * frame, not filtered copies of it: one projection builds each input
    * row's status rows (null where a level is absent) and media rows (a
    * `transform` of each level's media array, so a null entity still
    * gives one row of nulls, as `explode` would), and one generator
    * (`inline`) emits them. Whatever the nesting depth, a batch costs
    * one scan and one per-partition projection. The row type is the one
    * a `unionByName(allowMissingColumns = true)` of the per-level
    * projections would have — inferred levels may type the same nested
    * field differently, and a per-column widening keeps them apart —
    * computed from the levels' analyzed types alone, over empty frames.
    */
  def pin(raw: DataFrame): DataFrame = {
    val spark = raw.sparkSession
    val base =
      if (raw.columns.contains(Iid)) raw
      else raw.withColumn(Iid, monotonically_increasing_id())
    val lvls = levels(base)
    val statuses = lvls.map(l => when(l.present, struct(statusCols(l): _*)))
    val media = lvls.flatMap(l => mediaSchema(l).map(ms => when(l.present,
      transform(l.at("extended_entities").getField("media"), m => struct(mediaCols(l, ms, m): _*)))))
    // every level's expressions, analyzed once: the generator below
    // reads these columns by name
    val levelRows = base.select((statuses ++ media).zipWithIndex.map { case (c, i) =>
      c.as(s"__l$i") }: _*)
    val types = levelRows.schema.fields.toSeq.map(f => f.name -> (f.dataType match {
      case ArrayType(st: StructType, _) => st
      case st: StructType => st
    }))
    val row = types.map { case (_, st) => spark.createDataFrame(new java.util.ArrayList[Row](), st) }
      .reduce(_.unionByName(_, allowMissingColumns = true)).schema
    val (statusT, mediaT) = types.splitAt(statuses.size)
    val all = array(statusT.map { case (n, st) => widen(col(n), st, row) }: _*) +:
      mediaT.map { case (n, st) =>
        coalesce(transform(col(n), widen(_, st, row)), array().cast(ArrayType(row)))
      }
    Iteration.materialize(levelRows.select(inline(filter(concat(all: _*), _.isNotNull)))
      .coalesce(spark.sparkContext.defaultParallelism))
  }

  /** The normalized tables of a [[pin]]ned frame, keyed by table name,
    * each already deduped with the reference's replace-upsert (LWW)
    * semantics within the batch: every table is a filter and a
    * projection of the pin, so no table re-plans or re-runs the flatten.
    */
  def tables(pinned: DataFrame, favoritedBy: Option[Long] = None): Map[String, DataFrame] = {
    // the rows of `kind` holding `present`, `prefix` columns unprefixed
    def part(prefix: String, kind: Int, present: Option[String] = None): Option[DataFrame] = {
      val cs = pinned.columns.filter(_.startsWith(prefix))
      if (cs.isEmpty) None
      else Some(pinned
        .filter(col(Kind) === kind && present.fold(lit(true))(p => col(prefix + p).isNotNull))
        .select(cs.map(c => col(c).as(c.stripPrefix(prefix))) :+ col(Ord): _*))
    }
    def keyed(df: Option[DataFrame], pk: String*) = df.map(Upsert.upsert(None, _, pk))

    val tweets = keyed(part(TweetP, StatusRow), "id")
    val users = keyed(part(UserP, StatusRow, Some("id")), "id")
    val sources = keyed(part(SourceP, StatusRow, Some("id")), "id")
    val places = keyed(part(PlaceP, StatusRow, Some("id")), "id")
    val media = keyed(part(MediaP, MediaRow), "id")
    val mediaTweets = keyed(Option.when(pinned.columns.contains(MediaOf))(pinned
      .filter(col(Kind) === MediaRow)
      .select(col(MediaP + "id").as("media_id"), col(MediaOf).as("tweets_id"), col(Ord))),
      "media_id", "tweets_id")

    // favorited_by records only the TOP-LEVEL tweets (the reference's
    // recursion passes no favorited_by for nested statuses,
    // utils.py:431 vs :435-441); levels() gives them __ord ≡ 9 mod 10
    val favorited = favoritedBy.map(uid => pinned
      .filter(col(Kind) === StatusRow && col(Ord) % 10 === 9)
      .select(col(TweetP + "id").as("tweet")).distinct().withColumn("user", lit(uid)))

    Seq("tweets" -> tweets, "users" -> users, "sources" -> sources,
      "places" -> places, "media" -> media, "media_tweets" -> mediaTweets,
      "favorited_by" -> favorited).collect { case (t, Some(df)) => t -> df }.toMap
  }

  /** Full save_tweets: the normalized [[tables]] of one [[pin]] of
    * `raw`. Sinks apply them against existing tables via
    * TableStore/Upsert.
    */
  def saveTweets(raw: DataFrame, favoritedBy: Option[Long] = None): Map[String, DataFrame] =
    tables(pin(raw), favoritedBy)

  /** save_users (K2, `utils.py:449-469`): transform + upsert user
    * docs; optionally emit `following` graph edges — when fetched as
    * someone's followers, followedId is fixed and each user is the
    * follower (and vice versa). Edges carry first_seen and are
    * insert-IGNORED downstream so the original sighting date survives
    * re-fetches (K7).
    */
  def saveUsers(
      raw: DataFrame,
      followedId: Option[Long] = None,
      followerId: Option[Long] = None,
      firstSeen: String = ""): Map[String, DataFrame] = {
    require(followedId.isEmpty || followerId.isEmpty,
      "pass followedId or followerId, not both")
    val withOrd =
      if (raw.columns.contains(Ord)) raw
      else raw.withColumn(Ord, monotonically_increasing_id())
    val users = Upsert.upsert(None, withOrd.select(
      userCols(withOrd.schema, col).map { case (n, c) => c.as(n) }: _*), Seq("id"))
    val edges = (followedId, followerId) match {
      case (None, None) => None
      case _ => Some(users.select(
        followedId.map(lit(_)).getOrElse(col("id")).as("followed_id"),
        followerId.map(lit(_)).getOrElse(col("id")).as("follower_id"),
        lit(firstSeen).as("first_seen")))
    }
    Map("users" -> users) ++ edges.map("following" -> _)
  }
}
