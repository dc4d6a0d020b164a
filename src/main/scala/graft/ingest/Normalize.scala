package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
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
  * two levels (retweet of a quote), so the recursion unrolls into an
  * explicit 3-level flatten + unionByName — no driver-side loops; the
  * flatten is one declarative plan (SURVEY.md §7.3), run once and
  * pinned, and every table is derived from the pin.
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

  /** Unroll the recursive quoted/retweeted nesting: returns flat tweet
    * DataFrames (struct fields at top level) each with an `__ord`
    * column encoding the reference's insertion sequence — nested
    * tweets precede their parent, input order preserved (utils.py:
    * 424-431: per input tweet, quoted then retweeted then parent).
    */
  private def levels(raw: DataFrame): Seq[DataFrame] = {
    val iid = "__iid"
    val base =
      if (raw.columns.contains(iid)) raw
      else raw.withColumn(iid, monotonically_increasing_id())

    val l0 = base.withColumn(Ord, col(iid) * 10 + 9).drop(iid)
    // keep __iid on the intermediate frames for the L2 extraction:
    val l1qRaw = structField(base.schema, "quoted_status").map(_ =>
      base.filter(col("quoted_status.id").isNotNull)
        .select(col(iid), col("quoted_status.*")))
    val l1rRaw = structField(base.schema, "retweeted_status").map(_ =>
      base.filter(col("retweeted_status.id").isNotNull)
        .select(col(iid), col("retweeted_status.*")))

    def finish(df: DataFrame, off: Int): DataFrame =
      df.withColumn(Ord, col(iid) * 10 + off).drop(iid)

    // reference insertion sequence per input tweet (utils.py:424-431,
    // recursive save_tweets([quoted, retweeted])): quoted's children,
    // QUOTED ITSELF, retweeted's children, retweeted, parent — i.e.
    // q.q=0, q.r=1, q=2, r.q=3, r.r=4, r=5, parent=9. The quoted
    // subtree completes (2) BEFORE retweeted's children (3,4) start,
    // so a tweet id present in both subtrees resolves LWW exactly
    // like the reference's last sequential insert — including the
    // retweet-of-a-quote shape where the same id is both the parent's
    // quoted_status and retweeted_status.quoted_status.
    val l2 = (l1qRaw.map((_, 0)).toSeq ++ l1rRaw.map((_, 3)).toSeq).flatMap {
      case (l1, base) =>
        Seq(("quoted_status", base), ("retweeted_status", base + 1)).flatMap {
          case (f, off) =>
            structField(l1.schema, f).map { _ =>
              l1.filter(col(s"$f.id").isNotNull)
                .select(col(iid), col(s"$f.*"))
                .withColumn(Ord, col(iid) * 10 + off)
                .drop(iid)
            }
        }
    }
    val l1 = l1qRaw.map(finish(_, 2)).toSeq ++ l1rRaw.map(finish(_, 5)).toSeq
    l2 ++ l1 ++ Seq(l0)
  }

  // ------------------------------------------------------- T1 tweets

  /** transform_tweet (`utils.py:299-310`) + the id-substitutions of
    * save_tweets (utils.py:415-429): entity-expand + unescape
    * full_text, ISO created_at, drop *_str / quoted_status_id /
    * quoted_status_permalink, replace nested user/place/source/
    * quoted/retweeted with their keys. Named output columns of a flat
    * tweet frame of `schema`.
    */
  private def tweetFact(schema: StructType): Seq[(String, Column)] = {
    val entSchema = structField(schema, "entities")
    // With INFERRED schemas (the reference's alter=True world), an
    // always-null nested field (place, quoted_status, …) infers as
    // StringType — extract the surrogate key only when it is actually
    // a struct, otherwise keep the (null) column as-is.
    def keyOf(name: String): Column =
      if (structField(schema, name).isDefined) col(s"$name.id") else col(name)
    schema.fields.toSeq.flatMap { f =>
      val c: Option[Column] = f.name match {
        case Ord => None // the level's order rides beside the fact
        case "created_at" => Some(isoFormat(parseTwitterTime(col("created_at"))))
        case "full_text" =>
          val expanded = entSchema
            .map(es => expandEntities(col("full_text"), col("entities"), es))
            .getOrElse(col("full_text"))
          Some(htmlUnescape(expanded))
        case "user" | "place" | "quoted_status" | "retweeted_status" => Some(keyOf(f.name))
        case "source" => Some(sourceHashId(col("source")))
        case "entities" | "extended_entities" | "quoted_status_id" |
            "quoted_status_permalink" | "text" => None
        case n if n.endsWith("_str") => None
        case n => Some(col(n))
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
  // table's columns ride under its own prefix, so one union of the
  // levels carries every table with the per-column type widening a
  // per-table union would give
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

  /** One level's statuses: the tweet fact, the user, the source and
    * the place of each row, side by side.
    */
  private def statusRows(l: DataFrame): DataFrame = {
    val s = l.schema
    val user = structField(s, "user").toSeq.flatMap(us =>
      under(UserP, userCols(us, n => col("user").getField(n))))
    val source = fieldType(s, "source").toSeq.flatMap(_ => under(SourceP, Seq(
      "id" -> sourceHashId(col("source")),
      "name" -> Transforms.sourceName(col("source")),
      "url" -> Transforms.sourceUrl(col("source")))))
    val place = structField(s, "place").toSeq.flatMap(ps =>
      under(PlaceP, ps.fieldNames.toSeq.map(n => n -> col("place").getField(n))))
    l.select((under(TweetP, tweetFact(s)) ++ user ++ source ++ place ++
      Seq(col(Ord), lit(StatusRow).as(Kind))): _*)
  }

  /** One level's media entities, one row each, with their tweet id. */
  private def mediaRows(l: DataFrame): Option[DataFrame] =
    structField(l.schema, "extended_entities")
      .filter(_.fieldNames.contains("media"))
      .map { _ =>
        val m = l.filter(col("extended_entities.media").isNotNull)
          .select(col("id").as(MediaOf), col(Ord),
            explode(col("extended_entities.media")).as("m"))
        val fields = m.schema("m").dataType.asInstanceOf[StructType].fieldNames.toSeq
        m.select((under(MediaP, fields.map(n => n -> col("m").getField(n))) ++
          Seq(col(MediaOf), col(Ord), lit(MediaRow).as(Kind))): _*)
      }

  /** Full save_tweets: returns the normalized tables as DataFrames,
    * keyed by table name, each already deduped with the reference's
    * replace-upsert (LWW) semantics within the batch. Sinks apply
    * these against existing tables via TableStore/Upsert.
    *
    * The schema-dependent per-level projections run once and their
    * union is pinned ([[Iteration.materialize]]): every table is a
    * filter and a projection of that one frame, so no table re-plans
    * or re-runs the flatten. The union comes AFTER the projections —
    * inferred levels may type the same nested field differently.
    */
  def saveTweets(raw: DataFrame, favoritedBy: Option[Long] = None): Map[String, DataFrame] = {
    val lvls = levels(raw)
    val all = (lvls.map(statusRows) ++ lvls.flatMap(mediaRows))
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val pinned = Iteration.materialize(
      all.coalesce(raw.sparkSession.sparkContext.defaultParallelism))

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
