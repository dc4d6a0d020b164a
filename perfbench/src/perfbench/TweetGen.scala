package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import scala.collection.mutable

/** One tweet level of a generated document: top-level or nested. */
final case class Level(id: Long, user: Long, words: Array[String])

/** A generated document and the tweet levels it carries, top first. */
final case class Doc(json: String, levels: Seq[Level]) {
  def id: Long = levels.head.id
}

/** Deterministic synthetic tweet stream. Every document is one of the
  * fixture tweets in `src/test/resources/tweets.json` with its ids,
  * user and text rewritten from the seed. The fixture is three
  * consecutive tweets of one user timeline: a retweet, a tweet with
  * media and a quote, each by the timeline's owner, with the two
  * nested statuses by two other accounts. The generator keeps that
  * shape:
  *
  *  - templates are drawn uniformly, the fixture's own mix;
  *  - top-level ids step by one from a seeded base, ascending for a
  *    stream (newest last) or descending for a timeline, which serves
  *    newest first and pages down with `max_id`;
  *  - on a timeline (`owner` set) every top-level tweet is the owner's,
  *    as on `Endpoints.UserTimeline`, and every nested status is a new
  *    one (an account retweets a status once); its author is drawn
  *    from a population of `Users` accounts;
  *  - on a stream (`owner` empty) top-level authors come from the same
  *    population, and nested statuses from a pool of `NestedPool`
  *    tweets, so statuses that many accounts retweet repeat;
  *  - `full_text` is the fixture text plus `MarkersPerLevel` marker
  *    words `qx000`..`qx199`, drawn by Zipf's law (rank r with
  *    weight 1/r). They make FTS hit counts computable from the
  *    generator. Text, user and counts of a nested status are a pure
  *    function of (seed, tweet id), so a repeated status is always the
  *    same document.
  *
  * The program sees only the generated JSON; [[Expect]] keeps what the
  * store should hold once a set of documents has been ingested.
  */
final class TweetGen(seed: Long, templatesJson: String, descending: Boolean,
    owner: Option[Long]) {
  import TweetGen._

  private val mapper = new ObjectMapper()
  private val templates: IndexedSeq[ObjectNode] = {
    val arr = mapper.readTree(templatesJson).asInstanceOf[ArrayNode]
    (0 until arr.size).map(i => arr.get(i).asInstanceOf[ObjectNode])
  }
  private val rng = new java.util.SplittableRandom(seed)
  private val topBase = 1000000000000000L + (rng.nextLong() & 0xffffffL) * 1000L
  private val nestedBase = 100000000000000L + (rng.nextLong() & 0xffffffL) * 1000L
  private var next = 0L

  /** The next `n` documents in generation order. */
  def take(n: Int): IndexedSeq[Doc] = (0 until n).map(_ => one())

  private def one(): Doc = {
    val id = if (descending) topBase - next else topBase + next
    next += 1
    val t = templates(rng.nextInt(templates.size)).deepCopy()
    val top = rewrite(t, id, owner)
    val nested = Seq("quoted_status", "retweeted_status").flatMap { f =>
      t.get(f) match {
        case n: ObjectNode =>
          val nid = owner match {
            case Some(_) => nestedBase + 2 * next + (if (f == "quoted_status") 0 else 1)
            case None => nestedBase + rng.nextInt(NestedPool)
          }
          if (f == "quoted_status") {
            t.put("quoted_status_id", nid)
            t.put("quoted_status_id_str", nid.toString)
          }
          Some(rewrite(n, nid, None))
        case _ => None
      }
    }
    Doc(mapper.writeValueAsString(t), top +: nested)
  }

  /** Rewrite one tweet level in place; everything but a fixed `author`
    * derives from `id`.
    */
  private def rewrite(t: ObjectNode, id: Long, author: Option[Long]): Level = {
    val r = new java.util.SplittableRandom(seed * 1000003L + id)
    t.put("id", id)
    t.put("id_str", id.toString)
    val ws = Array.fill(MarkersPerLevel)(word(r))
    t.put("full_text", t.path("full_text").asText("") + " " + ws.mkString(" "))
    val uid = author.getOrElse(1000L + r.nextInt(Users))
    t.get("user") match {
      case u: ObjectNode =>
        u.put("id", uid)
        u.put("id_str", uid.toString)
        u.put("screen_name", s"user$uid")
        u.put("followers_count", uid * 3)
        u.put("friends_count", uid * 2)
        u.put("listed_count", uid % 97)
      case _ => ()
    }
    Level(id, uid, ws)
  }
}

object TweetGen {
  val Users = 500
  val NestedPool = 2000
  val Vocab = 200
  val MarkersPerLevel = 4

  /** the timeline owner's id on `timeline_sync` */
  val Owner = 999L

  /** cumulative Zipf weights of the marker ranks */
  private val zipf: Array[Double] = {
    val w = (1 to Vocab).map(1.0 / _).scanLeft(0.0)(_ + _).tail
    w.map(_ / w.last).toArray
  }

  private def word(r: java.util.SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(zipf, r.nextDouble())
    f"qx${if (i >= 0) i else -i - 1}%03d"
  }

  def templates(checkout: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      checkout, "src", "test", "resources", "tweets.json")), "UTF-8")
}

/** What the store must hold after the added documents are ingested. */
final class Expect {
  private val words = mutable.HashMap.empty[Long, Array[String]]
  private val authors = mutable.HashMap.empty[Long, Long]
  var docs = 0L
  var maxTopId = 0L
  var jsonBytes = 0L

  def add(d: Doc): Unit = {
    docs += 1
    maxTopId = math.max(maxTopId, d.id)
    jsonBytes += d.json.getBytes("UTF-8").length
    d.levels.foreach { l => words(l.id) = l.words; authors(l.id) = l.user }
  }

  /** distinct tweet ids, top-level and nested */
  def tweets: Long = words.size.toLong
  def distinctUsers: Long = authors.valuesIterator.toSet.size.toLong

  /** distinct tweets by `user` */
  def tweetsBy(user: Long): Long = authors.valuesIterator.count(_ == user).toLong

  /** tweets whose text holds every word of `q` */
  def hits(q: Seq[String]): Long =
    words.valuesIterator.count(a => q.forall(a.contains)).toLong
}
