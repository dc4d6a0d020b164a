package graft.store

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** FTS inverted-index semantics: build-on-upsert (trigger analog),
  * AND match, phrase + prefix MATCH, BM25 ranked order with persisted
  * corpus stats, index freshness after re-upsert, and the
  * incremental-maintenance parity property (any batch sequence ==
  * from-scratch index of the final table — the FTS5 sync-trigger
  * guarantee, utils.py:330-332).
  */
class FtsSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): TableStore =
    new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-fts").toString)

  test("index build + MATCH AND semantics") {
    val store = freshStore()
    val docs = Seq(
      (1L, "spark streams join the window"),
      (2L, "the quick brown fox"),
      (3L, "spark window functions")).toDF("id", "full_text")
    Fts.upsertWithIndex(store, "tweets", docs, "id", "full_text")

    def hits(q: String): Set[Long] =
      Fts.search(spark, store, "tweets", q).collect().map(_.getLong(0)).toSet

    assert(hits("spark") === Set(1L, 3L))
    assert(hits("spark window") === Set(1L, 3L)) // AND
    assert(hits("spark fox") === Set.empty)
    assert(hits("THE") === Set(1L, 2L)) // case folded
    assert(hits("absent") === Set.empty)
  }

  test("phrase MATCH: quoted phrase requires consecutive tokens") {
    val store = freshStore()
    val docs = Seq(
      (1L, "spark window functions"),
      (2L, "window spark things"),
      (3L, "spark and window"),
      (4L, "big spark window functions today")).toDF("id", "full_text")
    Fts.upsertWithIndex(store, "tweets", docs, "id", "full_text")

    def hits(q: String): Set[Long] =
      Fts.search(spark, store, "tweets", q).collect().map(_.getLong(0)).toSet

    assert(hits("\"spark window\"") === Set(1L, 4L)) // consecutive only
    assert(hits("\"window spark\"") === Set(2L))     // order matters
    assert(hits("spark window") === Set(1L, 2L, 3L, 4L)) // unquoted = AND
    assert(hits("\"spark window functions\"") === Set(1L, 4L)) // 3-word
    assert(hits("\"window functions spark\"") === Set.empty)
    assert(hits("\"spark window\" today") === Set(4L)) // phrase AND term
    assert(hits("\"spark\"") === Set(1L, 2L, 3L, 4L)) // 1-word phrase = term
  }

  test("phrase MATCH with a repeated word verifies both positions") {
    val store = freshStore()
    val docs = Seq(
      (1L, "the the end"),
      (2L, "the end the")).toDF("id", "full_text")
    Fts.upsertWithIndex(store, "tweets", docs, "id", "full_text")
    val got = Fts.search(spark, store, "tweets", "\"the the\"")
      .collect().map(_.getLong(0)).toSet
    assert(got === Set(1L)) // doc 2 has both "the"s but never adjacent
  }

  test("prefix MATCH: trailing * matches any token with the prefix") {
    val store = freshStore()
    val docs = Seq(
      (1L, "sparkle stream"),
      (2L, "spark joins"),
      (3L, "nothing here")).toDF("id", "full_text")
    Fts.upsertWithIndex(store, "tweets", docs, "id", "full_text")

    def hits(q: String): Set[Long] =
      Fts.search(spark, store, "tweets", q).collect().map(_.getLong(0)).toSet

    assert(hits("spar*") === Set(1L, 2L))
    assert(hits("spark*") === Set(1L, 2L)) // exact token also has itself as prefix
    assert(hits("spar* stream") === Set(1L)) // prefix AND plain
    assert(hits("xyz*") === Set.empty)
    assert(hits("stre* joi*") === Set.empty) // two prefixes, no doc has both
  }

  test("NEAR MATCH: proximity window over positions, either order") {
    val store = freshStore()
    val docs = Seq(
      (1L, "spark is a window"),           // spark..window distance 3 (2 between)
      (2L, "window nothing nothing nothing nothing spark"), // distance 5, reversed
      (3L, "spark alone here"),
      (4L, "spark then lots of other words before any window")).toDF("id", "full_text")
    Fts.upsertWithIndex(store, "tweets", docs, "id", "full_text")

    def hits(q: String): Set[Long] =
      Fts.search(spark, store, "tweets", q).collect().map(_.getLong(0)).toSet

    assert(hits("NEAR(spark window, 2)") === Set(1L))       // ≤2 between
    assert(hits("NEAR(spark window, 4)") === Set(1L, 2L))   // order-free
    assert(hits("NEAR(spark window)") === Set(1L, 2L, 4L))  // default 10
    assert(hits("NEAR(spark window, 2) alone") === Set.empty) // AND with plain
    // ranked search enforces the same proximity
    assert(Fts.searchRanked(spark, store, "tweets", "NEAR(spark window, 2)")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // self-NEAR needs two distinct occurrences
    val rep = Seq((5L, "echo something echo"), (6L, "echo once")).toDF("id", "full_text")
    Fts.upsertWithIndex(store, "tweets", rep, "id", "full_text")
    assert(hits("NEAR(echo echo, 3)") === Set(5L))
  }

  test("NEAR with 3+ phrases and quoted multi-token operands (FTS5 window rule)") {
    val store = freshStore()
    val docs = Seq(
      (1L, "alpha beta gamma delta"),   // three adjacent singles: window 3
      (2L, "alpha x beta y gamma"),     // spread: window 5
      (3L, "alpha beta end"),           // gamma missing
      (4L, "the data stream runs fast") // "data stream"(1-2) + fast(4): window 4
    ).toDF("id", "full_text")
    Fts.upsertWithIndex(store, "tweets", docs, "id", "full_text")

    def hits(q: String): Set[Long] =
      Fts.search(spark, store, "tweets", q).collect().map(_.getLong(0)).toSet

    // window ≤ n + Σ phrase lengths (FTS5's clustering rule)
    assert(hits("NEAR(alpha beta gamma, 0)") === Set(1L))
    assert(hits("NEAR(alpha beta gamma, 2)") === Set(1L, 2L))
    assert(hits("NEAR(gamma alpha beta, 2)") === Set(1L, 2L)) // order-free
    // quoted operand = one multi-token phrase (2 + 1 tokens: B = n + 3)
    assert(hits("NEAR(\"data stream\" fast, 1)") === Set(4L))
    assert(hits("NEAR(\"data stream\" fast, 0)") === Set.empty)
    // the phrase must be CONSECUTIVE: scattered words never near-match
    assert(hits("NEAR(\"stream data\" fast, 5)") === Set.empty)
    // ranked search enforces the same multi-phrase window
    assert(Fts.searchRanked(spark, store, "tweets",
        "NEAR(alpha beta gamma, 0)")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // boolean composition keeps working around the n-ary group
    assert(hits("NEAR(alpha beta gamma, 2) NOT delta") === Set(2L))
  }

  test("^ initial-token anchor (FTS5): term, phrase, prefix forms") {
    val store = freshStore()
    val docs = Seq(
      (1L, "spark streams data"),
      (2L, "big spark data"),
      (3L, "spark")).toDF("id", "full_text")
    Fts.upsertWithIndex(store, "tweets", docs, "id", "full_text")

    def hits(q: String): Set[Long] =
      Fts.search(spark, store, "tweets", q).collect().map(_.getLong(0)).toSet

    assert(hits("^spark") === Set(1L, 3L))
    assert(hits("^big spark") === Set(2L)) // anchored term AND plain term
    assert(hits("^\"spark streams\"") === Set(1L)) // anchored phrase
    assert(hits("^\"streams data\"") === Set.empty) // phrase not at start
    assert(hits("^sp*") === Set(1L, 3L)) // anchored prefix
    assert(hits("^str*") === Set.empty)
    assert(hits("spark NOT ^spark") === Set(2L)) // boolean composition
    // ranked search enforces the anchor too
    assert(Fts.searchRanked(spark, store, "tweets", "^spark")
      .collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    // dangling/unsupported anchors are syntax errors
    intercept[IllegalArgumentException] {
      Fts.search(spark, store, "tweets", "spark ^").collect()
    }
    intercept[IllegalArgumentException] {
      Fts.search(spark, store, "tweets", "^NEAR(spark data, 5)").collect()
    }
    intercept[IllegalArgumentException] {
      Fts.search(spark, store, "tweets", "NEAR(^spark data, 5)").collect()
    }
  }

  test("boolean MATCH: OR / NOT / parens at FTS5 precedence (NOT > AND > OR)") {
    val store = freshStore()
    val docs = Seq(
      (1L, "spark streams join the window"),
      (2L, "the quick brown fox"),
      (3L, "spark window functions"),
      (4L, "fox or window")).toDF("id", "full_text")
    Fts.upsertWithIndex(store, "tweets", docs, "id", "full_text")

    def hits(q: String): Set[Long] =
      Fts.search(spark, store, "tweets", q).collect().map(_.getLong(0)).toSet

    assert(hits("spark OR fox") === Set(1L, 2L, 3L, 4L))
    assert(hits("spark NOT functions") === Set(1L))
    assert(hits("spark AND window") === Set(1L, 3L)) // explicit AND = implicit
    // NOT binds tighter than OR: fox OR (spark NOT functions)
    assert(hits("fox OR spark NOT functions") === Set(1L, 2L, 4L))
    // NOT binds tighter than implicit AND: quick AND (fox NOT brown) = {}
    assert(hits("quick fox NOT brown") === Set.empty)
    assert(hits("(quick NOT absent) fox") === Set(2L)) // parens group
    assert(hits("(spark OR quick) window") === Set(1L, 3L)) // OR under AND
    assert(hits("fox or window") === Set(4L)) // lowercase or = a token (FTS5)
    assert(hits("qui* OR functions") === Set(2L, 3L)) // prefix in OR branch
    assert(hits("spark NOT \"spark window\"") === Set(1L)) // phrase under NOT
    // left-assoc NOT chain: (spark NOT functions) NOT streams = {}
    assert(hits("spark NOT functions NOT streams") === Set.empty)
    // ranked boolean: same match set, scored over positive terms only
    val ranked = Fts.searchRanked(spark, store, "tweets", "spark OR fox")
      .collect()
    assert(ranked.map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L))
    assert(ranked.forall(_.getDouble(1) > 0.0))
    assert(Fts.searchRanked(spark, store, "tweets", "spark NOT functions")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // dangling operator is a syntax error, not a silent degrade
    intercept[IllegalArgumentException] {
      Fts.search(spark, store, "tweets", "spark OR").collect()
    }
    intercept[IllegalArgumentException] {
      Fts.search(spark, store, "tweets", "(spark").collect()
    }
  }

  test("prefix phrase: trailing * inside or after the closing quote") {
    val store = freshStore()
    val docs = Seq(
      (1L, "spark streams join the window"),
      (2L, "spark window functions"),
      (3L, "window spark here")).toDF("id", "full_text")
    Fts.upsertWithIndex(store, "tweets", docs, "id", "full_text")

    def hits(q: String): Set[Long] =
      Fts.search(spark, store, "tweets", q).collect().map(_.getLong(0)).toSet

    assert(hits("\"spark wind*\"") === Set(2L)) // star inside the quotes
    assert(hits("\"spark wind\"*") === Set(2L)) // star after the close quote
    assert(hits("\"spark window\"") === Set(2L)) // exact phrase unchanged
    // UNNEAR( is not a proximity operator (NEAR only at token start)
    assert(hits("UNNEAR(spark window, 2)") === Set.empty) // unnear AND ... = {}
  }

  test("ranked search: BM25 relevance order (FTS5 ORDER BY rank analog)") {
    val store = freshStore()
    val docs = Seq(
      (1L, "spark spark spark window"),
      (2L, "spark window and other words about other things"),
      (3L, "spark spark window window"),
      (4L, "unrelated text entirely")).toDF("id", "full_text")
    Fts.upsertWithIndex(store, "tweets", docs, "id", "full_text")

    // single term: highest tf in the shortest doc wins
    val one = Fts.searchRanked(spark, store, "tweets", "spark")
      .collect().map(_.getLong(0)).toSeq
    assert(one === Seq(1L, 3L, 2L))

    // two terms: BM25 tf saturation prefers the balanced doc (2+2)
    // over the lopsided one (3+1)
    val two = Fts.searchRanked(spark, store, "tweets", "spark window")
      .collect().map(_.getLong(0)).toSeq
    assert(two === Seq(3L, 1L, 2L))

    // AND semantics preserved: docs missing a term don't appear
    assert(Fts.searchRanked(spark, store, "tweets", "spark unrelated")
      .isEmpty)

    // index carries tf, dl and the position list per posting
    val idx = store.read(Fts.indexName("tweets"))
    assert(idx.columns.toSet === Set("pk", "token", "tf", "dl", "positions"))
    val row = idx.filter(col("pk") === 1L && col("token") === "spark").head
    assert(row.getAs[Long]("tf") === 3L && row.getAs[Long]("dl") === 4L)
    assert(row.getAs[Seq[Int]]("positions") === Seq(0, 1, 2))
  }

  test("ranked search reads persisted corpus stats, not a full-index rescan") {
    val store = freshStore()
    val docs = Seq(
      (1L, "spark spark spark window"),
      (2L, "spark window and other words about other things"),
      (3L, "spark spark window window"),
      (4L, "unrelated text entirely")).toDF("id", "full_text")
    Fts.upsertWithIndex(store, "tweets", docs, "id", "full_text")

    // stats persisted at index time (FTS5 docsize/stat analog)
    val st = store.read(Fts.statsName("tweets")).collect()
    assert(st.length === 1)
    assert(st(0).getAs[Long]("n_docs") === 4L)
    assert(st(0).getAs[Double]("avgdl") === (4 + 8 + 4 + 3) / 4.0)

    // the ranked plan scans the postings only through token-pruned
    // branches (matched + docFreq) and gets corpus stats from the
    // 1-row stats table — no third, unfiltered aggregation of the
    // full index in the query hot path
    val df = Fts.searchRanked(spark, store, "tweets", "spark window")
    val paths = df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString).mkString(",")
        case _ => ""
      }
    }
    assert(paths.count(_.contains("tweets_fts_stats")) === 1, paths)
    assert(paths.count(p => p.contains("tweets_fts") && !p.contains("_fts_stats")) === 2, paths)
  }

  test("legacy index without a stats table still ranks (one-off fallback)") {
    val store = freshStore()
    val docs = Seq(
      (1L, "spark spark spark window"),
      (2L, "spark window and other words about other things"),
      (3L, "spark spark window window")).toDF("id", "full_text")
    // index built directly, bypassing upsertWithIndex → no stats table
    store.overwrite(Fts.indexName("tweets"), Fts.indexRows(docs, "id", "full_text"))
    assert(!store.exists(Fts.statsName("tweets")))
    val got = Fts.searchRanked(spark, store, "tweets", "spark window")
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(3L, 1L, 2L))
  }

  test("legacy (pk, token) index migrates to the positional layout on upsert") {
    val store = freshStore()
    // seed base + a pre-ranking-era index (schema without tf/dl)
    store.upsert("tweets",
      Seq((1L, "old spark words")).toDF("id", "full_text"), Seq("id"))
    store.overwrite(Fts.indexName("tweets"),
      Seq((1L, "old"), (1L, "spark"), (1L, "words")).toDF("pk", "token"))

    Fts.upsertWithIndex(store, "tweets",
      Seq((2L, "new spark text")).toDF("id", "full_text"), "id", "full_text")

    val idx = store.read(Fts.indexName("tweets"))
    assert(idx.columns.toSet === Set("pk", "token", "tf", "dl", "positions"))
    // both the pre-existing doc and the new batch are searchable/ranked
    assert(Fts.search(spark, store, "tweets", "spark")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(Fts.searchRanked(spark, store, "tweets", "old")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // and phrases work against the migrated (rebuilt) postings
    assert(Fts.search(spark, store, "tweets", "\"old spark\"")
      .collect().map(_.getLong(0)).toSet === Set(1L))
  }

  test("mid-era (pk, token, tf, dl) index without positions migrates on upsert") {
    val store = freshStore()
    store.upsert("tweets",
      Seq((1L, "old spark words")).toDF("id", "full_text"), Seq("id"))
    store.overwrite(Fts.indexName("tweets"),
      Seq((1L, "old", 1L, 3L), (1L, "spark", 1L, 3L), (1L, "words", 1L, 3L))
        .toDF("pk", "token", "tf", "dl"))

    Fts.upsertWithIndex(store, "tweets",
      Seq((2L, "new spark text")).toDF("id", "full_text"), "id", "full_text")

    val idx = store.read(Fts.indexName("tweets"))
    assert(idx.columns.toSet === Set("pk", "token", "tf", "dl", "positions"))
    assert(Fts.search(spark, store, "tweets", "\"spark words\"")
      .collect().map(_.getLong(0)).toSet === Set(1L))
  }

  test("re-upsert replaces a doc's postings (trigger analog)") {
    val store = freshStore()
    Fts.upsertWithIndex(store, "tweets",
      Seq((1L, "old words here")).toDF("id", "full_text"), "id", "full_text")
    assert(Fts.search(spark, store, "tweets", "old").count() === 1)

    Fts.upsertWithIndex(store, "tweets",
      Seq((1L, "completely new text")).toDF("id", "full_text"), "id", "full_text")
    assert(Fts.search(spark, store, "tweets", "old").count() === 0)
    assert(Fts.search(spark, store, "tweets", "new").count() === 1)
    // base table also replaced
    assert(store.read("tweets").count() === 1)
  }

  test("file skipping: a selective term opens a strict subset of postings files") {
    val store = freshStore()
    // one doc per letter region: bucket files (pk-hash partitioned,
    // token-sorted) get NARROW token envelopes, so a term probe can
    // prove most files irrelevant from the manifest alone
    val docs = (0 until 16).map { i =>
      val l = ('a' + i).toChar
      (i.toLong, (1 to 6).map(j => s"${l}word$j").mkString(" "))
    }.toDF("id", "full_text")
    Fts.upsertWithIndex(store, "tweets", docs, "id", "full_text", buckets = 16)

    def hits(q: String): Set[Long] =
      Fts.search(spark, store, "tweets", q).collect().map(_.getLong(0)).toSet
    def scannedFiles(q: String): Set[String] =
      Fts.search(spark, store, "tweets", q).queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation if fs.location.rootPaths.exists(
              _.toString.contains(Fts.indexName("tweets"))) =>
            fs.location.inputFiles.toSet
          case _ => Set.empty[String]
        }
      }.flatten.toSet

    val before = hits("cword3")
    assert(before === Set(2L))
    val allFiles = scannedFiles("cword3")
    assert(allFiles.size >= 6, s"want multi-file index, got ${allFiles.size}")

    Fts.enableFileSkipping(store, "tweets")
    // identical results, strictly fewer files opened
    assert(hits("cword3") === before)
    val pruned = scannedFiles("cword3")
    assert(pruned.nonEmpty && pruned.size < allFiles.size,
      s"no file-level skip: ${pruned.size} of ${allFiles.size}")
    // prefix probes prune through the padded upper bound
    assert(hits("cword*") === Set(2L))
    assert(scannedFiles("cword*").size < allFiles.size)
    // ranked + boolean forms stay exact on the pruned scan
    assert(Fts.searchRanked(spark, store, "tweets", "cword3 OR eword1")
      .collect().map(_.getLong(0)).toSet === Set(2L, 4L))

    // an incremental batch keeps the manifest fresh: new vocabulary is
    // findable and still pruned
    Fts.upsertWithIndex(store, "tweets",
      Seq((100L, "zzznew zzzterm")).toDF("id", "full_text"),
      "id", "full_text", buckets = 16)
    assert(hits("zzzterm") === Set(100L))
    assert(scannedFiles("zzzterm").size < scannedFiles("cword1 OR eword1 OR zzznew").size + 1)
    assert(Doctor.check(store).filter(_.component == "file-stats") === Seq.empty)
  }

  private def bucketOf(pk: Long, buckets: Int): Long =
    Seq(pk).toDF("pk")
      .select(pmod(xxhash64(col("pk")), lit(buckets.toLong)))
      .head.getLong(0)

  test("a torn manifest window (mutation without refresh) never false-skips or opens dead files") {
    val store = freshStore()
    val docs = (0 until 16).map { i =>
      val l = ('a' + i).toChar
      (i.toLong, (1 to 6).map(j => s"${l}word$j").mkString(" "))
    }.toDF("id", "full_text")
    Fts.upsertWithIndex(store, "tweets", docs, "id", "full_text", buckets = 16)
    Fts.enableFileSkipping(store, "tweets")
    val idxName = Fts.indexName("tweets")
    def hits(q: String): Set[Long] =
      Fts.search(spark, store, "tweets", q).collect().map(_.getLong(0)).toSet
    assert(hits("cword3") === Set(2L))
    assert(FileManifest.fresh(store, idxName))

    // crash residue 1: DEAD files still in the manifest. The store's
    // in-place mutations mark the write-ahead pending flag before
    // touching files; "crashing" before the refresh is simply not
    // running it. Without the guard the term probe would hand the
    // reader a file the drop removed.
    val b2 = bucketOf(2L, 16)
    store.dropPartition(idxName, "pk_bucket", b2.toString)
    assert(!FileManifest.fresh(store, idxName))
    assert(hits("cword3") === Set.empty)
    assert(hits("aword1") === Set(0L))

    // crash residue 2: LIVE files missing from the manifest — clone
    // doc 0's postings under a new pk into a previously-empty bucket.
    // A stale prune would silently skip the new file (false negative).
    val occupied = store.read(idxName)
      .select(col("pk_bucket").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    val newPk = (200L to 400L).find(p => !occupied.contains(bucketOf(p, 16))).get
    val clone = store.read(idxName).filter(col("pk") === 0L)
      .drop("pk_bucket").withColumn("pk", lit(newPk))
      .withColumn("pk_bucket", lit(bucketOf(newPk, 16)))
    store.overwritePartitions(idxName, clone, Seq("pk_bucket"))
    assert(hits("aword1") === Set(0L, newPk),
      "stale manifest silently skipped a live postings file")

    // one refresh heals: flag clears, pruning resumes, results exact
    FileManifest.refresh(store, idxName)
    assert(FileManifest.fresh(store, idxName))
    assert(hits("aword1") === Set(0L, newPk))
    assert(hits("cword3") === Set.empty)
  }

  private def partitionFiles(root: String, table: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get(root, Fts.indexName(table))
    val walk = java.nio.file.Files.walk(dir)
    try walk.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.toString.contains("pk_bucket="))
      .map(p => dir.relativize(p).toString ->
        java.nio.file.Files.getLastModifiedTime(p).toMillis)
      .toMap
    finally walk.close()
  }

  test("bucketed postings: identical search results, O(batch) maintenance") {
    val root = java.nio.file.Files.createTempDirectory("graft-fts-b").toString
    val store = new TableStore(spark, root)
    val docs = Seq(
      (1L, "spark streams join the window"),
      (2L, "the quick brown fox"),
      (3L, "spark window functions")).toDF("id", "full_text")
    Fts.upsertWithIndex(store, "tweets", docs, "id", "full_text", buckets = 8)

    val idx = store.read(Fts.indexName("tweets"))
    assert(idx.columns.contains("pk_bucket")) // hive-partitioned layout

    def hits(q: String): Set[Long] =
      Fts.search(spark, store, "tweets", q).collect().map(_.getLong(0)).toSet
    assert(hits("spark window") === Set(1L, 3L))
    assert(hits("\"spark window\"") === Set(3L)) // phrase works on bucketed too
    assert(Fts.searchRanked(spark, store, "tweets", "spark")
      .collect().map(_.getLong(0)).toSet === Set(1L, 3L))

    // re-upsert ONE doc: only its bucket's partition may change
    val before = partitionFiles(root, "tweets")
    Fts.upsertWithIndex(store, "tweets",
      Seq((2L, "completely different text")).toDF("id", "full_text"),
      "id", "full_text", buckets = 8)
    val after = partitionFiles(root, "tweets")
    val touched = s"pk_bucket=${bucketOf(2L, 8)}"
    val untouchedBefore = before.filterNot(_._1.startsWith(touched))
    val untouchedAfter = after.filterNot(_._1.startsWith(touched))
    assert(untouchedBefore === untouchedAfter,
      "partitions without batch pks must keep their exact files")
    assert(hits("quick") === Set.empty)
    assert(hits("different") === Set(2L))

    // incremental stats == from-scratch recomputation
    val st = store.read(Fts.statsName("tweets")).head
    assert(st.getAs[Long]("n_docs") === 3L)
    assert(st.getAs[Long]("total_dl") === (5 + 3 + 3))
    assert(st.getAs[Double]("avgdl") === (5 + 3 + 3) / 3.0)
  }

  test("bucketed re-upsert to empty text clears the doc's stale postings") {
    // buckets=1 forces every doc into partition 0, so replacing the
    // only doc with a token-free text leaves the merged bucket EMPTY —
    // dynamic overwrite can't rewrite an absent partition, the path
    // must drop it explicitly
    val root = java.nio.file.Files.createTempDirectory("graft-fts-e").toString
    val store = new TableStore(spark, root)
    Fts.upsertWithIndex(store, "tweets",
      Seq((1L, "hello world")).toDF("id", "full_text"), "id", "full_text",
      buckets = 1)
    assert(Fts.search(spark, store, "tweets", "hello")
      .collect().map(_.getLong(0)).toSet === Set(1L))

    Fts.upsertWithIndex(store, "tweets",
      Seq((1L, "...")).toDF("id", "full_text"), "id", "full_text", buckets = 1)
    assert(partitionFiles(root, "tweets").isEmpty, "stale partition must be dropped")
    val st = store.read(Fts.statsName("tweets")).head
    assert(st.getAs[Long]("n_docs") === 0L && st.getAs[Long]("total_dl") === 0L)
    assert(st.isNullAt(st.fieldIndex("avgdl")))
    // base table still carries the doc; only the postings are gone
    assert(store.read("tweets").count() === 1)
  }

  test("ranked search covers prefix and positional-phrase terms") {
    val store = freshStore()
    val docs = Seq(
      (1L, "sparkle and sparks fly high"),
      (2L, "spark window functions"),
      (3L, "window spark things"),
      (4L, "nothing relevant here")).toDF("id", "full_text")
    Fts.upsertWithIndex(store, "tweets", docs, "id", "full_text")

    // a prefix query ranks every doc carrying a matching token — the
    // bare stub "spar" is no token, so exact-match semantics would
    // return empty
    val pre = Fts.searchRanked(spark, store, "tweets", "spar*")
      .collect().map(_.getLong(0)).toSet
    assert(pre === Set(1L, 2L, 3L))

    // a quoted phrase is enforced positionally in ranked search too:
    // doc 3 has both words but not adjacent in this order
    val ph = Fts.searchRanked(spark, store, "tweets", "\"spark window\"")
      .collect().map(_.getLong(0)).toSet
    assert(ph === Set(2L))

    // mixed prefix + plain keeps AND semantics over TERMS, not tokens:
    // doc 1 has two spar*-tokens but no "window", so it must not rank
    val mixed = Fts.searchRanked(spark, store, "tweets", "spar* window")
      .collect().map(_.getLong(0)).toSet
    assert(mixed === Set(2L, 3L))
  }

  test("torn commit (epoch mismatch) forces a self-healing wholesale rebuild") {
    val store = freshStore()
    val docs = Seq(
      (1L, "spark streams"),
      (2L, "quick fox")).toDF("id", "full_text")
    Fts.upsertWithIndex(store, "tweets", docs, "id", "full_text", buckets = 4)
    val oldEpoch = store.read(Fts.statsName("tweets")).head.getAs[Long]("epoch")

    // simulate a crash between the postings write and the stats write:
    // the epoch marker moved ahead, and the stats row still carries the
    // old epoch WITH now-bogus totals
    store.overwrite(Fts.epochName("tweets"), Seq(99L).toDF("epoch"))
    store.overwrite(Fts.statsName("tweets"),
      Seq((100L, 1000L, 4, oldEpoch, 10.0))
        .toDF("n_docs", "total_dl", "n_buckets", "epoch", "avgdl"))

    // next upsert must NOT trust the stale stats incrementally — the
    // wholesale rebuild recomputes them from the actual postings
    Fts.upsertWithIndex(store, "tweets",
      Seq((3L, "more spark text here")).toDF("id", "full_text"),
      "id", "full_text", buckets = 4)
    val st = store.read(Fts.statsName("tweets")).head
    assert(st.getAs[Long]("n_docs") === 3L)
    assert(st.getAs[Long]("total_dl") === (2 + 2 + 4))
    // epoch marker and stats agree again → incremental path re-enabled
    assert(st.getAs[Long]("epoch") ===
      store.read(Fts.epochName("tweets")).head.getLong(0))
    assert(Fts.search(spark, store, "tweets", "spark")
      .collect().map(_.getLong(0)).toSet === Set(1L, 3L))
  }

  test("bucket-count mismatch rebuilds instead of corrupting the index") {
    val store = freshStore()
    Fts.upsertWithIndex(store, "tweets",
      Seq((1L, "old words here"), (2L, "spark window")).toDF("id", "full_text"),
      "id", "full_text", buckets = 8)
    // re-index ONE doc with a different bucket count: the incremental
    // path must not run (mod-4 bucket filtering would miss mod-8
    // partitions and leave doc 1's stale postings), a wholesale
    // rebuild must
    Fts.upsertWithIndex(store, "tweets",
      Seq((1L, "completely new text")).toDF("id", "full_text"),
      "id", "full_text", buckets = 4)
    assert(Fts.search(spark, store, "tweets", "old").isEmpty)
    assert(Fts.search(spark, store, "tweets", "new")
      .collect().map(_.getLong(0)).toSet === Set(1L))
    assert(Fts.search(spark, store, "tweets", "spark")
      .collect().map(_.getLong(0)).toSet === Set(2L))
    // postings relaid out mod 4, stats reflect the new count
    val st = store.read(Fts.statsName("tweets")).head
    assert(st.getAs[Int]("n_buckets") === 4)
    assert(st.getAs[Long]("n_docs") === 2L)
  }

  test("flat -> bucketed layout switch rebuilds the index once") {
    val store = freshStore()
    Fts.upsertWithIndex(store, "tweets",
      Seq((1L, "old spark words")).toDF("id", "full_text"), "id", "full_text")
    assert(!store.read(Fts.indexName("tweets")).columns.contains("pk_bucket"))
    Fts.upsertWithIndex(store, "tweets",
      Seq((2L, "new spark text")).toDF("id", "full_text"), "id", "full_text",
      buckets = 4)
    val idx = store.read(Fts.indexName("tweets"))
    assert(idx.columns.contains("pk_bucket"))
    assert(Fts.search(spark, store, "tweets", "spark")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(Fts.search(spark, store, "tweets", "\"old spark\"")
      .collect().map(_.getLong(0)).toSet === Set(1L))
  }

  test("incremental maintenance == from-scratch index (trigger parity, seeded)") {
    // the FTS5 sync-trigger property: applying ANY sequence of upsert
    // batches leaves exactly the index a from-scratch build of the
    // final base table would produce — postings AND corpus stats
    val words = Vector("spark", "window", "join", "stream", "data",
      "fast", "slow", "the", "batch", "query")
    val rnd = new scala.util.Random(4242)
    (1 to 3).foreach { round =>
      val store = freshStore()
      val bstore = freshStore() // same batches through the bucketed path
      (1 to 4).foreach { _ =>
        val batch = (1 to (1 + rnd.nextInt(5))).map { _ =>
          val id = rnd.nextInt(8).toLong
          val text = Seq.fill(1 + rnd.nextInt(7))(words(rnd.nextInt(words.size)))
            .mkString(" ")
          (id, text)
        }
        // a pk may repeat within a batch; keep the last occurrence like
        // a map-style upsert payload would
        val dedup = batch.groupBy(_._1).map(_._2.last).toSeq
        Fts.upsertWithIndex(store, "docs",
          dedup.toDF("id", "full_text"), "id", "full_text")
        Fts.upsertWithIndex(bstore, "docs",
          dedup.toDF("id", "full_text"), "id", "full_text", buckets = 4)
      }
      def postings(s: TableStore): Set[(Long, String, Long, Long, Seq[Int])] =
        s.read(Fts.indexName("docs"))
          .select("pk", "token", "tf", "dl", "positions")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
            r.getLong(3), r.getAs[Seq[Int]]("positions"))).toSet
      val incremental = postings(store)
      val scratch = Fts.indexRows(store.read("docs"), "id", "full_text")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getAs[Seq[Int]]("positions"))).toSet
      assert(incremental === scratch, s"postings diverged in round $round")
      assert(postings(bstore) === scratch, s"bucketed postings diverged in round $round")

      val n = store.read("docs").count()
      val gotStats = store.read(Fts.statsName("docs")).collect()(0)
      assert(gotStats.getAs[Long]("n_docs") === n, s"n_docs diverged in round $round")
      // the bucketed path's INCREMENTAL stats must equal the flat
      // path's from-scratch ones exactly (n_docs, total_dl, avgdl)
      val bStats = bstore.read(Fts.statsName("docs")).collect()(0)
      assert(bStats.getAs[Long]("n_docs") === gotStats.getAs[Long]("n_docs"),
        s"bucketed n_docs diverged in round $round")
      assert(bStats.getAs[Long]("total_dl") === gotStats.getAs[Long]("total_dl"),
        s"bucketed total_dl diverged in round $round")
      assert(bStats.getAs[Double]("avgdl") === gotStats.getAs[Double]("avgdl"),
        s"bucketed avgdl diverged in round $round")
    }
  }

  test("postings derivation (single-sort row-local shape) equals the " +
    "reference posexplode→groupBy shape on adversarial docs: empty, " +
    "single-token, all-repeats, long multi-run") {
    val docs = Seq(
      (1L, ""),                                    // zero tokens
      (2L, "only"),                                // one token
      (3L, "dup dup dup dup dup"),                 // single run
      (4L, "b a b a c a b"),                       // interleaved runs
      (5L, "  spaces   and\ttabs  "),              // tokenizer edges
      (6L, (0 until 500).map(i => s"w${i % 37}").mkString(" ")) // long doc
    ).toDF("id", "full_text")
    val got = Fts.indexRows(docs, "id", "full_text")
    // reference: explode every occurrence, regroup — the pre-r16
    // shuffle shape, kept here as the semantic oracle
    val ref = docs
      .select(col("id").as("pk"),
        graft.ingest.Transforms.tokens(col("full_text")).as("toks"))
      .select(col("pk"), size(col("toks")).cast("long").as("dl"),
        posexplode(col("toks")).as(Seq("pos", "token")))
      .groupBy("pk", "dl", "token")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
      .select(col("pk"), col("token"), col("tf"), col("dl"),
        col("positions"))
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty,
      "row-local postings must equal the exploded-regroup reference")
    // positions must come out ascending (poslist contract)
    val unsorted = got.filter(
      exists(zip_with(col("positions"),
        slice(col("positions"), lit(2), size(col("positions"))),
        (a, b) => b <= a), x => x)).count()
    assert(unsorted === 0L, "every poslist must be strictly ascending")
  }
}
