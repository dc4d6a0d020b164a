package graft.store

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Persisted trigram postings: search equals the direct contains()
  * scan, re-upserts drop stale grams (and only rewrite touched
  * buckets), and sub-trigram needles fall back to the direct scan.
  */
class TrigramSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): TableStore =
    new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-tri").toString)

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "pack my box with five dozen liquor jugs"),
    (3L, "The Quick Onyx Goblin jumps over the lazy dwarf"),
    (4L, "sphinx of black quartz judge my vow"),
    (5L, "ab")).toDF("doc_id", "text")

  private def directScan(store: TableStore, needle: String): Seq[Long] =
    store.read("docs")
      .filter(lower(col("text")).contains(needle.toLowerCase))
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq

  test("search matches the direct scan; case-folded; short needle falls back") {
    val store = freshStore()
    Trigram.upsertWithIndex(store, "docs", corpus, "doc_id", "text")

    for (needle <- Seq("jumps over the lazy", "Quick", "zzz-not-there", "my")) {
      val got = Trigram.substringSearch(store, "docs", "doc_id", "text", needle)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got === directScan(store, needle), s"needle: $needle")
    }
    // the 2-char doc contributed no gram rows
    assert(store.read(Trigram.indexName("docs"))
      .filter(col("pk") === 5L).count() === 0L)
  }

  test("re-upsert drops stale grams and search reflects the new text") {
    val store = freshStore()
    Trigram.upsertWithIndex(store, "docs", corpus, "doc_id", "text")
    assert(Trigram.substringSearch(store, "docs", "doc_id", "text", "liquor")
      .collect().map(_.getLong(0)).toSeq === Seq(2L))

    // doc 2 loses "liquor", gains "cider"
    Trigram.upsertWithIndex(store, "docs",
      Seq((2L, "pack my box with five dozen cider jugs")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(Trigram.substringSearch(store, "docs", "doc_id", "text", "liquor")
      .collect().isEmpty)
    assert(Trigram.substringSearch(store, "docs", "doc_id", "text", "cider jugs")
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
    // no stale "liq" gram rows for doc 2 anywhere
    assert(store.read(Trigram.indexName("docs"))
      .filter(col("pk") === 2L && col("g") === "liq").count() === 0L)
  }

  test("self-reindex: batch = store.read(table) survives the base swap-write") {
    // the base upsert swap-deletes the old parquet files; a batch
    // frame read FROM that table must be fully materialized first or
    // its plan dangles (the Fts index-first ordering)
    val store = freshStore()
    Trigram.upsertWithIndex(store, "docs", corpus, "doc_id", "text")
    Trigram.upsertWithIndex(store, "docs",
      store.read("docs"), "doc_id", "text")
    assert(Trigram.substringSearch(store, "docs", "doc_id", "text", "liquor")
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("all-short-text corpus leaves no index; search falls back to direct scan") {
    val store = freshStore()
    Trigram.upsertWithIndex(store, "docs",
      Seq((1L, "ab"), (2L, "x")).toDF("doc_id", "text"), "doc_id", "text")
    assert(!store.exists(Trigram.indexName("docs")))
    assert(Trigram.substringSearch(store, "docs", "doc_id", "text", "longneedle")
      .collect().isEmpty)
    assert(Trigram.substringSearch(store, "docs", "doc_id", "text", "ab")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("trigram MATCH: boolean substring queries equal brute-force evaluation") {
    val store = freshStore()
    Trigram.upsertWithIndex(store, "docs", corpus, "doc_id", "text")
    def direct(needle: String): Set[Long] = directScan(store, needle).toSet
    def got(q: String): Set[Long] =
      Trigram.matchSearch(store, "docs", "doc_id", "text", q)
        .collect().map(_.getLong(0)).toSet

    assert(got("quick OR sphinx") === (direct("quick") ++ direct("sphinx")))
    assert(got("jumps NOT goblin") === (direct("jumps") -- direct("goblin")))
    // implicit AND between adjacent units
    assert(got("jumps lazy") === (direct("jumps") & direct("lazy")))
    // quoted needle keeps spaces verbatim — one substring, not an AND
    assert(got("\"over the lazy\"") === direct("over the lazy"))
    // precedence: NOT > AND > OR → (quick AND (jumps NOT goblin)) OR sphinx
    assert(got("quick jumps NOT goblin OR sphinx") ===
      ((direct("quick") & (direct("jumps") -- direct("goblin"))) ++
        direct("sphinx")))
    // parens override precedence
    assert(got("(quick OR sphinx) NOT jumps") ===
      ((direct("quick") ++ direct("sphinx")) -- direct("jumps")))
    // prefix star is plain substring under trigram semantics
    assert(got("qui*") === direct("qui"))
    // case-folded like the unary search
    assert(got("QUICK onyx") === (direct("quick") & direct("onyx")))
  }

  test("trigram MATCH rejects positional operators; empty query is empty") {
    val store = freshStore()
    Trigram.upsertWithIndex(store, "docs", corpus, "doc_id", "text")
    // bare * would strip to the EMPTY needle (contains("") matches
    // every row) — rejected like FTS5, not silently match-all
    for (bad <- Seq("NEAR(a b)", "text:quick", "^quick", "*", "quick OR *"))
      intercept[IllegalArgumentException] {
        Trigram.matchSearch(store, "docs", "doc_id", "text", bad)
      }
    assert(Trigram.matchSearch(store, "docs", "doc_id", "text", "  ")
      .collect().isEmpty)
  }

  test("maintenance equals a from-scratch rebuild of the merged corpus") {
    val store = freshStore()
    Trigram.upsertWithIndex(store, "docs", corpus, "doc_id", "text")
    Trigram.upsertWithIndex(store, "docs",
      Seq((2L, "entirely new words here"), (6L, "a brand new document"))
        .toDF("doc_id", "text"), "doc_id", "text")

    val rebuilt = freshStore()
    Trigram.upsertWithIndex(rebuilt, "docs",
      store.read("docs"), "doc_id", "text")
    def rows(s: TableStore) = s.read(Trigram.indexName("docs"))
      .select(col("pk"), col("g"), col("pk_bucket").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows(store) === rows(rebuilt))
  }

  test("a governed re-upsert that empties a bucket advances the index one epoch") {
    // every partition overwrite and every partition drop outside a
    // transaction is its own commit: split, the epoch between them
    // would still serve the emptied bucket's old grams
    val store = freshStore()
    val idx = Trigram.indexName("docs")
    Trigram.upsertWithIndex(store, "docs", corpus, "doc_id", "text")
    store.ensureGoverned(Seq(idx))
    // a doc alone in its bucket, and one other doc that keeps grams
    val solo = store.read(idx).groupBy(col("pk_bucket"))
      .agg(countDistinct(col("pk")).as("n"), min(col("pk")).as("pk"))
      .filter(col("n") === 1L).select(col("pk")).head.getLong(0)
    val mover = (1L to 4L).find(_ != solo).get
    val start = store.log.epochs().max
    Trigram.upsertWithIndex(store, "docs",
      Seq((solo, "zz"), (mover, "an entirely new sentence")).toDF("doc_id", "text"),
      "doc_id", "text")
    val advanced = store.log.epochs().filter(_ > start)
    assert(advanced === Seq(start + 1), s"index maintenance committed epochs $advanced")
    advanced.foreach { e =>
      assert(store.readEpoch(idx, e).filter(col("pk") === solo).count() === 0L,
        s"epoch $e still serves the emptied bucket's old grams")
    }
    assert(Trigram.substringSearch(store, "docs", "doc_id", "text", "entirely new")
      .collect().map(_.getLong(0)).toSeq === Seq(mover))
  }

  test("file skipping: a needle probe opens a strict subset of postings files") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val store = freshStore()
    // per-doc letter regions keep each bucket file's g envelope narrow
    val docs = (0 until 16).map { i =>
      val l = ('a' + i).toChar
      (i.toLong, (1 to 5).map(j => s"$l$l$l$l$j").mkString(" "))
    }.toDF("doc_id", "text")
    Trigram.upsertWithIndex(store, "docs", docs, "doc_id", "text")

    def hits(needle: String): Set[Long] =
      Trigram.substringSearch(store, "docs", "doc_id", "text", needle)
        .collect().map(_.getLong(0)).toSet
    def scanned(needle: String): Set[String] =
      Trigram.substringSearch(store, "docs", "doc_id", "text", needle)
        .queryExecution.optimizedPlan.collect {
          case lr: LogicalRelation => lr.relation match {
            case fs: HadoopFsRelation if fs.location.rootPaths.exists(
                _.toString.contains(Trigram.indexName("docs"))) =>
              fs.location.inputFiles.toSet
            case _ => Set.empty[String]
          }
        }.flatten.toSet

    // probe the LAST letter region: gram mins are pinned to the
    // space-gram region in every file (grams span word boundaries),
    // so pruning is max-side — buckets whose docs all precede 'p'
    // provably cannot hold a "pp…" gram
    val expect = hits("pppp1")
    assert(expect === Set(15L))
    val allFiles = scanned("pppp1")
    assert(allFiles.size >= 6, s"want a multi-file index, got ${allFiles.size}")
    Trigram.enableFileSkipping(store, "docs")
    assert(hits("pppp1") === expect)
    val pruned = scanned("pppp1")
    assert(pruned.nonEmpty && pruned.size < allFiles.size,
      s"no file-level skip: ${pruned.size} of ${allFiles.size}")
    // an incremental batch keeps the manifest fresh
    Trigram.upsertWithIndex(store, "docs",
      Seq((100L, "zzznewgram here")).toDF("doc_id", "text"), "doc_id", "text")
    assert(hits("zzznewgram") === Set(100L))
    assert(scanned("zzznewgram").size < allFiles.size + 1)
    assert(Doctor.check(store).filter(_.component == "file-stats") === Seq.empty)
  }
}
