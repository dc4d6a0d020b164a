package graft

import org.apache.spark.sql.functions._

import graft.store.{Bin, Doctor, IvfBin, Sq, TableStore}

/** End-to-end wiring of the CLI verb dispatch — every verb is a thin
  * wrapper, and thin wrappers are exactly where an arg-index typo or
  * a renamed store method ships unnoticed (nothing else executes
  * them). Drives `Cli.run` in-process against the shared session and
  * asserts the store side-effects, not the printed text.
  */
class CliSpec extends SparkSpec {
  import spark.implicits._

  // 64 = the pq/ivfpq verbs' default slices×subDim geometry
  private val dims = 64

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-cli").toString

  private def seedVectors(dir: String): TableStore = {
    val store = new TableStore(spark, dir)
    val vecs = (0 until 60).map { i =>
      (i.toLong, (0 until dims).map(d =>
        math.sin((i % 5) * dims + d) * 10.0 + (i * 31 + d * 7) % 13 * 0.1))
    }.toDF("vec_id", "e")
    store.overwrite("vectors", vecs)
    store
  }

  private def cli(args: String*): Unit = Cli.run(spark, args.toArray)

  test("vector index verbs: build, search, and rerank through the dispatch") {
    val dir = freshDir()
    val store = seedVectors(dir)

    cli("bin-index", dir, "vectors", "vec_id", "e")
    assert(store.read(Bin.codesName("vectors")).count() === 60L)
    cli("bin-search", dir, "vectors", "vec_id", "e", "3", "5")
    cli("bin-rerank", dir, "vectors", "vec_id", "e", "3", "5", "20")

    cli("ivfbin-index", dir, "vectors", "vec_id", "e", "5", "2")
    assert(store.read(IvfBin.codesName("vectors")).count() === 60L)
    assert(store.read(IvfBin.centsName("vectors")).count() === 5L)
    cli("ivfbin-search", dir, "vectors", "vec_id", "e", "3", "5", "2")
    cli("ivfbin-rerank", dir, "vectors", "vec_id", "e", "3", "5", "20", "2")

    cli("sq-index", dir, "vectors", "vec_id", "e")
    assert(store.read(Sq.codesName("vectors")).count() === 60L)
    assert(store.read(Sq.scalesName("vectors")).count() === dims.toLong)
    cli("sq-search", dir, "vectors", "vec_id", "e", "3", "5")
    // filtered verb: predicate column compared as string on the base
    // table (vec_id % nothing here — reuse vec_id itself as a trivial
    // equality predicate: allowed = the single row vec_id 7)
    cli("sq-search-filtered", dir, "vectors", "vec_id", "e", "3", "5",
      "vec_id", "7")
    cli("bin-search-filtered", dir, "vectors", "vec_id", "e", "3", "5",
      "vec_id", "7")
    cli("ivfbin-search-filtered", dir, "vectors", "vec_id", "e", "3", "5",
      "vec_id", "7")

    cli("ivf-index", dir, "vectors", "vec_id", "e")
    cli("ivf-search-filtered", dir, "vectors", "vec_id", "e", "3", "5",
      "vec_id", "7")
    cli("pq-index", dir, "vectors", "vec_id", "e")
    cli("pq-search-filtered", dir, "vectors", "vec_id", "e", "3", "5",
      "vec_id", "7")
    cli("ivfpq-index", dir, "vectors", "vec_id", "e")
    cli("ivfpq-search-filtered", dir, "vectors", "vec_id", "e", "3", "5",
      "vec_id", "7")

    // everything the verbs built passes integrity
    assert(Doctor.check(store) === Seq.empty)
  }

  test("doctor verb: --suggest names fragmentation, --repair clears it") {
    val dir = freshDir()
    val store = new TableStore(spark, dir)
    store.overwrite("frag",
      (0 until 400).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartition(40))
    assert(Doctor.suggest(store).nonEmpty)
    cli("doctor", dir, "--suggest", "--repair")
    assert(Doctor.suggest(store) === Seq.empty)
    assert(store.read("frag").count() === 400L)
  }

  test("doctor --repair heals index coverage through the dispatch") {
    val dir = freshDir()
    val store = new TableStore(spark, dir)
    store.ensureBucketed("docs", Seq("id"), 2)
    val rows = (0 until 10).map(i =>
      (i.toLong, (0 until 4).map(d => (i * 4 + d).toDouble)))
      .toDF("id", "e")
    store.upsert("docs", rows, Seq("id"))
    graft.store.Sq.buildIndex(store, "docs", store.read("docs")
      .select(col("id"), col("e").cast("array<double>").as("e")), "id", "e")
    // diverge out of band: a bare library upsert misses the codes
    store.upsert("docs",
      Seq((50L, (0 until 4).map(_.toDouble))).toDF("id", "e"), Seq("id"))
    assert(Doctor.check(store).nonEmpty)
    cli("doctor", dir, "--repair")
    assert(Doctor.check(store) === Seq.empty,
      "the CLI repair must run the coverage heal")
  }

  test("quantiles verb reads the streaming sample through the dispatch") {
    val dir = freshDir()
    val store = new TableStore(spark, dir)
    graft.streaming.StreamQuantiles
      .quantilesSink(store, "docs", "grp", "id", "v", 8)(
        (0 until 30).map(i => ("g", i.toLong, i.toLong)).toDF("grp", "id", "v"), 0L)
    cli("quantiles", dir, "docs", "0.5,0.9")
    cli("fingerprint", dir, graft.streaming.StreamQuantiles.sampleName("docs"))
    // dispatch read the sample table the sink wrote (and doctor is clean)
    assert(store.read(graft.streaming.StreamQuantiles.sampleName("docs"))
      .count() === 8L)
    assert(Doctor.check(store) === Seq.empty)
  }

  test("govern / vacuum-epochs / estimate / hybrid-search / lsh-pairs-filtered dispatch") {
    val dir = freshDir()
    val store = new TableStore(spark, dir)
    val docs = (0 until 30).map { i =>
      val text = if (i < 5) s"alpha beta document number $i words"
        else s"unrelated filler text item $i"
      (i.toLong, text, (0 until 8).map(d => math.cos(i * 8.0 + d)))
    }.toDF("pk", "text", "e")
    store.overwrite("docs", docs)

    cli("govern", dir, "docs")
    assert(store.governed === Set("docs"))
    // a governed write commits through the pointer; vacuum reclaims
    store.upsert("docs",
      Seq((100L, "alpha beta fresh", (0 until 8).map(_ => 0.5)))
        .toDF("pk", "text", "e"), Seq("pk"))
    assert(store.read("docs").count() === 31L)
    cli("vacuum-epochs", dir)
    assert(store.read("docs").count() === 31L)

    cli("refresh-stats", dir, "docs")
    cli("estimate", dir, "docs", "pk:0:10")

    cli("fts-index", dir, "docs", "pk", "text")
    cli("sq-index", dir, "docs", "pk", "e")
    val qv = (0 until 8).map(d => math.cos(d.toDouble)) // ≈ doc 0's vector
    cli("hybrid-search", dir, "docs", "5", qv.mkString(","), "alpha", "beta")
    cli("hybrid-search", dir, "docs", "5", qv.mkString(","),
      "--filter", "pk", "2", "alpha", "beta")

    cli("lsh-index", dir, "docs", "pk", "text")
    cli("lsh-pairs-filtered", dir, "docs", "1,2,3", "0")
    cli("epochs", dir)
    cli("show-epoch", dir, "docs", store.log.epochs().head.toString, "3")
    cli("diff-epochs", dir, "docs", store.log.epochs().head.toString,
      store.log.epochs().last.toString)
    cli("consume", dir, "docs", "ops", "3")
    assert(graft.store.EpochFollower.cursor(store, "docs", "ops").nonEmpty)
    cli("consume", dir, "docs", "ops", "3") // current: no-op
    cli("drop-consumer", dir, "docs", "ops")
    assert(graft.store.EpochFollower.cursor(store, "docs", "ops").isEmpty)
    // round-11 commit-log verbs: op history, row-level changes, CDC consume
    cli("history", dir, "docs", store.log.epochs().head.toString)
    cli("changes", dir, "docs", store.log.epochs().head.toString,
      store.log.epochs().last.toString, "pk")
    cli("consume-changes", dir, "docs", "cdc", "pk", "3")
    assert(graft.store.EpochFollower.cursor(store, "docs", "cdc").nonEmpty)
    cli("consume-changes", dir, "docs", "cdc", "pk", "3") // current: no-op
    cli("drop-consumer", dir, "docs", "cdc")
    // delete verbs: rows gone, postings retracted, stats decremented
    cli("fts-delete", dir, "docs", "pk", "0")
    assert(store.read("docs").filter(col("pk") === 0L).isEmpty)
    assert(graft.store.Fts.search(spark, store, "docs", "alpha")
      .filter(col("pk") === 0L).isEmpty)
    cli("delete", dir, "docs", "pk", "29")
    assert(store.read("docs").filter(col("pk") === 29L).isEmpty)
    // cascade: one verb retracts pks from EVERY maintained index —
    // without it Doctor's coverage invariant (correctly) flags the SQ
    // index still ranking the deleted vectors; idempotent over the
    // already-deleted 0 and 29, so it also heals their stale codes
    cli("delete-cascade", dir, "docs", "pk", "0,29,28")
    assert(store.read("docs").filter(col("pk") === 28L).isEmpty)
    assert(store.read(Sq.codesName("docs"))
      .filter(col("pk").isin(0L, 28L, 29L)).isEmpty)
    // CDC FTS mirror in one verb: full table on registration, then a
    // delete propagates as a retraction (no ghosts)
    cli("follow-fts", dir, "docs", "m1", "pk", "text")
    assert(store.read("docs_mirror").count() === store.read("docs").count())
    cli("delete-cascade", dir, "docs", "pk", "1")
    cli("follow-fts", dir, "docs", "m1", "pk", "text")
    assert(store.read("docs_mirror").filter(col("pk") === 1L).isEmpty)
    assert(store.read(graft.store.Fts.indexName("docs_mirror"))
      .filter(col("pk") === 1L).isEmpty)
    graft.store.EpochFollower.drop(store, "docs", "m1")
    // named release: tag, list, read-by-tag, drop — vacuum-root
    // semantics are pinned in SnapshotOccSpec; here the dispatch
    cli("tag", dir, "release-v1")
    assert(store.log.tags().contains("release-v1"))
    cli("release", dir, "corpus-2026-08")
    assert(store.log.tags().contains("corpus-2026-08"))
    cli("tags", dir)
    cli("show-tag", dir, "docs", "release-v1", "3")
    cli("drop-tag", dir, "release-v1")
    cli("drop-tag", dir, "corpus-2026-08")
    assert(store.log.tags() === Map.empty)
    assert(Doctor.check(store) === Seq.empty)
  }

  test("classify verb scores a table through the maintained centroid model") {
    val dir = freshDir()
    val store = new TableStore(spark, dir)
    val docs = (0 until 20).map { i =>
      val text =
        if (i < 12) ("alpha beta " * 30) + "the of and that extra tokens here"
        else s"tiny$i"
      (i.toLong, text)
    }.toDF("id", "text")
    store.overwrite("corpus", docs)
    graft.streaming.StreamCentroid.centroidSink(store, "docs", "text")(docs, 0L)
    cli("classify", dir, "docs", "corpus", "id", "text", "5")
    assert(store.read(graft.streaming.StreamCentroid.modelName("docs"))
      .count() >= 2L)
    assert(Doctor.check(store) === Seq.empty)
  }

  test("index-retrain and vacuum retention window through the dispatch") {
    val dir = freshDir()
    val store = seedVectors(dir)
    cli("ivf-index", dir, "vectors", "vec_id", "e", "4", "3")
    // heavy post-training growth from an unseen region → drift
    val more = (100 until 300).map { i =>
      (i.toLong, (0 until dims).map(d => math.cos(i * 3.0 + d) * 5.0))
    }.toDF("vec_id", "e")
    graft.store.Ivf.upsertWithCells(store, "vectors", more, "vec_id", "e")
    assert(Doctor.suggest(store).exists(_.component == "ivf-drift"))
    cli("index-retrain", dir, "vectors_ivf")
    assert(Doctor.suggest(store).filter(_.component == "ivf-drift") === Seq.empty)

    // vacuum with a retention window keeps the superseded epoch
    // readable for in-flight readers; age-0 reclaims it
    cli("govern", dir, "vectors")
    val e1 = store.log.epochs().last
    store.upsert("vectors",
      Seq((999L, (0 until dims).map(_ => 0.1))).toDF("vec_id", "e"),
      Seq("vec_id"))
    cli("vacuum-epochs", dir, "60")
    assert(store.log.epochs().contains(e1),
      "retention window failed to keep the superseded epoch")
    cli("vacuum-epochs", dir)
    assert(store.log.epochs() === Seq(e1 + 1))
  }

  test("an unknown verb fails loudly instead of doing nothing") {
    val ex = intercept[RuntimeException] { cli("frobnicate", freshDir()) }
    assert(ex.getMessage.contains("unknown command"))
  }

  test("build-corpus: one command yields a tagged, fingerprinted governed release") {
    val dir = freshDir()
    cli("build-corpus", dir, "/root/testdata/sf0.001", "rel-1")
    val store = new TableStore(spark, dir)
    assert(store.governed.contains("corpus_release"))
    val n = store.read("corpus_release").count()
    assert(n > 0, "the release mixture is empty")
    assert(store.read("corpus_release").columns.toSet ===
      Set("doc_id", "source", "text", "n_tokens"))
    // the release is pinned: the tag re-serves the exact rows
    assert(store.log.tags().contains("rel-1"))
    assert(store.readTag("corpus_release", "rel-1").count() === n)
    val (fpRows, _) = store.contentFingerprint("corpus_release")
    assert(fpRows === n)
    // the scrub stage is IN the released bytes: blocklisted entities
    // are masked, so the raw tokens never reach the corpus
    assert(store.read("corpus_release")
      .filter(col("text").rlike("\\b(customer|supplier)\\b"))
      .count() === 0L)
    // a second release under a new name pins its own epoch
    cli("build-corpus", dir, "/root/testdata/sf0.001", "rel-2", "400")
    assert(Set("rel-1", "rel-2").subsetOf(store.log.tags().keySet))
    assert(store.readTag("corpus_release", "rel-1").count() === n)
  }

  test("sql verb: SELECT and INSERT through the mounted catalog") {
    val dir = freshDir()
    val store = new TableStore(spark, dir)
    store.ensureBucketed("kv", Seq("id"), 4)
    store.ensureGoverned(Seq("kv"))
    store.upsert("kv", Seq((1L, "a")).toDF("id", "v"), Seq("id"))

    // INSERT routes through the store's upsert; SELECT just prints —
    // assert the store side-effect like every other verb
    cli("sql", dir, "INSERT INTO graft.kv VALUES (2, 'b'), (1, 'a2')")
    assert(store.read("kv").select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "a2"), (2L, "b")))
    cli("sql", dir, "SELECT * FROM graft.`kv$history`")

    // the round-13 lifecycle statements ride the same mounted catalog:
    // CTAS declares a governed bucketed table, DELETE cascades by key
    cli("sql", dir, "CREATE TABLE graft.kv2 " +
      "TBLPROPERTIES('pk'='id','buckets'='2') " +
      "AS SELECT id, upper(v) AS v FROM graft.kv")
    assert(store.bucketLayoutOf("kv2") === Some((2, Seq("id"))))
    assert(store.read("kv2").select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "A2"), (2L, "B")))
    cli("sql", dir, "DELETE FROM graft.kv2 WHERE id = 1")
    assert(store.read("kv2").select(col("id").cast("long")).collect()
      .map(_.getLong(0)).toSeq === Seq(2L))

    // UPDATE and MERGE ride the extensions-injected DML interception
    // (the CLI session is built with GraftExtensions, as is this one)
    cli("sql", dir, "UPDATE graft.kv SET v = concat(v, '!') WHERE id = 1")
    assert(store.read("kv").filter(col("id") === 1L)
      .select("v").collect().head.getString(0) === "a2!")
    cli("sql", dir,
      "MERGE INTO graft.kv t USING (SELECT 2L AS id, 'B2' AS v " +
        "UNION ALL SELECT 3L, 'c') s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(store.read("kv").select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "a2!"), (2L, "B2"), (3L, "c")))

    // round-14 lifecycle closers ride the same session: metadata-only
    // ALTER ADD COLUMN, the window heal procedure, and DROP TABLE
    cli("sql", dir, "ALTER TABLE graft.kv ADD COLUMN score DOUBLE")
    cli("sql", dir, "UPDATE graft.kv SET score = 1.5 WHERE id = 2")
    assert(store.read("kv").filter(col("id") === 2L)
      .select("score").collect().head.getDouble(0) === 1.5)
    cli("sql", dir, s"CALL graft.system.heal_window('kv', 0)")
    cli("sql", dir, "DROP TABLE graft.kv2")
    assert(!store.tableNames.contains("kv2"),
      "DROP through the CLI must remove the table")
  }
}
