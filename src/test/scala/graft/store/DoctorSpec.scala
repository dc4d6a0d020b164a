package graft.store

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Doctor integrity checks: a healthy store reports nothing; each
  * seeded corruption (torn FTS commit, desynced LSH/IVF maps,
  * mis-shaped PQ codes) is named specifically.
  */
class DoctorSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 16

  private def freshStore(): TableStore =
    new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-doc").toString)

  private def builtStore(): TableStore = {
    val store = freshStore()
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    Fts.upsertWithIndex(store, "documents",
      docs.toDF("id", "full_text"), "id", "full_text", buckets = 4)
    Lsh.buildIndex(store, "documents", docs, "doc_id", "text")
    val vecs = (0 until 20).map(i =>
      (i.toLong, (0 until dims).map(d => ((i * 7 + d) % 11).toDouble)))
      .toDF("vec_id", "e")
    Ivf.buildIndex(store, "vectors", vecs, "vec_id", "e", k = 2, iters = 1)
    Pq.buildIndex(store, "vectors", vecs, "vec_id", "e",
      slices = 4, subDim = 4, k = 4, iters = 1)
    IvfPq.buildIndex(store, "vectors", vecs, "vec_id", "e",
      kCells = 2, slices = 4, subDim = 4, kCodes = 4, iters = 1)
    Trigram.upsertWithIndex(store, "tdocs",
      docs.toDF("doc_id", "text"), "doc_id", "text")
    store
  }

  test("a freshly built store is clean") {
    assert(Doctor.check(builtStore()) === Seq.empty)
  }

  test("each seeded corruption is detected and named") {
    val store = builtStore()

    // FTS torn commit: bump the epoch marker without updating stats
    val e = store.read(Fts.epochName("documents")).head.getLong(0)
    store.overwrite(Fts.epochName("documents"), Seq(e + 1).toDF("epoch"))
    // LSH map desync: drop a map row behind the index's back
    store.overwrite(Lsh.mapName("documents"),
      store.read(Lsh.mapName("documents")).limit(0)
        .unionByName(store.read(Lsh.mapName("documents"))
          .orderBy(col("pk")).limit(1)))
    // IVF map desync: point a pk at a wrong cell
    store.overwrite(Ivf.mapName("vectors"),
      store.read(Ivf.mapName("vectors"))
        .withColumn("cell", col("cell") + 1000))
    // PQ shape break: truncate every code blob
    store.overwrite(Pq.codesName("vectors"),
      store.read(Pq.codesName("vectors"))
        .withColumn("codes", expr("substring(codes, 1, 2)")))
    // IVF+PQ map desync: point every pk at a wrong cell
    store.overwrite(IvfPq.mapName("vectors"),
      store.read(IvfPq.mapName("vectors"))
        .withColumn("cell", col("cell") + 1000))
    // trigram gram-shape break: truncate every gram to 2 chars
    store.overwrite(Trigram.indexName("tdocs"),
      store.read(Trigram.indexName("tdocs"))
        .withColumn("g", substring(col("g"), 1, 2)))

    val issues = Doctor.check(store)
    val byComponent = issues.groupBy(_.component)
    assert(byComponent.keySet ===
      Set("fts", "lsh", "ivf", "pq", "ivfpq", "trigram"))
    assert(byComponent("trigram").exists(_.problem.contains("3-char")))
    assert(byComponent("fts").exists(_.problem.contains("torn commit")))
    assert(byComponent("lsh").exists(_.problem.contains("map out of sync")))
    assert(byComponent("ivf").exists(_.problem.contains("map out of sync")))
    assert(byComponent("pq").exists(_.problem.contains("subspaces")))
    assert(byComponent("ivfpq").exists(_.problem.contains("map out of sync")))
  }

  test("sketch and decontamination artifacts are checked") {
    import graft.streaming.{StreamDecontaminate, StreamHeavyHitters}
    val store = freshStore()
    // healthy installs report nothing
    StreamDecontaminate.install(store, "docs",
      Seq("the quick brown fox jumps over the lazy dog").toDF("text"),
      "text", expectedItems = 64L, numBits = 640L)
    StreamHeavyHitters.heavyHittersSink(store, "terms", "term", 8)(
      Seq("a", "a", "b").toDF("term"), 0L)
    assert(Doctor.check(store) === Seq.empty)

    // one rewrite seeds BOTH hh corruptions: a non-positive counter
    // (the combine never writes those) and a missing batch_id column
    // (redelivery protection gone)
    store.overwrite(StreamHeavyHitters.sketchName("terms"),
      Seq(("a", 0L)).toDF("item", "cnt"))
    // desync the decon artifacts: rewrite grams without re-installing
    store.overwrite(StreamDecontaminate.gramsName("docs"),
      Seq("grams the bloom has never seen at all x y z").toDF("gram"))

    val issues = Doctor.check(store)
    val byComponent = issues.groupBy(_.component)
    assert(byComponent.keySet === Set("heavy-hitters", "decontaminate"))
    assert(byComponent("heavy-hitters").exists(_.problem.contains("batch_id")))
    assert(byComponent("heavy-hitters").exists(_.problem.contains("non-positive")))
    assert(byComponent("decontaminate").exists(_.problem.contains("NOT covered")))
  }

  test("a non-sketch-shaped *_hh table is an Issue, not a crash") {
    val store = freshStore()
    // out-of-band rewrite with neither item nor cnt: the check must
    // report it rather than die on an unresolved-column error
    store.overwrite("terms_hh", Seq((0L, "x")).toDF("batch_id", "whatever"))
    val issues = Doctor.check(store)
    assert(issues.exists(i => i.component == "heavy-hitters"
      && i.problem.contains("MG-counter-shaped")))
  }

  test("an hh sketch without run_id is flagged (checkpoint-reset skip)") {
    val store = freshStore()
    store.overwrite("terms_hh", Seq(("a", 2L, 0L)).toDF("item", "cnt", "batch_id"))
    val issues = Doctor.check(store)
    assert(issues.exists(i => i.component == "heavy-hitters"
      && i.problem.contains("run_id")))
  }

  test("stale FTS stats are flagged (BM25 would score wrong)") {
    val store = builtStore()
    val st = store.read(Fts.statsName("documents"))
    store.overwrite(Fts.statsName("documents"),
      st.withColumn("n_docs", col("n_docs") + 5))
    val issues = Doctor.check(store).filter(_.component == "fts")
    assert(issues.exists(_.problem.contains("stale stats")))
  }

  test("seeded SQ corruption is named (mis-shaped codes, missing scales)") {
    val store = freshStore()
    val vecs = (0 until 20).map(i =>
      (i.toLong, (0 until dims).map(d => ((i * 7 + d) % 11).toDouble)))
      .toDF("vec_id", "e")
    Sq.buildIndex(store, "vectors", vecs, "vec_id", "e")
    assert(Doctor.check(store).filter(_.component == "sq").isEmpty)
    // a code row that doesn't span the trained dims
    val codes = store.read(Sq.codesName("vectors"))
    store.overwrite(Sq.codesName("vectors"), Iteration.materialize(
      codes.withColumn("codes",
        when(col("pk") === 3L, expr("substring(codes, 1, 4)"))
          .otherwise(col("codes")))))
    assert(Doctor.check(store).filter(_.component == "sq")
      .exists(_.problem.contains("don't fit")))
    // missing scales: codes uninterpretable
    store.drop(Sq.scalesName("vectors"))
    assert(Doctor.check(store).filter(_.component == "sq")
      .exists(_.problem.contains("scales missing")))
  }

  test("a code table that doesn't cover the base table is named") {
    // the one corruption no per-row artifact check can see: a MISSING
    // code row makes search silently skip that vector — only count
    // parity against the base table catches it
    val store = freshStore()
    val vecs = (0 until 20).map(i =>
      (i.toLong, (0 until dims).map(d => ((i * 7 + d) % 11).toDouble)))
      .toDF("vec_id", "e")
    Sq.buildIndex(store, "vectors", vecs, "vec_id", "e")
    Bin.buildIndex(store, "bvectors", vecs, "vec_id", "e")
    assert(Doctor.check(store) === Seq.empty)
    // out-of-band: drop one SQ code row, add one ghost bin blob
    store.overwrite(Sq.codesName("vectors"), Iteration.materialize(
      store.read(Sq.codesName("vectors")).filter(col("pk") =!= 3L)))
    store.upsert(Bin.codesName("bvectors"),
      Bin.encode(Seq((99L, (0 until dims).map(_.toDouble)))
        .toDF("vec_id", "e"), "vec_id", "e"), Seq("pk"))
    val issues = Doctor.check(store)
    assert(issues.exists(i => i.component == "sq" &&
      i.problem.contains("covers 19 of 20")), issues.toString)
    assert(issues.exists(i => i.component == "bin" &&
      i.problem.contains("covers 21 of 20")), issues.toString)
  }

  test("a legacy array<int> code table is named, not crashed on") {
    // pre-round-8 indexes stored codes as array<int>; the blob-shaped
    // length check would reject that type at ANALYSIS time and kill
    // the whole doctor pass — the layout mismatch must surface as a
    // finding instead
    val store = freshStore()
    val vecs = (0 until 20).map(i =>
      (i.toLong, (0 until dims).map(d => ((i * 7 + d) % 11).toDouble)))
      .toDF("vec_id", "e")
    Sq.buildIndex(store, "vectors", vecs, "vec_id", "e")
    store.overwrite(Sq.codesName("vectors"),
      (0 until 20).map(i => (i.toLong, Seq(1, 2, 3), 1.0))
        .toDF("pk", "codes", "dnorm"))
    val issues = Doctor.check(store).filter(_.component == "sq")
    assert(issues.exists(_.problem.contains("legacy index")), issues)
  }

  test("seeded CDC ledger corruption is named (dup fp, impossible stats)") {
    val store = freshStore()
    store.overwrite("docs_cdc_ledger",
      Seq(("aa", 1L, 10L), ("aa", 2L, 10L), ("bb", 1L, 5L))
        .toDF("fp", "doc_id", "clen"))
    store.overwrite("docs_cdc_stats",
      Seq((1L, 4L, 100L, 5L), (2L, 3L, 80L, 1L))
        .toDF("doc_id", "n_chunks", "n_chars", "n_seen"))
    val issues = Doctor.check(store).filter(_.component == "cdc-dedup")
    assert(issues.exists(_.problem.contains("multiple ledger rows")))
    assert(issues.exists(_.problem.contains("n_seen")))
    // a healthy pair reports nothing
    val ok = freshStore()
    ok.overwrite("docs_cdc_ledger",
      Seq(("aa", 1L, 10L), ("bb", 1L, 5L)).toDF("fp", "doc_id", "clen"))
    ok.overwrite("docs_cdc_stats",
      Seq((1L, 4L, 100L, 2L)).toDF("doc_id", "n_chunks", "n_chars", "n_seen"))
    assert(Doctor.check(ok).filter(_.component == "cdc-dedup").isEmpty)
  }

  test("seeded bottom-k sample corruption is named (drifted hash, dup key)") {
    val store = freshStore()
    // a healthy sample built by the sink itself reports nothing
    val sink = graft.streaming.StreamQuantiles
      .quantilesSink(store, "docs", "grp", "id", "v", 8)
    sink((0 until 30).map(i => ("g", i.toLong, i.toLong)).toDF("grp", "id", "v"), 0L)
    assert(Doctor.check(store).filter(_.component == "quantile-sample").isEmpty)

    // drift one hash out-of-band: the sample is no longer a function
    // of the data and every quantile it answers is silently biased
    val sample = store.read("docs_bks")
    store.overwrite("docs_bks", sample.withColumn("h",
      when(col("tie") === sample.select(min("tie")).head.getLong(0),
        col("h") + 1).otherwise(col("h"))))
    val drifted = Doctor.check(store).filter(_.component == "quantile-sample")
    assert(drifted.exists(_.problem.contains("does not recompute")), drifted)

    // duplicate (grp, tie) rows: set-union merge never writes those
    val dup = freshStore()
    dup.overwrite("docs_bks",
      Seq(("g", 10L, 1L, 5L, 8), ("g", 10L, 1L, 6L, 8))
        .toDF("grp", "h", "tie", "v", "k"))
    val issues = Doctor.check(dup).filter(_.component == "quantile-sample")
    assert(issues.exists(_.problem.contains("multiple sample rows")), issues)

    // a group over the declared k bound: the eviction merge never
    // writes that
    val over = freshStore()
    over.overwrite("docs_bks",
      (0 until 4).map(i => ("g", 100L + i, i.toLong, i.toLong, 2))
        .toDF("grp", "h", "tie", "v", "k"))
    assert(Doctor.check(over).filter(_.component == "quantile-sample")
      .exists(_.problem.contains("more rows than the declared k")))

    // a non-sample-shaped *_bks table is an Issue, not a crash
    val shapeless = freshStore()
    shapeless.overwrite("docs_bks", Seq((1L, "x")).toDF("pk", "junk"))
    assert(Doctor.check(shapeless).filter(_.component == "quantile-sample")
      .exists(_.problem.contains("missing column")))
  }

  test("suggest flags a fragmented table and the suggested compact clears it") {
    val store = freshStore()
    // deliberately fragmented: 40 files for a few KB of rows — the
    // shape repeated small upserts leave behind
    store.overwrite("frag",
      (0 until 400).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartition(40))
    assert(store.fileStats("frag")._1 >= 40L)
    val sug = Doctor.suggest(store)
    assert(sug.exists(s => s.table == "frag" &&
      s.problem.contains("fragmentation") && s.problem.contains("compact")),
      s"fragmented table not flagged: $sug")
    // suggestions are advice, not integrity findings
    assert(!Doctor.check(store).exists(_.component == "compact"))

    // the suggested maintenance clears the flag
    store.compact("frag")
    assert(!Doctor.suggest(store).exists(_.table == "frag"),
      s"still flagged after compact: ${Doctor.suggest(store)}")
  }

  test("suggest respects the one-file-per-bucket floor and names compact-z") {
    val store = freshStore()
    // a freshly compacted BUCKETED table holds ~one file per occupied
    // bucket — far more than ceil(bytes/target) but NOT fragmentation
    store.upsertBucketed("b",
      (0 until 400).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      Seq("id"), buckets = 24)
    store.compact("b")
    assert(!Doctor.suggest(store).exists(_.table == "b"),
      s"packed bucketed table wrongly flagged: ${Doctor.suggest(store)}")

    // fragment it out-of-band: many tiny files PER bucket dir is what
    // the threshold must catch even with the per-partition floor up
    val bdata = Iteration.materialize(store.read("b").drop("pk_bucket")
      .withColumn("pk_bucket", pmod(xxhash64(col("id")), lit(24L))))
    store.overwrite("b", bdata.repartition(96), Seq("pk_bucket"))
    val (bFiles, _) = store.fileStats("b")
    assert(bFiles > 48L, s"fixture did not fragment: $bFiles files")
    val frag = Doctor.suggest(store)
    assert(frag.exists(_.table == "b"),
      s"fragmented bucketed table not flagged: $frag")
    // and the suggested compact clears it back to the bucket floor
    store.compact("b")
    assert(!Doctor.suggest(store).exists(_.table == "b"),
      s"still flagged after compact: ${Doctor.suggest(store)}")

    // a z-ordered table's suggestion names the z-aware verb, so the
    // clustering isn't silently lost by a plain compact
    store.overwrite("z",
      (0 until 300).map(i => (i.toLong, (i * 7 % 100).toLong, s"v$i"))
        .toDF("id", "x", "v"))
    store.compactZorder("z", Seq("x"), bits = 8)
    // fragment out-of-band (the overwrite swap drops the marker), then
    // re-declare the clustering the fragmenting writer claimed to keep
    store.overwrite("z",
      Iteration.materialize(store.read("z")).repartition(30))
    val tdir = new org.apache.hadoop.fs.Path(
      store.dataFiles("z").head).getParent
    val fs = tdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(tdir, "_graft_zorder"), true)
    out.write("zcols=x\nbits=8\n".getBytes("UTF-8"))
    out.close()
    val zSug = Doctor.suggest(store).filter(_.table == "z")
    assert(zSug.exists(_.problem.contains("compact-z")),
      s"z-ordered table's suggestion should name compact-z: $zSug")
  }

  test("a name-colliding or legacy-layout _bin table is named, not crashed on") {
    // the legacyCodes contract extended to the sign-blob family: a
    // user table that merely ENDS in _bin (no bits column), or a
    // bits column rewritten out-of-band as non-binary, must surface
    // as a finding — not kill the whole doctor pass at analysis time
    val store = freshStore()
    store.overwrite("recycle_bin",
      Seq((1L, "old"), (2L, "stuff")).toDF("id", "what"))
    val noBits = Doctor.check(store).filter(_.component == "bin")
    assert(noBits.exists(_.problem.contains("no `bits` column")), noBits)

    val store2 = freshStore()
    store2.overwrite("vecs_bin",
      Seq((1L, Seq(1, 0, 1))).toDF("pk", "bits"))
    val wrongType = Doctor.check(store2).filter(_.component == "bin")
    assert(wrongType.exists(_.problem.contains("not the binary blob")),
      wrongType)
  }

  test("repair executes every suggestion layout-aware and is idempotent") {
    val store = freshStore()
    // one plain fragmented table, one fragmented Z-ORDERED table
    store.overwrite("frag",
      (0 until 400).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartition(40))
    store.overwrite("z",
      (0 until 300).map(i => (i.toLong, (i * 7 % 100).toLong, s"v$i"))
        .toDF("id", "x", "v"))
    store.compactZorder("z", Seq("x"), bits = 8)
    store.overwrite("z",
      Iteration.materialize(store.read("z")).repartition(30))
    val tdir = new org.apache.hadoop.fs.Path(
      store.dataFiles("z").head).getParent
    val fs = tdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(tdir, "_graft_zorder"), true)
    out.write("zcols=x\nbits=8\n".getBytes("UTF-8"))
    out.close()
    assert(Doctor.suggest(store).map(_.table).toSet === Set("frag", "z"))
    val rowsBefore = ("frag", "z") match { case (a, b) =>
      (store.read(a).collect().map(_.toString).sorted.toSeq,
        store.read(b).collect().map(_.toString).sorted.toSeq)
    }

    val done = Doctor.repair(store)
    assert(done.map(_._1).toSet === Set("frag", "z"), done.toString)
    done.foreach { case (t, before, after) =>
      assert(after < before, s"$t: $before -> $after files")
    }
    // flags cleared, rows identical, z-clustering still declared
    assert(Doctor.suggest(store) === Seq.empty)
    assert(store.read("frag").collect().map(_.toString).sorted.toSeq
      === rowsBefore._1)
    assert(store.read("z").collect().map(_.toString).sorted.toSeq
      === rowsBefore._2)
    assert(store.zorderLayoutOf("z") === Some((Seq("x"), 8)))
    // idempotent: a repaired store has nothing to repair
    assert(Doctor.repair(store) === Seq.empty)
  }

  test("orphan index artifacts of a library-dropped base are named; " +
    "provenance-less lookalikes and standalone indexes stay silent") {
    val store = freshStore()
    val rows = (0 until 6).map(i => (i.toLong, s"word$i body",
      (0 until 4).map(_ * 1.0))).toDF("id", "full_text", "e")
    store.ensureBucketed("t", Seq("id"), 2)
    store.upsert("t", rows, Seq("id"))
    Fts.upsertWithIndexCols(store, "t",
      store.read("t").drop(store.BucketCol), "id", Seq("full_text"),
      buckets = 2)
    Sq.buildIndex(store, "t", store.read("t").drop(store.BucketCol),
      "id", "e")
    assert(Doctor.check(store).filter(_.component == "orphan") === Seq.empty)

    // the library-side drop that bypasses the artifact inventory
    store.drop("t")
    val orphans = Doctor.check(store).filter(_.component == "orphan")
    assert(orphans.nonEmpty, "dropped base must surface its orphans")
    assert(orphans.exists(_.table == Sq.codesName("t")),
      s"the _meta provenance names the dead base: $orphans")
    assert(orphans.exists(_.table == Fts.indexName("t")),
      s"the postings+stats pair names the dead base: $orphans")
    assert(orphans.forall(_.problem.contains("t")), orphans.toString)

    // a user table that merely LOOKS like an artifact is not flagged —
    // and a mis-shaped `_meta` lookalike (non-string columns) must
    // read as no-provenance, never crash the whole pass
    val quiet = freshStore()
    quiet.overwrite("x_fts", Seq((1L, "not an index")).toDF("pk", "v"))
    quiet.overwrite("events_meta", Seq((1L, "x")).toDF("n", "v"))
    quiet.overwrite("short_meta", Seq(Tuple1("one-col")).toDF("only"))
    assert(Doctor.check(quiet).filter(_.component == "orphan") === Seq.empty)
  }

  test("healOrphans drops exactly the provenance-proven dead-base " +
    "inventories — Doctor green after, lookalikes survive, idempotent; " +
    "CALL graft.system.heal_orphans reaches it") {
    val root = java.nio.file.Files.createTempDirectory("graft-doc").toString
    val store = new TableStore(spark, root)
    val rows = (0 until 6).map(i => (i.toLong, s"word$i body",
      (0 until 4).map(_ * 1.0))).toDF("id", "full_text", "e")
    store.ensureBucketed("t", Seq("id"), 2)
    store.upsert("t", rows, Seq("id"))
    Fts.upsertWithIndexCols(store, "t",
      store.read("t").drop(store.BucketCol), "id", Seq("full_text"),
      buckets = 2)
    Sq.buildIndex(store, "t", store.read("t").drop(store.BucketCol),
      "id", "e")
    // a keep-table plus a lookalike that must SURVIVE the heal
    store.overwrite("keep", Seq((1L, "v")).toDF("id", "v"))
    store.overwrite("x_fts", Seq((1L, "not an index")).toDF("pk", "v"))

    // the library-side drop that bypasses the artifact inventory
    store.drop("t")
    assert(Doctor.check(store).exists(_.component == "orphan"))

    val healed = Doctor.healOrphans(store)
    assert(healed.map(_._1) === Seq("t"), s"got $healed")
    assert(healed.head._2.contains(Sq.codesName("t")) &&
      healed.head._2.contains(Fts.indexName("t")), s"got $healed")
    assert(!store.tableNames.exists(_.startsWith("t_")),
      s"the full inventory must drop: ${store.tableNames}")
    assert(store.tableNames.contains("keep") &&
      store.tableNames.contains("x_fts"),
      "tables without dead-base provenance must survive")
    assert(Doctor.check(store) === Seq.empty, "heal must land Doctor green")
    assert(Doctor.healOrphans(store) === Seq.empty, "idempotent")

    // the SQL surface reaches the same verb
    val store2 = new TableStore(spark, root)
    store2.ensureBucketed("u", Seq("id"), 2)
    store2.upsert("u", rows, Seq("id"))
    Sq.buildIndex(store2, "u", store2.read("u").drop(store2.BucketCol),
      "id", "e")
    store2.drop("u")
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", root)
    val out = spark.sql("CALL graft.system.heal_orphans()").collect()
    assert(out.map(_.getString(0)).toSeq === Seq("u"), out.mkString(","))
    assert(out.head.getLong(1) > 0L)
    assert(Doctor.check(store2) === Seq.empty)
    assert(spark.sql("CALL graft.system.heal_orphans()").collect().isEmpty,
      "idempotent through SQL too")
  }

  test("a drifted declared-schema marker is named; matching or empty is silent") {
    val store = freshStore()
    import org.apache.spark.sql.types._
    val declared = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    // empty table with a marker: the marker IS the schema — silent
    store.declareSchema("t", declared)
    assert(Doctor.check(store).filter(_.component == "schema") === Seq.empty)
    // data matching the declaration: silent (nullability ignored)
    store.overwrite("t", Seq((1L, "a")).toDF("id", "v"))
    assert(Doctor.check(store).filter(_.component == "schema") === Seq.empty)
    // evolved data vs stale marker: named with the drift, not crashed
    store.overwrite("t", Seq((1L, "a", 7)).toDF("id", "v", "extra"))
    store.declareSchema("t", declared) // flat overwrite dropped it — re-pin
    val issues = Doctor.check(store).filter(_.component == "schema")
    assert(issues.size === 1 && issues.head.table === "t")
    assert(issues.head.problem.contains("extra only in data"),
      issues.head.problem)
  }

  test("vacuum-horizon: lagging consumer + short retention is flagged with the safe window") {
    val store = freshStore()
    store.ensureGoverned(Seq("t"))
    store.upsert("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    // register the consumer, then let it fall behind across logical
    // commits AND a compaction (the rewrite whose skipping is at stake)
    EpochFollower.consumeChanges(store, "t", "lagger", Seq("id"))(_.count())
    val cursorAt = EpochFollower.cursor(store, "t", "lagger").get
    store.upsert("t", Seq((2L, "b")).toDF("id", "v"), Seq("id"))
    store.compact("t")
    store.upsert("t", Seq((3L, "c")).toDF("id", "v"), Seq("id"))

    // a generous planned retention: silent — nothing in the window is
    // old enough for that vacuum to touch
    assert(Doctor.suggest(store, vacuumMinAgeMs = Some(3600L * 1000))
      .filter(_.component == "vacuum-horizon") === Seq.empty)

    // an aggressive retention: the consumer is named, with the count
    // of commits at risk and the minAgeMs that would be safe
    val warn = Doctor.suggest(store, vacuumMinAgeMs = Some(0L))
      .filter(_.component == "vacuum-horizon")
    assert(warn.size === 1)
    assert(warn.head.table === "t")
    assert(warn.head.problem.contains("'lagger'"))
    assert(warn.head.problem.contains("use minAgeMs >= "))
    val safeMs = "minAgeMs >= (\\d+)".r.findFirstMatchIn(warn.head.problem)
      .get.group(1).toLong
    val atRisk = "drops (\\d+) intermediate".r.findFirstMatchIn(warn.head.problem)
      .get.group(1).toInt

    // the recommendation is REAL both ways: vacuuming with the safe
    // window (plus scheduling slack) keeps the walk intact…
    store.vacuumEpochs(safeMs + 60000L)
    assert(store.log.commitOps("t", cursorAt, store.snapshot().epoch).isDefined,
      "the recommended retention still lost the window")
    // …and ignoring the warning loses rewrite-skipping exactly as said,
    // dropping exactly the (cursor, head) commits it counted
    val head = store.snapshot().epoch
    def inWindow = store.log.epochs().count(e => e > cursorAt && e < head)
    val windowBefore = inWindow
    store.vacuumEpochs(0L)
    assert(windowBefore - inWindow === atRisk,
      s"the warning counted $atRisk commits at risk; vacuum(0) removed " +
        s"${windowBefore - inWindow}")
    assert(store.log.commitOps("t", cursorAt, store.snapshot().epoch).isEmpty,
      "vacuum(0) was expected to break the walk — the warning would be noise")

    // healthy setup: a caught-up consumer is silent even at retention 0
    EpochFollower.consumeChanges(store, "t", "lagger", Seq("id"))(_.count())
    assert(Doctor.suggest(store, vacuumMinAgeMs = Some(0L))
      .filter(_.component == "vacuum-horizon") === Seq.empty)
  }

  test("a PURGE-surviving tag that names dead tables is flagged " +
    "(tag-dead-member) and listed in $tags; drop_tag clears it") {
    val store = freshStore()
    store.ensureGoverned(Seq("t", "other"))
    store.upsert("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    store.upsert("other", Seq((1L, "keep")).toDF("id", "v"), Seq("id"))
    // the tag pins a commit containing BOTH tables, so PURGE keeps it
    store.log.tagEpoch("rel-both")
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", store.root)
    assert(Doctor.check(store)
      .filter(_.component == "tag-dead-member") === Seq.empty,
      "a fully-live tag is silent")

    spark.sql("DROP TABLE graft.t PURGE")
    assert(store.log.tags().contains("rel-both"), "fixture: the tag survived")
    val flagged = Doctor.check(store)
      .filter(_.component == "tag-dead-member")
    assert(flagged.size === 1 && flagged.head.table === "rel-both" &&
      flagged.head.problem.contains("t"), s"got $flagged")
    // $tags surfaces the same list per tag
    val tagsRow = spark.sql(
      "SELECT tag, dead_members FROM graft.`other$tags`")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(tagsRow("rel-both") === "t", s"got $tagsRow")

    // drop_tag releases the pin and the finding clears
    spark.sql("CALL graft.system.drop_tag('rel-both')")
    assert(Doctor.check(store)
      .filter(_.component == "tag-dead-member") === Seq.empty)
  }

  test("a crashed rename's pending intent marker is flagged " +
    "(rename-pending) and completing the rename clears it") {
    val store = freshStore()
    store.ensureGoverned(Seq("old_name"))
    store.upsert("old_name", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    assert(Doctor.check(store)
      .filter(_.component == "rename-pending") === Seq.empty)
    // simulate the crash: marker written, pointer flipped, dir unmoved
    java.nio.file.Files.write(
      java.nio.file.Paths.get(store.root, "_graft_renaming"),
      "old_name\tnew_name".getBytes("UTF-8"))
    val flagged = Doctor.check(store)
      .filter(_.component == "rename-pending")
    assert(flagged.size === 1 && flagged.head.table === "old_name" &&
      flagged.head.problem.contains("new_name"), s"got $flagged")
    // completing the rename clears the marker and the finding
    store.renameTables(Seq("old_name" -> "new_name"))
    assert(Doctor.check(store)
      .filter(_.component == "rename-pending") === Seq.empty)
    assert(store.read("new_name").count() === 1L)
  }
}
