package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.store.{EpochFollower, TableStore}

/** The epoch log as a native Structured Streaming source: offsets are
  * epochs, Spark's WAL is the checkpoint, and the delivered change
  * feed reconstructs the table exactly — across deletes, compactions
  * (silent), backlog splits, and a stop/restart of the query.
  */
class EpochLogSourceSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-elsrc").toString

  /** The full toString of a throwable AND its cause chain — loud-death
    * assertions must match the SPECIFIC failure, not accept any
    * stream exception (every StreamingQueryException carries a cause,
    * so `getCause != null` is vacuously true).
    */
  private def causeChain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).mkString(" ;; ")

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  /** foreachBatch sink: applies insert/delete tags to a pk→value map
    * and records each non-empty batch's row set (thread-safe — the
    * stream thread writes, the test thread reads after
    * processAllAvailable).
    */
  private class Mirror {
    val state = mutable.LinkedHashMap[Long, String]()
    val batches = mutable.ArrayBuffer[Set[(Long, String, String)]]()
    def apply(df: org.apache.spark.sql.DataFrame): Unit = {
      val rows = df.select(col("id").cast("long"), col("v"),
          col("_change_type"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      this.synchronized {
        if (rows.nonEmpty) batches += rows.toSet
        rows.foreach {
          case (id, v, "insert") => state(id) = v
          case (id, _, "delete") => state.remove(id)
          case (_, _, t) => fail(s"unexpected change type $t")
        }
      }
    }
    def snapshot(): Map[Long, String] = this.synchronized(state.toMap)
    def batchCount(): Int = this.synchronized(batches.size)
  }

  private def startQuery(
      root: String, mirror: Mirror, ckpt: String,
      extra: Map[String, String] = Map.empty) = {
    val src = spark.readStream.format("graft-cdc")
      .option("root", root).option("table", "docs").option("pk", "id")
      .options(extra)
      .load()
    src.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => mirror.apply(df.toDF()))
      .start()
  }

  test("readStream CDC: snapshot, increments, deletes, silent compaction") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.ensureBucketed("docs", Seq("id"), 4)
    store.ensureGoverned(Seq("docs"))
    store.upsert("docs",
      (0 until 6).map(i => (i.toLong, s"v$i")).toDF("id", "v"), Seq("id"))

    val mirror = new Mirror
    val q = startQuery(root, mirror, freshDir("graft-els-ck"))
    try {
      q.processAllAvailable()
      assert(mirror.snapshot() ===
        (0 until 6).map(i => i.toLong -> s"v$i").toMap,
        "initial batch must be the full table as inserts")

      // increment: an update + a fresh row
      store.upsert("docs", Seq((2L, "v2b"), (9L, "v9")).toDF("id", "v"),
        Seq("id"))
      q.processAllAvailable()
      assert(mirror.snapshot()(2L) === "v2b")
      assert(mirror.snapshot()(9L) === "v9")

      // delete propagates as a tagged retraction
      store.deleteByPk("docs", Seq(0L).toDF("id"), Seq("id"))
      q.processAllAvailable()
      assert(!mirror.snapshot().contains(0L), "delete did not propagate")

      // compaction: epochs advance, nothing is delivered
      val before = mirror.batchCount()
      store.compact("docs")
      q.processAllAvailable()
      assert(mirror.batchCount() === before,
        "a rewrite-only commit leaked rows into the stream")
      assert(mirror.snapshot() === Map(
        1L -> "v1", 2L -> "v2b", 3L -> "v3", 4L -> "v4", 5L -> "v5",
        9L -> "v9"))
      assert(q.exception.isEmpty)
    } finally q.stop()
  }

  test("restart from the checkpoint resumes without re-delivery") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.ensureGoverned(Seq("docs"))
    store.upsert("docs", Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))

    val ckpt = freshDir("graft-els-ck")
    val m1 = new Mirror
    val q1 = startQuery(root, m1, ckpt)
    try { q1.processAllAvailable() } finally q1.stop()
    assert(m1.snapshot() === Map(1L -> "a", 2L -> "b"))

    // commits while the query is DOWN
    store.upsert("docs", Seq((3L, "c")).toDF("id", "v"), Seq("id"))
    store.deleteByPk("docs", Seq(1L).toDF("id"), Seq("id"))

    val m2 = new Mirror
    val q2 = startQuery(root, m2, ckpt)
    try {
      q2.processAllAvailable()
      // m2 saw ONLY the down-window changes — the WAL, not the source,
      // carries the position across the restart
      val delivered = m2.synchronized(m2.batches.flatten.toSet)
      assert(!delivered.exists(r => r._1 == 2L),
        s"restart re-delivered the committed snapshot: $delivered")
      assert(delivered.contains((3L, "c", "insert")))
      assert(delivered.exists(r => r._1 == 1L && r._3 == "delete"))
      assert(q2.exception.isEmpty)
    } finally q2.stop()
  }

  test("maxEpochsPerBatch splits a backlog; consumer option pins a cursor") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.ensureGoverned(Seq("docs"))
    store.upsert("docs", Seq((0L, "v0")).toDF("id", "v"), Seq("id"))
    // backlog: three separate commits before the query starts
    (1 to 3).foreach(i =>
      store.upsert("docs", Seq((i.toLong, s"v$i")).toDF("id", "v"), Seq("id")))

    val mirror = new Mirror
    val q = startQuery(root, mirror, freshDir("graft-els-ck"),
      Map("maxEpochsPerBatch" -> "1", "consumer" -> "els-spec"))
    try {
      q.processAllAvailable()
      assert(mirror.snapshot() ===
        (0 to 3).map(i => i.toLong -> s"v$i").toMap)
      // initial snapshot is one batch; a capped drain of later commits
      // would then show up as separate batches — with the whole
      // backlog BEFORE the start, the snapshot covers it; now feed a
      // live backlog and drain capped
      // snapshot the count BEFORE feeding the backlog: the query is
      // LIVE during the upsert loop and may deliver the first new
      // commits while the loop still runs — reading `before` after
      // the loop silently absorbed those batches and under-counted
      // the delta (a latent race the r16 read-path speedups exposed:
      // faster micro-batches win the race reliably)
      val before = mirror.batchCount()
      (4 to 6).foreach(i =>
        store.upsert("docs", Seq((i.toLong, s"v$i")).toDF("id", "v"), Seq("id")))
      q.processAllAvailable()
      assert(mirror.batchCount() - before >= 3,
        "cap=1 must deliver one commit per micro-batch")
      assert(mirror.snapshot() ===
        (0 to 6).map(i => i.toLong -> s"v$i").toMap)
      // the streaming query registered a vacuum-pinning cursor
      assert(EpochFollower.cursor(store, "docs", "els-spec").isDefined,
        "consumer option did not register a cursor")
      assert(q.exception.isEmpty)
    } finally q.stop()
  }

  test("startingEpoch=latest skips history (changes mode is exact)") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.ensureGoverned(Seq("docs"))
    store.upsert("docs", Seq((1L, "old")).toDF("id", "v"), Seq("id"))

    val mirror = new Mirror
    val q = startQuery(root, mirror, freshDir("graft-els-ck"),
      Map("startingEpoch" -> "latest"))
    try {
      q.processAllAvailable()
      assert(mirror.batchCount() === 0,
        "latest must not deliver pre-start history")
      store.upsert("docs", Seq((2L, "new")).toDF("id", "v"), Seq("id"))
      q.processAllAvailable()
      val delivered = mirror.synchronized(mirror.batches.flatten.toSet)
      assert(delivered === Set((2L, "new", "insert")),
        "the change feed after 'latest' must carry ONLY post-start changes")
      assert(q.exception.isEmpty)
    } finally q.stop()
  }

  test("composition: graft-cdc source drives a ghost-free FTS mirror") {
    // follow-fts as a REAL Structured Streaming query: the commit log
    // in through readStream, Fts.applyChanges in foreachBatch, the
    // mirror searchable and delete-clean — Spark's WAL doing the
    // cursor's job
    val root = freshRoot()
    val producer = new TableStore(spark, root)
    producer.ensureGoverned(Seq("docs"))
    producer.upsert("docs",
      Seq((1L, "spark window functions"), (2L, "bloom filter joins"))
        .toDF("id", "full_text"), Seq("id"))

    val mirrorStore = new TableStore(spark, root)
    val q = spark.readStream.format("graft-cdc")
      .option("root", root).option("table", "docs").option("pk", "id")
      .load()
      .writeStream
      .option("checkpointLocation", freshDir("graft-els-ck"))
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => graft.store.Fts.applyChanges(
        mirrorStore, "docs_mirror", df.toDF(), "id", Seq("full_text")))
      .start()
    try {
      q.processAllAvailable()
      def hits(term: String): Set[Long] =
        graft.store.Fts.search(spark, mirrorStore, "docs_mirror", term)
          .select(col("pk").cast("long")).collect().map(_.getLong(0)).toSet
      assert(hits("bloom") === Set(2L))

      producer.upsert("docs",
        Seq((3L, "bloom sketches at scale")).toDF("id", "full_text"), Seq("id"))
      producer.deleteByPk("docs", Seq(2L).toDF("id"), Seq("id"))
      q.processAllAvailable()
      assert(hits("bloom") === Set(3L),
        "mirror must index the insert and retract the delete's postings")
      assert(q.exception.isEmpty)
    } finally q.stop()
  }

  test("numeric startingEpoch reprocesses from that exact epoch") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.ensureGoverned(Seq("docs"))
    store.upsert("docs", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    val e1 = store.snapshot().epoch
    store.upsert("docs", Seq((2L, "b")).toDF("id", "v"), Seq("id"))

    val mirror = new Mirror
    val q = startQuery(root, mirror, freshDir("graft-els-ck"),
      Map("startingEpoch" -> e1.toString))
    try {
      q.processAllAvailable()
      val delivered = mirror.synchronized(mirror.batches.flatten.toSet)
      assert(delivered === Set((2L, "b", "insert")),
        s"epoch-pinned start must deliver exactly the post-$e1 changes")
      assert(q.exception.isEmpty)
    } finally q.stop()
  }

  test("startingTimestamp: commits stamped at or after the instant replay; " +
    "a pre-history instant degrades to earliest; conflicts refused") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.ensureGoverned(Seq("docs"))
    store.upsert("docs", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    Thread.sleep(15)
    val mid = System.currentTimeMillis()
    Thread.sleep(15)
    store.upsert("docs", Seq((2L, "b")).toDF("id", "v"), Seq("id"))

    val mirror = new Mirror
    val q = startQuery(root, mirror, freshDir("graft-els-ts"),
      Map("startingTimestamp" -> mid.toString))
    try {
      q.processAllAvailable()
      val delivered = mirror.synchronized(mirror.batches.flatten.toSet)
      assert(delivered === Set((2L, "b", "insert")),
        "only commits stamped after the instant replay")
      assert(q.exception.isEmpty)
    } finally q.stop()

    // ISO-8601 form, predating every commit: everything qualifies —
    // the earliest semantics (full first snapshot)
    val all = new Mirror
    val q2 = startQuery(root, all, freshDir("graft-els-ts2"),
      Map("startingTimestamp" ->
        java.time.Instant.ofEpochMilli(1L).toString))
    try {
      q2.processAllAvailable()
      assert(all.snapshot() === Map(1L -> "a", 2L -> "b"))
      assert(q2.exception.isEmpty)
    } finally q2.stop()

    // startingEpoch and startingTimestamp together: refused at start
    val err = intercept[Exception] {
      val bad = startQuery(root, new Mirror, freshDir("graft-els-ts3"),
        Map("startingTimestamp" -> mid.toString,
          "startingEpoch" -> "latest"))
      try bad.processAllAvailable() finally bad.stop()
    }
    assert(Iterator.iterate(err: Throwable)(_.getCause)
      .takeWhile(_ != null).take(5)
      .exists(e => Option(e.getMessage).exists(_.contains("not both"))),
      err.toString)
  }

  test("vacuum: the consumer cursor pins the replay base; without one, loud failure") {
    // WITH a consumer: the streaming query's position is a vacuum root,
    // so aggressive retention cannot strand its diff base — the restart
    // consumes the down-window exactly
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.ensureGoverned(Seq("docs"))
    store.upsert("docs", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    val ckpt = freshDir("graft-els-ck")
    val m1 = new Mirror
    val q1 = startQuery(root, m1, ckpt, Map("consumer" -> "vac-spec"))
    try { q1.processAllAvailable() } finally q1.stop()

    (2 to 4).foreach(i =>
      store.upsert("docs", Seq((i.toLong, s"v$i")).toDF("id", "v"), Seq("id")))
    store.vacuumEpochs(0L) // zero retention: only pins survive
    val m2 = new Mirror
    val q2 = startQuery(root, m2, ckpt, Map("consumer" -> "vac-spec"))
    try {
      q2.processAllAvailable()
      assert(q2.exception.isEmpty,
        s"pinned replay base was vacuumed: ${q2.exception}")
      val got = m2.synchronized(m2.batches.flatten.toSet)
      assert(got === (2 to 4).map(i => (i.toLong, s"v$i", "insert")).toSet,
        s"down-window not delivered exactly: $got")
    } finally q2.stop()

    // WITHOUT a consumer: nothing pins the WAL's base epoch — a
    // zero-retention vacuum strands it and the restart fails LOUDLY
    // (never silently skips or re-serves wrong data)
    val root2 = freshRoot()
    val store2 = new TableStore(spark, root2)
    store2.ensureGoverned(Seq("docs"))
    store2.upsert("docs", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    val ckpt2 = freshDir("graft-els-ck")
    val m3 = new Mirror
    val q3 = startQuery(root2, m3, ckpt2)
    try { q3.processAllAvailable() } finally q3.stop()
    (2 to 4).foreach(i =>
      store2.upsert("docs", Seq((i.toLong, s"v$i")).toDF("id", "v"), Seq("id")))
    store2.vacuumEpochs(0L)
    val m4 = new Mirror
    val q4 = startQuery(root2, m4, ckpt2)
    try {
      val failed =
        try { q4.processAllAvailable(); q4.exception.isDefined }
        catch { case _: Exception => true }
      assert(failed,
        "restart over a vacuumed replay base must fail loudly — " +
          "size retention to consumer lag, or pass option(\"consumer\", ...)")
    } finally q4.stop()
  }

  test("property: random commit histories — the mirror converges exactly") {
    // seeded random interleavings of upsert / delete / compact with the
    // query draining at arbitrary points: whatever the history, the
    // mirror's reconstruction must equal the table, and compactions
    // must never inflate the delivered row count (rewrite-skipping)
    val rnd = new scala.util.Random(424242)
    (1 to 2).foreach { trial =>
      val root = freshRoot()
      val store = new TableStore(spark, root)
      store.ensureBucketed("docs", Seq("id"), 4)
      store.ensureGoverned(Seq("docs"))
      store.upsert("docs", Seq((0L, "seed")).toDF("id", "v"), Seq("id"))
      val mirror = new Mirror
      val q = startQuery(root, mirror, freshDir("graft-els-ck"))
      try {
        var live = Set(0L)
        (1 to 10).foreach { step =>
          rnd.nextInt(4) match {
            case 0 | 1 =>
              val ids = (0 until 1 + rnd.nextInt(3))
                .map(_ => rnd.nextInt(24).toLong).distinct
              store.upsert("docs",
                ids.map(i => (i, s"t$trial-s$step-$i")).toDF("id", "v"),
                Seq("id"))
              live ++= ids
            case 2 if live.nonEmpty =>
              val victim = live.toSeq(rnd.nextInt(live.size))
              store.deleteByPk("docs", Seq(victim).toDF("id"), Seq("id"))
              live -= victim
            case _ => store.compact("docs")
          }
          if (rnd.nextInt(3) == 0) q.processAllAvailable()
        }
        q.processAllAvailable()
        assert(q.exception.isEmpty, s"trial $trial: ${q.exception}")
        val table = store.read("docs").select(col("id").cast("long"), col("v"))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(mirror.snapshot() === table,
          s"trial $trial: mirror diverged from the table")
        // the change feed is exact: every delivered insert is a row
        // some state actually held — delivered inserts per pk never
        // exceed the writes that touched it (no compaction echoes)
        val delivered = mirror.synchronized(
          mirror.batches.flatten.count(_._3 == "insert"))
        assert(delivered <= 10 * 3 + 1,
          s"trial $trial: $delivered inserts delivered — rewrite echo?")
      } finally q.stop()
    }
  }

  test("property: random histories WITH a drop/re-create incarnation — " +
    "the pre-drop mirror is exact, the running stream dies LOUDLY at " +
    "the drop, a fresh stream converges on the new incarnation, and " +
    "history segments at the drop") {
    // every seeded history performs ≥1 DROP + re-CREATE mid-stream:
    // random upserts/deletes/compacts before and after, drains at
    // arbitrary points. Contract under test: (1) deliveries up to the
    // drop reconstruct the pre-drop table exactly; (2) the RUNNING
    // query fails loudly on its next window (never serves empty
    // batches for a dead table); (3) a fresh query over the re-created
    // incarnation converges to ITS table; (4) the new incarnation's
    // history contains only post-drop epochs (fresh $history rule).
    val rnd = new scala.util.Random(5150)
    (1 to 2).foreach { trial =>
      val root = freshRoot()
      val store = new TableStore(spark, root)
      def create(): Unit = {
        store.ensureBucketed("docs", Seq("id"), 4)
        store.ensureGoverned(Seq("docs"))
        store.upsert("docs", Seq((0L, s"seed$trial")).toDF("id", "v"),
          Seq("id"))
      }
      create()
      var live = Set(0L)
      def randomStep(step: Int): Unit = rnd.nextInt(4) match {
        case 0 | 1 =>
          val ids = (0 until 1 + rnd.nextInt(3))
            .map(_ => rnd.nextInt(24).toLong).distinct
          store.upsert("docs",
            ids.map(i => (i, s"t$trial-s$step-$i")).toDF("id", "v"),
            Seq("id"))
          live ++= ids
        case 2 if live.nonEmpty =>
          val victim = live.toSeq(rnd.nextInt(live.size))
          store.deleteByPk("docs", Seq(victim).toDF("id"), Seq("id"))
          live -= victim
        case _ => store.compact("docs")
      }
      val mirror = new Mirror
      val q = startQuery(root, mirror, freshDir("graft-els-ck"))
      var dropEpoch = 0L
      try {
        (1 to 3 + rnd.nextInt(4)).foreach { step =>
          randomStep(step)
          if (rnd.nextInt(3) == 0) q.processAllAvailable()
        }
        q.processAllAvailable()
        assert(q.exception.isEmpty, s"trial $trial: ${q.exception}")
        val preDrop = store.read("docs")
          .select(col("id").cast("long"), col("v"))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(mirror.snapshot() === preDrop,
          s"trial $trial: pre-drop mirror diverged")

        // the incarnation boundary
        dropEpoch = store.snapshot().epoch
        store.dropTables("docs" +:
          graft.store.Retract.artifactTablesOf(store, "docs"))
        create()
        live = Set(0L)
        (1 to 2 + rnd.nextInt(3)).foreach(randomStep)

        // the RUNNING stream must fail loudly on its next window —
        // a dead incarnation never serves empty batches
        val died = intercept[Exception](q.processAllAvailable())
        assert(causeChain(died).contains("docs"),
          s"trial $trial: ${causeChain(died)}")
      } finally q.stop()

      // a FRESH query over the new incarnation converges to ITS table
      val mirror2 = new Mirror
      val q2 = startQuery(root, mirror2, freshDir("graft-els-ck"))
      try {
        q2.processAllAvailable()
        assert(q2.exception.isEmpty, s"trial $trial: ${q2.exception}")
        val table = store.read("docs")
          .select(col("id").cast("long"), col("v"))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(mirror2.snapshot() === table,
          s"trial $trial: post-recreate mirror diverged")
        // history segmentation: the new incarnation's epochs all
        // POST-date the drop — the dead incarnation's commits are not
        // its history
        val hist = store.log.tableHistory("docs").map(_._1)
        assert(hist.nonEmpty && hist.min > dropEpoch,
          s"trial $trial: history $hist must start after drop@$dropEpoch")
      } finally q2.stop()
    }
  }

  test("property: random histories WITH a mid-stream RENAME (half the " +
    "trials crash mid-move and resume): the pre-rename mirror is " +
    "exact, the old name dies loudly running and at definition, and " +
    "a fresh stream under the NEW name converges with full history") {
    // every seeded history performs ≥1 RENAME mid-stream; odd trials
    // additionally simulate a crash mid-directory-moves (pointer
    // serves the new name, base dir still old-named, intent marker
    // present — the exact state a death inside renameTables leaves)
    // and must complete via the re-run resume before converging.
    val rnd = new scala.util.Random(160816)
    (1 to 2).foreach { trial =>
      val root = freshRoot()
      val store = new TableStore(spark, root)
      store.ensureBucketed("docs", Seq("id"), 4)
      store.ensureGoverned(Seq("docs"))
      store.upsert("docs", Seq((0L, s"seed$trial")).toDF("id", "v"),
        Seq("id"))
      var live = Set(0L)
      def randomStep(t: String, step: Int): Unit = rnd.nextInt(4) match {
        case 0 | 1 =>
          val ids = (0 until 1 + rnd.nextInt(3))
            .map(_ => rnd.nextInt(24).toLong).distinct
          store.upsert(t,
            ids.map(i => (i, s"t$trial-s$step-$i")).toDF("id", "v"),
            Seq("id"))
          live ++= ids
        case 2 if live.nonEmpty =>
          val victim = live.toSeq(rnd.nextInt(live.size))
          store.deleteByPk(t, Seq(victim).toDF("id"), Seq("id"))
          live -= victim
        case _ => store.compact(t)
      }
      val mirror = new Mirror
      val q = startQuery(root, mirror, freshDir("graft-els-ck"))
      try {
        (1 to 3 + rnd.nextInt(4)).foreach { step =>
          randomStep("docs", step)
          if (rnd.nextInt(3) == 0) q.processAllAvailable()
        }
        q.processAllAvailable()
        assert(q.exception.isEmpty, s"trial $trial: ${q.exception}")
        val preRename = store.read("docs")
          .select(col("id").cast("long"), col("v"))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(mirror.snapshot() === preRename,
          s"trial $trial: pre-rename mirror diverged")

        store.renameTables(Seq("docs" -> "corpus"))
        if (trial % 2 == 1) {
          val fsDir = new java.io.File(root)
          assert(new java.io.File(fsDir, "corpus")
            .renameTo(new java.io.File(fsDir, "docs")))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(root, "_graft_renaming"),
            "docs\tcorpus".getBytes)
          // an UNRELATED rename must refuse while the crash pends —
          // completing the crashed one is the only way to tell its
          // unmoved directories from fresh collisions
          val blocked = intercept[Exception](
            store.renameTables(Seq("corpus" -> "elsewhere")))
          assert(blocked.getMessage.contains("crashed"),
            s"trial $trial: ${blocked.getMessage}")
          store.renameTables(Seq("docs" -> "corpus")) // the resume
        }
        assert(store.renameIntent().isEmpty,
          s"trial $trial: the intent marker must clear after the rename")

        // life continues under the new name
        (1 to 2 + rnd.nextInt(3)).foreach(s => randomStep("corpus", s))

        // the RUNNING stream on the old name dies loudly — a renamed-
        // away table never serves empty batches
        val died = intercept[Exception](q.processAllAvailable())
        assert(causeChain(died).contains("docs"),
          s"trial $trial: ${causeChain(died)}")
      } finally q.stop()

      // a FRESH stream on the dead old name fails loudly too (at
      // definition or first batch — never a silent empty stream)
      intercept[Exception] {
        val src = spark.readStream.format("graft-cdc")
          .option("root", root).option("table", "docs").option("pk", "id")
          .load()
        val qq = src.writeStream
          .option("checkpointLocation", freshDir("graft-els-ck"))
          .foreachBatch(
            (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) => ()).start()
        try qq.processAllAvailable() finally qq.stop()
      }

      // a fresh stream under the NEW name converges to ITS table —
      // including every pre-rename row (the rename carries history)
      val mirror2 = new Mirror
      val q2 = startQuery(root, mirror2, freshDir("graft-els-ck"),
        extra = Map("table" -> "corpus"))
      try {
        q2.processAllAvailable()
        assert(q2.exception.isEmpty, s"trial $trial: ${q2.exception}")
        val table = store.read("corpus")
          .select(col("id").cast("long"), col("v"))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(mirror2.snapshot() === table,
          s"trial $trial: post-rename mirror diverged")
      } finally q2.stop()
    }
  }

  test("a mid-stream COLUMN rename dies LOUDLY — the fixed query-start " +
    "schema would otherwise silently null-fill the renamed column; a " +
    "fresh stream adopts the new surface name") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.ensureBucketed("docs", Seq("id"), 4)
    store.ensureGoverned(Seq("docs"))
    store.upsert("docs", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    val mirror = new Mirror
    val q = startQuery(root, mirror, freshDir("graft-els-ck"))
    try {
      q.processAllAvailable()
      assert(mirror.snapshot() === Map(1L -> "a"))
      // the SQL ALTER's library half: record the name map, then write
      // — the running stream's next window must die, not deliver
      // null-filled rows for the renamed column
      store.declareRenamed("docs", Seq("v" -> "label"))
      store.upsert("docs", Seq((2L, "b")).toDF("id", "v"), Seq("id"))
      val died = intercept[Exception](q.processAllAvailable())
      assert(causeChain(died).contains("renamed while this stream"),
        causeChain(died))
    } finally q.stop()
    // a FRESH stream resolves the new surface name
    val src = spark.readStream.format("graft-cdc")
      .option("root", root).option("table", "docs").option("pk", "id")
      .load()
    assert(src.schema.fieldNames.contains("label") &&
      !src.schema.fieldNames.contains("v"),
      s"restart must adopt the new name (got ${src.schema.fieldNames.toSeq})")
  }

  test("appends mode refuses a FLAT (ungoverned) member at creation — " +
    "the commit-log walk would serve zero rows for it forever") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.ensureBucketed("g", Seq("id"), 2)
    store.ensureGoverned(Seq("g"))
    store.upsert("g", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    store.overwrite("flat_t", Seq((2L, "b")).toDF("id", "v"))
    val died = intercept[Exception] {
      val src = spark.readStream.format("graft-cdc")
        .option("root", root).option("tables", "g,flat_t")
        .option("mode", "appends").load()
      val qq = src.writeStream
        .option("checkpointLocation", freshDir("graft-els-ck"))
        .foreachBatch(
          (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) => ()).start()
      try qq.processAllAvailable() finally qq.stop()
    }
    assert(causeChain(died).contains("ungoverned"), causeChain(died))
  }

  test("appends mode: tag-free schema, pk-union reconstruction (at-least-once)") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.ensureBucketed("docs", Seq("id"), 4)
    store.ensureGoverned(Seq("docs"))
    store.upsert("docs", Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))

    val latest = mutable.LinkedHashMap[Long, String]()
    val src = spark.readStream.format("graft-cdc")
      .option("root", root).option("table", "docs").option("mode", "appends")
      .load()
    assert(!src.columns.contains("_change_type"),
      "appends mode must not carry a change-type column")
    val q = src.writeStream
      .option("checkpointLocation", freshDir("graft-els-ck"))
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => {
        val rows = df.select(col("id").cast("long"), col("v"))
          .collect().map(r => (r.getLong(0), r.getString(1)))
        // the appends contract: at-least-once per changed-or-moved row,
        // later windows carry the newer image — upsert-by-pk converges
        latest.synchronized { rows.foreach { case (id, v) => latest(id) = v } }
        ()
      })
      .start()
    try {
      q.processAllAvailable()
      store.upsert("docs", Seq((2L, "b2"), (3L, "c")).toDF("id", "v"), Seq("id"))
      q.processAllAvailable()
      // a compaction must deliver nothing (rewrite-aware walk): the
      // mirror stays converged, and crucially never regresses 2L to "b"
      store.compact("docs")
      q.processAllAvailable()
      assert(latest.synchronized(latest.toMap) ===
        Map(1L -> "a", 2L -> "b2", 3L -> "c"))
      assert(q.exception.isEmpty)
    } finally q.stop()
  }

  test("a RUNNING stream survives SQL ALTER ADD COLUMN mid-flight " +
    "(fixed-schema contract); a restart serves the evolved shape") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.ensureBucketed("docs", Seq("id"), 2)
    store.ensureGoverned(Seq("docs"))
    store.upsert("docs", Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      Seq("id"))
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", root)

    val seen = mutable.ArrayBuffer[Seq[String]]()
    def start(ckpt: String) = spark.readStream.format("graft-cdc")
      .option("root", root).option("table", "docs").option("pk", "id")
      .load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => {
        val cols = df.columns.toSeq
        if (!df.isEmpty) seen.synchronized { seen += cols }
        ()
      })
      .start()
    val ckpt = freshDir("graft-els-ck")
    val q = start(ckpt)
    try {
      q.processAllAvailable()
      // metadata-only evolution + a write that CARRIES the new column,
      // all while the stream runs: delivered windows mix pre- and
      // post-evolution files, and the source must keep serving the
      // query-start schema (column dropped until restart), not crash
      spark.sql("ALTER TABLE graft.docs ADD COLUMN score DOUBLE")
      spark.sql("UPDATE graft.docs SET score = 1.5 WHERE id = 2")
      store.upsert("docs", Seq((3L, "c")).toDF("id", "v"), Seq("id"))
      q.processAllAvailable()
      assert(q.exception.isEmpty,
        s"mid-flight evolution must not kill the stream: ${q.exception}")
      assert(seen.synchronized(seen.toSeq).nonEmpty &&
        seen.synchronized(seen.toSeq).forall(!_.contains("score")),
        "the fixed query-start schema must hold until restart")
    } finally q.stop()

    // restart: the source re-resolves the table's CURRENT schema
    seen.synchronized(seen.clear())
    val q2 = start(ckpt)
    try {
      store.upsert("docs",
        Seq((4L, "d", 2.5)).toDF("id", "v", "score"), Seq("id"))
      q2.processAllAvailable()
      assert(q2.exception.isEmpty)
      assert(seen.synchronized(seen.toSeq).exists(_.contains("score")),
        "a restarted stream serves the evolved shape")
    } finally q2.stop()
  }

  test("multi-table appends mode: per-member file adds over one global " +
    "window — a joint transact's files land in ONE micro-batch, no pk " +
    "options needed, no _change_type") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.ensureGoverned(Seq("a", "b"))
    store.upsert("a", Seq((1L, "a1")).toDF("id", "v"), Seq("id"))
    store.upsert("b", Seq((10L, "b1")).toDF("id", "v"), Seq("id"))

    val batches = mutable.ArrayBuffer[Map[String, Set[Long]]]()
    val src = spark.readStream.format("graft-cdc")
      .option("root", root).option("tables", "a,b")
      .option("mode", "appends").option("startingEpoch", "latest")
      .load()
    assert(src.columns.head === "_table")
    assert(!src.columns.contains("_change_type"),
      "appends mode must not carry a change-type column")
    val q = src.writeStream
      .option("checkpointLocation", freshDir("graft-els-ck"))
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => {
        val rows = df.select(col("_table"), col("id").cast("long"))
          .collect().map(r => (r.getString(0), r.getLong(1)))
        batches.synchronized {
          if (rows.nonEmpty)
            batches += rows.groupBy(_._1).map { case (t, rs) =>
              t -> rs.map(_._2).toSet }
        }
        ()
      })
      .start()
    try {
      q.processAllAvailable()
      store.transact {
        store.upsert("a", Seq((2L, "a2")).toDF("id", "v"), Seq("id"))
        store.upsert("b", Seq((20L, "b2")).toDF("id", "v"), Seq("id"))
      }
      q.processAllAvailable()
      val joint = batches.synchronized(batches.toSeq)
      assert(joint.nonEmpty)
      val withA = joint.filter(_.get("a").exists(_.contains(2L)))
      assert(withA.nonEmpty && withA.forall(m =>
        m.get("b").exists(_.contains(20L))),
        s"the joint transact's adds must land in ONE micro-batch: $joint")
      // a rewrite delivers nothing for either member
      val n = batches.synchronized(batches.size)
      store.compact("a")
      q.processAllAvailable()
      assert(batches.synchronized(batches.size) === n,
        "a compaction is not an append")
      assert(q.exception.isEmpty)
    } finally q.stop()
  }

  test("multi-table appends mode tolerates a governed-but-EMPTY member: " +
    "it contributes nothing (instead of crashing every micro-batch) " +
    "until its first insert, whose rows then flow") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    // 'later' is governed with ZERO files — the CREATE/CTAS-before-
    // insert state the provider's .schema(...) hint exists for
    store.ensureGoverned(Seq("a", "later"))
    store.upsert("a", Seq((1L, "a1")).toDF("id", "v"), Seq("id"))

    val seen = mutable.ArrayBuffer[(String, Long)]()
    val sch = new org.apache.spark.sql.types.StructType()
      .add("_table", "string", nullable = false)
      .add("id", "long").add("v", "string")
    val q = spark.readStream.format("graft-cdc")
      .schema(sch)
      .option("root", root).option("tables", "a,later")
      .option("mode", "appends").option("startingEpoch", "earliest")
      .load()
      .writeStream
      .option("checkpointLocation", freshDir("graft-els-ck"))
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => {
        val rows = df.select(col("_table"), col("id").cast("long"))
          .collect().map(r => (r.getString(0), r.getLong(1)))
        seen.synchronized { seen ++= rows }
        ()
      })
      .start()
    try {
      q.processAllAvailable()
      assert(q.exception.isEmpty,
        s"an empty member must not crash the stream: ${q.exception}")
      store.upsert("a", Seq((2L, "a2")).toDF("id", "v"), Seq("id"))
      q.processAllAvailable()
      assert(q.exception.isEmpty,
        s"windows over the empty member must keep serving: ${q.exception}")
      assert(seen.synchronized(seen.toSet)
        .filter(_._1 == "a").map(_._2) === Set(1L, 2L))
      // the moment the empty member gains rows, they flow — the skip
      // is files-at-endpoints metadata, never a standing exclusion
      store.upsert("later", Seq((100L, "l1")).toDF("id", "v"), Seq("id"))
      q.processAllAvailable()
      assert(q.exception.isEmpty)
      assert(seen.synchronized(seen.toSet).contains(("later", 100L)),
        s"the late member's first insert must be delivered: $seen")
    } finally q.stop()
  }

  /** foreachBatch sink for the multi-table form: records, per
    * micro-batch, which member tables contributed rows — the torn-join
    * witness — plus every delivered (table, pk, value, tag) row.
    */
  private class MultiMirror {
    val batches = mutable.ArrayBuffer[Map[String, Set[(Long, String, String)]]]()
    def apply(df: org.apache.spark.sql.DataFrame): Unit = {
      val rows = df.select(col("_table"), col("id").cast("long"), col("v"),
          col("_change_type"))
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) null else r.getString(2), r.getString(3)))
      this.synchronized {
        if (rows.nonEmpty)
          batches += rows.groupBy(_._1).map { case (t, rs) =>
            t -> rs.map(r => (r._2, r._3, r._4)).toSet }
      }
    }
    def all(): Seq[Map[String, Set[(Long, String, String)]]] =
      this.synchronized(batches.toSeq)
    def rowsOf(table: String): Set[(Long, String, String)] =
      this.synchronized(batches.flatMap(_.getOrElse(table, Set.empty)).toSet)
  }

  test("multi-table: one transact, one micro-batch — never a torn pair; " +
    "crash-replay keeps the pairing; per-table reader parity") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.ensureGoverned(Seq("a", "b"))
    store.upsert("a", Seq((1L, "a1")).toDF("id", "v"), Seq("id"))
    store.upsert("b", Seq((10L, "b1")).toDF("id", "v"), Seq("id"))

    def startMulti(m: MultiMirror, ckpt: String) = {
      val src = spark.readStream.format("graft-cdc")
        .option("root", root).option("tables", "a,b")
        .option("pk.a", "id").option("pk.b", "id")
        .option("consumer", "multi-mirror")
        .load()
      assert(src.columns.take(1) === Array("_table"))
      src.writeStream.option("checkpointLocation", ckpt)
        .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) => m.apply(df.toDF()))
        .start()
    }

    val ckpt = freshDir("graft-els-ck")
    val m1 = new MultiMirror
    val q1 = startMulti(m1, ckpt)
    try {
      q1.processAllAvailable()
      // registration batch: BOTH members' snapshots in the same batch
      assert(m1.all().head.keySet === Set("a", "b"),
        "the registration snapshot must deliver every member together")

      // two tables committed in ONE transact must arrive in ONE batch
      val batchesBefore = m1.all().size
      store.transact {
        store.upsert("a", Seq((2L, "a2")).toDF("id", "v"), Seq("id"))
        store.upsert("b", Seq((20L, "b2")).toDF("id", "v"), Seq("id"))
      }
      q1.processAllAvailable()
      val joint = m1.all().drop(batchesBefore)
      assert(joint.size === 1, s"one transact produced ${joint.size} batches")
      assert(joint.head.keySet === Set("a", "b"),
        "a one-transact commit was torn across batches")
      assert(joint.head("a") === Set((2L, "a2", "insert")))
      assert(joint.head("b") === Set((20L, "b2", "insert")))

      // per-table reader parity over the SAME window: the batch CDC
      // reader serves exactly the member rows the multi stream carried
      val e2 = store.snapshot().epoch
      val windowB = store.readChangesSince("b", e2 - 1, e2, Seq("id"))
        .select(col("id").cast("long"), col("v"), col("_change_type"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSet
      assert(windowB === joint.head("b"),
        "a per-table reader of the same window diverged from the " +
          "multi stream's member rows")

      // a single-member commit delivers only that member (no echo)
      store.upsert("a", Seq((3L, "a3")).toDF("id", "v"), Seq("id"))
      q1.processAllAvailable()
      assert(m1.all().last.keySet === Set("a"))
      assert(q1.exception.isEmpty)
    } finally q1.stop()

    // commits while the query is DOWN — including a joint one and a
    // delete; the restarted query (same WAL) must still pair them
    store.transact {
      store.upsert("a", Seq((4L, "a4")).toDF("id", "v"), Seq("id"))
      store.upsert("b", Seq((40L, "b4")).toDF("id", "v"), Seq("id"))
    }
    store.deleteByPk("b", Seq(10L).toDF("id"), Seq("id"))

    val m2 = new MultiMirror
    val q2 = startMulti(m2, ckpt)
    try {
      q2.processAllAvailable()
      val pairedBatch = m2.all().find(_.contains("a")).get
      assert(pairedBatch.keySet === Set("a", "b"),
        "crash-replay tore a one-transact commit across batches")
      assert(pairedBatch("a") === Set((4L, "a4", "insert")))
      assert(pairedBatch("b").contains((40L, "b4", "insert")))
      assert(m2.rowsOf("b").contains((10L, "b1", "delete")),
        "the down-time delete must arrive as a tagged retraction")
      assert(q2.exception.isEmpty)
    } finally q2.stop()

    // a fresh single-table graft-cdc stream (own checkpoint: its first
    // batch is the CURRENT snapshot) converges to the same state the
    // multi stream's member rows produce
    val perTable = mutable.LinkedHashMap[Long, String]()
    val qs = spark.readStream.format("graft-cdc")
      .option("root", root).option("table", "b").option("pk", "id")
      .load()
      .writeStream.option("checkpointLocation", freshDir("graft-els-ck"))
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => {
        val rows = df.select(col("id").cast("long"), col("v"),
            col("_change_type"))
          .collect().map(r => (r.getLong(0),
            if (r.isNullAt(1)) null else r.getString(1), r.getString(2)))
        perTable.synchronized {
          rows.foreach {
            case (id, v, "insert") => perTable(id) = v
            case (id, _, "delete") => perTable.remove(id)
            case (_, _, t) => fail(s"unexpected change type $t")
          }
        }
        ()
      }).start()
    try {
      qs.processAllAvailable()
      val multiState = mutable.LinkedHashMap[Long, String]()
      (m1.all() ++ m2.all()).foreach(_.getOrElse("b", Set.empty).foreach {
        case (id, v, "insert") => multiState(id) = v
        case (id, _, "delete") => multiState.remove(id)
        case (_, _, t) => fail(s"unexpected change type $t")
      })
      assert(perTable.synchronized(perTable.toMap) === multiState.toMap,
        "a per-table reader converged to a different state than the " +
          "multi stream's member rows")
      assert(qs.exception.isEmpty)
    } finally qs.stop()
  }

  test("property: random multi-table histories — mirrors converge, " +
    "joint commits are never torn, restarts keep the pairing") {
    // seeded random interleavings of per-table upserts/deletes/compacts
    // and JOINT transacts over two tables, the query draining (and once
    // RESTARTING from its checkpoint) at arbitrary points: each member
    // mirror must equal its table, and every joint commit's marker rows
    // must appear in the same micro-batch, in every delivery
    val rnd = new scala.util.Random(1313)
    (1 to 2).foreach { trial =>
      val root = freshRoot()
      val store = new TableStore(spark, root)
      store.ensureBucketed("a", Seq("id"), 2)
      store.ensureGoverned(Seq("a", "b"))
      store.upsert("a", Seq((0L, "seedA")).toDF("id", "v"), Seq("id"))
      store.upsert("b", Seq((0L, "seedB")).toDF("id", "v"), Seq("id"))

      val mirror = new MultiMirror
      val ckpt = freshDir("graft-els-ck")
      def start() = {
        val src = spark.readStream.format("graft-cdc")
          .option("root", root).option("tables", "a,b")
          .option("pk.a", "id").option("pk.b", "id")
          .option("consumer", s"prop$trial")
          .load()
        src.writeStream.option("checkpointLocation", ckpt)
          .foreachBatch(
            (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) => mirror.apply(df.toDF()))
          .start()
      }
      var q = start()
      var joints = 0
      val liveA = mutable.Set(0L)
      val liveB = mutable.Set(0L)
      try {
        (1 to 12).foreach { step =>
          rnd.nextInt(6) match {
            case 0 =>
              val id = rnd.nextInt(20).toLong
              store.upsert("a", Seq((id, s"a$trial-$step")).toDF("id", "v"),
                Seq("id")); liveA += id
            case 1 =>
              val id = rnd.nextInt(20).toLong
              store.upsert("b", Seq((id, s"b$trial-$step")).toDF("id", "v"),
                Seq("id")); liveB += id
            case 2 =>
              joints += 1
              val k = joints
              store.transact {
                store.upsert("a", Seq((1000L + k, s"joint$trial-$k"))
                  .toDF("id", "v"), Seq("id"))
                store.upsert("b", Seq((2000L + k, s"joint$trial-$k"))
                  .toDF("id", "v"), Seq("id"))
              }
              liveA += 1000L + k; liveB += 2000L + k
            case 3 if liveA.exists(_ < 1000L) =>
              // joint markers (ids ≥ 1000) stay live: a delete landing
              // in the same drained window as the joint insert would
              // legitimately cancel it out of the diff, which is not
              // the torn-pair defect this test hunts
              val pool = liveA.toSeq.filter(_ < 1000L)
              val victim = pool(rnd.nextInt(pool.size))
              store.deleteByPk("a", Seq(victim).toDF("id"), Seq("id"))
              liveA -= victim
            case 4 if liveA.nonEmpty => store.compact("a") // empty: no files
            case _ => store.compact("b")
          }
          if (rnd.nextInt(3) == 0) q.processAllAvailable()
          if (step == 6) { // crash/restart mid-history, same WAL
            q.processAllAvailable(); q.stop()
            q = start()
          }
        }
        q.processAllAvailable()
        assert(q.exception.isEmpty, s"trial $trial: ${q.exception}")
        // each member mirror equals its table
        Seq("a", "b").foreach { t =>
          val table = store.read(t).select(col("id").cast("long"), col("v"))
            .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
          val state = mutable.LinkedHashMap[Long, String]()
          mirror.all().foreach(_.getOrElse(t, Set.empty).foreach {
            case (id, v, "insert") => state(id) = v
            case (id, _, "delete") => state.remove(id)
            case (_, _, tag) => fail(s"unexpected change type $tag")
          })
          assert(state.toMap === table,
            s"trial $trial: mirror for '$t' diverged from the table")
        }
        // joint commits are never torn — in EVERY delivery (incl. the
        // restart's at-least-once replays): a batch carrying one
        // member's joint-k marker carries the other's too
        (1 to joints).foreach { k =>
          def marker(b: Map[String, Set[(Long, String, String)]],
              t: String, id: Long) =
            b.getOrElse(t, Set.empty)
              .contains((id, s"joint$trial-$k", "insert"))
          val hits = mirror.all().filter(b =>
            marker(b, "a", 1000L + k) || marker(b, "b", 2000L + k))
          assert(hits.nonEmpty, s"trial $trial: joint $k never delivered")
          hits.foreach { b =>
            assert(marker(b, "a", 1000L + k) && marker(b, "b", 2000L + k),
              s"trial $trial: joint commit $k torn across micro-batches")
          }
        }
      } finally q.stop()
    }
  }

  test("multi-table: member validation, schema union, empty members need .schema") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.ensureGoverned(Seq("x", "y"))
    store.upsert("x", Seq((1L, "v", 7)).toDF("id", "v", "extra"), Seq("id"))
    store.upsert("y", Seq((2L, "w")).toDF("id", "v"), Seq("id"))

    // schema = _table + union of member fields + _change_type; member
    // frames null-fill each other's columns
    val src = spark.readStream.format("graft-cdc")
      .option("root", root).option("tables", "x,y")
      .option("pk.x", "id").option("pk.y", "id")
      .load()
    assert(src.columns.toSeq ===
      Seq("_table", "id", "v", "extra", "_change_type"))

    // a missing per-member pk fails loudly (createSource runs on the
    // stream thread — the error surfaces through the query)
    val qNoPk = spark.readStream.format("graft-cdc")
      .option("root", root).option("tables", "x,y")
      .option("pk.x", "id")
      .load()
      .writeStream.option("checkpointLocation", freshDir("graft-els-ck"))
      .foreachBatch((_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => ()).start()
    val noPk = intercept[Exception](qNoPk.processAllAvailable())
    assert(noPk.getMessage.contains("pk.y"), noPk.getMessage)

    // an empty member with NO declared schema — .schema(...) required
    store.ensureGoverned(Seq("z"))
    val empty = intercept[Exception] {
      spark.readStream.format("graft-cdc")
        .option("root", root).option("tables", "x,z")
        .option("pk.x", "id").option("pk.z", "id")
        .load()
    }
    assert(empty.getMessage.contains("schema"), empty.getMessage)

    // ... but an empty member that DECLARED a schema (SQL CREATE/CTAS)
    // contributes its declared shape to the union — stable from
    // creation, not from the first insert
    store.declareSchema("z", new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("zonly", "string"))
    val srcZ = spark.readStream.format("graft-cdc")
      .option("root", root).option("tables", "x,z")
      .option("pk.x", "id").option("pk.z", "id")
      .load()
    assert(srcZ.columns.contains("zonly"),
      s"declared shape must join the union: ${srcZ.columns.toSeq}")

    // a bucketed member serves its surface columns in both forms: the
    // bucket routing column stays internal
    store.ensureBucketed("xb", Seq("id"), 2)
    store.ensureGoverned(Seq("xb"))
    store.upsert("xb", Seq((3L, "b")).toDF("id", "v"), Seq("id"))
    Seq(Map("table" -> "xb", "pk" -> "id"),
        Map("tables" -> "x,xb", "pk.x" -> "id", "pk.xb" -> "id")).foreach { o =>
      val cols = spark.readStream.format("graft-cdc")
        .option("root", root).options(o).load().columns.toSeq
      assert(!cols.contains(store.BucketCol), s"$o serves: $cols")
    }

    // empty or malformed numbers and instants are refused by name, not
    // with a raw parse error
    val provider = new EpochLogSourceProvider()
    Seq("startingEpoch" -> "", "startingEpoch" -> "-3",
        "startingTimestamp" -> "", "startingTimestamp" -> "noon",
        "maxEpochsPerBatch" -> "").foreach { case (key, v) =>
      val e = intercept[IllegalArgumentException](provider.createSource(
        spark.sqlContext, freshDir("graft-els-md"), None, "graft-cdc",
        Map("root" -> root, "tables" -> "x,y", "pk.x" -> "id",
          "pk.y" -> "id", key -> v)))
      assert(!e.isInstanceOf[NumberFormatException] && e.getMessage.contains(key),
        s"$key='$v': ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }
}
