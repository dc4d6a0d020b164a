package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.store.{EpochFollower, Fts, TableStore}

/** The epoch-log continuous-query bridge: commits land → the mirror
  * catches up; a compaction never reaches the sink; a crashed sink
  * leaves the cursor at the last completed batch so the restart
  * redelivers exactly the unfinished window (idempotent sink →
  * exactly-once effect); stop + start with the same consumer name
  * resumes from the cursor — the cursor IS the checkpoint.
  */
class EpochStreamSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-estream").toString

  /** Poll until the probe holds; a probe that THROWS counts as
    * not-ready (a probe that reads a swap-maintained mirror can race
    * the consumer's rewrite of it).
    */
  private def eventually[T](deadlineMs: Long = 20000)(probe: => Boolean): Unit = {
    val t0 = System.currentTimeMillis()
    while (!(try probe catch { case _: Exception => false })) {
      if (System.currentTimeMillis() - t0 > deadlineMs)
        fail(s"condition not reached within ${deadlineMs}ms")
      Thread.sleep(50)
    }
  }

  test("continuous FTS mirror: commits land, the query catches up; compaction is silent") {
    val root = freshRoot()
    val producer = new TableStore(spark, root)
    producer.ensureBucketed("docs", Seq("id"), 4)
    producer.ensureGoverned(Seq("docs"))
    producer.upsert("docs",
      Seq((1L, "spark window functions")).toDF("id", "full_text"), Seq("id"))

    // the consumer runs on its OWN store instance (single-threaded
    // TableStore contract); its mirror tables are disjoint from the
    // producer's, so the two writers coordinate like any OCC pair
    val consumerStore = new TableStore(spark, root)
    // counted at sink ENTRY, so once the cursor shows caught-up the
    // count is final for that window (the handle's own batch counter
    // updates per drain, later than the cursor — racy to assert on)
    val sinkCalls = new java.util.concurrent.atomic.AtomicLong()
    val handle = EpochStream.start(consumerStore, "docs", "fts-mirror",
      pollMs = 50L) { batch =>
      sinkCalls.incrementAndGet()
      // the standard idempotent sink: delete-and-replace by pk — the
      // at-least-once file feed (a rewritten bucket's old rows ride
      // along) converges exactly through it
      Fts.upsertWithIndex(consumerStore, "docs_mirror",
        batch.select(col("id"), col("full_text")), "id", "full_text")
    }
    // the catch-up probe is METADATA-only (the consumer's cursor): the
    // mirror itself must not be read mid-swap — the cursor advances
    // only AFTER the sink finished, which is exactly when reading the
    // (un-governed, swap-maintained) mirror is safe
    def caughtUp(): Boolean =
      EpochFollower.cursor(consumerStore, "docs", "fts-mirror")
        .contains(producer.snapshot().epoch)
    try {
      eventually()(caughtUp())
      assert(Fts.search(spark, consumerStore, "docs_mirror", "spark")
        .count() === 1L)
      // two more commits stream through
      producer.upsert("docs",
        Seq((2L, "quick brown fox")).toDF("id", "full_text"), Seq("id"))
      producer.upsert("docs",
        Seq((3L, "spark streams")).toDF("id", "full_text"), Seq("id"))
      eventually()(caughtUp())
      assert(Fts.search(spark, consumerStore, "docs_mirror", "spark")
        .count() === 2L)
      val callsBefore = sinkCalls.get()
      // a compaction advances the epoch but must NOT reach the sink
      producer.compact("docs")
      eventually()(caughtUp())
      assert(sinkCalls.get() === callsBefore,
        "compaction echoed into the streaming sink")
      assert(handle.lastError === None)
    } finally handle.stop()
    assert(!handle.isActive)
  }

  test("crash-restart resumes from the cursor; idempotent sink stays exactly-once") {
    val root = freshRoot()
    val producer = new TableStore(spark, root)
    producer.ensureGoverned(Seq("t"))
    producer.upsert("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))

    val consumerStore = new TableStore(spark, root)
    def mirrorUpsert(batch: org.apache.spark.sql.DataFrame): Unit =
      consumerStore.upsert("m", batch.select(col("id"), col("v")), Seq("id"))

    // first drain registers and delivers the full table
    assert(EpochStream.processAvailable(
      consumerStore, "t", "c")(mirrorUpsert) === 1)
    assert(consumerStore.read("m").count() === 1L)

    // a sink that CRASHES mid-batch: the cursor must not advance
    producer.upsert("t", Seq((2L, "b")).toDF("id", "v"), Seq("id"))
    val cursorBefore = EpochFollower.cursor(consumerStore, "t", "c")
    intercept[RuntimeException] {
      EpochStream.processAvailable(consumerStore, "t", "c") { _ =>
        throw new RuntimeException("sink died mid-batch")
      }
    }
    assert(EpochFollower.cursor(consumerStore, "t", "c") === cursorBefore)

    // the "restarted" consumer (same name, fresh drain) redelivers the
    // unfinished window once — the idempotent upsert converges
    assert(EpochStream.processAvailable(
      consumerStore, "t", "c")(mirrorUpsert) === 1)
    assert(consumerStore.read("m").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "b")))
    // already current: a further drain feeds nothing
    assert(EpochStream.processAvailable(
      consumerStore, "t", "c")(mirrorUpsert) === 0)
  }

  test("a window cut at a compaction counts one batch per sink call") {
    val root = freshRoot()
    val store = new TableStore(spark, root)
    store.ensureGoverned(Seq("t"))
    store.upsert("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    var calls = 0
    val sink: org.apache.spark.sql.DataFrame => Unit = _ => calls += 1
    assert(EpochStream.processAvailable(store, "t", "c", Some(Seq("id")))(sink) === 1)
    // the consumer sleeps through upsert → compact → upsert: its
    // window is cut at the compaction into two delivered segments
    val e0 = store.currentEpochIfAny.get
    store.upsert("t", Seq((2L, "b")).toDF("id", "v"), Seq("id"))
    store.compact("t")
    store.upsert("t", Seq((3L, "c")).toDF("id", "v"), Seq("id"))
    assert(store.currentEpochIfAny.get === e0 + 3)
    calls = 0
    assert(EpochStream.processAvailable(store, "t", "c", Some(Seq("id")))(sink) === 2)
    assert(calls === 2)
  }

  test("live mirror crosses a schema-evolving commit (ALTER-shaped CDC window)") {
    val root = freshRoot()
    val producer = new TableStore(spark, root)
    producer.ensureBucketed("t", Seq("id"), 4)
    producer.ensureGoverned(Seq("t"))
    producer.upsert("t",
      (0 until 16).map(i => (i.toLong, s"v$i")).toDF("id", "v"), Seq("id"))

    val consumerStore = new TableStore(spark, root)
    val rowsSunk = new java.util.concurrent.atomic.AtomicLong()
    val handle = EpochStream.start(consumerStore, "t", "evo-mirror",
      pollMs = 50L, pk = Some(Seq("id"))) { ch =>
      // sink keys on (id, v) only — it predates the evolution, the
      // realistic mirror shape when a producer ALTERs under a consumer
      rowsSunk.addAndGet(
        ch.filter(col("_change_type") === "insert").count())
      val ins = ch.filter(col("_change_type") === "insert")
        .select(col("id"), col("v"))
      val del = ch.filter(col("_change_type") === "delete")
        .select("id").distinct()
      val next = consumerStore.readIfExists("m") match {
        case Some(m) => graft.store.Upsert.upsert(
          Some(m.join(del, Seq("id"), "left_anti")), ins, Seq("id"))
        case None => ins
      }
      consumerStore.overwrite("m", next)
    }
    def caughtUp(): Boolean =
      EpochFollower.cursor(consumerStore, "t", "evo-mirror")
        .contains(producer.snapshot().epoch)
    try {
      eventually()(caughtUp())
      assert(consumerStore.read("m").count() === 16L)
      val sunkBefore = rowsSunk.get()
      // the producer ALTERs the table live: a column-adding upsert
      // rewrites EVERY file; the running mirror must cross it and see
      // only the logically-changed rows
      producer.upsert("t",
        Seq((3L, "V3-UPD", "en"), (200L, "NEW", "de")).toDF("id", "v", "lang"),
        Seq("id"))
      eventually()(caughtUp())
      assert(handle.lastError === None,
        s"mirror died crossing the evolution: ${handle.lastError}")
      assert(rowsSunk.get() - sunkBefore === 2L,
        "the ALTER-spanning window re-emitted carried rows")
      val got = consumerStore.read("m")
        .select(col("id").cast("long"), col("v"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got.contains((3L, "V3-UPD")) && got.contains((200L, "NEW")))
      assert(got.size === 17)
    } finally handle.stop()
  }

  test("live multi-table mirror: joint commits always arrive as one consistent batch") {
    val root = freshRoot()
    val producer = new TableStore(spark, root)
    producer.ensureGoverned(Seq("users", "posts"))
    producer.transact {
      producer.upsert("users", Seq((0L, "u0")).toDF("id", "v"), Seq("id"))
      producer.upsert("posts", Seq((0L, "p0")).toDF("id", "v"), Seq("id"))
    }
    val consumerStore = new TableStore(spark, root)
    val pks = Seq("users" -> Seq("id"), "posts" -> Seq("id"))
    val torn = new java.util.concurrent.atomic.AtomicLong()
    val handle = EpochStream.startMulti(consumerStore, pks, "join-mirror",
      pollMs = 50L) { m =>
      // every producer commit below is JOINT — a batch carrying only
      // one member would be a torn window
      if (m.size != 2) torn.incrementAndGet()
      val u = m.get("users").map(_.filter(col("_change_type") === "insert")
        .select(col("id"), col("v").as("uname")))
      val p = m.get("posts").map(_.filter(col("_change_type") === "insert")
        .select(col("id"), col("v").as("ptitle")))
      for (uu <- u; pp <- p) {
        val joined = uu.join(pp, Seq("id"))
        val next = consumerStore.readIfExists("joined") match {
          case Some(cur) => graft.store.Upsert.upsert(Some(cur), joined, Seq("id"))
          case None => joined
        }
        consumerStore.overwrite("joined", next)
      }
    }
    def caughtUp(): Boolean =
      EpochFollower.cursor(consumerStore, "users", "join-mirror")
        .contains(producer.snapshot().epoch)
    try {
      eventually()(caughtUp())
      (1 to 5).foreach { i =>
        producer.transact {
          producer.upsert("users", Seq((i.toLong, s"u$i")).toDF("id", "v"),
            Seq("id"))
          producer.upsert("posts", Seq((i.toLong, s"p$i")).toDF("id", "v"),
            Seq("id"))
        }
      }
      eventually()(caughtUp())
      assert(handle.lastError === None)
      assert(torn.get() === 0L,
        "a joint commit was delivered with only one member present")
      val joined = consumerStore.read("joined")
        .select(col("id").cast("long"), col("uname"), col("ptitle"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSet
      assert(joined === (0 to 5).map(i =>
        (i.toLong, s"u$i", s"p$i")).toSet)
      assert(handle.batchesProcessed >= 1L)
    } finally handle.stop()
  }

  test("row-level form: the bridged mirror retracts deletes") {
    val root = freshRoot()
    val producer = new TableStore(spark, root)
    producer.ensureBucketed("t", Seq("id"), 2)
    producer.ensureGoverned(Seq("t"))
    producer.upsert("t",
      (0 until 8).map(i => (i.toLong, s"v$i")).toDF("id", "v"), Seq("id"))

    val consumerStore = new TableStore(spark, root)
    def sink(ch: org.apache.spark.sql.DataFrame): Unit = {
      val ins = ch.filter(col("_change_type") === "insert").drop("_change_type")
      val del = ch.filter(col("_change_type") === "delete").select("id").distinct()
      val next = consumerStore.readIfExists("m") match {
        case Some(m) => graft.store.Upsert.upsert(
          Some(m.join(del, Seq("id"), "left_anti")),
          ins.select(col("id"), col("v")), Seq("id"))
        case None => ins.select(col("id"), col("v"))
      }
      consumerStore.overwrite("m", next)
    }
    EpochStream.processAvailable(consumerStore, "t", "cdc", Some(Seq("id")))(sink)
    assert(consumerStore.read("m").count() === 8L)

    val bucket = producer.read("t").filter(col("id") === 3L)
      .select(col("pk_bucket").cast("long")).head.getLong(0)
    val doomed = producer.read("t")
      .filter(col("pk_bucket").cast("long") === bucket)
      .select(col("id").cast("long")).collect().map(_.getLong(0)).toSet
    producer.dropPartition("t", "pk_bucket", bucket.toString)
    EpochStream.processAvailable(consumerStore, "t", "cdc", Some(Seq("id")))(sink)
    val left = consumerStore.read("m")
      .select(col("id").cast("long")).collect().map(_.getLong(0)).toSet
    assert(left.intersect(doomed) === Set.empty)
    assert(left.size === 8 - doomed.size)
  }

  test("cursor reads never race an advance: a live consumer and a polling reader fail no task") {
    val root = freshRoot()
    val producer = new TableStore(spark, root)
    producer.ensureGoverned(Seq("t"))
    producer.upsert("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    val failed = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.reason != org.apache.spark.Success) failed.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val consumerStore = new TableStore(spark, root)
    val handle = EpochStream.start(consumerStore, "t", "c", pollMs = 10L) { batch =>
      batch.count(); ()
    }
    // a third instance reads the cursors as fast as it can while the
    // consumer advances them
    val reader = new TableStore(spark, root)
    try {
      (2L to 6L).foreach { i =>
        producer.upsert("t", Seq((i, "v")).toDF("id", "v"), Seq("id"))
        val want = producer.snapshot().epoch
        val t0 = System.currentTimeMillis()
        while (!EpochFollower.cursor(reader, "t", "c").contains(want)) {
          assert(System.currentTimeMillis() - t0 < 20000, s"consumer never reached epoch $want")
          Thread.sleep(2)
        }
      }
      assert(handle.lastError === None)
    } finally handle.stop()
    Thread.sleep(500) // let the listener bus deliver the last task ends
    spark.sparkContext.removeSparkListener(listener)
    assert(failed.get() === 0, "failed Spark tasks while cursors were read and advanced")
  }
}
