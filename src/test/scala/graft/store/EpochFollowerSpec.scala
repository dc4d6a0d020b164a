package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Consumer cursors over the epoch log: at-least-once delivery with
  * the cursor advancing only after the handler returns, cursor epochs
  * pinning vacuum (a lagging consumer keeps its diff base), and the
  * skip-existing composition restoring exactly-once downstream.
  */
class EpochFollowerSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): TableStore =
    new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-follow").toString)

  private def rows(df: DataFrame): Set[(Long, String)] =
    df.select(col("id").cast("long"), col("v"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("first consume delivers the table; later consumes deliver only the diff") {
    val store = freshStore()
    store.ensureBucketed("t", Seq("id"), 4)
    store.ensureGoverned(Seq("t"))
    // a governed-but-empty table delivers nothing and registers no
    // cursor — the consumer waits for the first rows
    assert(EpochFollower.consumeNew(store, "t", "trainer")(rows) === None)
    assert(EpochFollower.cursor(store, "t", "trainer") === None)
    store.transact {
      store.upsert("t", (0 until 16).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
        Seq("id"))
    }
    // registration: the full table
    val first = EpochFollower.consumeNew(store, "t", "trainer")(rows)
    assert(first.map(_._1.size) === Some(16))
    // current: nothing to consume
    assert(EpochFollower.consumeNew(store, "t", "trainer")(rows) === None)
    // append, consume: only the touched bucket's files arrive
    store.transact {
      store.upsert("t", Seq((100L, "NEW")).toDF("id", "v"), Seq("id"))
    }
    val second = EpochFollower.consumeNew(store, "t", "trainer")(rows)
    val got = second.get._1
    assert(got.contains((100L, "NEW")))
    assert(got.size < 17, "diff consumed the whole table")
    // exactly-once via the engine's own skip-existing anti-join:
    // dedup the redelivered bucket rows against what was seen
    val firstSeen = first.get._1.map(_._1)
    assert(got.filterNot(r => firstSeen.contains(r._1)) === Set((100L, "NEW")))
  }

  test("a crashed handler re-delivers; the cursor never advances past a failure") {
    val store = freshStore()
    store.ensureGoverned(Seq("t"))
    store.transact {
      store.upsert("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    }
    intercept[RuntimeException] {
      EpochFollower.consumeNew(store, "t", "c")(_ => throw new RuntimeException("mid-handler crash"))
    }
    assert(EpochFollower.cursor(store, "t", "c") === None)
    // the retry delivers the same data and advances
    val r = EpochFollower.consumeNew(store, "t", "c")(rows)
    assert(r.map(_._1) === Some(Set((1L, "a"))))
    assert(EpochFollower.cursor(store, "t", "c") === r.map(_._2))
  }

  test("incremental indexer: consume diffs into a maintained FTS mirror") {
    // the CDC-driven derived-data pattern the cursors exist for: an
    // indexer consumer keeps a searchable FTS mirror of a governed
    // source table by consuming epoch diffs — at-least-once diff
    // rows land in an idempotent keyed upsertWithIndex, so a
    // redelivered rewritten bucket re-indexes to the same state and
    // per-catch-up cost is O(diff), not O(corpus)
    val store = freshStore()
    store.ensureBucketed("docs", Seq("id"), 4)
    store.ensureGoverned(Seq("docs"))
    store.transact {
      store.upsert("docs", (0 until 12).map(i =>
          (i.toLong, s"alpha document number $i")).toDF("id", "text"),
        Seq("id"))
    }
    def indexStep(): Option[Long] =
      EpochFollower.consumeNew(store, "docs", "fts-indexer") { df =>
        Fts.upsertWithIndex(store, "mirror",
          df.select(col("id").as("pk"), col("text")), "pk", "text")
      }.map(_._2)
    assert(indexStep().nonEmpty)
    assert(Fts.search(spark, store, "mirror", "alpha").count() === 12L)

    // source advances; the indexer catches up on the DIFF only
    store.transact {
      store.upsert("docs", Seq((100L, "zebra quagga")).toDF("id", "text"),
        Seq("id"))
    }
    assert(indexStep().nonEmpty)
    assert(Fts.search(spark, store, "mirror", "zebra")
      .select(col("pk")).collect().map(_.getLong(0)).toSet === Set(100L))
    assert(Fts.search(spark, store, "mirror", "alpha").count() === 12L)
    assert(store.read("mirror").count() === 13L)
    // current: the next step is a no-op
    assert(indexStep() === None)
    assert(Doctor.check(store) === Seq.empty)
  }

  test("cursor epochs are vacuum roots until the consumer is dropped") {
    val store = freshStore()
    store.ensureGoverned(Seq("t"))
    store.transact {
      store.upsert("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    }
    EpochFollower.consumeNew(store, "t", "lagging")(identity)
    val base = EpochFollower.cursor(store, "t", "lagging").get
    // two more commits; the lagging consumer never runs
    store.transact {
      store.upsert("t", Seq((2L, "b")).toDF("id", "v"), Seq("id"))
    }
    store.transact {
      store.upsert("t", Seq((3L, "c")).toDF("id", "v"), Seq("id"))
    }
    store.vacuumEpochs()
    // the cursor's diff-base epoch survived the age-0 vacuum...
    assert(store.log.epochs().contains(base),
      "vacuum reclaimed a registered consumer's diff base")
    // ...so the catch-up still resolves and delivers both new rows
    val caught = EpochFollower.consumeNew(store, "t", "lagging")(rows)
    assert(caught.get._1.map(_._1).intersect(Set(2L, 3L)) === Set(2L, 3L))
    // a deeply lagging consumer earns a Doctor advisory naming it
    (0 until 8).foreach { i =>
      store.transact {
        store.upsert("t", Seq((10L + i, s"x$i")).toDF("id", "v"), Seq("id"))
      }
    }
    val lag = Doctor.suggest(store).filter(_.component == "consumer-lag")
    assert(lag.size === 1, s"lag advisory missing: ${Doctor.suggest(store)}")
    assert(lag.head.problem.contains("lagging"))
    // dropping the consumer releases the pin
    EpochFollower.drop(store, "t", "lagging")
    assert(Doctor.suggest(store).filter(_.component == "consumer-lag") === Seq.empty)
    assert(EpochFollower.cursor(store, "t", "lagging") === None)
    store.vacuumEpochs()
    assert(store.log.epochs().size === 1)
    assert(Doctor.check(store) === Seq.empty)
  }
}
