package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.sql.GraftCatalog
import graft.store.{EpochFollower, TableStore}

/** Every CDC consumer form reads the same pending window the same
  * way: the cursor follower, the poll-loop drain, the `graft-cdc`
  * streaming source and per-segment `graft-changes` reads must
  * deliver the same (table, pk, change) multiset for each segment of
  * a scripted two-table history — a joint transact, an
  * upsert → compact → upsert run a sleeping consumer sees at once, a
  * bucketed delete and an `ALTER TABLE … ADD COLUMN` followed by an
  * insert. The segments are derived here from the script (a window is
  * cut at each compaction), independently of the consumers.
  */
class ConsumerAgreementSpec extends SparkSpec {
  import spark.implicits._

  private type Delivery = Seq[(String, Long, String)]

  private def rows(t: String, df: DataFrame): Delivery =
    df.select(col("id").cast("long"), col("_change_type")).collect()
      .map(r => (t, r.getLong(0), r.getString(1))).toSeq

  private def tagged(df: DataFrame): Delivery =
    df.select(col("_table"), col("id").cast("long"), col("_change_type"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq

  test("follower, drain, graft-cdc and graft-changes deliver the same multiset per segment") {
    val root = java.nio.file.Files.createTempDirectory("graft-agree").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", root)
    val store = new TableStore(spark, root)
    val pks = Seq("a" -> Seq("id"), "b" -> Seq("id"))
    store.ensureBucketed("a", Seq("id"), 2)
    store.ensureGoverned(Seq("a", "b"))
    store.upsert("a", (1L to 4L).map(i => (i, s"a$i")).toDF("id", "v"), Seq("id"))
    store.upsert("b", (1L to 2L).map(i => (i, s"b$i")).toDF("id", "v"), Seq("id"))

    val ckpt = java.nio.file.Files.createTempDirectory("graft-agree-ck").toString
    def sorted(d: Seq[Delivery]): Seq[Delivery] = d.map(_.sorted)

    // one poll of every consumer; each returns its non-empty deliveries
    def poll(): Map[String, Seq[Delivery]] = {
      val follower = mutable.ArrayBuffer[Delivery]()
      EpochFollower.consumeChangesMulti(store, pks, "follower") { m =>
        follower += m.toSeq.flatMap { case (t, df) => rows(t, df) }
      }
      val drain = mutable.ArrayBuffer[Delivery]()
      EpochStream.processAvailableMulti(store, pks, "drain") { m =>
        drain += m.toSeq.flatMap { case (t, df) => rows(t, df) }
      }
      val cdc = mutable.ArrayBuffer[Delivery]()
      spark.readStream.format("graft-cdc")
        .option("root", root).option("tables", "a,b")
        .option("pk.a", "id").option("pk.b", "id")
        .load().writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch((df: Dataset[Row], _: Long) => {
          val d = tagged(df)
          if (d.nonEmpty) cdc.synchronized(cdc += d)
          ()
        }).start().awaitTermination()
      Map("follower" -> sorted(follower.toSeq), "drain" -> sorted(drain.toSeq),
        "graft-cdc" -> sorted(cdc.synchronized(cdc.toSeq)))
    }

    // registration: every member in full, one delivery
    val reg = poll()
    assert(reg.values.toSet.size === 1, s"registration disagrees: $reg")
    assert(reg("follower").map(_.size) === Seq(6))

    // a script group: commits as (is-rewrite, commit); the expected
    // segments are the runs of logical commits between rewrites
    def group(commits: (Boolean, () => Unit)*): Unit = {
      val marks = mutable.ArrayBuffer(store.snapshot().epoch)
      val rewrites = mutable.Set[Long]()
      commits.foreach { case (rewrite, f) =>
        f()
        val e = store.snapshot().epoch
        if (rewrite) rewrites += e
        marks += e
      }
      // cut (first, last] at every rewrite commit
      val bounds = (marks.head +: rewrites.toSeq.flatMap(e => Seq(e - 1, e)) :+
        marks.last).distinct.sorted
      val expected = bounds.sliding(2).collect { case Seq(a, b) =>
        tagged(spark.read.format("graft-changes")
          .option("root", root).option("tables", "a,b")
          .option("pk.a", "id").option("pk.b", "id")
          .option("fromEpoch", a.toString).option("toEpoch", b.toString)
          .load())
      }.filter(_.nonEmpty).toSeq
      val got = poll()
      got.foreach { case (consumer, d) =>
        assert(d === sorted(expected), s"$consumer disagrees with graft-changes")
      }
    }

    def up(t: String, rows: Seq[(Long, String)]): Unit =
      store.upsert(t, rows.toDF("id", "v"), Seq("id"))

    // a joint transact: one segment carrying both members
    group(false -> (() => store.transact {
      up("a", Seq((5L, "a5"), (1L, "a1x"))); up("b", Seq((3L, "b3")))
    }))
    // upsert → compact → upsert, seen at once: two segments, the same
    // pk changed in both
    group(false -> (() => up("a", Seq((2L, "a2x")))),
      true -> (() => store.compact("a")),
      false -> (() => { up("a", Seq((2L, "a2y"), (6L, "a6"))); up("b", Seq((1L, "b1x"))) }))
    // a bucketed delete
    group(false -> (() => store.deleteByPk("a", Seq(3L, 5L).toDF("id"), Seq("id"))))
    // ADD COLUMN is metadata only; the insert that populates it commits
    group(false -> (() => {
      spark.sql("ALTER TABLE graft.b ADD COLUMN n INT")
      spark.sql("INSERT INTO graft.b VALUES (4, 'b4', 40)")
    }))
  }
}
