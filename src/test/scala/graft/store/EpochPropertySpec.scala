package graft.store

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Property-style hardening of the epoch commit log (the
  * UpsertPropertySpec discipline applied to the transactional layer):
  * seeded random sequences of multi-table transactions, redeliveries,
  * crash injections at the pre-flip window, aborts, vacuums, and
  * bucket conversions, checked after EVERY step against an in-memory
  * reference model — a cross-process reader must always see exactly
  * the model (all-or-nothing per transaction), and crashes must never
  * lose, tear, or duplicate state.
  */
abstract class EpochPropertyBehavior extends SparkSpec {
  import spark.implicits._

  /** Overridden by the S3-seam twin suite (see SnapshotOccS3Spec). */
  protected def mkStore(root: String): TableStore =
    new TableStore(spark, root)

  private val tables = Seq("ta", "tb", "tc")

  test("random transaction sequences: reader state always equals the model") {
    val rnd = new scala.util.Random(20260814)
    (1 to 3).foreach { round =>
      val root = java.nio.file.Files.createTempDirectory("graft-eprop").toString
      val store = mkStore(root)
      val reader = mkStore(root)
      // one table starts bucketed (the O(touched) path), rest flat
      store.ensureBucketed("ta", Seq("id"), 4)
      store.ensureGoverned(tables)
      val model = scala.collection.mutable.Map(
        tables.map(_ -> scala.collection.mutable.Map.empty[Long, String]): _*)
      var lastBatch: Option[Map[String, Seq[(Long, String)]]] = None
      // per-epoch model snapshots, for the incremental-scan invariant
      val history = scala.collection.mutable.Map[Long, Map[String, Map[Long, String]]]()

      def snapshotModel(): Unit =
        store.log.epochs().lastOption.foreach { e =>
          history(e) = model.map { case (t, m) => t -> m.toMap }.toMap
        }

      def applyTx(batch: Map[String, Seq[(Long, String)]]): Unit =
        store.transact {
          batch.foreach { case (t, rows) =>
            store.upsert(t, rows.toDF("id", "v"), Seq("id"))
          }
        }

      def check(step: String): Unit = tables.foreach { t =>
        val want = model(t).toSet
        val got =
          if (reader.readIfExists(t).isEmpty) Set.empty[(Long, String)]
          else reader.read(t).select(col("id"), col("v"))
            .collect().map(r => (r.getLong(0), r.getString(1))).toSet
        assert(got === want, s"round $round, $step: $t diverged")
      }

      snapshotModel() // epoch 1: everything governed empty
      (0 until 14).foreach { step =>
        rnd.nextInt(10) match {
          case n if n <= 4 => // normal multi-table transaction
            // ids are DISTINCT within each batch frame: without an
            // explicit __ord column Upsert breaks intra-batch ties
            // arbitrarily (deterministic but unspecified), so the
            // model only constrains distinct-key batches
            val batch = rnd.shuffle(tables).take(1 + rnd.nextInt(3))
              .map(t => t -> rnd.shuffle((0 until 30).toList)
                .take(1 + rnd.nextInt(4))
                .map(id => (id.toLong, s"v$step-${rnd.nextInt(100)}"))).toMap
            applyTx(batch)
            batch.foreach { case (t, rows) =>
              rows.foreach { case (id, v) => model(t)(id) = v }
            }
            lastBatch = Some(batch)
            snapshotModel()
            check(s"tx@$step")
          case 5 | 6 => // crash at the pre-flip window, then redeliver
            lastBatch.foreach { batch =>
              store.beforeCommitFlip = () => throw new RuntimeException("kill")
              try intercept[RuntimeException] { applyTx(batch) }
              finally store.beforeCommitFlip = () => ()
              check(s"crash@$step") // reader unmoved
              applyTx(batch) // at-least-once redelivery converges
              snapshotModel()
              check(s"redeliver@$step")
            }
          case 7 => // abort mid-transaction (second table never lands)
            store.beforeCommitFlip = () => ()
            intercept[RuntimeException] {
              store.transact {
                store.upsert("tb", Seq((99L, "never")).toDF("id", "v"), Seq("id"))
                throw new RuntimeException("abort")
              }
            }
            check(s"abort@$step")
          case 8 => // vacuum: reclaim must never change visible state
            store.vacuumEpochs()
            history.keys.filterNot(store.log.epochs().toSet).toSeq
              .foreach(history.remove)
            check(s"vacuum@$step")
          case 9 => // time travel: the latest epoch equals the model;
            // incremental scan: the diff from a random retained epoch
            // must CONTAIN every row that changed since it (the
            // at-least-once contract of readAddedSince)
            tables.foreach { t =>
              if (model(t).nonEmpty) {
                val got = store.readEpoch(t, store.log.epochs().last)
                  .select(col("id"), col("v"))
                  .collect().map(r => (r.getLong(0), r.getString(1))).toSet
                assert(got === model(t).toSet, s"round $round epoch-read@$step")
              }
            }
            val retained = store.log.epochs().filter(history.contains)
            if (retained.nonEmpty) {
              val e = retained(rnd.nextInt(retained.size))
              val cur = store.log.epochs().last
              tables.foreach { t =>
                val then_ = history(e).getOrElse(t, Map.empty)
                val now = model(t).toMap
                val changed = now.toSet.diff(then_.toSet)
                if (changed.nonEmpty || then_.nonEmpty || now.nonEmpty) {
                  val added =
                    if (then_.isEmpty && now.isEmpty) Set.empty[(Long, String)]
                    else store.readAddedSince(t, e, cur)
                      .select(col("id"), col("v"))
                      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
                  assert(changed.subsetOf(added),
                    s"round $round diff@$step: $t epoch $e->$cur lost " +
                      s"changed rows ${changed -- added}")
                }
              }
            }
        }
      }
      assert(Doctor.check(store) === Seq.empty,
        s"round $round left integrity issues")
    }
  }

  test("two-writer OCC races: reader always equals the model; snapshots stay pinned") {
    // randomized interleavings of the round-10 OCC rule: writer B
    // commits INSIDE writer A's commit window every step (the
    // beforeCommitFlip seam = the worst possible interleaving).
    // Disjoint table sets must BOTH land (A rebases); overlapping
    // sets must abort A loudly — and A's plain retry then converges.
    // The model applies B-then-A (the arbitration order the pointer
    // enforces); a cross-process reader must equal it after every
    // step, through vacuums, and a snapshot pinned before a B commit
    // must keep serving the pre-commit state.
    val rnd = new scala.util.Random(20260815)
    (1 to 2).foreach { round =>
      val root = java.nio.file.Files.createTempDirectory("graft-eprop2").toString
      val a = mkStore(root)
      val b = mkStore(root)
      val reader = mkStore(root)
      a.ensureGoverned(tables)
      val model = scala.collection.mutable.Map(
        tables.map(_ -> scala.collection.mutable.Map.empty[Long, String]): _*)

      def mkBatch(ts: Seq[String], tag: String): Map[String, Seq[(Long, String)]] =
        ts.map(t => t -> rnd.shuffle((0 until 20).toList).take(1 + rnd.nextInt(3))
          .map(id => (id.toLong, s"$tag-${rnd.nextInt(100)}"))).toMap
      def commit(w: TableStore, batch: Map[String, Seq[(Long, String)]]): Unit =
        w.transact {
          batch.foreach { case (t, rows) =>
            w.upsert(t, rows.toDF("id", "v"), Seq("id"))
          }
        }
      def applyModel(batch: Map[String, Seq[(Long, String)]]): Unit =
        batch.foreach { case (t, rows) =>
          rows.foreach { case (id, v) => model(t)(id) = v } }
      def check(step: String): Unit = tables.foreach { t =>
        val got =
          if (reader.readIfExists(t).isEmpty) Set.empty[(Long, String)]
          else reader.read(t).select(col("id"), col("v"))
            .collect().map(r => (r.getLong(0), r.getString(1))).toSet
        assert(got === model(t).toSet, s"round $round, $step: $t diverged")
      }

      (0 until 8).foreach { step =>
        val tsA = rnd.shuffle(tables).take(1 + rnd.nextInt(2))
        val wantOverlap = rnd.nextBoolean()
        val tsB =
          if (wantOverlap) Seq(tsA.head)
          else rnd.shuffle(tables.filterNot(tsA.contains)).take(1)
        val batchA = mkBatch(tsA, s"a$step")
        val batchB = mkBatch(tsB, s"b$step")
        a.beforeCommitFlip = () => {
          a.beforeCommitFlip = () => ()
          commit(b, batchB)
        }
        if (tsB.exists(tsA.contains)) {
          try intercept[java.util.ConcurrentModificationException] {
            commit(a, batchA)
          } finally a.beforeCommitFlip = () => ()
          applyModel(batchB)
          check(s"loser-aborted@$step") // B landed whole; A not at all
          commit(a, batchA) // the standard OCC retry, post-conflict
          applyModel(batchA)
        } else {
          try commit(a, batchA) finally a.beforeCommitFlip = () => ()
          applyModel(batchB); applyModel(batchA) // disjoint: any order
        }
        check(s"race@$step")
        if (rnd.nextInt(3) == 0) {
          a.vacuumEpochs()
          check(s"vacuum@$step")
        }
        if (rnd.nextInt(3) == 0 && model.values.exists(_.nonEmpty)) {
          val t0 = tables.find(t => model(t).nonEmpty).get
          val snap = reader.snapshot()
          val want = model(t0).toSet
          val late = Map(t0 -> Seq((777L, s"late$step")))
          commit(b, late); applyModel(late)
          val got = snap.read(t0).select(col("id"), col("v"))
            .collect().map(r => (r.getLong(0), r.getString(1))).toSet
          assert(got === want,
            s"round $round snap@$step: pinned read drifted to a later epoch")
          check(s"post-snap@$step")
        }
      }
      assert(Doctor.check(a) === Seq.empty,
        s"round $round left integrity issues")
    }
  }
}

/** The property matrix over the default POSIX-rename pointer seam. */
class EpochPropertySpec extends EpochPropertyBehavior

/** The SAME property matrix over the simulated S3 conditional-put
  * seam (transient 500 + duplicated request on every flip).
  */
class EpochPropertyS3Spec extends EpochPropertyBehavior {
  override protected def mkStore(root: String): TableStore =
    S3SeamStore.flaky(spark, root)
}
