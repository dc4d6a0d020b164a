package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.store.{FileManifest, TableStore}

/** Streaming bottom-k sample maintenance: after every micro-batch the
  * persisted sample equals the batch aggregate's sample over the
  * stream history so far (determinism is what makes the sketch
  * useful), stays k-bounded per group, and redelivery is idempotent
  * WITHOUT any watermark machinery — set-union merge is the whole
  * redelivery story.
  */
class StreamQuantilesSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): TableStore =
    new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-sqk").toString)

  private val k = 8

  /** Batch-side reference: bottom-k rows by (hash, tie) per group over
    * `rows` — the sample the stream must converge to.
    */
  private def reference(rows: Seq[(String, Long, Long)]): Map[(String, Long), Long] =
    rows.toDF("grp", "id", "v")
      .withColumn("h",
        conv(substring(md5(concat(lit("q|"), col("id").cast("string"))), 1, 12), 16, 10)
          .cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("grp").orderBy(col("h"), col("id"))))
      .filter(col("rn") <= k)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap

  private def stored(store: TableStore): Map[(String, Long), Long] =
    StreamQuantiles.sample(store, "docs")
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("tie"))
        -> r.getAs[Long]("v")).toMap

  test("persisted sample equals the batch sample of the history at every batch") {
    implicit val sqlCtx = spark.sqlContext
    val store = freshStore()
    val mem = MemoryStream[(String, Long, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sqk-ck").toString
    val q = StreamQuantiles.writeQuantiles(
      mem.toDF().toDF("grp", "id", "v"), store, "docs", "grp", "id", "v", ckpt, k)

    def data(offset: Int): Seq[(String, Long, Long)] =
      (0 until 40).map(i =>
        (s"g${i % 2}", (offset + i).toLong, ((offset + i) * 13 % 100).toLong))
    val history = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    try {
      for (b <- 0 until 3) {
        val d = data(b * 40)
        history ++= d
        mem.addData(d: _*)
        q.processAllAvailable()
        assert(stored(store) === reference(history.toSeq), s"batch $b diverged")
        // bounded: ≤ k rows per group
        val perGroup = StreamQuantiles.sample(store, "docs")
          .groupBy("grp").count().collect().map(_.getLong(1))
        assert(perGroup.forall(_ <= k))
      }
      // quantile reader answers from the sample with the oracle-pinned pick
      val qs = StreamQuantiles.quantiles(store, "docs", Seq(0.5))
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(qs.keySet === Set("g0", "g1"))
      qs.values.foreach(v => assert(v >= 0 && v < 100))
    } finally q.stop()
  }

  test("bucketized sample: converts live, agrees with flat, rewrites touched buckets only") {
    val flat = freshStore()
    val buckDir = java.nio.file.Files.createTempDirectory("graft-sqkb").toString
    val buck = new TableStore(spark, buckDir)
    val k2 = 4
    def sink(s: TableStore) =
      StreamQuantiles.quantilesSink(s, "docs", "grp", "id", "v", k2)
    val b0 = (0 until 40).map(i => (s"g${i % 8}", i.toLong, i.toLong))
      .toDF("grp", "id", "v")
    // start BOTH flat; bucketize one mid-stream (the live-conversion path)
    sink(flat)(b0, 0L)
    sink(buck)(b0, 0L)
    StreamQuantiles.ensureBucketedSample(buck, "docs", 4)
    assert(buck.bucketLayoutOf(StreamQuantiles.sampleName("docs"))
      === Some((4, Seq("grp"))))

    val b1 = (40 until 80).map(i => (s"g${i % 8}", i.toLong, i.toLong))
      .toDF("grp", "id", "v")
    sink(flat)(b1, 1L)
    sink(buck)(b1, 1L)
    def rows(s: TableStore): Set[(String, Long, Long)] =
      StreamQuantiles.sample(s, "docs")
        .select(col("grp"), col("tie"), col("v"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(buck) === rows(flat))

    // a batch touching ONE group leaves the other buckets' files alone
    val name = StreamQuantiles.sampleName("docs")
    def filesOf(bucket: Long): Set[String] = {
      val dir = new java.io.File(s"$buckDir/$name/pk_bucket=$bucket")
      if (!dir.exists()) Set.empty
      else dir.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    // Hive partition discovery types pk_bucket as int — cast for reads
    val g0bucket = buck.read(name).filter(col("grp") === "g0")
      .select(col("pk_bucket").cast("long")).head.getLong(0)
    val untouched = (0L until 4L).filter(_ != g0bucket)
    val before = untouched.map(b => b -> filesOf(b)).toMap
    val g0Before = filesOf(g0bucket)
    sink(buck)(Seq(("g0", 1000L, 1L)).toDF("grp", "id", "v"), 2L)
    untouched.foreach(b => assert(filesOf(b) === before(b),
      s"bucket $b was rewritten by a batch that never touched it"))
    // the touched bucket WAS rewritten (fresh part files), whether or
    // not the offered row displaced anything
    assert(filesOf(g0bucket) !== g0Before)
    sink(flat)(Seq(("g0", 1000L, 1L)).toDF("grp", "id", "v"), 2L)
    assert(rows(buck) === rows(flat))
    // doctor: bucket placement + sample invariants both hold
    assert(graft.store.Doctor.check(buck) === Seq.empty)
  }

  test("random batch sequences: flat, bucketized, and the reference model agree") {
    // property-style hardening (the UpsertPropertySpec discipline):
    // random batches with overlapping ties and redeliveries, applied
    // to a flat store, a bucketized store (converted mid-sequence),
    // and an in-JVM reference model of "k smallest (md5-48bit, tie)
    // per group" — all three must agree exactly after every batch.
    val rnd = new scala.util.Random(4242)
    val kP = 5
    def h48(tie: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"q|$tie".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      java.lang.Long.parseLong(hex, 16)
    }
    (1 to 3).foreach { round =>
      val flat = freshStore()
      val buck = freshStore()
      val model = scala.collection.mutable.Map[String, Set[(Long, Long, Long)]]()
      val convertAt = rnd.nextInt(4)
      var lastBatch: Option[org.apache.spark.sql.DataFrame] = None
      (0 until 5).foreach { b =>
        if (b == convertAt)
          StreamQuantiles.ensureBucketedSample(buck, "docs", 3)
        val redeliver = lastBatch.isDefined && rnd.nextBoolean()
        val batch =
          if (redeliver) lastBatch.get
          else {
            val rows = (1 to (1 + rnd.nextInt(12))).map { _ =>
              val tie = rnd.nextInt(40).toLong
              (s"g${rnd.nextInt(3)}", tie, tie * 10)
            }
            rows.foreach { case (g, tie, v) =>
              val grown = model.getOrElse(g, Set.empty) + ((h48(tie), tie, v))
              model(g) = grown.toSeq.sorted.take(kP).toSet
            }
            rows.toDF("grp", "id", "v")
          }
        lastBatch = Some(batch)
        StreamQuantiles.quantilesSink(flat, "docs", "grp", "id", "v", kP)(batch, b)
        StreamQuantiles.quantilesSink(buck, "docs", "grp", "id", "v", kP)(batch, b)
        def got(s: TableStore): Map[String, Set[(Long, Long, Long)]] =
          StreamQuantiles.sample(s, "docs")
            .select(col("grp"), col("h"), col("tie"), col("v"))
            .collect()
            .groupBy(_.getString(0))
            .map { case (g, rs) =>
              g -> rs.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
            }
        val want = model.toMap.filter(_._2.nonEmpty)
        assert(got(flat) === want, s"flat diverged (round $round batch $b)")
        assert(got(buck) === want, s"bucketized diverged (round $round batch $b)")
      }
    }
  }

  test("cardinality reader: KMV estimate from the same sample, sub-k exact") {
    val store = freshStore()
    val sink = StreamQuantiles.quantilesSink(store, "docs", "grp", "id", "v", 64)
    // 'big': 500 distinct ties across two batches (some re-offered);
    // 'small': 9 distinct ties — sub-k, must be exact
    sink(((0 until 300).map(i => ("big", i.toLong, i.toLong)) ++
      (0 until 9).map(i => ("small", i.toLong, i.toLong)))
      .toDF("grp", "id", "v"), 0L)
    sink((200 until 500).map(i => ("big", i.toLong, i.toLong))
      .toDF("grp", "id", "v"), 1L)
    // k is read from the table itself (the sink stamps it per row)
    val est = StreamQuantiles.cardinality(store, "docs")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("small") === 9L)
    assert(math.abs(est("big") - 500L) <= 150L,
      s"KMV estimate ${est("big")} too far from 500")
  }

  test("bucketized merges keep the file-stats manifest fresh (O(touched) maintenance)") {
    // the custom-merge path shares refreshTouchedStats with the
    // bucketed upsert: after a stats-backed sample takes more batches,
    // the manifest must still describe exactly the live files (the
    // Doctor freshness invariant) without a full rebuild
    val store = freshStore()
    val sink = StreamQuantiles.quantilesSink(store, "docs", "grp", "id", "v", 4)
    sink((0 until 40).map(i => (s"g${i % 8}", i.toLong, i.toLong))
      .toDF("grp", "id", "v"), 0L)
    StreamQuantiles.ensureBucketedSample(store, "docs", 4)
    val name = StreamQuantiles.sampleName("docs")
    // conversion happens on the NEXT merge; then enable stats
    sink(Seq(("g0", 100L, 1L)).toDF("grp", "id", "v"), 1L)
    FileManifest.build(store, name)
    assert(FileManifest.exists(store, name))
    // two more touched-bucket merges must keep the manifest fresh
    sink(Seq(("g1", 101L, 2L)).toDF("grp", "id", "v"), 2L)
    sink(Seq(("g2", 102L, 3L), ("g3", 103L, 4L)).toDF("grp", "id", "v"), 3L)
    val stale = graft.store.Doctor.check(store)
      .filter(_.component == "file-stats")
    assert(stale.isEmpty, s"manifest went stale under custom merges: $stale")
    assert(graft.store.Doctor.check(store) === Seq.empty)
  }

  test("a non-integral tie column is refused loudly, not silently dropped") {
    // string ties would null out under cast("long") — every batch row
    // silently filtered, a stale sample forever. The sink must refuse
    // the schema instead.
    val store = freshStore()
    val sink = StreamQuantiles.quantilesSink(store, "docs", "grp", "id", "v", 8)
    val bad = Seq(("g", "uuid-1", 5L)).toDF("grp", "id", "v")
    val ex = intercept[IllegalArgumentException] { sink(bad, 0L) }
    assert(ex.getMessage.contains("must be integral"))
    // fractional ties are the same trap (truncation re-keys the sample)
    val frac = Seq(("g", 3.5, 5L)).toDF("grp", "id", "v")
    intercept[IllegalArgumentException] { sink(frac, 1L) }
  }

  test("a legacy-schema existing sample fails loudly instead of silently losing history") {
    // an out-of-band table under the sample's name with the wrong
    // columns must NOT be swap-overwritten by a batch-only sample —
    // that would silently lose the whole stream history
    val store = freshStore()
    import spark.implicits._
    store.overwrite(StreamQuantiles.sampleName("docs"),
      Seq(("g", 1L)).toDF("grp", "old_value"))
    val sink = StreamQuantiles.quantilesSink(store, "docs", "grp", "id", "v", 8)
    val batch = Seq(("g", 1L, 5L)).toDF("grp", "id", "v")
    val ex = intercept[Exception] { sink(batch, 0L) }
    assert(ex.getMessage.contains("refusing to overwrite"),
      s"wrong failure: ${ex.getMessage}")
    // the legacy table survives untouched
    assert(store.read(StreamQuantiles.sampleName("docs"))
      .columns.toSeq === Seq("grp", "old_value"))
  }

  test("cardinality over a declared-but-empty sample is empty, not an NPE") {
    val store = freshStore()
    StreamQuantiles.ensureBucketedSample(store, "docs", 4)
    assert(StreamQuantiles.cardinality(store, "docs").collect().isEmpty)
  }

  test("redelivery with a drifted value collapses to min(v), matching the aggregate") {
    // at-least-once delivery where the value column changed between
    // deliveries: both rows carry the same (grp, tie) — the stored
    // sample must hold ONE row with the minimum value (the
    // BottomKSample.add rule), keeping the (grp, tie)-uniqueness
    // Doctor invariant
    val store = freshStore()
    val sink = StreamQuantiles.quantilesSink(store, "docs", "grp", "id", "v", 8)
    sink(Seq(("g", 1L, 50L)).toDF("grp", "id", "v"), 0L)
    sink(Seq(("g", 1L, 20L)).toDF("grp", "id", "v"), 1L) // same tie, new value
    val rows = StreamQuantiles.sample(store, "docs")
      .select(col("grp"), col("tie"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq === Seq(("g", 1L, 20L)))
  }

  test("quantile column names never collide, even for ps rounding to the same percent") {
    assert(StreamQuantiles.pColName(0.5) === "p50_est")
    assert(StreamQuantiles.pColName(0.495) === "p49_5_est")
    assert(StreamQuantiles.pColName(0.901) === "p90_1_est")
    assert(StreamQuantiles.pColName(0.99) === "p99_est")
    val store = freshStore()
    val sink = StreamQuantiles.quantilesSink(store, "docs", "grp", "id", "v", 64)
    sink((0 until 100).map(i => ("g", i.toLong, i.toLong)).toDF("grp", "id", "v"), 0L)
    val qs = StreamQuantiles.quantiles(store, "docs", Seq(0.495, 0.5, 0.9, 0.901))
    assert(qs.columns.toSeq ===
      Seq("grp", "n_sample", "p49_5_est", "p50_est", "p90_est", "p90_1_est"))
    assert(qs.columns.distinct.length === qs.columns.length)
    qs.collect() // select-by-name downstream works
  }

  test("redelivered batch is idempotent with no watermark at all") {
    val store = freshStore()
    val sink = StreamQuantiles.quantilesSink(store, "docs", "grp", "id", "v", k)
    val batch = (0 until 30).map(i => ("g", i.toLong, i.toLong))
      .toDF("grp", "id", "v")
    sink(batch, 0L)
    val first = stored(store)
    assert(first.size === k)
    sink(batch, 0L) // redelivery — set union converges
    assert(stored(store) === first)
    // sub-k start: a tiny group stays exact
    val tiny = Seq(("t", 1000L, 7L)).toDF("grp", "id", "v")
    sink(tiny, 1L)
    assert(stored(store).get(("t", 1000L)) === Some(7L))
  }
}
