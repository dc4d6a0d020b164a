package graft.store

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bucket-scoped base-table upsert: a batch merge must rewrite ONLY
  * the pk-hash buckets the batch touches (the O(batch) path every
  * K1-K9 sink needs at scale), while keeping the exact replace /
  * ignore semantics of the flat Upsert it displaces. File paths are
  * the proof: parquet part files are uniquely named per write, so an
  * untouched bucket keeps byte-identical paths and a rewritten one
  * does not.
  */
class BucketedUpsertSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): TableStore =
    new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-bup").toString)

  private def rows(ids: Range) =
    ids.map(i => (i.toLong, s"v$i")).toDF("id", "v")

  test("a 1-row upsert into a 100-bucket table rewrites exactly 1 bucket") {
    val store = freshStore()
    store.upsertBucketed("t", rows(0 until 500), Seq("id"), buckets = 100)
    assert(store.bucketLayoutOf("t") === Some((100, Seq("id"))))

    val before = store.dataFiles("t").toSet
    store.upsertBucketed("t",
      Seq((7L, "updated")).toDF("id", "v"), Seq("id"), buckets = 100)
    val after = store.dataFiles("t").toSet

    val changed = (before diff after) ++ (after diff before)
    val changedBuckets = changed.map(p =>
      p.split("/").find(_.startsWith("pk_bucket=")).getOrElse(p))
    assert(changedBuckets.size === 1,
      s"expected 1 rewritten bucket, got ${changedBuckets.size}: $changedBuckets")
    // the untouched 99 buckets kept their exact files
    val target = changedBuckets.head
    assert(before.filterNot(_.contains(target)) ===
      after.filterNot(_.contains(target)))
    // and the merge is a real replace
    assert(store.read("t").filter(col("id") === 7L)
      .select(col("v")).head.getString(0) === "updated")
    assert(store.read("t").count() === 500L)
  }

  test("bucketed results equal the flat upsert under replace and ignore") {
    val store = freshStore()
    val b1 = rows(0 until 60)
    val b2 = (30 until 90).map(i => (i.toLong, s"w$i")).toDF("id", "v")

    store.upsertBucketed("rep", b1, Seq("id"), buckets = 8)
    store.upsertBucketed("rep", b2, Seq("id"), buckets = 8)
    val gotRep = store.read("rep").select(col("id"), col("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val wantRep = Upsert.upsert(
        Some(Upsert.upsert(None, b1, Seq("id"))), b2, Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotRep === wantRep)

    store.insertIgnoreBucketed("ign", b1, Seq("id"), buckets = 8)
    store.insertIgnoreBucketed("ign", b2, Seq("id"), buckets = 8)
    val gotIgn = store.read("ign").select(col("id"), col("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val wantIgn = Upsert.insertIgnore(
        Some(Upsert.insertIgnore(None, b1, Seq("id"))), b2, Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotIgn === wantIgn)
  }

  test("plain upsert and insertIgnore auto-route through the bucket layout") {
    val store = freshStore()
    store.upsertBucketed("t", rows(0 until 200), Seq("id"), buckets = 50)
    val before = store.dataFiles("t").toSet

    // the K1-K9 call shape — no bucket knowledge at the call site
    store.upsert("t", Seq((3L, "x")).toDF("id", "v"), Seq("id"))
    val mid = store.dataFiles("t").toSet
    assert((before intersect mid).size >= before.size - 2,
      "plain upsert rewrote more than the touched bucket")
    assert(store.read("t").filter(col("id") === 3L)
      .select(col("v")).head.getString(0) === "x")

    store.insertIgnore("t", Seq((3L, "ignored")).toDF("id", "v"), Seq("id"))
    assert(store.read("t").filter(col("id") === 3L)
      .select(col("v")).head.getString(0) === "x")
    assert(store.read("t").count() === 200L)
  }

  test("redelivered batch converges (idempotent merge per bucket)") {
    val store = freshStore()
    val batch = rows(0 until 40)
    store.upsertBucketed("t", batch, Seq("id"), buckets = 16)
    store.upsertBucketed("t", batch, Seq("id"), buckets = 16)
    assert(store.read("t").count() === 40L)
  }

  test("an existing flat table converts once, then merges incrementally") {
    val store = freshStore()
    store.upsert("t", rows(0 until 100), Seq("id"))        // flat
    assert(store.bucketLayoutOf("t") === None)
    store.upsertBucketed("t",
      Seq((100L, "new")).toDF("id", "v"), Seq("id"), buckets = 20)
    assert(store.bucketLayoutOf("t") === Some((20, Seq("id"))))
    assert(store.read("t").count() === 101L)
    // now incremental: a second 1-row upsert leaves most files alone
    val before = store.dataFiles("t").toSet
    store.upsert("t", Seq((5L, "y")).toDF("id", "v"), Seq("id"))
    val after = store.dataFiles("t").toSet
    assert((before intersect after).nonEmpty)
    assert(store.read("t").count() === 101L)
  }

  test("bucketize converts in place; the ingest-sink call shape goes O(batch)") {
    val store = freshStore()
    // the K1 shape: tweets land flat first, then ops converts once
    store.upsert("tweets", rows(0 until 400), Seq("id"))
    store.bucketize("tweets", Seq("id"), buckets = 64)
    assert(store.bucketLayoutOf("tweets") === Some((64, Seq("id"))))
    assert(store.read("tweets").count() === 400L)
    val before = store.dataFiles("tweets").toSet
    store.upsert("tweets", Seq((9L, "edited")).toDF("id", "v"), Seq("id"))
    val after = store.dataFiles("tweets").toSet
    val changedBuckets = ((before diff after) ++ (after diff before))
      .map(p => p.split("/").find(_.startsWith("pk_bucket=")).getOrElse(p))
    assert(changedBuckets.size === 1,
      s"post-bucketize upsert rewrote ${changedBuckets.size} buckets")
    assert(store.read("tweets").count() === 400L)
    intercept[IllegalArgumentException] {
      store.bucketize("tweets", Seq("id"), buckets = 32) // already declared
    }
  }

  test("schema evolution rewrites all buckets; narrow batches stay O(batch)") {
    val store = freshStore()
    store.upsertBucketed("t", rows(0 until 120), Seq("id"), buckets = 24)

    // a batch with a NEW column must evolve the WHOLE table — mixed
    // per-bucket schemas would make read() surface whichever subset
    // parquet sampled
    store.upsert("t",
      Seq((5L, "x", 3.5)).toDF("id", "v", "score"), Seq("id"))
    val evolved = store.read("t")
    assert(evolved.columns.toSet === Set("id", "v", "score", "pk_bucket"))
    assert(evolved.filter(col("id") === 5L)
      .select(col("score")).head.getDouble(0) === 3.5)
    assert(evolved.filter(col("score").isNotNull).count() === 1L)
    assert(store.bucketLayoutOf("t") === Some((24, Seq("id"))))

    // a batch with FEWER columns than the table null-fills and stays
    // on the touched-buckets path
    val before = store.dataFiles("t").toSet
    store.upsert("t", Seq(Tuple1(200L)).toDF("id"), Seq("id"))
    val after = store.dataFiles("t").toSet
    assert((before intersect after).nonEmpty,
      "narrow batch should not trigger a full rewrite")
    assert(store.read("t").count() === 121L)
  }

  test("the touched-bucket scan prunes partitions at PLANNING time") {
    val store = freshStore()
    store.upsertBucketed("t", rows(0 until 300), Seq("id"), buckets = 30)
    // the exact scan shape mergeBucketed issues for a touched set —
    // PartitionFilters (not a post-scan filter) is what makes the
    // merge read O(touched buckets' data), the heart of the O(batch)
    // claim
    val touched = Seq(3L, 7L)
    val scanned = store.read("t")
      .filter(col(store.BucketCol).isin(touched: _*))
    val scan = scanned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.metadata("PartitionFilters").contains("pk_bucket"))
    assert(scan.selectedPartitions.partitionCount <= touched.size)
  }

  test("readPruned keeps partition columns on a bucketed table") {
    val store = freshStore()
    store.upsertBucketed("t", rows(0 until 200), Seq("id"), buckets = 20)
    val preds = Seq(("id", 0L, 50L))
    val pruned = FileManifest.readPruned(store, "t", preds)
    assert(pruned.columns.toSet === store.read("t").columns.toSet)
    val got = pruned.filter(col("id").between(0, 50))
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(got === (0L to 50L).toSet)
  }

  test("layout mismatches are refused loudly") {
    val store = freshStore()
    store.upsertBucketed("t", rows(0 until 20), Seq("id"), buckets = 10)
    intercept[IllegalArgumentException] {
      store.upsertBucketed("t", rows(20 until 25), Seq("id"), buckets = 99)
    }
    intercept[IllegalArgumentException] {
      store.upsert("t", rows(20 until 25).toDF("id", "other"), Seq("other"))
    }
  }

  test("compact preserves the bucket layout (and the O(batch) path)") {
    val store = freshStore()
    store.upsertBucketed("t", rows(0 until 300), Seq("id"), buckets = 30)
    store.compact("t")
    assert(store.bucketLayoutOf("t") === Some((30, Seq("id"))))
    assert(store.partitionColumnsOf("t") === Seq("pk_bucket"))
    val before = store.dataFiles("t").toSet
    store.upsert("t", Seq((1L, "z")).toDF("id", "v"), Seq("id"))
    val after = store.dataFiles("t").toSet
    assert((before intersect after).nonEmpty,
      "post-compact upsert fell back to a full rewrite")
    assert(store.read("t").count() === 300L)
  }

  test("an INT-id batch against a LONG-id table loses no rows (type-sensitive xxhash64)") {
    val store = freshStore()
    store.upsertBucketed("t", rows(0 until 500), Seq("id"), buckets = 100)
    // the ADVICE r6 scenario: xxhash64(int 7) != xxhash64(long 7), so
    // without the upfront pk cast the recomputed bucket diverges from
    // the touched set and the dynamic overwrite replaces a bucket
    // whose rows were never read
    val intBatch = Seq((7, "updated")).toDF("id", "v") // IntegerType pk
    store.upsert("t", intBatch, Seq("id"))
    assert(store.read("t").count() === 500L,
      "INT batch against LONG table dropped rows")
    assert(store.read("t").filter(col("id") === 7L)
      .select(col("v")).head.getString(0) === "updated")
    // and it stayed on the O(touched) path: pk upcast, no rewrite
    val before = store.dataFiles("t").toSet
    store.upsert("t", Seq((8, "x")).toDF("id", "v"), Seq("id"))
    val after = store.dataFiles("t").toSet
    val changedBuckets = ((before diff after) ++ (after diff before))
      .map(p => p.split("/").find(_.startsWith("pk_bucket=")).getOrElse(p))
    assert(changedBuckets.size === 1,
      s"upcast batch rewrote ${changedBuckets.size} buckets")
  }

  test("a pk-WIDENING batch re-buckets via full rewrite; incompatible pk is refused") {
    val store = freshStore()
    store.upsertBucketed("t",
      (0 until 60).map(i => (i, s"v$i")).toDF("id", "v"), // IntegerType pk
      Seq("id"), buckets = 12)
    // LONG batch against INT table: every row's bucket changes, so the
    // merge must pay one full re-bucketed rewrite — and stay correct
    store.upsert("t", Seq((5L, "wide"), (100L, "new")).toDF("id", "v"), Seq("id"))
    assert(store.read("t").count() === 61L)
    assert(store.read("t").filter(col("id") === 5L)
      .select(col("v")).head.getString(0) === "wide")
    assert(store.bucketLayoutOf("t") === Some((12, Seq("id"))))
    // every row sits in the bucket its (widened) pk hashes to
    val misfiled = store.read("t").filter(
      col("pk_bucket").cast("long") =!=
        pmod(xxhash64(col("id")), lit(12L))).count()
    assert(misfiled === 0L, s"$misfiled rows misfiled after pk widening")
    // a pk that casts neither way is refused loudly
    intercept[IllegalArgumentException] {
      store.upsert("t", Seq(("abc", "bad")).toDF("id", "v"), Seq("id"))
    }
  }

  test("a rewrite landing outside the touched set is refused; the table is unchanged") {
    for (governed <- Seq(false, true)) {
      val store = freshStore()
      store.upsertBucketed("t", rows(0 until 50), Seq("id"), buckets = 10)
      if (governed) store.ensureGoverned(Seq("t"))
      val files = store.dataFiles("t").toSet
      val before = store.read("t").collect().toSet
      val epochs = store.log.epochs()
      val b = store.read("t").select(col(store.BucketCol).cast("long")).head.getLong(0)
      // bucket b's rows re-filed under a bucket whose rows were never
      // read: overwriting it would silently lose them
      val e = intercept[IllegalArgumentException] {
        store.rewritePartitions("t", store.BucketCol, Seq(b))(
          _.withColumn(store.BucketCol, lit((b + 1) % 10)))
      }
      assert(e.getMessage.contains("outside the touched set"))
      assert(store.dataFiles("t").toSet === files, s"governed=$governed")
      assert(store.read("t").collect().toSet === before, s"governed=$governed")
      assert(store.log.epochs() === epochs, s"governed=$governed")
    }
  }

  test("Doctor flags a misfiled bucket row") {
    val store = freshStore()
    store.upsertBucketed("t", rows(0 until 50), Seq("id"), buckets = 10)
    assert(Doctor.check(store).filter(_.component == "bucketed-base").isEmpty)
    // misfile one row out-of-band: shift every bucket id by one
    val broken = store.read("t")
      .withColumn("pk_bucket",
        pmod(col("pk_bucket").cast("long") + 1L, lit(10L)))
    store.overwrite("t", Iteration.materialize(broken), Seq("pk_bucket"))
    // overwrite dropped the marker with the directory — re-declare it
    // by hand so Doctor still sees a bucketed table
    val tdir = new org.apache.hadoop.fs.Path(
      store.dataFiles("t").head).getParent.getParent
    val fs = tdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(tdir, "_graft_layout"), true)
    out.write("buckets=10\npk=id\n".getBytes("UTF-8"))
    out.close()
    val issues = Doctor.check(store).filter(_.component == "bucketed-base")
    assert(issues.exists(_.problem.contains("wrong pk bucket")))
  }
}
