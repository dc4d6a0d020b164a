package graft.store

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Z-order compaction: the Morton key interleaves correctly, the
  * rewrite preserves rows exactly, and — the point of the layout —
  * per-file min/max ranges are narrow in BOTH clustered dimensions,
  * where a single-column sort leaves the other dimension's per-file
  * range at full width (so its predicates prune nothing).
  */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("zorderKey interleaves bits (known Morton values)") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 3L), (7L, 5L))
      .toDF("x", "y")
    val got = df.select(
        graft.functions.ZOrder.zorderKey(Seq(col("x"), col("y")), 3).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // z = interleave(x→even bits, y→odd bits):
    // (2,3)=0b10,0b11 → y1x1 y0x0... bit layout: x bit b → 2b, y bit b → 2b+1
    // (2,3): x=10 → bits 2; y=11 → bits 1,3 → 0b1110 = 14
    // (7,5): x=111 → bits 0,2,4; y=101 → bits 1,5 → 0b110111 = 55
    assert(got === Seq(0L, 1L, 2L, 3L, 14L, 55L))
  }

  test("z-order clusters both dimensions; plain sort only one") {
    val store = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-zorder").toString)
    // two independent uniform dimensions, 0..63, deterministic
    val rows = (0 until 4096).map(i =>
      (i.toLong, (i * 2654435761L % 64L + 64L) % 64L,
        (i * 40503L % 64L + 64L) % 64L))
    val df = rows.toDF("id", "x", "y")
    store.overwrite("pts", df)

    def perFileSpan(column: String): Double = {
      val files = store.dataFiles("pts")
      assert(files.size > 1, "need multiple files to measure locality")
      val spans = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min(col(column)), max(col(column))).head
        (r.getLong(1) - r.getLong(0)).toDouble
      }
      spans.sum / spans.size
    }

    // plain compact + sortBy clusters ROW GROUPS within a file (the
    // flat path round-robins rows across files first), so at the FILE
    // level both dimensions stay full-width — file-level pruning gets
    // nothing from it
    store.compact("pts", sortBy = Seq("x"), targetBytes = 2L << 10)
    val sortedXSpanY = perFileSpan("y")
    assert(perFileSpan("x") > 50.0)
    assert(sortedXSpanY > 50.0) // ~full 0..63 range per file

    // z-order by (x, y): BOTH dimensions localize
    store.compactZorder("pts", Seq("x", "y"), bits = 6,
      targetBytes = 2L << 10)
    assert(store.read("pts").count() === 4096L)
    val zSpanX = perFileSpan("x")
    val zSpanY = perFileSpan("y")
    assert(zSpanX < 30.0, s"x span $zSpanX")
    assert(zSpanY < 30.0, s"y span $zSpanY")
    assert(zSpanY < sortedXSpanY / 1.5,
      s"z-order y span $zSpanY should beat sorted-by-x $sortedXSpanY")

    // rows survive exactly
    val back = store.read("pts").select(col("id"), col("x"), col("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(back === rows.toSet)
  }

  test("footer-stats pruning reads fewer files after z-order than plain compact") {
    val store = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-zread").toString)
    val rows = (0 until 4096).map(i =>
      (i.toLong, (i * 2654435761L % 64L + 64L) % 64L,
        (i * 40503L % 64L + 64L) % 64L))
    store.overwrite("pts", rows.toDF("id", "x", "y"))
    // the 2-dim box predicate a feature-lookup pipeline runs
    val box = Seq(("x", 8L, 15L), ("y", 40L, 47L))
    val want = rows.filter(r =>
      r._2 >= 8 && r._2 <= 15 && r._3 >= 40 && r._3 <= 47).toSet

    store.compact("pts", sortBy = Seq("x"), targetBytes = 2L << 10)
    val plainTotal = store.dataFiles("pts").size
    val plainKept = FileManifest.pruneFiles(store, "pts", box).size
    assert(plainTotal > 4, "need real fragmentation to measure pruning")

    store.compactZorder("pts", Seq("x", "y"), bits = 6, targetBytes = 2L << 10)
    val zTotal = store.dataFiles("pts").size
    val zKept = FileManifest.pruneFiles(store, "pts", box).size
    info(s"box scan opens $plainKept/$plainTotal files plain-sorted, " +
      s"$zKept/$zTotal z-ordered")
    assert(zKept < plainKept,
      s"z-order must prune MORE files: plain $plainKept/$plainTotal vs " +
        s"z $zKept/$zTotal")
    assert(zKept < zTotal, "the box predicate must not open every z file")

    // pruning is sound: the pruned read filtered to the box equals the
    // full scan filtered to the box
    val got = FileManifest.readPruned(store, "pts", box)
      .filter(col("x").between(8, 15) && col("y").between(40, 47))
      .select(col("id"), col("x"), col("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)

    // an empty box prunes everything and reads nothing
    assert(FileManifest.pruneFiles(store, "pts", Seq(("x", 1000L, 2000L))).isEmpty)
    assert(FileManifest.readPruned(store, "pts", Seq(("x", 1000L, 2000L))).count() === 0L)
  }

  test("pruneFiles answers from the persisted manifest, not footers") {
    val store = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-zman").toString)
    val rows = (0 until 4096).map(i =>
      (i.toLong, (i * 2654435761L % 64L + 64L) % 64L,
        (i * 40503L % 64L + 64L) % 64L))
    store.overwrite("pts", rows.toDF("id", "x", "y"))
    assert(!FileManifest.exists(store, "pts"))
    store.compactZorder("pts", Seq("x", "y"), bits = 6, targetBytes = 2L << 10)
    assert(FileManifest.exists(store, "pts"),
      "compactZorder must create the stats manifest")

    val box = Seq(("x", 8L, 15L), ("y", 40L, 47L))
    val keptBefore = FileManifest.pruneFiles(store, "pts", box)
    assert(keptBefore.nonEmpty && keptBefore.size < store.dataFiles("pts").size)

    // POISON the manifest out-of-band: claim one kept file's x-range
    // is disjoint from the box. If pruneFiles consulted the real
    // footers it would still keep the file; following the manifest
    // proves zero footer reads decide the answer.
    val statsDir = s"${store.dataFiles("pts").head.split("/pts/")(0)}/pts/_graft_stats"
    val victim = keptBefore.head.split("/pts/")(1)
    val poisoned = spark.read.parquet(statsDir).collect().toSeq.map { r =>
      if (r.getString(0) == victim && r.getString(1) == "x")
        (r.getString(0), r.getString(1), 900L, 999L)
      else (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))
    }
    poisoned.toDF("file", "col", "mn", "mx")
      .write.mode("overwrite").parquet(statsDir)
    val keptPoisoned = FileManifest.pruneFiles(store, "pts", box)
    assert(!keptPoisoned.contains(keptBefore.head),
      "pruneFiles ignored the manifest (read footers instead?)")
    assert(keptPoisoned.toSet === keptBefore.toSet - keptBefore.head)

    // deleting the manifest falls back to the footer walk — correct
    // again, just slower
    val fs = new org.apache.hadoop.fs.Path(statsDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(statsDir), true)
    assert(FileManifest.pruneFiles(store, "pts", box).toSet === keptBefore.toSet)
  }

  test("a manifest-backed prune performs ZERO driver directory listings") {
    // round-7 audit: fileEnvelopes still driver-listed dataFiles even
    // when the manifest was fresh. The file list must now come from
    // the manifest's presence rows — the counted-listing shim proves
    // the prune path never touches FileSystem.listStatus, the part
    // that is minutes of single-threaded I/O at 10^6 files.
    val store = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-zlist").toString)
    val rows = (0 until 4096).map(i =>
      (i.toLong, (i * 2654435761L % 64L + 64L) % 64L,
        (i * 40503L % 64L + 64L) % 64L))
    store.overwrite("pts", rows.toDF("id", "x", "y"))
    store.compactZorder("pts", Seq("x", "y"), bits = 6, targetBytes = 2L << 10)

    val box = Seq(("x", 8L, 15L), ("y", 40L, 47L))
    val withManifest = {
      val before = TableStore.driverListings.get()
      val kept = FileManifest.pruneFiles(store, "pts", box)
      (kept, TableStore.driverListings.get() - before)
    }
    assert(withManifest._1.nonEmpty)
    assert(withManifest._2 === 0L,
      s"manifest-fresh prune drove ${withManifest._2} directory listings")

    // result parity: the listing-free answer equals the walked one
    val statsDir =
      s"${store.dataFiles("pts").head.split("/pts/")(0)}/pts/_graft_stats"
    val fs = new org.apache.hadoop.fs.Path(statsDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(statsDir), true)
    val walked = {
      val before = TableStore.driverListings.get()
      val kept = FileManifest.pruneFiles(store, "pts", box)
      (kept, TableStore.driverListings.get() - before)
    }
    assert(walked._1.toSet === withManifest._1.toSet)
    assert(walked._2 > 0L, "manifest-less prune should list (sanity)")
  }

  // un-governed, the in-place bucket rewrite refreshes the manifest;
  // governed, the commit after its pointer flip does
  for (governed <- Seq(false, true))
  test("write paths keep the manifest fresh; bucketed merges update it incrementally" +
      (if (governed) " (governed)" else "")) {
    val store = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-zinc").toString)
    if (governed) store.ensureGoverned(Seq("t"))
    store.upsertBucketed("t",
      (0 until 500).map(i => (i.toLong, i.toLong % 64L)).toDF("id", "x"),
      Seq("id"), buckets = 50)
    FileManifest.build(store, "t")
    assert(Doctor.check(store).filter(_.component == "file-stats").isEmpty)

    // poison a manifest row belonging to some bucket, then upsert a
    // row into a DIFFERENT bucket: incremental maintenance must leave
    // the poisoned row untouched (a full rebuild would heal it)
    val statsDir = s"${store.dataFiles("t").head.split("/t/")(0)}/t/_graft_stats"
    val all = spark.read.parquet(statsDir).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val victim = all.find(t => t._2 == "id").get
    val victimBucket = victim._1.split("/").head // "pk_bucket=N"
    val poisoned = all.map(t =>
      if (t == victim) (t._1, t._2, -777L, -777L) else t)
    poisoned.toDF("file", "col", "mn", "mx")
      .write.mode("overwrite").parquet(statsDir)

    // pick a pk hashing into a different bucket than the victim's
    val probe = (500 until 600).map(_.toLong).find { id =>
      val b = Seq(Tuple1(id)).toDF("id")
        .select(store.bucketOfPk(Seq("id"), 50)).head.getLong(0)
      s"pk_bucket=$b" != victimBucket
    }.get
    store.upsert("t", Seq((probe, 1L)).toDF("id", "x"), Seq("id"))

    // fresh: the manifest tracks exactly the current files
    assert(Doctor.check(store).filter(_.component == "file-stats").isEmpty)
    val after = spark.read.parquet(statsDir).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(after.contains((victim._1, "id", -777L, -777L)),
      "untouched bucket's manifest rows were rebuilt — not incremental")

    // a whole-table rewrite (compact) rebuilds the manifest and heals
    // the poison
    store.compact("t")
    assert(FileManifest.exists(store, "t"))
    assert(Doctor.check(store).filter(_.component == "file-stats").isEmpty)
    assert(FileManifest.table(store, "t").get
      .filter(col("mn") === -777L).count() === 0L)

    // an out-of-band write goes stale and Doctor says so
    val untrackedId =
      if (governed) {
        // the commit log, not the directory, names a governed table's
        // files: its out-of-band drift is a manifest edit that loses a
        // live file's presence row: the one of probe's bucket
        val bucket = Seq(Tuple1(probe)).toDF("id")
          .select(store.bucketOfPk(Seq("id"), 50)).head.getLong(0)
        val rows = spark.read.parquet(statsDir).collect().toSeq
          .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        val lost = rows.find(t => t._2 == "" && t._1.startsWith(s"pk_bucket=$bucket/")).get._1
        rows.filterNot(t => t._1 == lost && t._2 == "")
          .toDF("file", "col", "mn", "mx").write.mode("overwrite").parquet(statsDir)
        probe
      } else {
        val fs = new org.apache.hadoop.fs.Path(statsDir).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val extra = new org.apache.hadoop.fs.Path(
          statsDir.stripSuffix("/_graft_stats") + "/pk_bucket=0/zz-oob.parquet")
        Seq((9999L, 0L)).toDF("id", "x").coalesce(1).write
          .mode("overwrite").parquet(statsDir.stripSuffix("/_graft_stats") + "/__oob_tmp")
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(
            statsDir.stripSuffix("/_graft_stats") + "/__oob_tmp"))
          .map(_.getPath).find(_.getName.endsWith(".parquet")).get
        fs.rename(part, extra)
        fs.delete(new org.apache.hadoop.fs.Path(
          statsDir.stripSuffix("/_graft_stats") + "/__oob_tmp"), true)
        9999L
      }
    val issues = Doctor.check(store).filter(_.component == "file-stats")
    assert(issues.exists(_.problem.contains("untracked")),
      s"Doctor missed the stale manifest: $issues")
    // the untracked file is not lost: its rows are readable
    assert(store.read("t").filter(col("id") === untrackedId).count() === 1L)
  }

  test("z-order within a bucketed table: 1-bucket upserts AND in-bucket file pruning") {
    val store = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-zbuck").toString)
    val rows = (0 until 8192).map(i =>
      (i.toLong, (i * 2654435761L % 64L + 64L) % 64L,
        (i * 40503L % 64L + 64L) % 64L))
    store.upsertBucketed("t", rows.toDF("id", "x", "y"), Seq("id"), buckets = 4)

    // z-cluster WITHIN each pk_bucket partition; both markers coexist
    store.compactZorder("t", Seq("x", "y"), bits = 6, targetBytes = 2L << 10)
    assert(store.bucketLayoutOf("t") === Some((4, Seq("id"))))
    assert(store.zorderLayoutOf("t") === Some((Seq("x", "y"), 6)))
    assert(store.partitionColumnsOf("t") === Seq("pk_bucket"))
    assert(store.read("t").count() === 8192L)

    // the read dividend: a 2-dim box prunes files WITHIN buckets
    val box = Seq(("x", 8L, 15L), ("y", 40L, 47L))
    val total = store.dataFiles("t").size
    val kept = FileManifest.pruneFiles(store, "t", box)
    assert(total > 8, s"need real per-bucket fragmentation, got $total files")
    assert(kept.size < total / 2,
      s"box kept ${kept.size}/$total files — no in-bucket z locality")
    val want = rows.filter(r =>
      r._2 >= 8 && r._2 <= 15 && r._3 >= 40 && r._3 <= 47).toSet
    val got = FileManifest.readPruned(store, "t", box)
      .filter(col("x").between(8, 15) && col("y").between(40, 47))
      .select(col("id"), col("x"), col("y"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)

    // the O(touched-buckets) upsert property survives the z rewrite
    val before = store.dataFiles("t").toSet
    store.upsert("t", Seq((7L, 1L, 2L)).toDF("id", "x", "y"), Seq("id"))
    val after = store.dataFiles("t").toSet
    val changedBuckets = ((before diff after) ++ (after diff before))
      .map(p => p.split("/").find(_.startsWith("pk_bucket=")).getOrElse(p))
    assert(changedBuckets.size === 1,
      s"z-ordered bucketed upsert rewrote ${changedBuckets.size} buckets")
    assert(store.read("t").count() === 8192L)
    // the merge re-declared nothing away: both markers and a fresh
    // manifest survive, and Doctor is clean on all three components
    assert(store.bucketLayoutOf("t") === Some((4, Seq("id"))))
    assert(store.zorderLayoutOf("t") === Some((Seq("x", "y"), 6)))
    val issues = Doctor.check(store).filter(i =>
      Set("bucketed-base", "zorder", "file-stats").contains(i.component))
    assert(issues.isEmpty, s"post-merge integrity issues: $issues")

    // the rewritten bucket's single file is z-SORTED (row-group
    // locality): its rows must be nondecreasing in the Morton key
    val touchedDir = changedBuckets.head
    val newFile = after.diff(before).find(_.contains(touchedDir)).get
    val zs = spark.read.parquet(newFile)
      .select(graft.functions.ZOrder.zorderKey(Seq(col("x"), col("y")), 6))
      .collect().map(_.getLong(0)).toSeq
    assert(zs === zs.sorted, "merged bucket lost its z-sort")

    // z columns overlapping the partition chain are refused
    intercept[IllegalArgumentException] {
      store.compactZorder("t", Seq("pk_bucket", "x"), bits = 6)
    }
  }

  test("mergeTouchedBuckets (custom merges) keeps both markers and the z-sort") {
    // the generalized bucket-scoped merge must hold the same layout
    // discipline as the upsert path it mirrors: conversion re-declares
    // BOTH markers after the swap, and incremental merges write
    // z-sorted files into the touched buckets
    val store = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-ztb").toString)
    val rows = (0 until 2048).map(i =>
      (i.toLong, (i * 2654435761L % 64L + 64L) % 64L,
        (i * 40503L % 64L + 64L) % 64L))
    store.overwrite("t", rows.toDF("id", "x", "y").repartition(8))
    store.compactZorder("t", Seq("x", "y"), bits = 6)
    assert(store.zorderLayoutOf("t") === Some((Seq("x", "y"), 6)))

    def union(ex: Option[org.apache.spark.sql.DataFrame],
        inc: org.apache.spark.sql.DataFrame) =
      ex.map(_.unionByName(inc)).getOrElse(inc)
    // flat → bucketed conversion through the custom merge
    store.mergeTouchedBuckets("t",
      Seq((9000L, 1L, 2L)).toDF("id", "x", "y"), Seq("id"), 4)(union)
    assert(store.bucketLayoutOf("t") === Some((4, Seq("id"))))
    assert(store.zorderLayoutOf("t") === Some((Seq("x", "y"), 6)),
      "conversion dropped the z-order marker")
    assert(store.read("t").count() === 2049L)

    // incremental touched-bucket merge: new file is z-SORTED
    val before = store.dataFiles("t").toSet
    store.mergeTouchedBuckets("t",
      Seq((9001L, 3L, 4L)).toDF("id", "x", "y"), Seq("id"), 4)(union)
    val after = store.dataFiles("t").toSet
    val newFile = after.diff(before).head
    val zs = spark.read.parquet(newFile)
      .select(graft.functions.ZOrder.zorderKey(Seq(col("x"), col("y")), 6))
      .collect().map(_.getLong(0)).toSeq
    assert(zs === zs.sorted, "touched-bucket custom merge lost the z-sort")
    assert(store.read("t").count() === 2050L)
  }

  test("Doctor verifies the declared z-order artifact") {
    val store = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-zdoc").toString)
    val rows = (0 until 512).map(i => (i.toLong, i.toLong % 32L, i.toLong / 32L))
    store.overwrite("pts", rows.toDF("id", "x", "y"))
    store.compactZorder("pts", Seq("x", "y"), bits = 5, targetBytes = 2L << 10)
    assert(store.zorderLayoutOf("pts") === Some((Seq("x", "y"), 5)))
    assert(Doctor.check(store).filter(_.component == "zorder").isEmpty)

    // out-of-band edit shoves values past 2^bits: clustering silently
    // broken, Doctor must say so. overwrite would drop the marker (and
    // legitimately so), so corrupt the rows via an in-place partition
    // trick: rewrite the files directly through a fresh store dir swap
    val corrupted = Iteration.materialize(
      store.read("pts").withColumn("x", col("x") + lit(100L)))
    store.overwrite("pts", corrupted)
    assert(store.zorderLayoutOf("pts") === None,
      "a whole-table rewrite legitimately clears the marker")
    // re-declare by hand (simulating the marker surviving a partial
    // out-of-band edit)
    val tdir = new org.apache.hadoop.fs.Path(
      store.dataFiles("pts").head).getParent
    val fs = tdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(tdir, "_graft_zorder"), true)
    out.write("zcols=x,y\nbits=5\n".getBytes("UTF-8"))
    out.close()
    val issues = Doctor.check(store).filter(_.component == "zorder")
    assert(issues.exists(_.problem.contains("outside")))
  }
}
