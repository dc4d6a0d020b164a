package graft.store

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Manifest-driven cardinality estimates (the reference's A3
  * progress-bar estimate promoted to the query layer): estimateRows
  * answers from `_graft_stats` presence-row footer totals with zero
  * data I/O, is EXACT for the file-level pruned scan, and upper-
  * bounds the row-filtered result — pinned on two pruned scans.
  */
class StatsEstimateSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): TableStore =
    new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-est").toString)

  test("estimated vs actual rows on two pruned scans") {
    val store = freshStore()
    // 1000 rows over a sorted key, compacted into several key-ranged
    // files so a range predicate genuinely prunes
    val df = (0 until 1000).map(i => (i.toLong, (i % 7).toLong, s"v$i"))
      .toDF("k", "grp", "v")
    store.overwrite("t", df.repartitionByRange(8, col("k"))
      .sortWithinPartitions(col("k")))
    FileManifest.build(store, "t")

    // no predicates: the estimate IS the exact table count
    assert(FileManifest.estimateRows(store, "t") === Some(1000L))

    // pruned scan 1: a narrow range keeps a strict file subset
    val p1 = Seq(("k", 100L, 150L))
    val est1 = FileManifest.estimateRows(store, "t", p1).get
    val fileLevel1 = FileManifest.readPruned(store, "t", p1).count()
    val actual1 = FileManifest.readPruned(store, "t", p1)
      .filter(col("k").between(100, 150)).count()
    assert(est1 === fileLevel1, "estimate must equal the file-level scan")
    assert(actual1 === 51L)
    assert(est1 >= actual1 && est1 < 1000L,
      s"estimate $est1 should bound actual $actual1 and beat total")

    // pruned scan 2: a range near the top end
    val p2 = Seq(("k", 900L, 999L))
    val est2 = FileManifest.estimateRows(store, "t", p2).get
    assert(est2 === FileManifest.readPruned(store, "t", p2).count())
    val actual2 = FileManifest.readPruned(store, "t", p2)
      .filter(col("k").between(900, 999)).count()
    assert(actual2 === 100L)
    assert(est2 >= actual2 && est2 < 1000L)

    // an empty range estimates (and scans) zero rows
    assert(FileManifest.estimateRows(store, "t", Seq(("k", 5000L, 6000L))) === Some(0L))

    // no manifest → no estimate (never a silent footer walk)
    val bare = freshStore()
    bare.overwrite("u", df)
    assert(FileManifest.estimateRows(bare, "u") === None)

    // a LEGACY manifest (pre-row-count presence rows, no format
    // marker) must refuse rather than confidently estimate 0
    val legacy = freshStore()
    legacy.overwrite("w", df)
    FileManifest.build(legacy, "w")
    val statsDir = s"${legacy.dataFiles("w").head.split("/w/")(0)}/w/_graft_stats"
      .stripPrefix("file:")
    val old = spark.read.parquet(statsDir)
      .filter(col("col") =!= "__rows_v2")
      .withColumn("mn", when(col("col") === "", lit(0L)).otherwise(col("mn")))
    old.write.mode("overwrite").parquet(statsDir + ".__legacy")
    import org.apache.hadoop.fs.Path
    val fs = new Path(statsDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(statsDir), true)
    fs.rename(new Path(statsDir + ".__legacy"), new Path(statsDir))
    assert(FileManifest.exists(legacy, "w"))
    assert(FileManifest.estimateRows(legacy, "w") === None,
      "legacy manifest must not estimate (would report 0 rows)")
    assert(graft.Explain.statsReport(legacy, "w", Nil).contains("refresh-stats"))
    // the prune path itself still works on the legacy format
    assert(FileManifest.pruneFiles(legacy, "w", Seq(("k", 0L, 10L))).nonEmpty)
  }

  test("the Explain --stats report carries the estimate") {
    val store = freshStore()
    store.overwrite("t", (0 until 100).map(i => (i.toLong, s"v$i"))
      .toDF("k", "v").repartitionByRange(4, col("k"))
      .sortWithinPartitions(col("k")))
    FileManifest.build(store, "t")
    val rep = graft.Explain.statsReport(store, "t", Seq(("k", 0L, 10L)))
    assert(rep.contains("estimated rows ="), rep)
    assert(rep.contains("of 100 total"), rep)
    assert(rep.contains("k in [0, 10]"), rep)
    val noManifest = freshStore()
    noManifest.overwrite("u", Seq((1L, "a")).toDF("k", "v"))
    assert(graft.Explain.statsReport(noManifest, "u", Nil)
      .contains("no stats manifest"))
  }

  test("a torn un-governed manifest (pending flag, no refresh) is refused: " +
    "pruned reads fall back to the live files' footers, no estimate") {
    val store = freshStore()
    val df = (0 until 300).map(i => (i.toLong, (i / 100).toLong, s"v$i"))
      .toDF("k", "p", "v")
    store.overwrite("t", df, partitionBy = Seq("p"))
    FileManifest.build(store, "t")
    // the two in-place primitives set the write-ahead flag and leave
    // the refresh to their caller; none runs here (a crash before it)
    store.dropPartition("t", "p", "0")
    store.overwritePartitions("t",
      (0 until 50).map(i => (1000L + i, s"w$i", 1L)).toDF("k", "v", "p"), Seq("p"))
    assert(!FileManifest.fresh(store, "t"), "fixture: the flag is set")
    val preds = Seq(("k", 0L, 2000L))
    val full = store.read("t").filter(col("k").between(0L, 2000L))
    val pruned = FileManifest.readPruned(store, "t", preds)
      .filter(col("k").between(0L, 2000L))
    assert(pruned.count() === 150L)
    assert(pruned.select("k", "v").collect().toSet ===
      full.select("k", "v").collect().toSet)
    assert(FileManifest.estimateRows(store, "t") === None,
      "a torn manifest must not estimate")
  }
}
