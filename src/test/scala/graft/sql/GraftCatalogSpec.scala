package graft.sql

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.store.TableStore

/** Governed tables through `spark.sql`: the V2 catalog resolves names,
  * serves epoch time travel (`VERSION AS OF`), and routes INSERT
  * through the store's own write discipline.
  */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  // Spark caches the catalog INSTANCE on first reference; the catalog
  // re-reads its root from the live conf per call (tested below), so a
  // fresh root per test is just a conf set
  private def mountCatalog(): (String, TableStore) = {
    val root = java.nio.file.Files.createTempDirectory("graft-cat").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", root)
    (root, new TableStore(spark, root))
  }

  test("re-rooting: a conf change points the cached catalog at a new store") {
    val (_, a) = mountCatalog()
    a.ensureGoverned(Seq("t"))
    a.upsert("t", Seq((1L, "A")).toDF("id", "v"), Seq("id"))
    assert(spark.sql("SELECT v FROM graft.t").collect().head.getString(0)
      === "A")
    val (_, b) = mountCatalog() // same catalog name, new root
    b.ensureGoverned(Seq("t"))
    b.upsert("t", Seq((1L, "B")).toDF("id", "v"), Seq("id"))
    assert(spark.sql("SELECT v FROM graft.t").collect().head.getString(0)
      === "B",
      "the cached catalog instance must follow the live conf root")
  }

  test("SELECT by name: projection, filter, aggregate over a governed table") {
    val (_, store) = mountCatalog()
    store.ensureBucketed("docs", Seq("id"), 4)
    store.ensureGoverned(Seq("docs"))
    store.upsert("docs",
      (0 until 20).map(i => (i.toLong, s"v$i", i % 3)).toDF("id", "v", "g"),
      Seq("id"))

    val rows = spark.sql(
      "SELECT id, v FROM graft.docs WHERE g = 1 AND id < 10 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq === Seq(1L, 4L, 7L).map(i => (i, s"v$i")))

    val agg = spark.sql(
      "SELECT g, count(*) AS n FROM graft.docs GROUP BY g ORDER BY g")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(agg.toSeq === Seq((0, 7L), (1, 7L), (2, 6L)))

    val tables = spark.sql("SHOW TABLES IN graft")
      .collect().map(_.getString(1)).toSet
    assert(tables.contains("docs"))

    // zero-column projection (the scan's keep-one-column fallback)
    assert(spark.sql("SELECT count(*) FROM graft.docs")
      .collect().head.getLong(0) === 20L)
  }

  test("VERSION AS OF maps to epochs: time travel across an upsert and a delete") {
    val (_, store) = mountCatalog()
    store.ensureGoverned(Seq("t"))
    store.upsert("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    val e1 = store.snapshot().epoch
    store.upsert("t", Seq((2L, "b2"), (3L, "c")).toDF("id", "v"), Seq("id"))
    store.deleteByPk("t", Seq(1L).toDF("id"), Seq("id"))

    def rowsAt(clause: String): Set[(Long, String)] =
      spark.sql(s"SELECT id, v FROM graft.t $clause")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    assert(rowsAt(s"VERSION AS OF $e1") === Set((1L, "a"), (2L, "b")),
      "time travel must serve the pinned epoch's rows")
    assert(rowsAt("") === Set((2L, "b2"), (3L, "c")))

    // a TAG is a named epoch — usable wherever a version goes
    store.tagEpoch("tt-rel", Some(e1))
    assert(rowsAt("VERSION AS OF 'tt-rel'") === Set((1L, "a"), (2L, "b")),
      "tag-name time travel must resolve through the release tags")
  }

  test("INSERT INTO: bucketed upsert-by-pk, flat merge, flat OVERWRITE") {
    val (_, store) = mountCatalog()
    store.ensureBucketed("b", Seq("id"), 4)
    store.ensureGoverned(Seq("b", "f"))
    store.upsert("b", Seq((1L, "x")).toDF("id", "v"), Seq("id"))
    store.overwrite("f", Seq((1L, "x")).toDF("id", "v"))
    val e0 = store.snapshot().epoch

    // bucketed: INSERT is the store's upsert — same pk replaces
    spark.sql("INSERT INTO graft.b VALUES (1, 'x2'), (2, 'y')")
    assert(store.read("b").select("id", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "x2"), (2L, "y")))

    // flat: INSERT merges (append semantics on the swap table)
    spark.sql("INSERT INTO graft.f VALUES (2, 'y')")
    assert(store.read("f").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSet === Set((1L, "x"), (2L, "y")))

    // flat: INSERT OVERWRITE replaces
    spark.sql("INSERT OVERWRITE graft.f VALUES (9, 'z')")
    assert(store.read("f").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSet === Set((9L, "z")))

    // writes through SQL are ordinary commits: the change feed sees them
    val feed = store.readChangesSince("b", e0, store.snapshot().epoch,
      Seq("id")).collect()
    assert(feed.nonEmpty)
  }

  test("SQL join over a small governed dim table broadcasts (AQE runtime)") {
    val (_, store) = mountCatalog()
    store.ensureGoverned(Seq("dim", "fact"))
    store.overwrite("dim", Seq((0L, "x"), (1L, "y")).toDF("k", "label"))
    store.overwrite("fact",
      (0 until 5000).map(i => (i.toLong, i.toLong % 2)).toDF("id", "k"))

    // static CBO cannot see through V1ScanWrapper (see GraftV1Scan's
    // estimateStatistics note) — the broadcast decision is AQE's,
    // from measured shuffle sizes, so assert the EXECUTED final plan
    val q = spark.sql(
      "SELECT f.id, d.label FROM graft.fact f JOIN graft.dim d ON f.k = d.k")
    assert(q.collect().length === 5000)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small governed table did not broadcast at runtime:\n$plan")
  }

  test("metadata tables: $history ops, $files manifest, $tags, $cursors") {
    val (_, store) = mountCatalog()
    store.ensureBucketed("m", Seq("id"), 4)
    store.ensureGoverned(Seq("m"))
    store.upsert("m", Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    store.compact("m")
    store.refreshFileStats("m") // opt into the manifest-backed $files
    store.tagEpoch("m-release")
    graft.store.EpochFollower.consumeNew(store, "m", "meta-spec")(_ => ())

    val hist = spark.sql(
      "SELECT epoch, op FROM graft.`m$history` ORDER BY epoch")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(hist.map(_._2).contains("upsert"))
    assert(hist.map(_._2).contains("compact"))
    assert(hist.map(_._1).distinct.length === hist.length,
      "history must carry one row per changing commit")

    val files = spark.sql("SELECT file FROM graft.`m$files`")
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("/m/")))

    val tags = spark.sql("SELECT tag, epoch FROM graft.`m$tags`")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tags.contains("m-release"))

    val cursors = spark.sql(
      "SELECT consumer, epoch FROM graft.`m$cursors`")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cursors.contains("meta-spec"))
  }

  test("VERSION AS OF on every table = consistent multi-table snapshot") {
    val (_, store) = mountCatalog()
    store.ensureGoverned(Seq("u", "p"))
    // one transact: both tables land at ONE epoch
    store.transact {
      store.upsert("u", Seq((1L, "u1")).toDF("id", "v"), Seq("id"))
      store.upsert("p", Seq((1L, "p1")).toDF("id", "v"), Seq("id"))
    }
    val e = store.snapshot().epoch
    // later writers move both tables on
    store.transact {
      store.upsert("u", Seq((1L, "u2")).toDF("id", "v"), Seq("id"))
      store.upsert("p", Seq((1L, "p2")).toDF("id", "v"), Seq("id"))
    }
    // the pinned join serves the joint-commit view, not a mix
    val rows = spark.sql(
      s"""SELECT u.v AS uv, p.v AS pv
         |FROM graft.u VERSION AS OF $e u
         |JOIN graft.p VERSION AS OF $e p ON u.id = p.id""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq === Seq(("u1", "p1")))
  }

  test("graft-changes reader format: the CDC window through spark.read") {
    val (root, store) = mountCatalog()
    store.ensureGoverned(Seq("c"))
    store.upsert("c", Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    val e1 = store.snapshot().epoch
    store.upsert("c", Seq((2L, "b2"), (3L, "x")).toDF("id", "v"), Seq("id"))
    store.deleteByPk("c", Seq(1L).toDF("id"), Seq("id"))

    val got = spark.read.format("graft-changes")
      .option("root", root).option("table", "c").option("pk", "id")
      .option("fromEpoch", e1.toString)
      .load()
      .select(col("id").cast("long"), col("v"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    assert(got === Set((2L, "b2", "insert"), (3L, "x", "insert"),
      (1L, "a", "delete")))

    // bounded window: toEpoch caps at the first upsert — no delete yet
    val mid = spark.read.format("graft-changes")
      .option("root", root).option("table", "c").option("pk", "id")
      .option("fromEpoch", e1.toString).option("toEpoch", (e1 + 1).toString)
      .load()
      .select(col("_change_type")).collect().map(_.getString(0))
    assert(mid.nonEmpty && mid.forall(_ == "insert"))

    // the release-diff form: tags name the window's endpoints
    store.tagEpoch("diff-a", Some(e1))
    store.tagEpoch("diff-b", Some(e1 + 1))
    val byTag = spark.read.format("graft-changes")
      .option("root", root).option("table", "c").option("pk", "id")
      .option("fromTag", "diff-a").option("toTag", "diff-b")
      .load().select(col("_change_type")).collect().map(_.getString(0))
    assert(byTag.toSeq === mid.toSeq.sorted || byTag.sorted.toSeq === mid.sorted.toSeq,
      "tag-named window must equal the epoch-named window")

    // a bucketed table serves its surface columns: the bucket routing
    // column stays internal, as in the multi-table form and SQL reads
    store.ensureBucketed("cb", Seq("id"), 2)
    store.ensureGoverned(Seq("cb"))
    val b0 = store.snapshot().epoch
    store.upsert("cb", Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    Seq("changes", "appends").foreach { mode =>
      val cols = spark.read.format("graft-changes")
        .option("root", root).option("table", "cb").option("pk", "id")
        .option("mode", mode).option("fromEpoch", b0.toString)
        .load().columns.toSeq
      assert(!cols.contains(store.BucketCol),
        s"mode=$mode serves the bucket routing column: $cols")
    }

    // empty or malformed endpoints are refused by name, not with a raw
    // parse error
    Seq("fromEpoch" -> "", "fromTimestamp" -> "", "toTimestamp" -> "",
        "toEpoch" -> "", "fromEpoch" -> "7x", "toTimestamp" -> "yesterday")
      .foreach { case (key, v) =>
        val opts = Map("root" -> root, "table" -> "c", "pk" -> "id",
          "fromEpoch" -> e1.toString) + (key -> v)
        val e = intercept[IllegalArgumentException](
          spark.read.format("graft-changes").options(opts).load())
        assert(!e.isInstanceOf[NumberFormatException] && e.getMessage.contains(key),
          s"$key='$v': ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
  }

  private def fmtUtc(ms: Long): String =
    java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ms))

  test("TIMESTAMP AS OF resolves persisted commit stamps; mtimes are irrelevant") {
    val (root, store) = mountCatalog()
    store.ensureGoverned(Seq("t"))
    store.upsert("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    val e1 = store.snapshot().epoch
    Thread.sleep(15) // stamps are millis — force distinct ones
    store.upsert("t", Seq((1L, "b")).toDF("id", "v"), Seq("id"))
    val stamps = store.commitStamps().toMap
    assert(stamps(e1) < stamps(e1 + 1), "commit stamps must be distinct here")

    def vAt(clause: String): String =
      spark.sql(s"SELECT v FROM graft.t $clause").collect().head.getString(0)

    // an instant BETWEEN the two commits serves the earlier epoch
    val between = stamps(e1 + 1) - 1
    assert(vAt(s"TIMESTAMP AS OF '${fmtUtc(between)}'") === "a")
    // an instant at/after the second commit serves it
    assert(vAt(s"TIMESTAMP AS OF '${fmtUtc(stamps(e1 + 1))}'") === "b")

    // $history surfaces the stamps Iceberg-snapshots-style
    val hist = spark.sql(
      "SELECT epoch, committed_at FROM graft.`t$history` ORDER BY epoch")
      .collect().map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    assert(hist(e1) === stamps(e1) && hist(e1 + 1) === stamps(e1 + 1))

    // mtime tampering (rsync/copy/restore) must not move resolution:
    // rewrite every pointer's mtime to the distant past
    val epochDir = java.nio.file.Paths.get(root, "_graft_epoch")
    java.nio.file.Files.list(epochDir).forEach { p =>
      if (p.getFileName.toString.startsWith("commit-"))
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(1000L))
    }
    assert(vAt(s"TIMESTAMP AS OF '${fmtUtc(between)}'") === "a",
      "resolution keyed on file mtimes — a copied store would time-travel wrong")

    // before-first-commit fails loudly rather than serving a newer epoch
    val e = intercept[Exception](vAt("TIMESTAMP AS OF '1999-01-01 00:00:00'"))
    assert(e.getMessage.contains("no retained commit"))
  }

  test("vacuum retention keys on persisted stamps; legacy pointers fall back to mtime") {
    val (root, store) = mountCatalog()
    store.ensureGoverned(Seq("t"))
    (1 to 3).foreach { i =>
      store.upsert("t", Seq((i.toLong, s"v$i")).toDF("id", "v"), Seq("id"))
    }
    val epochs = store.epochs()
    // tamper every pointer mtime to the distant past: mtime-keyed
    // retention would now reclaim everything but the latest commit
    val epochDir = java.nio.file.Paths.get(root, "_graft_epoch")
    java.nio.file.Files.list(epochDir).forEach { p =>
      if (p.getFileName.toString.startsWith("commit-"))
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(1000L))
    }
    store.vacuumEpochs(minAgeMs = 3600L * 1000L)
    assert(store.epochs() === epochs,
      "retention used mtimes — fresh-stamped commits were reclaimed")

    // legacy pointer (pre-stamping): strip the #ts= header in place and
    // read through a FRESH store (caches memoize by immutable name) —
    // the stamp falls back to the file's mtime
    val oldest = java.nio.file.Files.list(epochDir)
      .filter(_.getFileName.toString.startsWith("commit-"))
      .sorted().findFirst().get()
    val stripped = new String(
      java.nio.file.Files.readAllBytes(oldest), "UTF-8")
      .linesIterator.filterNot(_.startsWith("#ts=")).mkString("\n")
    java.nio.file.Files.write(oldest, stripped.getBytes("UTF-8"))
    // drop Hadoop LocalFS's checksum sidecar — the out-of-band rewrite
    // invalidated it (a real legacy store simply never had the header)
    java.nio.file.Files.deleteIfExists(
      oldest.getParent.resolve("." + oldest.getFileName.toString + ".crc"))
    java.nio.file.Files.setLastModifiedTime(oldest,
      java.nio.file.attribute.FileTime.fromMillis(12345L))
    val fresh = new TableStore(spark, root)
    assert(fresh.commitStamps().toMap.apply(epochs.head) === 12345L,
      "legacy pointer must fall back to its mtime")
  }

  test("graft-changes: timestamp-bounded windows; projections prune to the column's pages") {
    val (root, store) = mountCatalog()
    store.ensureGoverned(Seq("c"))
    // incompressible payload — a constant string snappy-compresses to
    // nothing and the pruning saving would vanish into page headers
    val rnd = new scala.util.Random(42)
    store.upsert("c",
      (0 until 400).map(i => (i.toLong, rnd.alphanumeric.take(1024).mkString))
        .toDF("id", "payload"),
      Seq("id"))
    val e1 = store.snapshot().epoch
    Thread.sleep(15)
    store.upsert("c", Seq((10_000L, "late")).toDF("id", "payload"), Seq("id"))
    val stamps = store.commitStamps().toMap

    // wall-clock window: fromTimestamp between the commits ≡ fromEpoch e1
    val byTs = spark.read.format("graft-changes")
      .option("root", root).option("table", "c").option("pk", "id")
      .option("fromTimestamp", (stamps(e1 + 1) - 1).toString)
      .load().select(col("id").cast("long")).collect().map(_.getLong(0))
    assert(byTs.toSet === Set(10_000L),
      s"timestamp window must equal the epoch window, got ${byTs.toSeq}")

    // column pruning, end to end: Spark must hand the relation only
    // the selected column (PrunedFilteredScan — the V1 TableScan form
    // forced the full width through a Project above)...
    val opts = Map("root" -> root, "table" -> "c", "pk" -> "id",
      "fromEpoch" -> (e1 - 1).toString, "toEpoch" -> e1.toString)
    def window = spark.read.format("graft-changes").options(opts).load()
    val q = window.select("id")
    assert(q.collect().length === 400)
    val scanOut = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.RowDataSourceScanExec =>
        s.output.map(_.name)
    }.flatten
    assert(scanOut === Seq("id"),
      s"Spark asked the relation for ${scanOut.mkString(",")} — pruning " +
        "did not reach the scan")
    // ...and the relation must push the projection into the underlying
    // parquet scan: the window frame's ReadSchema carries ONLY that
    // column, so the payload pages are never decoded
    val rel = new ChangesRelationProvider()
      .createRelation(spark.sqlContext, opts)
      .asInstanceOf[ChangesRelation]
    val innerScan = rel.project(Array("id"), Array.empty)
      .queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.requiredSchema.fieldNames.toSeq
      }.flatten
    assert(innerScan === Seq("id"),
      s"parquet ReadSchema carries ${innerScan.mkString(",")} — the " +
        "window deserializes columns the projection dropped")
  }

  test("SQL DELETE cascades: base + every index in one governed epoch, " +
    "feed emits the pks, prior epochs still serve them") {
    import graft.store.{Doctor, Fts, Retract, Sq}
    val (_, store) = mountCatalog()
    val dims = 8
    store.ensureBucketed("docs", Seq("id"), 4)
    store.upsert("docs", (0 until 24).map { i =>
      (i.toLong, s"common word$i text",
        (0 until dims).map(d => math.sin(i * dims + d) * 3.0))
    }.toDF("id", "full_text", "e"), Seq("id"))
    Fts.upsertWithIndexCols(store, "docs", store.read("docs"), "id",
      Seq("full_text"), buckets = 4)
    Sq.buildIndex(store, "docs", store.read("docs"), "id", "e")
    store.ensureGoverned(Seq("docs", Fts.indexName("docs"),
      Fts.statsName("docs"), Sq.codesName("docs")))
    val e1 = store.snapshot().epoch

    spark.sql("DELETE FROM graft.docs WHERE id = 3 OR id IN (7)")

    // ONE epoch: everything governed, so the cascade staged atomically
    val e2 = store.snapshot().epoch
    assert(e2 === e1 + 1,
      "fully-governed SQL DELETE must land base + indexes as one epoch")
    assert(spark.sql("SELECT count(*) FROM graft.docs")
      .collect().head.getLong(0) === 22L)
    // every index retracted the pks; Doctor's invariants all green
    Seq(Fts.indexName("docs"), Sq.codesName("docs")).foreach { idx =>
      assert(store.read(idx).filter(col("pk").isin(3L, 7L)).isEmpty,
        s"$idx still ranks deleted pks")
    }
    assert(store.read(Fts.statsName("docs")).head.getAs[Long]("n_docs") === 22L)
    assert(Doctor.check(store) === Seq.empty)
    // the change feed emits exactly the deleted pks
    val ch = store.readChangesSince("docs", e1, e2, Seq("id"))
      .select(col("id").cast("long"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ch === Set((3L, "delete"), (7L, "delete")))
    // time travel still serves the deleted rows at the prior epoch
    assert(spark.sql(
      s"SELECT count(*) FROM graft.docs VERSION AS OF $e1 WHERE id IN (3, 7)")
      .collect().head.getLong(0) === 2L)

    // an untranslatable predicate fails loudly — a DELETE never falls
    // back to a silent scan-and-guess
    val bad = intercept[Exception](
      spark.sql("DELETE FROM graft.docs WHERE length(full_text) > 999"))
    assert(bad.getMessage.toLowerCase.contains("delete") ||
      bad.getMessage.toLowerCase.contains("translat"), bad.getMessage)
    assert(spark.sql("SELECT count(*) FROM graft.docs")
      .collect().head.getLong(0) === 22L, "the failed DELETE must not write")

    // flat table with a maintained index but no declared pk: refused
    // with the library pointer (no key to cascade with)
    store.overwrite("flat", (0 until 6).map(i => (i.toLong, s"word$i body"))
      .toDF("id", "full_text"))
    Fts.upsertWithIndexCols(store, "flat", store.read("flat"), "id",
      Seq("full_text"), buckets = 2)
    val refuse = intercept[Exception](
      spark.sql("DELETE FROM graft.flat WHERE id = 1"))
    assert(refuse.getMessage.contains("Retract.cascade"), refuse.getMessage)
    assert(Retract.indexTablesOf(store, "flat").nonEmpty)

    // flat UN-indexed table: predicate rewrite, rows where the
    // condition is NULL are kept (SQL three-valued DELETE)
    store.overwrite("plain", Seq((1L, "x"), (2L, "y"), (3L, null))
      .toDF("id", "v"))
    spark.sql("DELETE FROM graft.plain WHERE v = 'x'")
    assert(spark.sql("SELECT id FROM graft.plain ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(2L, 3L),
      "NULL-condition rows must survive a DELETE")
    // unqualified DELETE (no WHERE) empties the table
    spark.sql("DELETE FROM graft.plain")
    assert(spark.sql("SELECT count(*) FROM graft.plain")
      .collect().head.getLong(0) === 0L)
  }

  test("CTAS: governed + bucketed when pk is declared, flat otherwise; " +
    "INSERT INTO continues the history") {
    val (_, store) = mountCatalog()
    store.ensureGoverned(Seq("src"))
    store.upsert("src",
      (0 until 20).map(i => (i.toLong, s"v$i", i % 3)).toDF("id", "v", "g"),
      Seq("id"))

    // bucketed CTAS: pk + buckets via TBLPROPERTIES
    spark.sql("CREATE TABLE graft.docs TBLPROPERTIES('pk'='id','buckets'='4') " +
      "AS SELECT id, v FROM graft.src WHERE g <> 2")
    assert(store.bucketLayoutOf("docs") === Some((4, Seq("id"))),
      "CTAS with pk must declare the bucketed upsert layout")
    assert(store.governed.contains("docs"), "CTAS tables must be governed")
    assert(spark.sql("SELECT count(*) FROM graft.docs")
      .collect().head.getLong(0) === 14L)
    // $history carries the creation + the CTAS insert; INSERT INTO
    // continues it as a bucketed pk upsert (update, not append)
    val eCreated = spark.sql("SELECT epoch FROM graft.`docs$history`")
      .collect().map(_.getLong(0)).sorted
    assert(eCreated.nonEmpty)
    spark.sql("INSERT INTO graft.docs SELECT id, concat(v, 'x') " +
      "FROM graft.src WHERE g = 2")
    spark.sql("INSERT INTO graft.docs VALUES (0, 'replaced')")
    assert(spark.sql("SELECT count(*) FROM graft.docs")
      .collect().head.getLong(0) === 20L, "pk upsert must replace, not append")
    assert(spark.sql("SELECT v FROM graft.docs WHERE id = 0")
      .collect().head.getString(0) === "replaced")
    assert(spark.sql("SELECT count(*) FROM graft.`docs$history`")
      .collect().head.getLong(0) > eCreated.length,
      "INSERT INTO must continue the CTAS history")
    // the CTAS-create epoch still time-travels (empty table)
    assert(spark.sql(
      s"SELECT count(*) FROM graft.docs VERSION AS OF ${eCreated.head}")
      .collect().head.getLong(0) === 0L)

    // plain CREATE (no AS SELECT): empty but resolvable, SELECTs 0 rows
    spark.sql("CREATE TABLE graft.fresh (id BIGINT, v STRING) " +
      "TBLPROPERTIES('pk'='id')")
    assert(spark.sql("SELECT count(*) FROM graft.fresh")
      .collect().head.getLong(0) === 0L)
    spark.sql("INSERT INTO graft.fresh VALUES (1, 'a')")
    assert(spark.sql("SELECT v FROM graft.fresh").collect()
      .head.getString(0) === "a")

    // flat CTAS (no pk): governed, whole-table-merge discipline
    spark.sql("CREATE TABLE graft.flat AS SELECT g, count(*) AS n " +
      "FROM graft.src GROUP BY g")
    assert(store.bucketLayoutOf("flat").isEmpty)
    assert(store.governed.contains("flat"))
    assert(spark.sql("SELECT count(*) FROM graft.flat")
      .collect().head.getLong(0) === 3L)

    // guardrails: duplicate name, bad pk, PARTITIONED BY, buckets sans pk
    val dup = intercept[Exception](
      spark.sql("CREATE TABLE graft.docs AS SELECT 1 AS x"))
    assert(dup.getMessage.toLowerCase.contains("exists"), dup.getMessage)
    val badPk = intercept[Exception](spark.sql(
      "CREATE TABLE graft.oops TBLPROPERTIES('pk'='nope') AS SELECT 1 AS x"))
    assert(badPk.getMessage.contains("pk column"), badPk.getMessage)
    val part = intercept[Exception](spark.sql(
      "CREATE TABLE graft.oops (id BIGINT) PARTITIONED BY (id)"))
    assert(part.getMessage.contains("PARTITIONED BY"), part.getMessage)
    assert(!store.tableNames.contains("oops"),
      "a refused CREATE must leave nothing behind")
  }

  test("multi-table graft-changes: one global window, never a torn pair; " +
    "TRUNCATE routes through the delete path") {
    val (root, store) = mountCatalog()
    store.ensureGoverned(Seq("a", "b"))
    store.upsert("a", Seq((1L, "a1")).toDF("id", "v"), Seq("id"))
    store.upsert("b", Seq((10L, "b1", 7)).toDF("id", "v", "extra"), Seq("id"))
    val e0 = store.snapshot().epoch
    store.transact {
      store.upsert("a", Seq((2L, "a2")).toDF("id", "v"), Seq("id"))
      store.upsert("b", Seq((20L, "b2", 8)).toDF("id", "v", "extra"), Seq("id"))
    }
    val e1 = store.snapshot().epoch
    store.upsert("a", Seq((3L, "a3")).toDF("id", "v"), Seq("id"))
    val e2 = store.snapshot().epoch

    def window(from: Long, to: Long) = spark.read.format("graft-changes")
      .option("root", root).option("tables", "a,b")
      .option("pk.a", "id").option("pk.b", "id")
      .option("fromEpoch", from.toString).option("toEpoch", to.toString)
      .load()

    // the one-transact commit appears for BOTH members in one window
    val joint = window(e0, e1)
    assert(joint.columns.head === "_table")
    assert(joint.columns.last === "_change_type")
    val rows = joint.select(col("_table"), col("id").cast("long"), col("v"),
        col("extra"), col("_change_type"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getInt(3).asInstanceOf[Any],
        r.getString(4))).toSet
    assert(rows === Set(
      ("a", 2L, "a2", null, "insert"),
      ("b", 20L, "b2", 8, "insert")),
      s"multi-table window wrong: $rows")
    // member parity: the single-table reader over the same window
    val single = spark.read.format("graft-changes")
      .option("root", root).option("table", "b").option("pk", "id")
      .option("fromEpoch", e0.toString).option("toEpoch", e1.toString)
      .load().select(col("id").cast("long")).collect().map(_.getLong(0)).toSet
    assert(single === Set(20L))
    // a member with no logical change contributes nothing
    val only = window(e1, e2)
    assert(only.select("_table").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("a"))

    // TRUNCATE TABLE rides the same delete machinery (TruncatableTable
    // → deleteWhere(AlwaysTrue)); the feed emits the retractions
    spark.sql("TRUNCATE TABLE graft.a")
    assert(spark.sql("SELECT count(*) FROM graft.a")
      .collect().head.getLong(0) === 0L)
    val e3 = store.snapshot().epoch
    val truncFeed = store.readChangesSince("a", e2, e3, Seq("id"))
      .select(col("id").cast("long"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(truncFeed === Set((1L, "delete"), (2L, "delete"), (3L, "delete")))
  }

  test("multi-table graft-changes mode=appends: per-member file adds " +
    "over one global window — a joint transact never tears, no pk or " +
    "_change_type needed, pruning reaches the parquet scan") {
    val (root, store) = mountCatalog()
    // 'c' stays governed with ZERO files (CREATE-before-insert): an
    // empty member must contribute nothing, not crash the window —
    // while its DECLARED schema still shapes the union
    store.ensureGoverned(Seq("a", "b", "c"))
    store.declareSchema("c", new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("conly", "string"))
    store.upsert("a", Seq((1L, "a1")).toDF("id", "v"), Seq("id"))
    store.upsert("b", Seq((10L, "b1", 7)).toDF("id", "v", "extra"), Seq("id"))
    val e0 = store.snapshot().epoch
    store.transact {
      store.upsert("a", Seq((2L, "a2")).toDF("id", "v"), Seq("id"))
      store.upsert("b", Seq((20L, "b2", 8)).toDF("id", "v", "extra"), Seq("id"))
    }
    val e1 = store.snapshot().epoch
    // a rewrite-only commit must contribute no appends
    store.compact("a")
    val e2 = store.snapshot().epoch

    val opts = Map("root" -> root, "tables" -> "a,b,c", "mode" -> "appends",
      "fromEpoch" -> e0.toString, "toEpoch" -> e1.toString)
    val joint = spark.read.format("graft-changes").options(opts).load()
    assert(joint.columns.head === "_table")
    assert(!joint.columns.contains("_change_type"),
      "appends mode serves untyped adds")
    assert(joint.columns.contains("conly"),
      "an empty member's DECLARED schema must shape the union — " +
        "stable from creation, not from its first insert")
    val rows = joint.select(col("_table"), col("id").cast("long"), col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    // file-level at-least-once: rewritten files may carry surviving
    // old rows too — the never-torn claim is that BOTH members' adds
    // arrive in the one read
    assert(rows.contains(("a", 2L, "a2")) && rows.contains(("b", 20L, "b2")),
      s"the joint transact's adds must pair in one read: $rows")

    // rewrite-only window: nothing to deliver for either member
    val quiet = spark.read.format("graft-changes")
      .options(opts + ("fromEpoch" -> e1.toString, "toEpoch" -> e2.toString))
      .load()
    assert(quiet.count() === 0L,
      "a compaction is not an append — the rewrite-aware walk skips it")

    // the projection reaches each member's parquet scan
    val rel = new ChangesRelationProvider()
      .createRelation(spark.sqlContext, opts)
      .asInstanceOf[ChangesRelation]
    val innerScans = rel.project(Array("id"), Array.empty)
      .queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.requiredSchema.fieldNames.toSeq
      }
    assert(innerScans.nonEmpty && innerScans.forall(_ == Seq("id")),
      s"parquet ReadSchema carries ${innerScans} — the appends window " +
        "deserializes columns the projection dropped")
  }

  test("multi-table graft-changes refuses an UNKNOWN member loudly — " +
    "a misspelled name must never be mistaken for a governed-empty " +
    "member and serve zero rows forever") {
    val (root, store) = mountCatalog()
    store.ensureGoverned(Seq("a"))
    store.upsert("a", Seq((1L, "a1")).toDF("id", "v"), Seq("id"))
    val e0 = store.snapshot().epoch
    store.upsert("a", Seq((2L, "a2")).toDF("id", "v"), Seq("id"))
    val e1 = store.snapshot().epoch
    Seq("appends", "changes").foreach { mode =>
      val e = intercept[Exception](spark.read.format("graft-changes")
        .option("root", root).option("tables", "a,typo_name")
        .option("mode", mode).option("pk.a", "id")
        .option("pk.typo_name", "id")
        .option("fromEpoch", e0.toString).option("toEpoch", e1.toString)
        .load())
      assert(e.getMessage.contains("typo_name"),
        s"mode=$mode must name the unknown member: ${e.getMessage}")
    }
  }

  test("multi-table appends delivers a member EMPTIED within the " +
    "window: insert → compact → delete-all is empty at both endpoints " +
    "yet still owes its added files (at-least-once)") {
    val (root, store) = mountCatalog()
    // 'a' is empty at BOTH endpoints — an endpoints-only probe would
    // wrongly skip it; the window-wide probe must not
    store.ensureBucketed("a", Seq("id"), 2)
    store.ensureGoverned(Seq("a", "b"))
    store.upsert("b", Seq((10L, "keep")).toDF("id", "v"), Seq("id"))
    val e0 = store.snapshot().epoch
    // 'a' inside the window: add rows, rewrite, then delete everything
    // (deleteByPk drops the emptied partitions — zero live files)
    store.upsert("a", Seq((2L, "a2")).toDF("id", "v"), Seq("id"))
    store.compact("a")
    store.deleteByPk("a", Seq(2L).toDF("id"), Seq("id"))
    val e1 = store.snapshot().epoch
    assert(store.readIfExists("a").isEmpty, "fixture: 'a' emptied")
    val rows = spark.read.format("graft-changes")
      .option("root", root).option("tables", "a,b").option("mode", "appends")
      .option("fromEpoch", e0.toString).option("toEpoch", e1.toString)
      .load().filter(col("_table") === "a")
      .select(col("id").cast("long")).collect().map(_.getLong(0)).toSet
    assert(rows.contains(2L),
      s"the window's added files must deliver even though 'a' is empty " +
        s"at both endpoints (got $rows)")
  }

  test("graft-changes over a table a bucketed delete emptied still " +
    "serves its keys and images: the window lends the shape the table " +
    "no longer has") {
    val (root, store) = mountCatalog()
    // 'a' is bucketed through the Scala API (no declared schema); 'b'
    // shares no column with it, so it lends 'a' no shape either
    store.ensureBucketed("a", Seq("id"), 2)
    store.ensureGoverned(Seq("a", "b"))
    store.upsert("b", Seq(("k1", 1)).toDF("k", "w"), Seq("k"))
    val e0 = store.snapshot().epoch
    store.upsert("a", Seq((1L, "a1"), (2L, "a2")).toDF("id", "v"), Seq("id"))
    val e1 = store.snapshot().epoch
    store.deleteByPk("a", Seq(1L, 2L).toDF("id"), Seq("id"))
    val e2 = store.snapshot().epoch
    assert(store.readIfExists("a").isEmpty &&
      store.declaredSchemaOf("a").isEmpty, "fixture: 'a' emptied, undeclared")
    def read(from: Long, to: Long, opts: (String, String)*) =
      spark.read.format("graft-changes").option("root", root)
        .option("fromEpoch", from.toString).option("toEpoch", to.toString)
        .options(opts.toMap).load()
    def rows(df: org.apache.spark.sql.DataFrame, cols: String*): Set[String] =
      df.select(cols.map(col): _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).toSet
    val deletes = Set("1|a1|delete", "2|a2|delete")
    val single = read(e1, e2, "table" -> "a", "pk" -> "id")
    assert(single.columns.toSeq === Seq("id", "v", "_change_type"))
    assert(rows(single, "id", "v", "_change_type") === deletes)
    val multi = read(e1, e2, "tables" -> "a,b", "pk.a" -> "id", "pk.b" -> "k")
    assert(rows(multi.filter(col("_table") === "a"), "id", "v", "_change_type")
      === deletes)
    // appends: the inserting window, read after the table emptied
    val inserted = Set("1|a1", "2|a2")
    assert(rows(read(e0, e1, "table" -> "a", "mode" -> "appends"), "id", "v")
      === inserted)
    assert(rows(read(e0, e1, "tables" -> "a,b", "mode" -> "appends")
      .filter(col("_table") === "a"), "id", "v") === inserted)
    // a window 'a' did not change in: its shape comes from its files at
    // the window's endpoint
    assert(read(e1, e1, "table" -> "a", "pk" -> "id").columns.toSeq ===
      Seq("id", "v", "_change_type"))
    // a window in which 'a' holds no files has no shape for it: alone it
    // is refused by name, beside 'b' it contributes no columns
    store.upsert("b", Seq(("k2", 2)).toDF("k", "w"), Seq("k"))
    val e3 = store.snapshot().epoch
    Seq("changes", "appends").foreach { mode =>
      val e = intercept[IllegalArgumentException](
        read(e2, e3, "table" -> "a", "pk" -> "id", "mode" -> mode))
      assert(e.getMessage.contains("'a'"), e.getMessage)
    }
    val quiet = read(e2, e3, "tables" -> "a,b", "pk.a" -> "id", "pk.b" -> "k")
    assert(quiet.columns.toSeq === Seq("_table", "k", "w", "_change_type"))
    assert(rows(quiet, "_table", "k", "_change_type") === Set("b|k2|insert"))
  }

  test("stored procedures: CALL graft.system.* runs the maintenance verbs") {
    import graft.store.{Doctor, Sq}
    val (_, store) = mountCatalog()
    store.ensureBucketed("docs", Seq("id"), 2)
    store.ensureGoverned(Seq("docs"))
    (1 to 4).foreach { i => // several commits → several small files
      store.upsert("docs", Seq((i.toLong, s"v$i",
        (0 until 8).map(d => math.sin(i * 8 + d)))).toDF("id", "v", "e"),
        Seq("id"))
    }

    // doctor: healthy store → zero finding rows
    assert(spark.sql("CALL graft.system.doctor()").collect().isEmpty)

    // compact: fewer files, same rows
    val c = spark.sql("CALL graft.system.compact('docs')").collect().head
    assert(c.getLong(2) <= c.getLong(1),
      s"compact grew the file count: $c")
    assert(spark.sql("SELECT count(*) FROM graft.docs")
      .collect().head.getLong(0) === 4L)

    // tag pins the current epoch; VERSION AS OF resolves it; drop frees it
    val tagged = spark.sql("CALL graft.system.tag('rel-x')").collect().head
    assert(tagged.getString(0) === "rel-x")
    assert(store.tags()("rel-x") === tagged.getLong(1))
    assert(spark.sql("SELECT count(*) FROM graft.docs VERSION AS OF 'rel-x'")
      .collect().head.getLong(0) === 4L)
    spark.sql("CALL graft.system.drop_tag('rel-x')")
    assert(!store.tags().contains("rel-x"))

    // heal_ghosts: a bare base delete orphans the SQ index; the
    // procedure names and repairs it, Doctor goes green
    Sq.buildIndex(store, "docs", store.read("docs"), "id", "e")
    store.deleteByPk("docs", Seq(2L).toDF("id"), Seq("id"))
    assert(Doctor.check(store).nonEmpty, "ghost seeding failed")
    val healed = spark.sql("CALL graft.system.heal_ghosts('docs', 'id')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(healed(Sq.codesName("docs")) === 1L)
    assert(Doctor.check(store) === Seq.empty)

    // refresh_stats + vacuum return their summaries
    assert(spark.sql("CALL graft.system.refresh_stats('docs')")
      .collect().head.getLong(1) > 0L)
    assert(spark.sql("CALL graft.system.vacuum(min_age_ms => 0)")
      .collect().head.getLong(0) === store.snapshot().epoch)

    // unknown procedure fails loudly (Spark wraps the catalog's error,
    // which names the known set, in FAILED_TO_LOAD_ROUTINE)
    val bad = intercept[Exception](
      spark.sql("CALL graft.system.explode_everything()"))
    assert(bad.getMessage.contains("explode_everything"), bad.getMessage)
    assert(Option(bad.getCause).exists(_.getMessage.contains("doctor")),
      s"cause: ${bad.getCause}")
  }

  test("INSERT INTO a flat table carrying per-pk indexes is refused " +
    "loudly — the one write verb that previously diverged them silently") {
    import graft.store.{Fts, Retract}
    val (_, store) = mountCatalog()
    store.overwrite("flat", (0 until 6).map(i => (i.toLong, s"word$i body"))
      .toDF("id", "full_text"))
    Fts.upsertWithIndexCols(store, "flat", store.read("flat"), "id",
      Seq("full_text"), buckets = 2)
    assert(Retract.indexTablesOf(store, "flat").nonEmpty)

    val before = store.read("flat").count()
    val refuse = intercept[Exception](
      spark.sql("INSERT INTO graft.flat VALUES (99, 'sneaky new doc')"))
    assert(refuse.getMessage.contains("index"), refuse.getMessage)
    assert(store.read("flat").count() === before,
      "the refused INSERT must not write")
    // OVERWRITE diverges strictly worse (every posting goes stale,
    // not just the batch's) — same refusal
    val refuseOvr = intercept[Exception](
      spark.sql("INSERT OVERWRITE graft.flat VALUES (99, 'replace all')"))
    assert(refuseOvr.getMessage.contains("index"), refuseOvr.getMessage)
    assert(store.read("flat").count() === before,
      "the refused INSERT OVERWRITE must not write")
    // the library pointer works: declaring a pk re-enables SQL INSERT
    // through the maintained-upsert path
    store.bucketize("flat", Seq("id"), 2)
    Fts.upsertWithIndexCols(store, "flat",
      store.read("flat").drop(store.BucketCol), "id", Seq("full_text"),
      buckets = 2)
    spark.sql("INSERT INTO graft.flat VALUES (99, 'legit new doc')")
    assert(store.read("flat").count() === before + 1)
    assert(store.read(Fts.indexName("flat"))
      .filter(col("pk") === 99L).count() > 0L,
      "the bucketed path refreshes the index with the insert")
  }

  test("DROP TABLE closes the lifecycle: base + every index artifact " +
    "removed in one operation, no orphans, Doctor green; re-CREATE " +
    "starts history fresh; pre-drop epochs and streams fail loudly") {
    import graft.store.{Doctor, Fts, Retract, Sq}
    val (root, store) = mountCatalog()
    val dims = 8
    store.ensureBucketed("docs", Seq("id"), 4)
    store.upsert("docs", (0 until 24).map { i =>
      (i.toLong, s"common word$i text",
        (0 until dims).map(d => math.sin(i * dims + d) * 3.0))
    }.toDF("id", "full_text", "e"), Seq("id"))
    Fts.upsertWithIndexCols(store, "docs", store.read("docs"), "id",
      Seq("full_text"), buckets = 4)
    Sq.buildIndex(store, "docs", store.read("docs"), "id", "e")
    graft.store.Ivf.buildIndex(store, "docs",
      store.read("docs").select(col("id"), col("e")), "id", "e", k = 4)
    store.ensureGoverned(Seq("docs", Fts.indexName("docs"),
      Fts.statsName("docs"), Sq.codesName("docs")))
    // an unrelated survivor table proves the drop is scoped
    store.ensureGoverned(Seq("other"))
    store.upsert("other", Seq((1L, "keep")).toDF("id", "v"), Seq("id"))
    val e1 = store.snapshot().epoch
    assert(Retract.artifactTablesOf(store, "docs").size >= 8,
      "the fixture must actually carry a multi-family artifact set")

    // a release tag pinning the table refuses a plain DROP
    store.tagEpoch("rel-1")
    val pinned = intercept[Exception](spark.sql("DROP TABLE graft.docs"))
    assert(pinned.getMessage.contains("rel-1"), pinned.getMessage)
    assert(store.tableNames.contains("docs"), "a refused DROP removes nothing")
    store.dropTag("rel-1")

    spark.sql("DROP TABLE graft.docs")

    assert(!store.tableNames.exists(t => t == "docs" || t.startsWith("docs_")),
      s"no orphan artifacts may survive: ${store.tableNames.mkString(", ")}")
    assert(Retract.artifactTablesOf(store, "docs") === Seq.empty)
    assert(Doctor.check(store) === Seq.empty, "the store stays doctor-green")
    assert(store.governed === Set("other"),
      "one un-govern pointer write scoped to the dropped tables")
    assert(spark.sql("SELECT v FROM graft.other").collect()
      .head.getString(0) === "keep")
    val gone = intercept[Exception](
      spark.sql("SELECT * FROM graft.docs").collect())
    assert(gone.getMessage.toLowerCase.contains("table"), gone.getMessage)
    // time travel into the dead incarnation fails loudly, not empty
    val tt = intercept[Exception](
      spark.sql(s"SELECT * FROM graft.docs VERSION AS OF $e1").collect())
    assert(tt != null)

    // re-CREATE: same name, fresh history — the dead incarnation's
    // epochs are not its history
    spark.sql("CREATE TABLE graft.docs TBLPROPERTIES('pk'='id') AS " +
      "SELECT 100L AS id, 'fresh' AS full_text")
    assert(spark.sql("SELECT full_text FROM graft.docs").collect()
      .head.getString(0) === "fresh")
    val hist = store.tableHistory("docs").map(_._1)
    assert(hist.forall(_ > e1),
      s"re-created history must start after the drop, got $hist")

    // a streaming consumer WITH PROGRESS on the dropped table (its
    // offset predates the drop — the mid-flight mirror case) fails
    // LOUDLY on its next window — never serves silent empties
    spark.sql("DROP TABLE graft.docs")
    val err = intercept[Exception] {
      val q = spark.readStream.format("graft-cdc")
        .option("root", root).option("table", "docs").option("pk", "id")
        .option("startingEpoch", e1.toString)
        .schema(new org.apache.spark.sql.types.StructType()
          .add("id", "long").add("full_text", "string")
          .add("_change_type", "string"))
        .load()
        .writeStream.format("memory").queryName("dropped_feed").start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(err.getMessage.contains("docs") ||
      err.getCause != null, err.getMessage)

    // vacuum after a DROP is safe: retained pre-drop commits still
    // NAME the dead table but its directory is never swept (only
    // currently-governed dirs are), survivors stay intact, and once
    // the pre-drop commits age out their log entries reclaim too
    store.vacuumEpochs(0L)
    assert(spark.sql("SELECT v FROM graft.other").collect()
      .head.getString(0) === "keep")
    assert(graft.store.Doctor.check(store) === Seq.empty)
  }

  test("DROP TABLE PURGE releases the pins a plain DROP refuses on: " +
    "doomed-only tags drop, a tag also protecting OTHER tables " +
    "survives (purging one table never un-pins the rest), consumer " +
    "cursors deregister") {
    val (_, store) = mountCatalog()
    store.ensureBucketed("t", Seq("id"), 2)
    store.ensureGoverned(Seq("t"))
    store.upsert("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    // pins an epoch whose commit contains ONLY t → PURGE may drop it
    store.tagEpoch("rel-t")
    store.ensureGoverned(Seq("other"))
    store.upsert("other", Seq((1L, "keep")).toDF("id", "v"), Seq("id"))
    // pins an epoch containing t AND other → dropping it would
    // silently release other's retention pin too; PURGE must keep it
    store.tagEpoch("rel-both")
    graft.store.EpochFollower.consumeChanges(store, "t", "mirror",
      Seq("id"))(_ => ())

    val refuse = intercept[Exception](spark.sql("DROP TABLE graft.t"))
    assert(refuse.getMessage.contains("rel-t") ||
      refuse.getMessage.contains("rel-both") ||
      refuse.getMessage.contains("mirror"), refuse.getMessage)

    spark.sql("DROP TABLE graft.t PURGE")
    assert(!store.tableNames.contains("t"))
    assert(!store.tags().contains("rel-t"),
      "PURGE drops a tag that pinned nothing but the doomed tables")
    assert(store.tags().contains("rel-both"),
      "a tag that also pins OTHER tables survives the purge — " +
        "dropping it would silently release their retention")
    assert(!graft.store.EpochFollower.cursors(store).keys.exists(_._1 == "t"),
      "PURGE deregisters the table's consumer cursors")
    assert(store.governed === Set("other"))
    // the surviving tag still serves the OTHER table's pinned snapshot
    assert(spark.sql(
      "SELECT v FROM graft.other VERSION AS OF 'rel-both'")
      .collect().head.getString(0) === "keep")
    // ... and fails loudly for the dead table, like any pre-drop epoch
    intercept[Exception](spark.sql(
      "SELECT * FROM graft.t VERSION AS OF 'rel-both'").collect())
    // vacuum with the surviving tag is safe: other's pinned files stay
    store.vacuumEpochs(0L)
    assert(spark.sql(
      "SELECT v FROM graft.other VERSION AS OF 'rel-both'")
      .collect().head.getString(0) === "keep")
    // IF EXISTS on a never-existed table is a clean no-op
    spark.sql("DROP TABLE IF EXISTS graft.never_was")
  }

  test("ALTER TABLE ADD COLUMN is metadata-only evolution: readers " +
    "null-fill until data carries the column, no file rewrite, Doctor " +
    "green, old epochs keep the old shape") {
    val (_, store) = mountCatalog()
    store.ensureBucketed("t", Seq("id"), 2)
    store.ensureGoverned(Seq("t"))
    store.upsert("t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    val e1 = store.snapshot().epoch
    val filesBefore = store.dataFiles("t").toSet

    spark.sql("ALTER TABLE graft.t ADD COLUMN score DOUBLE")

    assert(store.dataFiles("t").toSet === filesBefore,
      "ADD COLUMN must not rewrite a single data file")
    assert(store.snapshot().epoch === e1,
      "metadata-only: no new epoch")
    val rows = spark.sql("SELECT id, v, score FROM graft.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(rows.toSeq === Seq((1L, "a", None), (2L, "b", None)),
      "existing rows null-fill the added column")
    assert(graft.store.Doctor.check(store)
      .filter(_.component == "schema") === Seq.empty,
      "a declared-superset marker is pending evolution, not drift")

    // data starts carrying the column through ordinary writes
    spark.sql("INSERT INTO graft.t VALUES (3L, 'c', 9.5D)")
    assert(spark.sql("SELECT score FROM graft.t WHERE id = 3")
      .collect().head.getDouble(0) === 9.5)
    assert(spark.sql("SELECT count(*) FROM graft.t WHERE score IS NULL")
      .collect().head.getLong(0) === 2L)
    // the pre-evolution epoch time-travels with the OLD shape
    assert(!spark.sql(s"SELECT * FROM graft.t VERSION AS OF $e1")
      .columns.contains("score"),
      "old snapshots predate the evolution")

    // guardrails: duplicate and non-nullable adds refuse
    val dup = intercept[Exception](
      spark.sql("ALTER TABLE graft.t ADD COLUMN v STRING"))
    assert(dup.getMessage.contains("already exists"), dup.getMessage)
    val nn = intercept[Exception](
      spark.sql("ALTER TABLE graft.t ADD COLUMN req STRING NOT NULL"))
    assert(nn.getMessage.toLowerCase.contains("null"), nn.getMessage)

    // FLAT table: the declared marker must survive the swap-based
    // merge INSERT (writeSwapped restores it), so the evolved column
    // does not silently vanish on the next write
    spark.sql("CREATE TABLE graft.f AS SELECT 1L AS id, 'x' AS v")
    spark.sql("ALTER TABLE graft.f ADD COLUMN w STRING")
    spark.sql("INSERT INTO graft.f VALUES (2L, 'y', 'wide')")
    val f = spark.sql("SELECT id, v, w FROM graft.f ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)).getOrElse("-")))
    assert(f.toSeq === Seq((1L, "x", "-"), (2L, "y", "wide")),
      "the flat swap must not drop the evolved declared surface")
  }

  test("index-from-birth: CREATE TABLE TBLPROPERTIES('fts'=...) " +
    "serves MATCH SQL-only, the FIRST INSERT commits base + postings " +
    "as one epoch, and DROP takes the index with the inventory") {
    val (_, store) = mountCatalog()
    spark.sql(
      "CREATE TABLE graft.docs (id BIGINT, full_text STRING) " +
        "TBLPROPERTIES('pk'='id', 'buckets'='2', 'fts'='full_text')")
    // the index exists from birth: stats-only, provenance recorded,
    // MATCH answers empty instead of erroring
    assert(store.tableNames.contains(
      graft.store.Fts.statsName("docs")), store.tableNames.mkString(","))
    assert(spark.sql(
      "CALL graft.system.search('docs', 'zebra')").collect().isEmpty)
    val e0 = store.snapshot().epoch

    spark.sql("INSERT INTO graft.docs VALUES " +
      "(1L, 'alpha beta gamma'), (2L, 'beta zebra quagga')")
    assert(store.snapshot().epoch === e0 + 1,
      "the FIRST insert must land base rows AND postings as ONE epoch")
    assert(store.read(graft.store.Fts.indexName("docs"))
      .filter(col("pk") === 2L && col("token") === "zebra").count() === 1L)
    // MATCH SQL-only, unranked and ranked
    assert(spark.sql("CALL graft.system.search('docs', 'zebra')")
      .collect().map(_.getString(0)).toSeq === Seq("2"))
    val ranked = spark.sql(
      "CALL graft.system.search_ranked('docs', 'beta OR quagga', k => 5)")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(ranked.map(_._1).toSet === Set("1", "2"), ranked.mkString(","))
    assert(ranked.head._1 === "2",
      "two hits must outrank one under BM25")
    // UPDATE refreshes the postings in the same statement
    spark.sql("UPDATE graft.docs SET full_text = 'omega only' WHERE id = 1")
    assert(spark.sql("CALL graft.system.search('docs', 'alpha')")
      .collect().isEmpty, "stale postings after UPDATE")
    assert(spark.sql("CALL graft.system.search('docs', 'omega')")
      .collect().map(_.getString(0)).toSeq === Seq("1"))
    assert(graft.store.Doctor.check(store) === Seq.empty)

    // DROP removes the base plus the whole index inventory — including
    // the from-birth governed entries
    spark.sql("DROP TABLE graft.docs")
    assert(!store.tableNames.exists(_.startsWith("docs")),
      store.tableNames.mkString(","))
    assert(store.governed.forall(!_.startsWith("docs")),
      s"no phantom pointer entries may linger: ${store.governed}")
  }

  test("CALL graft.system.build_fts / build_index retrofit indexes " +
    "onto an existing governed table: provenance recorded, Doctor " +
    "green, later SQL writes refresh them") {
    import graft.store.{Doctor, Sq}
    val (_, store) = mountCatalog()
    store.ensureBucketed("t", Seq("id"), 2)
    store.ensureGoverned(Seq("t"))
    store.upsert("t", (0 until 12).map(i => (i.toLong, s"common word$i",
      (0 until 8).map(d => math.sin(i * 8 + d)))).toDF("id", "v", "e"),
      Seq("id"))

    spark.sql("CALL graft.system.build_fts('t', 'v')")
    val built = spark.sql(
      "CALL graft.system.build_index('t', 'sq', 'e')").collect()
    assert(built.head.getString(1) === "sq" && built.head.getLong(2) === 12L)
    assert(Doctor.check(store) === Seq.empty,
      "a CALL-built index must land Doctor-green with provenance")

    // one SQL INSERT refreshes BOTH retrofitted families in ONE epoch
    val e1 = store.snapshot().epoch
    val eight = (1 to 8).map(d => s"0.${d}D").mkString("array(", ", ", ")")
    spark.sql(s"INSERT INTO graft.t VALUES (100L, 'zebra text', $eight)")
    assert(store.snapshot().epoch === e1 + 1,
      "base + both retrofitted indexes must commit as ONE epoch")
    assert(spark.sql("CALL graft.system.search('t', 'zebra')")
      .collect().map(_.getString(0)).toSeq === Seq("100"))
    assert(store.read(Sq.codesName("t")).filter(col("pk") === 100L)
      .count() === 1L)
    assert(Doctor.check(store) === Seq.empty)

    // search truncation is NATIVE-pk-ordered (string order would cut
    // a lexicographic subset: 0,1,10,100,11,...)
    assert(spark.sql("CALL graft.system.search('t', 'common', k => 5)")
      .collect().map(_.getString(0)).toSeq ===
      Seq("0", "1", "2", "3", "4"))

    // build_fts is a REBUILD: ghost postings (bare-deleted pks) purge
    store.deleteByPk("t", Seq(3L).toDF("id"), Seq("id"))
    assert(spark.sql("CALL graft.system.search('t', 'word3')")
      .collect().map(_.getString(0)).toSeq === Seq("3"),
      "fixture: the bare delete must have left a ghost posting")
    spark.sql("CALL graft.system.build_fts('t', 'v')")
    assert(spark.sql("CALL graft.system.search('t', 'word3')")
      .collect().isEmpty,
      "a full build must purge ghosts, not just replace live pks")

    // guardrails: unknown family, empty table, flat table all refuse
    val fam = intercept[Exception](spark.sql(
      "CALL graft.system.build_index('t', 'nope', 'e')"))
    assert(fam.getMessage.contains("unknown index family"), fam.getMessage)
    store.overwrite("flat", Seq((1L, "x")).toDF("id", "v"))
    val flat = intercept[Exception](spark.sql(
      "CALL graft.system.build_fts('flat', 'v')"))
    assert(flat.getMessage.contains("bucket"), flat.getMessage)
  }

  test("CALL graft.system.drop_index removes EXACTLY one family's " +
    "artifacts — build's inverse: base and other families untouched, " +
    "SQL writes stop refreshing it, Doctor green, idempotent") {
    import graft.store.{Doctor, Fts, Retract, Sq}
    val (_, store) = mountCatalog()
    store.ensureBucketed("t", Seq("id"), 2)
    store.ensureGoverned(Seq("t"))
    store.upsert("t", (0 until 8).map(i => (i.toLong, s"common word$i",
      (0 until 8).map(d => math.sin(i * 8 + d)))).toDF("id", "v", "e"),
      Seq("id"))
    spark.sql("CALL graft.system.build_fts('t', 'v')")
    spark.sql("CALL graft.system.build_index('t', 'sq', 'e')")
    spark.sql("CALL graft.system.build_index('t', 'ivf', 'e', k => 2)")
    assert(Doctor.check(store) === Seq.empty)

    // drop ONE family: its whole slice goes, the others stay
    val r = spark.sql("CALL graft.system.drop_index('t', 'fts')")
      .collect().head
    assert(r.getString(1) === "fts" && r.getLong(2) > 0L)
    assert(!store.exists(Fts.indexName("t")) &&
      !store.exists(Fts.statsName("t")) &&
      !store.governed.contains(Fts.indexName("t")) &&
      !store.governed.contains(Fts.statsName("t")),
      "the fts slice must be fully gone, pointer entries included")
    assert(store.exists(Sq.codesName("t")),
      "other families must survive a single-family drop")
    assert(spark.sql("SELECT count(*) FROM graft.t")
      .collect().head.getLong(0) === 8L, "the base must be untouched")
    assert(Doctor.check(store) === Seq.empty,
      "a dropped family must leave nothing half-referenced")

    // SQL writes no longer refresh the dropped family; the survivors
    // still refresh in one epoch
    val e1 = store.snapshot().epoch
    val eight = (1 to 8).map(d => s"0.${d}D").mkString("array(", ", ", ")")
    spark.sql(s"INSERT INTO graft.t VALUES (100L, 'zebra text', $eight)")
    assert(store.snapshot().epoch === e1 + 1)
    assert(!store.exists(Fts.indexName("t")),
      "a write must not resurrect a dropped index")
    assert(store.read(Sq.codesName("t")).filter(col("pk") === 100L)
      .count() === 1L)
    val gone = intercept[Exception](
      spark.sql("CALL graft.system.search('t', 'zebra')").collect())
    assert(gone.getMessage.toLowerCase.contains("fts") ||
      gone.getMessage.toLowerCase.contains("index"), gone.getMessage)

    // idempotent: a second drop removes nothing and does not error
    assert(spark.sql("CALL graft.system.drop_index('t', 'fts')")
      .collect().head.getLong(2) === 0L)

    // dropping the remaining families leaves ZERO inventory
    spark.sql("CALL graft.system.drop_index('t', 'sq')")
    spark.sql("CALL graft.system.drop_index('t', 'ivf')")
    assert(Retract.artifactTablesOf(store, "t").isEmpty,
      "after every family drops, the DROP inventory must be empty")
    assert(Doctor.check(store) === Seq.empty)

    // refusals: unknown family, unknown table; a pinning tag refuses
    val fam = intercept[Exception](
      spark.sql("CALL graft.system.drop_index('t', 'nope')"))
    assert(fam.getMessage.contains("unknown index family"), fam.getMessage)
    val tbl = intercept[Exception](
      spark.sql("CALL graft.system.drop_index('never_was', 'fts')"))
    assert(tbl.getMessage.contains("never_was"), tbl.getMessage)
    spark.sql("CALL graft.system.build_fts('t', 'v')")
    store.tagEpoch("pin-1")
    val pinned = intercept[Exception](
      spark.sql("CALL graft.system.drop_index('t', 'fts')"))
    assert(pinned.getMessage.contains("pin-1"), pinned.getMessage)
    store.dropTag("pin-1")
    assert(spark.sql("CALL graft.system.drop_index('t', 'fts')")
      .collect().head.getLong(2) > 0L)
  }

  test("ALTER TABLE DROP COLUMN is metadata-only: current reads " +
    "project the column out with no file rewrite, old epochs keep it, " +
    "re-ADD of the name refuses (no value resurrection), Doctor green") {
    val (_, store) = mountCatalog()
    store.ensureBucketed("t", Seq("id"), 2)
    store.ensureGoverned(Seq("t"))
    store.upsert("t", Seq((1L, "a", 1.5), (2L, "b", 2.5))
      .toDF("id", "v", "score"), Seq("id"))
    val e1 = store.snapshot().epoch
    val filesBefore = store.dataFiles("t").toSet

    spark.sql("ALTER TABLE graft.t DROP COLUMN score")

    assert(store.dataFiles("t").toSet === filesBefore,
      "DROP COLUMN must not rewrite a single data file")
    assert(store.snapshot().epoch === e1, "metadata-only: no new epoch")
    assert(!spark.table("graft.t").columns.contains("score"),
      "current reads must project the dropped column out")
    assert(spark.sql("SELECT * FROM graft.t ORDER BY id")
      .columns.toSeq === Seq("id", "v"))
    // the pre-drop epoch still serves the column — its files carry it
    val old = spark.sql(s"SELECT * FROM graft.t VERSION AS OF $e1")
    assert(old.columns.contains("score"),
      "time-travel keeps each epoch's own shape")
    assert(old.filter(col("id") === 1L).select("score")
      .collect().head.getDouble(0) === 1.5)
    assert(graft.store.Doctor.check(store)
      .filter(_.component == "schema") === Seq.empty,
      "a tombstoned data column is the valid post-DROP state, not drift")

    // writes keep working against the narrowed surface
    spark.sql("INSERT INTO graft.t VALUES (3L, 'c')")
    assert(spark.sql("SELECT v FROM graft.t WHERE id = 3")
      .collect().head.getString(0) === "c")
    assert(!spark.table("graft.t").columns.contains("score"))

    // re-adding the dropped name must refuse — the old values still
    // live in the data files and would resurrect instead of null-fill
    val res = intercept[Exception](
      spark.sql("ALTER TABLE graft.t ADD COLUMN score DOUBLE"))
    assert(res.getMessage.toLowerCase.contains("resurrect"),
      res.getMessage)
    // the refusal names its escape hatch: the verbatim CTAS-rewrite
    // recipe (CREATE AS SELECT → DROP → RENAME TO) that really sheds
    // the column so the name becomes re-addable
    assert(res.getMessage.contains("CREATE TABLE") &&
      res.getMessage.contains("RENAME TO"), res.getMessage)
    // ... which also blocks MERGE WITH SCHEMA EVOLUTION from
    // resurrecting it out of a stale wide source
    Seq((9L, "m", 9.9)).toDF("id", "v", "score")
      .createOrReplaceTempView("wide_src")
    val mergeRes = intercept[Exception](spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft.t t
        |USING wide_src s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(mergeRes.getMessage.toLowerCase.contains("resurrect"),
      mergeRes.getMessage)
    // a DIFFERENT name evolves fine afterwards
    spark.sql("ALTER TABLE graft.t ADD COLUMN score2 DOUBLE")
    assert(spark.table("graft.t").columns.contains("score2"))

    // guardrails: pk and last-column drops refuse; IF EXISTS no-ops
    val pk = intercept[Exception](
      spark.sql("ALTER TABLE graft.t DROP COLUMN id"))
    assert(pk.getMessage.contains("bucket pk"), pk.getMessage)
    spark.sql("ALTER TABLE graft.t DROP COLUMN IF EXISTS never_was")
    val gone = intercept[Exception](
      spark.sql("ALTER TABLE graft.t DROP COLUMN never_was"))
    assert(gone.getMessage.toLowerCase.contains("no such column") ||
      gone.getMessage.toLowerCase.contains("cannot be resolved") ||
      gone.getMessage.toLowerCase.contains("not found"), gone.getMessage)

    // an indexed input column refuses to drop
    store.upsert("t",
      spark.sql("SELECT id, v, score2 FROM graft.t"), Seq("id"))
    graft.store.Fts.upsertWithIndexCols(store, "t",
      store.read("t").drop(store.BucketCol), "id", Seq("v"), buckets = 2)
    val idx = intercept[Exception](
      spark.sql("ALTER TABLE graft.t DROP COLUMN v"))
    assert(idx.getMessage.contains("maintained index"), idx.getMessage)

    // the recipe the refusal names actually WORKS: CTAS the surviving
    // columns, drop, rename back — the rewrite shed the values, so the
    // once-burned name re-adds and null-fills as expected
    spark.sql("CALL graft.system.drop_index('t', 'fts')") // unpin v
    spark.sql("CREATE TABLE graft.tmp_rewrite " +
      "TBLPROPERTIES('pk'='id', 'buckets'='2') AS " +
      "SELECT id, v, score2 FROM graft.t")
    spark.sql("DROP TABLE graft.t")
    spark.sql("ALTER TABLE graft.tmp_rewrite RENAME TO t")
    spark.sql("ALTER TABLE graft.t ADD COLUMN score DOUBLE")
    val refilled = spark.sql("SELECT score FROM graft.t").collect()
    assert(refilled.nonEmpty && refilled.forall(_.isNullAt(0)),
      "after the CTAS rewrite the re-added column must null-fill — " +
        "no surviving file values to resurrect")
  }

  test("multi-table appends refuses a FLAT (ungoverned) member — it " +
    "passes the known-table check but the commit-log walk would serve " +
    "zero rows for it forever") {
    val (root, store) = mountCatalog()
    store.ensureBucketed("g", Seq("id"), 2)
    store.ensureGoverned(Seq("g"))
    store.upsert("g", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    store.overwrite("flat_t", Seq((2L, "b")).toDF("id", "v"))
    val e = intercept[Exception](spark.read.format("graft-changes")
      .option("root", root).option("tables", "g,flat_t")
      .option("mode", "appends").option("fromEpoch", "0").load())
    assert(e.getMessage.contains("ungoverned"), e.getMessage)
  }

  test("a crashed rename's intent marker clears exactly when every " +
    "pending pair COMPLETES — unmoved evidence survives empty-pairs " +
    "and partial resumes, and a subset resume never deadlocks") {
    val (root, store) = mountCatalog()
    // two flat tables stand in for a crashed rename's unmoved dirs
    store.overwrite("x", Seq((1L, "a")).toDF("id", "v"))
    store.overwrite("p", Seq((2L, "b")).toDF("id", "v"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_graft_renaming"),
      "x\ty\np\tq".getBytes)
    // an empty-pairs invocation (a resume whose own moves all
    // completed before the crash) must keep the waiting evidence
    store.renameTables(Seq.empty)
    assert(store.renameIntent()
      .contains(Map("x" -> "y", "p" -> "q")),
      "empty-pairs rename must keep the pending marker")
    // a PARTIAL resume moves x; p's directory still waits — kept
    store.renameTables(Seq("x" -> "y"))
    assert(store.renameIntent().isDefined,
      "a partial resume must keep the marker for the remaining pair")
    // finishing the remainder clears it: the clearing key is
    // pending-pair COMPLETION (old name un-keyed, old dir gone), not
    // this invocation's own pair list — a catalog resume derives its
    // pairs from the still-unmoved subset, so a pair-list key would
    // strand the marker and deadlock every later rename
    store.renameTables(Seq("p" -> "q"))
    assert(store.renameIntent().isEmpty,
      "completion of all pending pairs must clear the marker")
    assert(store.read("y").count() === 1L && store.read("q").count() === 1L)
  }

  test("ALTER TABLE RENAME COLUMN is metadata-only: reads, writes, " +
    "MATCH and CDC serve the new name with no file rewrite, old " +
    "epochs time-travel the old, resurrect and identity guards hold") {
    val (root, store) = mountCatalog()
    store.ensureBucketed("rc", Seq("id"), 2)
    store.ensureGoverned(Seq("rc"))
    store.upsert("rc",
      Seq((1L, "alpha word", 10L, "x1"), (2L, "beta word", 20L, "x2"))
        .toDF("id", "v", "n", "x"), Seq("id"))
    spark.sql("CALL graft.system.build_fts('rc', 'v')")
    val e1 = store.snapshot().epoch
    val filesBefore = store.dataFiles("rc").toSet

    spark.sql("ALTER TABLE graft.rc RENAME COLUMN n TO amount")

    assert(store.dataFiles("rc").toSet === filesBefore,
      "RENAME COLUMN must not rewrite a single data file")
    assert(store.snapshot().epoch === e1, "metadata-only: no new epoch")
    assert(spark.table("graft.rc").columns.toSeq ===
      Seq("id", "v", "amount", "x"))
    assert(spark.sql("SELECT amount FROM graft.rc WHERE id = 1")
      .collect().head.getLong(0) === 10L)
    // old epochs time-travel the OLD (physical) name
    val old = spark.sql(s"SELECT * FROM graft.rc VERSION AS OF $e1")
    assert(old.columns.contains("n") && !old.columns.contains("amount"),
      "time-travel keeps each epoch's own shape")
    assert(graft.store.Doctor.check(store)
      .filter(_.component == "schema") === Seq.empty,
      "a data column under its birth name is the valid post-RENAME " +
        "state, not drift")

    // every SQL write path addresses the new name; the files keep the
    // birth name (write translation, not rewrite)
    spark.sql("INSERT INTO graft.rc VALUES (3L, 'gamma word', 30L, 'x3')")
    spark.sql("UPDATE graft.rc SET amount = 99 WHERE id = 1")
    Seq((2L, 222L), (4L, 444L)).toDF("id", "amt")
      .createOrReplaceTempView("rc_src")
    spark.sql(
      """MERGE INTO graft.rc t USING rc_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET amount = s.amt
        |WHEN NOT MATCHED THEN INSERT (id, v, amount, x)
        |  VALUES (s.id, 'merged word', s.amt, 'x4')""".stripMargin)
    assert(spark.sql("SELECT amount FROM graft.rc ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(99L, 222L, 30L, 444L))
    assert(store.read("rc").columns.contains("n") &&
      !store.read("rc").columns.contains("amount"),
      "the store's files must keep the physical (birth) name")

    // MATCH keeps serving (index provenance columns cannot be renamed)
    assert(spark.sql("SELECT pk FROM graft_fts('rc', 'word')")
      .count() === 4L)

    // CDC serves the surface name — including rows written pre-rename
    val cdc = spark.read.format("graft-changes")
      .option("root", root).option("table", "rc").option("pk", "id")
      .option("fromEpoch", e1.toString).load()
    assert(cdc.columns.contains("amount") && !cdc.columns.contains("n"))
    assert(cdc.filter(col("id") === 4L).select("amount")
      .collect().map(_.getLong(0)).toSeq === Seq(444L))

    // chained rename composes; renaming back to the birth name clears
    // the map entry (the values were live throughout)
    spark.sql("ALTER TABLE graft.rc RENAME COLUMN amount TO total")
    assert(spark.sql("SELECT total FROM graft.rc WHERE id = 2")
      .collect().head.getLong(0) === 222L)
    spark.sql("ALTER TABLE graft.rc RENAME COLUMN total TO n")
    assert(store.renamedColumnsOf("rc") === Seq.empty,
      "renaming back to the birth name must clear the map entry")
    assert(spark.sql("SELECT n FROM graft.rc WHERE id = 2")
      .collect().head.getLong(0) === 222L)
    spark.sql("ALTER TABLE graft.rc RENAME COLUMN n TO amount")

    // identity guards: pk/bucket and index-provenance inputs refuse
    val pk = intercept[Exception](
      spark.sql("ALTER TABLE graft.rc RENAME COLUMN id TO key"))
    assert(pk.getMessage.contains("bucket pk"), pk.getMessage)
    val idx = intercept[Exception](
      spark.sql("ALTER TABLE graft.rc RENAME COLUMN v TO text"))
    assert(idx.getMessage.contains("maintained index"), idx.getMessage)

    // target-name guards: a live surface name, the physical name of a
    // renamed column (both as ADD and as rename target), and a
    // DROPPED name all refuse
    val live = intercept[Exception](
      spark.sql("ALTER TABLE graft.rc RENAME COLUMN x TO amount"))
    assert(live.getMessage.contains("already exists"), live.getMessage)
    val phys = intercept[Exception](
      spark.sql("ALTER TABLE graft.rc ADD COLUMN n STRING"))
    assert(phys.getMessage.toLowerCase.contains("physical"), phys.getMessage)
    val phys2 = intercept[Exception](
      spark.sql("ALTER TABLE graft.rc RENAME COLUMN x TO n"))
    assert(phys2.getMessage.toLowerCase.contains("physical"), phys2.getMessage)
    spark.sql("ALTER TABLE graft.rc DROP COLUMN x")
    val dropTgt = intercept[Exception](
      spark.sql("ALTER TABLE graft.rc RENAME COLUMN amount TO x"))
    assert(dropTgt.getMessage.contains("DROPPED"), dropTgt.getMessage)

    // dropping a RENAMED column tombstones its PHYSICAL name: the
    // never-file-carried surface name re-adds and null-fills, the
    // physical name stays refused (its values survive in the files)
    spark.sql("ALTER TABLE graft.rc DROP COLUMN amount")
    assert(store.droppedColumnsOf("rc").contains("n"),
      "the tombstone must record the physical name the files carry")
    spark.sql("ALTER TABLE graft.rc ADD COLUMN amount BIGINT")
    val aNull = spark.sql("SELECT amount FROM graft.rc").collect()
    assert(aNull.nonEmpty && aNull.forall(_.isNullAt(0)),
      "the re-added surface name never hit the files — it must null-fill")
    val res = intercept[Exception](
      spark.sql("ALTER TABLE graft.rc ADD COLUMN n BIGINT"))
    assert(res.getMessage.toLowerCase.contains("resurrect"), res.getMessage)

    assert(graft.store.Doctor.check(store) === Seq.empty, "Doctor green")
  }

  test("RENAME COLUMN to a case-variant of the birth name keeps the " +
    "map entry (reads serve the declared casing, never a null-fill " +
    "over the live column); CDC metadata names are reserved; CDC " +
    "projects DROPPED tombstones out") {
    val (root, store) = mountCatalog()
    store.ensureBucketed("cv", Seq("id"), 2)
    store.ensureGoverned(Seq("cv"))
    store.upsert("cv", Seq((1L, 7L, "x")).toDF("id", "n", "aux"), Seq("id"))
    val e1 = store.snapshot().epoch
    spark.sql("ALTER TABLE graft.cv RENAME COLUMN n TO amount")
    spark.sql("ALTER TABLE graft.cv RENAME COLUMN amount TO N")
    assert(store.renamedColumnsOf("cv") === Seq("n" -> "N"),
      "a case-variant of the birth name is not an identity — the map " +
        "entry must stay so reads serve the declared casing")
    assert(spark.sql("SELECT N FROM graft.cv").collect()
      .head.getLong(0) === 7L,
      "the value must serve — a null-fill would replace the live column")
    // back to the EXACT birth name clears the entry. Spark's own
    // analyzer refuses the SQL form of a case-variant re-rename
    // (case-insensitive FIELD_ALREADY_EXISTS), so the re-casing entry
    // point is the catalog API — where the live-name guard exempts
    // the column itself
    import org.apache.spark.sql.connector.catalog.{Identifier => Id, TableCatalog, TableChange}
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[TableCatalog]
    cat.alterTable(Id.of(Array.empty[String], "cv"),
      TableChange.renameColumn(Array("N"), "n"))
    assert(store.renamedColumnsOf("cv") === Seq.empty)
    // the CDC metadata names are reserved targets for RENAME and ADD
    val r = intercept[Exception](
      spark.sql("ALTER TABLE graft.cv RENAME COLUMN n TO _change_type"))
    assert(r.getMessage.contains("reserved"), r.getMessage)
    val a = intercept[Exception](
      spark.sql("ALTER TABLE graft.cv ADD COLUMN _table STRING"))
    assert(a.getMessage.contains("reserved"), a.getMessage)
    // a DROPPED column leaves the CDC feed like it leaves SELECT —
    // the files keep it, the surface (batch reader shown; the stream
    // resolves through the same schema path) must not
    spark.sql("ALTER TABLE graft.cv DROP COLUMN aux")
    val cdc = spark.read.format("graft-changes")
      .option("root", root).option("table", "cv").option("pk", "id")
      .option("fromEpoch", e1.toString).load()
    assert(!cdc.columns.contains("aux"),
      s"tombstoned columns must project out of CDC (got ${cdc.columns.toSeq})")
    assert(cdc.columns.contains("n"))
  }

  test("RENAME COLUMN on a FLAT table: reads, UPDATE's whole-rewrite " +
    "and DELETE WHERE translate through the name map; the marker " +
    "survives the swap") {
    val (_, store) = mountCatalog()
    spark.sql("CREATE TABLE graft.fl (id BIGINT, v STRING)") // no pk: flat
    spark.sql("INSERT INTO graft.fl VALUES (1L, 'a'), (2L, 'b'), (3L, 'c')")
    spark.sql("ALTER TABLE graft.fl RENAME COLUMN v TO label")
    assert(spark.sql("SELECT label FROM graft.fl ORDER BY id")
      .collect().map(_.getString(0)).toSeq === Seq("a", "b", "c"))
    // UPDATE takes the flat whole-table rewrite; the swap must carry
    // the name map and the files must keep the physical name
    spark.sql("UPDATE graft.fl SET label = 'bb' WHERE id = 2")
    assert(spark.sql("SELECT label FROM graft.fl WHERE id = 2")
      .collect().head.getString(0) === "bb")
    assert(store.read("fl").columns.contains("v") &&
      !store.read("fl").columns.contains("label"),
      "the swapped files must keep the physical name — marker carried")
    // DELETE WHERE over the renamed column translates to the physical
    // frame the store's predicate rewrite runs against
    spark.sql("DELETE FROM graft.fl WHERE label = 'a'")
    assert(spark.sql("SELECT id FROM graft.fl ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(2L, 3L))
  }

  test("build_fts resolves SURFACE column names through the rename " +
    "map; the built index then pins the physical name against renames") {
    val (_, store) = mountCatalog()
    store.ensureBucketed("bt", Seq("id"), 2)
    store.ensureGoverned(Seq("bt"))
    store.upsert("bt", Seq((1L, "hello world"), (2L, "bye world"))
      .toDF("id", "txt"), Seq("id"))
    spark.sql("ALTER TABLE graft.bt RENAME COLUMN txt TO body")
    spark.sql("CALL graft.system.build_fts('bt', 'body')")
    assert(spark.sql("SELECT pk FROM graft_fts('bt', 'world')")
      .count() === 2L,
      "a build addressed by the surface name must index the physical column")
    // provenance recorded the physical name — further renames refuse
    val r = intercept[Exception](
      spark.sql("ALTER TABLE graft.bt RENAME COLUMN body TO content"))
    assert(r.getMessage.contains("maintained index"), r.getMessage)
  }

  test("RENAME TABLE carries the whole index inventory: queries, " +
    "MATCH, CDC and maintenance serve under the new name, the old " +
    "name is NoSuchTable, $history starts fresh, pins refuse") {
    import graft.store.{Doctor, EpochFollower, Fts, Sq}
    val (root, store) = mountCatalog()
    store.ensureBucketed("docs", Seq("id"), 2)
    store.ensureGoverned(Seq("docs"))
    store.upsert("docs", (0 until 8).map(i => (i.toLong, s"common word$i",
      (0 until 8).map(d => math.sin(i * 8 + d)))).toDF("id", "v", "e"),
      Seq("id"))
    spark.sql("CALL graft.system.build_fts('docs', 'v')")
    spark.sql("CALL graft.system.build_index('docs', 'sq', 'e')")
    assert(Doctor.check(store) === Seq.empty)

    // pins refuse, exactly like DROP
    store.tagEpoch("rel-1")
    val pinned = intercept[Exception](
      spark.sql("ALTER TABLE graft.docs RENAME TO corpus"))
    assert(pinned.getMessage.contains("rel-1"), pinned.getMessage)
    store.dropTag("rel-1")
    EpochFollower.consumeChanges(store, "docs", "mirror", Seq("id"))(_ => ())
    val cursored = intercept[Exception](
      spark.sql("ALTER TABLE graft.docs RENAME TO corpus"))
    assert(cursored.getMessage.contains("mirror"), cursored.getMessage)
    EpochFollower.drop(store, "docs", "mirror")

    val preRename = store.snapshot().epoch
    spark.sql("ALTER TABLE graft.docs RENAME TO corpus")

    // the full inventory moved: no docs-prefixed table remains, the
    // corpus-prefixed twins exist, nothing is orphaned
    assert(!store.tableNames.exists(_.startsWith("docs")),
      store.tableNames.mkString(","))
    assert(store.tableNames.contains(Fts.indexName("corpus")) &&
      store.tableNames.contains(Sq.codesName("corpus")))
    assert(Doctor.check(store) === Seq.empty,
      "_meta provenance must re-point at the new base name")

    // served under the new name — query, MATCH, maintenance, CDC
    assert(spark.sql("SELECT count(*) FROM graft.corpus")
      .collect().head.getLong(0) === 8L)
    assert(spark.sql("CALL graft.system.search('corpus', 'word3')")
      .collect().map(_.getString(0)).toSeq === Seq("3"))
    val e1 = store.snapshot().epoch
    val eight = (1 to 8).map(d => s"0.${d}D").mkString("array(", ", ", ")")
    spark.sql(s"INSERT INTO graft.corpus VALUES (100L, 'zebra row', $eight)")
    assert(store.snapshot().epoch === e1 + 1,
      "maintained writes stay one-epoch-atomic after the rename")
    assert(spark.sql("CALL graft.system.search('corpus', 'zebra')")
      .collect().map(_.getString(0)).toSeq === Seq("100"))
    val feed = spark.read.format("graft-changes")
      .option("root", root).option("table", "corpus").option("pk", "id")
      .option("fromEpoch", e1.toString).load()
    assert(feed.filter(col("id") === 100L).count() === 1L,
      "CDC serves under the new name")

    // the old name is gone; $history starts fresh at the rename
    val gone = intercept[Exception](
      spark.sql("SELECT * FROM graft.docs").collect())
    assert(gone.getMessage.toLowerCase.contains("not") ||
      gone.getMessage.toLowerCase.contains("found"), gone.getMessage)
    val hist = spark.sql("SELECT epoch FROM graft.`corpus$history`")
      .collect().map(_.getLong(0))
    assert(hist.min > preRename,
      s"the new name's history starts at the rename commit: $hist")
    // pre-rename epochs fail loudly under the new name (the
    // incarnation rule — retained pointers keep the old name)
    intercept[Exception](spark.sql(
      s"SELECT * FROM graft.corpus VERSION AS OF $preRename").collect())

    // target-name collision refuses
    store.overwrite("taken", Seq((1L, "x")).toDF("id", "v"))
    val dup = intercept[Exception](
      spark.sql("ALTER TABLE graft.corpus RENAME TO taken"))
    assert(dup.getMessage.toLowerCase.contains("already exists"),
      dup.getMessage)
  }

  test("RENAME resumes after a crash mid-directory-moves; " +
    "governed-but-dirless names collide for RENAME and CREATE") {
    import graft.store.{Doctor, Sq}
    val (root, store) = mountCatalog()
    store.ensureBucketed("docs", Seq("id"), 2)
    store.ensureGoverned(Seq("docs"))
    store.upsert("docs", (0 until 6).map(i => (i.toLong, s"w$i",
      (0 until 8).map(d => math.sin(i * 8 + d)))).toDF("id", "v", "e"),
      Seq("id"))
    spark.sql("CALL graft.system.build_index('docs', 'sq', 'e')")
    spark.sql("ALTER TABLE graft.docs RENAME TO corpus")
    assert(Doctor.check(store) === Seq.empty)

    // simulate the crash state a death mid-moves leaves: the pointer
    // serves the new names but one artifact dir is still old-named
    val fsDir = new java.io.File(root)
    assert(new java.io.File(fsDir, Sq.codesName("corpus"))
      .renameTo(new java.io.File(fsDir, Sq.codesName("docs"))))
    // governed reads of the moved-back artifact now fail ("no files");
    // RE-RUNNING the same rename through the catalog completes the
    // move (Spark's OWN analyzer pre-validates the old name for the
    // SQL form, so the resume entry is the catalog/library API)
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[TableCatalog]
    def ident(n: String) = Identifier.of(Array.empty[String], n)
    cat.renameTable(ident("docs"), ident("corpus"))
    assert(store.tableNames.contains(Sq.codesName("corpus")) &&
      !store.tableNames.contains(Sq.codesName("docs")))
    assert(Doctor.check(store) === Seq.empty, "resume must finish clean")
    // with nothing left to resume, the old name is a genuine unknown
    intercept[Exception](cat.renameTable(ident("docs"), ident("corpus")))

    // DEEPER crash state: base AND an artifact still old-named (the
    // base moves LAST, so every real crash keeps it while any
    // artifact is unmoved). heal_orphans must prove NOTHING here —
    // the base dir's presence defeats every orphan proof — and the
    // resume completes both moves.
    assert(new java.io.File(fsDir, "corpus")
      .renameTo(new java.io.File(fsDir, "docs")))
    assert(new java.io.File(fsDir, Sq.codesName("corpus"))
      .renameTo(new java.io.File(fsDir, Sq.codesName("docs"))))
    assert(spark.sql("CALL graft.system.heal_orphans()").collect().isEmpty,
      "heal_orphans must never eat a crashed rename's unmoved dirs")
    cat.renameTable(ident("docs"), ident("corpus"))
    assert(Doctor.check(store) === Seq.empty)

    // STALE-META state (crash between the moves and the re-point):
    // provenance naming the dead old base under a NEW-named artifact
    // is not an orphan proof (name disagreement) — and the resume's
    // staleMeta evidence completes the re-point
    val m0 = graft.store.IvfDrift.trainingMeta(store, Sq.codesName("corpus")).get
    graft.store.IvfDrift.recordTraining(store, Sq.codesName("corpus"),
      m0.updated("table", "docs"))
    assert(spark.sql("CALL graft.system.heal_orphans()").collect().isEmpty,
      "stale mid-rename provenance must never heal as an orphan")
    cat.renameTable(ident("docs"), ident("corpus"))
    assert(graft.store.IvfDrift.trainingMeta(store, Sq.codesName("corpus"))
      .exists(_.get("table").contains("corpus")))
    assert(Doctor.check(store) === Seq.empty)

    // a TYPO'd rename of a dead base onto a live table must NOT graft
    // the dead base's orphan artifacts onto it
    store.upsert("x", (0 until 4).map(i => (i.toLong, s"t$i"))
      .toDF("id", "v"), Seq("id"))
    graft.store.Fts.upsertWithIndexCols(store, "x",
      store.read("x"), "id", Seq("v"))
    store.drop("x") // library-side drop: orphans remain
    intercept[Exception](cat.renameTable(ident("x"), ident("corpus")))
    assert(store.tableNames.contains(graft.store.Fts.indexName("x")),
      "an orphan set is not evidence of a rename — nothing may move")

    // governed-but-DIRLESS names collide: CREATE refuses, RENAME refuses
    store.ensureGoverned(Seq("phantom"))
    val c = intercept[Exception](spark.sql(
      "CREATE TABLE graft.phantom (id BIGINT) TBLPROPERTIES('pk'='id')"))
    assert(c.getMessage.toLowerCase.contains("already exists"), c.getMessage)
    val r = intercept[Exception](
      spark.sql("ALTER TABLE graft.corpus RENAME TO phantom"))
    assert(r.getMessage.toLowerCase.contains("already"), r.getMessage)
  }

  test("RENAME of a live FLAT table onto a governed-but-dirless name " +
    "refuses — directory shapes identical to a mid-move crash must " +
    "not graft foreign data onto the governed name") {
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    val (root, store) = mountCatalog()
    // a live FLAT (never governed) table…
    store.overwrite("flat", Seq((1L, "mine")).toDF("id", "v"))
    // …and a governed name with no directory yet (SQL CREATE before
    // any insert) — the exact state the resume heuristic `(oldDir &&
    // !newDir)` used to mistake for a crashed rename
    spark.sql("CREATE TABLE graft.dirless (id BIGINT, v STRING) " +
      "TBLPROPERTIES('pk'='id')")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[TableCatalog]
    def ident(n: String) = Identifier.of(Array.empty[String], n)
    val e = intercept[Exception](
      cat.renameTable(ident("flat"), ident("dirless")))
    assert(e.getMessage.toLowerCase.contains("already"), e.getMessage)
    assert(new java.io.File(root, "flat").exists(),
      "the flat table's directory must not move")
    assert(store.read("flat").count() === 1L)
    // the governed name still serves its own (empty, declared) surface
    assert(spark.sql("SELECT * FROM graft.dirless").collect().isEmpty)
  }

  test("RENAME crash-resume keys on the intent marker: a no-artifact " +
    "table's mid-move crash resumes (no directory heuristic needed), " +
    "and a DIFFERENT rename refuses while one is pending") {
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    val (root, store) = mountCatalog()
    store.ensureGoverned(Seq("plain", "other"))
    store.upsert("plain", Seq((1L, "p")).toDF("id", "v"), Seq("id"))
    store.upsert("other", Seq((2L, "o")).toDF("id", "v"), Seq("id"))
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[TableCatalog]
    def ident(n: String) = Identifier.of(Array.empty[String], n)
    cat.renameTable(ident("plain"), ident("moved"))
    assert(store.renameIntent().isEmpty,
      "a completed rename must clear its intent marker")
    // simulate the crash state: pointer serves the new name, base dir
    // still old-named, intent marker present (every real crash inside
    // renameTables leaves it — it is written before the pointer flip
    // and deleted after the last move)
    val fsDir = new java.io.File(root)
    assert(new java.io.File(fsDir, "moved")
      .renameTo(new java.io.File(fsDir, "plain")))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_graft_renaming"),
      "plain\tmoved".getBytes("UTF-8"))
    // a DIFFERENT rename refuses while this one is pending
    val busy = intercept[Exception](
      cat.renameTable(ident("other"), ident("elsewhere")))
    assert(busy.getMessage.contains("plain -> moved"), busy.getMessage)
    // re-running the crashed rename completes it and clears the marker
    cat.renameTable(ident("plain"), ident("moved"))
    assert(store.renameIntent().isEmpty)
    assert(store.read("moved").count() === 1L)
    assert(!new java.io.File(fsDir, "plain").exists())
    // the blocked rename now proceeds
    cat.renameTable(ident("other"), ident("elsewhere"))
    assert(store.read("elsewhere").count() === 1L)
  }

  test("graft_fts table function: MATCH is a COMPOSABLE SQL relation — " +
    "semi-join + facet in one statement, rank-preserving join, full " +
    "grammar; literal-argument and unmounted-catalog misuse is loud") {
    val (_, store) = mountCatalog()
    store.ensureBucketed("docs", Seq("id"), 2)
    store.ensureGoverned(Seq("docs"))
    // evens carry BOTH terms; lang splits them 3 en / 2 fr
    store.upsert("docs", (0 until 10).map(i => (i.toLong,
      if (i < 5) "en" else "fr",
      if (i % 2 == 0) s"spark vector doc$i" else s"spark only doc$i"))
      .toDF("id", "lang", "v"), Seq("id"))
    spark.sql("CALL graft.system.build_fts('docs', 'v')")

    // MATCH-in-subquery semi-join + facet, entirely through spark.sql
    val facet = spark.sql(
      """SELECT d.lang, count(*) AS n
        |FROM graft.docs d
        |WHERE d.id IN (SELECT pk FROM graft_fts('docs', 'spark AND vector'))
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(facet === Seq(("en", 3L), ("fr", 2L)), s"got $facet")

    // the full MATCH grammar is served (NOT / phrase forms)
    assert(spark.sql(
      "SELECT pk FROM graft_fts('docs', 'spark NOT vector')")
      .collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 3L, 5L, 7L, 9L))
    assert(spark.sql(
      "SELECT pk FROM graft_fts('docs', '\"spark vector\"')")
      .count() === 5L)

    // rank-preserving join: BM25 scores ride into the outer statement
    val ranked = spark.sql(
      """SELECT d.id, m.score
        |FROM graft_fts_ranked('docs', 'doc3') m
        |JOIN graft.docs d ON d.id = m.pk""".stripMargin).collect()
    assert(ranked.map(_.getLong(0)).toSeq === Seq(3L))
    assert(ranked.head.getDouble(1) > 0.0, "BM25 score must be served")

    // the 3-argument form names another mounted catalog explicitly
    assert(spark.sql(
      "SELECT pk FROM graft_fts('graft', 'docs', 'vector')")
      .count() === 5L)

    // misuse is loud: non-literal query, unmounted catalog
    val lit = intercept[Exception](spark.sql(
      "SELECT pk FROM graft_fts('docs', concat('sp', rand()))").collect())
    assert(lit.getMessage.contains("literal"), lit.getMessage)
    val cat = intercept[Exception](spark.sql(
      "SELECT pk FROM graft_fts('no_such_cat', 'docs', 'x')").collect())
    assert(cat.getMessage.contains("no_such_cat"), cat.getMessage)
  }

  test("a stats-only FTS index stays LOUD when rows bypass " +
    "maintenance: silent zero-matches only while the base is empty too") {
    val (_, store) = mountCatalog()
    spark.sql(
      "CREATE TABLE graft.d (id BIGINT, v STRING) " +
        "TBLPROPERTIES('pk'='id', 'buckets'='2', 'fts'='v')")
    // empty base + stats-only index: MATCH answers empty, no error
    assert(spark.sql("CALL graft.system.search('d', 'x')")
      .collect().isEmpty)
    // rows land through the LIBRARY (bypassing IndexMaintain): the
    // postings are now genuinely missing for live rows — a MATCH must
    // fail loudly, never silently report zero matches
    store.upsert("d", Seq((1L, "zebra text")).toDF("id", "v"), Seq("id"))
    intercept[Exception](
      spark.sql("CALL graft.system.search('d', 'zebra')").collect())
  }

  test("unsupported DDL fails loudly; unknown table is NoSuchTable") {
    val (_, store) = mountCatalog()
    store.ensureGoverned(Seq("t"))
    store.upsert("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    val e = intercept[Exception](
      spark.sql("ALTER TABLE graft.t SET TBLPROPERTIES('x'='y')"))
    assert(e.getMessage.toLowerCase.contains("support") ||
      e.getMessage.toLowerCase.contains("library"), e.getMessage)
    // ADD/DROP/RENAME COLUMN are supported (see the evolution tests);
    // everything else on ALTER still refuses with the library pointer
    val alter = intercept[Exception](
      spark.sql("ALTER TABLE graft.t ALTER COLUMN v TYPE INT"))
    assert(alter.getMessage.toLowerCase.contains("library") ||
      alter.getMessage.toLowerCase.contains("support"), alter.getMessage)
    val missing = intercept[Exception](
      spark.sql("SELECT * FROM graft.never_was").collect())
    assert(missing.getMessage.toLowerCase.contains("table") ||
      missing.getMessage.toLowerCase.contains("not found"))
  }
}
