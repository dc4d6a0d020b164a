package graft.sql

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.store.{Bin, Doctor, Ivf, IvfBin, IvfPq, IvfSq, Pq, Retract, Sq, TableStore}

/** The SQL lifecycle of every vector-index family on ONE tiny bucketed
  * governed table: `build_index` each family, one `UPDATE` that
  * refreshes all of them in a single epoch, a doctor-green store, and
  * `drop_index` removing exactly one family's artifacts at a time
  * until the DROP inventory is empty.
  */
class VectorFamilySweepSpec extends SparkSpec {
  import spark.implicits._

  private val dims = 8

  /** (family name, its per-pk primary table on `t`). */
  private val families = Seq(
    "sq" -> Sq.codesName("t"), "pq" -> Pq.codesName("t"),
    "bin" -> Bin.codesName("t"), "ivf" -> Ivf.indexName("t"),
    "ivfpq" -> IvfPq.codesName("t"), "ivfsq" -> IvfSq.codesName("t"),
    "ivfbin" -> IvfBin.codesName("t"))

  private def mountCatalog(): TableStore = {
    val root = java.nio.file.Files.createTempDirectory("graft-vsweep").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", root)
    new TableStore(spark, root)
  }

  test("build_index × 7 families, one UPDATE refreshes all in one epoch, " +
    "doctor green, drop_index removes exactly one family at a time") {
    val store = mountCatalog()
    store.ensureBucketed("t", Seq("id"), 2)
    store.ensureGoverned(Seq("t"))
    store.upsert("t", (0 until 40).map(i => (i.toLong, s"doc $i",
      (0 until dims).map(d => math.sin(i * dims + d)))).toDF("id", "v", "e"),
      Seq("id"))

    families.foreach { case (fam, primary) =>
      val k = if (fam.startsWith("ivf")) ", k => 4" else ""
      val r = spark.sql(
        s"CALL graft.system.build_index('t', '$fam', 'e'$k)").collect().head
      assert(r.getString(1) === fam && r.getLong(2) === 40L)
      assert(store.exists(primary), s"$fam built no $primary")
      assert(store.read(primary).count() === 40L, s"$fam covers every row")
    }
    assert(Doctor.check(store) === Seq.empty)

    // one UPDATE: base rows and all seven indexes land in ONE epoch
    val e0 = store.snapshot().epoch
    spark.sql("UPDATE graft.t SET e = transform(e, x -> -x) WHERE id < 5")
    val e1 = store.snapshot().epoch
    assert(e1 === e0 + 1, "the UPDATE must commit as exactly one epoch")
    ("t" +: families.map(_._2)).foreach { name =>
      assert(store.tableHistory(name).last._1 === e1,
        s"$name was not rewritten by the UPDATE's epoch")
    }
    val negated = (0 until dims).map(d => -math.sin(3 * dims + d))
    assert(store.read(Ivf.indexName("t")).filter(col("pk") === 3L)
      .select(col("e")).head.getSeq[Double](0) === negated,
      "the raw IVF rows must carry the updated vector")
    val expectBits = Bin.encode(Seq((3L, negated)).toDF("id", "e"), "id", "e")
      .head.getAs[Array[Byte]]("bits").toSeq
    assert(store.read(Bin.codesName("t")).filter(col("pk") === 3L)
      .head.getAs[Array[Byte]]("bits").toSeq === expectBits,
      "the sign blobs must encode the updated vector")
    assert(Doctor.check(store) === Seq.empty)

    // drop_index: each call removes exactly that family's slice
    families.foreach { case (fam, primary) =>
      val before = Retract.artifactTablesOf(store, "t").toSet
      val slice = Retract.familyArtifacts(store, "t", fam).toSet
      assert(slice.contains(primary), s"$fam slice misses $primary: $slice")
      val r = spark.sql(s"CALL graft.system.drop_index('t', '$fam')")
        .collect().head
      assert(r.getLong(2) === slice.size.toLong)
      assert(Retract.artifactTablesOf(store, "t").toSet === before -- slice,
        s"drop_index('$fam') must remove exactly its own artifacts")
      assert(slice.forall(a => !store.exists(a) && !store.governed(a)),
        s"$fam artifacts survived their drop: $slice")
      families.filterNot(_._1 == fam).map(_._2).filter(before).foreach { p =>
        assert(store.exists(p), s"drop_index('$fam') took $p")
      }
      assert(Doctor.check(store) === Seq.empty, s"after dropping $fam")
    }
    assert(Retract.artifactTablesOf(store, "t").isEmpty)
    assert(spark.sql("SELECT count(*) FROM graft.t").head.getLong(0) === 40L)
  }
}
