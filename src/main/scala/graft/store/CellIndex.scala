package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maintenance of the IVF coarse quantizer's cell-partitioned per-pk
  * tables ([[VectorIndex.Coarse.Ivf]]): merge a freshly-assigned
  * batch into `idxTable` (Hive-partitioned by `cell`) and its
  * pk → cell `mapTable` using dynamic partition overwrite — only the
  * cells the batch enters, plus the OLD cells of re-upserted pks
  * (looked up in the map, so finding them is O(batch) not O(index)),
  * are rewritten; cells whose merged content would be empty are
  * dropped explicitly (dynamic overwrite never visits them).
  *
  * `fresh` must carry `pk`, `cell` (long) and whatever payload the
  * index stores; assignment must be deterministic so affected-cell
  * lists stay bounded by the batch.
  */
private[store] object CellIndex {

  private val CellCol = "cell"

  def maintain(
      store: TableStore, idxTable: String, mapTable: String,
      fresh0: DataFrame): Unit = {
    // cells inherit the pk column's type (cent_ids are seeded from
    // pks) — normalize to long up front so the driver-side collects
    // below never ClassCastException on an int-pk table
    val fresh = fresh0.withColumn(CellCol, col(CellCol).cast("long"))
    val batchPks = fresh.select(col("pk")).distinct()

    val newCells = fresh.select(col(CellCol)).distinct()
      .collect().map(_.getLong(0)).toSet
    val oldCells = store.readIfExists(mapTable) match {
      case Some(m) => m.join(batchPks, Seq("pk"), "left_semi")
        .select(col(CellCol)).distinct().collect().map(_.getLong(0)).toSet
      case None => Set.empty[Long]
    }
    val affected = (newCells ++ oldCells).toSeq

    store.readIfExists(idxTable) match {
      case Some(idx0) =>
        // partition-column type inference reads `cell=N` dirs as int;
        // normalize to long so unions and collects stay type-stable
        val idx = idx0.withColumn(CellCol, col(CellCol).cast("long"))
        val merged = Iteration.materialize(
          idx.filter(col(CellCol).isin(affected: _*))
            .join(batchPks, Seq("pk"), "left_anti")
            .unionByName(fresh)
            .repartition(col(CellCol)))
        store.overwritePartitions(idxTable, merged, Seq(CellCol))
        val stillThere = merged.select(col(CellCol)).distinct()
          .collect().map(_.getLong(0)).toSet
        affected.filterNot(stillThere).foreach(c =>
          store.dropPartition(idxTable, CellCol, c.toString))
      case None =>
        // never create the index as a ZERO-ROW partitioned dir — a
        // partitioned parquet layout with no part files fails schema
        // inference on the next read (same guard as
        // Trigram.upsertWithIndex); reachable when the index table was
        // dropped and the next upsert batch is empty
        if (!fresh.isEmpty)
          store.overwrite(idxTable,
            fresh.repartition(col(CellCol)), partitionBy = Seq(CellCol))
    }
    store.upsert(mapTable, fresh.select(col("pk"), col(CellCol)), Seq("pk"))
  }
}
