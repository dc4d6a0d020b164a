package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maintenance of the IVF coarse quantizer's cell-partitioned per-pk
  * tables ([[VectorIndex.Coarse.Ivf]]): merge a freshly-assigned
  * batch into `idxTable` (Hive-partitioned by `cell`) and its
  * pk → cell `mapTable`. The touched set is the cells the batch
  * enters plus the OLD cells of re-upserted pks (looked up in the
  * map, so finding them is O(batch) not O(index));
  * [[TableStore.rewritePartitions]] rewrites exactly those.
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
      case Some(_) =>
        store.rewritePartitions(idxTable, CellCol, affected)(
          // partition-column type inference reads `cell=N` dirs as
          // int; normalize to long so unions stay type-stable
          _.withColumn(CellCol, col(CellCol).cast("long"))
            .join(batchPks, Seq("pk"), "left_anti")
            .unionByName(fresh)
            .repartition(col(CellCol)))
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
