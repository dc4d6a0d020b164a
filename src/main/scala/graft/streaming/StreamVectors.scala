package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.Row

import graft.store.{TableStore, VectorIndex}

/** Streaming maintenance of the persisted vector indexes — the
  * embedding-side analog of [[StreamFts]]: as vectors stream in, any
  * [[VectorIndex]] family stays queryable without ever re-encoding or
  * re-assigning the corpus.
  *
  * Each micro-batch runs the SAME store maintenance the batch path
  * uses ([[VectorIndex.upsert]]): encode or assign the batch against
  * the PERSISTED books/scales/centroids (O(batch)), replace by pk.
  * Training stays a batch-time concern — a stream never retrains
  * codebooks, scales or centroids mid-flight (that would silently
  * re-interpret every previously stored code); production retrains
  * offline and rebuilds via `buildIndex`. Every family but the
  * training-free flat sign-bit one therefore needs its `buildIndex`
  * first; that one can cold-start.
  *
  * Exactly-once composition: checkpointed source offsets + idempotent
  * by-pk replacement, the same contract as StreamNormalize/StreamFts.
  */
object StreamVectors {

  /** foreachBatch handler maintaining `index` on `table`. */
  def sink(
      index: VectorIndex, store: TableStore, table: String, pkCol: String,
      embCol: String): (DataFrame, Long) => Unit =
    (batch, _) =>
      if (!batch.isEmpty) index.upsert(store, table, batch, pkCol, embCol)

  /** Wire a streaming (pk, embedding, …) frame into [[sink]]. */
  def writeIndexed(
      vectors: DataFrame, index: VectorIndex, store: TableStore,
      table: String, pkCol: String, embCol: String,
      checkpointDir: String): StreamingQuery = {
    val writer: DataStreamWriter[Row] = vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
    val handler = sink(index, store, table, pkCol, embCol)
    writer.foreachBatch { (batch: DataFrame, id: Long) =>
      handler(batch, id)
    }.start()
  }

  private def pq(slices: Int, subDim: Int) =
    VectorIndex.pq.tuned("slices" -> slices, "subDim" -> subDim)
  private def ivfPq(slices: Int, subDim: Int) =
    VectorIndex.ivfpq.tuned("slices" -> slices, "subDim" -> subDim)

  def sqSink(store: TableStore, table: String, pkCol: String,
      embCol: String): (DataFrame, Long) => Unit =
    sink(VectorIndex.sq, store, table, pkCol, embCol)

  // one writer per family
  def writePqIndexed(vectors: DataFrame, store: TableStore, table: String,
      pkCol: String, embCol: String, checkpointDir: String,
      slices: Int = 8, subDim: Int = 8): StreamingQuery =
    writeIndexed(vectors, pq(slices, subDim), store, table, pkCol, embCol,
      checkpointDir)
  def writeIvfPqIndexed(vectors: DataFrame, store: TableStore, table: String,
      pkCol: String, embCol: String, checkpointDir: String,
      slices: Int = 8, subDim: Int = 8): StreamingQuery =
    writeIndexed(vectors, ivfPq(slices, subDim), store, table, pkCol, embCol,
      checkpointDir)
  def writeSqIndexed(vectors: DataFrame, store: TableStore, table: String,
      pkCol: String, embCol: String, checkpointDir: String): StreamingQuery =
    writeIndexed(vectors, VectorIndex.sq, store, table, pkCol, embCol,
      checkpointDir)
  def writeBinIndexed(vectors: DataFrame, store: TableStore, table: String,
      pkCol: String, embCol: String, checkpointDir: String): StreamingQuery =
    writeIndexed(vectors, VectorIndex.bin, store, table, pkCol, embCol,
      checkpointDir)
  def writeIvfIndexed(vectors: DataFrame, store: TableStore, table: String,
      pkCol: String, embCol: String, checkpointDir: String): StreamingQuery =
    writeIndexed(vectors, VectorIndex.ivf, store, table, pkCol, embCol,
      checkpointDir)
  def writeIvfSqIndexed(vectors: DataFrame, store: TableStore, table: String,
      pkCol: String, embCol: String, checkpointDir: String): StreamingQuery =
    writeIndexed(vectors, VectorIndex.ivfsq, store, table, pkCol, embCol,
      checkpointDir)
  def writeIvfBinIndexed(vectors: DataFrame, store: TableStore, table: String,
      pkCol: String, embCol: String, checkpointDir: String): StreamingQuery =
    writeIndexed(vectors, VectorIndex.ivfbin, store, table, pkCol, embCol,
      checkpointDir)
}
