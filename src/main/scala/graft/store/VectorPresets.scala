package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/* Named presets over [[VectorIndex.families]] — the library verbs each
 * family has always had, with their default arguments. The `pq`
 * preset lives in Pq.scala next to the product-quantizer math. */

/** The verbs every flat training-on-build preset shares. */
abstract class FlatPreset(protected val index: VectorIndex) {
  def codesName(table: String): String = index.primaryName(table)

  def buildIndex(
      store: TableStore, table: String, emb: DataFrame,
      pkCol: String, embCol: String): Unit =
    index.build(store, table, emb, pkCol, embCol)

  def upsertWithCodes(
      store: TableStore, table: String, batch: DataFrame,
      pkCol: String, embCol: String): Unit =
    index.upsert(store, table, batch, pkCol, embCol)

  def annTopK(
      store: TableStore, table: String, queries: DataFrame,
      pkCol: String, embCol: String, k: Int): DataFrame =
    index.annTopK(store, table, queries, pkCol, embCol, k)

  def annTopKFiltered(
      store: TableStore, table: String, queries: DataFrame,
      pkCol: String, embCol: String, k: Int, allowed: DataFrame): DataFrame =
    index.annTopKFiltered(store, table, queries, pkCol, embCol, k, allowed)
}

/** The verbs the IVF presets with a `kCells` build share. */
abstract class CellPreset(protected val index: VectorIndex) {
  def codesName(table: String): String = index.primaryName(table)
  def centsName(table: String): String = index.centsName(table)
  def mapName(table: String): String = index.mapName(table)

  def upsertWithCodes(
      store: TableStore, table: String, batch: DataFrame,
      pkCol: String, embCol: String): Unit =
    index.upsert(store, table, batch, pkCol, embCol)

  def annTopK(
      store: TableStore, table: String, queries: DataFrame,
      pkCol: String, embCol: String, k: Int,
      nprobe: Int = VectorIndex.Nprobe): DataFrame =
    index.annTopK(store, table, queries, pkCol, embCol, k, nprobe)

  def annTopKFiltered(
      store: TableStore, table: String, queries: DataFrame,
      pkCol: String, embCol: String, k: Int, allowed: DataFrame,
      nprobe: Int = VectorIndex.FilteredNprobe): DataFrame =
    index.annTopKFiltered(store, table, queries, pkCol, embCol, k, allowed,
      nprobe)
}

/** Flat SQ8 ([[VectorIndex.sq]]): per-dimension int8 codes, 4×
  * smaller than float32 with a bounded per-dim error; scores
  * (query_id, rnk, cand_id, cos).
  */
object Sq extends FlatPreset(VectorIndex.sq) {
  def scalesName(table: String): String = index.paramsName(table).get

  /** Per-dimension (pos, mn, mx) scales over the corpus, `pos` 1-based. */
  def trainScales(emb: DataFrame, embCol: String): DataFrame =
    VectorIndex.Codec.Sq8.train(emb.select(col(embCol).as("r"))).get

  /** (pk, codes, dnorm) rows: the code blob and the dequantized norm. */
  def encode(
      emb: DataFrame, scales: DataFrame, pkCol: String, embCol: String): DataFrame =
    VectorIndex.Codec.Sq8.encode(
      emb.select(col(pkCol).as("pk"), col(embCol).as("e")), Some(scales),
      cellular = false)
}

/** Flat sign bits ([[VectorIndex.bin]]): 1 bit/dim, integer Hamming,
  * no training — the one family a stream can cold-start; scores
  * (query_id, rnk, cand_id, hamming). The inline oracle forms live in
  * graft.queries.SimilarityOps (q_ann_hamming_topk /
  * q_ann_hamming_rerank).
  */
object Bin extends FlatPreset(VectorIndex.bin) {
  /** (pk, bits) rows — stateless map-only encode. */
  def encode(emb: DataFrame, pkCol: String, embCol: String): DataFrame =
    VectorIndex.Codec.Sign.encode(
      emb.select(col(pkCol).as("pk"), col(embCol).as("e")), None,
      cellular = false)

  /** Hamming shortlist of `depth`, exact-cosine re-rank to `k`. */
  def rerank(
      store: TableStore, table: String, queries: DataFrame,
      pkCol: String, embCol: String, k: Int, depth: Int): DataFrame =
    index.rerank(store, table, queries, pkCol, embCol, k, depth)

  /** [[rerank]] with the SHORTLIST restricted to `allowed`, so the
    * depth budget is spent entirely on predicate-matching candidates.
    */
  def rerankFiltered(
      store: TableStore, table: String, queries: DataFrame,
      pkCol: String, embCol: String, k: Int, depth: Int,
      allowed: DataFrame): DataFrame =
    index.rerank(store, table, queries, pkCol, embCol, k, depth,
      allowed = Some(allowed))
}

/** IVF over raw vectors ([[VectorIndex.ivf]]): cells cut
  * WHICH candidates are read, exact cosine ranks them; scores
  * (query_id, rnk, cand_id, cosine).
  */
object Ivf {
  private def index = VectorIndex.ivf

  def indexName(table: String): String = index.primaryName(table)
  def centsName(table: String): String = index.centsName(table)
  def mapName(table: String): String = index.mapName(table)

  def buildIndex(
      store: TableStore, table: String, emb: DataFrame,
      pkCol: String, embCol: String, k: Int = 16, iters: Int = 3): Unit =
    index.tuned("k" -> k, "iters" -> iters)
      .build(store, table, emb, pkCol, embCol)

  def upsertWithCells(
      store: TableStore, table: String, batch: DataFrame,
      pkCol: String, embCol: String): Unit =
    index.upsert(store, table, batch, pkCol, embCol)

  def annTopK(
      store: TableStore, table: String, queries: DataFrame,
      pkCol: String, embCol: String, k: Int,
      nprobe: Int = VectorIndex.Nprobe): DataFrame =
    index.annTopK(store, table, queries, pkCol, embCol, k, nprobe)

  def annTopKFiltered(
      store: TableStore, table: String, queries: DataFrame,
      pkCol: String, embCol: String, k: Int, allowed: DataFrame,
      nprobe: Int = VectorIndex.FilteredNprobe): DataFrame =
    index.annTopKFiltered(store, table, queries, pkCol, embCol, k, allowed,
      nprobe)
}

/** IVF + residual PQ — the production vector-store layout (FAISS
  * IVFPQ); scores (query_id, rnk, cand_id, adist).
  */
object IvfPq {
  private def index(slices: Int = 8, subDim: Int = 8) =
    VectorIndex.ivfpq.tuned("slices" -> slices, "subDim" -> subDim)

  def codesName(table: String): String = VectorIndex.ivfpq.primaryName(table)
  def centsName(table: String): String = VectorIndex.ivfpq.centsName(table)
  def booksName(table: String): String =
    VectorIndex.ivfpq.paramsName(table).get
  def mapName(table: String): String = VectorIndex.ivfpq.mapName(table)

  def buildIndex(
      store: TableStore, table: String, emb: DataFrame,
      pkCol: String, embCol: String,
      kCells: Int = 16, slices: Int = 8, subDim: Int = 8,
      kCodes: Int = 16, iters: Int = 3): Unit =
    VectorIndex.ivfpq.tuned("kCells" -> kCells, "slices" -> slices,
      "subDim" -> subDim, "kCodes" -> kCodes, "iters" -> iters)
      .build(store, table, emb, pkCol, embCol)

  def upsertWithCodes(
      store: TableStore, table: String, batch: DataFrame,
      pkCol: String, embCol: String,
      slices: Int = 8, subDim: Int = 8): Unit =
    index(slices, subDim).upsert(store, table, batch, pkCol, embCol)

  def annTopK(
      store: TableStore, table: String, queries: DataFrame,
      pkCol: String, embCol: String, k: Int, nprobe: Int = VectorIndex.Nprobe,
      slices: Int = 8, subDim: Int = 8): DataFrame =
    index(slices, subDim).annTopK(store, table, queries, pkCol, embCol, k,
      nprobe)

  def annTopKFiltered(
      store: TableStore, table: String, queries: DataFrame,
      pkCol: String, embCol: String, k: Int, allowed: DataFrame,
      nprobe: Int = VectorIndex.FilteredNprobe, slices: Int = 8,
      subDim: Int = 8): DataFrame =
    index(slices, subDim).annTopKFiltered(
      store, table, queries, pkCol, embCol, k, allowed, nprobe)
}

/** IVF + residual SQ8 (FAISS IVFScalarQuantizer) — the higher-recall,
  * lower-compression rung next to IVF+PQ; scores (query_id, rnk,
  * cand_id, cosine).
  */
object IvfSq extends CellPreset(VectorIndex.ivfsq) {
  def scalesName(table: String): String = index.paramsName(table).get

  def buildIndex(
      store: TableStore, table: String, emb: DataFrame,
      pkCol: String, embCol: String,
      kCells: Int = 16, iters: Int = 3): Unit =
    index.tuned("kCells" -> kCells, "iters" -> iters)
      .build(store, table, emb, pkCol, embCol)
}

/** IVF + sign bits (FAISS IndexBinaryIVF): float k-means cells gate
  * WHICH blobs are read, Hamming ranks them; scores (query_id, rnk,
  * cand_id, hamming).
  */
object IvfBin extends CellPreset(VectorIndex.ivfbin) {
  def buildIndex(
      store: TableStore, table: String, emb: DataFrame,
      pkCol: String, embCol: String,
      kCells: Int = 16, iters: Int = 3): Unit =
    index.tuned("kCells" -> kCells, "iters" -> iters)
      .build(store, table, emb, pkCol, embCol)

  /** Cell-pruned Hamming shortlist of `depth`, exact-cosine re-rank. */
  def rerank(
      store: TableStore, table: String, queries: DataFrame,
      pkCol: String, embCol: String, k: Int, depth: Int,
      nprobe: Int = VectorIndex.Nprobe): DataFrame =
    index.rerank(store, table, queries, pkCol, embCol, k, depth, nprobe)
}
