package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization as a maintained store component — the
  * persisted-index analog of [[Fts]] for the vector-search side of the
  * pipeline (SURVEY.md extensions; reference has no counterpart — its
  * store is SQLite, ours must hold 100 TB of embeddings).
  *
  * A d-dim vector splits into `slices` subvectors of `subDim` dims;
  * each subspace gets a k-entry codebook (TRAINED here with a joint
  * Lloyd loop — all subspaces in one distributed iteration, not
  * `slices` sequential jobs), and a vector is stored as its
  * `slices` nearest-codeword ids — 32× smaller than raw floats at the
  * 8×8/16 default. ADC search then scans the CODE table against a
  * per-query lookup table and never touches candidate floats: 8 bytes
  * read per candidate instead of 256 — the genuine 100 TB
  * read-reduction shape.
  *
  * Two tables ride the [[TableStore]] ([[VectorIndex]] names them):
  *  - the codebooks (s, cent_id, ce), one per subspace, written once
  *    at training time (small — slices × k rows);
  *  - the code table (pk, codes): one row per vector — codes as a
  *    BinaryType blob, one unsigned byte per subspace (1 B/slice in
  *    Tungsten rows and on disk, the genuine 32× at 8×8/16) —
  *    maintained with the same upsert-batch pattern as the FTS
  *    postings: re-upserted vectors get their codes re-encoded
  *    O(batch), never O(corpus).
  *
  * Determinism: codeword means update on 1e-6-quantized integers
  * (exact, commutative sums on any partitioning — same convention as
  * the k-means step in queries/SimilarityOps); argmin ties break on
  * the lower cent_id; LUT distances quantize to longs before summing.
  *
  * This object is the product-quantizer math [[VectorIndex.Codec.Pq]]
  * runs on, plus the flat `pq` family's preset verbs.
  */
object Pq {

  def codesName(table: String): String = VectorIndex.pq.primaryName(table)
  def booksName(table: String): String = VectorIndex.pq.paramsName(table).get

  /** Squared L2 between two equal-length vector columns, as a
    * sequential left-fold (bit-exact regardless of partitioning).
    */
  private[store] def l2sq(a: Column, b: Column): Column =
    graft.functions.SliceDists.l2Fold(
      org.apache.spark.sql.SparkSession.active, a, b)

  /** Exploded subvector rows (pk, s, sv): one row per vector and
    * subspace, `sv` = dims [s*subDim, (s+1)*subDim).
    */
  def subvectors(
      emb: DataFrame, pkCol: String, embCol: String,
      slices: Int, subDim: Int): DataFrame =
    emb.select(col(pkCol).as("pk"),
        explode(array((0 until slices).map { s =>
          struct(lit(s).as("s"),
            slice(col(embCol), s * subDim + 1, subDim).as("sv"))
        }: _*)).as("x"))
      .select(col("pk"), col("x.s").as("s"), col("x.sv").as("sv"))

  /** Seed codebooks: the k lowest-pk vectors' slices, cent_ids
    * renumbered 0..k-1 — the deterministic cold-start convention
    * (production trains from here with [[trainBooks]]).
    */
  def seedBooks(
      emb: DataFrame, pkCol: String, embCol: String,
      slices: Int, subDim: Int, k: Int): DataFrame = {
    // limit FIRST (TakeOrderedAndProject, k rows) so the renumbering
    // window only ever sees k rows — a global row_number over the
    // corpus would funnel 100 TB through one partition
    val seeds = emb.orderBy(col(pkCol)).limit(k)
      .withColumn("cent_id",
        row_number().over(Window.orderBy(col(pkCol))) - 1)
    subvectors(seeds, pkCol, embCol, slices, subDim)
      .join(seeds.select(col(pkCol).as("pk"), col("cent_id")), Seq("pk"))
      .select(col("s"), col("cent_id"), col("sv").as("ce"))
  }

  /** Train all `slices` codebooks jointly: one Lloyd loop over the
    * exploded (s, sv) rows, assignment = argmin squared-L2 against the
    * broadcast books (equi-join on s — each subvector only scores its
    * own subspace's k codewords), update = per-(s, cell, dim)
    * quantized-integer mean. Empty cells keep their previous codeword.
    * Each iteration pins through [[Iteration.materialize]] (reliable
    * checkpoint when a dir is configured — the same fault-tolerance
    * seam as kmeansTrain).
    */
  def trainBooks(
      emb: DataFrame, pkCol: String, embCol: String,
      slices: Int, subDim: Int, k: Int, iters: Int): DataFrame = {
    val sub = subvectors(emb, pkCol, embCol, slices, subDim)
    var books = Iteration.materialize(
      seedBooks(emb, pkCol, embCol, slices, subDim, k))
    (1 to iters).foreach { _ =>
      val assignment = sub.join(broadcast(books), Seq("s"))
        .select(col("pk"), col("s"), col("sv"), col("cent_id"),
          l2sq(col("sv"), col("ce")).as("_d"))
        .groupBy(col("pk"), col("s"))
        .agg(min_by(struct(col("sv"), col("cent_id").as("cell")),
          struct(col("_d"), col("cent_id"))).as("_best"))
        .select(col("s"), col("_best.cell").as("cell"), col("_best.sv").as("sv"))
      val updated = assignment
        .select(col("s"), col("cell"), posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy(col("s"), col("cell"), col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("v") * 1e6).cast("long")).as("q"))
        .select(col("s"), col("cell"), col("pos"),
          ((col("q").cast("double") / 1e6) / col("n").cast("double")).as("m"))
        .groupBy(col("s"), col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("new_ce"))
      books = Iteration.materialize(books
        .join(updated.withColumnRenamed("cell", "cent_id"), Seq("s", "cent_id"), "left")
        .select(col("s"), col("cent_id"),
          coalesce(col("new_ce"), col("ce")).as("ce")))
    }
    books
  }

  /** Exploded (pk, s, code) rows: each subvector replaced by its
    * nearest codeword id in that subspace's book — broadcast equi-join
    * on s, min_by partial-agg argmin (one row per (vector, slice)
    * crosses the exchange, not the ×k scored set).
    */
  def encodeExploded(
      emb: DataFrame, books: DataFrame, pkCol: String, embCol: String,
      slices: Int, subDim: Int): DataFrame =
    subvectors(emb, pkCol, embCol, slices, subDim)
      .join(broadcast(books), Seq("s"))
      .select(col("pk"), col("s"), col("cent_id"),
        l2sq(col("sv"), col("ce")).as("_d"))
      .groupBy(col("pk"), col("s"))
      .agg(min_by(col("cent_id"), struct(col("_d"), col("cent_id"))).as("code"))

  /** One (pk, codes) row per vector — the persisted code-table layout:
    * a BinaryType blob, one unsigned byte per subspace in subspace
    * order (`codes[s]` = subspace s's codeword; the FAISS uint8
    * layout, 1 B/slice in Tungsten rows and on disk).
    */
  def encode(
      emb: DataFrame, books: DataFrame, pkCol: String, embCol: String,
      slices: Int, subDim: Int): DataFrame =
    encodeExploded(emb, books, pkCol, embCol, slices, subDim)
      .groupBy(col("pk"))
      .agg(transform(array_sort(collect_list(struct(col("s"), col("code")))),
        x => x.getField("code")).as("codes"))
      .select(col("pk"),
        graft.functions.SliceDists.packCodes(
          org.apache.spark.sql.SparkSession.active, col("codes")).as("codes"))

  /** Total squared quantization error of encoding `emb` with `books`
    * — the objective Lloyd minimizes; a trained book must score lower
    * than its seed. Exact-sum via 1e-6 quantization so the comparison
    * is partitioning-independent.
    */
  def quantizationError(
      emb: DataFrame, books: DataFrame, pkCol: String, embCol: String,
      slices: Int, subDim: Int): Double = {
    val q = subvectors(emb, pkCol, embCol, slices, subDim)
      .join(broadcast(books), Seq("s"))
      .select(col("pk"), col("s"), l2sq(col("sv"), col("ce")).as("_d"))
      .groupBy(col("pk"), col("s"))
      .agg(min(col("_d")).as("best"))
      .agg(sum(floor(col("best") * 1e6).cast("long")).as("q"))
      .head.getLong(0)
    q / 1e6
  }

  /** Per-query ADC lookup table (query_id, s, code, qd): squared-L2 of
    * each query subvector against every codeword, 1e-6-quantized to
    * longs so candidate sums are exact and commutative.
    */
  def lut(
      queries: DataFrame, books: DataFrame, pkCol: String, embCol: String,
      slices: Int, subDim: Int): DataFrame =
    subvectors(queries, pkCol, embCol, slices, subDim)
      .join(broadcast(books), Seq("s"))
      .select(col("pk").as("query_id"), col("s"), col("cent_id").as("code"),
        floor(l2sq(col("sv"), col("ce")) * 1e6).cast("long").as("qd"))

  private def index(slices: Int, subDim: Int, k: Int = 16, iters: Int = 3) =
    VectorIndex.pq.tuned("slices" -> slices, "subDim" -> subDim,
      "kCodes" -> k, "iters" -> iters)

  /** Train-and-persist: write the codebooks (trained from the batch
    * corpus) and seed the code table with the batch's codes.
    */
  def buildIndex(
      store: TableStore, table: String, emb: DataFrame,
      pkCol: String, embCol: String,
      slices: Int = 8, subDim: Int = 8, k: Int = 16, iters: Int = 3): Unit =
    index(slices, subDim, k, iters).build(store, table, emb, pkCol, embCol)

  def upsertWithCodes(
      store: TableStore, table: String, batch: DataFrame,
      pkCol: String, embCol: String,
      slices: Int = 8, subDim: Int = 8): Unit =
    index(slices, subDim).upsert(store, table, batch, pkCol, embCol)

  /** ADC top-k over the PERSISTED code table: (query_id, rnk, cand_id,
    * adist) — see [[VectorIndex.Codec.Pq]].
    */
  def annTopK(
      store: TableStore, table: String, queries: DataFrame,
      pkCol: String, embCol: String, k: Int,
      slices: Int = 8, subDim: Int = 8): DataFrame =
    index(slices, subDim).annTopK(store, table, queries, pkCol, embCol, k)

  def annTopKFiltered(
      store: TableStore, table: String, queries: DataFrame,
      pkCol: String, embCol: String, k: Int, allowed: DataFrame,
      slices: Int = 8, subDim: Int = 8): DataFrame =
    index(slices, subDim).annTopKFiltered(
      store, table, queries, pkCol, embCol, k, allowed)
}
