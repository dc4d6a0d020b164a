package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.MinHashSig

/** Persisted MinHash-LSH band index — the text-side sibling of [[Ivf]]
  * (which persists a vector partitioning) and the near-dup analog of
  * [[Fts]]'s postings: instead of re-computing signatures over the
  * corpus every time dedup runs, the (pk, band_idx, band) membership
  * rows persist once and maintain incrementally, so the recurring
  * 100 TB question "which existing documents does this NEW batch
  * collide with?" reads only the band buckets the batch touches —
  * never the corpus, never the full index.
  *
  * The signature/banding semantics are exactly the inline pipeline's
  * ([[graft.functions.MinHashSig]]: word-shingle → one md5 per shingle
  * → hash-slice minima; band i = the 8r-char slice of the signature),
  * so a store-backed dedup produces the identical candidate set —
  * LshSpec asserts this against the naive inline expansion.
  *
  * Three tables ride the [[TableStore]]:
  *  - `<table>_lsh` (pk, band_idx, band, bucket=…): the membership
  *    rows, Hive-PARTITIONED by `bucket` = hash(band_idx, band) mod
  *    `buckets` and sorted by band within each file — a candidate
  *    probe prunes to the matching bucket directories at PLANNING
  *    time, then parquet min/max stats on `band` prune row groups;
  *  - `<table>_lsh_map` (pk, bucket): which buckets hold each pk's
  *    rows, making re-upsert O(batch) — without it, clearing the OLD
  *    bands of a re-written document would scan the whole index;
  *  - `<table>_lsh_params` (1 row): the (shingle_size, n_hashes,
  *    bands, buckets) the index was built with. A call with different
  *    parameters rebuilds wholesale once (band strings from different
  *    families must never mix — collisions would be meaningless).
  *
  * Reference anchor: this is the maintained-index version of the
  * near-dup candidate generation the inline queries demonstrate
  * (SURVEY.md LLM-pipeline dedup; the reference itself has no
  * near-dup machinery — its exact-pk upserts are
  * /root/reference/utils.py:420-454).
  */
object Lsh {

  def indexName(table: String): String = s"${table}_lsh"
  def mapName(table: String): String = s"${table}_lsh_map"
  def paramsName(table: String): String = s"${table}_lsh_params"

  private val BucketCol = "bucket"

  final case class Params(
      shingleSize: Int, nHashes: Int, bands: Int, buckets: Int)

  /** One membership row per (doc, band): (pk, band_idx, band). Docs
    * too short to shingle produce no rows (and so never pair). The
    * array(sig)+lambda binding forces ONE signature eval per row —
    * see the identical trick in the inline pipeline
    * (queries/DedupOps.bandsOf).
    */
  private def bandRows(
      df: DataFrame, pkCol: String, textCol: String, p: Params): DataFrame = {
    val spark = df.sparkSession
    val sig = MinHashSig.minhashSig(spark, col(textCol), p.shingleSize, p.nHashes)
    val bandsArr = flatten(transform(
      filter(array(sig), s => s.isNotNull),
      s => MinHashSig.bandKeys(s, p.nHashes, p.bands)))
    df.select(col(pkCol).as("pk"), explode(bandsArr).as("b"))
      .select(col("pk"), col("b.band_idx").as("band_idx"),
        col("b.band").as("band"))
  }

  private def writeParams(store: TableStore, table: String, p: Params): Unit = {
    val spark = store.spark
    import spark.implicits._
    store.overwrite(paramsName(table),
      Seq((p.shingleSize, p.nHashes, p.bands, p.buckets))
        .toDF("shingle_size", "n_hashes", "bands", "buckets"))
  }

  def params(store: TableStore, table: String): Option[Params] =
    store.readIfExists(paramsName(table)).map { df =>
      val r = df.head
      Params(r.getAs[Int]("shingle_size"), r.getAs[Int]("n_hashes"),
        r.getAs[Int]("bands"), r.getAs[Int]("buckets"))
    }

  /** Index a corpus from scratch under the given parameters (any
    * existing index of this table is replaced) and persist the base
    * rows — the same base-rides-along contract as [[Ivf.buildIndex]]
    * and [[Fts.upsertWithIndex]], and what lets a later parameter
    * change re-derive band rows from the stored text.
    */
  def buildIndex(
      store: TableStore, table: String, corpus: DataFrame,
      pkCol: String, textCol: String,
      shingleSize: Int = 3, nHashes: Int = 4, bands: Int = 2,
      buckets: Int = 16): Unit = {
    IndexMaintain.recordIfChanged(store, indexName(table), Map(
      "table" -> table, "family" -> "lsh",
      "pk" -> pkCol, "text" -> textCol))
    rebuild(store, table, corpus, pkCol, textCol,
      Params(shingleSize, nHashes, bands, buckets))
    store.upsert(table, corpus, Seq(pkCol))
  }

  /** Upsert base rows AND their band-index rows. When the stored
    * parameters match, maintenance is incremental — only the bucket
    * partitions holding the batch's new bands plus the old bands of
    * re-upserted pks (looked up in the map) are rewritten, via dynamic
    * partition overwrite — O(batch), not O(corpus). A parameter change
    * (or a first call with no index) rebuilds wholesale once.
    */
  def upsertWithBands(
      store: TableStore, table: String, batch: DataFrame,
      pkCol: String, textCol: String,
      shingleSize: Int = 3, nHashes: Int = 4, bands: Int = 2,
      buckets: Int = 16): Unit = {
    refreshBands(store, table, batch, pkCol, textCol,
      Params(shingleSize, nHashes, bands, buckets))
    store.upsert(table, batch, Seq(pkCol))
  }

  /** The band-index half of [[upsertWithBands]] — no base write (the
    * SQL DML maintenance seam, [[IndexMaintain]]); records the indexed
    * column as provenance (the numeric parameters already persist in
    * the params table).
    */
  private[store] def refreshBands(
      store: TableStore, table: String, batch: DataFrame,
      pkCol: String, textCol: String, want: Params): Unit = {
    IndexMaintain.recordIfChanged(store, indexName(table), Map(
      "table" -> table, "family" -> "lsh",
      "pk" -> pkCol, "text" -> textCol))
    params(store, table) match {
      // the empty-index check (a cheap limit-1 probe) routes an index
      // with no band rows back through the wholesale path: an empty
      // index is stored UNPARTITIONED (a zero-row partitioned write
      // leaves no readable files), so the incremental partition
      // overwrite must not run against it
      case Some(p) if p == want && store.exists(indexName(table)) &&
          !store.read(indexName(table)).isEmpty =>
        incremental(store, table, batch, pkCol, textCol, p)
      case _ =>
        rebuild(store, table,
          Upsert.upsert(store.readIfExists(table), batch, Seq(pkCol))
            .select(col(pkCol), col(textCol)),
          pkCol, textCol, want)
    }
  }

  private def rebuild(
      store: TableStore, table: String, corpus: DataFrame,
      pkCol: String, textCol: String, p: Params): Unit = {
    // materialize severs any lazy dependency on this table's own files
    // before the swap-writes below delete them
    val rows = Iteration.materialize(
      bandRows(corpus, pkCol, textCol, p)
        .withColumn(BucketCol, store.bucketOfPk(Seq("band_idx", "band"), p.buckets)))
    writeParams(store, table, p)
    // zero band rows (every doc too short to shingle): a PARTITIONED
    // zero-row write leaves no files at all — unreadable — so the
    // empty index persists unpartitioned (schema-bearing empty file);
    // upsertWithBands routes the next batch back through this
    // wholesale path rather than partition-overwriting a flat layout
    if (rows.isEmpty)
      store.overwrite(indexName(table), rows)
    else
      store.overwrite(indexName(table),
        rows.repartitionByRange(col(BucketCol), col("band"))
          .sortWithinPartitions(col(BucketCol), col("band")),
        partitionBy = Seq(BucketCol))
    store.overwrite(mapName(table),
      rows.select(col("pk"), col(BucketCol)).distinct())
  }

  private def incremental(
      store: TableStore, table: String, batch: DataFrame,
      pkCol: String, textCol: String, p: Params): Unit = {
    val fresh = Iteration.materialize(
      bandRows(batch, pkCol, textCol, p)
        .withColumn(BucketCol, store.bucketOfPk(Seq("band_idx", "band"), p.buckets)))
    val batchPks = batch.select(col(pkCol).as("pk")).distinct()

    // affected buckets: where the batch's new bands land, plus where
    // the re-upserted pks' OLD bands live (a doc whose text changed —
    // or emptied — must clear its stale rows). Both lists are ≤
    // |batch|·bands values by construction.
    val newBuckets = fresh.select(col(BucketCol)).distinct()
      .collect().map(_.getLong(0)).toSet
    val oldBuckets = store.readIfExists(mapName(table)) match {
      case Some(m) => m.join(batchPks, Seq("pk"), "left_semi")
        .select(col(BucketCol)).distinct().collect().map(_.getLong(0)).toSet
      case None => Set.empty[Long]
    }
    val affected = (newBuckets ++ oldBuckets).toSeq

    if (affected.nonEmpty) {
      val survivors = store.rewritePartitions(indexName(table), BucketCol, affected)(
        // partition-column dirs read back as int; normalize to long
        _.withColumn(BucketCol, col(BucketCol).cast("long"))
          .join(batchPks, Seq("pk"), "left_anti")
          .unionByName(fresh)
          .repartitionByRange(col(BucketCol), col("band"))
          .sortWithinPartitions(col(BucketCol), col("band")))
      if (survivors.isEmpty) {
        // the batch blanked every doc in the affected buckets; if those
        // were the index's ONLY buckets, the index is now an unreadable
        // empty directory — rebuild wholesale (rare by construction,
        // and the rebuild lands on the unpartitioned-empty
        // representation when nothing survives)
        rebuild(store, table,
          Upsert.upsert(store.readIfExists(table), batch, Seq(pkCol))
            .select(col(pkCol), col(textCol)),
          pkCol, textCol, p)
        return
      }
    }
    // map: replace ALL rows of the batch pks (a pk spans ≤ `bands`
    // buckets, so per-pk replacement is row_number-free anti-join +
    // union). Narrow 2-column table; the full-rewrite swap is the same
    // lakehouse-MERGE seam as TableStore.upsert.
    val newMap = store.readIfExists(mapName(table)) match {
      case Some(m) => m.join(batchPks, Seq("pk"), "left_anti")
        .unionByName(fresh.select(col("pk"), col(BucketCol)).distinct())
      case None => fresh.select(col("pk"), col(BucketCol)).distinct()
    }
    store.overwrite(mapName(table), Iteration.materialize(newMap))
  }

  /** The full candidate-pair set of the indexed corpus — identical to
    * the inline LSH pipeline's, but read from the persisted index (no
    * signature recomputation). Pair expansion is the same skew-bounded
    * grid ([[PairExpansion]]): a degenerate boilerplate band never
    * exceeds ~cellSize² work per task.
    */
  def candidates(store: TableStore, table: String, cellSize: Int = 64): DataFrame =
    PairExpansion.pairsWithinBuckets(
        store.read(indexName(table))
          .select(col("pk"), col("band_idx"), col("band")),
        keyCols = Seq("band_idx", "band"), idCol = "pk", cellSize = cellSize)
      .select(col("a.pk").as("doc_a"), col("b.pk").as("doc_b"))
      .distinct()

  /** Candidate pairs TOUCHING the given pks (typically the latest
    * ingested batch, after [[upsertWithBands]]): each probe pk's bands
    * equi-join the index for corpus docs sharing a band. The index
    * scan prunes to the bucket directories holding the probe pks'
    * bands (planning-time partition pruning — LshSpec asserts the
    * PartitionFilters), so cost scales with the batch's band reach,
    * not the corpus. Returns distinct (doc_a < doc_b) pairs; both
    * probe-probe and probe-corpus pairs appear, mirroring
    * "dedup the new batch against everything" semantics.
    *
    * Skew: a probe landing in a boilerplate band emits one pair per
    * corpus member of that band — that is the answer's size, not
    * amplification; the probe side is broadcast, so no shuffle key can
    * hot-spot. Downstream verification stays O(candidates)
    * (queries/DedupOps.jaccardVerify).
    */
  def candidatesFor(
      store: TableStore, table: String, pks: DataFrame): DataFrame =
    candidateSearch(store, table, pks, allowed = None)

  /** Filtered near-dup lookup — [[candidatesFor]] under a metadata
    * predicate, completing the filtered-search ladder (the LSH family
    * was the one probe path without it): the corpus SIDE of every
    * returned pair must appear in `allowed` (one pk column). This is
    * the PRE-filter design the rest of the ladder uses
    * ([[AnnFilter]]): the predicate semi-joins the band-pruned index
    * scan BEFORE pair expansion, so cost is selectivity-proportional
    * — a rare predicate shrinks the join, it never starves the
    * result (every allowed collision is still found; LshSpec pins
    * both purity and the no-starvation equivalence). The probe pks
    * themselves are exempt from the predicate — the caller chose
    * them; `allowed` scopes what they are deduped AGAINST. A
    * probe-probe pair therefore surfaces iff the pair's OTHER member
    * passes `allowed`, the same one-sided rule as probe-corpus pairs.
    */
  def candidatesForFiltered(
      store: TableStore, table: String, pks: DataFrame,
      allowed: DataFrame): DataFrame =
    candidateSearch(store, table, pks, Some(allowed))

  private def candidateSearch(
      store: TableStore, table: String, pks: DataFrame,
      allowed: Option[DataFrame]): DataFrame = {
    val probePks = pks.toDF("pk")
    val bucketList = store.read(mapName(table))
      .join(probePks, Seq("pk"), "left_semi")
      .select(col(BucketCol)).distinct().collect().map(_.getLong(0)).toSeq
    val idx = store.read(indexName(table))
      .withColumn(BucketCol, col(BucketCol).cast("long"))
      .filter(col(BucketCol).isin(bucketList: _*))
    // probe bands come from the UNFILTERED scan (a probe's own rows
    // must never be predicate-dropped — the caller chose the probes);
    // the candidate side is pre-filtered before the band join
    val probeBands = idx.join(probePks, Seq("pk"), "left_semi")
      .select(col("pk").as("probe_pk"), col("band_idx"), col("band"))
    val cand = allowed.fold(idx)(AnnFilter.semiJoinAllowed(idx, _, "pk"))
    cand.join(broadcast(probeBands), Seq("band_idx", "band"))
      .filter(col("pk") =!= col("probe_pk"))
      .select(least(col("pk"), col("probe_pk")).as("doc_a"),
        greatest(col("pk"), col("probe_pk")).as("doc_b"))
      .distinct()
  }
}
