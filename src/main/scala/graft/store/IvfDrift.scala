package graft.store

import org.apache.spark.sql.functions._

/** Centroid-drift detector for the IVF families (Ivf, IvfPq, IvfSq,
  * IvfBin). Cells train ONCE ([[Kmeans.train]] at buildIndex); every
  * later upsert assigns against the frozen centroids. When the corpus
  * distribution moves — a new domain, a new embedding regime — fresh
  * vectors crowd into whichever cells happen to be least-wrong, the
  * occupancy distribution skews away from the trained one, and probe
  * recall decays SILENTLY: nprobe cells hold an ever-smaller fraction
  * of any query's true neighbors, while every query still returns k
  * plausible rows. (FAISS ships the same advice: retrain the coarse
  * quantizer when the data distribution shifts.)
  *
  * Detection needs a baseline, so buildIndex persists a train-time
  * occupancy snapshot (`<cents>_train`: cell → n_train, written from
  * the map table right after the first assignment). The drift report
  * compares CURRENT per-cell occupancy (one bounded aggregate over
  * the (pk, cell) map — ≤ k cells by construction, no vector math,
  * works identically for all four families including the code-only
  * ones) against the snapshot:
  *  - `tv`: total-variation distance between the two occupancy
  *    DISTRIBUTIONS (0 = same shape, 1 = disjoint) — shape drift;
  *  - `growth`: n_now / n_train — even shape-preserving growth means
  *    the centroids were trained on a small prefix of the corpus.
  * [[Doctor.suggest]] surfaces both past thresholds with a retrain
  * recommendation; retraining is one buildIndex re-run (the k-means
  * path the index was born from), which rewrites cells + snapshot and
  * restores the recall floor — IvfDriftSpec drives the full loop.
  */
object IvfDrift {

  /** Train-time occupancy snapshot table for a cents table. */
  def snapName(centsTable: String): String = s"${centsTable}_train"

  /** Training-provenance table for an IVF family
    * (`<famBase>_meta`, famBase = `<table>_<family>`): the (key,
    * value) rows a later [[retrain]] needs to re-run the family's
    * buildIndex with nothing restated by the caller — base table,
    * family, pk/emb columns, k-means parameters. Written by each
    * buildIndex alongside the occupancy snapshot.
    */
  def metaName(famBase: String): String = s"${famBase}_meta"

  def recordTraining(
      store: TableStore, famBase: String, kv: Map[String, String]): Unit = {
    import store.spark.implicits._
    store.overwrite(metaName(famBase), kv.toSeq.toDF("key", "value"))
  }

  /** The recorded provenance, or None for a pre-provenance index
    * (retrain then needs the manual buildIndex path). Shape-guarded:
    * a table that merely MATCHES the `_meta` name convention but does
    * not carry [[recordTraining]]'s (key, value) string layout — a
    * user's own table, an out-of-band edit — reads as no-provenance
    * instead of crashing the caller (Doctor's orphan sweep probes
    * every `*_meta` name and must survive exactly the states it
    * reports).
    */
  def trainingMeta(
      store: TableStore, famBase: String): Option[Map[String, String]] =
    store.readIfExists(metaName(famBase)).flatMap { df =>
      val shape = df.schema.fields.map(f => f.name -> f.dataType)
      if (shape.toSeq == Seq(
          "key" -> org.apache.spark.sql.types.StringType,
          "value" -> org.apache.spark.sql.types.StringType))
        Some(df.collect().map(r => r.getString(0) -> r.getString(1)).toMap)
      else None
    }

  /** Close the drift loop: re-run the family's buildIndex from the
    * recorded provenance — retraining centroids (and any dependent
    * codebooks/scales) on the CURRENT corpus, rewriting the cell
    * index and refreshing the occupancy snapshot, which restores the
    * probe-recall floor (FAISS's retrain-the-coarse-quantizer
    * advice). Returns the fresh drift report: tv ≈ 0, growth = 1 by
    * construction (the snapshot was just taken from the same corpus).
    */
  def retrain(store: TableStore, famBase: String): Report = {
    val meta = trainingMeta(store, famBase).getOrElse(
      throw new IllegalArgumentException(
        s"no training provenance recorded for $famBase — the index " +
          "predates provenance capture; re-run its buildIndex manually"))
    val (table, pk, emb) = (meta("table"), meta("pk"), meta("emb"))
    val index = VectorIndex.byName(meta("family"))
      .filter(_.coarse.isInstanceOf[VectorIndex.Coarse.Ivf])
      .getOrElse(throw new IllegalArgumentException(
        s"unknown IVF family in $famBase provenance: ${meta("family")}"))
    index.withMeta(meta).build(store, table, store.read(table)
      .select(col(pk), col(emb).cast("array<double>").as(emb)), pk, emb)
    VectorIndex.driftReport(store, famBase).getOrElse(
      throw new IllegalStateException(
        s"$famBase retrained but no drift report resolves — " +
          "snapshot or map missing after buildIndex"))
  }

  final case class Report(tv: Double, growth: Double, nTrain: Long, nNow: Long)

  /** Persist the train-time per-cell occupancy (called by each IVF
    * family's buildIndex after the initial assignment).
    */
  def snapshot(store: TableStore, centsTable: String, mapTable: String): Unit =
    store.overwrite(snapName(centsTable),
      store.read(mapTable).groupBy(col("cell"))
        .agg(count(lit(1)).as("n_train")))

  /** Drift of the current occupancy vs the snapshot, or None when
    * either side is missing (pre-snapshot index: nothing to compare).
    * Driver-side math over ≤ k cells — bounded by construction.
    */
  def report(
      store: TableStore, centsTable: String, mapTable: String): Option[Report] =
    for {
      snap <- store.readIfExists(snapName(centsTable))
      m <- store.readIfExists(mapTable)
    } yield {
      val now = m.groupBy(col("cell")).agg(count(lit(1)).as("n_now"))
      val rows = snap.join(now, Seq("cell"), "full_outer")
        .select(
          coalesce(col("n_train"), lit(0L)).as("a"),
          coalesce(col("n_now"), lit(0L)).as("b"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val nTrain = rows.map(_._1).sum
      val nNow = rows.map(_._2).sum
      val tv =
        if (nTrain == 0L || nNow == 0L) if (nTrain == nNow) 0.0 else 1.0
        else rows.map { case (a, b) =>
          math.abs(a.toDouble / nTrain - b.toDouble / nNow)
        }.sum / 2.0
      val growth = if (nTrain == 0L) Double.PositiveInfinity
        else nNow.toDouble / nTrain
      Report(tv, growth, nTrain, nNow)
    }
}
