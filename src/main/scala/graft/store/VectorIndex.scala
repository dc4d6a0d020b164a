package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.store.{Pq => ProductQuantizer}

/** A persisted, maintained vector index: a COARSE quantizer composed
  * with a CODEC — FAISS's `index_factory` composition (Douze et al.,
  * "The Faiss library", 2024; Jégou et al., PQ, TPAMI 2011) expressed
  * as Spark plans over the [[TableStore]]. The coarse quantizer decides
  * WHICH per-pk rows a search reads; the codec decides how many BYTES
  * each row costs and how a query scores it:
  *
  *  - [[VectorIndex.Coarse.Flat]]: every search scans the whole per-pk
  *    table;
  *  - [[VectorIndex.Coarse.Ivf]]: k-means cells ([[Kmeans.train]]). The
  *    per-pk rows persist Hive-PARTITIONED by nearest-centroid cell, so
  *    an nprobe-cell search is directory-level partition pruning, and a
  *    pk → cell map makes cross-cell moves O(batch) ([[CellIndex]]).
  *    Residual-coded codecs encode e − centroid[cell], so one codebook
  *    or scale set covers every cell (FAISS's encode-by-residual);
  *
  *  - [[VectorIndex.Codec.Raw]]: the full vector and its norm, exact
  *    cosine;
  *  - [[VectorIndex.Codec.Pq]]: `slices` codeword ids per vector (32×
  *    smaller at 8×8/16), asymmetric-distance (ADC) scoring against a
  *    per-query lookup table ([[Pq]] holds the product-quantizer math);
  *  - [[VectorIndex.Codec.Sq8]]: per-dimension affine int8 codes (4×)
  *    plus the dequantized norm, asymmetric cosine;
  *  - [[VectorIndex.Codec.Sign]]: one sign bit per dimension (32×),
  *    integer Hamming, no training at all.
  *
  * One build / refresh / search / filtered-search / doctor path runs
  * over the composition, and [[VectorIndex.families]] is the ONE list
  * of the seven compositions that exist: `sq`, `pq`, `bin` (flat) and
  * `ivf`, `ivfpq`, `ivfsq`, `ivfbin`. Every consumer — cascade
  * retraction, SQL maintenance and `build_index`, Doctor, drift
  * retraining, the CLI and the streaming sinks — iterates that list;
  * [[Pq]], [[Sq]], [[Bin]], [[Ivf]], [[IvfPq]], [[IvfSq]] and
  * [[IvfBin]] are named presets over it.
  *
  * Tables of family `f` on base table `t` (`<p>` = `<t>_<f>`):
  *  - `<p>` (pk, payload[, cell=N/]): one row per vector — the codes,
  *    blob or raw vector the codec persists;
  *  - `<p>_books` (s, cent_id, ce) / `<p>_scales` (pos, mn, mx): the
  *    codec's trained parameters, written once at build time;
  *  - IVF only: `<p>_cents` (cent_id, cent_e, cent_norm) centroids,
  *    `<p>_map` (pk, cell), and `<p>_cents_train` — the occupancy
  *    snapshot [[IvfDrift]] compares against;
  *  - `<p>_meta`: recorded provenance, so SQL writes refresh the index
  *    and drift retraining rebuilds it with nothing restated.
  *
  * Determinism: cell assignment is max-cosine with ties to the lower
  * cent_id, codes are argmin with ties to the lower code, and every
  * floating sum that decides a rank is 1e-6-quantized to longs first,
  * so scores are identical on any partitioning. A query pk that also
  * lives in the corpus is excluded from its own results under the IVF
  * coarse (a probe is usually in the corpus) and NOT under the flat
  * one — callers filter if they mean "neighbors other than me". The
  * maintenance pattern is the FTS postings' upsert-batch one:
  * re-upserted vectors re-encode O(batch), never O(corpus), and a
  * stream never retrains (that would silently re-interpret every
  * stored code); retraining is a rebuild.
  */
final class VectorIndex private (
    val name: String,
    val coarse: VectorIndex.Coarse,
    val codec: VectorIndex.Codec,
    val cellsKey: String) {
  import VectorIndex._

  val cellular: Boolean = coarse.isInstanceOf[Coarse.Ivf]

  def primaryName(table: String): String = s"${table}_$name"
  def mapName(table: String): String = s"${primaryName(table)}_map"
  def centsName(table: String): String = s"${primaryName(table)}_cents"
  def paramsName(table: String): Option[String] =
    codec.params.map(p => s"${primaryName(table)}_$p")

  /** The per-pk tables (cascade deletes retract from these). */
  def perPkTables(table: String): Seq[String] =
    primaryName(table) +: (if (cellular) Seq(mapName(table)) else Nil)

  /** The model-parameter tables (a cascade keeps them; a DROP takes
    * them).
    */
  def paramTables(table: String): Seq[String] =
    (if (cellular) Seq(centsName(table)) else Nil) ++ paramsName(table)

  /** The one-row-per-vector table whose count must equal the base's —
    * the narrow map where the payload is the raw vector itself.
    */
  def coverName(table: String): String =
    if (codec == Codec.Raw) mapName(table) else primaryName(table)

  /** `_meta` keys a SQL refresh needs besides the emb column. */
  def refreshKeys: Seq[String] = "emb" +: codec.refreshMeta.keys.toSeq

  /** This composition with numeric parameters replaced from `m` (the
    * `_meta` keys: the cell count under this family's cell key,
    * `iters`, and the codec's own); absent keys keep their value. The
    * composition itself never changes, so only the seven families in
    * [[VectorIndex.families]] can exist.
    */
  def withMeta(m: Map[String, String]): VectorIndex = {
    def p(k: String, d: Int) = m.get(k).map(_.toInt).getOrElse(d)
    new VectorIndex(name,
      coarse match {
        case Coarse.Ivf(k, i) => Coarse.Ivf(p(cellsKey, k), p("iters", i))
        case c => c
      },
      codec match {
        case Codec.Pq(s, d, kc, i) => Codec.Pq(p("slices", s),
          p("subDim", d), p("kCodes", kc), p("iters", i))
        case c => c
      },
      cellsKey)
  }

  /** [[withMeta]] over typed values — what the presets call. */
  def tuned(kv: (String, Int)*): VectorIndex =
    withMeta(kv.map { case (k, v) => k -> v.toString }.toMap)

  private def provenance(table: String, pkCol: String, embCol: String) =
    Map("table" -> table, "family" -> name, "pk" -> pkCol, "emb" -> embCol) ++
      codec.refreshMeta

  /** Train on the batch corpus, persist the trained tables, index the
    * batch and upsert the base rows. IVF families also persist the
    * train-time occupancy snapshot (the [[IvfDrift]] baseline) and
    * their training provenance (what [[IvfDrift.retrain]] re-runs).
    */
  def build(store: TableStore, table: String, emb: DataFrame,
      pkCol: String, embCol: String): Unit = coarse match {
    case Coarse.Flat =>
      codec.train(emb.select(col(pkCol).as("pk"), col(embCol).as("r")))
        .foreach(store.overwrite(paramsName(table).get, _))
      upsert(store, table, emb, pkCol, embCol)
    case c: Coarse.Ivf =>
      store.overwrite(centsName(table), c.train(emb, pkCol, embCol))
      val rows = Iteration.materialize(
        c.assign(emb, store.read(centsName(table)), pkCol, embCol))
      codec.train(rows.select(col("pk"), residual.as("r")))
        .foreach(store.overwrite(paramsName(table).get, _))
      maintainCells(store, table, rows)
      store.upsert(table, emb, Seq(pkCol))
      IvfDrift.snapshot(store, centsName(table), mapName(table))
      IvfDrift.recordTraining(store, primaryName(table),
        provenance(table, pkCol, embCol) ++ codec.trainMeta ++
          Map(cellsKey -> c.kCells.toString, "iters" -> c.iters.toString))
  }

  /** Upsert embedding rows AND their index rows: the batch encodes
    * (and, under IVF, assigns) against the PERSISTED parameters —
    * O(batch) — then the base table upserts as usual. Requires
    * [[build]] first (only the training-free flat Sign family can
    * cold-start).
    */
  def upsert(store: TableStore, table: String, batch: DataFrame,
      pkCol: String, embCol: String): Unit = {
    refresh(store, table, batch, pkCol, embCol)
    store.upsert(table, batch, Seq(pkCol))
  }

  /** The index half of [[upsert]] — no base write (the SQL DML
    * maintenance seam, [[IndexMaintain]]). Flat families record their
    * provenance here; IVF ones recorded theirs at build.
    */
  private[store] def refresh(store: TableStore, table: String,
      batch: DataFrame, pkCol: String, embCol: String): Unit = {
    registerOn(store)
    coarse match {
      case Coarse.Flat =>
        IndexMaintain.recordIfChanged(store, primaryName(table),
          provenance(table, pkCol, embCol))
        store.upsert(primaryName(table), codec.encode(
          batch.select(col(pkCol).as("pk"), col(embCol).as("e")),
          params(store, table), cellular = false), Seq("pk"))
      case c: Coarse.Ivf =>
        maintainCells(store, table, Iteration.materialize(
          c.assign(batch, store.read(centsName(table)), pkCol, embCol)))
    }
  }

  /** Encode assigned (pk, e, norm, cell, cent_e) rows and merge them
    * into the cell-partitioned index + map — only touched cells
    * rewrite.
    */
  private def maintainCells(
      store: TableStore, table: String, rows: DataFrame): Unit =
    CellIndex.maintain(store, primaryName(table), mapName(table),
      Iteration.materialize(
        codec.encode(rows, params(store, table), cellular = true)))

  private def params(store: TableStore, table: String): Option[DataFrame] =
    paramsName(table).map(store.read)

  /** Top-k over the persisted index: (query_id, rnk, cand_id, score),
    * the score column named by the codec. Under IVF each query probes
    * its `nprobe` nearest cells and the scan prunes to them.
    */
  def annTopK(store: TableStore, table: String, queries: DataFrame,
      pkCol: String, embCol: String, k: Int,
      nprobe: Int = Nprobe): DataFrame =
    search(store, table, queries, pkCol, embCol, k, nprobe, None)

  /** Filtered top-k: candidates restricted to the pks in `allowed`
    * (one column) — the PRE-filter design: the predicate semi-joins
    * the (cell-pruned) scan BEFORE scoring, so cost is
    * selectivity-proportional and k results return whenever k
    * matches exist in the probed cells. (Post-filtering a fixed-depth
    * result returns FEWER than k whenever the predicate is rarer than
    * 1/depth — the classic filtered-ANN failure.) Trained parameters
    * are untouched: an index property never depends on a predicate.
    * Under IVF, allowed rows in UNPROBED cells are invisible, and the
    * more selective the predicate the fewer probed rows survive — so
    * filtered searches probe 2× wider by default (the FAISS
    * selectivity rule of thumb); at |allowed| ≈ k, brute-force the
    * allowed rows instead of the index.
    */
  def annTopKFiltered(store: TableStore, table: String, queries: DataFrame,
      pkCol: String, embCol: String, k: Int, allowed: DataFrame,
      nprobe: Int = FilteredNprobe): DataFrame =
    search(store, table, queries, pkCol, embCol, k, nprobe, Some(allowed))

  /** Two-stage serving search: a `depth` shortlist from this index,
    * then exact cosine over the shortlist's full-precision base rows
    * ([[exactRerank]]). Returns (query_id, rnk, cand_id, cos).
    */
  def rerank(store: TableStore, table: String, queries: DataFrame,
      pkCol: String, embCol: String, k: Int, depth: Int,
      nprobe: Int = Nprobe, allowed: Option[DataFrame] = None): DataFrame = {
    val shortlist =
      search(store, table, queries, pkCol, embCol, depth, nprobe, allowed)
        .select(col("query_id"), col("cand_id"))
    exactRerank(store, table, queries, shortlist, pkCol, embCol, k)
  }

  /** The shared top-k skeleton (the incremental top-k similarity
    * framework's shape): codec scorer × coarse candidate scan, one
    * WindowGroupLimit top-k per query, ties to the lower candidate pk.
    * The scan reads only stored per-pk rows; the query side broadcasts.
    */
  private def search(store: TableStore, table: String, queries: DataFrame,
      pkCol: String, embCol: String, k: Int, nprobe: Int,
      allowed: Option[DataFrame]): DataFrame = {
    registerOn(store)
    val q = queries.select(col(pkCol).as("query_id"), col(embCol).as("qe"))
      .withColumn("qnorm", sqrt(dot(col("qe"), col("qe"))))
    val scanAll = store.read(primaryName(table)).withColumnRenamed("pk", "cand_id")
    val (probes, scan0) = coarse match {
      case Coarse.Flat => (None, scanAll)
      case c: Coarse.Ivf =>
        val probes = c.probe(q, store.read(centsName(table)), nprobe)
        // literal cell list → directory-level partition pruning
        val cells = probes.select(col(CellCol)).distinct()
          .collect().map(_.getLong(0)).toSeq
        (Some(probes), scanAll.filter(col(CellCol).isin(cells: _*))
          .withColumn(CellCol, col(CellCol).cast("long")))
    }
    val scan = allowed.fold(scan0)(
      AnnFilter.semiJoinAllowed(scan0, _, "cand_id"))
    val (side, score) = codec.scorer(q, probes, params(store, table))
    val scored = probes match {
      case None => scan.crossJoin(broadcast(side))
      case Some(_) => scan.join(broadcast(side), Seq(CellCol))
        .filter(col("cand_id") =!= col("query_id"))
    }
    val scoreCol = codec.scoreCol(cellular)
    val order = if (codec.descending) col(scoreCol).desc else col(scoreCol)
    scored
      .select(col("query_id"), col("cand_id"), score.as(scoreCol))
      // a NULL score is a degenerate row no scorer would rank — absent
      .filter(col(scoreCol).isNotNull)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(order, col("cand_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("cand_id"), col(scoreCol))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Integrity findings for this family's index on `table` (Doctor's
    * per-family check): IVF centroids present, the codec's parameters
    * present and matching every stored row, the pk → cell map mirroring
    * the cell partitions, and count coverage of the base table.
    */
  private[store] def check(store: TableStore, table: String,
      names: Set[String]): Seq[Doctor.Issue] = {
    val out = Seq.newBuilder[Doctor.Issue]
    def issue(problem: String): Unit = out += Doctor.Issue(name, table, problem)
    val residualCoded = cellular && codec.params.nonEmpty
    if (cellular && !names.contains(centsName(table)))
      issue("centroids missing: assignment" +
        (if (residualCoded) ", probing, and residuals are impossible"
         else " and probing are impossible"))
    val payloadOk = codec.check(store, primaryName(table),
      paramsName(table).filter(names), cellular, issue)
    if (cellular && payloadOk) {
      // the pk → cell map must mirror the cell partitions exactly —
      // otherwise moved vectors would leave stale cells
      val idx = store.read(primaryName(table))
        .select(col("pk"), col(CellCol).cast("long"))
      store.readIfExists(mapName(table)) match {
        case None => issue("map table missing")
        case Some(m) =>
          val map = m.select(col("pk"), col(CellCol).cast("long"))
          val onlyIdx = idx.join(map, Seq("pk", CellCol), "left_anti").count()
          val onlyMap = map.join(idx, Seq("pk", CellCol), "left_anti").count()
          if (onlyIdx > 0 || onlyMap > 0)
            issue(s"map out of sync: $onlyIdx index-only / $onlyMap " +
              "map-only (pk, cell) rows — moved vectors would leave stale cells")
      }
    }
    // count parity against the base: a missing artifact row makes
    // searches silently SKIP that vector (absent, not ranked — the
    // worst failure mode, invisible to any per-row check), an extra
    // one ranks a ghost. Skipped for an index over an external corpus
    // (no in-store base).
    val cover = coverName(table)
    (store.readIfExists(table), store.readIfExists(cover)) match {
      case (Some(base), Some(art)) =>
        val (nb, na) = (base.count(), art.count())
        if (na != nb)
          issue(s"$cover covers $na of $nb base rows — searches " +
            "silently skip missing vectors and rank deleted ones " +
            "(ghost rows: heal-ghosts / delete-cascade; missing " +
            "rows: re-upsert the divergent pks or rebuild)")
      case _ => ()
    }
    out.result()
  }
}

object VectorIndex {

  /** Default probe widths: unfiltered, and 2× wider when filtered. */
  val Nprobe = 2
  val FilteredNprobe = 4

  private val CellCol = "cell"

  private def spark = org.apache.spark.sql.SparkSession.active
  private def dot(a: Column, b: Column): Column =
    graft.functions.SliceDists.dotFold(spark, a, b)
  private def sub(a: Column, b: Column): Column =
    graft.functions.SliceDists.subVec(spark, a, b)
  private def pack(c: Column): Column =
    graft.functions.SliceDists.packCodes(spark, c)
  private def signs(c: Column): Column =
    graft.functions.SliceDists.signPack(spark, c.cast("array<double>"))

  /** Plans built here can mix store-session frames with caller frames
    * from ANOTHER session (foreachBatch's isolated clone); unresolved
    * function nodes resolve against the ROOT frame's session, so the
    * store's registry must hold every kernel whichever session is
    * active at column-construction time.
    */
  private def registerOn(store: TableStore): Unit =
    graft.functions.GraftFunctions.registerAll(store.spark)

  /** What a residual codec encodes under IVF: e − centroid[cell]. */
  private def residual: Column = sub(col("e"), col("cent_e"))

  sealed trait Coarse
  object Coarse {

    case object Flat extends Coarse

    final case class Ivf(kCells: Int = 16, iters: Int = 3) extends Coarse {

      def train(emb: DataFrame, pkCol: String, embCol: String): DataFrame =
        Kmeans.train(
          emb.select(col(pkCol).as("vec_id"), col(embCol).as("e")),
          kCells, iters)
          .withColumn("cent_norm", sqrt(dot(col("cent_e"), col("cent_e"))))

      /** Nearest cell by cosine: (pk, e, norm, cell, cent_e). Broadcast
        * centroids, max_by partial agg (one row per vector crosses the
        * exchange), ties to the lower cent_id; the assigned centroid
        * rides along for residual codecs.
        */
      def assign(batch: DataFrame, cents: DataFrame,
          pkCol: String, embCol: String): DataFrame =
        batch.select(col(pkCol).as("pk"), col(embCol).as("e"))
          .withColumn("norm", sqrt(dot(col("e"), col("e"))))
          .crossJoin(broadcast(cents))
          .select(col("pk"), col("e"), col("norm"), col("cent_id"),
            col("cent_e"),
            (dot(col("e"), col("cent_e")) / (col("norm") * col("cent_norm")))
              .as("_cs"))
          .groupBy(col("pk"))
          .agg(max_by(struct(col("e"), col("norm"), col("cent_id").as(CellCol),
            col("cent_e")), struct(col("_cs"), (-col("cent_id")).as("_nc")))
            .as("_best"))
          .select(col("pk"), col("_best.e").as("e"), col("_best.norm").as("norm"),
            col(s"_best.$CellCol").as(CellCol), col("_best.cent_e").as("cent_e"))

      /** Each query's `nprobe` max-cosine cells: (query_id, qe, qnorm,
        * cell, cent_e) — ≤ |queries|·nprobe rows, ≤ k distinct cells.
        */
      def probe(q: DataFrame, cents: DataFrame, nprobe: Int): DataFrame =
        q.crossJoin(broadcast(cents))
          .select(col("query_id"), col("qe"), col("qnorm"),
            col("cent_id").as(CellCol), col("cent_e"),
            (dot(col("qe"), col("cent_e")) / (col("qnorm") * col("cent_norm")))
              .as("_cs"))
          .withColumn("_rnk", row_number().over(
            Window.partitionBy(col("query_id"))
              .orderBy(col("_cs").desc, col(CellCol))))
          .filter(col("_rnk") <= nprobe)
          .select(col("query_id"), col("qe"), col("qnorm"),
            col(CellCol).cast("long").as(CellCol), col("cent_e"))
    }
  }

  /** What a codec contributes to the composition. */
  sealed trait Codec {

    /** Suffix of the trained parameter table, if the codec trains. */
    def params: Option[String] = None

    /** `_meta` keys a refresh needs / a rebuild additionally needs. */
    def refreshMeta: Map[String, String] = Map.empty
    def trainMeta: Map[String, String] = Map.empty

    /** The parameter table trained over (pk, r) vectors. */
    def train(vecs: DataFrame): Option[DataFrame] = None

    /** Persisted per-pk payload of (pk, e[, norm, cell, cent_e]) rows;
      * `cellular` rows keep their cell, and residual codecs encode
      * e − centroid for them.
      */
    def encode(rows: DataFrame, params: Option[DataFrame],
        cellular: Boolean): DataFrame

    /** The broadcast query side — keyed by query_id, plus cell under
      * IVF (`probes`) — and the score it gives a joined scan row.
      */
    def scorer(q: DataFrame, probes: Option[DataFrame],
        params: Option[DataFrame]): (DataFrame, Column)

    /** Score column name and whether a larger score ranks first. */
    def scoreCol(cellular: Boolean): String
    def descending: Boolean

    /** Payload integrity of `codes` against the trained parameters
      * (`params` = the table when present); false stops the map check.
      */
    private[store] def check(store: TableStore, codes: String,
        params: Option[String], cellular: Boolean,
        issue: String => Unit): Boolean = true

    /** A code table still in the pre-blob array<int> layout must be
      * NAMED, not crash the doctor pass at analysis time.
      */
    protected def legacy(store: TableStore, codes: String,
        issue: String => Unit): Boolean = {
      val t = store.read(codes).schema("codes").dataType
      val blob = t == org.apache.spark.sql.types.BinaryType
      if (!blob) issue(s"codes column is $t, not the binary blob layout — " +
        "legacy index; rebuild with buildIndex")
      !blob
    }
  }

  object Codec {

    /** The full vector and its norm; exact cosine. IVF only. */
    case object Raw extends Codec {
      def encode(rows: DataFrame, params: Option[DataFrame],
          cellular: Boolean): DataFrame =
        rows.select(col("pk"), col("e"), col("norm"), col(CellCol))
      def scorer(q: DataFrame, probes: Option[DataFrame],
          params: Option[DataFrame]): (DataFrame, Column) =
        (probes.get.select(col("query_id"), col(CellCol), col("qe"), col("qnorm")),
          dot(col("qe"), col("e")) / (col("qnorm") * col("norm")))
      def scoreCol(cellular: Boolean): String = "cosine"
      def descending: Boolean = true
    }

    /** Product quantization: `slices` codebooks of `kCodes` codewords
      * over `subDim`-dim subvectors, trained jointly for `iters` Lloyd
      * rounds; a vector persists as a `slices`-byte blob, and ADC
      * scores it as ONE native fold of its blob against the query's
      * flattened (slices × kCodes) lookup table — map-only, the corpus
      * floats never read.
      */
    final case class Pq(slices: Int = 8, subDim: Int = 8,
        kCodes: Int = 16, iters: Int = 3) extends Codec {
      override def params: Option[String] = Some("books")
      override def refreshMeta: Map[String, String] = Map(
        "slices" -> slices.toString, "subDim" -> subDim.toString)
      override def trainMeta: Map[String, String] =
        Map("kCodes" -> kCodes.toString)

      override def train(vecs: DataFrame): Option[DataFrame] = Some(
        ProductQuantizer.trainBooks(vecs, "pk", "r", slices, subDim, kCodes, iters))

      def encode(rows: DataFrame, params: Option[DataFrame],
          cellular: Boolean): DataFrame = {
        val r = rows.select(col("pk"),
          (if (cellular) residual else col("e")).as("r"))
        val codes =
          ProductQuantizer.encode(r, params.get, "pk", "r", slices, subDim)
        if (cellular) codes.join(rows.select(col("pk"), col(CellCol)), Seq("pk"))
        else codes
      }

      /** One lut_arr row per query (per probed cell under IVF, against
        * the query's residual there): qd sorted by (s, code) is the
        * s·k + code row-major order AdcDist indexes.
        */
      def scorer(q: DataFrame, probes: Option[DataFrame],
          params: Option[DataFrame]): (DataFrame, Column) = {
        val keys = if (probes.isEmpty) Seq("query_id") else Seq("query_id", CellCol)
        val qv = probes.fold(q.select(col("query_id"), col("qe").as("qv")))(
          _.select(col("query_id"), col(CellCol),
            sub(col("qe"), col("cent_e")).as("qv")))
        val lut = ProductQuantizer.subvectors(
            qv.select(struct(keys.map(col): _*).as("qk"), col("qv")),
            "qk", "qv", slices, subDim)
          .join(broadcast(params.get), Seq("s"))
          .select(keys.map(k => col(s"pk.$k").as(k)) ++ Seq(col("s"),
            col("cent_id").as("code"),
            floor(ProductQuantizer.l2sq(col("sv"), col("ce")) * 1e6)
              .cast("long").as("qd")): _*)
          .groupBy(keys.map(col): _*)
          .agg(transform(
            array_sort(collect_list(struct(col("s"), col("code"), col("qd")))),
            x => x.getField("qd")).as("lut_arr"))
        (lut, graft.functions.SliceDists.adcDist(spark, col("codes"), col("lut_arr")))
      }
      def scoreCol(cellular: Boolean): String = "adist"
      def descending: Boolean = false

      override private[store] def check(store: TableStore, codes: String,
          params: Option[String], cellular: Boolean,
          issue: String => Unit): Boolean = {
        val what = if (cellular) "residual codebooks" else "codebooks"
        params match {
          case None =>
            issue(s"$what missing: stored codes are uninterpretable")
            false
          case Some(books) =>
            // an EMPTY books table aggregates max(s) to null — a torn
            // build, reported instead of NPE-ing the whole pass
            val maxS = store.read(books).agg(max(col("s"))).head
            if (maxS.isNullAt(0)) {
              issue(s"$what table is empty: torn buildIndex — stored " +
                "codes are uninterpretable (rebuild)")
              false
            } else if (legacy(store, codes, issue)) false
            else {
              // a torn encode, or books retrained to another shape
              // without re-encoding, breaks ADC silently
              val trained = maxS.getInt(0) + 1
              val bad = store.read(codes)
                .filter(length(col("codes")) =!= trained).count()
              if (bad > 0)
                issue(s"$bad code blobs don't span the trained $trained " +
                  "subspaces — books and codes disagree (rebuild the code table)")
              true
            }
        }
      }
    }

    /** Scalar quantization (SQ8): per-dimension affine [mn, mx] →
      * [0, 255] scales trained once, a vector persisted as one byte per
      * dimension plus the norm of its RECONSTRUCTION (the dequantized
      * vector, + the centroid under IVF), stored at encode time so
      * search reads nothing else. Search is asymmetric: with
      * sc_d = (mx_d − mn_d)/255,
      *
      *   q · recon = [q·cent] + Σ_d q_d·mn_d + Σ_d (q_d·sc_d)·code_d
      *
      * — the bracketed term per probed cell, the rest per query; each
      * term 1e-6-quantizes to longs before summing. Rounding is the
      * q_int8_quant convention: floor(v + 0.5), a constant dimension
      * (mx = mn) codes to 0.
      */
    case object Sq8 extends Codec {
      override def params: Option[String] = Some("scales")

      /** Per-dimension (pos, mn, mx) scales, `pos` 1-based — one tiny
        * dims-group aggregation regardless of corpus size.
        */
      override def train(vecs: DataFrame): Option[DataFrame] = Some(
        vecs.select(posexplode(col("r")).as(Seq("p", "x")))
          .select((col("p") + 1).as("pos"), col("x"))
          .groupBy(col("pos"))
          .agg(min(col("x")).as("mn"), max(col("x")).as("mx")))

      def encode(rows: DataFrame, params: Option[DataFrame],
          cellular: Boolean): DataFrame = {
        val keys = if (cellular) Seq("pk", CellCol) else Seq("pk")
        val exploded =
          if (cellular)
            rows.withColumn("r", residual)
              .select(col("pk"), col(CellCol),
                posexplode(arrays_zip(col("r"), col("cent_e"))).as(Seq("p", "z")))
              .select(col("pk"), col(CellCol), (col("p") + 1).as("pos"),
                col("z.r").as("x"), col("z.cent_e").as("ce"))
          else
            rows.select(col("pk"), posexplode(col("e")).as(Seq("p", "x")))
              .select(col("pk"), (col("p") + 1).as("pos"), col("x"))
        val lo = if (cellular) col("ce") + col("mn") else col("mn")
        exploded.join(broadcast(params.get), Seq("pos"))
          .withColumn("code", when(col("mx") === col("mn"), lit(0))
            .otherwise(floor(
              (col("x") - col("mn")) * lit(255.0) / (col("mx") - col("mn"))
                + lit(0.5)).cast("int")))
          .withColumn("recon",
            lo + col("code").cast("double") * (col("mx") - col("mn")) / lit(255.0))
          .groupBy(keys.map(col): _*)
          .agg(
            transform(array_sort(collect_list(struct(col("pos"), col("code")))),
              x => x.getField("code")).as("codes"),
            sqrt(sum(floor(col("recon") * col("recon") * lit(1e6)).cast("long"))
              .cast("double") / lit(1e6)).as(normCol(cellular)))
          // persisted layout is the FAISS uint8 blob: 1 byte per dim in
          // Tungsten rows and on disk, the real 4×-vs-float32 density
          .select(keys.map(col) ++ Seq(pack(col("codes")).as("codes"),
            col(normCol(cellular))): _*)
      }

      private def normCol(cellular: Boolean) = if (cellular) "rnorm" else "dnorm"

      def scorer(q: DataFrame, probes: Option[DataFrame],
          params: Option[DataFrame]): (DataFrame, Column) = {
        // per-query: the pos-ordered weight array (q_d·sc_d) and Σ q_d·mn_d
        val qarr = q
          .select(col("query_id"), col("qnorm"),
            posexplode(col("qe")).as(Seq("p", "qx")))
          .select(col("query_id"), col("qnorm"), (col("p") + 1).as("pos"), col("qx"))
          .join(broadcast(params.get), Seq("pos"))
          .select(col("query_id"), col("qnorm"), col("pos"),
            (col("qx") * (col("mx") - col("mn")) / lit(255.0)).as("w"),
            (col("qx") * col("mn")).as("qmn"))
          .groupBy(col("query_id"), col("qnorm"))
          .agg(
            transform(array_sort(collect_list(struct(col("pos"), col("w")))),
              x => x.getField("w")).as("warr"),
            sum(floor(col("qmn") * lit(1e6)).cast("long")).as("qmnq"))
        val dotQ = graft.functions.SliceDists.codeDotQ(spark, col("codes"), col("warr")) +
          col("qmnq")
        probes match {
          case None =>
            (qarr, ((dotQ.cast("double") / lit(1e6))
              / (col("qnorm") * col(normCol(false)))))
          case Some(p) =>
            (p.select(col("query_id"), col(CellCol),
                floor(dot(col("qe"), col("cent_e")) * lit(1e6)).cast("long")
                  .as("qcentq"))
              .join(qarr, Seq("query_id")),
              (((dotQ + col("qcentq")).cast("double") / lit(1e6))
                / (col("qnorm") * col(normCol(true)))))
        }
      }
      def scoreCol(cellular: Boolean): String = if (cellular) "cosine" else "cos"
      def descending: Boolean = true

      override private[store] def check(store: TableStore, codes: String,
          params: Option[String], cellular: Boolean,
          issue: String => Unit): Boolean = {
        val what = if (cellular) "residual scales" else "per-dim scales"
        params.map(store.read(_).count()) match {
          case None =>
            issue(s"$what missing: stored int8 codes are uninterpretable")
            false
          case Some(0L) =>
            issue(s"$what table is empty: torn buildIndex — stored codes " +
              "are uninterpretable (rebuild)")
            false
          case Some(_) if legacy(store, codes, issue) => false
          case Some(dims) =>
            // every blob spans the trained dims (the byte domain IS
            // [0, 255], so only the length can tear) with a
            // non-negative norm — else search scores it silently wrong
            val bad = store.read(codes).filter(length(col("codes")) =!= dims.toInt ||
              col(normCol(cellular)) < 0.0).count()
            if (bad > 0)
              issue(s"$bad code rows don't fit the trained $dims-byte " +
                "layout — scales and codes disagree (rebuild the code table)")
            true
        }
      }
    }

    /** Sign bits (FAISS IndexBinaryFlat / IndexBinaryIVF): bit d set iff
      * x_d > 0, a ceil(dims/8)-byte blob, ranked by popcount-of-XOR
      * Hamming — integer-only scoring, no training, so a cold build is
      * one map-only pass and the codes never go stale. Blobs pack the
      * RAW vector's signs even under IVF: the query's own blob must
      * compare like with like, and sign(e) is cell-independent. Sign
      * bits preserve angular locality on zero-centered dims (Charikar's
      * hyperplane LSH), so the production composition is [[rerank]].
      */
    case object Sign extends Codec {
      def encode(rows: DataFrame, params: Option[DataFrame],
          cellular: Boolean): DataFrame =
        rows.select(col("pk") +: (if (cellular) Seq(col(CellCol)) else Nil) :+
          signs(col("e")).as("bits"): _*)
      def scorer(q: DataFrame, probes: Option[DataFrame],
          params: Option[DataFrame]): (DataFrame, Column) =
        (probes.fold(q.select(col("query_id"), signs(col("qe")).as("qbits")))(
          _.select(col("query_id"), signs(col("qe")).as("qbits"), col(CellCol))),
          graft.functions.SliceDists.hammingFold(spark, col("bits"), col("qbits"))
            .cast("long"))
      def scoreCol(cellular: Boolean): String = "hamming"
      def descending: Boolean = false

      /** With no trained state, only the blob width can tear: every blob
        * must pack the same dimension count, or HammingFold (rightly)
        * fails loudly mid-search.
        */
      override private[store] def check(store: TableStore, codes: String,
          params: Option[String], cellular: Boolean,
          issue: String => Unit): Boolean = {
        // a table that merely MATCHES the suffix (a user's own
        // "recycle_bin") must be NAMED, not crash the pass
        store.read(codes).schema.find(_.name == "bits") match {
          case None =>
            issue(s"$codes has no `bits` column — not a sign-blob index " +
              "layout (rename the table or rebuild the index)")
          case Some(f) if f.dataType != org.apache.spark.sql.types.BinaryType =>
            issue(s"bits column is ${f.dataType}, not the binary blob layout — " +
              "legacy or out-of-band table; rebuild with buildIndex")
          case _ =>
            val widths = store.read(codes)
              .select(length(col("bits")).as("w"))
              .groupBy(col("w")).count()
              .orderBy(desc("count"), col("w"))
              .collect() // ≤ distinct-widths rows — 1 on a healthy index
            if (widths.exists(_.isNullAt(0)))
              issue("NULL sign blobs present — torn encode or out-of-band " +
                "edit (re-upsert the affected pks)")
            val real = widths.filter(!_.isNullAt(0))
            if (real.length > 1)
              issue(s"mixed blob widths (dominant ${real.head.getInt(0)}B; " +
                s"stray ${real.tail.map(r => s"${r.getInt(0)}B×${r.getLong(1)}")
                  .mkString(", ")}) — the index mixes vectors of different " +
                "dims; rebuild")
        }
        true
      }
    }
  }

  val sq = new VectorIndex("sq", Coarse.Flat, Codec.Sq8, "kCells")
  val pq = new VectorIndex("pq", Coarse.Flat, Codec.Pq(), "kCells")
  val bin = new VectorIndex("bin", Coarse.Flat, Codec.Sign, "kCells")
  val ivf = new VectorIndex("ivf", Coarse.Ivf(), Codec.Raw, "k")
  val ivfpq = new VectorIndex("ivfpq", Coarse.Ivf(), Codec.Pq(), "kCells")
  val ivfsq = new VectorIndex("ivfsq", Coarse.Ivf(), Codec.Sq8, "kCells")
  val ivfbin = new VectorIndex("ivfbin", Coarse.Ivf(), Codec.Sign, "kCells")

  /** THE family list: name (= table suffix), composition, and the
    * `_meta` key naming its cell count. Nothing else enumerates the
    * vector families.
    */
  val families: Seq[VectorIndex] = Seq(sq, pq, bin, ivf, ivfpq, ivfsq, ivfbin)

  def byName(name: String): Option[VectorIndex] = families.find(_.name == name)

  /** The family whose primary table `idx` is, with its base table. */
  def ofPrimary(idx: String): Option[(VectorIndex, String)] =
    families.collectFirst {
      case f if idx.endsWith(s"_${f.name}") => f -> idx.stripSuffix(s"_${f.name}")
    }

  /** Drift of every IVF index holding a train-time snapshot, keyed by
    * its primary table (`<t>_<family>`) — the [[IvfDrift]] reports
    * Doctor's suggest pass turns into retrain advisories.
    */
  def driftReports(store: TableStore): Seq[(String, IvfDrift.Report)] = {
    val snap = IvfDrift.snapName(centsOf(""))
    store.tableNames.sorted.filter(_.endsWith(snap)).flatMap { s =>
      val famBase = s.stripSuffix(snap)
      driftReport(store, famBase).map(famBase -> _)
    }
  }

  def driftReport(store: TableStore, famBase: String): Option[IvfDrift.Report] =
    IvfDrift.report(store, centsOf(famBase), s"${famBase}_map")

  private def centsOf(famBase: String) = s"${famBase}_cents"

  /** Exact-cosine re-rank of a (query_id, cand_id) shortlist: the tiny
    * shortlist broadcasts INTO the base-table scan, so full-precision
    * vectors are read only for shortlisted rows and never shuffled
    * corpus-wide. Whether self matches appear is the SHORTLIST's
    * semantics, not this stage's.
    */
  private[store] def exactRerank(
      store: TableStore, table: String, queries: DataFrame,
      shortlist: DataFrame, pkCol: String, embCol: String,
      k: Int): DataFrame = {
    registerOn(store)
    val qside = queries.select(
      col(pkCol).as("query_id"), col(embCol).cast("array<double>").as("qe"))
      .withColumn("qnorm", sqrt(dot(col("qe"), col("qe"))))
    val cside = store.read(table)
      .select(col(pkCol).as("cand_id"),
        col(embCol).cast("array<double>").as("ce"))
      .withColumn("cnorm", sqrt(dot(col("ce"), col("ce"))))
    cside.join(broadcast(shortlist), Seq("cand_id"))
      .join(broadcast(qside), Seq("query_id"))
      .select(col("query_id"), col("cand_id"),
        (dot(col("qe"), col("ce")) / (col("qnorm") * col("cnorm"))).as("cos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("cand_id"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("cand_id"), col("cos"))
      .orderBy(col("query_id"), col("rnk"))
  }
}
