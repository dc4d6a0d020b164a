package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.Row

import graft.store.{Bin, TableStore}

/** Streaming near-duplicate detection through the BINARY sign-bit
  * index — the third member of the embedding-dedup family and the
  * one with the cheapest per-batch screen:
  *
  *  - [[StreamEmbedDup]] probes IVF cells (needs trained centroids,
  *    reads float vectors in the probed cells);
  *  - [[StreamSemanticDedup]] screens through IVF+PQ ADC codes;
  *  - THIS screens every arriving vector against the WHOLE corpus's
  *    8-byte sign blobs by integer Hamming — a map-only popcount
  *    scan at 32× fewer bytes than floats, which is exactly what
  *    makes a full-corpus screen per micro-batch affordable. No
  *    cells, no training, no stale-centroid question: like the
  *    [[Bin]] index itself, the stream can COLD-START the whole
  *    loop on an empty store.
  *
  * Per micro-batch:
  *  1. maintain `<t>_bin` + the base table (O(batch),
  *     [[Bin.upsertWithCodes]]);
  *  2. screen: batch blobs broadcast against the blob-table scan,
  *     keep candidates within `radius` sign-bit flips (the recall
  *     knob — sign bits track angle on zero-centered dims, so small
  *     radii catch near-twins);
  *  3. verify survivors by EXACT cosine — the tiny suspect set
  *     broadcasts into the base-table scan, so full-precision
  *     vectors are read only for suspects and never shuffled;
  *  4. record pairs ≥ threshold in `<t>_bin_dups`, insert-ignore on
  *     the ordered pair — redelivered batches converge.
  *
  * State lives in the store's blob table, not the state store:
  * near-dup candidacy needs the whole corpus, not a
  * watermark-bounded window (the [[StreamNearDup]] argument).
  */
object StreamBinDup {

  def dupsName(table: String): String = s"${Bin.codesName(table)}_dups"

  /** foreachBatch handler: maintain blobs, screen, verify, record.
    *
    * Function registration targets the STORE's session explicitly:
    * inside foreachBatch `SparkSession.active` is the micro-batch's
    * isolated clone, but the screen/verify plans are rooted in
    * `store.read` frames and resolve against the store session's
    * registry — registering on the active clone leaves
    * `hamming_fold` unresolved there (pinned by StreamBinDupSpec,
    * which runs this loop on a registry-cold session).
    */
  def binDupSink(
      store: TableStore, table: String, pkCol: String, embCol: String,
      radius: Int, threshold: Double): (DataFrame, Long) => Unit =
    (batch, _) =>
      if (!batch.isEmpty) {
        // both sessions: plans here mix store-session frames
        // (store.read) with batch-session frames (the micro-batch's
        // isolated clone, registry-cloned at STREAM START — cold).
        // On an extensions-configured session (GraftExtensions) this
        // is a no-op — injected functions already resolve everywhere.
        Seq(store.spark, batch.sparkSession)
          .foreach(graft.functions.GraftFunctions.registerAll)
        def dot(a: Column, b: Column): Column =
          graft.functions.SliceDists.dotFold(store.spark, a, b)
        def ham(a: Column, b: Column): Column =
          graft.functions.SliceDists.hammingFold(store.spark, a, b)
        Bin.upsertWithCodes(store, table, batch, pkCol, embCol)
        // Hamming screen: batch blobs (tiny) broadcast against the
        // full blob table — map-only popcount, no shuffle
        val qside = Bin.encode(batch, pkCol, embCol)
          .select(col("pk").as("qpk"), col("bits").as("qbits"))
        val suspects = store.read(Bin.codesName(table))
          .select(col("pk").as("cand"), col("bits"))
          .crossJoin(broadcast(qside))
          .filter(col("cand") =!= col("qpk"))
          .filter(ham(col("bits"), col("qbits")) <= radius)
          .select(col("qpk"), col("cand"))
        // exact verify: suspects broadcast INTO the base scan — float
        // vectors read only for suspects, never shuffled corpus-wide
        val base = store.read(table)
          .select(col(pkCol).as("pk"),
            col(embCol).cast("array<double>").as("e"))
          .withColumn("norm", sqrt(dot(col("e"), col("e"))))
        val qvecs = batch
          .select(col(pkCol).as("qpk"),
            col(embCol).cast("array<double>").as("qe"))
          .withColumn("qnorm", sqrt(dot(col("qe"), col("qe"))))
        val pairs = base
          .join(broadcast(suspects), base("pk") === suspects("cand"))
          .join(broadcast(qvecs), Seq("qpk"))
          .filter(dot(col("qe"), col("e")) / (col("qnorm") * col("norm"))
            >= threshold)
          .select(least(col("qpk"), col("pk")).as("vec_a"),
            greatest(col("qpk"), col("pk")).as("vec_b"))
          .distinct()
        store.insertIgnore(dupsName(table), pairs, Seq("vec_a", "vec_b"))
      }

  /** Wire a streaming (pk, embedding, …) frame into the sink. */
  def writeBinDupIndexed(
      vectors: DataFrame, store: TableStore, table: String,
      pkCol: String, embCol: String, checkpointDir: String,
      radius: Int = 8, threshold: Double = 0.9): StreamingQuery = {
    val writer: DataStreamWriter[Row] = vectors.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
    writer.foreachBatch(binDupSink(store, table, pkCol, embCol,
      radius, threshold)).start()
  }
}
