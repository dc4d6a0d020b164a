package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed upsert semantics without a table format (SURVEY.md §4.3.5):
  * the reference leans on sqlite-utils `insert(replace=True)` (last
  * writer wins) and `insert(ignore=True)` (first writer wins) —
  * re-expressed as union + windowed dedup over the primary key.
  *
  * Schema evolution (`alter=True` everywhere in the reference,
  * `/root/reference/utils.py:420-454`) maps to
  * `unionByName(allowMissingColumns = true)`: new columns appear,
  * missing ones null-fill.
  *
  * Scale notes: one hash shuffle on the pk; with AQE this handles skew,
  * and the window uses the same partitioning as the shuffle so no
  * second exchange. On a real lake this is the seam where a
  * Delta/Iceberg MERGE would slot in — the semantics here are
  * deliberately identical so only the sink swaps.
  */
object Upsert {

  val OrdCol = "__ord"
  private val PrecCol = "__prec"
  private val RnCol = "__rn"

  /** Ensure an explicit intra-batch ordering column exists. Batches
    * without one get ord=0 (ties broken arbitrarily but
    * deterministically by the window sort, matching "replace" where
    * batch order is unknown).
    */
  def withOrd(df: DataFrame): DataFrame =
    if (df.columns.contains(OrdCol)) df
    else df.withColumn(OrdCol, lit(0L))

  private def dedup(unioned: DataFrame, pk: Seq[String], keepFirst: Boolean): DataFrame = {
    val order: Seq[Column] =
      if (keepFirst) Seq(col(PrecCol).asc, col(OrdCol).asc)
      else Seq(col(PrecCol).desc, col(OrdCol).desc)
    val w = Window.partitionBy(pk.map(col): _*).orderBy(order: _*)
    unioned
      .withColumn(RnCol, row_number().over(w))
      .filter(col(RnCol) === 1)
      .drop(RnCol, PrecCol, OrdCol)
  }

  /** replace=True: incoming beats existing; within the batch, higher
    * `__ord` (later insert in the reference's sequential loop) wins.
    */
  def upsert(existing: Option[DataFrame], incoming: DataFrame, pk: Seq[String]): DataFrame =
    merge(existing, incoming, pk, keepFirst = false)

  /** ignore=True: existing beats incoming; within the batch, the FIRST
    * row per key wins (`/root/reference/utils.py:459-469` following
    * edges preserve first_seen).
    */
  def insertIgnore(existing: Option[DataFrame], incoming: DataFrame, pk: Seq[String]): DataFrame =
    merge(existing, incoming, pk, keepFirst = true)

  // existing rows rank below incoming ones (`__prec` 0 vs 1); dedup
  // picks the winner per key
  private def merge(existing: Option[DataFrame], incoming: DataFrame,
      pk: Seq[String], keepFirst: Boolean): DataFrame = {
    val inc = withOrd(incoming).withColumn(PrecCol, lit(1))
    val all = existing match {
      case Some(ex) =>
        withOrd(ex).withColumn(PrecCol, lit(0))
          .unionByName(inc, allowMissingColumns = true)
      case None => inc
    }
    dedup(all, pk, keepFirst)
  }
}
