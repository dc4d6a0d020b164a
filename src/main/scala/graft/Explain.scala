package graft

import org.apache.spark.sql.SparkSession

/** Plan auditor: prints the formatted physical plan for selected
  * queries so pushdown / broadcast / codegen decisions can be
  * reviewed. Usage:
  *   tools/run_main.sh graft.Explain [query ...]
  *   tools/run_main.sh graft.Explain --stats <storeRoot> <table> [col:lo:hi ...]
  * The --stats mode prints the MANIFEST-driven cardinality estimate
  * for a (optionally range-predicated) scan — file counts and row
  * totals answered from `_graft_stats` presence rows with zero data
  * I/O (FileManifest.estimateRows; the reference's A3 progress
  * estimate promoted to the query layer).
  */
object Explain {

  /** The --stats report, separated from main for spec coverage. One
    * manifest pass (FileManifest.statsSummary), zero data I/O.
    */
  def statsReport(
      store: graft.store.TableStore, table: String,
      preds: Seq[(String, Long, Long)]): String =
    graft.store.FileManifest.statsSummary(store, table, preds) match {
      case None =>
        s"$table: no stats manifest with row counts — run refresh-stats " +
          "to (re)build it"
      case Some((est, total, kept, all)) =>
        val predStr =
          if (preds.isEmpty) "(no predicates)"
          else preds.map { case (c, lo, hi) => s"$c in [$lo, $hi]" }
            .mkString(" AND ")
        s"$table $predStr: estimated rows = $est of $total total " +
          s"(files kept = $kept of $all); estimate is exact for the " +
          "file-level scan, an upper bound after the row filter"
    }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions",
        classOf[graft.functions.GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (args.headOption.contains("--stats")) {
      val store = new graft.store.TableStore(spark, args(1))
      val preds = args.drop(3).toSeq.map { p =>
        val Array(c, lo, hi) = p.split(":")
        (c, lo.toLong, hi.toLong)
      }
      println(statsReport(store, args(2), preds))
      spark.stop()
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
