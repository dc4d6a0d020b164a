package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

import graft.ingest.TweetSink
import graft.store.TableStore

/** Benchmark main. One JVM, one workload, one closed-loop client
  * thread on `local[nproc]`:
  *
  * {{{
  * perfbench.Main --workload timeline_sync|stream_bulk --seed N
  *   --seconds S --trace 0|1 --checkout DIR --work DIR
  * }}}
  *
  * Prints `detail {...}` lines (every metric by name with its unit,
  * host facts and sample counts) and, last, `result {...}`, the
  * object `perfbench/run.py` hands on. With `--trace 1` the run is
  * traced ([[Trace]]) and the result carries the per-layer metrics.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, checkout: String, work: String)

  /** One metric: value and unit. */
  final case class M(value: Double, unit: String)

  /** What a workload hands back to [[main]]. */
  final case class Outcome(
      e2e: Seq[(String, M)],
      detail: Seq[(String, M)],
      samples: Seq[(String, Int)],
      ops: Int,
      commits: Seq[StoreDelta])

  /** Files, bytes and epochs one commit added to the store. */
  final case class StoreDelta(files: Long, bytes: Long, epochs: Long)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cpus = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      .config("spark.local.dir", Paths.get(o.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(o.work, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = if (o.trace) Some(new Trace(spark.sparkContext)) else None
    val ctx = new Ctx(spark, o, trace)
    val out =
      try o.workload match {
        case "timeline_sync" => Workloads.timelineSync(ctx)
        case "stream_bulk" => Workloads.streamBulk(ctx)
      } catch {
        case e: Throwable =>
          // a run that throws still reports: the op counts as failed
          e.printStackTrace()
          ctx.check(s"workload threw: $e", ok = false)
          Outcome(Nil, Nil, Nil, 0, Nil)
      }
    trace.foreach(_.drain())

    val setupS = sessionS + ctx.setupSeconds
    val e2e = ("setup_s" -> M(setupS, "s")) +: out.e2e
    val errorRate = ctx.failed.toDouble / math.max(1L, ctx.attempted)
    val host = Seq(
      "nproc" -> cpus.toString,
      "mem_total_bytes" -> memTotal.toString,
      "spark_version" -> Json.str(spark.version),
      "parallelism" -> spark.sparkContext.defaultParallelism.toString,
      "seed" -> o.seed.toString,
      "workload" -> Json.str(o.workload),
      "traced" -> o.trace.toString,
      "samples" -> Json.obj(out.samples.map { case (k, v) => k -> v.toString }))
    val detailMetrics = e2e ++ out.detail ++ Seq(
      "error_rate" -> M(errorRate, "ratio"),
      "session_start_s" -> M(sessionS, "s"))
    println("detail " + Json.obj(host :+ ("metrics" -> metricsJson(detailMetrics))))
    ctx.failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))

    val metrics =
      if (!o.trace) e2e
      else trace.map(t => layerMetrics(t.summary(), out)).getOrElse(Nil)
    println("result " + Json.obj(Seq(
      "correct" -> (ctx.failed == 0).toString,
      "attempted" -> math.max(1L, ctx.attempted).toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> metricsJson(metrics))))
    spark.stop()
  }

  /** Per-layer metrics, each per op (page or micro-batch). */
  private def layerMetrics(
      s: Map[String, Map[String, Double]], out: Outcome): Seq[(String, M)] = {
    val ops = math.max(1, out.ops).toDouble
    val units = Map("ms" -> "ms/op", "driver_ms" -> "ms/op", "jobs" -> "jobs/op",
      "stages" -> "stages/op", "tasks" -> "tasks/op", "task_ms" -> "ms/op",
      "shuffle_bytes" -> "B/op")
    val layers = for {
      l <- Trace.Layers
      f <- Trace.Fields
    } yield s"$l.$f" -> M(s.get(l).flatMap(_.get(f)).getOrElse(0.0) / ops, units(f))
    val n = math.max(1, out.commits.size).toDouble
    layers ++ Seq(
      "store.files_written" -> M(out.commits.map(_.files).sum / n, "files/op"),
      "store.bytes_written" -> M(out.commits.map(_.bytes).sum / n, "B/op"),
      "store.epochs" -> M(out.commits.map(_.epochs).sum / n, "epochs/op"))
  }

  private def metricsJson(ms: Seq[(String, M)]): String =
    Json.obj(ms.map { case (k, m) =>
      k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
    })

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def memTotal: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getTotalMemorySize
      case _ => -1L
    }

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.Names.contains(w), s"unknown workload $w")
    Opts(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("checkout"), need("work"))
  }
}

/** Run state shared by the workloads: session, options, tracer and the
  * correctness tally.
  */
final class Ctx(val spark: SparkSession, val o: Main.Opts, val trace: Option[Trace]) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var setupSeconds = 0.0

  def span[A](layer: String, split: Boolean = false)(f: => A): A =
    trace.fold(f)(_.span(layer, split)(f))

  /** One checked outcome: counts as attempted, and as failed unless ok. */
  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      failures += what
    }
  }

  /** A fresh, empty store with the tweet tables governed. */
  def freshStore(name: String): TableStore = {
    val dir = Paths.get(o.work, name)
    Files.createDirectories(dir)
    val store = new TableStore(spark, dir.toString)
    store.ensureGoverned(TweetSink.Tables)
    store
  }

  /** Run the workload's set-up, adding its time to `setup_s`. */
  def setup[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f
    finally setupSeconds += (System.nanoTime() - t0) / 1e9
  }
}

/** Filesystem view of a store directory, for per-commit deltas. */
object Disk {
  def files(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try {
        val b = Map.newBuilder[String, Long]
        s.filter(Files.isRegularFile(_)).forEach((f: Path) => b += f.toString -> Files.size(f))
        b.result()
      } finally s.close()
    }
  }

  def bytes(root: String): Long = files(root).valuesIterator.sum
}

/** Minimal JSON writing for the output lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
