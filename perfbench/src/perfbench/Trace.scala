package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Outside-in tracer: the benchmark wraps each public call it makes
  * into the program in a span, and a [[SparkListener]] attributes every
  * Spark job to a layer. Nothing inside the program is instrumented.
  *
  * A job belongs to the span that was open on the client thread when
  * it was submitted (carried as a job property). Inside a span that
  * covers several layers in one call (`TimelineIngest.run`,
  * `StreamNormalize.writeBatch`) the job goes to the innermost frame of
  * its call site that belongs to a layer module; frames of generic
  * store machinery (`TableStore`, `Upsert`, ...) are skipped, so a
  * job launched by `TableStore.upsert` on behalf of `Watermarks` counts
  * as `state.watermark`. Many jobs are submitted from Spark's own
  * worker threads, whose call site holds no program frame; for those
  * the client thread's stack is read when the job-start event arrives,
  * while the client is still blocked in the call that awaits the job.
  *
  * Driver time is span wall time not covered by any job: planning,
  * analysis and filesystem metadata. The gap before a job is charged
  * to that job's layer (it is mostly that job's planning); the gap
  * after the last job is charged to the span's own layer. Layer times
  * therefore add up to the span's wall time.
  *
  * Spans and jobs are kept in memory and summarised when the run ends.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  private final case class Span(id: Int, layer: String, split: Boolean,
      thread: Thread, start: Long, var end: Long = -1L)
  private final case class Job(span: Int, layer: String, start: Long,
      stages: Seq[Int], var end: Long = -1L)
  private final case class Stage(tasks: Int, taskMs: Long, shuffleBytes: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]
  private var lastEvent = System.nanoTime()

  sc.addSparkListener(this)

  /** Run `f` as one span of `layer`; `split` attributes its jobs by
    * call site.
    */
  def span[A](layer: String, split: Boolean = false)(f: => A): A = {
    // the listener reads `spans` on the listener-bus thread
    val s = synchronized {
      val s = Span(spans.size, layer, split, Thread.currentThread, System.currentTimeMillis())
      spans += s
      s
    }
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try f
    finally {
      synchronized { s.end = System.currentTimeMillis() }
      sc.setLocalProperty(SpanProp, prev)
    }
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    lastEvent = System.nanoTime()
    val span = Option(js.properties).flatMap(p =>
      Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
    val site = js.stageInfos.headOption.toSeq.flatMap(_.details.linesIterator)
    val layer = spans.lift(span) match {
      case Some(s) if s.split =>
        layerOf(site)
          .orElse(layerOf(s.thread.getStackTrace.toSeq.map(f => s"${f.getClassName}.")))
          .getOrElse(s.layer)
      case Some(s) => s.layer
      case None => Unspanned
    }
    jobs(js.jobId) = Job(span, layer, js.time, js.stageIds)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    lastEvent = System.nanoTime()
    jobs.get(je.jobId).foreach(_.end = je.time)
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    synchronized {
      lastEvent = System.nanoTime()
      val i = sc.stageInfo
      val m = i.taskMetrics
      val shuffle =
        if (m == null) 0L
        else m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      stages(i.stageId) = Stage(i.numTasks,
        if (m == null) 0L else m.executorRunTime, shuffle)
    }

  /** Wait until the listener bus has delivered every job's end. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    def settled = synchronized {
      jobs.values.forall(_.end >= 0) &&
        System.nanoTime() - lastEvent > 300000000L
    }
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
  }

  /** Per-layer totals: ms, driver_ms, jobs, stages, tasks, task_ms,
    * shuffle_bytes.
    */
  def summary(): Map[String, Map[String, Double]] = synchronized {
    val acc = mutable.HashMap.empty[String, mutable.HashMap[String, Double]]
    def add(layer: String, k: String, v: Double): Unit = {
      val m = acc.getOrElseUpdate(layer, mutable.HashMap.empty)
      m(k) = m.getOrElse(k, 0.0) + v
    }
    val bySpan = jobs.values.groupBy(_.span)
    spans.filter(_.end >= 0).foreach { s =>
      var cursor = s.start
      bySpan.getOrElse(s.id, Nil).toSeq.sortBy(_.start).foreach { j =>
        val end = if (j.end >= 0) j.end else s.end
        val gap = math.max(0L, j.start - cursor)
        add(j.layer, "driver_ms", gap.toDouble)
        add(j.layer, "ms", (gap + math.max(0L, end - math.max(j.start, cursor))).toDouble)
        cursor = math.max(cursor, end)
        add(j.layer, "jobs", 1)
        j.stages.flatMap(stages.get).foreach { st =>
          add(j.layer, "stages", 1)
          add(j.layer, "tasks", st.tasks)
          add(j.layer, "task_ms", st.taskMs.toDouble)
          add(j.layer, "shuffle_bytes", st.shuffleBytes.toDouble)
        }
      }
      val tail = math.max(0L, s.end - cursor)
      add(s.layer, "driver_ms", tail.toDouble)
      add(s.layer, "ms", tail.toDouble)
    }
    acc.map { case (l, m) => l -> m.toMap }.toMap
  }
}

object Trace {
  val SpanProp = "perfbench.span"
  val Unspanned = "unspanned"

  /** The layers a job can be charged to, named after their modules. */
  val Layers: Seq[String] = Seq("sources", "ingest.normalize", "store.sink",
    "state.watermark", "streaming.follow", "store.fts_search", "queries.read",
    "queries.write")
  val Fields: Seq[String] =
    Seq("ms", "driver_ms", "jobs", "stages", "tasks", "task_ms", "shuffle_bytes")

  private val modules: Seq[(String, String)] = Seq(
    "graft.state.Watermarks" -> "state.watermark",
    "graft.ingest.Normalize" -> "ingest.normalize",
    "graft.ingest.Transforms" -> "ingest.normalize",
    "graft.streaming.StreamNormalize" -> "ingest.normalize",
    "graft.ingest.TweetSink" -> "store.sink",
    "graft.sources.TimelineIngest" -> "sources",
    "graft.sources.Paginate" -> "sources")

  /** Layer of the innermost layer-module frame of a stack, innermost
    * frame first.
    */
  def layerOf(frames: Seq[String]): Option[String] =
    frames.map(_.trim).collectFirst(Function.unlift { (f: String) =>
      modules.collectFirst { case (m, l) if f.startsWith(m + ".") || f.startsWith(m + "$") => l }
    })
}
