package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Test double for the commit log's ONE atomicity seam
  * ([[CommitLog.putIfAbsent]]): an object-store style
  * put-if-absent with NO rename anywhere — the semantics of an S3
  * conditional PUT (`If-None-Match: *`) driven through the client
  * retry loop a real SDK runs:
  *
  *  - TRANSIENT FAILURES (HTTP 500 before any durable effect): the
  *    next `transientFailures` attempts are dropped internally and
  *    retried — callers never see them.
  *  - DUPLICATED REQUESTS (lost 200): with `duplicateRequests` on,
  *    every successful PUT is re-sent; the retry observes 412 and
  *    reconciles by comparing the object's bytes with its own payload
  *    — ours ⇒ we won, someone else's ⇒ the OCC conflict signal.
  *    Content compare is sound here because pointer contents embed
  *    per-writer entry filenames (the writerTag), so two writers can
  *    never publish identical bytes for the same epoch.
  *
  * The contract under test is exactly the scaladoc's: return true iff
  * this writer's content is now `dst`; false iff another writer's
  * already was (tmp cleaned up either way); throw only when the
  * commit's visibility is genuinely unknown.
  */
class S3SeamStore(spark: SparkSession, root: String)
    extends TableStore(spark, root) {

  private val hfs = new Path(root).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  /** Per-put attempts to drop with a simulated 500 before any durable
    * effect (the SDK retry loop absorbs them).
    */
  @volatile var transientPerPut: Int = 0
  /** Simulate a lost success response on EVERY put (worst case). */
  @volatile var duplicateRequests: Boolean = true
  /** Observability for the spec: total puts, 412-reconciled puts. */
  val puts = new java.util.concurrent.atomic.AtomicLong()
  val reconciled = new java.util.concurrent.atomic.AtomicLong()

  private def readAll(p: Path): Array[Byte] = {
    val in = hfs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](8192)
      var n = in.read(tmp)
      while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      buf.toByteArray
    } finally in.close()
  }

  /** One conditional PUT against the "object store": create-if-absent
    * + write. Returns true on 200, false on 412 (dst already exists).
    */
  private def conditionalPut(bytes: Array[Byte], dst: Path): Boolean =
    try {
      val out = hfs.create(dst, false)
      try out.write(bytes) finally out.close()
      true
    } catch {
      case e: java.io.IOException =>
        if (hfs.exists(dst)) false else throw e
    }

  /** The log whose put-if-absent is [[conditionalPutIfAbsent]]. */
  override lazy val log: CommitLog = new CommitLog(this) {
    override protected[store] def putIfAbsent(tmp: Path, dst: Path): Boolean =
      conditionalPutIfAbsent(tmp, dst)
  }

  private def conditionalPutIfAbsent(tmp: Path, dst: Path): Boolean = {
    val bytes = readAll(tmp)
    try {
      var drops = transientPerPut
      var result: Option[Boolean] = None
      while (result.isEmpty) {
        if (drops > 0) {
          // 500 before anything durable: the SDK retries silently
          drops -= 1
        } else if (conditionalPut(bytes, dst)) {
          if (duplicateRequests) {
            // lost 200: the SDK re-sends, sees 412, reconciles
            reconciled.incrementAndGet()
            result = Some(java.util.Arrays.equals(readAll(dst), bytes))
          } else result = Some(true)
        } else {
          // 412 on the FIRST visible attempt: either a genuine loser
          // or an earlier duplicated attempt of ours landed — the
          // content compare distinguishes them
          result = Some(java.util.Arrays.equals(readAll(dst), bytes))
        }
      }
      puts.incrementAndGet()
      result.get
    } finally hfs.delete(tmp, false)
  }
}

object S3SeamStore {
  /** A store whose every commit flip crosses a transient 500 AND a
    * duplicated request — the flakiest configuration that must still
    * satisfy the seam contract.
    */
  def flaky(spark: SparkSession, root: String): S3SeamStore = {
    val s = new S3SeamStore(spark, root)
    s.duplicateRequests = true
    s.transientPerPut = 1
    s
  }
}

/** The double itself honors the seam contract and actually exercises
  * the injected failure modes (rather than silently taking the happy
  * path).
  */
class S3SeamContractSpec extends graft.SparkSpec {
  import spark.implicits._

  test("every flip crosses a 500 and a duplicated request, and still commits exactly once") {
    val root = java.nio.file.Files.createTempDirectory("graft-s3").toString
    val s = S3SeamStore.flaky(spark, root)
    s.ensureGoverned(Seq("t"))
    s.upsert("t", Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    s.upsert("t", Seq((2L, "b")).toDF("id", "v"), Seq("id"))
    assert(s.puts.get() >= 2)
    assert(s.reconciled.get() === s.puts.get(),
      "duplicate-request reconciliation was never exercised")
    // a plain store over the same root reads the committed state —
    // the seam override changed HOW the pointer lands, not the log
    val reader = new TableStore(spark, root)
    assert(reader.read("t").count() === 2L)
    // no half-visible commits, no leftover tmp pointers
    assert(reader.log.epochs().size === s.log.epochs().size)
  }
}
