package graft

import org.apache.spark.sql.SparkSession

import graft.ingest.Archive
import graft.store.{FileManifest, Fts, Lsh, SqliteCompat, TableStore, VectorIndex}

/** Thin command surface mirroring the reference CLI's offline
  * commands (the network-bound commands — user-timeline, search,
  * track — need an API fetch function injected; see
  * graft.sources.TimelineIngest / graft.streaming.StreamNormalize):
  *
  *   import <store> <zip|dir|file.js>...   archive ETL (K4)
  *   ensure-tables <store> [buckets]       seed type tables (K3) and,
  *                                         with buckets, declare the
  *                                         pk-bucket layout for the
  *                                         grow-forever tweets/users
  *                                         tables BEFORE first write
  *   save-tweets <store> <tweets.json> [buckets]  batch save_tweets
  *                                         (K1); buckets declares the
  *                                         bucketed layout on a fresh
  *                                         store first
  *   fts-index <store> <table> <pk> <text> [buckets]  build FTS index
  *                                         (buckets>0: pk-hash
  *                                         partitioned postings;
  *                                         text may be col1,col2,...
  *                                         for a multi-column index)
  *   fts-search <store> <table> <query>    boolean MATCH search
  *   fts-ranked <store> <table> <query>    BM25-ranked search
  *   fts-highlight <store> <table> <pk> <column|-> <query...>
  *                                         highlight() matches ('-' =
  *                                         the single indexed column)
  *   fts-snippet <store> <table> <pk> <column|-> <ntok> <query...>
  *                                         snippet() best window
  *   <fam>-index <store> <table> <pk> <emb> [k] [iters]
  *                                         build a VectorIndex family
  *                                         (fam = a family name; k =
  *                                         cells under IVF, codebook
  *                                         size for flat PQ)
  *   <fam>-search <store> <table> <pk> <emb> <qid> [topk] [nprobe]
  *   <fam>-search-filtered <store> <table> <pk> <emb> <qid> <k>
  *       <predCol> <predVal>               top-k among base rows with
  *                                         predCol = predVal
  *   <fam>-rerank <store> <table> <pk> <emb> <qid> [topk] [depth]
  *       [nprobe]                          sign-bit families: Hamming
  *                                         shortlist → exact cosine
  *   tri-index <store> <table> <pk> <text>  trigram postings (substring accel)
  *   tri-search <store> <table> <pk> <text> <needle...>
  *   tri-match <store> <table> <pk> <text> <query...>  boolean substring
  *                                         MATCH (AND/OR/NOT/parens)
  *   lsh-index <store> <table> <pk> <text> [nHashes] [bands] [buckets]
  *                                         build the MinHash band index
  *   lsh-pairs <store> <table> [pk...]     near-dup candidate pairs —
  *                                         all pairs, or only those
  *                                         touching the given pks
  *                                         (bucket-pruned probe)
  *   dedup-stream <store> <table> <pk> <text>  exact-dedup a table
  *   fetch <url> <auth.json>               authenticated GET, pretty-
  *                                         printed (S16, cli.py:39-52)
  *   auth <auth.json>                      prompt + save credentials
  *                                         (S17, cli.py:55-83)
  *   bucketize <store> <table> <pk,...> <buckets>  convert to the
  *                                         pk-bucket layout (O(batch)
  *                                         upserts thereafter)
  *   prune-files <store> <table> <col:lo:hi,...>  files a stats-aware
  *                                         scan opens for the ranges
  *   compact <store> <table> [sortCol,...] bin-pack fragmented files
  *                                         (optionally sort-clustered)
  *   compact-z <store> <table> <bits> <col,...>  Z-order rewrite
  *                                         (multi-dim file skipping)
  *   classify <store> <modelBase> <docsTable> <idCol> <textCol> [n]
  *                                         score a table against the
  *                                         maintained streaming
  *                                         centroid quality model
  *   hh-top <store> <table> [n]            streaming heavy-hitter counters
  *   doctor <store> [--suggest [--retention <ms>]] [--repair]
  *                                         index integrity checks;
  *                                         --suggest adds maintenance
  *                                         (--retention <ms> predicts
  *                                         whether vacuumEpochs(ms)
  *                                         breaks a consumer's
  *                                         rewrite-skipping window)
  *                                         advice (fragmented tables
  *                                         + the compact command that
  *                                         clears them); --repair
  *                                         EXECUTES the suggested
  *                                         compactions (layout-aware:
  *                                         z-ordered tables keep
  *                                         their clustering)
  *   index-retrain <store> <famBase>       re-run the recorded
  *                                         buildIndex for a drifted
  *                                         IVF family (famBase =
  *                                         <table>_<family>); doctor
  *                                         --repair
  *                                         runs the same loop for
  *                                         every flagged index
  *   vacuum-epochs <store> [minutes]       reclaim replaced-epoch
  *                                         files; a retention window
  *                                         keeps commits current
  *                                         within the last N minutes
  *                                         so in-flight readers finish
  *   tag <store> <name> [epoch]            pin a named release epoch
  *                                         (a vacuum root until
  *                                         drop-tag); tags/show-tag/
  *                                         drop-tag manage and read it
  *   diff-epochs <store> <table> <from> [to] [n]  incremental scan:
  *                                         rows of files added
  *                                         between two retained
  *                                         epochs (catch-up read)
  *   consume <store> <table> <consumer> [n]  deliver-and-advance for
  *                                         a named incremental
  *                                         consumer (cursor epochs
  *                                         pin vacuum; drop-consumer
  *                                         releases)
  *   history <store> <table> <from> [to]   commits that changed the
  *                                         table, with WHY (op tags:
  *                                         upsert/compact/overwrite/…)
  *   changes <store> <table> <from> <to> <pk[,…]> [n]  row-level
  *                                         change feed: insert/delete
  *                                         tagged rows; compactions
  *                                         emit nothing
  *   consume-changes <store> <table> <consumer> <pk[,…]> [n]  the CDC
  *                                         form of consume (mirrors
  *                                         can retract deletes)
  *   delete <store> <table> <pkCol> <v[,…]>  delete rows by pk
  *                                         (O(touched buckets) when
  *                                         bucketed; op-tagged)
  *   fts-delete <store> <table> <pkCol> <v[,…]> [buckets]  delete
  *                                         rows AND postings, corpus
  *                                         stats decremented
  *   delete-cascade <store> <table> <pkCol> <v[,…]>  delete rows and
  *                                         retract them from EVERY
  *                                         maintained index (no ghosts)
  *   follow-fts <store> <table> <consumer> <pkCol> <textCol> [buckets]
  *                                         drain the change feed into
  *                                         an FTS mirror (CDC, cursor-
  *                                         checkpointed, ghost-free)
  *   heal-ghosts <store> <table> <pkCol>   retract index rows whose pk
  *                                         left the base (the safe half
  *                                         of a coverage divergence)
  *   release <store> <name>                tag the current epoch AND
  *                                         print every governed
  *                                         table's content
  *                                         fingerprint (the dataset-
  *                                         release one-liner)
  *   build-corpus <store> <sfDir> <name> [budget]
  *                                         the COMPOSED corpus build:
  *                                         scrub → keep-best dedup →
  *                                         decontaminate → token-
  *                                         budget mixture → governed
  *                                         write → tag + fingerprint
  *   tables <store>                        list tables + counts
  *   show <store> <table> [n]              rows (sqlite-compat form)
  *
  * Read-only verbs on a governed store run inside ONE withSnapshot
  * scope (see [[ReadOnlyVerbs]]): multi-table reads cannot straddle a
  * concurrent commit flip.
  */
object Cli {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: <command> <store> [args...]")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      // functions + SQL UPDATE/MERGE interception for the `sql` verb
      .config("spark.sql.extensions",
        classOf[graft.functions.GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args)
    finally spark.stop()
  }

  /** The verb dispatch, session-agnostic so CliSpec can drive every
    * verb in-process against the shared test session (main owns the
    * session lifecycle; run never stops it).
    */
  /** Verbs that only READ the store — on a governed store these run
    * inside one [[TableStore.withSnapshot]] scope, so a verb that
    * touches several tables (an FTS search reads index + stats, a
    * hybrid search reads two index families + the base table) can
    * never straddle a concurrent writer's commit flip; the
    * reference's single SQLite connection gives the same guarantee
    * for free.
    */
  private val ReadOnlyVerbs: Set[String] = Set(
    "fts-search", "fts-ranked", "fts-highlight", "fts-snippet",
    "tri-search", "tri-match", "lsh-pairs", "lsh-pairs-filtered",
    "hybrid-search", "hh-top", "quantiles", "classify", "estimate", "prune-files",
    "fingerprint", "tables", "show", "epochs", "tags", "show-tag",
    "show-epoch", "diff-epochs", "history", "changes") ++
    VectorIndex.families.flatMap(f =>
      VectorVerb.verbs(f).filter(_ != "index").map(v => s"${f.name}-$v"))

  /** `<family>-<verb>` over [[VectorIndex.families]]: index, search and
    * search-filtered for every family, rerank for the sign-bit ones.
    */
  private object VectorVerb {
    def verbs(f: VectorIndex): Seq[String] =
      Seq("index", "search", "search-filtered") ++
        (if (f.codec == VectorIndex.Codec.Sign) Seq("rerank") else Nil)
    def unapply(cmd: String): Option[(VectorIndex, String)] =
      VectorIndex.families.flatMap(f =>
        verbs(f).filter(v => cmd == s"${f.name}-$v").map(f -> _)).headOption
  }

  def run(spark: SparkSession, args: Array[String]): Unit = {
    val cmd = args(0)
    val store = new TableStore(spark, args(1))

    if (ReadOnlyVerbs(cmd) && store.governed.nonEmpty)
      store.withSnapshot(dispatch(spark, store, cmd, args))
    else dispatch(spark, store, cmd, args)
  }

  private def dispatch(
      spark: SparkSession, store: TableStore, cmd: String,
      args: Array[String]): Unit = {
    cmd match {
      case "import" =>
        args.drop(2).foreach { path =>
          val tables = Archive.importPath(spark, store, path)
          println(s"[import] $path -> ${tables.mkString(", ")}")
        }
      case "ensure-tables" =>
        graft.state.Watermarks.ensureTypeTables(spark, store)
        args.lift(2).map(_.toInt).foreach { b =>
          store.ensureBucketed("tweets", Seq("id"), b)
          store.ensureBucketed("users", Seq("id"), b)
        }
        println(s"[ensure-tables] type tables seeded" +
          args.lift(2).map(b =>
            s"; tweets/users declared bucketed ($b)").getOrElse(""))
      case "save-tweets" =>
        args.lift(3).map(_.toInt).foreach { b =>
          store.ensureBucketed("tweets", Seq("id"), b)
          store.ensureBucketed("users", Seq("id"), b)
        }
        val raw = spark.read.option("multiLine", true)
          .schema(graft.schema.TwitterSchemas.tweet(2)).json(args(2))
        val tables = graft.ingest.Normalize.saveTweets(raw)
        graft.ingest.TweetSink(store, tables,
          Some(graft.sources.TimelineIngest.utcNowIso()))
        println(s"[save-tweets] ${store.read("tweets").count()} tweets total")
      case "fts-index" =>
        val buckets = if (args.length > 5) args(5).toInt else 0
        Fts.upsertWithIndexCols(store, args(2), store.read(args(2)), args(3),
          args(4).split(",").toSeq, buckets)
        println(s"[fts-index] ${store.read(Fts.indexName(args(2))).count()} postings")
      case "delete" =>
        // delete <store> <table> <pkCol> <v1[,v2…]> — delete rows by
        // pk: O(touched buckets) on a declared layout; op-tagged so
        // the change feed retracts exactly these pks downstream
        import spark.implicits._
        val vals = args(4).split(",").toSeq
        val keys = scala.util.Try(vals.map(_.toLong)).toOption match {
          case Some(ls) => ls.toDF(args(3))
          case None => vals.toDF(args(3))
        }
        store.deleteByPk(args(2), keys, Seq(args(3)))
        println(s"[delete] ${vals.size} pk(s) from ${args(2)}")
      case "fts-delete" =>
        // fts-delete <store> <table> <pkCol> <v1[,v2…]> [buckets] —
        // delete rows AND their postings (stats decremented); pass the
        // index's bucket count for the O(affected buckets) path
        import spark.implicits._
        val vals = args(4).split(",").toSeq
        val keys = scala.util.Try(vals.map(_.toLong)).toOption match {
          case Some(ls) => ls.toDF(args(3))
          case None => vals.toDF(args(3))
        }
        val buckets = if (args.length > 5) args(5).toInt else 0
        Fts.deleteWithIndex(store, args(2), keys, args(3), buckets)
        println(s"[fts-delete] ${vals.size} pk(s) from ${args(2)} + postings")
      case "delete-cascade" =>
        // delete-cascade <store> <table> <pkCol> <v1[,v2…]> — delete
        // rows from the base table AND retract them from EVERY
        // maintained per-pk index (FTS/trigram/LSH postings, the ANN
        // codes ladder) so nothing ranks ghosts; Doctor stays clean
        import spark.implicits._
        val vals = args(4).split(",").toSeq
        val keys = scala.util.Try(vals.map(_.toLong)).toOption match {
          case Some(ls) => ls.toDF(args(3))
          case None => vals.toDF(args(3))
        }
        val touched = graft.store.Retract.cascade(store, args(2), keys, args(3))
        println(s"[delete-cascade] ${vals.size} pk(s) from ${args(2)} + " +
          s"${touched.size} index table(s): ${touched.mkString(", ")}")
      case "heal-ghosts" =>
        // heal-ghosts <store> <table> <pkCol> — retract from every
        // maintained index the pks no longer present in the base table
        // (the safe half of a coverage divergence: ghost rows only
        // rank deleted docs; missing rows still need a re-upsert)
        val healed = graft.store.Retract.healGhosts(store, args(2), args(3))
        if (healed.isEmpty) println(s"[heal-ghosts] ${args(2)}: no ghosts")
        else healed.foreach { case (idx, n) =>
          println(s"[heal-ghosts] $idx: retracted $n ghost pk(s)") }
      case "follow-fts" =>
        // follow-fts <store> <table> <consumer> <pkCol> <textCol>
        // [buckets] — drain the table's row-level change feed into an
        // FTS-indexed mirror `<table>_mirror` (inserts upsert+reindex,
        // deletes retract rows AND postings — never ghosts), advancing
        // the named cursor: the one-command CDC mirror. Run it from
        // cron or wrap EpochStream.start around the same pieces for a
        // continuous query.
        val (table, consumer, pkCol, textCol) =
          (args(2), args(3), args(4), args(5))
        val buckets = if (args.length > 6) args(6).toInt else 0
        val mirror = s"${table}_mirror"
        val n = graft.streaming.EpochStream.processAvailable(
          store, table, consumer, Some(Seq(pkCol))) { ch =>
          graft.store.Fts.applyChanges(store, mirror, ch, pkCol,
            Seq(textCol), buckets)
        }
        println(s"[follow-fts] $n batch(es) applied to $mirror for $consumer")
      case "sql" =>
        // sql <store> <statement> [maxRows] — mount the store as the
        // `graft` SQL catalog and run one statement: SELECT over any
        // governed table (incl. `t$history`/`t$files`/`t$tags`/
        // `t$cursors` metadata tables and `VERSION AS OF <epoch>` time
        // travel), the full write/DDL lifecycle (CREATE/CTAS, INSERT
        // INTO/OVERWRITE, UPDATE, DELETE, MERGE INTO [WITH SCHEMA
        // EVOLUTION], TRUNCATE, ALTER TABLE ADD COLUMN, DROP TABLE
        // [PURGE]) routed through the store's write discipline, and
        // `CALL graft.system.<proc>` maintenance. One root per
        // session (Spark caches the catalog instance on first
        // reference).
        spark.conf.set("spark.sql.catalog.graft",
          classOf[graft.sql.GraftCatalog].getName)
        spark.conf.set("spark.sql.catalog.graft.root", args(1))
        val out = spark.sql(args(2))
        if (out.columns.nonEmpty)
          out.show(args.lift(3).map(_.toInt).getOrElse(20), truncate = false)
      case VectorVerb(f, verb) =>
        // <fam>-index <store> <table> <pk> <emb> [k] [iters] — k is the
        // cell count under IVF, the codebook size for flat PQ;
        // <fam>-search ... <qid> [topk] [nprobe];
        // <fam>-rerank ... <qid> [topk] [depth] [nprobe] (sign bits);
        // <fam>-search-filtered ... <qid> <k> <predCol> <predVal> —
        // allowed = base rows where predCol equals predVal
        // (string-compared), pre-filtered into the scan
        import org.apache.spark.sql.functions.col
        val (table, pk, emb) = (args(2), args(3), args(4))
        def opt(i: Int, d: Int) = if (args.length > i) args(i).toInt else d
        val vecs = store.read(table)
          .select(col(pk), col(emb).cast("array<double>").as(emb))
        if (verb == "index") {
          val k = opt(5, 16)
          f.tuned((if (f.cellular) f.cellsKey else "kCodes") -> k,
            "iters" -> opt(6, 3)).build(store, table, vecs, pk, emb)
          val unit = f.codec match {
            case VectorIndex.Codec.Raw => "assigned"
            case VectorIndex.Codec.Sign => "blob rows"
            case _ => "code rows"
          }
          println(s"[$cmd] ${store.read(f.coverName(table)).count()} $unit")
        } else {
          val queries = vecs.filter(col(pk) === args(5).toLong)
          val topk = opt(6, 10)
          (verb match {
            case "search" => f.annTopK(store, table, queries, pk, emb, topk,
              nprobe = opt(7, VectorIndex.Nprobe))
            case "rerank" => f.rerank(store, table, queries, pk, emb, topk,
              opt(7, 4 * topk), opt(8, VectorIndex.Nprobe))
            case _ => f.annTopKFiltered(store, table, queries, pk, emb,
              args(6).toInt, store.read(table)
                .filter(col(args(7)).cast("string") === args(8))
                .select(col(pk)))
          }).show(topk, truncate = false)
        }
      case "tri-index" =>
        val (table, pk, text) = (args(2), args(3), args(4))
        graft.store.Trigram.upsertWithIndex(
          store, table, store.read(table), pk, text)
        println(s"[tri-index] ${store.read(graft.store.Trigram.indexName(table)).count()} gram rows")
      case "tri-search" =>
        val (table, pk, text) = (args(2), args(3), args(4))
        val needle = args.drop(5).mkString(" ")
        graft.store.Trigram.substringSearch(store, table, pk, text, needle)
          .show(50, truncate = false)
      case "tri-match" =>
        val (table, pk, text) = (args(2), args(3), args(4))
        val query = args.drop(5).mkString(" ")
        graft.store.Trigram.matchSearch(store, table, pk, text, query)
          .show(50, truncate = false)
      case "lsh-index" =>
        val (table, pk, text) = (args(2), args(3), args(4))
        val nHashes = if (args.length > 5) args(5).toInt else 4
        val bands = if (args.length > 6) args(6).toInt else 2
        val buckets = if (args.length > 7) args(7).toInt else 16
        Lsh.buildIndex(store, table, store.read(table), pk, text,
          nHashes = nHashes, bands = bands, buckets = buckets)
        println(s"[lsh-index] ${store.read(Lsh.indexName(table)).count()} band rows")
      case "lsh-pairs" =>
        import spark.implicits._
        val table = args(2)
        val res =
          if (args.length > 3)
            Lsh.candidatesFor(store, table,
              args.drop(3).map(_.toLong).toSeq.toDF("pk"))
          else Lsh.candidates(store, table)
        res.orderBy("doc_a", "doc_b").show(50, truncate = false)
      case "fts-search" =>
        Fts.search(spark, store, args(2), args.drop(3).mkString(" "))
          .orderBy("pk").show(50, truncate = false)
      case "fts-ranked" =>
        Fts.searchRanked(spark, store, args(2), args.drop(3).mkString(" "))
          .show(50, truncate = false)
      case "fts-highlight" =>
        val colOpt = if (args(4) == "-") None else Some(args(4))
        Fts.searchHighlighted(spark, store, args(2),
            args.drop(5).mkString(" "), args(3), colOpt)
          .orderBy("pk").show(50, truncate = false)
      case "fts-snippet" =>
        val colOpt = if (args(4) == "-") None else Some(args(4))
        Fts.searchSnippet(spark, store, args(2),
            args.drop(6).mkString(" "), args(3), colOpt,
            nTok = args(5).toInt)
          .orderBy("pk").show(50, truncate = false)
      case "dedup-stream" =>
        import org.apache.spark.sql.functions.{col, min_by, struct}
        val (table, pk, text) = (args(2), args(3), args(4))
        val before = store.read(table)
        // keep the min-pk row per fingerprint (deterministic, unlike
        // dropDuplicates' partition-order pick); null-text rows have a
        // null fingerprint and are NOT duplicates of each other — they
        // pass through untouched
        val fp = before
          .withColumn("__fp", graft.streaming.StreamDedup.fingerprint(col(text)))
        val deduped = fp.filter(col("__fp").isNotNull)
          .groupBy(col("__fp"))
          .agg(min_by(struct(before.columns.map(col): _*), col(pk)).as("__m"))
          .select(col("__m.*"))
          .unionByName(fp.filter(col("__fp").isNull).drop("__fp"))
        // nBefore BEFORE the swap-write (the old files are gone after);
        // nAfter from the freshly written table so the dedup job runs once
        val nBefore = before.count()
        store.overwrite(table, deduped)
        val nAfter = store.read(table).count()
        println(s"[dedup] ${nBefore - nAfter} duplicates removed" +
          s" ($nAfter rows remain, key=$pk)")
      case "fetch" =>
        // fetch <url> <auth.json> — authenticated GET, pretty-printed
        // (cli.py:39-52). Signing and rendering are the spec-covered
        // pure parts; the transport below is the one un-sandboxable
        // line (a plain JDK GET with the signed header).
        val creds = graft.sources.AuthFile.load(args(2))
        graft.sources.Fetch.run(args(1), creds,
          http = graft.sources.Fetch.jdkHttp, out = println)
      case "auth" =>
        // auth <auth.json> — prompt credentials, write the token file
        // (cli.py:55-83)
        graft.sources.AuthPrompt.run(
          prompt = p => { print(p); scala.io.StdIn.readLine() },
          echo = println,
          write = s => {
            java.nio.file.Files.write(
              java.nio.file.Paths.get(args(1)),
              s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            ()
          })
      case "bucketize" =>
        // bucketize <store> <table> <pk,...> <buckets> — one-time
        // conversion to the pk-bucket layout; every later upsert
        // rewrites only touched buckets
        store.bucketize(args(2), args(3).split(",").toSeq, args(4).toInt)
        println(s"[bucketize] ${args(2)}: ${args(4)} buckets on pk " +
          s"(${args(3)}) — upserts now rewrite touched buckets only")
      case "refresh-stats" =>
        // refresh-stats <store> <table> — build/refresh the per-file
        // min/max manifest (distributed footer read); prune-files and
        // readPruned then answer with zero footer I/O
        FileManifest.build(store, args(2))
        println(s"[refresh-stats] ${args(2)}: manifest covers " +
          s"${store.dataFiles(args(2)).size} files")
      case "prune-files" =>
        // prune-files <store> <table> <col:lo:hi,...> — how many files
        // a stats-aware scan opens for the range conjunction (the
        // compact-z read-path dividend)
        val preds = args(3).split(",").toSeq.map { s =>
          val Array(c, lo, hi) = s.split(":", 3)
          (c, lo.toLong, hi.toLong)
        }
        val total = store.dataFiles(args(2)).size
        val kept = FileManifest.pruneFiles(store, args(2), preds).size
        println(s"[prune-files] ${args(2)}: $kept of $total files " +
          s"overlap ${args(3)}")
      case "compact" =>
        // compact <store> <table> [sortCol,...] — bin-pack a
        // fragmented table's files, optionally sort-clustering rows
        // for row-group pruning
        val sortBy = if (args.length > 3) args(3).split(",").toSeq else Nil
        val (before, after) = store.compact(args(2), sortBy)
        println(s"[compact] ${args(2)}: $before -> $after files" +
          (if (sortBy.nonEmpty) s", clustered by ${sortBy.mkString(",")}" else ""))
      case "compact-z" =>
        // compact-z <store> <table> <bits> <col,...> — Z-ORDER
        // rewrite: files cover narrow ranges of EVERY listed column
        val (before, after) = store.compactZorder(
          args(2), args(4).split(",").toSeq, args(3).toInt)
        println(s"[compact-z] ${args(2)}: $before -> $after files, " +
          s"z-ordered by ${args(4)}")
      case "classify" =>
        // classify <store> <modelBase> <docsTable> <idCol> <textCol> [n]
        // — score a stored table against the maintained streaming
        // centroid quality model (<modelBase>_qcls)
        val n = if (args.length > 6) args(6).toInt else 20
        graft.streaming.StreamCentroid.classify(store, args(2),
            store.read(args(3)), args(4), args(5))
          .orderBy("doc_id").show(n, truncate = false)
      case "hh-top" =>
        // hh-top <store> <table> [n] — current heavy-hitter counters
        // from the streaming sketch, largest first
        val n = if (args.length > 3) args(3).toInt else 20
        graft.streaming.StreamHeavyHitters.counters(store, args(2))
          .orderBy(org.apache.spark.sql.functions.col("cnt").desc,
            org.apache.spark.sql.functions.col("item"))
          .show(n, truncate = false)
      case "fingerprint" =>
        // fingerprint <store> <table> — order/partitioning-independent
        // content hash for dataset-release reproducibility checks
        val (n, h) = store.contentFingerprint(args(2))
        println(f"[fingerprint] ${args(2)}: rows=$n hash=${h}%016x")
      case "quantiles" =>
        // quantiles <store> <table> [p,...] — rank-statistic
        // estimates per group from the streaming bottom-k sample
        val ps =
          if (args.length > 3) args(3).split(",").toSeq.map(_.toDouble)
          else Seq(0.5, 0.9, 0.99)
        graft.streaming.StreamQuantiles.quantiles(store, args(2), ps)
          .orderBy(org.apache.spark.sql.functions.col("grp"))
          .show(100, truncate = false)
      case "govern" =>
        // govern <store> <table,...|--tweets> — opt tables into the
        // epoch-pointer commit: every later write (incl. the
        // save-tweets multi-table fan-out) becomes all-or-nothing for
        // readers, matching the reference's per-batch SQLite txn
        val tables =
          if (args(2) == "--tweets") graft.ingest.TweetSink.Tables
          else args(2).split(",").toSeq
        store.ensureGoverned(tables)
        println(s"[govern] ${store.governed.toSeq.sorted.mkString(", ")}")
      case "epochs" =>
        // epochs <store> — retained snapshot epochs + governed tables
        println(s"[epochs] retained: ${store.log.epochs().mkString(", ")}; " +
          s"governed: ${store.governed.toSeq.sorted.mkString(", ")}")
      case "consume" =>
        // consume <store> <table> <consumer> [n] — deliver everything
        // this named consumer has not yet seen (full table on first
        // call, added-files diff after) and advance its cursor; the
        // cursor epoch pins vacuum until the consumer catches up or
        // is dropped (drop-consumer)
        val n = if (args.length > 4) args(4).toInt else 10
        graft.store.EpochFollower.consumeNew(store, args(2), args(3)) { df =>
          println(s"[consume] ${df.count()} rows for consumer ${args(3)}")
          SqliteCompat.render(df).show(n, truncate = false)
        } match {
          case Some((_, e)) => println(s"[consume] cursor advanced to epoch $e")
          case None => println(s"[consume] ${args(3)} is current — nothing new")
        }
      case "drop-consumer" =>
        // drop-consumer <store> <table> <consumer> — unregister (and
        // release the vacuum pin)
        graft.store.EpochFollower.drop(store, args(2), args(3))
        println(s"[drop-consumer] ${args(3)}")
      case "diff-epochs" =>
        // diff-epochs <store> <table> <fromEpoch> [toEpoch] [n] — the
        // incremental scan between two retained epochs: rows of the
        // files ADDED between them (at-least-once per changed row;
        // pk-dedup downstream for exactly-once). The catch-up read an
        // incremental consumer runs instead of a full rescan.
        val from = args(3).toLong
        val df = args.lift(4).map(_.toLong) match {
          case Some(to) => store.readAddedSince(args(2), from, to)
          case None => store.readAddedSince(args(2), from)
        }
        val n = if (args.length > 5) args(5).toInt else 10
        println(s"[diff-epochs] ${df.count()} rows in files added since epoch $from")
        SqliteCompat.render(df).show(n, truncate = false)
      case "history" =>
        // history <store> <table> <fromEpoch> [toEpoch] — the commits
        // that changed the table's file list in the window, with WHY
        // (upsert/overwrite/compact/delete/govern): the op tags that
        // let incremental consumers skip rewrite-only commits
        val from = args(3).toLong
        val to = args.lift(4).map(_.toLong)
          .getOrElse(store.snapshot().epoch)
        store.log.commitOps(args(2), from, to) match {
          case Some(ops) if ops.isEmpty =>
            println(s"[history] ${args(2)} unchanged in ($from, $to]")
          case Some(ops) => ops.foreach { case (e, op) =>
            println(s"[history] epoch $e  $op") }
          case None => println(
            s"[history] window not walkable (vacuumed or ungoverned " +
              s"steps) — only the endpoint diff is computable")
        }
      case "changes" =>
        // changes <store> <table> <fromEpoch> <toEpoch> <pk[,pk2…]>
        // [n] — the row-level change feed between two retained
        // epochs: inserts carry new images, deletes last images,
        // carried rows (incl. everything a compaction moved) nothing
        val pk = args(5).split(",").toSeq
        val df = store.readChangesSince(args(2), args(3).toLong,
          args(4).toLong, pk)
        val n = if (args.length > 6) args(6).toInt else 10
        println(s"[changes] ${df.count()} changed rows")
        SqliteCompat.render(df).show(n, truncate = false)
      case "consume-changes" =>
        // consume-changes <store> <table> <consumer> <pk[,pk2…]> [n]
        // — the CDC form of consume: the handler sees rows tagged
        // _change_type ∈ {insert, delete}, so a mirror can retract
        // deletions; rewrite-only windows advance silently
        val n = if (args.length > 5) args(5).toInt else 10
        graft.store.EpochFollower.consumeChanges(
          store, args(2), args(3), args(4).split(",").toSeq) { df =>
          println(s"[consume-changes] ${df.count()} changes for ${args(3)}")
          SqliteCompat.render(df).show(n, truncate = false)
        } match {
          case Some((_, e)) =>
            println(s"[consume-changes] cursor advanced to epoch $e")
          case None =>
            println(s"[consume-changes] ${args(3)} is current — no changes")
        }
      case "tag" =>
        // tag <store> <name> [epoch] — pin an epoch as a named
        // release; tagged epochs are VACUUM ROOTS (their files and
        // pointers survive any retention window) until drop-tag
        val e = store.log.tagEpoch(args(2), args.lift(3).map(_.toLong))
        println(s"[tag] ${args(2)} -> epoch $e")
      case "build-corpus" =>
        // build-corpus <store> <sfDir> <name> [budgetTokens] — the
        // composed corpus build in ONE command: scrub (typed PII
        // masking) → keep-best exact dedup → train split + 8-gram
        // decontamination → per-source token-budget mixture, written
        // as the governed `corpus_release` table in one transaction,
        // then tagged and fingerprinted. readTag("corpus_release",
        // <name>) re-serves those exact bytes through any vacuum
        // policy — a reproducible training-data release.
        val (sfDir, name) = (args(2), args(3))
        val budget = args.lift(4).map(_.toLong)
          .getOrElse(graft.queries.PipelineOps.defaultReleaseBudget)
        val docs = graft.queries.Catalog.table(spark, sfDir, "documents")
        val (census, mixture) = graft.queries.PipelineOps.releaseFrames(
          spark, docs, budget, Integer.toHexString((sfDir + name).hashCode))
        store.ensureGoverned(Seq("corpus_release"))
        store.transact { store.overwrite("corpus_release", mixture) }
        census.collect().foreach(r =>
          println(f"[build-corpus] ${r.getString(0)}%-18s ${r.getLong(1)}"))
        val e = store.log.tagEpoch(name)
        val (n, h) = store.contentFingerprint("corpus_release")
        println(f"[build-corpus] release '$name' -> epoch $e rows=$n hash=$h%016x")
      case "release" =>
        // release <store> <name> — pin the current epoch under a tag
        // AND print every governed table's content fingerprint: the
        // dataset-release one-liner (the tag keeps the bytes
        // readable through any vacuum policy; the fingerprint proves
        // WHAT they are for the release notes)
        val e = store.log.tagEpoch(args(2))
        println(s"[release] ${args(2)} -> epoch $e")
        store.governed.toSeq.sorted.foreach { t =>
          if (store.dataFiles(t).nonEmpty) {
            val (n, h) = store.contentFingerprint(t)
            println(f"[release]   $t%-24s rows=$n hash=$h%016x")
          } else println(f"[release]   $t%-24s (empty)")
        }
      case "tags" =>
        // tags <store> — named releases and their pinned epochs
        store.log.tags().toSeq.sortBy(_._1).foreach { case (t, e) =>
          println(f"$t%-24s epoch $e") }
      case "drop-tag" =>
        // drop-tag <store> <name> — the epoch becomes reclaimable by
        // the next vacuum (unless otherwise retained)
        store.log.dropTag(args(2))
        println(s"[drop-tag] ${args(2)}")
      case "show-tag" =>
        // show-tag <store> <table> <tag> [n] — read a table as of a
        // named release
        val n = if (args.length > 4) args(4).toInt else 10
        SqliteCompat.render(store.readTag(args(2), args(3)))
          .show(n, truncate = false)
      case "show-epoch" =>
        // show-epoch <store> <table> <epoch> [n] — time-travel read
        val n = if (args.length > 4) args(4).toInt else 10
        SqliteCompat.render(store.readEpoch(args(2), args(3).toLong))
          .show(n, truncate = false)
      case "vacuum-epochs" =>
        // vacuum-epochs <store> [minAgeMinutes] — reclaim files
        // replaced by epoch commits; with a retention window, commits
        // current within the last N minutes survive so in-flight
        // readers finish (Delta RETAIN semantics). Age 0 (default)
        // requires no readers mid-query over old epochs.
        val minAge = args.lift(2).map(_.toLong * 60_000L).getOrElse(0L)
        store.vacuumEpochs(minAge)
        println(s"[vacuum-epochs] done (retention ${minAge / 60000} min); " +
          s"retained epochs: ${store.log.epochs().mkString(", ")}")
      case "estimate" =>
        // estimate <store> <table> [col:lo:hi ...] — manifest-driven
        // cardinality estimate, zero data I/O (Explain --stats form)
        val preds = args.drop(3).toSeq.map { p =>
          val Array(c, lo, hi) = p.split(":")
          (c, lo.toLong, hi.toLong)
        }
        println("[estimate] " + Explain.statsReport(store, args(2), preds))
      case "index-retrain" =>
        // index-retrain <store> <famBase> — re-run the recorded
        // buildIndex for a drifted IVF family index (famBase =
        // <table>_<family>); restores the recall
        // floor and resets the drift report to tv≈0, growth=1
        val r = graft.store.IvfDrift.retrain(store, args(2))
        println(f"[index-retrain] ${args(2)}: tv=${r.tv}%.3f " +
          f"growth=${r.growth}%.2f (${r.nNow} vectors)")
      case "hybrid-search" =>
        // hybrid-search <store> <table> <k> <qvec-csv>
        //   [--filter <col> <val>] <terms...> —
        // RRF fusion of BM25 (FTS index) and cosine (SQ8 index);
        // --filter pre-filters BOTH legs to base-table rows where
        // col = val (the metadata-scoped serving shape)
        import org.apache.spark.sql.functions.col
        val k = args(3).toInt
        val qv = args(4).split(",").map(_.toDouble)
        val (allowed, terms) =
          if (args.length > 7 && args(5) == "--filter")
            (Some(store.read(args(2))
              .filter(col(args(6)).cast("string") === args(7))
              .select(col("pk"))),
              args.drop(8))
          else (None, args.drop(5))
        graft.store.Hybrid.searchRrf(spark, store, args(2),
            terms.mkString(" "), qv, k, allowed = allowed)
          .show(k, truncate = false)
      case "lsh-pairs-filtered" =>
        // lsh-pairs-filtered <store> <table> <allowedCsv> <pk ...> —
        // near-dup candidates of the probe pks, deduped only AGAINST
        // the allowed set (metadata-scoped near-dup lookup)
        import spark.implicits._
        val allowed = args(3).split(",").map(_.toLong).toSeq.toDF("pk")
        Lsh.candidatesForFiltered(store, args(2),
            args.drop(4).map(_.toLong).toSeq.toDF("pk"), allowed)
          .orderBy("doc_a", "doc_b").show(50, truncate = false)
      case "doctor" =>
        val issues = graft.store.Doctor.check(store)
        if (issues.isEmpty) println("[doctor] ok — no integrity issues")
        else issues.foreach(i =>
          println(s"[doctor] ${i.component}/${i.table}: ${i.problem}"))
        if (args.contains("--suggest")) {
          // --retention <ms>: also predict whether vacuumEpochs(ms)
          // would cost a lagging consumer its rewrite-skipping window
          val planned = args.sliding(2).collectFirst {
            case Array("--retention", ms) => ms.toLong }
          val sug = graft.store.Doctor.suggest(store,
            vacuumMinAgeMs = planned)
          if (sug.isEmpty) println("[doctor] no maintenance suggested")
          else sug.foreach(s =>
            println(s"[doctor] suggest/${s.table}: ${s.problem}"))
        }
        if (args.contains("--repair")) {
          val done = graft.store.Doctor.repair(store)
          val retrained = graft.store.Doctor.retrainDrifted(store)
          val healed = graft.store.Doctor.healCoverage(store)
          if (done.isEmpty && retrained.isEmpty && healed.isEmpty)
            println("[doctor] nothing to repair")
          done.foreach { case (t, b, a) =>
            println(s"[doctor] repaired/$t: $b -> $a files") }
          retrained.foreach { case (f, b, a) =>
            println(f"[doctor] retrained/$f: tv ${b.tv}%.2f -> ${a.tv}%.2f, " +
              f"growth ${b.growth}%.2f -> ${a.growth}%.2f") }
          healed.foreach { case (t, w, n) =>
            println(s"[doctor] healed/$t: $w ($n row(s))") }
        }
      case "tables" =>
        store.tableNames.foreach(t =>
          println(f"$t%-28s ${store.read(t).count()}%8d rows"))
      case "show" =>
        val n = if (args.length > 3) args(3).toInt else 10
        SqliteCompat.render(store.read(args(2))).show(n, truncate = false)
      case other =>
        sys.error(s"unknown command: $other")
    }
  }
}
