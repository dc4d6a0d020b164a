package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted character-trigram postings — the store-side form of
  * q_substring_search's inline prune (FTS5's `trigram` tokenizer
  * role: accelerate arbitrary LIKE '%needle%' predicates without a
  * full-corpus scan). One row per (doc, distinct trigram), Hive-
  * partitioned by a pk-hash bucket so maintenance is O(batch): a
  * batch rewrites only the bucket directories its pks hash into
  * (the [[Fts]] bucketed-postings discipline, minus the positional
  * machinery substring match doesn't need — containment of ALL
  * needle trigrams, then exact verification).
  *
  * Search: needle trigrams → `IN`-pruned postings scan → per-doc
  * all-present count (the AND-of-terms shape of [[Fts.search]]) →
  * exact `contains` verification against the base table, reading only
  * the candidates. Needles shorter than 3 chars have no trigrams to
  * prune with and fall back to the direct scan.
  */
object Trigram {

  def indexName(table: String): String = s"${table}_tri"

  private val BucketCol = "pk_bucket"
  private[store] val nBuckets = 16

  private def gramRows(
      store: TableStore, batch: DataFrame, pkCol: String, textCol: String): DataFrame =
    batch
      // docs shorter than 3 chars have no grams — and cannot match
      // any trigram-prunable needle
      .filter(length(col(textCol)) >= 3)
      // native one-pass gram loop (functions/CharGrams) — the
      // transform-of-substr HOF chain it replaces ran interpreted
      // per element, dominating index-build time
      .select(col(pkCol).as("pk"),
        store.bucketOfPk(Seq(pkCol), nBuckets).as(BucketCol),
        lower(col(textCol)).as("_t"))
      .select(col("pk"), col(BucketCol),
        explode(graft.functions.CharGrams.charGrams(
          batch.sparkSession, col("_t"), 3)).as("g"))

  /** Upsert rows into the base table AND their trigram postings: only
    * the batch pks' bucket directories rewrite; stale grams of
    * re-upserted docs drop via the anti-join; a bucket left empty
    * (every doc in it re-upserted to sub-trigram text) drops
    * explicitly. Index maintenance runs FIRST and the base table
    * swaps LAST (the [[Fts.upsertWithIndexCols]] ordering): the swap
    * deletes the old base files, so a batch derived from
    * `store.read(table)` — the reindex case — must be fully
    * materialized before the base rewrite.
    */
  def upsertWithIndex(
      store: TableStore, table: String, batch: DataFrame,
      pkCol: String, textCol: String): Unit = {
    refreshIndex(store, table, batch, pkCol, textCol)
    store.upsert(table, batch, Seq(pkCol))
  }

  /** The postings half of [[upsertWithIndex]] — no base-table write
    * (the SQL-DML maintenance seam, see [[IndexMaintain]]). Records
    * the indexed column as provenance so later maintenance needs
    * nothing restated.
    */
  private[store] def refreshIndex(
      store: TableStore, table: String, batch: DataFrame,
      pkCol: String, textCol: String): Unit = {
    IndexMaintain.recordIfChanged(store, indexName(table), Map(
      "table" -> table, "family" -> "trigram",
      "pk" -> pkCol, "text" -> textCol))
    val fresh = Iteration.materialize(gramRows(store, batch, pkCol, textCol))
    val batchPks = Iteration.materialize(
      batch.select(col(pkCol).as("pk")).distinct())
    // buckets the BATCH pks hash into — includes pks whose new text
    // has no grams (their stale rows must still drop)
    val touched = batchPks.select(store.bucketOfPk(Seq("pk"), nBuckets))
      .distinct().collect().map(_.getLong(0)).toSeq
    store.readIfExists(indexName(table)) match {
      case Some(_) =>
        store.rewritePartitions(indexName(table), BucketCol, touched)(cur =>
          cur.withColumn(BucketCol, col(BucketCol).cast("long"))
            .join(batchPks, Seq("pk"), "left_anti")
            .unionByName(fresh)
            // range-split on (bucket, gram): a hot bucket spreads over
            // several tasks/files, each covering a NARROW gram range —
            // bounded task size at 100 TB and tight per-file envelopes
            // for the stats-manifest file skipping (same layout rule
            // as FTS token sorting)
            .repartitionByRange(col(BucketCol), col("g"))
            .sortWithinPartitions(col(BucketCol), col("g")))
      case None =>
        // an all-short-text first batch has no gram rows; writing a
        // zero-file partitioned dir would leave an unreadable index —
        // leave the index absent (search falls back to a direct scan)
        if (!fresh.isEmpty)
          store.overwrite(indexName(table),
            fresh.repartitionByRange(col(BucketCol), col("g"))
              .sortWithinPartitions(col(BucketCol), col("g")),
            partitionBy = Seq(BucketCol))
    }
  }

  /** Opt the trigram postings into FILE-level gram skipping: build the
    * `_graft_stats` manifest once (g envelopes via
    * [[FileManifest.stringStatKey]] — narrow because files are
    * gram-sorted); every later [[upsertWithIndex]] batch keeps it
    * fresh at O(replaced files), and every needle probe prunes its
    * file list through it instead of opening all N bucket footers.
    */
  def enableFileSkipping(store: TableStore, table: String): Unit =
    FileManifest.build(store, indexName(table))

  /** The postings subset a needle's grams can live in — file-level
    * skipping on a manifest-backed index ([[Fts]]'s prunedIndex rule:
    * conservative encoded point probes, never a false skip; no
    * manifest or legacy rows = read everything).
    */
  private def prunedIndex(
      store: TableStore, table: String, grams: Seq[String]): DataFrame = {
    val probes = grams.map(FileManifest.stringStatKey)
    FileManifest.readKept(store, indexName(table), Seq("g"))(e =>
      probes.exists(p => FileManifest.overlaps(e, "g", p, p)))
  }

  /** All pks whose text contains `needle` (case-folded, like FTS5
    * trigram's default): trigram-pruned candidates, then exact
    * verification reading only those docs. Falls back to the direct
    * scan when the needle is sub-trigram or the index was never built
    * (all-short-text corpus).
    */
  def substringSearch(
      store: TableStore, table: String, pkCol: String, textCol: String,
      needle: String): DataFrame =
    containsPks(store, table, pkCol, textCol, needle)
      .orderBy(col(pkCol))

  /** Exact, verified "pks whose text contains `needle`" (one column,
    * unordered) — the unit the MATCH evaluator composes booleanly.
    */
  private def containsPks(
      store: TableStore, table: String, pkCol: String, textCol: String,
      needle: String): DataFrame = {
    // Locale.ROOT + code-point windows: the JVM's default-locale
    // toLowerCase (Turkish dotless-i) and UTF-16 String#sliding
    // (surrogate-pair halves) would produce needle grams Spark's
    // locale-agnostic lower()/code-point substr never indexes — a
    // silent pruned-away match
    val n = needle.toLowerCase(java.util.Locale.ROOT)
    val base = store.read(table)
    if (n.codePointCount(0, n.length) < 3 || !store.exists(indexName(table)))
      return base.filter(lower(col(textCol)).contains(n))
        .select(col(pkCol))
    val cps = n.codePoints.toArray
    val nGrams = (0 to cps.length - 3)
      .map(i => new String(cps, i, 3)).distinct
    val cands = prunedIndex(store, table, nGrams)
      .filter(col("g").isin(nGrams: _*))
      .groupBy(col("pk"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") === nGrams.length)
      .select(col("pk").as(pkCol))
    base.join(cands, Seq(pkCol), "left_semi")
      .filter(lower(col(textCol)).contains(n))
      .select(col(pkCol))
  }

  // -------------------------------------------------------------------
  // FTS5 `tokenize='trigram'` MATCH surface: with the trigram
  // tokenizer, every MATCH unit is a SUBSTRING needle (fts5.c trigram
  // tokenizer — LIKE acceleration through the same query grammar), so
  // the boolean skeleton of [[Fts]]'s MATCH (implicit AND, OR, binary
  // NOT, parentheses, at FTS5's NOT > AND > OR precedence) composes
  // substring-containment sets instead of token-postings sets. A
  // quoted unit keeps its spaces/punctuation verbatim ("ab, cd" is
  // one needle); a trailing `*` is meaningless under substring
  // semantics (FTS5 trigram treats prefix as plain substring) and is
  // stripped; NEAR/column filters/anchors are word-positional
  // concepts the trigram layout has no positions for — rejected, as
  // FTS5 rejects what a tokenizer cannot express. The lexer/parser
  // DELIBERATELY does not share [[Fts]]'s: the boolean skeleton
  // coincides, but the leaf alphabets (analyzer-tokenized terms,
  // NEAR(), {col}: filters, ^ anchors vs raw verbatim needles) and
  // the error surfaces differ enough that a parameterized shared
  // grammar would couple the two surfaces for ~60 saved lines.

  private[store] sealed trait MNode
  private[store] case class MNeedle(s: String) extends MNode
  private[store] case class MAnd(kids: Seq[MNode]) extends MNode
  private[store] case class MOr(kids: Seq[MNode]) extends MNode
  private[store] case class MNot(incl: MNode, excl: MNode) extends MNode

  private sealed trait MTok
  private case class MTerm(s: String) extends MTok
  private case object MTOr extends MTok
  private case object MTAnd extends MTok
  private case object MTNot extends MTok
  private case object MTLp extends MTok
  private case object MTRp extends MTok

  private def lexMatch(query: String): Seq[MTok] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[MTok]
    var i = 0
    def unitChar(c: Char): Boolean =
      !c.isWhitespace && c != '(' && c != ')' && c != '"'
    while (i < query.length) {
      val c = query.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '(') { out += MTLp; i += 1 }
      else if (c == ')') { out += MTRp; i += 1 }
      else if (c == '"') {
        val end = query.indexOf('"', i + 1)
        require(end >= 0, s"unterminated quote in MATCH query: $query")
        val content = query.substring(i + 1, end)
        i = end + 1
        if (i < query.length && query.charAt(i) == '*') i += 1 // prefix = substring
        if (content.nonEmpty) out += MTerm(content)
      } else {
        require(!query.startsWith("NEAR(", i) && c != '^' && c != '{',
          s"NEAR()/anchors need word positions — " +
            s"not expressible on a trigram index: $query")
        val start = i
        // `name:` at a token start is FTS5 column-filter syntax (same
        // rule as the word index's lexer); this index has exactly one
        // text column, so reject rather than silently treating the
        // filter as needle text. A ':' elsewhere is needle content.
        while (i < query.length && unitChar(query.charAt(i)) &&
          query.charAt(i) != ':') i += 1
        require(!(i < query.length && query.charAt(i) == ':' && i > start &&
            query.substring(start, i).matches("\\w+")),
          s"column filters are not supported on a trigram index: $query")
        while (i < query.length && unitChar(query.charAt(i))) i += 1
        query.substring(start, i) match {
          case "OR"  => out += MTOr
          case "AND" => out += MTAnd
          case "NOT" => out += MTNot
          case w     =>
            val t = if (w.endsWith("*")) w.dropRight(1) else w
            // a bare `*` strips to the EMPTY needle, and contains("")
            // is true for every row — FTS5 errors on it, so do we
            require(t.nonEmpty,
              s"MATCH syntax error (bare * is not a term): $query")
            out += MTerm(t)
        }
      }
    }
    out.toSeq
  }

  private[store] def parseMatch(query: String): Option[MNode] = {
    val toks = lexMatch(query)
    if (toks.isEmpty) return None
    var pos = 0
    def peek: Option[MTok] = if (pos < toks.length) Some(toks(pos)) else None
    def orExpr(): MNode = {
      var kids = List(andExpr())
      while (peek.contains(MTOr)) { pos += 1; kids ::= andExpr() }
      if (kids.sizeIs == 1) kids.head else MOr(kids.reverse.distinct)
    }
    def andExpr(): MNode = {
      var kids = List(notExpr())
      var more = true
      while (more) peek match {
        case Some(MTAnd)                 => pos += 1; kids ::= notExpr()
        case Some(MTerm(_)) | Some(MTLp) => kids ::= notExpr()
        case _                           => more = false
      }
      if (kids.sizeIs == 1) kids.head else MAnd(kids.reverse.distinct)
    }
    def notExpr(): MNode = {
      var left = primary()
      while (peek.contains(MTNot)) { pos += 1; left = MNot(left, primary()) }
      left
    }
    def primary(): MNode = peek match {
      case Some(MTerm(s)) => pos += 1; MNeedle(s)
      case Some(MTLp) =>
        pos += 1
        val e = orExpr()
        require(peek.contains(MTRp), s"expected ) in MATCH query: $query")
        pos += 1
        e
      case other =>
        throw new IllegalArgumentException(
          s"MATCH syntax error (operand expected, got $other): $query")
    }
    val root = orExpr()
    require(pos == toks.length, s"MATCH syntax error (trailing tokens): $query")
    Some(root)
  }

  /** Substring-MATCH over the trigram index: pks whose text satisfies
    * the boolean query, each needle independently trigram-pruned and
    * exactly verified, the boolean algebra then running on verified
    * pk sets (AND = semi-join, OR = distinct union, NOT = anti-join)
    * — so composition introduces no approximation anywhere.
    */
  def matchSearch(
      store: TableStore, table: String, pkCol: String, textCol: String,
      query: String): DataFrame = {
    def eval(n: MNode): DataFrame = n match {
      case MNeedle(s)   => containsPks(store, table, pkCol, textCol, s)
      case MAnd(kids)   => kids.map(eval)
        .reduce((a, b) => a.join(b, Seq(pkCol), "left_semi"))
      case MOr(kids)    => kids.map(eval).reduce(_.unionByName(_)).distinct()
      case MNot(in, ex) => eval(in).join(eval(ex), Seq(pkCol), "left_anti")
    }
    parseMatch(query) match {
      case None       => store.read(table).select(col(pkCol)).limit(0)
      case Some(node) => eval(node).orderBy(col(pkCol))
    }
  }
}
