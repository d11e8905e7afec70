package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{StoreProtocol, Tables}
import graft.functions.TextFns

/** Durable inverted (lexical) index — the persisted serving store for the
  * BM25 retrieval family, completing the store quartet (signature index /
  * IVF index / HLL slices / BPE model; the reference persists its own
  * retrieval index the same way, faiss_db.py:24-35 read/write_index).
  * Without it every query batch re-scans and re-tokenizes the corpus
  * ([[Corpus.searchBm25]]'s contains() prefilter bounds the EXPLODE cost,
  * but the scan itself is still corpus-sized); against the store, serving
  * cost is ∝ the query's own term postings.
  *
  * Layout (one [[graft.sources.IO.publishStore]] generation — crash-safe
  * as a consistent pair, like every store here):
  *   path/stats       one (inc_id, total_len, n_docs) row per write
  *                    (full build + appends); the corpus constants are
  *                    exact-integer SUMS over these rows at read time
  *   path/postings    (term, doc_id, tf, dl) directory-partitioned by
  *                    tb = md5_number_lower(term) mod [[TermBuckets]],
  *                    one file per non-empty bucket per write
  * Increments ([[appendLexIndex]]) move new posting files INSIDE the
  * bucket directories and add one stats row — build I/O ∝ the increment,
  * never a rewrite of prior data (the IVF-append shape).
  *
  * A query batch reads ONLY the bucket directories its own terms hash to
  * (≤ |terms| of [[TermBuckets]] — partition-pruned like the signature
  * index's key buckets), then ranks with the exact scoring tail the scan
  * path uses ([[Corpus.bm25Rank]]): served results are bit-identical to
  * [[Corpus.searchBm25]] over the indexed corpus, so one SQL oracle
  * checks both paths. df per term is derived from the pruned postings
  * themselves (the posting-row count IS the document frequency), so no
  * separate vocabulary relation has to stay consistent with the postings.
  *
  * Scale shape: the build is one tokenize+explode pass map-side combined
  * to (doc, term) — the same linear-shuffle cost build_vocab pays — and
  * serving never scans, never tokenizes, and collects nothing but the
  * ≤ |terms| bucket ids driving the pruning predicate. A fixed query
  * batch against a 16× corpus index reads 16× bigger BUCKETS of the
  * query's terms only — ScaleProbe pins the ≈flat serving wall clock.
  */
object LexIndex {

  /** Postings partition fan-out: 256 directories keeps the pruning
    * ratio high for interactive term counts (|terms| ≪ buckets) without
    * drowning the store in directories — the signature-index constant. */
  val TermBuckets = 256

  /** Column-side term bucket — the pinned md5 family, so the driver twin
    * below replays it exactly. Int-typed: parquet partition discovery
    * reads the directory values back as ints, and the pruning literals
    * must match that type. */
  private[graft] def bucketCol(term: Column): Column =
    Sketches.md5mod(term, TermBuckets.toLong).cast("int")

  /** Driver twin of [[bucketCol]] for the query's literal terms. */
  private[graft] def bucketOf(term: String): Int =
    java.lang.Long.remainderUnsigned(
      graft.expressions.Kernels.md5LowerOf(
        org.apache.spark.unsafe.types.UTF8String.fromString(term)),
      TermBuckets.toLong).toInt

  /** The one posting schema: [[postingsOf]] lays exactly these columns
    * and every read of the store passes it, so no read infers a schema
    * (an empty corpus's postings dir has no data file to infer from). */
  private[graft] val PostingSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("term", StringType),
    StructField("tf", LongType), StructField("dl", LongType),
    StructField("tb", IntegerType)))

  private val StatsSchema: StructType = StructType(Seq(
    StructField("inc_id", StringType), StructField("total_len", LongType),
    StructField("n_docs", LongType)))

  /** The (term, doc_id, tf, dl) posting relation of a corpus slice —
    * shared by the full build and the append path so both lay
    * byte-identical rows, typed as [[PostingSchema]]. */
  private[graft] def postingsOf(documents: DataFrame): DataFrame = {
    val toks = TextFns.wsTokens(TextFns.foldCase(col("text")))
    documents.where(col("text").isNotNull)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"), max(col("dl")).as("dl"))
      .withColumn("tb", bucketCol(col("term")))
      .select(PostingSchema.fields.map(f => col(f.name).cast(f.dataType)): _*)
  }

  /** One stats row per WRITE (full build or increment): the corpus
    * constants are sums over these rows at read time. `inc_id` is a
    * deterministic content key — an order-free XOR fold of each
    * (doc_id, text) PAIR's hash, plus the row count — so ONLY a
    * byte-identical crash-REPLAYED append lays a duplicate row the read
    * side drops (the stats analog of the posting-row entity collapse).
    * Folding the text in matters: a doc_id-only key would collapse two
    * DIFFERENT increments that happen to share a doc-id multiset, and
    * total_len/n_docs would silently under-count. */
  private[graft] def statsOf(documents: DataFrame): DataFrame = {
    val toks = TextFns.wsTokens(TextFns.foldCase(col("text")))
    documents.where(col("text").isNotNull)
      .select(col("doc_id"), col("text"), size(toks).cast("long").as("dl"))
      // XOR fold, not SUM: order-free like sum but can never overflow
      // (an ANSI-mode long-sum of full-range xxhash64 draws aborts).
      // NUL-separated id/text so ("ab","c") never keys like ("a","bc").
      .agg(
        concat_ws("_",
          coalesce(expr("bit_xor(xxhash64(concat(" +
            "CAST(doc_id AS STRING), CHR(0), text)))"), lit(0L)),
          count(lit(1))).as("inc_id"),
        coalesce(sum(col("dl")), lit(0L)).cast("long").as("total_len"),
        count(lit(1)).cast("long").as("n_docs"))
  }

  /** Build + persist the inverted index for a corpus. */
  def writeLexIndex(spark: SparkSession, dir: String, path: String): Unit =
    writeLexIndexFrom(Tables.documents(spark, dir), path)

  private[graft] def writeLexIndexFrom(documents: DataFrame,
      path: String): Unit = {
    val spark = documents.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.IO.publishStore(spark, path, "__lex_tmp") { tmp =>
      // a crashed append's or erasure's COMPLETE tmp is promoted into the
      // OLD generation first (the IVF writer-entry contract): the rebuild
      // supersedes the whole store either way, and no append/erase tmp
      // can leak into the new generation
      recoverLexAppend(fs, p)
      recoverLexErase(fs, p)
      statsOf(documents)
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/stats")
      postingsOf(documents)
        // one file per bucket directory (the repartition key IS the
        // partition key), not numShufflePartitions files in each
        .repartition(col("tb"))
        .write.mode("overwrite").partitionBy("tb").parquet(s"$tmp/postings")
    }
  }

  /** Append a corpus increment to a persisted index — build I/O and
    * compute ∝ the increment: new posting files land INSIDE the existing
    * bucket directories via per-file rename (the IVF append shape), and
    * one stats row lands in the stats directory; the read side sums
    * stats rows (exact longs) and entity-collapses posting rows, so a
    * served query over the appended store is BIT-identical to a full
    * rebuild over the union corpus. Crash contract = the IVF append's:
    * the increment writes COMPLETE to a tmp (root _SUCCESS), then files
    * move; a crashed move RESUMES at the next writer entry (readers are
    * passive — they never heal, and any state they see is one the writer
    * path later completes); a replayed append lays byte-identical rows
    * that the read side collapses. Single-flight writers, like every
    * store here.
    *
    * Visibility caveat (shared with the IVF append, which moves files
    * the same way): the per-file move window is NOT atomic for readers.
    * A reader racing a mid-promote writer can observe a strict subset of
    * the increment's posting files, and postings-without-stats (or the
    * reverse — stats move last, so the skew is stale corpus constants
    * over partially-new postings), transiently biasing df/avgdl for THAT
    * read only. The store's consistency point is promote completion;
    * crash recovery resumes the move before the next write, so the
    * window never outlives the writer that opened it. Serving paths that
    * need a frozen view must snapshot (read) between writes — the
    * engine's single-flight writer + build-then-serve usage does exactly
    * that. */
  def appendLexIndex(spark: SparkSession, path: String,
      newDocs: DataFrame): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.IO.recoverStore(fs, p,
      new org.apache.hadoop.fs.Path(path + "__lex_tmp"))
    recoverLexAppend(fs, p)
    recoverLexErase(fs, p)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$path/stats")),
      s"cannot append to a missing lexical index at $path — " +
        "build one with writeLexIndex")
    val tmp = new org.apache.hadoop.fs.Path(path + "__append_tmp")
    postingsOf(newDocs)
      .repartition(col("tb"))
      .write.mode("overwrite").partitionBy("tb").parquet(s"$tmp/postings")
    statsOf(newDocs).coalesce(1).write.mode("overwrite").parquet(s"$tmp/stats")
    fs.create(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")).close()
    promoteLexAppend(fs, tmp, p)
  }

  /** Move a COMPLETE append tmp's files into the live store. Idempotent:
    * part-file names are job-unique and each renames at most once —
    * re-running after a crash moves whatever remains. */
  private def promoteLexAppend(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path, p: org.apache.hadoop.fs.Path): Unit = {
    def moveFiles(from: org.apache.hadoop.fs.Path,
        to: org.apache.hadoop.fs.Path): Unit = {
      if (!fs.exists(from)) return
      fs.mkdirs(to)
      fs.listStatus(from).foreach { st =>
        if (st.isDirectory && st.getPath.getName.startsWith("tb="))
          moveFiles(st.getPath,
            new org.apache.hadoop.fs.Path(to, st.getPath.getName))
        else if (st.isFile && !st.getPath.getName.startsWith("_"))
          if (!fs.rename(st.getPath,
              new org.apache.hadoop.fs.Path(to, st.getPath.getName)))
            sys.error(s"append: cannot move ${st.getPath} into $to")
      }
    }
    moveFiles(new org.apache.hadoop.fs.Path(tmp, "postings"),
      new org.apache.hadoop.fs.Path(p, "postings"))
    moveFiles(new org.apache.hadoop.fs.Path(tmp, "stats"),
      new org.apache.hadoop.fs.Path(p, "stats"))
    // commit point: a serve that cached the store while the files moved
    // holds the pre-commit listing — drop it now the last file landed
    StoreProtocol.invalidateStore(p.toString)
    fs.delete(tmp, true)
  }

  /** WRITER-entry healing for a crashed append: a tmp with the root
    * _SUCCESS is a complete increment — resume its move; one without is
    * partial debris — drop it (the caller replays the batch). Never runs
    * from the read path (the IVF reader contract). */
  private def recoverLexAppend(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(p.toString + "__append_tmp")
    if (fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")))
      promoteLexAppend(fs, tmp, p)
    else if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** Serve a BM25 query from a persisted [[writeLexIndex]] store — no
    * corpus scan, no tokenization: the postings read partition-prunes to
    * the ≤ |terms| buckets the query's terms hash to, df comes from the
    * pruned postings, and the scoring is [[Corpus.bm25RankJoined]]
    * verbatim. Result ≡ [[Corpus.searchBm25]] on the indexed corpus.
    *
    * Per-request cost: the postings handle and the corpus constants come
    * from [[StoreProtocol.cached]] (filled once per store generation), so
    * building the DataFrame runs no Spark job; executing it runs one
    * term-keyed exchange (collapse + df), one doc-keyed exchange (the
    * per-doc score) and the top-k result stage. */
  def searchBm25Against(spark: SparkSession, path: String, query: String,
      topK: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val fs = graft.sources.IO.readableStore(spark, path, "__lex_tmp")
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$path/stats")),
      s"no lexical index at $path (write one with writeLexIndex)")
    val terms = Corpus.bm25Terms(query)
    val postings = readPostings(spark, path)
    // an all-whitespace query has no terms: empty result, index-typed
    // schema (the searchBm25 empty-branch contract)
    if (terms.isEmpty) return noHits(postings)
    val tbs = terms.map(bucketOf).distinct.sorted
    val tf = postings
      .where(col("tb").isin(tbs.map(Int.box): _*)) // partition pruning
      .where(col("term").isin(terms: _*))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
      // one exchange on term serves both the collapse below (term is a
      // subset of its keys) and the per-term df window
      .repartition(col("term"))
      // a crash-REPLAYED append lays byte-identical posting rows — the
      // engine-wide at-least-once contract collapses them at the
      // consumer (the distinct runs over the PRUNED read only)
      .distinct()
    rankServed(tf, readStats(spark, path), terms, topK, k1, b)
  }

  private def noHits(postings: DataFrame): DataFrame =
    postings.select(col("doc_id"),
      lit(null).cast("long").as("n_terms"),
      lit(null).cast("double").as("score"),
      lit(null).cast("long").as("rk")).limit(0)

  /** BM25 over a pruned, collapsed (doc_id, term, tf, dl) relation: df
    * is the count of each term's own rows (the posting-row count IS the
    * document frequency), taken in the scoring pass instead of a
    * broadcast join; the corpus constants (total_len, n_docs) enter as
    * literals. Same columns and op order as the corpus-scan path, so the
    * scores stay bit-identical. An empty corpus ranks nothing (its 0/0
    * avgdl literal would fold, and abort under ANSI, at planning). */
  private def rankServed(tf: DataFrame, stats: (Long, Long),
      terms: Seq[String], topK: Int, k1: Double, b: Double): DataFrame =
    if (stats._2 <= 0L) noHits(tf)
    else Corpus.bm25RankJoined(
      tf.select(col("doc_id"), col("term"), col("tf"), col("dl"),
        count(lit(1)).over(Window.partitionBy(col("term"))).cast("long")
          .as("df"),
        lit(stats._1).as("total_len"), lit(stats._2).as("n_docs")),
      terms, topK, k1, b)

  /** The corpus constants (total_len, n_docs) of a store as driver
    * values: exact-integer sums over the per-write stats rows (full build
    * + any appends), duplicate increments dropped by their content key.
    * Read once per store generation — every writer drops the cached
    * entry at its commit point. ONE definition for both serving paths —
    * a drift here would silently mis-normalize scores. */
  private def readStats(spark: SparkSession, path: String): (Long, Long) =
    StoreProtocol.cached(spark, s"$path/stats", "lexStats") {
      val r = spark.read.schema(StatsSchema).parquet(s"$path/stats")
        .dropDuplicates("inc_id")
        .agg(coalesce(sum(col("total_len")), lit(0L)).cast("long"),
          coalesce(sum(col("n_docs")), lit(0L)).cast("long"))
        .head()
      (r.getLong(0), r.getLong(1))
    }

  /** The postings relation of a store, shared by BOTH serving paths —
    * erased subjects drop here via a broadcast anti-join against the
    * tombstone relation ([[eraseLexDocs]]), so every consumer (single
    * query, batch, compaction) sees the post-erasure corpus through one
    * definition. The relation handle (never a result) is cached per
    * store like the tombstones: its file listing is resolved once per
    * store generation, and every writer drops it at its commit point. */
  private def readPostings(spark: SparkSession, path: String): DataFrame = {
    val raw = StoreProtocol.cached(spark, s"$path/postings", "lexPostings") {
      spark.read.schema(PostingSchema).parquet(s"$path/postings")
    }
    lexTombstones(spark, path)
      .map(t => raw.join(broadcast(t), Seq("doc_id"), "left_anti"))
      .getOrElse(raw)
  }

  /** The tombstone relation of a store, if any subject was erased and
    * not yet compacted away — erasure-request-sized (a dimension),
    * hence always broadcast at the consumer. Discovery goes through
    * [[graft.sources.StoreProtocol.tombstones]] (the path's own Hadoop
    * filesystem — never java.io.File, which silently answers "no
    * tombstones" on a remote store and serves erased subjects). */
  private def lexTombstones(spark: SparkSession,
      path: String): Option[DataFrame] =
    StoreProtocol.tombstones(spark, path, "doc_id")

  /** GDPR-article-17 erasure for the lexical index — the retrieval-store
    * leg of the governance family (the z-table's [[graft.operators
    * .Relational.eraseZorderSubject]] sibling): the store is append-only,
    * so erasure lands as a TOMBSTONE every postings read anti-joins, PLUS
    * a NEGATIVE stats increment (the BM25 corpus constants are exact sums
    * over stats rows — without the subtraction an erased doc would keep
    * deflating every surviving document's idf/avgdl normalization).
    * `subjectDocs` is the (doc_id, text) relation of the erasure request
    * — the subtraction replays the build's own tokenizer on it
    * ([[statsOf]]), so post-erasure serving is hash-identical to a
    * from-scratch index built without the subject, zero-token and
    * NULL-text docs included. The caller passes the content AS INDEXED
    * (the raw corpus is the single-writer store's source of truth).
    *
    * Idempotent by content: already-tombstoned doc_ids are excluded
    * before the subtraction (an overlapping second request must not
    * subtract a shared doc twice), and a fully-replayed request finds
    * nothing fresh and returns before writing. Crash contract: both
    * artifacts (tombstone rows + negative stats row) write COMPLETE to a
    * tmp first (root _SUCCESS, the request's content key persisted as a
    * filename), then promote under deterministic names — a crashed
    * promote RESUMES at the next writer entry; a reader racing the
    * window can transiently see one artifact without the other (the
    * documented append-visibility caveat; the consistency point is
    * promote completion). Tombstones retire when [[compactLexIndex]]
    * rewrites the store physically. */
  def eraseLexDocs(spark: SparkSession, path: String,
      subjectDocs: DataFrame): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.IO.recoverStore(fs, p,
      new org.apache.hadoop.fs.Path(path + "__lex_tmp"))
    recoverLexAppend(fs, p)
    recoverLexErase(fs, p)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$path/stats")),
      s"cannot erase from a missing lexical index at $path")
    // MULTIPLICITY-PRESERVING, deliberately: the build's statsOf counts
    // every delivered row (the oracle's docs CTE does too — the bm25
    // family treats at-least-once copies consistently on both sides, it
    // never collapses), so the subtraction must remove exactly what the
    // build counted — a subject doc delivered twice was counted twice.
    // The request therefore carries the subject's content at INDEXED
    // multiplicity (it is the same relation the build consumed,
    // filtered). Already-tombstoned doc_ids drop with ALL their copies —
    // their full multiplicity was subtracted by the earlier request.
    val fresh = lexTombstones(spark, path)
      .map(t => subjectDocs.join(broadcast(t), Seq("doc_id"), "left_anti"))
      .getOrElse(subjectDocs)
      .select(col("doc_id"), col("text"))
      .where(col("doc_id").isNotNull).localCheckpoint()
    if (fresh.isEmpty) return // fully-replayed or empty request: no-op
    val key = graft.sources.StoreProtocol.contentKey(fresh,
      expr("xxhash64(CAST(doc_id AS STRING))"))
    graft.sources.StoreProtocol.publishKeyed(fs, p, "__erase_tmp", "KEY",
      "ers", key, LexEraseSubs) { tmp =>
      fresh.select(col("doc_id")).distinct().coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/tombstones")
      statsOf(fresh).select(
          concat(lit("erase:"), col("inc_id")).as("inc_id"),
          (-col("total_len")).as("total_len"),
          (-col("n_docs")).as("n_docs"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/stats")
    }
  }

  private val LexEraseSubs =
    Seq(("tombstones", "tombstones"), ("stats", "stats"))

  /** WRITER-entry healing for a crashed erasure promote — the shared
    * content-keyed contract ([[graft.sources.StoreProtocol]]). */
  private def recoverLexErase(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Unit =
    graft.sources.StoreProtocol.recoverKeyedPromote(fs, p, "__erase_tmp",
      "KEY") { (tmp, key) =>
      graft.sources.StoreProtocol.promoteKeyed(fs, tmp, p, "ers", key,
        LexEraseSubs)
      fs.delete(tmp, true)
    }

  /** Physical compaction of the lexical store — the maintenance pass
    * that makes erasure physical and reverses append decay: postings
    * rewrite without tombstoned docs (and with replayed-append duplicate
    * rows collapsed), stats consolidate to ONE row (negative erase
    * increments folded in), and the generation swap retires the
    * tombstone relation wholesale. A full-store rewrite, deliberately:
    * postings are term-bucketed, not doc-keyed, so an erased doc's rows
    * scatter across every bucket — this is the standing OPTIMIZE cost of
    * an inverted index, run at maintenance cadence (the z-table's
    * per-directory incremental compaction has no analog here). Published
    * through the shared tmp + _SUCCESS + rename-aside protocol: a crash
    * leaves the old complete generation (tombstones intact — serving
    * stays post-erasure correct throughout). */
  def compactLexIndex(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // heal a crashed generation swap FIRST (the erase/append entries do
    // the same): without it a store mid-swap fails the require below
    // instead of healing at this writer entry
    graft.sources.IO.recoverStore(fs, p,
      new org.apache.hadoop.fs.Path(path + "__lex_tmp"))
    recoverLexAppend(fs, p)
    recoverLexErase(fs, p)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$path/stats")),
      s"cannot compact a missing lexical index at $path")
    // a writer reads the store as it is on disk, never a serve's handle
    StoreProtocol.invalidateStore(path)
    // force the consolidated inputs BEFORE the swap: their plans read the
    // generation the swap replaces
    val postings = readPostings(spark, path).distinct().localCheckpoint()
    val statsRow = spark.read.parquet(s"$path/stats")
      .dropDuplicates("inc_id")
      .agg(concat_ws("_", lit("compact"),
          coalesce(expr("bit_xor(xxhash64(inc_id))"), lit(0L)),
          count(lit(1))).as("inc_id"),
        coalesce(sum(col("total_len")), lit(0L)).cast("long").as("total_len"),
        coalesce(sum(col("n_docs")), lit(0L)).cast("long").as("n_docs"))
      .localCheckpoint()
    graft.sources.IO.publishStore(spark, path, "__lex_tmp") { tmp =>
      statsRow.coalesce(1).write.mode("overwrite").parquet(s"$tmp/stats")
      postings
        .repartition(col("tb"))
        .write.mode("overwrite").partitionBy("tb").parquet(s"$tmp/postings")
    }
  }

  /** Query-BATCH serving from a persisted index — the shape a production
    * retriever actually runs (the IVF serve's `queries` relation, on the
    * lexical side): ONE postings read pruned to the union of every
    * query's term buckets, lineage-cut at the collapsed (doc, term, tf,
    * dl) base so each query's ranking stage reads the shared base
    * instead of re-scanning the store per query; df and the pinned
    * per-query scoring chain are per-query dimension-sized work. Each
    * (qid, query) contributes its exact [[searchBm25Against]] rows
    * tagged with qid — bit-identical to serving the queries one at a
    * time (and to the corpus-scan path), so the oracle is a UNION ALL of
    * the per-query chains. Queries with no terms contribute nothing. */
  def searchBm25BatchAgainst(spark: SparkSession, path: String,
      queries: Seq[(Long, String)], topK: Int = 10, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val perQ = queries.map { case (qid, q) => (qid, Corpus.bm25Terms(q)) }
      .filter(_._2.nonEmpty)
    if (perQ.isEmpty)
      return searchBm25Against(spark, path, "")
        .select(lit(null).cast("long").as("qid"), col("*")).limit(0)
    val fs = graft.sources.IO.readableStore(spark, path, "__lex_tmp")
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$path/stats")),
      s"no lexical index at $path (write one with writeLexIndex)")
    val allTerms = perQ.flatMap(_._2).distinct.sorted
    val tbs = allTerms.map(bucketOf).distinct.sorted
    val base = readPostings(spark, path)
      .where(col("tb").isin(tbs.map(Int.box): _*)) // one pruned read
      .where(col("term").isin(allTerms: _*))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
      .distinct()
      // lazy lineage cut (the cmsWithThreshold pattern): each query's
      // term filter would otherwise push into its own copy of the scan
      // and the store would be read once per query
      .localCheckpoint(false)
    val stats = readStats(spark, path)
    perQ.map { case (qid, terms) =>
      rankServed(base.where(col("term").isin(terms: _*)), stats, terms,
          topK, k1, b)
        .select(lit(qid).as("qid"), col("doc_id"), col("n_terms"),
          col("score"), col("rk"))
    }.reduce(_ unionByName _)
  }

  /** Session memo of a built index per corpus dir: the registered
    * `_served` queries build the store ONCE per (session, corpus) under
    * the JVM temp dir and every later call serves from it — the
    * train-once / serve-many shape the store exists for. Keyed on
    * (dir, erased): the plain served store and the erased one. */
  private val servedMemo = graft.SessionCache.store[(String, Boolean), String]

  /** Distinct raw dirs never share a store path, and the per-JVM nonce
    * keeps the path deterministic in-process but unpredictable
    * ([[graft.SessionCache.storePath]]). */
  private[graft] def storePathFor(dir: String): String =
    graft.SessionCache.storePath("graft_lex", dir, graft.SessionCache.jvmNonce)

  def servedIndexPath(spark: SparkSession, dir: String): String =
    servedMemo(spark, (dir, false)) {
      val path = storePathFor(dir)
      // a new session always rebuilds (publishStore swaps atomically), so
      // a stale store from an earlier JVM can never serve this session
      writeLexIndex(spark, dir, path)
      path
    }

  /** Store for `search_bm25_erased`: full build, then every doc of the
    * deterministic subject set (doc_id ≡ 3 mod 7 — it holds two of the
    * served query's unerased top five, so the erasure visibly reshapes
    * the ranking) erased via [[eraseLexDocs]], the request replayed
    * verbatim to exercise the content-keyed no-op. Serving reads the
    * tombstone-phase paths (anti-joined postings + negative stats); the
    * physical [[compactLexIndex]] identity is spec-pinned. */
  def erasedIndexPath(spark: SparkSession, dir: String): String =
    servedMemo(spark, (dir, true)) {
      val path = storePathFor(s"ers:$dir")
      writeLexIndex(spark, dir, path)
      val subjects = Tables.documents(spark, dir)
        .where(pmod(col("doc_id"), lit(7L)) === 3L)
        .select(col("doc_id"), col("text"))
      eraseLexDocs(spark, path, subjects)
      eraseLexDocs(spark, path, subjects) // replayed request: no-op
      path
    }
}
