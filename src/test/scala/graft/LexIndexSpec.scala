package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Corpus, Embeddings, LexIndex}

/** Durable lexical (inverted) index: persistence, scan-free BM25 serving
  * bit-identical to the corpus-scan path, term-bucket partition pruning,
  * the served hybrid leg, and the shared crash walk — the retrieval twin
  * of IvfIndexSpec (the reference persists its retrieval index the same
  * way, /root/reference/src/vector_db/faiss_db.py:24-35). */
class LexIndexSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  private val Sf = "/root/testdata/sf0.01"

  private def wipe(path: String): Unit = {
    import scala.reflect.io.Directory
    new Directory(new java.io.File(path)).deleteRecursively()
    ()
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Double, Long)] =
    df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_terms"),
      r.getAs[Double]("score"), r.getAs[Long]("rk"))).toSeq.sortBy(_._4)

  test("served BM25 is bit-identical to the corpus-scan path") {
    val idx = "/tmp/graft_lex_index"
    wipe(idx)
    LexIndex.writeLexIndex(spark, Sf, idx)
    // several query points: multi-term, single-term, term-absent, k-cut
    val points = Seq(
      ("spark join window customer", 10),
      ("data stream sort", 3),
      ("customer", 7),
      ("zqxjkv", 10)) // no-hit term: EMPTY on both paths
    points.foreach { case (q, k) =>
      val scanned = rows(Corpus.searchBm25(spark, Sf, query = q, topK = k))
      val served = rows(LexIndex.searchBm25Against(spark, idx, q, topK = k))
      assert(served == scanned,
        s"served($q,$k) diverged:\nserved =$served\nscanned=$scanned")
    }
  }

  test("serving reads only the query terms' bucket partitions") {
    val idx = "/tmp/graft_lex_index"
    if (!new java.io.File(s"$idx/stats").exists())
      LexIndex.writeLexIndex(spark, Sf, idx)
    val q = "spark join window customer" // 4 terms -> <= 4 of 256 buckets
    val out = LexIndex.searchBm25Against(spark, idx, q)
    out.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case qs: QueryStageExec => scans(qs.plan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(scans)
      }
    val postingScans = scans(out.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("postings")))
    assert(postingScans.nonEmpty)
    // the tf relation and its derived df relation may each scan, but both
    // must prune to the <= 4 touched bucket files
    def countFiles(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(countFiles).sum
      else if (f.getName.endsWith(".parquet")) 1L else 0L
    val totalFiles = countFiles(new java.io.File(s"$idx/postings"))
    // the synthetic corpus has a small closed vocabulary, so only a
    // fraction of the 256 buckets populate — the pruning ratio below is
    // still real (<= 4 of them read)
    assert(totalFiles >= 16,
      s"the corpus vocabulary should fan out across buckets: $totalFiles")
    postingScans.foreach { scan =>
      val filesRead = scan.metrics("numFiles").value
      assert(filesRead > 0 && filesRead <= 4,
        s"serve must prune to the query's term buckets: " +
          s"read $filesRead of $totalFiles")
    }
  }

  test("served hybrid RRF equals the scan-path hybrid") {
    val idx = "/tmp/graft_lex_index"
    if (!new java.io.File(s"$idx/stats").exists())
      LexIndex.writeLexIndex(spark, Sf, idx)
    val scanned = Embeddings.searchHybridRrf(spark, Sf,
      query = "data stream sort", qvecId = 11).collect().map(_.toSeq).toSeq
    val served = Embeddings.searchHybridRrfServed(spark, Sf, idx,
      query = "data stream sort", qvecId = 11).collect().map(_.toSeq).toSeq
    assert(served == scanned)
    assert(served.nonEmpty)
  }

  test("empty-term query serves the index-typed empty schema; missing store fails loudly") {
    val idx = "/tmp/graft_lex_index"
    if (!new java.io.File(s"$idx/stats").exists())
      LexIndex.writeLexIndex(spark, Sf, idx)
    val empty = LexIndex.searchBm25Against(spark, idx, "   ")
    assert(empty.count() == 0)
    val nonEmpty = LexIndex.searchBm25Against(spark, idx, "customer")
    assert(empty.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      nonEmpty.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    intercept[IllegalArgumentException] {
      LexIndex.searchBm25Against(spark, "/tmp/graft_lex_nonexistent", "customer")
    }
    ()
  }

  test("batch serving: one pruned store read; per-query rows equal single-query serving") {
    val idx = "/tmp/graft_lex_index"
    if (!new java.io.File(s"$idx/stats").exists())
      LexIndex.writeLexIndex(spark, Sf, idx)
    val qs = Seq(1L -> "spark join window customer",
      2L -> "data stream sort", 3L -> "zqxjkv")
    val out = LexIndex.searchBm25BatchAgainst(spark, idx, qs, topK = 5)
    val got = out.collect()
    qs.foreach { case (qid, q) =>
      val single = LexIndex.searchBm25Against(spark, idx, q, topK = 5)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_terms"),
          r.getAs[Double]("score"), r.getAs[Long]("rk"))).toSet
      val batch = got.filter(_.getLong(0) == qid)
        .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toSet
      assert(batch == single, s"batch leg $qid diverges from single-query serving")
    }
    assert(got.count(_.getLong(0) == 1L) == 5 && got.count(_.getLong(0) == 3L) == 0)
    // the store is read ONCE through the lineage-cut base: the executed
    // plan shows the checkpointed RDD, never a per-query postings scan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case qstage: QueryStageExec => scans(qstage.plan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(scans)
      }
    val postingScans = scans(out.queryExecution.executedPlan)
      .count(_.relation.location.rootPaths.exists(_.toString.contains("postings")))
    assert(postingScans == 0 &&
      out.queryExecution.executedPlan.toString.contains("ExistingRDD"),
      s"batch serving must read the store once via the checkpointed base, " +
        s"got $postingScans direct postings scans")
  }

  test("append extends the index; served equals a full rebuild over the union; replays collapse") {
    import spark.implicits._
    val idx = "/tmp/graft_lex_append"
    val full = "/tmp/graft_lex_append_full"
    wipe(idx); wipe(full)
    def corpus(ids: Range, tag: String) = ids.map { i =>
      (i.toLong, s"alpha bravo $tag word$i charlie", "s") }
      .toDF("doc_id", "text", "source")
    val base = corpus(0 until 40, "base")
    val inc = corpus(100 until 110, "fresh")
    LexIndex.writeLexIndexFrom(base, idx)
    LexIndex.appendLexIndex(spark, idx, inc)
    LexIndex.writeLexIndexFrom(base.unionByName(inc), full)
    // served over the appended store == a full rebuild over the union ==
    // the corpus-scan path (stats sum exactly; df from collapsed postings)
    Seq("alpha", "fresh charlie", "bravo word105").foreach { q =>
      val app = rows(LexIndex.searchBm25Against(spark, idx, q))
      val reb = rows(LexIndex.searchBm25Against(spark, full, q))
      val scan = rows(Corpus.searchBm25From(base.unionByName(inc), q, 10))
      assert(app == reb, s"append-served($q) != rebuild-served($q)")
      assert(app == scan, s"append-served($q) != scan path($q)")
      assert(app.nonEmpty)
    }
    // REPLAYED append (same logical batch twice): byte-identical posting
    // rows and an identical-inc_id stats row — the read side collapses
    // both, so the replay is a no-op
    LexIndex.appendLexIndex(spark, idx, inc)
    Seq("alpha", "fresh charlie").foreach { q =>
      assert(rows(LexIndex.searchBm25Against(spark, idx, q)) ==
        rows(LexIndex.searchBm25Against(spark, full, q)),
        s"replayed append must be a read-side no-op ($q)")
    }
  }

  test("a crashed append resumes at the next writer entry; readers stay passive") {
    import spark.implicits._
    val idx = "/tmp/graft_lex_appcrash"
    wipe(idx)
    def corpus(ids: Range, tag: String) = ids.map { i =>
      (i.toLong, s"alpha bravo $tag word$i charlie", "s") }
      .toDF("doc_id", "text", "source")
    LexIndex.writeLexIndexFrom(corpus(0 until 30, "base"), idx)
    // hand-build the crash state: a COMPLETE increment tmp (root
    // _SUCCESS) that died before any file moved
    val inc = corpus(500 until 505, "crashinc")
    LexIndex.postingsOf(inc).repartition(col("tb"))
      .write.partitionBy("tb").parquet(idx + "__append_tmp/postings")
    LexIndex.statsOf(inc).coalesce(1)
      .write.parquet(idx + "__append_tmp/stats")
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(idx + "__append_tmp")
    fs.create(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")).close()
    // a READER serves the last complete state and leaves the tmp alone
    assert(LexIndex.searchBm25Against(spark, idx, "crashinc").count() == 0,
      "a reader must not see (or promote) a crashed increment")
    assert(fs.exists(tmp), "a reader must never delete an append tmp")
    // the next WRITER entry resumes the crashed move, then lands its own
    // increment — both become visible at once
    LexIndex.appendLexIndex(spark, idx, corpus(600 until 602, "later"))
    assert(LexIndex.searchBm25Against(spark, idx, "crashinc").count() > 0,
      "writer entry must promote the crashed increment")
    assert(LexIndex.searchBm25Against(spark, idx, "later").count() > 0)
    assert(!fs.exists(tmp), "promoted append tmp must be gone")
    // appending to a MISSING index fails loudly, it cannot invent one
    intercept[IllegalArgumentException] {
      LexIndex.appendLexIndex(spark, "/tmp/graft_lex_nonexistent", inc)
    }
    ()
  }

  test("bucket compaction collapses append-decayed files without changing served results") {
    import spark.implicits._
    // appends write one file set per batch per touched bucket — the
    // classic small-files decay of a long-running sink; IO.compact on a
    // bucket directory is the maintenance counter-move, and it must be
    // invisible to serving
    val idx = "/tmp/graft_lex_compact"
    wipe(idx)
    def corpus(ids: Range, tag: String) = ids.map { i =>
      (i.toLong, s"alpha bravo $tag word$i charlie", "s") }
      .toDF("doc_id", "text", "source")
    LexIndex.writeLexIndexFrom(corpus(0 until 20, "base"), idx)
    (1 to 5).foreach { k =>
      LexIndex.appendLexIndex(spark, idx, corpus(k * 100 until k * 100 + 5, s"inc$k"))
    }
    val before = rows(LexIndex.searchBm25Against(spark, idx, "alpha bravo inc3"))
    // every append touched the 'alpha' bucket: ≥6 file sets live there
    val b = LexIndex.bucketOf("alpha")
    def files(dir: String): Long = {
      val d = new java.io.File(dir)
      if (!d.isDirectory) 0L
      else d.listFiles().count(_.getName.endsWith(".parquet")).toLong
    }
    val nBefore = files(s"$idx/postings/tb=$b")
    assert(nBefore >= 6, s"appends should have decayed the bucket: $nBefore")
    val (was, now) = graft.sources.IO.compact(spark, s"$idx/postings/tb=$b")
    assert(was == nBefore && now < was,
      s"compaction must shrink the bucket: $was -> $now")
    // stats decays one tiny file per append too — same maintenance move
    graft.sources.IO.compact(spark, s"$idx/stats")
    val after = rows(LexIndex.searchBm25Against(spark, idx, "alpha bravo inc3"))
    assert(after == before, "compaction must be invisible to serving")
  }

  test("crash walk: mid-swap heals to v2; readers never delete a tmp; writers clean debris") {
    import spark.implicits._
    val idx = "/tmp/graft_lex_crash"
    wipe(idx); wipe(idx + "_stage")
    def corpus(tag: String) = (0L until 30L).map { i =>
      (i, s"alpha bravo $tag t$i charlie delta", "s") }
      .toDF("doc_id", "text", "source")
    LexIndex.writeLexIndexFrom(corpus("vone"), idx)
    // v2 staged complete, live dir set aside — the mid-swap crash state
    LexIndex.writeLexIndexFrom(corpus("vtwo"), idx + "_stage")
    val p = new org.apache.hadoop.fs.Path(idx)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(p, new org.apache.hadoop.fs.Path(idx + "__swap_old"))
    fs.rename(new org.apache.hadoop.fs.Path(idx + "_stage"),
      new org.apache.hadoop.fs.Path(idx + "__lex_tmp"))
    // the next read heals to the complete v2 generation: the v2-only
    // term matches, the v1-only term is gone
    assert(LexIndex.searchBm25Against(spark, idx, "vtwo").count() > 0,
      "healed store must be the complete v2 generation")
    assert(LexIndex.searchBm25Against(spark, idx, "vone").count() == 0,
      "v1 postings must not survive the healed swap")
    // partial tmp (no root _SUCCESS) next to the live store: readers
    // serve the live store and leave the tmp (may be a live writer's);
    // the next writer entry cleans it
    val tmp = new org.apache.hadoop.fs.Path(idx + "__lex_tmp")
    fs.mkdirs(new org.apache.hadoop.fs.Path(tmp, "postings"))
    assert(LexIndex.searchBm25Against(spark, idx, "vtwo").count() > 0)
    assert(fs.exists(tmp), "a reader must never delete a tmp")
    LexIndex.writeLexIndexFrom(corpus("vthree"), idx)
    assert(!fs.exists(tmp), "writer entry must clean partial tmp debris")
    assert(LexIndex.searchBm25Against(spark, idx, "vthree").count() > 0)
  }

  test("inc_id is a CONTENT key: same doc-id set, different text → " +
    "distinct stats rows (both increments count)") {
    import spark.implicits._
    val a = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text")
    val b = Seq((1L, "delta"), (2L, "epsilon zeta eta")).toDF("doc_id", "text")
    def stat(df: DataFrame) = LexIndex.statsOf(df).collect().head
    val (sa, sb) = (stat(a), stat(b))
    // doc-id multisets are identical — a doc-id-only key would collapse
    // these and the read-side sum would silently drop one increment
    assert(sa.getAs[String]("inc_id") != sb.getAs[String]("inc_id"),
      s"stats keys must differ for different content: $sa vs $sb")
    // a byte-identical REPLAY still collapses (the at-least-once contract)
    assert(stat(a).getAs[String]("inc_id") == sa.getAs[String]("inc_id"))
    // and end-to-end: appending b after a must count BOTH increments
    val idx = "/tmp/graft_lex_incid"
    wipe(idx)
    LexIndex.writeLexIndexFrom(a, idx)
    LexIndex.appendLexIndex(spark, idx, b)
    val hit = LexIndex.searchBm25Against(spark, idx, "epsilon")
    assert(hit.count() == 1, "the second increment's postings must serve")
    // the corpus constants (n_docs=4, total_len=7) reach the served
    // score through idf and avgdl: a dropped stats row would shift both.
    // Pin the closed form — idf = ln(1+(4-1+0.5)/(1+0.5)), tf=1, dl=3,
    // avgdl = 7/4, k1=1.2, b=0.75 (score is round(·,6) on the engine).
    val score = hit.collect().head.getAs[Double]("score")
    val idf = math.log(1.0 + (4 - 1 + 0.5) / (1 + 0.5))
    val tnorm = 1.0 * (1.2 + 1) / (1.0 + 1.2 * (1 - 0.75 + 0.75 * 3 / (7.0 / 4)))
    assert(math.abs(score - idf * tnorm) < 1e-6,
      s"served score $score must normalize over BOTH increments' stats " +
        s"(expected ${idf * tnorm})")
  }

  test("erasure: tombstone serving equals a from-scratch index without the subjects") {
    import graft.sources.Tables
    val idx = "/tmp/graft_lex_erase"
    val scratch = "/tmp/graft_lex_erase_scratch"
    wipe(idx); wipe(scratch)
    LexIndex.writeLexIndex(spark, Sf, idx)
    val subjects = Tables.documents(spark, Sf)
      .where(pmod(col("doc_id"), lit(7L)) === 3L)
      .select(col("doc_id"), col("text"))
    val before = rows(LexIndex.searchBm25Against(spark, idx,
      "customer window order part", topK = 5))
    LexIndex.eraseLexDocs(spark, idx, subjects)
    LexIndex.writeLexIndexFrom(Tables.documents(spark, Sf)
      .where(col("doc_id").isNull || pmod(col("doc_id"), lit(7L)) =!= 3L),
      scratch)
    val points = Seq(("customer window order part", 5),
      ("spark join window customer", 10), ("zqxjkv", 10))
    points.foreach { case (q, k) =>
      val erased = rows(LexIndex.searchBm25Against(spark, idx, q, topK = k))
      val rebuilt = rows(LexIndex.searchBm25Against(spark, scratch, q, topK = k))
      assert(erased == rebuilt, s"erased serve diverged from rebuild for ($q,$k)")
      assert(erased.forall(_._1 % 7 != 3), "an erased doc surfaced")
    }
    // the erasure visibly re-ranked (two of the unerased top five vanish)
    assert(rows(LexIndex.searchBm25Against(spark, idx,
      "customer window order part", topK = 5)) != before,
      "the subject set was chosen to bite — the ranking must change")
    // replayed and OVERLAPPING requests must not double-subtract the
    // corpus constants: serve again after both, still rebuild-identical
    LexIndex.eraseLexDocs(spark, idx, subjects)
    LexIndex.eraseLexDocs(spark, idx, Tables.documents(spark, Sf)
      .where(pmod(col("doc_id"), lit(7L)) === 3L ||
        col("doc_id") === 317L).select(col("doc_id"), col("text")))
    val scratch2 = "/tmp/graft_lex_erase_scratch2"
    wipe(scratch2)
    LexIndex.writeLexIndexFrom(Tables.documents(spark, Sf)
      .where(col("doc_id").isNull || (pmod(col("doc_id"), lit(7L)) =!= 3L &&
        col("doc_id") =!= 317L)), scratch2)
    points.foreach { case (q, k) =>
      assert(rows(LexIndex.searchBm25Against(spark, idx, q, topK = k)) ==
        rows(LexIndex.searchBm25Against(spark, scratch2, q, topK = k)),
        s"overlapping erasure diverged from rebuild for ($q,$k)")
    }
  }

  test("erasure goes physical at compaction: tombstones retire, no subject rows remain, serving unchanged") {
    import graft.sources.Tables
    val idx = "/tmp/graft_lex_erase_phys"
    wipe(idx)
    LexIndex.writeLexIndex(spark, Sf, idx)
    LexIndex.eraseLexDocs(spark, idx, Tables.documents(spark, Sf)
      .where(pmod(col("doc_id"), lit(7L)) === 3L)
      .select(col("doc_id"), col("text")))
    val points = Seq(("customer window order part", 5),
      ("spark join window customer", 10))
    val served = points.map { case (q, k) =>
      rows(LexIndex.searchBm25Against(spark, idx, q, topK = k)) }
    LexIndex.compactLexIndex(spark, idx)
    assert(!new java.io.File(s"$idx/tombstones").exists(),
      "tombstones must retire once physical")
    assert(spark.read.parquet(s"$idx/postings")
      .where(pmod(col("doc_id"), lit(7L)) === 3L).count() == 0L,
      "erased subjects must have no physical postings after compaction")
    assert(points.map { case (q, k) =>
      rows(LexIndex.searchBm25Against(spark, idx, q, topK = k)) } == served,
      "compaction changed served results")
    // stats consolidated to ONE row whose sums already fold the erasure
    assert(spark.read.parquet(s"$idx/stats").count() == 1L)
  }

  test("erasure crash walk: partial tmp drops, complete tmp resumes, at the next writer entry") {
    import graft.sources.Tables
    import org.apache.hadoop.fs.Path
    val idx = "/tmp/graft_lex_erase_crash"
    wipe(idx)
    LexIndex.writeLexIndex(spark, Sf, idx)
    val p = new Path(idx)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(idx + "__erase_tmp")
    val subjects = Tables.documents(spark, Sf)
      .where(pmod(col("doc_id"), lit(7L)) === 3L)
      .select(col("doc_id"), col("text"))
    // 1) PARTIAL erase tmp (no _SUCCESS): debris — dropped, store unchanged
    fs.mkdirs(new Path(tmp, "tombstones"))
    fs.create(new Path(tmp, "tombstones/part-junk.parquet")).close()
    val clean = rows(LexIndex.searchBm25Against(spark, idx,
      "customer window order part", topK = 5))
    LexIndex.eraseLexDocs(spark, idx, subjects.limit(0)) // writer entry
    assert(!fs.exists(tmp), "partial erase tmp must drop")
    assert(rows(LexIndex.searchBm25Against(spark, idx,
      "customer window order part", topK = 5)) == clean)
    // 2) COMPLETE erase tmp: fabricate the writer's exact layout, then a
    // writer entry resumes the promote
    subjects.select(col("doc_id")).coalesce(1)
      .write.mode("overwrite").parquet(s"$tmp/tombstones")
    spark.range(1).select(lit("erase:probe_1").as("inc_id"),
        lit(-100L).as("total_len"), lit(-1L).as("n_docs"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/stats")
    fs.create(new Path(tmp, "KEY_probe")).close()
    fs.create(new Path(tmp, "_SUCCESS")).close()
    LexIndex.appendLexIndex(spark, idx,
      Tables.documents(spark, Sf).limit(0)) // any writer entry
    assert(!fs.exists(tmp), "complete erase tmp must promote")
    assert(new java.io.File(s"$idx/tombstones").listFiles()
      .exists(_.getName.startsWith("ers-probe-")),
      "promoted tombstone must land under its content-keyed name")
    // the tombstone now bites: no subject doc can surface
    assert(rows(LexIndex.searchBm25Against(spark, idx,
      "customer window order part", topK = 5)).forall(_._1 % 7 != 3))
  }

  test("job budget: a warm served BM25 request runs no job while its " +
    "DataFrame is built and at most 3 when it runs") {
    val idx = "/tmp/graft_lex_index"
    if (!new java.io.File(s"$idx/stats").exists())
      LexIndex.writeLexIndex(spark, Sf, idx)
    val q = "spark join window customer"
    // warm: the store's listing and corpus constants are read once per
    // store generation, outside the pin
    LexIndex.searchBm25Against(spark, idx, q).collect()
    var out: DataFrame = null
    val building = SparkTest.jobsOf { out = LexIndex.searchBm25Against(spark, idx, q) }
    val running = SparkTest.jobsOf { out.collect() }
    assert(building == 0, s"building the request ran $building jobs (schema " +
      "inference or stats reads per request)")
    // one term-keyed exchange (collapse + df), one doc-keyed exchange
    // (per-doc scores), the top-k result stage
    assert(running <= 3, s"the request ran $running jobs (8 with broadcast " +
      "df/stats relations)")
  }

  private def corpusOf(ids: Range, tag: String): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"alpha bravo $tag word$i charlie", "s"))
      .toDF("doc_id", "text", "source")
  }

  test("writes reach a serve that cached the store: append, erase, compaction") {
    val idx = "/tmp/graft_lex_visible"
    wipe(idx)
    LexIndex.writeLexIndexFrom(corpusOf(0 until 30, "base"), idx)
    // each serve below fills or hits the store's cached postings handle
    assert(LexIndex.searchBm25Against(spark, idx, "fresh").count() == 0)
    LexIndex.appendLexIndex(spark, idx, corpusOf(100 until 104, "fresh"))
    assert(rows(LexIndex.searchBm25Against(spark, idx, "fresh")).map(_._1) ==
      (100L until 104L), "the serve after an append must see the appended docs")
    val subjects = Set(3L, 10L, 17L, 24L)
    assert(rows(LexIndex.searchBm25Against(spark, idx, "alpha", topK = 50))
      .map(_._1).toSet.intersect(subjects) == subjects)
    LexIndex.eraseLexDocs(spark, idx, corpusOf(0 until 30, "base")
      .where(col("doc_id").isin(subjects.toSeq: _*))
      .select(col("doc_id"), col("text")))
    val erased = rows(LexIndex.searchBm25Against(spark, idx, "alpha", topK = 50))
    assert(erased.size == 34 - subjects.size &&
      !erased.exists(r => subjects(r._1)),
      "the serve after an erase must not return an erased subject")
    LexIndex.compactLexIndex(spark, idx)
    assert(rows(LexIndex.searchBm25Against(spark, idx, "alpha", topK = 50)) == erased,
      "the serve after a compaction must return the same ranking")
  }

  test("a serve that starts after an append returns sees it, while a reader " +
    "serves throughout the append (20 runs)") {
    val idx = "/tmp/graft_lex_race"
    wipe(idx)
    LexIndex.writeLexIndexFrom(corpusOf(0 until 20, "base"), idx)
    (1 to 20).foreach { run =>
      val term = s"race$run"
      val appended = new java.util.concurrent.atomic.AtomicBoolean(false)
      val seen = new java.util.concurrent.atomic.AtomicLong(-1L)
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val reader = new Thread(() =>
        try {
          var done = false
          while (!done) {
            // read the flag BEFORE the serve starts: only a serve begun
            // after the writer returned is held to the append
            val after = appended.get()
            val n = LexIndex.searchBm25Against(spark, idx, term).count()
            if (after) { seen.set(n); done = true }
          }
        } catch { case t: Throwable => failure.set(t) })
      reader.start()
      LexIndex.appendLexIndex(spark, idx,
        corpusOf(run * 100 until run * 100 + 3, term))
      appended.set(true)
      reader.join()
      Option(failure.get()).foreach(t => throw t)
      assert(seen.get() == 3L,
        s"run $run: the first serve after the append saw ${seen.get()} of 3 docs")
    }
  }

  test("servedIndexPath is collision-proof: dirs that sanitize alike " +
    "get distinct stores; the path is session-unpredictable") {
    val p1 = LexIndex.storePathFor("/data/a b")
    val p2 = LexIndex.storePathFor("/data/a_b")
    assert(p1 != p2,
      s"sanitize-colliding dirs must not share a store: $p1")
    // deterministic within the JVM (the memo contract)…
    assert(p1 == LexIndex.storePathFor("/data/a b"))
    // …and not the bare fixed name another user could pre-create
    assert(!p1.endsWith("graft_lex__data_a_b"),
      "path must carry the content key + JVM nonce")
  }
}
