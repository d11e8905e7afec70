package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{GraftConfig, IncidentPipeline}

class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTest.session
  import SparkTest.Sf

  test("config resolves env overrides with reference-style defaults") {
    val cfg = GraftConfig.from {
      case "GRAFT_RAG_TOP_K" => Some("7")
      case "GRAFT_LIMIT" => Some("123")
      case _ => None
    }
    assert(cfg.ragTopK == 7 && cfg.limitCount == 123)
    assert(cfg.levelFilter == "error" && cfg.batchSize == 5)
  }

  test("config rejects a broadcast-unsafe batch at construction") {
    // the incident batch is broadcast + collected downstream; a
    // misconfigured full-day batch must fail HERE, not as an OOM later
    intercept[IllegalArgumentException](GraftConfig(batchSize = 1000000))
    intercept[IllegalArgumentException](GraftConfig(batchSize = 0))
    intercept[IllegalArgumentException](GraftConfig(ragTopK = 100000))
    intercept[IllegalArgumentException](GraftConfig.from {
      case "GRAFT_BATCH_SIZE" => Some("5000000"); case _ => None
    })
    assert(GraftConfig(batchSize = GraftConfig.MaxBatchSize).batchSize == 10000)
  }

  test("embed fields are config-driven: non-default list changes the signature") {
    import graft.operators.Embeddings
    // EMBEDDING_FIELDS semantics (embedder.py:14,20-21): the embedded text
    // is the concatenation of the CONFIGURED fields, so narrowing the list
    // must change the vector wherever the dropped field had content —
    // while the default stays byte-identical to the historical operator.
    val cfgEnv = GraftConfig.from {
      case "GRAFT_EMBED_FIELDS" => Some("text")
      case _ => None
    }
    assert(cfgEnv.embedFields == "text")
    assert(GraftConfig().embedFields == "text,source")
    val dflt = Embeddings.embedText(spark, Sf).select("doc_id", "emb_sig")
    val textOnly = Embeddings.embedText(spark, Sf, cfgEnv)
      .select(col("doc_id"), col("emb_sig").as("sig2"))
    val joined = dflt.join(textOnly, "doc_id")
    assert(joined.count() == 500)
    // every doc has a non-empty source at sf0.001, so every signature moves
    val changed = joined.where(col("emb_sig") =!= col("sig2")).count()
    assert(changed == 500, s"only $changed/500 signatures changed")
  }

  test("query window rewrite strips old clauses and appends the explicit window") {
    import graft.pipeline.QueryWindow
    val tpl = "SELECT level, message FROM Log WHERE message LIKE '%error%' " +
      "SINCE 24 hours ago LIMIT 500"
    val q = QueryWindow.rewrite(tpl, "2024-01-02 00:00:00", "2024-01-03 00:00:00")
    assert(q == "SELECT level, message FROM Log WHERE message LIKE '%error%' " +
      "SINCE '2024-01-02 00:00:00' UNTIL '2024-01-03 00:00:00' LIMIT 1000", q)
    // idempotent: rewriting an already-explicit window replaces it
    // cleanly — no leftover fragment of the old quoted timestamps
    val q2 = QueryWindow.rewrite(q, "2024-02-01 00:00:00", "2024-02-02 00:00:00", 50)
    assert(q2 == "SELECT level, message FROM Log WHERE message LIKE '%error%' " +
      "SINCE '2024-02-01 00:00:00' UNTIL '2024-02-02 00:00:00' LIMIT 50", q2)
    // relative windows in every unit/plurality, with and without UNTIL,
    // must strip without leaving clause debris ("day ago", bare "UNTIL")
    val rel = Seq(
      "SELECT x FROM Log SINCE 1 day ago",
      "SELECT x FROM Log SINCE 2 hours ago UNTIL 30 minutes ago",
      "SELECT x FROM Log SINCE 30 seconds ago",
      "SELECT x FROM Log SINCE 3 months ago LIMIT MAX",
      "SELECT x FROM Log SINCE  2 hours ago",
      "SELECT x FROM Log SINCE 3 weeks ago LIMIT 9")
    rel.foreach { tpl =>
      val r = QueryWindow.rewrite(tpl, "2024-05-01 00:00:00", "2024-05-02 00:00:00")
      assert(r == "SELECT x FROM Log " +
        "SINCE '2024-05-01 00:00:00' UNTIL '2024-05-02 00:00:00' LIMIT 1000",
        s"template <$tpl> left debris: <$r>")
    }
    // a standalone UNTIL (no SINCE) must strip, not orphan the keyword
    val u = QueryWindow.rewrite("SELECT x FROM Log UNTIL 1 hour ago",
      "2024-05-01 00:00:00", "2024-05-02 00:00:00")
    assert(u == "SELECT x FROM Log " +
      "SINCE '2024-05-01 00:00:00' UNTIL '2024-05-02 00:00:00' LIMIT 1000", u)
    // window phrases INSIDE string literals are data, not clauses
    val lit = QueryWindow.rewrite(
      "SELECT x FROM Log WHERE note = 'seen 1 minute ago' SINCE 2 hours ago",
      "2024-05-01 00:00:00", "2024-05-02 00:00:00")
    assert(lit == "SELECT x FROM Log WHERE note = 'seen 1 minute ago' " +
      "SINCE '2024-05-01 00:00:00' UNTIL '2024-05-02 00:00:00' LIMIT 1000", lit)
  }

  test("query window parse lifts the string window onto the engine config") {
    import graft.pipeline.QueryWindow
    val cfg = QueryWindow.parse(
      "SELECT x FROM Log SINCE '2024-03-01 06:00:00' UNTIL '2024-03-02 06:00:00' LIMIT 42")
    assert(cfg.sinceTs == "2024-03-01 06:00:00")
    assert(cfg.untilTs == "2024-03-02 06:00:00")
    assert(cfg.limitCount == 42)
    // absent clauses keep the base config's values
    val part = QueryWindow.parse("SELECT x FROM Log LIMIT 7")
    assert(part.limitCount == 7 && part.sinceTs == GraftConfig().sinceTs)
    // a window phrase INSIDE a string literal is data, not config — the
    // same quote-parity guard the rewrite sweepers carry
    val quoted = QueryWindow.parse(
      "SELECT x FROM Log WHERE note = 'retry SINCE ''boot'' LIMIT 5' LIMIT 9")
    assert(quoted.limitCount == 9, quoted.toString)
    val inLit = QueryWindow.parse("SELECT x FROM Log WHERE note = 'use LIMIT 5 here'")
    assert(inLit.limitCount == GraftConfig().limitCount, inLit.toString)
    // a limit beyond Int range keeps the base value instead of throwing
    val huge = QueryWindow.parse("SELECT x FROM Log LIMIT 99999999999999999999")
    assert(huge.limitCount == GraftConfig().limitCount, huge.toString)
  }

  test("end-to-end pipeline: fetch → preprocess → embed → index → rag → history") {
    val out = "/tmp/graft_pipeline_test"
    val (historyRows, prompt) = IncidentPipeline.run(spark, Sf, out)
    assert(historyRows > 0)
    assert(prompt.startsWith("Given the following logs"))
    assert(prompt.contains("Current Logs:\n- "))
    assert(prompt.contains("Similar Past Incidents:\n- "))
    assert(prompt.endsWith("RCA and Fix Suggestion:"))
    // index is re-readable and unit-normalized
    val idx = spark.read.parquet(s"$out/index")
    assert(idx.count() > 0)
    val norms = idx.select(graft.functions.VecFns.norm(col("embedding")).as("n"))
      .where(abs(col("n") - 1.0) > 1e-9 && col("n") =!= 0.0)
    assert(norms.count() == 0, "index embeddings must be unit-norm")
    // history carries similarity context
    val hist = spark.read.parquet(s"$out/history")
    assert(hist.columns.contains("best_sim") && hist.columns.contains("n_hits"))
  }

  test("pipeline prompt is byte-stable across two full runs at sf0.01") {
    // rag determinism pin (r9 carried item): every stage of fetch →
    // preprocess → embed → rag is deterministic given the input — the
    // ordered-limit fetch, hash-seeded embeddings, lexicographic rank
    // tie-breaks, and the two 1-row global aggregates ragBatch joins —
    // so two END-TO-END drives must produce byte-identical prompts
    val sf01 = "/root/testdata/sf0.01"
    def releaseAll(): Unit = graft.SessionCache.releaseScratch(spark)
    // drop every session memo between runs so run 2 re-executes each
    // stage from scratch — a fit/signature memo surviving across runs
    // would make the byte-equality vacuous for the memoized stage
    releaseAll()
    val (n1, p1) = IncidentPipeline.run(spark, sf01, "/tmp/graft_pipeline_det1")
    releaseAll()
    val (n2, p2) = IncidentPipeline.run(spark, sf01, "/tmp/graft_pipeline_det2")
    assert(n1 == n2, s"history row counts must match: $n1 vs $n2")
    assert(p1 == p2, "prompt must be byte-identical across runs")
    assert(p1.startsWith("Given the following logs") &&
      p1.endsWith("RCA and Fix Suggestion:"), p1.take(200))
  }

  test("append-mode index write grows the index without duplicating ids") {
    import IncidentPipeline._
    val idxPath = "/tmp/graft_append_idx/index"
    val p = new org.apache.hadoop.fs.Path("/tmp/graft_append_idx")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    // first run: 40 earliest errors; second run: 80 — the first 40 are
    // the SAME events (same ordered fetch), so a raw append would
    // double-count them (120 rows); the merge must yield exactly 80
    val cfg1 = GraftConfig(limitCount = 40)
    val run1 = embed(preprocess(fetch(spark, Sf, cfg1)), cfg1)
    appendIndex(spark, run1, idxPath)
    val n1 = spark.read.parquet(idxPath).count()
    val cfg2 = GraftConfig(limitCount = 80)
    val run2 = embed(preprocess(fetch(spark, Sf, cfg2)), cfg2)
    appendIndex(spark, run2, idxPath)
    val idx = spark.read.parquet(idxPath)
    val n2 = idx.count()
    assert(n2 > n1, s"second run must grow the index ($n1 -> $n2)")
    assert(idx.select("event_id").distinct().count() == n2,
      "append must not duplicate event ids")
    // every first-run id is still present after the second append
    val run1Ids = run1.select("event_id")
    assert(run1Ids.exceptAll(idx.select("event_id")).count() == 0)
    // the FIRST write must also have arrived via the tmp+swap route:
    // recoverStore's "p exists ⇒ p is complete" rests on p only ever
    // being produced by an atomic rename, and the committed-write marker
    // is the witness (a crashed direct write would lack it)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idxPath/_SUCCESS")),
      "index store must carry its commit marker")
  }

  test("pipeline stages are individually lazy plans (no action before sink)") {
    val cfg = GraftConfig(limitCount = 50)
    val fetched = IncidentPipeline.fetch(spark, Sf, cfg)
    val cleaned = IncidentPipeline.preprocess(fetched)
    val embedded = IncidentPipeline.embed(cleaned, cfg)
    // still unexecuted plans; a single action drives the whole chain
    assert(embedded.queryExecution.logical != null)
    assert(embedded.count() <= 50)
  }
}
