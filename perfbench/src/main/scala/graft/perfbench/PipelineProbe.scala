package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.{GraftConfig, IncidentPipeline}

/** The incident pipeline layer, probed in every traced run: the on-call
  * flow of the reference's main.py — fetch → preprocess → embed → append
  * to the accumulating index → RAG batch → history — with seeded windows,
  * limits, batch sizes and top-k, on the run's tables. The index is first
  * filled to its steady size, so a run's merge replaces rows and never
  * grows the store; one untraced run warms the path before the traced ones. */
object PipelineProbe {
  val Stages = Seq("fetch_embed", "append_index", "rag_batch", "history")
  val Runs = 3

  /** Four seeded run configurations; runs cycle through them in order. */
  def configs(seed: Long): Seq[GraftConfig] = {
    val r = Seeded.rng(seed, 2)
    Seq(200, 500, 1000, 500).map { limit =>
      val from = 1 + r.nextInt(22)
      GraftConfig(sinceTs = Seeded.day(from), untilTs = Seeded.day(from + 3 + r.nextInt(6)),
        limitCount = limit, batchSize = 3 + r.nextInt(8), ragTopK = 3 + r.nextInt(8))
    }
  }

  /** The whole window with no limit: every fetchable incident. */
  val fill: GraftConfig = GraftConfig(limitCount = Int.MaxValue)

  /** One incident run; returns the prompt. */
  def runOnce(spark: SparkSession, dir: String, index: String, history: String,
      cfg: GraftConfig, tracer: Tracer): String = {
    val embedded = tracer.span("pipeline", "fetch_embed") {
      val e = IncidentPipeline.embed(IncidentPipeline.preprocess(
        IncidentPipeline.fetch(spark, dir, cfg)), cfg).persist()
      e.count()
      e
    }
    try {
      tracer.span("pipeline", "append_index")(IncidentPipeline.appendIndex(spark, embedded, index))
      val (similar, prompt) =
        tracer.span("pipeline", "rag_batch")(IncidentPipeline.ragBatch(spark, index, embedded, cfg))
      tracer.span("pipeline", "history") {
        similar.withColumn("prompt_chars", lit(prompt.length))
          .withColumn("run_batch_size", lit(cfg.batchSize))
          .write.mode("overwrite").parquet(history)
        spark.read.parquet(history).count()
      }
      prompt
    } finally embedded.unpersist()
  }

  def run(spark: SparkSession, ctx: Ctx): (Map[String, Double], Seq[Check]) = {
    val index = ctx.path("rca/index")
    val history = ctx.path("rca/history")
    IncidentPipeline.appendIndex(spark, IncidentPipeline.embed(IncidentPipeline.preprocess(
      IncidentPipeline.fetch(spark, ctx.data, fill)), fill), index)
    val cfgs = configs(ctx.seed)
    runOnce(spark, ctx.data, index, history, cfgs.last, new Tracer(spark.sparkContext, false))
    val tracer = new Tracer(spark.sparkContext, true)
    val prompts = (0 until Runs).map { i =>
      val c = cfgs(i % cfgs.size)
      c -> tracer.span("op", "incident_run")(runOnce(spark, ctx.data, index, history, c, tracer))
    }
    val spans = tracer.spans()
    tracer.close()
    val stages = spans.filter(_.layer == "pipeline")
    val indexRows = spark.read.parquet(index).count()
    val writeBytes = stages.filter(_.name == "append_index")
      .map(s => tracer.counts(s.id).outputBytes.get).sum
    val metrics = Stages.flatMap { st =>
      val mine = stages.filter(_.name == st)
      Seq(s"pipeline.$st.p50_s" -> Stats.median(mine.map(_.seconds)),
        s"pipeline.$st.jobs" -> mine.map(s => tracer.counts(s.id).jobs.get.toDouble).sum / mine.size)
    }.toMap ++ Map(
      "sources.index_write_mb" -> Layers.mb(writeBytes) / Runs,
      "sources.index_rows" -> indexRows.toDouble,
      "self.pipeline_s_per_op" -> Trace.selfSeconds(spans).getOrElse("pipeline", 0.0) / Runs)
    // the history store holds the last run's RAG rows
    val checks = prompts.zipWithIndex.map { case ((c, prompt), i) =>
      Check(s"incident_run_$i", history, "", Main.digestText(prompt),
        Map("prompt" -> prompt, "since" -> c.sinceTs, "until" -> c.untilTs,
          "limit" -> c.limitCount.toString, "batch" -> c.batchSize.toString,
          "index_rows" -> indexRows.toString))
    }
    (metrics, checks)
  }
}
