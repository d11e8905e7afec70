package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators.{LexIndex, LogOps}

/** One dashboard request: what the analyst asked for and the oracle query
  * that answers it in DuckDB. */
final case class Request(kind: String, key: String,
    run: (SparkSession, String, String) => DataFrame, sql: String)

/** `dashboard`: an analyst session of 2 closed-loop clients issuing seeded
  * requests against the log-analytics surface and the served BM25 store.
  * Each client walks seeded rounds that ask every request kind once, so
  * every seed sees the same kind mix; the seed draws parameters, variants
  * and order. The timed op is the round, one refresh of every view: the
  * request kinds' latencies lie in separate clusters (0.1–0.9 s), so a
  * median over single requests falls in a gap between two of them and moves
  * with the seed's parameters (one seed read ~20% above another in every
  * run), while a round sums all kinds. */
final class Dashboard(seed: Long) extends Workload {
  import Dashboard._

  /** [[Variants]] parameter points per parametric kind, one for the fixed
    * ones. */
  val pool: Seq[Request] = {
    val r = Seeded.rng(seed, 1)
    def digitLike(): String = s"%${r.nextInt(10)}%"
    def draw[T](n: Int)(f: => T): Seq[T] = Seq.fill(n)(f)
    val entries = draw(Variants) {
      val level = Seeded.EventTypes(r.nextInt(5))
      val user = digitLike()
      val kw = (r.nextInt(90) + 10).toString.take(1 + r.nextInt(2))
      val since = Seeded.day(1 + r.nextInt(28))
      val ns = if (r.nextBoolean()) "" else r.nextInt(10).toString
      Request("search_entries", s"search_entries($level,$user,$kw,$since,$ns)",
        (s, d, _) => LogOps.searchEntries(s, d, level = level, userLike = user,
          keyword = kw, sinceTs = since, limit = 200, namespace = ns),
        SparkEntry.searchEntriesSql(level, user, kw, since, 200, namespace = ns))
    }
    val searchAll = draw(Variants) {
      val kw = f"${r.nextInt(256)}%02x"
      Request("search_all", s"search_all($kw)", (s, d, _) => LogOps.searchAll(s, d, keyword = kw),
        SparkEntry.searchAllSql(kw))
    }
    val ingest = draw(Variants) {
      val user = digitLike()
      val from = 1 + r.nextInt(20)
      val (since, until) = (Seeded.day(from), Seeded.day(from + 3 + r.nextInt(8)))
      Request("ingest_errors", s"ingest_errors($user,$since,$until)",
        (s, d, _) => LogOps.ingestErrors(s, d, sinceTs = since, untilTs = until,
          userLike = user, limit = 500),
        SparkEntry.ingestErrorsSql(since, until, user, 500))
    }
    val bm25 = draw(Variants) {
      val q = r.shuffle(Seeded.Vocab).take(1 + r.nextInt(3)).mkString(" ")
      val k = if (r.nextBoolean()) 5 else 10
      Request("bm25_served", s"bm25_served($q,$k)",
        (s, _, served) => LexIndex.searchBm25Against(s, served, query = q, topK = k),
        SparkEntry.searchBm25Sql(q, k))
    }
    val fixed = Seq(
      Request("metrics_timeline", "metrics_timeline", (s, d, _) => LogOps.metricsTimeline(s, d),
        SparkEntry.oracleSql("metrics_timeline")),
      Request("metrics_by_service", "metrics_by_service", (s, d, _) => LogOps.metricsByService(s, d),
        SparkEntry.oracleSql("metrics_by_service")),
      Request("metrics_by_level", "metrics_by_level", (s, d, _) => LogOps.metricsByLevel(s, d),
        SparkEntry.oracleSql("metrics_by_level")),
      Request("incident_report", "incident_report", (s, d, _) => LogOps.incidentReport(s, d),
        SparkEntry.incidentReportSql(1000)))
    entries ++ searchAll ++ ingest ++ bm25 ++ fixed
  }
  private val byKind = pool.groupBy(_.kind)

  /** The served BM25 store over the run's documents. Of the three set-ups
    * the cold first one is the slowest, so the median is the slower of the
    * two warm ones. */
  def setup(spark: SparkSession, ctx: Ctx): Unit = LexIndex.servedIndexPath(spark, ctx.data)

  def warm(spark: SparkSession, ctx: Ctx): Seq[Check] = {
    val served = LexIndex.servedIndexPath(spark, ctx.data)
    val checks = pool.zipWithIndex.map { case (req, i) =>
      val df = req.run(spark, ctx.data, served)
      val rows = df.collect()
      val path = ctx.path(s"check/dashboard_$i")
      Main.writeRows(spark, rows, df.schema, path)
      Check(req.key, path, req.sql, Main.digest(rows))
    }
    // untimed traffic, so the JIT has settled before a window is timed
    loop(spark, ctx, new Tracer(spark.sparkContext, false), WarmSeconds, 1000)
    checks
  }

  def measure(spark: SparkSession, ctx: Ctx, tracer: Tracer): Measured =
    loop(spark, ctx, tracer, ctx.seconds, 100)

  private def loop(spark: SparkSession, ctx: Ctx, tracer: Tracer, seconds: Double,
      salt: Int): Measured = {
    val served = LexIndex.servedIndexPath(spark, ctx.data)
    val ops = new ConcurrentLinkedQueue[Op]()
    val rounds = new ConcurrentLinkedQueue[Double]()
    val rates = new ConcurrentLinkedQueue[Double]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val clients = (0 until Clients).map { c =>
      val t = new Thread(() => {
        val r = Seeded.rng(seed, salt + c)
        var done = 0
        // whole rounds, so each client's mix is exactly the round's
        while (System.nanoTime() < deadline) {
          // one round: every kind once, in seeded order
          val r0 = System.nanoTime()
          r.shuffle(Kinds).foreach { kind =>
            val variants = byKind(kind)
            val req = variants(r.nextInt(variants.size))
            val (rows, s) = Main.timed(scala.util.Try(tracer.span("op", kind) {
              val df = tracer.span("operators", kind)(req.run(spark, ctx.data, served))
              tracer.span("engine", kind)(df.collect())
            }))
            ops.add(Op(kind, req.key, s, rows.isSuccess, rows.map(Main.digest).getOrElse("")))
            done += 1
          }
          rounds.add((System.nanoTime() - r0) / 1e9)
        }
        rates.add(done / ((System.nanoTime() - t0) / 1e9))
      }, s"dashboard-client-$c")
      t.start()
      t
    }
    clients.foreach(_.join())
    val all = ops.asScala.toSeq
    Measured(all, (System.nanoTime() - t0) / 1e9, rounds.asScala.toSeq, rates.asScala.sum)
  }

  def layers(spark: SparkSession, ctx: Ctx, tracer: Tracer, m: Measured): Map[String, Double] = {
    val spans = tracer.spans()
    Layers.engine(tracer, spans, m.ops.size, m.wallSeconds) ++
      Kinds.map(k => s"operators.$k.p50_s" -> Stats.median(m.ops.filter(_.kind == k).map(_.seconds)))
  }
}

object Dashboard {
  val Clients = 2
  val WarmSeconds = 5.0
  val Variants = 4
  val Kinds: Seq[String] = Seq("search_entries", "metrics_timeline", "metrics_by_service",
    "metrics_by_level", "search_all", "ingest_errors", "incident_report", "bm25_served")
}
