package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.{Corpus, Embeddings, NearDup, Relational}

/** `curation`: batch passes over four of the registry's costliest
  * training-data entries, each pass starting from released session caches
  * like a fresh curation job. The seed sets the entry order, so either of
  * `ann_ivf` and `dedup_embedding` may be the one that builds their shared
  * IVF memo. */
final class Curation(seed: Long) extends Workload {
  import Curation._

  val order: Seq[String] = Seeded.rng(seed, 3).shuffle(Entries)
  /** Storage memory in use after each traced entry. */
  private val cachedMb = mutable.ArrayBuffer.empty[Double]

  private def releaseCaches(spark: SparkSession): Unit = {
    NearDup.releaseCache(spark)
    Embeddings.releaseCache(spark)
    Corpus.releaseCache(spark)
    Relational.releaseCache(spark)
  }

  /** A curation job holds no serving state. Its set-up is the session
    * start and the JIT warm-up: one pass over the sf0.001 tables, which
    * shares no session memo with the full-scale tables. A pass costs about
    * as much at sf0.001 as at full scale (it is bound by its job count),
    * so it runs twice: once in the cold JVM, once warm. */
  override def setupRepeats: Int = 2
  def setup(spark: SparkSession, ctx: Ctx): Unit = {
    val pass = passes(spark, ctx, ctx.warmData, "setup", new Tracer(spark.sparkContext, false), 0.0, 1)
    pass.ops.find(!_.ok).foreach(o => sys.error(s"set-up: ${o.kind} failed on the sf0.001 tables"))
  }

  /** The measured passes write each entry's output where the check reads
    * it, so the check sees the last measured pass's outputs. */
  def warm(spark: SparkSession, ctx: Ctx): Seq[Check] =
    order.map(e => Check(e, ctx.path(s"check/curation_$e"), SparkEntry.oracleSql.getOrElse(e, ""), ""))

  def measure(spark: SparkSession, ctx: Ctx, tracer: Tracer): Measured =
    passes(spark, ctx, ctx.data, "check", tracer, ctx.seconds, MinPasses)

  /** Whole passes until `seconds` have passed, at least `minPasses`. Each
    * entry writes its output as parquet, as a curation job stores what it
    * makes. */
  private def passes(spark: SparkSession, ctx: Ctx, data: String, outDir: String, tracer: Tracer,
      seconds: Double, minPasses: Int): Measured = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val makespans = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    do {
      val p0 = System.nanoTime()
      releaseCaches(spark)
      order.foreach { e =>
        val (res, s) = Main.timed(scala.util.Try(tracer.span("op", e) {
          val df = tracer.span("operators", e)(SparkEntry.queries(e)(spark, data))
          tracer.span("engine", e)(Main.writeCheck(df, ctx.path(s"$outDir/curation_$e")))
          if (tracer.enabled) cachedMb += Layers.cachedMb(spark)
        }))
        ops += Op(e, e, s, res.isSuccess, "")
      }
      makespans += (System.nanoTime() - p0) / 1e9
      System.err.println(f"[perfbench] pass ${makespans.size}%d: ${makespans.last}%.2f s")
    } while (System.nanoTime() < deadline || ops.size < minPasses * Entries.size)
    // the timed op is the whole pass (its makespan); ops_per_s counts entries
    val wall = (System.nanoTime() - t0) / 1e9
    Measured(ops.toSeq, wall, makespans.toSeq, ops.size / wall)
  }

  def layers(spark: SparkSession, ctx: Ctx, tracer: Tracer, m: Measured): Map[String, Double] = {
    val spans = tracer.spans()
    val byId = spans.map(s => s.id -> s).toMap
    def perEntry(layer: String, e: String) =
      spans.filter(s => s.layer == layer && s.name == e && byId.get(s.parent).exists(_.layer == "op"))
    val builds = spans.filter(_.layer == "operators")
    Layers.engine(tracer, spans, m.ops.size, m.wallSeconds) ++
      Entries.flatMap { e =>
        val roots = spans.filter(s => s.parent == -1 && s.name == e)
        val totals = roots.map(r => tracer.totalCounts(spans, r))
        Seq(s"operators.$e.build_s" -> Stats.median(perEntry("operators", e).map(_.seconds)),
          s"operators.$e.exec_s" -> Stats.median(perEntry("engine", e).map(_.seconds)),
          s"operators.$e.jobs" -> Stats.median(totals.map(_.jobs.get.toDouble)),
          s"operators.$e.task_s" -> Stats.median(totals.map(_.runMs.get / 1000.0)))
      } ++ Map(
        "session_cache.cached_mb_peak" -> (if (cachedMb.isEmpty) 0.0 else cachedMb.max),
        "session_cache.cached_mb_end" -> Layers.cachedMb(spark),
        // builds that ran no Spark job: served from a session memo (or lazy)
        "session_cache.reuse_build_s" -> builds.filter(b => tracer.counts(b.id).jobs.get == 0)
          .map(_.seconds).sum / math.max(1, m.ops.size / Entries.size))
  }
}

object Curation {
  /** Passes per measurement at least. The JIT is still speeding passes up
    * when timing starts, and the first timed pass varies most between
    * runs; the median of three is one of the later two. */
  val MinPasses = 3
  val Entries: Seq[String] =
    Seq("source_communities", "pagerank_dist", "ann_ivf", "dedup_embedding")
}
