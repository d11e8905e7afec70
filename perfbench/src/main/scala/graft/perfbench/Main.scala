package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Paths and settings one benchmark run works with. `data` holds the
  * run's tables, `warmData` the same tables at sf0.001 for the set-up's
  * warm-up, `out` everything the run writes. */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, warmData: String, out: String, cpus: Int) {
  def path(name: String): String = new File(out, name).getPath
}

/** One measured operation: a dashboard request or a curation entry. `key`
  * names the exact request (kind plus parameters); every op with one key
  * must produce the same `digest`. */
final case class Op(kind: String, key: String, seconds: Double, ok: Boolean,
    digest: String)

/** An output kept for the out-of-process check: the parquet written at
  * `path` is compared against `sql` run in DuckDB, or by row count alone
  * when `sql` is empty. `digest` is what every timed op with this key
  * must reproduce. */
final case class Check(key: String, path: String, sql: String, digest: String,
    extra: Map[String, String] = Map.empty)

/** One measurement: its ops, the wall time it spanned, the latency samples
  * `op_p50_s` is the median of and the rate `ops_per_s` reports. */
final case class Measured(ops: Seq[Op], wallSeconds: Double, latencies: Seq[Double],
    opsPerSecond: Double)

trait Workload {
  /** Set-ups per run, each on a fresh session; `setup_s` is their median. */
  def setupRepeats: Int = 3
  /** Builds what every later op reads on a fresh session; timed as
    * `setup_s`. */
  def setup(spark: SparkSession, ctx: Ctx): Unit
  /** Untimed, after the last set-up. It declares the outputs checked
    * after the run; a workload whose requests repeat runs each distinct
    * request once here, writing its output and the digest timed ops must
    * match, and warms up at full scale. */
  def warm(spark: SparkSession, ctx: Ctx): Seq[Check]
  /** The closed-loop measurement: runs ops until `seconds` have passed. */
  def measure(spark: SparkSession, ctx: Ctx, tracer: Tracer): Measured
  /** Per-layer metrics from a traced measurement. */
  def layers(spark: SparkSession, ctx: Ctx, tracer: Tracer, m: Measured): Map[String, Double]
}

object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = Ctx(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("data"), a("warm-data"), a("out"), a("cpus").toInt)
    val wl: Workload = ctx.workload match {
      case "dashboard" => new Dashboard(ctx.seed)
      case "curation" => new Curation(ctx.seed)
      case other => sys.error(s"unknown workload $other")
    }
    def phase[T](name: String)(body: => T): T = {
      val (r, s) = timed(body)
      System.err.println(f"[perfbench] $name%s: $s%.2f s")
      r
    }
    // Each set-up starts a fresh session; the first runs in a cold JVM.
    // The warm pass and the measurement run in the last session.
    var spark: SparkSession = null
    val setupSeconds = Seq.fill(wl.setupRepeats) {
      if (spark != null) spark.stop()
      val s = timed { spark = session(ctx); wl.setup(spark, ctx) }._2
      System.err.println(f"[perfbench] setup: $s%.2f s")
      s
    }
    val checks = phase("warm")(wl.warm(spark, ctx))
    val heapAfterWarm = liveHeapMb()
    val untraced = phase("measure")(wl.measure(spark, ctx, new Tracer(spark.sparkContext, false)))
    val heapAfterMeasure = liveHeapMb()
    val (layers, probeChecks) =
      if (!ctx.trace) (Map.empty[String, Double], Nil)
      else {
        val tracer = new Tracer(spark.sparkContext, true)
        val traced = phase("measure_traced")(wl.measure(spark, ctx, tracer))
        // the traced window's figures are final before anything else runs
        val layers = wl.layers(spark, ctx, tracer, traced)
        writeSpans(tracer.spans(), ctx.path("spans.jsonl"))
        tracer.close()
        // untraced again after the traced window, so the overhead compares
        // the traced window against untraced ones on both sides of it
        val after = phase("measure_after")(wl.measure(spark, ctx, new Tracer(spark.sparkContext, false)))
        val untracedRate = (untraced.opsPerSecond + after.opsPerSecond) / 2
        val overhead = Map("trace.overhead_pct" -> 100.0 * (untracedRate / traced.opsPerSecond - 1.0))
        val (pipeline, pipelineChecks) = phase("pipeline")(PipelineProbe.run(spark, ctx))
        val memory = Map("memory.peak_rss_mb" -> peakRssMb(),
          "memory.live_heap_mb" -> math.max(heapAfterWarm, heapAfterMeasure))
        (overhead ++ memory ++ layers ++ phase("kernels")(KernelBench.run(spark, ctx)) ++ pipeline,
          pipelineChecks)
      }
    val result = Json.obj(
      "setup_s" -> Json.arr(setupSeconds.map(Json.num)),
      "op_p50_s" -> Json.num(Stats.median(untraced.latencies)),
      "ops_per_s" -> Json.num(untraced.opsPerSecond),
      "ops" -> Json.arr(untraced.ops.map(o => Json.obj("kind" -> Json.str(o.kind),
        "key" -> Json.str(o.key), "s" -> Json.num(o.seconds), "ok" -> Json.bool(o.ok),
        "digest" -> Json.str(o.digest)))),
      "checks" -> Json.arr((checks ++ probeChecks).map(c => Json.obj("key" -> Json.str(c.key),
        "path" -> Json.str(c.path), "sql" -> Json.str(c.sql), "digest" -> Json.str(c.digest),
        "extra" -> Json.obj(c.extra.toSeq.map { case (k, v) => k -> Json.str(v) }: _*)))),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*))
    Files.write(new File(ctx.out, "result.json").toPath, result.getBytes(UTF_8))
    spark.stop()
  }

  def session(ctx: Ctx): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${ctx.cpus}]")
      .config("spark.sql.shuffle.partitions", ctx.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", ctx.path("spark-local"))
      .config("spark.sql.warehouse.dir", ctx.path("warehouse"))
      // bound the status store's history, so the live heap measures the
      // program's state rather than how many jobs the run got through
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Heap still in use after a full collection, in MB: what the program
    * keeps (session memos, cached relations, stores' metadata), without the
    * garbage whose amount depends on when the collector last ran. */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** The process's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024.0 }.getOrElse(0.0)
    finally src.close()
  }

  /** The traced window's spans, one JSON object per line. */
  def writeSpans(spans: Seq[Span], path: String): Unit =
    Files.write(new File(path).toPath, spans.map(s => Json.obj("id" -> s.id.toString,
      "parent" -> s.parent.toString, "op" -> s.op.toString, "layer" -> Json.str(s.layer),
      "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))
      .mkString("", "\n", "\n").getBytes(UTF_8))

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Order-independent digest of a collected result. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach { r => md.update(r.getBytes(UTF_8)); md.update(0x1e.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  def digestText(s: String): String = digest(Array(Row(s)))

  def writeCheck(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Writes already-collected rows, without running the query again. */
  def writeRows(spark: SparkSession, rows: Array[Row], schema: org.apache.spark.sql.types.StructType,
      path: String): Unit =
    writeCheck(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1), path)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}

/** Minimal JSON writer for the run's result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** Per-layer aggregation helpers shared by the workloads. */
object Layers {
  private val Mb = 1024.0 * 1024.0

  /** Engine and sources counters per op, summed over every span of the
    * traced ops. */
  def engine(tracer: Tracer, spans: Seq[Span], nOps: Int, wallSeconds: Double): Map[String, Double] = {
    val roots = spans.filter(_.parent == -1)
    val tot = new EngineCounts
    roots.foreach(r => tot += tracer.totalCounts(spans, r))
    val n = math.max(1, nOps).toDouble
    val taskS = tot.runMs.get / 1000.0
    val self = Trace.selfSeconds(spans)
    Map(
      "engine.catalyst_ms_per_op" -> tot.catalystMs.get / n,
      "engine.jobs_per_op" -> tot.jobs.get / n,
      "engine.tasks_per_op" -> tot.tasks.get / n,
      "engine.task_s_per_op" -> taskS / n,
      "engine.parallelism" -> taskS / math.max(1e-9, wallSeconds),
      "engine.shuffle_mb_per_op" -> tot.shuffleBytes.get / Mb / n,
      "engine.spill_mb_per_op" -> tot.spillBytes.get / Mb / n,
      "sources.scan_mb_per_op" -> tot.inputBytes.get / Mb / n) ++
      Seq("op", "operators", "engine").map(l =>
        s"self.${l}_s_per_op" -> self.getOrElse(l, 0.0) / n)
  }

  def mb(bytes: Long): Double = bytes / Mb

  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / Mb
}

object Seeded {
  def rng(seed: Long, salt: Long): scala.util.Random = new scala.util.Random(seed * 1000003L + salt)
  val EventTypes = Seq("signup", "click", "error", "view", "purchase")
  val Vocab: Seq[String] = ("spark window merge table column vector stream value data small join " +
    "filter big group hash customer sort order slow line part fast row the agg key query a scan batch")
    .split(" ").toSeq
  def day(d: Int): String = f"2024-01-$d%02d 00:00:00"
}
