package graft
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev tool: per-query cost profile under the EXACT bench session shape
  * ([[LocalSession]], noop sink). For each named query: sf0.001 warmup,
  * then N timed runs at $SPARK_GRAFT_SF_DIR with the [[SessionCache]]
  * scratch lifetime released before each run
  * (the bench's steady-state cost model), reporting seconds plus the
  * Spark job / stage / task counts — the split that tells scheduling
  * overhead apart from real work. */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "3").toInt
    val spark = LocalSession("ERROR")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(sc.stageInfo.numTasks.toLong)
        if (sys.env.contains("SPARK_GRAFT_PROFILE_STAGES")) {
          val ms = (for {
            s <- sc.stageInfo.submissionTime; c <- sc.stageInfo.completionTime
          } yield c - s).getOrElse(-1L)
          println(f"    stage ${sc.stageInfo.stageId}%-4d tasks=${sc.stageInfo.numTasks}%-4d ms=$ms%-6d ${sc.stageInfo.name.take(80)}")
        }
      }
    })
    val names = if (args.nonEmpty) args.toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
                else SparkEntry.queries.keys.toSeq.sorted
    def release(): Unit = SessionCache.releaseScratch(spark)
    for (q <- names) {
      val fn = SparkEntry.queries(q)
      try fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
      val secs = (1 to runs).map { i =>
        release()
        // let listener events drain so counts attribute to the right run
        Thread.sleep(250)
        val (j0, s0, t0) = (jobs.get, stages.get, tasks.get)
        val t = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable => println(s"FAIL $q: ${e.toString.take(200)}") }
        val sec = (System.nanoTime() - t) / 1e9
        Thread.sleep(250)
        println(f"  run$i $sec%6.2f s  jobs=${jobs.get - j0}%-3d stages=${stages.get - s0}%-3d tasks=${tasks.get - t0}")
        sec
      }.sorted
      println(f"PROFILE ${secs(secs.size / 2)}%6.2f s  $q")
    }
    spark.stop()
  }
}
