package graft
import java.nio.file.{Files, Paths}

/** Dev tool: write `plans/<round>/<query>_<suffix>.txt` formatted plans
  * for the named queries under the EXACT bench session shape, so the
  * before/after evidence in plans/ matches what the bench executed.
  *
  * Usage: runMain graft.DumpPlans <outDir> <suffix> <query> [query...]
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession("ERROR")
    Files.createDirectories(Paths.get(outDir))
    for (q <- names) {
      val txt = try SparkEntry.queries(q)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      catch { case e: Throwable => s"FAILED: $e\n" }
      Files.writeString(Paths.get(outDir, s"${q}_$suffix.txt"), txt)
      println(s"wrote $outDir/${q}_$suffix.txt")
    }
    spark.stop()
  }
}
