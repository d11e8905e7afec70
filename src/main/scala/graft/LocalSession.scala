package graft

import org.apache.spark.sql.SparkSession

/** The session every dev main runs under (Bench, Verify, Profile,
  * DumpPlans, ScaleProbe): local[$SPARK_GRAFT_CPUS] (default 32) with
  * shuffle.partitions = cpus, UTC, UI off. */
object LocalSession {
  def apply(logLevel: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    // The audited global-window sites are bounded by design (day grids,
    // limit-k survivors, cutpoint samples — PlanShapeSpec pins their
    // measured cardinality); their per-execution "No Partition Defined"
    // warning is pure noise here and buries real warnings in the mains'
    // logs. Silenced for the mains only — the library never mutes logs.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
