package graft.util

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every main (`Bench`, `Verify`,
  * `tools.Diagnose`) and the test suite run
  * on, so a diagnosis always sees the plans the bench runs. The deployment
  * entry point, `jobs.ValidationJob.main`, builds its own: `spark-submit`
  * supplies its master.
  *
  * `cpus` comes from `SPARK_GRAFT_CPUS` (default 4). */
object LocalSession {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** The session's settings at `cpus` cores. The scan floor is capped at 16:
    * past it, the repartition exchange and per-task overhead on
    * single-row-group sf0.1 scans cost more than the extra parallelism
    * returns (measured round 14: floor 32 → 16 cut an 18-query subset
    * 49.7 → 41.3 s at cpus=32; 8 was within noise of 16). */
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // single-row-group testdata cannot split at the scan; see Tables
    Tables.MinScanPartitionsConf -> math.min(cpus, 16).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def apply(cpus: Int = cpus): SparkSession = {
    val builder = SparkSession.builder()
    settings(cpus).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Set the session confs `SPARK_GRAFT_CONF` (`k=v;k=v`) names, for a local
    * experiment. Only the experiment mains (`Bench`, `tools.Diagnose`)
    * apply it: the correctness dump and the tests always
    * run the committed confs, and recorded bench rounds leave it unset. */
  def withConfPassthrough(spark: SparkSession): SparkSession = {
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k.trim, v.trim)
      })
    spark
  }
}
