package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the engine's mains: the confs `Bench`
  * measures are the confs `EtlCli`/`QueryCli` ship with.
  *
  * Cores come from `SPARK_GRAFT_CPUS`, else the JVM's processor count;
  * `SPARK_GRAFT_MASTER` replaces the `local[cpus]` master. */
object Sessions {
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session confs at `cpus` cores, `spark.master` included.
    * Shuffles START wide (8x cores) and AQE coalesces them down to the
    * advisory size: coalescing is free, but AQE can never SPLIT an
    * oversized non-skew-join partition (the 30x-step OOM class). The
    * streaming queries' auto temp checkpoints are deleted on success,
    * which keeps their WARN chatter out of the tail `Bench`'s contract
    * line is read from. */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> (cpus * 8).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.streaming.forceDeleteTempCheckpointLocation" -> "true")

  def session(logLevel: String = "WARN"): SparkSession = {
    val builder = confs(cpus).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v) }
    sys.env.get("SPARK_GRAFT_MASTER").foreach(builder.master)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
