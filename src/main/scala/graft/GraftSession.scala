package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults.
  *
  * Scale posture: AQE on (runtime re-plan, skew-join splitting,
  * partition coalescing), shuffle partitions sized to the lane
  * (cores locally; thousands on a real cluster via `shufflePartitions`),
  * UTC timezone for cross-engine determinism.
  */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS`, else the machine's cores. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(
      master: String = s"local[$cores]",
      shufflePartitions: Int = cores,
      appName: String = "graft"
  ): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
      // reader rejects; read as epoch-nano longs and convert in Tables.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def local(master: String = s"local[$cores]"): SparkSession = {
    val s = builder(master).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
