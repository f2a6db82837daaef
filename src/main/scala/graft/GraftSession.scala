package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main in the program builds its session
  * here, so the benchmark, the correctness dump and the pipeline all run
  * under the same configuration.
  *
  * `SPARK_GRAFT_CPUS` (default: the JVM's available processors) sets both
  * the local master width and the shuffle width — one shuffle partition per
  * core, not the 200 default. AQE is on (runtime re-plan, skew-join
  * splitting, partition coalescing) and the session clock is UTC.
  */
object GraftSession {
  private def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is epoch-ns LONG engine-wide (Tables.tsAsEpochNanos).
      // Historically the file carried TIMESTAMP(NANOS), which Spark's
      // parquet reader rejects unless read as Long — keep the flag so
      // either physical layout (ns-long or µs-timestamp) loads.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
      .config("spark.ui.enabled", "false")

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
