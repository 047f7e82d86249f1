package graft

import org.apache.spark.sql.SparkSession

/** Standard session factory: every entry point (Verify, Bench, tests)
  * builds its session here so configs stay consistent.
  *
  * Scale rationale:
  *  - shuffle.partitions sized to cores for local mode (on a real cluster
  *    this comes from AQE's coalescing anyway);
  *  - AQE on: runtime shuffle coalescing, skew-join splitting, and
  *    dynamic broadcast conversion are the knobs that keep the same plans
  *    healthy at 1000 executors;
  *  - nanosAsLong: the `events` table ships TIMESTAMP(NANOS) parquet,
  *    which vanilla Spark refuses; we read it as long and rebuild a
  *    micro-precision timestamp in [[Tables]];
  *  - outputTimestampType TIMESTAMP_MICROS: Spark-written parquet stores
  *    timestamps as INT64 micros, the encoding the store's driver-local
  *    writer uses, instead of the legacy INT96 default — otherwise
  *    `LocalParquet.readIfExact` declines every partition Spark's writer
  *    last wrote and its upserts never return to the driver-local path.
  *
  * The engine's SQL functions install through [[GraftExtensions]], the
  * same path `spark.sql.extensions` takes on a cluster. Extensions apply
  * when a session is created, so a session that already exists (an
  * earlier `local` call in the JVM) is returned as it is.
  */
object GraftSession {
  def local(cpus: String, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
