package graft

import org.apache.spark.sql.SparkSession

/** One place for session config so Verify / Bench / tests agree.
  *
  * - shuffle partitions sized for local[N] (not the 200 default);
  * - AQE on (runtime coalescing + skew-join handling — the knobs that
  *   matter unchanged on a real cluster);
  * - UTC session tz for oracle parity;
  * - nanosAsLong kept for TIMESTAMP(NANOS) dumps (older testdata
  *   generations; current `events.ts` is tz-naive micros — Tables.events
  *   normalizes either encoding to session-tz TimestampType).
  */
object GraftSession {
  def build(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .withExtensions(SqlFunctions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescePartitions.minPartitionSize stays at its 1m
      // default. Measured (round 14): lowering the floor to 48kb so
      // the iterative graph family's ~300 kB CPU-dense round shuffles
      // fan out over more tasks REGRESSED the family ~10% at sf0.1
      // (20-query probe 31.6 -> 34.6 s; q_incr_cc 2.35 -> 2.85,
      // q_kcore 1.55 -> 1.94) — per-round task dispatch outweighs the
      // parallelism on sub-ms-per-kB stages, and tiny queries pay the
      // extra tasks too. The floor is still overridable per run:
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION_SIZE", "1m"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
