package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration graft runs in — Bench, Verify,
  * Inspect and the test suites all build their session here, so a plan
  * or timing taken by one of them is the plan the others run. */
object GraftSession {
  /** A `local[threads]` session with `partitions` shuffle partitions. */
  def apply(threads: Int, partitions: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet stores ts as TIMESTAMP(NANOS); read as long, converted
      // to a µs timestamp in Tables.events (matches DuckDB's ns→µs cast).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // write µs (not INT96) so non-Spark readers (DuckDB, pyarrow) see the
      // same values
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // managed tables (join_smb's bucketed sides) go to tmp, not ./spark-warehouse
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_warehouse")
      .getOrCreate()

  /** One shuffle partition per executor thread. */
  def apply(threads: Int): SparkSession = apply(threads, threads)
}
