package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture-table loaders (TESTDATA.md / FIXTURES.md).
  *
  * All queries take an `sfDir` and read plain parquet — no metastore needed
  * (the reference's metastore is schema-on-read over files; parquet footers
  * are self-describing, see SURVEY.md §1.1).
  *
  * Scale note: `spark.read.parquet` → `FileSourceScanExec` with native
  * column pruning + predicate pushdown; at 100 TB the same call pattern
  * works unchanged because filters/projections are declared downstream and
  * Catalyst pushes them into the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // One resolved relation per (session, file): what a catalog gives you —
  // repeated t() calls reuse the analyzed plan instead of re-listing the
  // path and re-reading parquet footers per query. DataFrames are
  // immutable plans, so sharing is safe.
  //
  // LRU-bounded: an unbounded map would pin every session a long-lived
  // host ever creates (each cached DataFrame strongly references its
  // session — which also rules out a WeakHashMap keyed on session, since
  // the values would keep their own keys reachable). 64 entries covers
  // the 10 fixture tables across several concurrent sessions; a host
  // churning sessions evicts the oldest plans instead of leaking them.
  private val maxRelations = 64
  private val relationCache =
    new java.util.LinkedHashMap[(SparkSession, String), DataFrame](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), DataFrame]): Boolean =
        size() > maxRelations
    }

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val key = (spark, s"$sfDir/$name.parquet")
    val hit = relationCache.synchronized(relationCache.get(key))
    if (hit != null) hit
    else {
      // resolve outside the lock (footer IO); a racing duplicate read is
      // benign — both results are the same immutable plan
      val df = spark.read.parquet(key._2)
      relationCache.synchronized {
        val prior = relationCache.putIfAbsent(key, df)
        if (prior != null) prior else df
      }
    }
  }

  /** Normalize `events.ts` to a plain `TimestampType` column regardless of
    * how the fixture generation encoded it. Observed encodings across
    * driver rounds:
    *   - parquet TIMESTAMP(NANOS): Spark reads it as `LongType` under
    *     `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    *     [[GraftSession]]) → ns DIV 1000 → `timestamp_micros`.
    *   - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads it
    *     as `TIMESTAMP_NTZ` → cast to TIMESTAMP (an identity re-tag under
    *     the pinned UTC session timezone, matching DuckDB's naive reading).
    *   - parquet TIMESTAMP(MICROS, isAdjustedToUTC=true): already
    *     `TimestampType`, pass through.
    * Every downstream query (windowing, `unix_micros`, stream twins) then
    * sees one stable type, so a fixture regeneration can't break analysis.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEventTs(t(spark, sfDir, "events"))

  /** The encoding-dispatch itself, reusable for streaming sources (the
    * `readStream` twins in [[graft.streaming.Events]] read the same files
    * and must apply the identical normalization). */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }

  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    // Hive-style variable substitution for the SQL surface
    // (spark.sql.variable.substitute, on by default): texts that must
    // bind to the file-source relation directly — `_metadata` hidden
    // columns don't resolve through a temp view — spell the path as
    // parquet.`${graft.dir}/...` instead of a view name.
    spark.conf.set("graft.dir", sfDir)
    names.foreach { n =>
      val df = if (n == "events") events(spark, sfDir) else t(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
  }
}
