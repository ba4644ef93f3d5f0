package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession defaults for the engine.
  *
  * Scale notes (100 TB target):
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  *    replaces hand-tuned partition counts when data volume varies 1000x.
  *  - `shuffle.partitions` here is a local-mode default; on a real cluster it
  *    is AQE's initial value and should be ~2-3x total executor cores.
  *  - The session time zone is pinned to UTC: `events.ts` is parquet
  *    `timestamp[us]` (read as TIMESTAMP_NTZ), and event-time logic converts
  *    it to epoch-micro longs via [[graft.sources.Tables.eventUs]] — the
  *    NTZ→TIMESTAMP cast is only the identity under UTC.
  */
object GraftSession {
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      // ContextCleaner only learns a block is dead when the JVM collects
      // its RDD reference; on a large driver heap GC can lag for minutes
      // and persisted/localCheckpoint blocks pile up until the store
      // thrashes (measured: 70x slowdown at -Xmx100g over a 400-job run).
      // Forcing a periodic GC bounds the lag for long-running drivers.
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.ui.enabled", "false")

  /** Apply the engine's runtime confs and register its SQL functions
    * ([[GraftExtensions.functions]]) on any session, including one this
    * library did not build (spark-submit owns it in `cli.Sessions`). */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // Guarded: tune() runs per query; re-registering WARNs on every call.
    GraftExtensions.functions.foreach { case (id, info, build) =>
      if (!spark.catalog.functionExists(id.funcName))
        spark.sessionState.functionRegistry.registerFunction(id, info, build)
    }
    spark
  }
}
