package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of the graft engine: the library, the tests and
  * every harness (Bench, Verify, perfbench) build their session here, so
  * the session that is benched is the session that ships.
  *
  * [[builder]] encodes the 100 TB posture as configuration: AQE on (runtime
  * shuffle coalescing, dynamic broadcast selection, skew-join splitting),
  * UTC semantics, and shuffle parallelism sized to the cluster instead of
  * Spark's legacy 200. On a real cluster only `master` and the partition
  * count change. Apps that build their own session must set
  * `spark.sql.extensions=graft.plans.GraftExtensions`: it is the only path
  * that registers the library's planner strategy (TopKPerGroup).
  */
object GraftSession {

  def builder(appName: String = "graft",
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(master)
      // the only registration of the custom planner strategy
      // (TopKPerGroup) and SQL functions; see graft.plans.GraftExtensions
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.ui.enabled", "false")

  /** Register every test table as a temp view so the whole engine surface is
    * additionally reachable through `spark.sql(...)` — Catalyst plans SQL
    * and DataFrame identically. */
  def openTables(spark: SparkSession, dir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => Tables(spark, dir, t).createOrReplaceTempView(t))
}
