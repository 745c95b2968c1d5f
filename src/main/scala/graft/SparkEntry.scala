package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Registry

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The full inventory lives in [[graft.queries.Registry]]; this object is
  * the stable facade the driver calls.
  */
object SparkEntry {

  /** Session settings every entry point needs: UTC for oracle parity,
    * nanosAsLong so the ns-timestamp events table is readable, AQE on.
    * Safe to call on an externally-created session.
    */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark
  }

  /** Cores of a harness session: `SPARK_GRAFT_CPUS`, default 4. */
  def localCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** The one session Bench, Verify, the tools and the specs run on:
    * `local[cpus]` with `cpus` shuffle partitions, the graft extensions
    * and SQL aggregates, and [[configure]]'s settings.
    */
  def localSession(cpus: Int = localCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // Spark frees broadcast/shuffle/RDD state via ContextCleaner, which
      // only fires when the DRIVER GCs — on a large heap a 153-query suite
      // never GCs, state from every prior query accumulates, and late
      // queries run 3-6x slower than standalone (observed r10: q84 32s in
      // suite vs ~5s alone). periodicGC forces the cleaner to keep up.
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.registerAggregates(spark)
    configure(spark)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Registry.queries("q04_nation_revenue")(configure(spark), "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map { case (n, q) =>
      n -> ((s: SparkSession, dir: String) => q.build(configure(s), dir))
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. EVERY registry query has an oracle:
    * hash-dependent operators derive their bits from md5 in the registry
    * variants, and the KMeans-trained IVF (q58) trains with exact integer
    * Lloyd rounds the oracle replays in SQL — nothing is rows-only.
    */
  def oracleSql: Map[String, String] = Registry.oracleSql
}
