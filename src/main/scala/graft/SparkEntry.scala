package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates one gate entry per implemented SURVEY.md §2 operator
  * (and per LLM-pipeline operator); `oracleSql` holds the DuckDB-equivalent
  * SQL for every entry that is SQL-expressible — entries absent from
  * `oracleSql` get the driver's weaker rows-only check.
  */
object SparkEntry {

  /** Local cores: `$SPARK_GRAFT_CPUS`, else the caller's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** The one session every main runs on: `local[cpus]` with as many
    * shuffle partitions, UTC, v2 bucketing (storage-partitioned joins),
    * no UI, the graft planner extensions, and WARN logging. */
  def localSession(defaultCpus: Int): SparkSession = {
    val n = cpus(defaultCpus)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions()(_))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.queries("q9_region_rollup")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ EngineQueries.queries ++
      SearchQueries.queries ++ LlmQueries.queries ++ CdcQueries.queries ++
      CurationQueries.queries ++ ConnectorQueries.queries ++ TimeQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ EngineQueries.oracles ++
      SearchQueries.oracles ++ LlmQueries.oracles ++ CdcQueries.oracles ++
      CurationQueries.oracles ++ ConnectorQueries.oracles ++ TimeQueries.oracles
}
