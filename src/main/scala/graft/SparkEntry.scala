package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps each implemented operator from SURVEY.md §2 to a DataFrame
  * program over the driver-generated parquet tables in `dir`
  * (/root/testdata/sf*). `oracleSql` holds the DuckDB-equivalent SQL the
  * driver cross-checks against. Column names are aligned on both sides
  * because the comparison sorts columns by name before hashing.
  */
object SparkEntry {

  /** Cores a local session runs on: `SPARK_GRAFT_CPUS`, else 4. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** The local session the mains and the specs run on: `local[cpus]`, one
    * shuffle partition per core, UTC, adaptive execution on, no UI, WARN
    * logging.
    */
  def localSession(appName: String, cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    *
    * The crawl-engine analogue of the reference's run statistics
    * (SURVEY.md §2.8): per-status aggregation over an event log.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryCatalog.all

  def oracleSql: Map[String, String] = QueryCatalog.oracles
}
