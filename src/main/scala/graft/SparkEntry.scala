package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship: the CDC engine end-to-end — deterministic binary WAL feed
    * replayed through decode → LWW dedup → MERGE into a lake table;
    * returns the final live page state (driver smoke-checks rows>0). */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.SystemQueries.cdcReplay(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.CoreQueries.all ++ graft.queries.PipelineQueries.all ++ graft.queries.SystemQueries.all
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.CoreQueries.oracles ++ graft.queries.PipelineQueries.oracles ++ graft.queries.SystemQueries.oracles
}
