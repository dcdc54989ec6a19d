package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Aggregates every query family; each family pairs `queries` with
  * DuckDB-runnable `oracleSql` (same column names/aliases on both sides —
  * the driver's compare sorts columns by name before hashing). */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.XelQueries.queries ++
      graft.queries.RelationalQueries.queries ++
      graft.queries.CorpusQueries.queries

  /** The queries named in `names` (comma-separated, in that order), or
    * every query when `names` is absent. An unknown name is refused, with
    * every unknown name in the message: a typo must not time, dump or
    * check an empty set and exit 0. */
  def pick(names: Option[String]): Map[String, (SparkSession, String) => DataFrame] = {
    val all = queries
    names.fold(all) { s =>
      val want = s.split(",").toSeq.distinct
      val unknown = want.filterNot(all.contains)
      require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
      scala.collection.immutable.ListMap(want.map(n => n -> all(n)): _*)
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.XelQueries.oracles ++
      graft.queries.RelationalQueries.oracles ++
      graft.queries.CorpusQueries.oracles
}
