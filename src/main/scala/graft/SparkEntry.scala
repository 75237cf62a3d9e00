package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * One `queries` entry per implemented operator from SURVEY.md §2B; each
  * oracle-expressible entry has equivalent DuckDB SQL in [[oracleSql]], with
  * column names aliased identically on both sides and deterministic total
  * ordering (SURVEY.md §5 "oracle determinism").
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H-Q1-shaped daily balance rollup — the reference repo's purpose is
    * producing exactly this kind of balance report (reference README.md:11).
    */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.aggHash(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * first opts its session into the shared class loader
    * ([[GraftSession.adopt]]).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (operators.Relational.queries ++ operators.Scalars.queries ++
      operators.LlmData.queries ++ streaming.Streams.queries ++
      sources.PipelineIngest.queries ++ sources.Transfer.queries ++
      operators.Quality.queries ++ operators.Analytics.queries)
      .map { case (k, q) => k -> ((s: SparkSession, d: String) => q(GraftSession.adopt(s), d)) }

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get the driver's weaker
    * rows-only check (probabilistic / side-effecting / streaming ops).
    */
  def oracleSql: Map[String, String] =
    operators.Relational.oracle ++ operators.Scalars.oracle ++
      operators.LlmData.oracle ++ streaming.Streams.oracle ++
      sources.PipelineIngest.oracle ++ sources.Transfer.oracle ++
      operators.Quality.oracle ++ operators.Analytics.oracle
}
