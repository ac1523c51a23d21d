package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** The operator-inventory query registry (SURVEY.md §2 → SparkEntry):
  * each family trait declares its queries once, in a `Seq[Query]` at
  * its end, and SparkEntry derives every name-keyed view from them.
  *
  * Conventions:
  *  - every query takes (spark, sfDir) and reads only Tables.* parquet;
  *  - aliases in the Spark plan and the oracle SQL are identical;
  *  - doubles aggregated via decimal(38,6) for order-independence;
  *  - stable trailing ORDER BY on a unique key.
  */
object Queries extends QueriesCore
  with QueriesCuration
  with QueriesAnalytics
  with QueriesExact
  with QueriesGraph
  with QueriesJdbc
