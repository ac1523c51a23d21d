package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query, declared once in its family trait: the name the
  * driver and the harnesses know it by, its Spark implementation over
  * (spark, sfDir), its DuckDB oracle, and whether it belongs to the
  * `core` bench subset (`SPARK_GRAFT_BENCH_ONLY=core`, membership
  * documented in docs/BENCH_NOTES.md).
  */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Oracle,
    core: Boolean = false)

object Query {

  /** Name → query. A repeated name fails loudly: building the map from
    * pairs would silently keep the last entry. */
  def index(queries: Seq[Query]): Map[String, Query] = {
    val dups = queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    queries.map(q => q.name -> q).toMap
  }
}

/** How the driver's DuckDB compare obtains a query's expected relation. */
sealed trait Oracle

object Oracle {

  /** ANSI SQL over the same parquet tables, fixed at compile time. */
  final case class Sql(text: String) extends Oracle

  /** SQL generated by Verify from the verify corpus itself: the replay
    * embeds geometry, codebooks or signatures that the Spark side
    * derives from the corpus it reads (LSH parameters from the corpus
    * count, trained PQ/IVF quantizers, sketch dictionaries), so a static
    * string would freeze one corpus's values. */
  final case class Generated(gen: Corpus => String) extends Oracle

  /** What a generated oracle reads. The embedding count is shared by
    * every generator that needs it: one Spark job, at most, per corpus
    * (a failed count fails each dependent generator on its own). */
  final class Corpus(val spark: SparkSession, val dir: String) {
    lazy val embeddingCount: Long = Tables.embeddings(spark, dir).count()
  }
}
