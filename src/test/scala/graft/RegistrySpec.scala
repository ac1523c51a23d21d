package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry's name-keyed views are all derived from the family
  * traits' `Seq[Query]` lists. Pins their sizes and how they partition
  * the names; starts no Spark session.
  */
class RegistrySpec extends AnyFunSuite {

  private val generated = Set(
    "q27_minhash_dedup", "q28_simhash", "q30_ann_lsh", "q31_embed_neardups",
    "q33_dedup_assign", "q44_hll_sketch", "q48_minhash_recall", "q49_ann_adaptive",
    "q54_media_dedup", "q94_pq_adc", "q107_hard_negatives_ann", "q109_ivf_pq",
    "q122_bm25", "q255_rrf_fusion")

  test("324 queries under unique names") {
    // Query.index has already rejected any repeated name
    assert(SparkEntry.registry.size == 324)
    assert(SparkEntry.registry.forall { case (name, q) => name == q.name })
    assert(SparkEntry.queries.keySet == SparkEntry.registry.keySet)
  }

  test("a duplicate name in a Seq[Query] is rejected") {
    val q = SparkEntry.registry("q1_agg")
    val e = intercept[IllegalArgumentException](
      Query.index(Seq(q, SparkEntry.registry("q2_filter"), q.copy(core = true))))
    assert(e.getMessage.contains("q1_agg"))
  }

  test("fixed and generated oracles partition the query names") {
    val generatedNames = SparkEntry.registry.collect {
      case (name, Query(_, _, Oracle.Generated(_), _)) => name
    }.toSet
    assert(generatedNames == generated)
    assert(SparkEntry.oracleSql.size == 310)
    assert(SparkEntry.oracleSql.keySet.intersect(generated).isEmpty)
    assert(SparkEntry.oracleSql.keySet ++ generated == SparkEntry.queries.keySet)
    assert(SparkEntry.oracleSql.values.forall(sql => sql != null && sql.trim.nonEmpty))
  }

  test("the core bench subset has 51 registry names") {
    assert(SparkEntry.coreBench.size == 51)
    assert(SparkEntry.coreBench.distinct.size == 51)
    assert(SparkEntry.coreBench.toSet.subsetOf(SparkEntry.queries.keySet))
  }
}
