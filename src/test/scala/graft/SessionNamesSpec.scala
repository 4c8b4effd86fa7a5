package graft

/** A query build leaves the session's catalog as it found it: every
  * custom expression is built as a Column (`VectorFunctions.fixedDot`,
  * `AnnPq.encode`, `BloomDedup.mightContain`, ...), so no build writes a
  * temporary function or a temporary view that a later query could read.
  */
class SessionNamesSpec extends SparkSpec {

  test("building the custom-expression keys writes no temporary function or view") {
    val s = spark.newSession()
    def names(): (Set[String], Set[String]) = (
      s.catalog.listFunctions().collect().filter(_.isTemporary).map(_.name).toSet,
      s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet)
    val before = names()
    Seq("ann_pq_adc", "ivf_cell_balance", "cosine_similarity_topk",
      "lsh_hyperplane_near_dup", "bloom_prefilter_dedup", "page_plan_generator",
      "char_entropy_by_source", "repetition_filter", "random_projection_jl")
      .foreach(k => SparkEntry.queries(k)(s, sf()))
    val (fns, views) = names()
    // builtins list as temporary too, so compare the difference only
    assert((fns -- before._1, before._1 -- fns) === ((Set.empty, Set.empty)),
      "a build changed the temporary functions")
    assert((views -- before._2, before._2 -- views) === ((Set.empty, Set.empty)),
      "a build changed the temporary views")
  }
}
