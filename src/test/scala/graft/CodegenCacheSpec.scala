package graft

import org.scalatest.funsuite.AnyFunSuite

/** Spark's codegen class cache must hold the working set of a
  * dashboard session: the 13 CLIF status keys run in rotation, each
  * key's classes must survive the other twelve. At Spark's default of
  * 100 entries every key evicts what the next one needs and each pass
  * recompiles its stages; at `GraftSession.CodegenCacheEntries` a
  * repeated pass compiles nothing. A loop over one key at a time fits
  * either cap and cannot show the difference. */
class CodegenCacheSpec extends AnyFunSuite {
  import TestSpark._

  private val clifKeys = Seq(
    "q_meta_extract", "q_meta_typed", "q_meta_yaml", "q_status_pivot",
    "q_status_matrix", "q_poc_registry", "q_latest_status",
    "q_incomplete_sites", "q_mention_rollup", "q_category_values",
    "q_category_append", "q_completion_rate", "q_federated_union")

  /** Classes compiled by each key over one pass through all of them. */
  private def pass(): Seq[(String, Long)] = clifKeys.map { k =>
    k -> Metrics.withJobs(spark)(SparkEntry.queries(k)(spark, sf).collect())._2.compiled
  }

  test("a second rotation through the 13 CLIF keys compiles no class") {
    val first = pass()
    val second = pass()
    assert(second.forall(_._2 == 0),
      s"recompiled on the second pass: ${second.filter(_._2 > 0)} " +
        s"(first pass: ${first.map(_._2).sum} classes)")
  }
}
