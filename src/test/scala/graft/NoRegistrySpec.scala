package graft

import graft.functions.GraftExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The engine needs no function registry: its native expressions are typed
  * Columns ([[graft.functions.Native]]) and every driver-collected literal
  * (IVF centroids, k-means rounds, the decontamination benchmark) rides
  * inside the plan. A session whose registry lacks every
  * [[GraftExtensions]] name runs the catalog queries that use them, returns
  * the shared session's rows, and ends with the registry it started with.
  *
  * The fixture is generated, so no file outside the repo is read. The child
  * session runs first, so the at-rest state these queries build once (the
  * k-means rounds, the dedup candidate pairs) is built in it. */
class NoRegistrySpec extends SparkSuite {
  private val root = "/tmp/graft_no_registry_spec"

  /** The IVF, k-means and decontamination queries, then one query per
    * remaining native expression (q65 and q60 call theirs inside Column
    * lambdas). */
  private val queries = Seq(
    "q72_ivf_ann", "q86_ivf_centroids", "q188_kmeans_rounds", "q189_semdedup",
    "q234_semantic_decontaminate",
    "q137_bounded_lev", "q218_unicode_audit", "q229_homoglyph_skeleton",
    "q150_minhash_inline", "q65_repetition_stats", "q60_winnowing")

  test("catalog queries run in a session with no native function registered") {
    val dir = s"$root/fixture"
    rmTree(root)
    GenData.gen(spark, dir, 0.1, Set("documents", "embeddings"))
    val child = spark.newSession()
    val registry = child.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (name, _) =>
      assert(registry.dropFunction(FunctionIdentifier(name)), s"$name was not registered")
    }
    val before = registry.listFunction().toSet
    def rows(s: org.apache.spark.sql.SparkSession, q: String): Seq[String] =
      SparkEntry.queries(q)(s, dir).collect().map(_.toString).toSeq.sorted
    val bare = queries.map(q => q -> rows(child, q))
    val after = registry.listFunction().toSet
    val (added, removed) = (after -- before, before -- after)
    assert(added.isEmpty && removed.isEmpty, "the queries changed the function registry")
    bare.foreach { case (q, got) =>
      assert(got.nonEmpty, s"$q: empty result on the fixture")
      assert(got == rows(spark, q), s"$q: rows differ from the shared session's")
    }
  }
}
