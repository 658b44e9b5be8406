package graft

import graft.engine.{Bucketing, SessionMemo}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A session rebuilt in the same JVM gets live tables. The at-rest layouts
  * (the LSH bucket index, the dedup prefix index, the bucketed order tables)
  * are catalog tables, and the catalog dies with its SparkContext; their
  * names are [[SessionMemo]] entries, so they must die with it too. A memo
  * keyed by directory alone would hand the new session a table name its
  * catalog does not hold (`TABLE_OR_VIEW_NOT_FOUND`).
  *
  * This suite stops the shared test session; the next suite that asks for
  * one gets a fresh session ([[SparkSuite.session]]). */
class SessionRebuildSpec extends AnyFunSuite {
  private val root = "/tmp/graft_session_rebuild_spec"

  /** Build each layout on `spark` and read it back: row counts. */
  private def layouts(spark: SparkSession, dir: String): Seq[Long] = Seq(
    spark.table(graft.ext.Similarity.lshBucketedTable(spark, dir)).count(),
    spark.table(graft.ext.Dedup.prefixIndexTable(spark, dir, 800000L)).count(),
    Bucketing.bucketedOrderRevenue(spark, dir, tablePrefix = "graft_rebuild_bk").count())

  test("after the context stops, a rebuilt session rebuilds and reads every layout") {
    val dir = s"$root/fixture"
    graft.engine.Fs.rmTree(root)
    val first = SparkSuite.session
    GenData.gen(first, dir, 0.01, Set("orders", "lineitem", "documents", "embeddings"))
    val before = layouts(first, dir)
    assert(before.forall(_ > 0), s"empty layouts: $before")
    val sc = first.sparkContext
    assert(SessionMemo.size > 0)
    first.stop() // ApplicationEnd drops every entry of the stopped context
    assert(SessionMemo.size == 0, "entries of the stopped context survived it")

    val rebuilt = GraftSession.builder(4, None)
      .appName("graft-tests-rebuilt")
      .config("spark.sql.warehouse.dir", s"$root/warehouse2")
      .getOrCreate()
    try {
      assert(!(rebuilt.sparkContext eq sc))
      assert(layouts(rebuilt, dir) == before)
    } finally rebuilt.stop()
  }
}
