package graft

import graft.engine.{Analytics, Fs, Layout, SessionMemo}
import org.apache.spark.sql.functions.col

/** Lifecycle of the derived datasets kept at rest
  * ([[graft.engine.SessionMemo.atRest]]): a build is keyed on its fixture's
  * signature, so a fixture rewritten in place gets a fresh build; the
  * context's end deletes every build it made; and of two threads racing
  * the first build, one build is published and the other's dir deleted. */
class AtRestSpec extends SparkSuite {
  private val root = "/tmp/graft_at_rest_spec"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  /** q216 and q107 on `dir`. */
  private def queries(dir: String): (Seq[String], Seq[String]) =
    (rows(Analytics.incrementalRevenueRollup(spark, dir)),
      rows(Layout.partitionPrunedScan(spark, dir)))

  /** Paths of the at-rest builds currently on disk. */
  private def atRestDirs(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles())
      .toSeq.flatten.filter(_.getName.startsWith("graft_atrest"))
      .map(_.getPath).toSet

  test("an in-place fixture rewrite gets fresh builds: q216 and q107 equal a fresh copy") {
    val dir = s"$root/rewrite"
    Fs.rmTree(root)
    GenData.gen(spark, dir, 0.01, Set("orders"))
    val before = queries(dir)
    // rewrite orders.parquet in place, keeping half the rows
    val half = s"$root/half"
    spark.read.parquet(s"$dir/orders.parquet").filter(col("o_orderkey") % 2 === 0)
      .write.parquet(half)
    Fs.rmTree(s"$dir/orders.parquet")
    assert(new java.io.File(half).renameTo(new java.io.File(s"$dir/orders.parquet")))
    val after = queries(dir)

    val fresh = s"$root/fresh"
    spark.read.parquet(s"$dir/orders.parquet").write.parquet(s"$fresh/orders.parquet")
    val expected = queries(fresh)
    def nOrders(q216: Seq[String]): Long =
      q216.map(_.stripPrefix("[").split(',')(1).toLong).sum
    assert(nOrders(after._1) == nOrders(expected._1),
      s"q216 counted ${nOrders(after._1)} orders, a fresh copy ${nOrders(expected._1)}")
    assert(after == expected, "q216/q107 after the rewrite differ from a fresh copy")
    assert(after != before, "the rewrite keeps half the orders: answers must change")
  }

  test("evicting a context deletes every at-rest dir it built") {
    val dir = s"$root/evict"
    Fs.rmTree(dir)
    GenData.gen(spark, dir, 0.01, Set("orders", "lineitem"))
    val built = Seq(
      Layout.partitionedOrdersPath(spark, dir),
      Layout.shipYearDimPath(spark, dir),
      SessionMemo.atRest(spark, ("at-rest-spec", dir), s"$dir/orders.parquet")(p =>
        spark.range(3).write.mode("overwrite").parquet(p)))
    assert(built.forall(p => new java.io.File(p).isDirectory), s"builds missing: $built")
    // the routine the context's ApplicationEnd listener runs
    SessionMemo.evict(spark.sparkContext)
    assert(SessionMemo.size == 0)
    assert(built.forall(p => !new java.io.File(p).exists), s"builds left behind: $built")
  }

  test("two threads racing the first build share one readable build; the loser's dir is gone") {
    val dir = s"$root/race"
    Fs.rmTree(dir)
    GenData.gen(spark, dir, 0.01, Set("orders"))
    val nOrders = spark.read.parquet(s"$dir/orders.parquet").count()
    val existing = atRestDirs()
    val start = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val paths = try {
      Seq.fill(2)(pool.submit(new java.util.concurrent.Callable[String] {
        def call(): String = { start.await(); Layout.partitionedOrdersPath(spark, dir) }
      })).map(_.get())
    } finally pool.shutdown()
    assert(paths.distinct.size == 1, s"racing callers got different builds: $paths")
    assert(spark.read.parquet(paths.head).count() == nOrders)
    assert(atRestDirs() -- existing == Set(paths.head),
      s"builds left besides the published one: ${atRestDirs() -- existing - paths.head}")
  }
}
