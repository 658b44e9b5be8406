package graft

import graft.engine.{Bucketing, Skew}
import org.apache.spark.sql.functions._

/** Scale-engineering utilities: bucketed co-located joins and skew salting. */
class ScaleSpec extends SparkSuite {

  test("bucketed join on the bucket key runs with no shuffle exchange") {
    val s = spark; import s.implicits._
    val orders = graft.engine.Tables.orders(spark, "/root/testdata/sf0.001")
    val li = graft.engine.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val (bOrders, bLineitem) = ("/tmp/graft_scale_spec/b_orders", "/tmp/graft_scale_spec/b_lineitem")
    Bucketing.writeBucketed(orders, bOrders, "o_orderkey", numBuckets = 8)
    Bucketing.writeBucketed(
      li.withColumnRenamed("l_orderkey", "o_orderkey"), bLineitem, "o_orderkey", numBuckets = 8)

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val joined = Bucketing.readTable(spark, Bucketing.tableAt(bOrders))
        .join(Bucketing.readTable(spark, Bucketing.tableAt(bLineitem)), "o_orderkey")
      assert(!Bucketing.hasShuffleExchange(joined), "bucketed join must be exchange-free")
      // and an unbucketed equivalent DOES shuffle — the control
      val plain = orders.join(li, orders("o_orderkey") === li("l_orderkey"))
      assert(Bucketing.hasShuffleExchange(plain))
      // correctness: same row count either way
      assert(joined.count() == plain.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("bucket-count law: floor below 128M rows, one bucket per 4M rows above, capped") {
    // floor region — every driver fixture and the sf1/sf10 gates keep the
    // round-8 32-bucket layout (layout changes no results; the floor
    // preserves bench comparability)
    assert(Bucketing.bucketCountFor(60000L) == 32)
    assert(Bucketing.bucketCountFor(60000000L) == 32)
    assert(Bucketing.bucketCountFor(128000000L) == 32)
    // law region — the sf100 fixture (600M lineitem rows) gets 150 buckets:
    // per-bucket sort state stays ~4M rows at every scale
    assert(Bucketing.bucketCountFor(600000000L) == 150)
    assert(Bucketing.bucketCountFor(600000001L) == 151)
    // cap region
    assert(Bucketing.bucketCountFor(Long.MaxValue / 4L) == 4096)
  }

  test("year-partitioned fact write gives partition pruning on date-range filters") {
    val s = spark; import s.implicits._
    val fact = Seq((1L, 20170301, 10.0), (2L, 20180401, 20.0), (3L, 20190501, 30.0))
      .toDF("sk", "Order_Date_SK", "amount")
      .withColumn("Order_Year", expr("Order_Date_SK div 10000"))
    fact.write.mode("overwrite").partitionBy("Order_Year").parquet("/tmp/graft_partfact")
    val read = spark.read.parquet("/tmp/graft_partfact").filter(col("Order_Year") === 2018)
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(read.collect().map(_.getAs[Long]("sk")).toSeq == Seq(2L))
    // pruned scan reads only the one matching partition directory
    val scanned = read.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scanned.contains("Order_Year"), scanned)
  }

  test("rangedRowNumber equals the single-partition global row_number (strings, ints, nulls)") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    def globalRn(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
      df.withColumn("rn", row_number()
        .over(Window.orderBy(cols.map(col): _*)).cast("long"))
    // string keys incl. NULL and empty string (the chunk-edge cases)
    val sdf = Seq(Option("zz9"), Option("ab"), None, Option(""), Option("a"),
      Option("zz1"), Option("m"), Option("ab2")).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "v").repartition(5)
    val got = graft.engine.RelOps.rangedRowNumber(sdf, "rn", Seq("k"))
      .select("k", "rn").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = globalRn(sdf, Seq("k"))
      .select("k", "rn").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want, s"string ranks diverge: $got vs $want")
    // integer keys incl. NULL and negatives; two-column tie-break order
    val idf = Seq((Option(-50L), "a"), (None, "b"), (Option(7L), "c"),
      (Option(1000000L), "d"), (Option(0L), "e"), (Option(-50000L), "f"))
      .toDF("k", "t").repartition(4)
    val gi = graft.engine.RelOps.rangedRowNumber(idf, "rn", Seq("k", "t"))
      .select("t", "rn").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val wi = globalRn(idf, Seq("k", "t"))
      .select("t", "rn").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(gi == wi, s"integer ranks diverge: $gi vs $wi")
    // ranks are a permutation of 1..n (no drops from the offsets join)
    assert(got.map(_._2) == (1L to 8L).toSet)
    assert(gi.map(_._2) == (1L to 6L).toSet)
    // full-range Long keys (e.g. xxhash64-derived): `hi - lo` overflows a
    // signed Long, so the sign-bit-biased unsigned chunking must still rank
    // correctly — including keys straddling 0 and both extremes
    val fdf = Seq((Long.MinValue, "a"), (Long.MinValue + 7, "b"), (-3L, "c"),
      (0L, "d"), (12L, "e"), (Long.MaxValue - 1, "f"), (Long.MaxValue, "g"))
      .toDF("k", "t").repartition(4)
    val gf = graft.engine.RelOps.rangedRowNumber(fdf, "rn", Seq("k"))
      .select("t", "rn").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(gf == Set(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L), ("e", 5L),
      ("f", 6L), ("g", 7L)), s"full-range ranks diverge: $gf")
  }

  test("salted join returns exactly the rows of the plain join on skewed data") {
    val s = spark; import s.implicits._
    // heavy skew: 90% of rows share key 1
    val large = (1 to 2000).map(i => (if (i <= 1800) 1L else i.toLong, s"v$i"))
      .toDF("k", "payload")
    val small = Seq((1L, "hot"), (5L, "cold"), (1900L, "tail")).toDF("k", "tag")
    val plain = large.join(small, Seq("k")).select("k", "payload", "tag")
      .collect().map(_.toString).sorted
    val salted = Skew.saltedJoin(large, small, "k", saltFactor = 4)
      .select("k", "payload", "tag").collect().map(_.toString).sorted
    assert(salted.toSeq == plain.toSeq)
    assert(plain.length == 1801)

    val profile = Skew.keyProfile(large, "k").collect()
    assert(profile.head.getAs[Long]("k") == 1L)
    assert(profile.head.getAs[Double]("pct_of_total") == 90.0)
  }
}
