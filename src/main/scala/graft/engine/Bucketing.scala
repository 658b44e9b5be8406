package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table support: pre-shuffling fact tables into hash buckets on
  * their join key so repeated fact⋈fact / fact⋈rollup joins run with NO
  * exchange on either side — the co-located-join lever for 100 TB (pay the
  * shuffle once at write time, never again at read time).
  *
  * Uses Spark's native parquet data-source bucketing (`bucketBy` + `sortBy` +
  * `saveAsTable`; no Hive dependency — the in-memory catalog + warehouse dir
  * suffice). The reference's Postgres tables have no equivalent; every join
  * re-shuffles there.
  */
object Bucketing {

  /** Write `df` as a bucketed, bucket-sorted table on `key`. Drops any stale
    * table/location first (an orphan warehouse dir from a previous JVM would
    * otherwise fail CREATE with LOCATION_ALREADY_EXISTS).
    *
    * The pre-write `repartition(numBuckets, key)` matters as much as the
    * bucket spec (round 10, q53 sf1000 redo): `bucketBy` assigns FILES with
    * the same HashPartitioning the repartition produces, so after it each
    * write task holds exactly one bucket's rows and writes exactly ONE file
    * per bucket — and FileSourceScanExec reports a bucketed scan's
    * `sortBy` ordering ONLY for single-file buckets. Multi-file buckets
    * (the default: one file per input partition per bucket) silently put a
    * per-task SORT back under every "co-located" join — at 20 M vectors
    * that sort spilled and was the residual 2× in q53's decade ratio. With
    * one file per bucket the join consumes the scans truly in place: no
    * exchange, no sort, at any scale. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      numBuckets: Int = 32): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    Fs.rmTree(new java.io.File(warehouse, table).getPath)
    df.repartition(numBuckets, org.apache.spark.sql.functions.col(key))
      .write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .saveAsTable(table)
  }

  /** Reads a bucketed table with sorted-scan metadata enabled.
    * `spark.sql.legacy.bucketedTableScan.outputOrdering` (default false
    * since 3.1) gates whether a bucketed scan REPORTS its `sortBy` order;
    * without it EnsureRequirements parks a per-partition Sort under every
    * "co-located" join, and that sort spills once a bucket outgrows
    * executor memory (q53's residual 2× at 20 M vectors). The flag is safe
    * here because it only claims ordering for single-file buckets — exactly
    * the layout [[writeBucketed]]'s pre-write repartition guarantees. */
  def readTable(spark: SparkSession, table: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    spark.table(table)
  }

  /** True iff the physical plan of `df` contains a shuffle exchange —
    * the assertion hook for "this join is co-located". */
  def hasShuffleExchange(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning")

  /** Co-located fact⋈fact join (q109): orders and lineitem each bucketed AND
    * bucket-sorted on the order key, then joined and rolled up per order with
    * ZERO hash exchange and zero sort — the scans come out hash-distributed
    * and ordered, the sort-merge join consumes them in place, and the
    * per-order aggregate reuses the same distribution (its keys contain the
    * bucket key). The `merge` hints keep the tiny test-SF side from
    * broadcasting, which would hide exactly the property the layout buys;
    * the write cost is the once-per-drop price the cluster pays to make
    * EVERY subsequent key join exchange-free. PlanSpec asserts the no-
    * exchange property on this exact frame. */
  /** `tablePrefix` keeps concurrent users (catalog at 32 buckets, test
    * suites at 8) from clobbering each other's layout in one JVM/warehouse.
    *
    * The bucketed layout is built ONCE PER (source dir, bucket count) per
    * session — the table name carries the dataset tag, and an existing table
    * is reused. That is bucketing's actual cost model ("pay the shuffle once
    * per data drop, never again"); rebuilding per invocation would charge
    * the one-time layout cost to every query. The source dirs here are
    * immutable test fixtures, so dir-keyed reuse cannot serve stale data; a
    * mutable-source deployment would key on a snapshot/commit id instead. */
  /** Corpus-adaptive bucket count (round 9, flagged by the round-8 sf100
    * gate at 20.9×/decade): a FIXED 32-bucket layout makes per-bucket
    * sort/join state grow linearly with the corpus — the write-time
    * `sortBy` sorts n/32 rows per bucket (spilling past memory), and every
    * co-located join task then streams a linearly-growing bucket. Same
    * fixed-parameter defect class as the k-means seedMod / IVF nlist / LSH
    * plane count: the layout parameter must follow the data.
    *
    * Law: one bucket per `targetRows` (≈4 M rows ≈ 128 MB of (key, value)
    * parquet — the shuffle-partition sizing rule applied to the at-rest
    * layout), floored at 32 so every fixture up to 128 M rows keeps the
    * round-8 layout (bucket count changes NO results — the floor preserves
    * bench comparability and the PlanSpec exchange-free pin's geometry),
    * capped at 4096 (past that, per-bucket files at the target size imply
    * a >0.5 TB table per drop — a deployment raises targetRows/partitions
    * the layout by date instead of widening one flat bucket space). */
  def bucketCountFor(nRows: Long, targetRows: Long = 4000000L): Int = {
    // overflow-safe ceil-divide: (nRows + targetRows - 1) wraps negative for
    // nRows near Long.MaxValue and the max(32,·) floor would silently hand an
    // astronomically large table the minimum layout
    val ceilDiv = nRows / targetRows + (if (nRows % targetRows == 0L) 0L else 1L)
    math.min(4096L, math.max(32L, ceilDiv)).toInt
  }

  /** `numBuckets = 0` (the catalog default) derives the count from the
    * larger (fact) side's COUNT(*) via [[bucketCountFor]] — both tables get
    * the SAME count, the co-located-join requirement; the count is a
    * [[SessionMemo]] entry, so the COUNT(*) does not rerun per invocation.
    * An explicit count pins it (tests, and any deployment that froze a
    * layout). */
  def bucketedOrderRevenue(spark: SparkSession, dir: String,
      numBuckets: Int = 0, tablePrefix: String = "graft_bk"): DataFrame = {
    val buckets: Int =
      if (numBuckets > 0) numBuckets
      else SessionMemo(spark, ("buckets", dir), s"$dir/lineitem.parquet")(
        bucketCountFor(Tables.lineitem(spark, dir).count()))
    val prefix = s"${tablePrefix}_${Fs.dirTag(dir)}_b$buckets"
    Fs.withPrefixLock(prefix) { // serialize the build-or-reuse decision
      if (!spark.catalog.tableExists(s"${prefix}_orders") ||
          !spark.catalog.tableExists(s"${prefix}_lineitem")) {
        writeBucketed(Tables.orders(spark, dir).select("o_orderkey", "o_totalprice"),
          s"${prefix}_orders", "o_orderkey", buckets)
        writeBucketed(
          Tables.lineitem(spark, dir).select("l_orderkey", "l_extendedprice", "l_discount"),
          s"${prefix}_lineitem", "l_orderkey", buckets)
      }
    }
    bucketedJoinFrame(spark, prefix)
  }

  /** The join+rollup over the bucketed tables, split out so PlanSpec can
    * assert exchange-freeness on the exact frame the catalog returns. */
  def bucketedJoinFrame(spark: SparkSession, tablePrefix: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit}
    readTable(spark, s"${tablePrefix}_orders").hint("merge")
      .join(readTable(spark, s"${tablePrefix}_lineitem").hint("merge"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey", "o_totalprice")
      .agg(count(lit(1)).as("n_items"),
        Dec.sumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy("o_orderkey")
  }
}
