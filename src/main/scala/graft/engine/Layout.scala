package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Native

/** Multi-dimensional data layout: Z-order (Morton) clustering keys.
  *
  * The reference stores everything as unordered Postgres heap tables
  * (`spark_jobs/ingestion.py:15-22`) — at 100 TB, data LAYOUT is a first-class
  * operator: parquet row-group min/max skipping only prunes predicates on
  * columns the file happens to be clustered by. Sorting by a single column
  * prunes that column only; interleaving the bits of two columns into one
  * Z-value gives every aligned bit-prefix range a bounded extent in BOTH
  * dimensions, so one clustered write serves point/range predicates on either
  * column (the Delta/Iceberg `ZORDER BY` design, after Morton 1966).
  *
  * [[zValue]] is a pure integer column expression (codegen'd, no shuffle);
  * [[zorderWrite]] adds the one range-shuffle any clustered write needs.
  */
object Layout {

  /** Morton interleave of the low 16 bits of two non-negative integer
    * columns: bit i of `a` lands at output bit 2i+1, bit i of `b` at 2i.
    * 16+16 bits fit any dimension-like key; wider keys must be bucketed
    * (e.g. `pmod(hash(c), 65536)`) before interleaving.
    *
    * A key outside [0, 2^16) RAISES rather than truncating: silent
    * truncation aliases unrelated key ranges onto the same Z-value, which
    * destroys exactly the file-level clustering [[zorderWrite]] exists to
    * provide — with no error and files whose min/max stats simply stop
    * pruning (same fail-loud convention as `Similarity.lshBuckets`'s dim
    * guard; the guard lives inside the returned column so pruning cannot
    * drop it). Negative keys would be worse still: an arithmetic shift
    * smears the sign bit across every sampled position. */
  def zValue(a: Column, b: Column): Column = {
    val max = 1L << 16
    val (al, bl) = (a.cast("long"), b.cast("long"))
    val z = (0 until 16).map { i =>
      shiftright(al, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)) +
        shiftright(bl, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))
    }.reduce(_ + _)
    when(al < 0L || al >= max || bl < 0L || bl >= max,
      raise_error(concat(lit(s"zValue: key outside [0, $max): "),
        greatest(al, bl).cast("string"))).cast("long"))
      .otherwise(z)
  }

  /** Catalog query: Z-order clustering keys over customer (custkey x
    * nationkey) — the layout-key computation itself, oracle-checkable as pure
    * integer arithmetic. The write-side use is [[zorderWrite]]. */
  def zorderKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        zValue(col("c_custkey"), col("c_nationkey")).as("zval"))
      .orderBy("c_custkey")

  /** Clustered write: range-partition by the Z-value (`numFiles` output
    * files with non-overlapping Z ranges), sort within each partition, drop
    * the helper column. Every file then carries tight min/max footer stats on
    * BOTH `a` and `b`, so scans filtering on either column skip files. One
    * range shuffle — the same cost any sorted write pays. */
  def zorderWrite(df: DataFrame, a: String, b: String, path: String,
      numFiles: Int = 8): Unit =
    df.withColumn("__z", zValue(col(a), col(b)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Hive-style partitioned layout (q107): orders written partitioned by
    * order year, read back with a partition-key filter — the scan touches ONLY
    * the matching year directories (`PartitionFilters` in the plan; no data
    * file of any other year is opened). At 100 TB, year/day partitioning is
    * the first-line pruning lever before row-group stats; the roundtrip
    * through a real partitioned write is the point of the query, so its cost
    * includes the write. */
  def partitionPrunedScan(spark: SparkSession, dir: String): DataFrame =
    // one partitioned layout per orders snapshot per session: the write is
    // the once-per-drop layout cost, the OPERATOR under test is the pruned read
    prunedYearRollup(Fs.readParquet(spark, partitionedOrdersPath(spark, dir)))

  /** The partitioned-layout writer behind [[partitionPrunedScan]], callable
    * on its own so a test can build the layout once and explain the pruned
    * read separately. */
  def partitionedOrdersWrite(spark: SparkSession, dir: String, path: String): Unit =
    Tables.orders(spark, dir)
      .withColumn("o_year", year(col("o_orderdate")).cast("int"))
      .write.mode("overwrite").partitionBy("o_year").parquet(path)

  /** The pruned-read rollup over a partitioned orders layout; split out so
    * PlanSpec can assert the partition filter on the exact frame returned. */
  def prunedYearRollup(partitioned: DataFrame): DataFrame =
    partitioned
      .filter(col("o_year") === 1997)
      .groupBy(month(col("o_orderdate")).cast("int").as("o_month"))
      .agg(count(lit(1)).as("n_orders"), Dec.sum2(col("o_totalprice")).as("revenue"))
      .orderBy("o_month")

  /** Path of the year-partitioned orders layout, a [[SessionMemo.atRest]]
    * entry — the shared once-per-drop build behind [[partitionPrunedScan]]
    * (q107) and [[dynamicPrunedJoin]] (q121). */
  def partitionedOrdersPath(spark: SparkSession, dir: String): String =
    SessionMemo.atRest(spark, ("part", dir), s"$dir/orders.parquet")(
      partitionedOrdersWrite(spark, dir, _))

  /** Per-ship-year dim over lineitem (year, returned-item share in ppm),
    * materialized once per lineitem snapshot ([[SessionMemo.atRest]]): the
    * small filtered side of [[dynamicPrunedJoin]]. A real deployment's
    * date/scope dim; built here from the fixture so the query is
    * self-contained. */
  def shipYearDimPath(spark: SparkSession, dir: String): String =
    SessionMemo.atRest(spark, ("ydim", dir), s"$dir/lineitem.parquet") { p =>
      Tables.lineitem(spark, dir)
        .groupBy(year(col("l_shipdate")).cast("int").as("o_year"))
        .agg(count(lit(1)).as("n_items"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returns"))
        .withColumn("return_ppm", expr("n_returns * 1000000L div n_items"))
        .write.mode("overwrite").parquet(p)
    }

  /** Dynamic partition pruning (q121): the year-partitioned orders layout
    * joined ON ITS PARTITION COLUMN to a dim filtered on a NON-key attribute
    * (ship years whose returned-item share clears a threshold). The pruning
    * years are unknowable at plan time — static pruning (q107) cannot apply —
    * so Catalyst's DynamicPartitionPruning injects a `dynamicpruning#`
    * subquery into the fact scan's PartitionFilters and only the selected
    * year directories are opened (PlanSpec asserts). At 100 TB this is THE
    * star-join scan guard: a date-dim filter ("fiscal Q4", "promo weeks")
    * prunes the fact to the matching partitions without the user naming them. */
  def dynamicPrunedJoin(spark: SparkSession, dir: String): DataFrame = {
    val fact = Fs.readParquet(spark, partitionedOrdersPath(spark, dir))
    val dim = Fs.readParquet(spark, shipYearDimPath(spark, dir))
      .filter(col("return_ppm") >= 200000L)
      .select(col("o_year"), col("return_ppm"))
    fact.join(broadcast(dim), Seq("o_year"))
      .groupBy(col("o_year"), col("return_ppm"))
      .agg(count(lit(1)).as("n_orders"), Dec.sum2(col("o_totalprice")).as("revenue"))
      .orderBy("o_year")
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(bytes / targetFileBytes) balanced files. The small-files problem is
    * a first-order 100 TB cost — a day of streaming micro-batches leaves
    * thousands of KB-scale files whose open/footer overhead dominates scan
    * time; periodic compaction restores large sequential reads. Round-robin
    * `repartition(n)` balances output sizes (a `coalesce` would merge
    * neighbors unevenly and skip the shuffle's rebalancing). Returns the
    * target file count. Sizes come from Hadoop's FileSystem, so this works on
    * any storage the session addresses. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetFileBytes: Long = 128L << 20): Int = {
    val in = new org.apache.hadoop.fs.Path(inPath)
    val fs = in.getFileSystem(spark.sessionState.newHadoopConf())
    // recursive listing: a Hive-partitioned layout keeps its data files in
    // key=value subdirectories — a flat listStatus would see 0 bytes and
    // collapse the whole dataset to one file
    var bytes = 0L
    val it = fs.listFiles(in, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) bytes += f.getLen
    }
    val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    spark.read.parquet(inPath).repartition(n)
      .write.mode("overwrite").parquet(outPath)
    n
  }

  /** Compaction PLAN (q207) — the metadata half [[compact]] executes: given a
    * partitioned table's file inventory, assign files to target-size output
    * bins by ORDER-PRESERVING sequential packing (a file joins bin
    * floor(preceding_bytes / target) within its partition). Order-preserving
    * matters: files land in cluster order (ingest time, z-order ranges), and
    * packing neighbors keeps the min/max zones tight — the round-robin
    * shuffle in [[compact]] balances sizes but destroys clustering, so a
    * maintenance engine plans bins this way and rewrites bin-by-bin.
    *
    * The inventory is simulated from the documents table (file = 20
    * consecutive doc ids within a source, bytes = Σ n_chars) because the
    * fixture has no thousand-file layout; the planner itself reads ONLY
    * (partition, file_id, bytes) rows — at 100 TB that is the catalog's file
    * listing (metadata-sized), never data. One cumulative window per
    * partition; bins can overshoot target by at most one file (the classic
    * next-fit guarantee), surfaced as `over_target`. */
  def compactionPlan(spark: SparkSession, dir: String): DataFrame = {
    val targetBytes = 8192L
    val files = Tables.documents(spark, dir)
      .groupBy(col("source"), expr("doc_id div 20").as("file_id"))
      .agg(sum(col("n_chars")).as("bytes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("file_id"))
    files
      .withColumn("preceding", coalesce(sum(col("bytes"))
        .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("bin_id", expr(s"preceding div $targetBytes"))
      .groupBy(col("source"), col("bin_id"))
      .agg(
        count(lit(1)).as("n_files"),
        sum(col("bytes")).as("bin_bytes"),
        min(col("file_id")).as("first_file"),
        max(col("file_id")).as("last_file"))
      .withColumn("over_target", col("bin_bytes") > targetBytes)
      .orderBy("source", "bin_id")
  }

  /** Backfill PLAN (q215) — the gap detector a scheduled pipeline runs
    * before re-processing history: month partitions present in the source
    * spine but missing from the output (simulated: months whose index
    * m % 7 = 3 never landed) are coalesced into CONTIGUOUS backfill ranges
    * with the classic islands trick (m − row_number over missing months —
    * constant within a run, jumps across a gap). The only corpus-sized
    * stage is the distinct-months aggregate (map-side combinable); spine,
    * missing set, and the islands window all live on the month DOMAIN
    * (bounded by calendar span, not data volume), so the global window is
    * safe at any scale. Output: one row per contiguous missing range. */
  def backfillPlan(spark: SparkSession, dir: String): DataFrame = {
    val months = Tables.orders(spark, dir)
      .select(expr(
        "(year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) - 1)")
        .as("m")).distinct()
    val spine = months.agg(min(col("m")).as("lo"), max(col("m")).as("hi"))
      .select(explode(expr("sequence(lo, hi)")).as("m"))
    val existing = months.filter(col("m") % 7 =!= 3)
    val missing = spine.join(existing, Seq("m"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("m"))
    // integer month index → 'YYYY-MM' ("/" on longs is double division; div)
    def fmt(name: String): Column = expr(
      s"format_string('%04d-%02d', CAST($name div 12 AS INT), CAST($name % 12 + 1 AS INT))")
    missing
      .withColumn("grp", col("m") - row_number().over(w))
      .groupBy(col("grp"))
      .agg(min(col("m")).as("m_lo"), max(col("m")).as("m_hi"),
        count(lit(1)).as("n_months"))
      .select(fmt("m_lo").as("start_month"), fmt("m_hi").as("end_month"),
        col("n_months"))
      .orderBy("start_month")
  }

  /** Zone-map / data-skipping audit (q166): how many files a date-range
    * predicate must READ under two simulated layouts of the orders table —
    * date-clustered (one file per 30-day window, the layout a sort-on-write
    * or z-order produces) vs hash-scattered (md5 of the key mod 64, the
    * layout an unsorted shuffle write produces). Parquet/iceberg prune a file
    * when its [min, max] zone misses the predicate, so the per-layout
    * `read_ppm` is exactly the scan-cost ratio a 100 TB table pays for its
    * layout choice — this audit is the number that justifies
    * [[zorderWrite]]/[[compact]] maintenance.
    *
    * One scan; both layouts' file assignments are computed per row and
    * exploded, so the zone aggregate (min/max day per file) is a single
    * map-side-combinable pass; the rollup frame is file-count-sized. All
    * arithmetic is integer days/ppm — engine-exact. */
  def zoneMapAudit(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_orderkey"),
      expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)")
        .as("day"))
    val files = o
      .select(col("day"),
        expr("day div 30").as("clustered"),
        (Native.md5Prefix(col("o_orderkey").cast("string"), 7) % 64).as("hashed"))
      .select(col("day"), explode(map(
        lit("clustered"), col("clustered"),
        lit("hashed"), col("hashed"))))
      .withColumnRenamed("key", "layout").withColumnRenamed("value", "file_id")
    val lo = expr("CAST(datediff(DATE '1997-03-01', DATE '1970-01-01') AS BIGINT)")
    val hi = expr("CAST(datediff(DATE '1997-06-30', DATE '1970-01-01') AS BIGINT)")
    files.groupBy(col("layout"), col("file_id"))
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .groupBy(col("layout"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("mx") >= lo && col("mn") <= hi, 1L).otherwise(0L)).as("files_hit"))
      .select(col("layout"), col("n_files"), col("files_hit"),
        (col("n_files") - col("files_hit")).as("files_skipped"),
        expr("files_hit * 1000000 div n_files").as("read_ppm"))
      .orderBy("layout")
  }

  /** Rendezvous (highest-random-weight) sharding audit (q182): where each
    * document lands under N shards vs N+1, and how much data MOVES when a
    * shard is added — the data-placement scheme whose invariant makes
    * resharding a 100 TB corpus cheap: a document's shard is
    * argmax_s md5(doc_id:s), so adding shard N can only STEAL documents
    * (every mover goes TO the new shard; nothing reshuffles between old
    * shards, expected movement 1/(N+1) vs (N)/(N+1) for mod-N hashing).
    *
    * One scan: the per-(doc, shard) weights explode (N+1 rows per doc, a
    * constant), and BOTH assignments come from one aggregate — max over
    * weight structs (lexicographic struct comparison, identical in both
    * engines on identical md5-derived integers), the before-assignment via
    * a conditional max over s < N. Output: per before-shard movement
    * counts in exact ppm. */
  def rendezvousShards(spark: SparkSession, dir: String): DataFrame =
    rendezvousAssignments(spark, dir).groupBy(col("shard_before"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("shard_after") =!= col("shard_before"), 1L).otherwise(0L))
          .as("n_moved"))
      .withColumn("moved_ppm", expr("n_moved * 1000000 div n_docs"))
      .orderBy("shard_before")

  /** Delete-strategy write-amplification audit (q183): the copy-on-write vs
    * merge-on-read (deletion vector) trade every lakehouse table format
    * makes, computed exactly for a simulated delete batch (every 13th order)
    * against the date-clustered file layout of [[zoneMapAudit]]. Copy-on-
    * write rewrites every file containing ≥1 deleted row (rows_written =
    * all surviving+deleted rows of touched files); deletion vectors write
    * one marker per deleted row. write_amp_ppm = rows_written·10⁶ div
    * rows_deleted — the number that decides the strategy for a given
    * delete-rate/clustering combination (scattered deletes at 100 TB make
    * CoW rewrite nearly the whole table; clustered deletes make the two
    * converge).
    *
    * One scan → per-file (rows, deletes) aggregate (file-count-sized) → a
    * 2-row strategy rollup via map-explode (the q166 shape). */
  def deleteAmplification(spark: SparkSession, dir: String): DataFrame = {
    val perFile = Tables.orders(spark, dir)
      .select(
        expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT) div 30")
          .as("file_id"),
        when(col("o_orderkey") % 13 === 0, 1L).otherwise(0L).as("del"))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"), sum(col("del")).as("n_del"))
    perFile
      .agg(
        sum(when(col("n_del") > 0, 1L).otherwise(0L)).as("files_touched"),
        sum(when(col("n_del") > 0, col("n_rows")).otherwise(0L)).as("cow_rows"),
        sum(col("n_del")).as("dv_rows"))
      .select(explode(map(
        lit("copy_on_write"), struct(col("files_touched"), col("cow_rows").as("rows_written")),
        lit("deletion_vector"), struct(col("files_touched"), col("dv_rows").as("rows_written"))))
        .as(Seq("strategy", "v")),
        col("dv_rows").as("rows_deleted"))
      .select(col("strategy"), col("v.files_touched").as("files_touched"),
        col("v.rows_written").as("rows_written"), col("rows_deleted"),
        when(col("rows_deleted") > 0,
          expr("CAST(v.rows_written * 1000000 div rows_deleted AS BIGINT)"))
          .otherwise(0L).as("write_amp_ppm"))
      .orderBy("strategy")
  }

  /** [[rendezvousShards]]'s per-document stage — (doc_id, shard under N,
    * shard under N+1); the LayoutSpec surface for the steal-only invariant
    * (shard_before ≠ shard_after ⟹ shard_after = N). */
  def rendezvousAssignments(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    Tables.documents(spark, dir).select(col("doc_id"))
      // s as BIGINT end-to-end so the output shard ids match the oracle dtype
      .select(col("doc_id"), explode(expr(s"sequence(0, ${n}L)")).as("s"))
      .withColumn("h", Native.md5Prefix(
        concat(col("doc_id").cast("string"), lit(":"), col("s").cast("string")), 7))
      .groupBy(col("doc_id"))
      .agg(
        max(when(col("s") < n, struct(col("h"), col("s")))).as("before"),
        max(struct(col("h"), col("s"))).as("after"))
      .select(col("doc_id"),
        col("before.s").as("shard_before"), col("after.s").as("shard_after"))
  }
}
