package graft.engine

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Dec._

/** Core relational operator surface, re-expressed Spark-first over the driver's
  * testdata tables. Each function maps one (or a small cluster) of the reference's
  * operators from SURVEY.md §2 — projection/rename, filters, dedup, joins,
  * hash aggregates, when-chains, date/string scalar functions, windows — to
  * idiomatic `org.apache.spark.sql` code that Catalyst can fully optimize
  * (pushdown, pruning, broadcast, whole-stage codegen).
  *
  * Scale notes (100 TB): every query here is a declarative plan — filters and
  * projections reach the parquet scan; small dimensions (region/nation/part at
  * dim-scale) broadcast; large-table aggregates are partial (map-side) before the
  * single shuffle on the group keys. No collect-driven loops except the 1-row
  * min/max spine seed (same as reference `spark_jobs/reporting.py:56-63`).
  */
object RelOps {

  /** The incremental queries' ingest wave: the arriving batch is the rows
    * whose key is 7 mod 10 (the oracle SQL's `key % 10 = 7`); every other
    * row is the corpus already at rest. */
  def inWave(key: Column): Column = key % 10 === 7

  /** Size-guarded broadcast for AGGREGATE outputs the planner cannot size
    * (vocabulary tables, n-gram type tables, per-key degree tables): the
    * round-8 sf10 sweep measured corpus-mass sort-merge joins on few-valued
    * string keys at 16-57× for 10× rows, so these dims must broadcast — but
    * a Heaps-bounded type table is still corpus-DEPENDENT, and an
    * unconditional `broadcast()` hint of a table that outgrew executor
    * memory is an OOM at some scale (ADVICE r8). This helper persists the
    * aggregate (its consumer join was about to materialize it anyway),
    * counts it driver-side — a metadata-cheap pass over the cached frame —
    * and applies the hint only under `maxRows`; past the guard it falls
    * through to the shuffle join, whose stream side AQE can then lay out.
    * Default 10 M rows ≈ a few hundred MB of short strings per executor:
    * comfortably inside a production executor budget, far above every
    * fixture's type-table sizes (the hint never drops on the test ladder —
    * the guard is the 1000× insurance, not a behavior change).
    *
    * DISK_ONLY, deliberately: these caches live for the whole session (a
    * lazily-consumed frame has no safe unpersist point), and unified memory
    * PROTECTS in-memory cached blocks from execution-side eviction up to
    * `spark.memory.storageFraction` — six MEMORY_AND_DISK type tables
    * accumulated across a bench session pinned enough of the pool that an
    * unrelated sort-merge join died with UNABLE_TO_ACQUIRE_MEMORY at sf100.
    * A small on-disk table costs one local read per reuse and pins ZERO
    * execution memory. Cache accumulation is bounded: Spark's CacheManager
    * keys entries by canonicalized plan, so repeated calls over the same
    * lineage (every per-dir memoized consumer) share ONE persisted copy;
    * distinct lineages are bounded by the catalog's type-table count
    * (~tens of small aggregates per session, each a few MB on local disk).
    *
    * Streaming frames pass through un-hinted: `persist`/`count` are
    * batch-only actions, and a stream side of a stream-static join takes
    * its build strategy from the static side anyway.
    *
    * The guard is TWO-DIMENSIONAL (round 10): row count alone is blind to
    * row width — 10 M rows of 64-float embedding arrays is ~3 GB, an OOM
    * as a broadcast copy on every executor even though it clears the row
    * guard. After `count()` materializes the cache, the plan's
    * `InMemoryRelation.computeStats` reports the MEASURED cached size
    * (its size accumulator is populated during batch build, any storage
    * level), not an estimate — so the bytes law costs nothing extra.
    * 256 MB default: each executor holds a full copy next to its
    * execution pool, and the driver assembles it first; a fixed fraction
    * of the SMALLEST memory party in a production topology, not of this
    * box's 64 g heap. Before materialization (or if the cache entry is
    * not found) the measured size is a planner estimate that can run
    * orders of magnitude high on string-heavy plans — the guard treats
    * "no measured size" as "don't broadcast" only when the estimate ALSO
    * exceeds the bound, which keeps tiny type tables hinted even when
    * estimation is unavailable (the row guard still caps the failure
    * mode: an unmeasured frame under maxRows broadcasts at most
    * maxRows-row collect cost, the pre-round-10 contract). */
  def guardedBroadcast(df: DataFrame, maxRows: Long = 10000000L,
      maxBytes: Long = 256L << 20): DataFrame = {
    if (df.isStreaming) return df
    val cached = df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val n = cached.count()
    // post-materialization this resolves through the CacheManager to the
    // InMemoryRelation whose stats carry the measured batch bytes
    val bytes = cached.queryExecution.optimizedPlan.stats.sizeInBytes
    if (n <= maxRows && bytes <= BigInt(maxBytes)) broadcast(cached) else cached
  }

  /** Approximate-membership PREDICATE on a long key set: builds a Bloom
    * sketch over `keys` (one DISK_ONLY materialization pays for count +
    * sketch, the guardedBroadcast discipline), broadcasts it, and returns
    * the broadcast, which the caller probes with a typed Column
    * ([[graft.functions.Native]]) — anywhere an expression can go,
    * including INSIDE a higher-order-function lambda over an in-row array.
    *
    * That last placement is the point (q227's repeat spans, round 11): the
    * membership test runs per POSITION against the row's own gram-hash
    * array, so candidate gram strings are only ever BUILT for positions
    * that survive — a semi-join (even a broadcast one) needs the probe
    * exploded and its strings materialized first, which at sf100 cost ~2
    * full interpreted concat passes over the corpus. No false negatives:
    * every true member survives; callers must tolerate false positives
    * (here: extra candidates that exact downstream verification discards).
    *
    * Sketch sizing: optimal bits for a 0.1% fpp (~1.8 bytes/key), CAPPED
    * at 384 MB — past the cap the fpp degrades gracefully
    * (more verification work, same exactness) instead of the helper
    * failing or falling back to a probe-mass reshuffle. Returns None for
    * an empty key set (caller should emit a constant-false filter). */
  def bloomPredicate(keys: DataFrame, keyCol: String): Option[Broadcast[Array[Byte]]] = {
    val spark = keys.sparkSession
    // NULL keys are dropped here, not trusted away: this is a generic
    // helper, and a null reaching the `getLong(0)` below would surface as
    // an opaque task-level NPE inside treeAggregate (round-11 ADVICE). A
    // NULL key also has no meaningful membership semantics — SQL `IN`
    // yields NULL, a semi-join drops the row — so "never a member" is the
    // conservative contract (callers test concrete values, and a dropped
    // NULL can only suppress candidates that exact verification would
    // discard anyway).
    val cached = keys.where(col(keyCol).isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val n = cached.count()
    if (n == 0L) return None
    // optimal bit count for (n, 0.1% fpp), capped. Built with a treeAggregate
    // over util.sketch.BloomFilter directly — NOT stat.bloomFilter, whose
    // BloomFilterAggregate path silently CLAMPS the sketch to
    // spark.sql.optimizer.runtime.bloomFilter.maxNumBits (default 2²⁶ bits
    // = 8 MB): at 13 M keys that clamp realized a 29% fpp where 0.1% was
    // requested, and the q227 candidate stream carried 3.5× its true mass
    // (measured round 11; the sized sketch brings candidates back to
    // dup mass + 0.1%).
    val bits = math.min(
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n, 0.001),
      (384L << 20) * 8L)
    // Bound the helper's OWN driver-ward fan-in (round 12, corrected round
    // 13): treeAggregate's final level collects the REMAINING per-partition
    // SKETCHES — each up to the 384 MB cap (235 MB at 130 M sf1000 dup
    // classes) — so its result volume scales with the caller's partition
    // count. With AQE data-sized exchanges upstream, ~17 × 67 MB sketches
    // blew spark.driver.maxResultSize at sf300. coalesce(8) (no shuffle —
    // map-local unions of the DISK_ONLY cache) plus depth 2 makes the
    // final collect exactly TWO sketches ≤ 768 MB even at the 384 MB cap:
    // Spark's tree loop uses scale = max(ceil(8^(1/depth)), 2), and its
    // stop condition `numPartitions > scale + ceil(numPartitions/scale)`
    // means depth=2 → scale=3 → one 8→2 level (final collect = 2
    // sketches), whereas depth=3 → scale=2 STOPS at 8→4 (4 × 384 MB =
    // 1.5 GB > the default 1g maxResultSize — the round-12 depth-3 choice
    // re-created the failure it meant to bound; round-12 ADVICE). This is
    // a property of this helper, not of whatever exchange produced the
    // keys; runner sessions also raise spark.driver.maxResultSize to 2g as
    // belt-and-braces (Bench/Verify/SoakBench builders). The 8-way build
    // pass is hashing
    // 8-byte keys; it is bandwidth-bound, not core-bound.
    val bf = cached.select(col(keyCol)).rdd
      .map(_.getLong(0))
      .coalesce(8)
      .treeAggregate(
        org.apache.spark.util.sketch.BloomFilter.create(n, bits))(
        (f, v) => { f.putLong(v); f },
        (a, b) => { a.mergeInPlace(b); a },
        depth = 2)
    cached.unpersist()
    val sketchBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    Some(spark.sparkContext.broadcast(sketchBytes))
  }

  /** Distributed deterministic ROW_NUMBER over a TOTAL order — the
    * scale-safe replacement for `row_number().over(Window.orderBy(...))`,
    * which moves the whole input to ONE partition (Spark's WindowExec
    * warning, and a hard wall at fact scale). One global sort on
    * `orderCols` (a range-partitioned exchange; NULLs first, as in the
    * window), then Spark's distributed-sequence operator
    * (`AttachDistributedSequence`, reached through
    * [[org.apache.spark.sql.GraftBridge]]) numbers the sorted rows, plus
    * one. No step gathers rows into one partition, and no data-derived
    * chunk key exists, so keys sharing a prefix spread like any others.
    *
    * The operator numbers rows inside ONE execution, over ONE child RDD:
    * when the child has more than one partition it persists that RDD
    * between its per-partition count job and its output job, and unpersists
    * it on cleanup (which AQE runs when the operator's stage completes).
    * Counts and numbers therefore come from the same sorted partitions, so
    * re-sampled range boundaries or re-coalesced partitions in another
    * execution cannot shift an offset.
    *
    * Output equals `row_number().over(Window.orderBy(orderCols))` whenever
    * `orderCols` is a total order (unique keys — every SK assignment in
    * this repo guarantees one); on ties both forms depend on the layout.
    * The SK column is appended last. */
  def rangedRowNumber(df: DataFrame, name: String,
      orderCols: Seq[String]): DataFrame =
    org.apache.spark.sql.GraftBridge
      .withSequenceColumn(df.sort(orderCols.map(col): _*), "__seq")
      .withColumn(name, col("__seq") + 1L)
      .drop("__seq")

  /** Distributed INCLUSIVE cumulative sum of `valueCol` over a total
    * order — chunked parallel-prefix: sum within order-aligned chunks in
    * parallel, then add per-chunk offsets (one tiny aggregate over the
    * chunk keys, broadcast back), the shape
    * [[graft.ext.Dedup.sortedNeighborhoodPairs]] uses. For running-total
    * operators (token-stream offsets, sequence packing) that would
    * otherwise need the all-to-one window.
    *
    * The chunk key is a DETERMINISTIC, ORDER-MONOTONE function of the ROW
    * DATA — a string prefix, or integer division against a min/max driver
    * seed — NEVER `spark_partition_id()` after a range repartition:
    * physical partition ids are not stable across the two executions of
    * an unmaterialized lineage (range boundaries are re-sampled per run and
    * AQE re-coalesces), so a pid-keyed offsets join silently drops or
    * mis-sums rows. Monotone data chunks make every execution agree by
    * construction. */
  def rangedCumsum(df: DataFrame, name: String, orderCols: Seq[String],
      valueCol: Column): DataFrame =
    chunkedPrefixAgg(df, name, orderCols, valueCol)

  private def chunkedPrefixAgg(df: DataFrame, name: String,
      orderCols: Seq[String], valueCol: Column): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    val cols = orderCols.map(col)
    val first = col(orderCols.head)
    // NULL keys coalesce into the chunk that sorts FIRST (NULLs lead the
    // window order too) — a bare NULL chunk would be dropped by the
    // offsets equi-join
    val chunk: Column = df.schema(orderCols.head).dataType match {
      // prefix of a string is monotone under the binary UTF8 ordering
      case StringType => coalesce(substring(first, 1, 2), lit(""))
      case ByteType | ShortType | IntegerType | LongType =>
        // one tiny deterministic driver seed (min/max) calibrates ~32-64
        // equal-width chunks. Keys are biased into the unsigned domain by
        // XOR-ing the sign bit (order-preserving, no arithmetic — safe for
        // full-range keys such as xxhash64 output, and under ANSI mode),
        // then chunked with an unsigned right shift: both bitwise ops, so
        // no `hi - lo` Long overflow anywhere on driver or executors.
        val mm = df.agg(min(first), max(first)).head()
        if (mm.isNullAt(0)) lit(0L)
        else {
          def ub(x: Long) = BigInt(x ^ Long.MinValue) & ((BigInt(1) << 64) - 1)
          // shift >= 1 keeps every chunk id in [0, 2^63) so the signed
          // ordering of chunk ids equals the unsigned (true) ordering
          val shift = math.max(1,
            (ub(mm.getAs[Number](1).longValue) -
             ub(mm.getAs[Number](0).longValue)).bitLength - 6)
          coalesce(
            shiftrightunsigned(
              first.cast("long").bitwiseXOR(lit(Long.MinValue)), shift),
            lit(-1L))
        }
      // other key types: single chunk — correct, just not parallel (no
      // current call site orders by a non-string non-integral key)
      case _ => lit(0L)
    }
    val wIn = Window.partitionBy(col("__chunk")).orderBy(cols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // chunk keys are monotone in the order, so ordering chunks BY KEY is
    // the global order; NULL chunks sort first exactly like NULL keys
    val wOff = Window.orderBy(col("__chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunked = df.withColumn("__chunk", chunk)
      .withColumn("__v", valueCol.cast("long"))
    val offs = chunked.groupBy(col("__chunk")).agg(sum(col("__v")).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(wOff), lit(0L)))
      .select(col("__chunk"), col("__off"))
    chunked.withColumn("__ri", sum(col("__v")).over(wIn))
      .join(broadcast(offs), Seq("__chunk"))
      .withColumn(name, (col("__off") + col("__ri")).cast("long"))
      .drop("__chunk", "__ri", "__off", "__v")
  }

  /** TPC-H Q1-style pricing summary: scan-filter-aggregate with exact decimals.
    * Reference analog: silver filters + gold hash aggregates
    * (`spark_jobs/reporting.py:260-263,309-321`). */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") < to_timestamp(lit("2000-01-01")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum2(col("l_quantity")).as("sum_qty"),
        sum2(col("l_extendedprice")).as("sum_base_price"),
        sumRevenue(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Projection + rename + conjunctive filter (SURVEY §2.2 P1/P2).
    * Filter and the 4-column projection both push into the parquet scan. */
  def filterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "O" && col("o_totalprice") > 100000.0)
      .select(
        col("o_orderkey").as("okey"),
        col("o_custkey").as("ckey"),
        col("o_totalprice").as("total"),
        year(col("o_orderdate")).as("oyear"))
      .orderBy("okey")

  /** Per-key aggregate then equi-join back to the parent table — the exact shape
    * of the reference's payments-per-order agg + fact join
    * (`spark_jobs/reporting.py:260-268`). The agg side shuffles once on the join
    * key; AQE turns the join into a broadcast when the agg output is small. */
  def perOrderAggJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(
        sum2(col("l_extendedprice")).as("order_revenue"),
        count(lit(1)).as("n_items"),
        max(col("l_shipdate")).as("last_ship"))
    Tables.orders(spark, dir)
      .join(li, col("o_orderkey") === col("l_orderkey"), "inner")
      .select(
        col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").as("total"),
        col("order_revenue"), col("n_items"), col("last_ship"))
      .orderBy("o_orderkey")
  }

  /** Deterministic keyed dedup (SURVEY §2.3 D1): the reference's
    * `dropDuplicates(['Ord_ID'])` keeps an arbitrary survivor
    * (`spark_jobs/transformation.py:70,80,93`); a deterministic engine keeps the
    * first row under a total order — window row_number with full tie-break. */
  def dedupKeyed(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("o_custkey"),
        col("o_orderkey").as("first_orderkey"),
        col("o_orderdate").as("first_orderdate"))
      .orderBy("o_custkey")
  }

  /** Full-row distinct (SURVEY §2.3 D2, `spark_jobs/reporting.py:93,194-220`). */
  def distinctRows(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_nationkey"), col("c_mktsegment"))
      .distinct()
      .orderBy("c_nationkey", "c_mktsegment")

  /** Date spine: range source + date arithmetic + calendar attributes — the
    * reference's dim_date build (`spark_jobs/reporting.py:56-93`): one 2-value
    * collect() seeds `spark.range(nDays)`, everything else stays distributed. */
  def dateSpine(spark: SparkSession, dir: String): DataFrame = {
    val mm = Tables.orders(spark, dir)
      .agg(min(to_date(col("o_orderdate"))).as("mn"), max(to_date(col("o_orderdate"))).as("mx"))
      .head()
    val mn = mm.getDate(0)
    val nDays = java.time.temporal.ChronoUnit.DAYS.between(
      mn.toLocalDate, mm.getDate(1).toLocalDate) + 1
    spark.range(nDays)
      .select(date_add(lit(mn), col("id").cast("int")).as("d"))
      .select(
        date_format(col("d"), "yyyyMMdd").cast("int").as("date_sk"),
        col("d").as("date"),
        year(col("d")).as("year"),
        month(col("d")).as("month"),
        quarter(col("d")).as("quarter"),
        dayofmonth(col("d")).as("day_of_month"),
        weekofyear(col("d")).as("week_of_year"),
        date_format(col("d"), "MMMM").as("month_name"),
        date_format(col("d"), "EEEE").as("day_name"),
        dayofweek(col("d")).isin(1, 7).as("is_weekend"))
      .orderBy("date_sk")
  }

  /** when/otherwise classifier chain + isin set membership (SURVEY §2.2 P8,
    * §2.8 — the reference's 14 when-chains, e.g. `spark_jobs/reporting.py:84-92,
    * 103-122,183-188`), retargeted at l_quantity bands. */
  def whenChainClassifier(spark: SparkSession, dir: String): DataFrame = {
    val band = when(col("l_quantity") < 10, "XS")
      .when(col("l_quantity") < 25, "S")
      .when(col("l_quantity") < 40, "M")
      .otherwise("L")
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag").isin("A", "N"))
      .select(band.as("qty_band"), col("l_returnflag"))
      .groupBy("qty_band", "l_returnflag")
      .agg(count(lit(1)).as("n"))
      .orderBy("qty_band", "l_returnflag")
  }

  /** String scalar functions (SURVEY §2.8): upper/length/lpad/concat/
    * regexp_replace/substring — all Catalyst built-ins, fully codegen'd. */
  def stringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        length(col("p_name")).as("name_len"),
        lpad(col("p_partkey").cast("string"), 8, "0").as("padded"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_name"), " ", "_").as("snake"),
        substring(col("p_name"), 1, 3).as("prefix3"))
      .orderBy("p_partkey")

  /** rlike regex predicates incl. the negated form whose NULL-drop semantics are
    * load-bearing in the reference (`spark_jobs/transformation.py:94-98`). */
  def regexFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .filter(col("p_name").rlike("^[a-z]+ [a-z]+$") && !col("p_type").rlike("[^A-Z ]"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_clean"))
      .orderBy("p_brand")

  /** YoY revenue via lag window — the dashboard-parity analytics the reference
    * delegates to Power BI DAX (`Readme.md:157-159,179-181`; SURVEY §2.6). */
  def yoyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val yearly = Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("oyear"))
      .agg(sum2(col("o_totalprice")).as("revenue"))
    val w = Window.orderBy(col("oyear"))
    yearly.select(
      col("oyear"), col("revenue"),
      lag(col("revenue"), 1).over(w).as("prev_revenue"),
      (col("revenue") - lag(col("revenue"), 1).over(w)).as("yoy_diff"))
      .orderBy("oyear")
  }

  /** Top-10 parts by revenue with full tie-break, then a join back to the
    * dimension ("Top-10 products" dashboard metric, `Readme.md:165`).
    *
    * Scale-safe form: `orderBy().limit(10)` — Spark's TakeOrderedAndProject
    * keeps only 10 rows per partition before the single-row collect, so no
    * global single-partition window sort ever materializes (the previous
    * `row_number over Window.orderBy` form sorted the whole aggregate on one
    * partition). Rank is then assigned over the 10 surviving rows only.
    * See also [[topKPartsAgg]] for the typed-aggregator variant. */
  def topKParts(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum2(col("l_extendedprice")).as("part_revenue"))
      .orderBy(col("part_revenue").desc, col("l_partkey").asc)
      .limit(10)
    val w = Window.orderBy(col("part_revenue").desc, col("l_partkey").asc)
    rev.withColumn("rank", row_number().over(w)) // window over 10 rows post-limit
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"), "inner")
      .select(col("rank"), col("p_partkey"), col("p_name"), col("part_revenue"))
      .orderBy("rank")
  }

  /** Share-of-total per nation ("% of total" dashboard metric, `Readme.md:187`):
    * empty-frame window sum for the total, double division rounded at 4dp. */
  def shareOfTotal(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"), "inner")
      .join(Tables.nation(spark, dir), col("c_nationkey") === col("n_nationkey"), "inner")
      .groupBy(col("n_name"))
      .agg(sum(d2(col("o_totalprice"))).as("nrd"))
    val total = Window.partitionBy()
    rev.select(
      col("n_name"),
      col("nrd").cast("double").as("nation_rev"),
      sum(col("nrd")).over(total).cast("double").as("total_rev"))
      .withColumn("pct",
        round(col("nation_rev") * 100.0 / col("total_rev"), 4))
      .orderBy("n_name")
  }

  /** Global sort + limit with deterministic tie-break (SURVEY §2.7). */
  def sortLimit(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(15)
      .select(col("o_orderkey"), col("o_totalprice").as("total"))

  /** Set operations: intersect / except / union (SURVEY §2.7). */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_nationkey").as("nk")).distinct()
    val s = Tables.supplier(spark, dir).select(col("s_nationkey").as("nk")).distinct()
    c.intersect(s).withColumn("tag", lit("both"))
      .union(c.except(s).withColumn("tag", lit("customer_only")))
      .union(s.except(c).withColumn("tag", lit("supplier_only")))
      .orderBy("nk", "tag")
  }

  /** Left-anti join: customers with no orders (SURVEY §2.4 extension forms). */
  def antiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")

  /** Left-outer join + aggregate with null-group coalesce (SURVEY §2.4). */
  def outerJoinAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(sum(d2(col("o_totalprice"))), lit(0)).cast("double").as("lifetime_value"))
      .orderBy("c_custkey")

  /** Global min/max aggregate — the reference's date-spine seed
    * (`spark_jobs/reporting.py:56-63`, SURVEY §2.5 A1). */
  def globalMinMax(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .agg(
        to_date(min(col("o_orderdate"))).as("min_date"),
        to_date(max(col("o_orderdate"))).as("max_date"),
        count(lit(1)).as("n_rows"))

  /** Data-quality gate aggregates — the reference's Airflow/Postgres SQL checks
    * (`Dag/E-commerce_dag.py:22-37`, SURVEY §2.5 A5) moved into the engine. */
  def qualityGate(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .agg(
        count(lit(1)).as("total_rows"),
        sum(when(col("o_custkey").isNull, 1).otherwise(0)).cast("long").as("null_custkey"),
        sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)).cast("long").as("bad_status"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_orderkeys"))

  /** 5-table star join (region⋈nation⋈customer⋈orders⋈lineitem) with a year
    * filter — the multi-join shape the gold layer feeds to Power BI. The two
    * tiny dims broadcast; the orders⋈lineitem join shuffles on the order key. */
  def starJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"), "inner")
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"), "inner")
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"), "inner")
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"), "inner")
      // raw range predicate (not year(...)=1997): pushes into the parquet scan
      // so row-group min/max stats can skip whole groups at scale
      .filter(col("o_orderdate") >= to_timestamp(lit("1997-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("r_name", "n_name")

  /** Date-part extraction over event timestamps (SURVEY §2.8 date/time fns). */
  def datePartsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum2(col("value")).as("day_value"))
      .orderBy("day", "event_type")

  /** Running total window frame (rows unbounded-preceding .. current). */
  def runningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(
        col("o_custkey"), col("o_orderkey"),
        sum(d2(col("o_totalprice"))).over(w).cast("double").as("running_spend"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Range (theta) join against an inline band dimension — the non-equi join
    * form the reference lacks (SURVEY §2.4 "not present"). The band table is a
    * handful of rows → broadcast nested loop, which is the right plan. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(
      ("B1_under10", 0.0, 10.0), ("B2_10to25", 10.0, 25.0),
      ("B3_25to40", 25.0, 40.0), ("B4_40plus", 40.0, 51.0))
      .toDF("band", "lo", "hi")
    Tables.lineitem(spark, dir)
      .join(broadcast(bands), col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"), sum2(col("l_quantity")).as("band_qty"))
      .orderBy("band")
  }

  /** Deterministic surrogate-key dimension build: the reference uses
    * `monotonically_increasing_id()` (`spark_jobs/reporting.py:127-221`), which is
    * partition-dependent; a deterministic engine derives SKs from a total order. */
  def surrogateDim(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("segment"))
    Tables.customer(spark, dir)
      .select(col("c_mktsegment").as("segment"))
      .distinct()
      .withColumn("segment_sk", row_number().over(w))
      .select(col("segment_sk"), col("segment"))
      .orderBy("segment_sk")
  }

  /** JSON extraction from a string column (events.props) — the semi-structured
    * path a training-data pipeline needs for metadata sidecars. get_json_object
    * is a codegen'd built-in; no UDF. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k_val", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        min(col("k_val")).as("min_k"),
        max(col("k_val")).as("max_k"),
        countDistinct(col("k_val")).as("n_distinct_k"))
      .orderBy("event_type")

  /** Two-level grouping-set aggregation over the pair of keys (`a`, `b`),
    * shared by q42 (ROLLUP), q55 (CUBE) and q84 (explicit GROUPING SETS);
    * each query passes its own set list. Output: `a`, `b`, the grouping id
    * `gid` (2·grouping(a) + grouping(b)), the row count `n` and the
    * `measure` sum as double, ordered by (gid, a, b).
    *
    * Why two levels (r13 optimization pass, guide §2.3 "aggregate before you
    * shuffle"): a direct grouping-set aggregate EXPANDs every fact row once
    * per set (3-4× the scan feeding the partial aggregate). The finest set
    * (a, b) determines every coarser one, so aggregate to it FIRST (a plain
    * map-side-combinable groupBy, no Expand) and expand the few-row
    * intermediate. Identical output: the sums re-associate exactly in
    * decimal, and the grouping() bits come from the outer aggregate. */
  private def twoLevelGroupingSets(fact: DataFrame, a: String, b: String,
      sets: Seq[Seq[String]], measure: Column, measureName: String): DataFrame =
    fact.groupBy(col(a), col(b))
      .agg(count(lit(1)).as("n0"), sum(d2(measure)).as("m0"))
      .groupingSets(sets.map(_.map(col)), col(a), col(b))
      .agg(
        (grouping(col(a)) * 2 + grouping(col(b))).cast("long").as("gid"),
        sum(col("n0")).as("n"),
        sum(col("m0")).cast("double").as(measureName))
      .orderBy(col("gid"), col(a), col(b))

  /** ROLLUP grouping sets with an explicit grouping id — subtotals + grand
    * total in one pass (multi-level agg the reference delegates to Power BI). */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    twoLevelGroupingSets(Tables.lineitem(spark, dir), "l_returnflag", "l_linestatus",
      Seq(Seq("l_returnflag", "l_linestatus"), Seq("l_returnflag"), Seq()),
      col("l_quantity"), "qty")

  /** Pivot: order counts per year x status, fixed pivot values so the output
    * schema is static (F/O/P columns). */
  def pivotStatus(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("oyear"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0)
      .orderBy("oyear")

  /** Unpivot (wide → long): the inverse of [[pivotStatus]] — melts the
    * per-status count columns back into (oyear, o_orderstatus, n) rows via
    * `stack` (expression-level row expansion; no shuffle beyond the
    * determinism orderBy). Together the pair closes the reshape surface. */
  def unpivotStatus(spark: SparkSession, dir: String): DataFrame =
    pivotStatus(spark, dir)
      .selectExpr("oyear", "stack(3, 'F', F, 'O', O, 'P', P) AS (o_orderstatus, n)")
      .orderBy("oyear", "o_orderstatus")

  /** Left-semi join: customers with >= 1 order in 1997 (EXISTS form). */
  def semiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(
        Tables.orders(spark, dir).filter(
          col("o_orderdate") >= to_timestamp(lit("1997-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1998-01-01"))),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")

  /** HLL approximate distinct next to the exact count — the sketch-based path
    * for 100 TB cardinality estimation. Raw form (estimate exposed) for
    * `ApproxSpec`; the catalog entry is [[approxDistinct]]. */
  def approxDistinctRaw(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        count(lit(1)).as("n_rows"))

  /** q45 catalog form: the exact columns hash-compare against the DuckDB
    * oracle, and the HLL estimate folds into `approx_ok` — TRUE iff the
    * estimate is within 4×rsd (rsd default 0.05 → 20%) of the exact count,
    * integer arithmetic so the boolean is engine-exact. The oracle asserts
    * literal TRUE: an estimate drifting out of bound FAILS the gate (a
    * sketch-quality regression, which a rows-only check would miss). The
    * bound is 4 standard deviations — rsd is a σ, not a hard bound, so a
    * 2×rsd gate could deterministically fail on a healthy sketch at a new
    * scale factor (~5% of fixtures); 4σ makes a gate failure here a real
    * regression signal. If it ever fires, re-check the raw estimate via
    * [[approxDistinctRaw]] before treating it as a correctness break. The
    * raw estimate itself is bounded in `ApproxSpec`. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    approxDistinctRaw(spark, dir)
      .select(col("n_rows"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts")) * 5 <=
          col("exact_parts")).as("approx_ok"))

  /** Approximate percentiles (the GK-sketch `approx_percentile`) BESIDE the
    * exact order statistics, in an integer cents domain so every value is
    * engine-exact. Raw form for `ApproxSpec`; catalog entry is
    * [[approxPercentiles]]. p45/p55 carry the rank-bound check: GK with
    * accuracy 1000 bounds RANK error at n/1000, so the estimate must land
    * between the exact 45th and 55th percentiles (100× looser). */
  def approxPercentilesRaw(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("cents", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("approx_percentile(cents, 0.5, 1000)").as("approx_cents"),
        expr("percentile(cents, 0.5)").as("exact_cents_dbl"),
        expr("percentile(cents, 0.45)").as("p45"),
        expr("percentile(cents, 0.55)").as("p55"),
        count(lit(1)).as("n"))

  /** q98 catalog form: exact 2×median in cents (BIGINT — the ×2 absorbs the
    * even-count midpoint, and integer cents < 2^52 make Spark's and DuckDB's
    * interpolation bit-identical, so the exact column hash-compares), plus
    * `approx_ok` = GK estimate within the exact [p45, p55] rank band. The
    * oracle asserts literal TRUE — same regression-catching contract as
    * q45. */
  def approxPercentiles(spark: SparkSession, dir: String): DataFrame =
    approxPercentilesRaw(spark, dir)
      .select(col("o_orderstatus"), col("n"),
        expr("CAST(2 * exact_cents_dbl AS BIGINT)").as("median2x_cents"),
        (col("approx_cents") >= col("p45") &&
          col("approx_cents") <= col("p55")).as("approx_ok"))
      .orderBy("o_orderstatus")

  /** Typed JSON parsing (`from_json` → struct field access) — the ingest
    * operator for log/event payloads. One JsonToStructs evaluation parses
    * each payload for ALL fields (q41's `get_json_object` re-parses per
    * path); malformed payloads yield a NULL struct (PERMISSIVE contract),
    * surfaced as `parsed_ok`. Pure projection — no shuffle before the
    * determinism orderBy. */
  def jsonTyped(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("p", from_json(col("props"), "k INT", Map.empty[String, String]))
      .select(col("event_id"), col("event_type"),
        col("p.k").as("k"),
        expr("CAST(p.k div 10 AS INT)").as("k_bucket"),
        col("p.k").isNotNull.as("parsed_ok"))
      .orderBy("event_id")

  /** Top-10 parts via the typed [[graft.functions.TopKAggregator]]: map-side
    * partial top-k merged on the driver side of the agg — no global window
    * sort, only k rows per partition cross the final shuffle. Output-identical
    * to [[topKParts]] (same oracle). */
  def topKPartsAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.{KeyedValue, TopKAggregator}
    val rev = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum2(col("l_extendedprice")).as("part_revenue"))
      .select(col("l_partkey").as("key"), col("part_revenue").as("value"))
      .as[KeyedValue]
    val top = rev.groupByKey(_ => 0)
      .agg(new TopKAggregator(10).toColumn)
      .flatMap(_._2)
      .toDF("l_partkey", "part_revenue")
      .withColumn("rank", row_number().over(
        Window.orderBy(col("part_revenue").desc, col("l_partkey").asc)))
    top.join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"), "inner")
      .select(col("rank"), col("p_partkey"), col("p_name"), col("part_revenue"))
      .orderBy("rank")
  }

  /** Window-function suite over one ordered partition spec: ranking, ntile,
    * distribution, offset functions (SURVEY §2.6 extended coverage). */
  def windowSuite(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(spark, dir)
      .select(
        col("c_nationkey"), col("c_custkey"), col("c_acctbal"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cum_dist"),
        first_value(col("c_custkey")).over(w).as("richest_custkey"),
        lead(col("c_acctbal"), 1).over(w).as("next_bal"),
        lag(col("c_acctbal"), 1).over(w).as("prev_bal"))
      .orderBy("c_nationkey", "rn")
  }

  /** Exact interpolated percentiles (median / p90) per group. */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("median_price"),
        expr("percentile(o_totalprice, 0.9)").as("p90_price"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")

  /** Date arithmetic: add_months (end-of-month clamping), last_day,
    * month truncation, day-of-year. */
  def dateMath(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 37 === 0) // deterministic sample to keep output small
      .select(
        col("o_orderkey"),
        to_date(col("o_orderdate")).as("d"),
        add_months(to_date(col("o_orderdate")), 3).as("plus3m"),
        last_day(to_date(col("o_orderdate"))).as("month_end"),
        trunc(to_date(col("o_orderdate")), "month").as("month_start"),
        dayofyear(col("o_orderdate")).as("doy"))
      .orderBy("o_orderkey")

  /** Collect-and-sort aggregation rendered as a canonical string (array_agg /
    * collect_set + sort + join — the portable form of a list aggregate). */
  def arrayAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"))
      .agg(
        concat_ws(",", sort_array(collect_set(col("c_mktsegment")))).as("segments"),
        countDistinct(col("c_mktsegment")).as("n_segments"))
      .orderBy("c_nationkey")

  /** CUBE grouping sets: all 4 grouping combinations in one pass. */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    twoLevelGroupingSets(Tables.orders(spark, dir), "o_orderstatus", "o_orderpriority",
      Seq(Seq("o_orderstatus", "o_orderpriority"), Seq("o_orderstatus"),
        Seq("o_orderpriority"), Seq()),
      col("o_totalprice"), "total")

  /** SQL-API entry with correlated + uncorrelated scalar subqueries — Catalyst
    * decorrelates the per-customer COUNT into a join; exercised via
    * `spark.sql` over temp views (the engine's SQL front door). */
  def sqlScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer_v")
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT c_custkey, n_orders
        |FROM (SELECT c.c_custkey,
        |        (SELECT COUNT(*) FROM orders_v o WHERE o.o_custkey = c.c_custkey) AS n_orders
        |      FROM customer_v c)
        |WHERE n_orders > (SELECT AVG(cnt) FROM
        |                   (SELECT COUNT(*) AS cnt FROM orders_v GROUP BY o_custkey))
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Explicit GROUPING SETS — the third grouping-sets form beside
    * [[rollupAgg]]/[[cubeAgg]]: an arbitrary, non-hierarchical set list
    * ((returnflag), (linestatus), ()) that neither ROLLUP nor CUBE expresses.
    * Catalyst plans it as one Expand + hash aggregate over the finest-set
    * aggregate — a single pass over lineitem, not one scan per set. */
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame =
    twoLevelGroupingSets(Tables.lineitem(spark, dir), "l_returnflag", "l_linestatus",
      Seq(Seq("l_returnflag"), Seq("l_linestatus"), Seq()),
      col("l_quantity"), "qty")

  /** Value-based RANGE window frame: per-customer trailing-30-day spend.
    * q21's running total is a ROWS frame (physical offsets); this is the
    * event-time-valued frame (logical range over epoch seconds) — the frame a
    * "rolling 30-day revenue" metric actually needs, and it handles
    * same-timestamp peers correctly (all peers join the frame regardless of
    * tie order). One shuffle on the partition key; exact DECIMAL sums. */
  def rangeFrameSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("epoch_s"))
      .rangeBetween(-30L * 86400, 0)
    Tables.orders(spark, dir)
      .withColumn("epoch_s", unix_timestamp(date_trunc("second", col("o_orderdate"))))
      .withColumn("trailing_30d_spend", sum(d2(col("o_totalprice"))).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("d"), col("trailing_30d_spend"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Column names profiled by [[profileOrders]] — shared with the oracle SQL
    * generator so both engines profile the identical column list. */
  val ordersProfileCols: Seq[String] = Seq(
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  /** Data-profiling operator: per-column row/null/distinct counts — the
    * observability query a pipeline runs before trusting a new drop of
    * data. Integer-only output, exact counts.
    *
    * Shape (round 9 — the one-scan multi-countDistinct form was a 24.9×/
    * decade sf100 flag): each column profiles through its OWN two-level
    * aggregate — groupBy(value) with map-side partial aggregation collapses
    * to the column's distinct values per partition BEFORE the exchange,
    * then a 1-row rollup (n_rows = Σ counts, n_nulls = the null group's
    * count, n_distinct = non-null group count). The previous single-pass
    * form Expand-multiplied the scan by (#distinct-aggs + 1) and carried
    * ALL columns' values through ONE partial hash-agg whose working set was
    * ~Σ per-column cardinalities (the unique key column alone made it
    * n rows → spill at 600 M rows). Per-column plans instead each scan ONE
    * parquet column (pruned — the scans together read the same bytes the
    * fused scan did) and keep only that column's values in flight; the
    * union of 1-row aggregates is free. Exactness is column-independent,
    * so there is no cross-column state to lose. */
  def profileOrders(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
    val perCol = ordersProfileCols.map { c =>
      base.select(col(c).as("value"))
        .groupBy(col("value")).agg(count(lit(1)).as("cnt"))
        .agg(
          coalesce(sum(col("cnt")), lit(0L)).as("n_rows"),
          coalesce(sum(when(col("value").isNull, col("cnt"))), lit(0L)).as("n_nulls"),
          count(col("value")).as("n_distinct"))
        .select(lit(c).as("column_name"), col("n_rows").cast("long"),
          col("n_nulls").cast("long"), col("n_distinct").cast("long"))
    }
    perCol.reduce(_ unionByName _).orderBy("column_name")
  }

  /** Generic SCD1 upsert (MERGE INTO semantics on plain tables): source rows
    * replace matching target rows on `key`, unmatched source rows insert,
    * untouched target rows pass through; `action` labels each output row.
    * One full-outer shuffle join on the key — the same cost MERGE pays in any
    * engine; at 100 TB pair it with partition pruning on the target so only
    * affected partitions join (see [[graft.streaming.IncrementalPipeline]]).
    * Source must share the target's schema. */
  def mergeUpsert(target: DataFrame, source: DataFrame, key: String): DataFrame = {
    // a presence marker, not per-column coalesce: MERGE assigns the SOURCE
    // value on a match even when that value is NULL (an update that clears a
    // field) — coalesce would silently keep the stale target value
    val joined = target.alias("t")
      .join(source.withColumn("__src", lit(true)).alias("s"),
        col(s"t.$key") === col(s"s.$key"), "full_outer")
    val merged = target.columns.map(c =>
      when(col("s.__src").isNotNull, col(s"s.$c")).otherwise(col(s"t.$c")).as(c))
    val action = when(col(s"t.$key").isNull, lit("insert"))
      .when(col("s.__src").isNull, lit("keep"))
      .otherwise(lit("update")).as("action")
    joined.select((merged :+ action).toIndexedSeq: _*)
  }

  /** q105 catalog entry: MERGE a deterministic change batch into the customer
    * dim — every 7th key gets an account-balance update, every 13th key
    * re-enters shifted past the keyspace as an insert. */
  def customerMerge(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val updates = cust.filter(col("c_custkey") % 7 === 0)
      .withColumn("c_acctbal", col("c_acctbal") + lit(100.0))
    val inserts = cust.filter(col("c_custkey") % 13 === 0)
      .withColumn("c_custkey", col("c_custkey") + lit(1000000L))
      .withColumn("c_name", concat(lit("NEW_"), col("c_name")))
    mergeUpsert(cust, updates.unionByName(inserts), "c_custkey")
      .orderBy("c_custkey")
  }

  /** SQL API surface (q132): the same engine driven entirely through
    * `spark.sql` over registered views — a SQL-first user needs no DataFrame
    * code (the reference's users write SQL against Postgres; this is that
    * surface on Spark). TPC-H Q3's shipping-priority shape; Catalyst plans
    * it exactly like the DataFrame form — broadcast customer dim, one
    * shuffle on the order key, TakeOrderedAndProject for the top-10 — there
    * is no penalty for choosing the SQL front door. */
  def sqlShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer")
    Tables.orders(spark, dir).createOrReplaceTempView("orders")
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem")
    spark.sql(
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1997-06-30'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin)
  }

  /** JSON schema-drift observability (q136): per event type, the histogram
    * of top-level keys in the raw `props` payloads with each key's coverage
    * share — the monitor that catches a producer adding/dropping/renaming
    * fields before a typed parse (q99) starts silently NULLing. One scan +
    * one explode of the (small) per-row key list + a combinable aggregate;
    * invalid JSON contributes no keys on either engine (NULL key-list
    * explode in Spark; a validity filter in the oracle). On healthy data
    * the histogram is the (stable) schema itself. */
  def jsonKeyHistogram(spark: SparkSession, dir: String): DataFrame = {
    val typed = Tables.events(spark, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_events"))
    Tables.events(spark, dir)
      .select(col("event_type"),
        explode(expr("json_object_keys(props)")).as("json_key"))
      .groupBy(col("event_type"), col("json_key"))
      .agg(count(lit(1)).as("n_with_key"))
      .join(typed, Seq("event_type"))
      .withColumn("coverage_ppm", expr("n_with_key * 1000000L div n_events"))
      .select(col("event_type"), col("json_key"), col("n_with_key"), col("coverage_ppm"))
      .orderBy("event_type", "json_key")
  }

  /** Rolling 7-day distinct users (q133): DAU + WAU per day. A naive rolling
    * COUNT(DISTINCT) re-scans a week of events per day (or worse, windows
    * over the raw stream); the scalable exact form dedups to (day, user)
    * first — the only heavy shuffle, map-side combinable — then EXPLODES each
    * active day into the 7 window anchors it contributes to, turning the
    * sliding window into a plain groupBy. Rows after the dedup are
    * |active-days| × 7, independent of raw event volume — at 100 TB the
    * explode runs over millions of rows, not trillions of events. */
  def rollingDistinctUsers(spark: SparkSession, dir: String): DataFrame = {
    val dayUsers = Tables.events(spark, dir)
      .select(expr("unix_timestamp(ts) div 86400").as("day"), col("user_id"))
      .distinct()
    val dau = dayUsers.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = dayUsers
      .select(explode(expr("sequence(day, day + 6)")).as("day"), col("user_id"))
      .groupBy("day").agg(countDistinct(col("user_id")).as("wau"))
    // inner join restricts the window anchors to days that actually had
    // activity (the +6 explode also lands on post-horizon days)
    dau.join(wau, Seq("day")).orderBy("day")
  }

  /** Equi-depth range bucketing (q153): the bounds computation behind a
    * balanced `repartitionByRange` export, made explicit and auditable.
    * From the (dollar-floor) value histogram of o_totalprice — value-domain
    * cardinality, not row cardinality — the N−1 exact bounds of N = 8
    * buckets are the smallest values whose cumulative count reaches
    * ceil(k·n/N); every
    * histogram row then gets its bucket by counting bounds below its value
    * (N−1 bounds, broadcast), and the output is one row per bucket with its
    * actual range, row count, and share in ppm — the skew audit that tells
    * you whether the planned file layout is balanced BEFORE paying the
    * export shuffle. Spark's own repartitionByRange computes approximate
    * bounds by sampling; this is the exact-arithmetic equivalent, priced in
    * histogram rows. */
  def equiDepthBuckets(spark: SparkSession, dir: String): DataFrame = {
    val nBuckets = 8
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.orders(spark, dir)
      // explicit floor on BOTH engines: a bare double->bigint CAST truncates
      // in Spark but rounds in DuckDB
      .groupBy(expr("CAST(floor(o_totalprice) AS BIGINT)").as("v"))
      .agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the grand total rides the SAME single-partition histogram sort the
    // cumulative sum already pays (an unbounded frame over an identical
    // window spec adds no exchange and no second sort) — round 10 retired
    // the crossJoin(broadcast(hist.agg(...))) whose total branch re-ran the
    // fact-scale histogram lineage as a separate broadcast job (VERDICT r9
    // #4 sweep)
    val wAll = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = hist
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(wAll))
    // bound_k = min v with cum >= ceil(k*n/N), k = 1..N-1
    val bounds = cum
      .crossJoin(broadcast(spark.range(1, nBuckets).toDF("k")))
      .filter(col("cum") * nBuckets >= col("k") * col("n") &&
        (col("cum") - col("c")) * nBuckets < col("k") * col("n"))
      .select(col("k"), col("v").as("bound"))
    val bucketed = cum
      .join(broadcast(bounds.groupBy().agg(
        sort_array(collect_list(col("bound"))).as("bs"))))
      .withColumn("bucket_idx",
        expr("CAST(size(filter(bs, b -> b < v)) AS INT)"))
    bucketed
      .groupBy(col("bucket_idx"), col("n"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
        sum(col("c")).as("n_rows"))
      .withColumn("share_ppm", expr("n_rows * 1000000 div n"))
      .select(col("bucket_idx"), col("lo"), col("hi"), col("n_rows"), col("share_ppm"))
      .orderBy("bucket_idx")
  }

  /** Exact order statistics by VALUE COUNTING (q152): per l_returnflag, the
    * exact lower median and exact p90 of l_quantity — computed from the
    * value histogram, never by sorting rows. One hash aggregate collapses
    * the fact table to (group, value, count) — cardinality |groups| ×
    * |value domain|, independent of row count — and a cumulative window over
    * THAT frame selects the smallest value whose cumulative count reaches
    * the rank threshold. The row-sort alternatives (global sort, or
    * row_number per group as q83 does at dimension scale) shuffle every row;
    * this shuffles the histogram. Thresholds in exact integer arithmetic:
    * lower median rank = (n+1) div 2, p90 rank = ceil(0.9·n) = (9n+9) div 10.
    *
    * The selection windows partition by group and order by value — partition
    * size = value-domain size per group, bounded regardless of scale (for
    * unbounded numeric domains, bucket values first; the mechanism is
    * unchanged). */
  def percentilesByCounting(spark: SparkSession, dir: String): DataFrame =
    percentilesByCountingOn(
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag").as("g"), col("l_quantity").cast("long").as("v")))
      .select(col("g").as("flag"), col("n_rows"),
        col("median_v").as("median_qty"), col("p90_v").as("p90_qty"))
      .orderBy("flag")

  /** The counting-selection mechanism of [[percentilesByCounting]] as a
    * generic operator over any (g: group, v: long) frame — also the
    * property-test surface (PropertySpec checks it against sort-based order
    * statistics on arbitrary multisets). */
  def percentilesByCountingOn(gv: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = gv.groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // both thresholds selected in ONE conditional aggregate over the
    // cumulative histogram — a filter-per-percentile + join would evaluate
    // the fact-scan lineage once per percentile
    hist
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("g"))))
      .groupBy(col("g"), col("n"))
      .agg(
        min(when(col("cum") >= expr("(n + 1) div 2"), col("v"))).as("median_v"),
        min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("v"))).as("p90_v"))
      .select(col("g"), col("n").as("n_rows"), col("median_v"), col("p90_v"))
  }

  /** q194: ANALYZE-style table statistics — per column: non-null count, exact
    * NDV, and natural-ordered min/max (stringified at the boundary) — the
    * stats a cost-based optimizer actually feeds on.
    *
    * Shape (round 10 — the q69 lesson applied before it flags, VERDICT r9
    * #6): each column profiles through its OWN two-level aggregate —
    * groupBy(value) map-side-combines to the column's distinct values per
    * partition BEFORE the exchange, then a 1-row rollup computes
    * n_rows/n_nulls/NDV/min/max from the (value, cnt) histogram. The
    * previous fused form put all four NDVs through ONE Expand aggregate
    * (single scan, 5-way row expansion) whose partial-agg working set was
    * ~Σ per-column cardinalities — the unique o_orderkey alone made it
    * n rows in flight, the exact working set that spilled q69 at 600 M rows
    * (sf100 measured 10.9×/decade, first in line to breach at sf300).
    * Per-column plans each scan ONE parquet column (pruned — together they
    * read the same bytes the fused scan did, trading k footer reads for a
    * per-partition working set of one column's values), and min/max ride
    * the same grouped frame free. Exactness is column-independent — no
    * cross-column state exists to lose; the union of 1-row rollups is
    * driver-trivial. */
  def columnStats(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
    val cols = Seq("o_orderstatus", "o_orderpriority", "o_custkey", "o_orderkey")
    cols.map { c =>
      base.select(col(c).as("value"))
        .groupBy(col("value")).agg(count(lit(1)).as("cnt"))
        .agg(
          coalesce(sum(col("cnt")), lit(0L)).as("n_rows"),
          coalesce(sum(when(col("value").isNull, col("cnt"))), lit(0L)).as("n_nulls"),
          count(col("value")).as("ndv"),
          min(col("value")).cast("string").as("min_val"),
          max(col("value")).cast("string").as("max_val"))
        .select(lit(c).as("column_name"), col("n_rows").cast("long"),
          col("n_nulls").cast("long"), col("ndv").cast("long"),
          col("min_val"), col("max_val"))
    }.reduce(_ unionByName _).orderBy("column_name")
  }
}
