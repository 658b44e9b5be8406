package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.RelOps

/** One named query per implemented operator (SURVEY.md §2), with the equivalent
  * ANSI SQL the driver runs in DuckDB over the same parquet tables.
  *
  * Conventions that make the hash-compare deterministic (SURVEY §7.4):
  *  - money aggregates cast element-wise to DECIMAL(18,2) before summing
  *    (exact, order-independent in both engines — see [[graft.engine.Dec]]);
  *  - integer-typed derived columns pinned to INT/BIGINT on both sides;
  *  - every ranked/limited output carries a full tie-break ordering;
  *  - no monotonically_increasing_id / current_timestamp / nondeterministic first().
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Catalog {

  private def q(name: String, run: (SparkSession, String) => DataFrame, sql: String) =
    QueryDef(name, run, Some(sql))

  /** Morton bit-interleave of (c_custkey, c_nationkey), generated to mirror
    * [[engine.Layout.zValue]] bit-for-bit (16 bits per dimension). Defined
    * before [[relational]], which interpolates it at object init. */
  private val zorderExpr: String = (0 until 16).map { i =>
    s"(((c_custkey >> $i) & 1) * ${1L << (2 * i + 1)} + ((c_nationkey >> $i) & 1) * ${1L << (2 * i)})"
  }.mkString(" + ")

  val relational: Seq[QueryDef] = Seq(
    q("q01_pricing_summary", RelOps.pricingSummary,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-01-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    q("q02_filter_project", RelOps.filterProject,
      """SELECT o_orderkey AS okey, o_custkey AS ckey,
        |  o_totalprice AS total,
        |  CAST(year(o_orderdate) AS INT) AS oyear
        |FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 100000.0
        |ORDER BY okey""".stripMargin),

    q("q03_per_order_agg_join", RelOps.perOrderAggJoin,
      """SELECT o_orderkey, o_custkey,
        |  o_totalprice AS total,
        |  order_revenue, n_items, last_ship
        |FROM orders
        |JOIN (SELECT l_orderkey,
        |        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS order_revenue,
        |        COUNT(*) AS n_items,
        |        MAX(l_shipdate) AS last_ship
        |      FROM lineitem GROUP BY l_orderkey) li
        |  ON o_orderkey = li.l_orderkey
        |ORDER BY o_orderkey""".stripMargin),

    q("q04_dedup_keyed", RelOps.dedupKeyed,
      """SELECT o_custkey, o_orderkey AS first_orderkey, o_orderdate AS first_orderdate
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin),

    q("q05_distinct", RelOps.distinctRows,
      """SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin),

    q("q06_date_spine", RelOps.dateSpine,
      """WITH b AS (SELECT CAST(min(o_orderdate) AS DATE) AS mn, CAST(max(o_orderdate) AS DATE) AS mx FROM orders),
        |s AS (SELECT CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS d FROM b)
        |SELECT CAST(strftime(d, '%Y%m%d') AS INT) AS date_sk,
        |  d AS date,
        |  CAST(year(d) AS INT) AS year, CAST(month(d) AS INT) AS month,
        |  CAST(quarter(d) AS INT) AS quarter, CAST(day(d) AS INT) AS day_of_month,
        |  CAST(week(d) AS INT) AS week_of_year,
        |  monthname(d) AS month_name, dayname(d) AS day_name,
        |  isodow(d) IN (6, 7) AS is_weekend
        |FROM s ORDER BY date_sk""".stripMargin),

    q("q07_when_chain", RelOps.whenChainClassifier,
      """SELECT CASE WHEN l_quantity < 10 THEN 'XS'
        |            WHEN l_quantity < 25 THEN 'S'
        |            WHEN l_quantity < 40 THEN 'M'
        |            ELSE 'L' END AS qty_band,
        |  l_returnflag, COUNT(*) AS n
        |FROM lineitem WHERE l_returnflag IN ('A', 'N')
        |GROUP BY qty_band, l_returnflag
        |ORDER BY qty_band, l_returnflag""".stripMargin),

    q("q08_string_funcs", RelOps.stringFuncs,
      """SELECT p_partkey,
        |  upper(p_name) AS uname,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded,
        |  p_brand || ':' || p_type AS brand_type,
        |  regexp_replace(p_name, ' ', '_', 'g') AS snake,
        |  substring(p_name, 1, 3) AS prefix3
        |FROM part ORDER BY p_partkey""".stripMargin),

    q("q09_regex_filter", RelOps.regexFilter,
      """SELECT p_brand, COUNT(*) AS n_clean
        |FROM part
        |WHERE regexp_matches(p_name, '^[a-z]+ [a-z]+$')
        |  AND NOT regexp_matches(p_type, '[^A-Z ]')
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin),

    q("q10_yoy_window", RelOps.yoyRevenue,
      """WITH yearly AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS oyear,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |  FROM orders GROUP BY oyear)
        |SELECT oyear, revenue,
        |  lag(revenue, 1) OVER (ORDER BY oyear) AS prev_revenue,
        |  revenue - lag(revenue, 1) OVER (ORDER BY oyear) AS yoy_diff
        |FROM yearly ORDER BY oyear""".stripMargin),

    q("q11_topk_parts", RelOps.topKParts,
      """WITH rev AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_revenue
        |  FROM lineitem GROUP BY l_partkey),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY part_revenue DESC, l_partkey) AS INT) AS rank
        |  FROM rev)
        |SELECT rank, p_partkey, p_name, part_revenue
        |FROM ranked JOIN part ON l_partkey = p_partkey
        |WHERE rank <= 10 ORDER BY rank""".stripMargin),

    q("q12_share_of_total", RelOps.shareOfTotal,
      """WITH rev AS (
        |  SELECT n_name,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS nrd
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name)
        |SELECT n_name,
        |  CAST(nrd AS DOUBLE) AS nation_rev,
        |  CAST(SUM(nrd) OVER () AS DOUBLE) AS total_rev,
        |  round(CAST(nrd AS DOUBLE) * 100.0 / CAST(SUM(nrd) OVER () AS DOUBLE), 4) AS pct
        |FROM rev ORDER BY n_name""".stripMargin),

    q("q13_sort_limit", RelOps.sortLimit,
      """SELECT o_orderkey, o_totalprice AS total
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin),

    q("q14_set_ops", RelOps.setOps,
      """WITH c AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
        |s AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
        |SELECT nk, 'both' AS tag FROM (SELECT nk FROM c INTERSECT SELECT nk FROM s)
        |UNION ALL
        |SELECT nk, 'customer_only' AS tag FROM (SELECT nk FROM c EXCEPT SELECT nk FROM s)
        |UNION ALL
        |SELECT nk, 'supplier_only' AS tag FROM (SELECT nk FROM s EXCEPT SELECT nk FROM c)
        |ORDER BY nk, tag""".stripMargin),

    q("q15_anti_join", RelOps.antiJoin,
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    q("q16_outer_join_agg", RelOps.outerJoinAgg,
      """SELECT c_custkey,
        |  COUNT(o_orderkey) AS n_orders,
        |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS lifetime_value
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),

    q("q17_global_minmax", RelOps.globalMinMax,
      """SELECT CAST(min(o_orderdate) AS DATE) AS min_date,
        |  CAST(max(o_orderdate) AS DATE) AS max_date,
        |  COUNT(*) AS n_rows
        |FROM orders""".stripMargin),

    q("q18_quality_gate", RelOps.qualityGate,
      """SELECT COUNT(*) AS total_rows,
        |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
        |  CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
        |  COUNT(*) - COUNT(DISTINCT o_orderkey) AS dup_orderkeys
        |FROM orders""".stripMargin),

    q("q19_star_join", RelOps.starJoin,
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin),

    q("q20_date_parts", RelOps.datePartsAgg,
      """SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
        |FROM events GROUP BY day, event_type ORDER BY day, event_type""".stripMargin),

    q("q21_running_total", RelOps.runningTotal,
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    q("q22_range_join", RelOps.rangeJoin,
      """SELECT band, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS band_qty
        |FROM lineitem
        |JOIN (VALUES ('B1_under10', 0.0, 10.0), ('B2_10to25', 10.0, 25.0),
        |             ('B3_25to40', 25.0, 40.0), ('B4_40plus', 40.0, 51.0)) AS b(band, lo, hi)
        |  ON l_quantity >= lo AND l_quantity < hi
        |GROUP BY band ORDER BY band""".stripMargin),

    q("q23_surrogate_dim", RelOps.surrogateDim,
      """SELECT CAST(row_number() OVER (ORDER BY segment) AS INT) AS segment_sk, segment
        |FROM (SELECT DISTINCT c_mktsegment AS segment FROM customer)
        |ORDER BY segment_sk""".stripMargin),

    q("q56_scalar_subquery", RelOps.sqlScalarSubquery,
      """SELECT c_custkey, n_orders
        |FROM (SELECT c.c_custkey,
        |        (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
        |      FROM customer c)
        |WHERE n_orders > (SELECT AVG(cnt) FROM
        |                   (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_custkey))
        |ORDER BY c_custkey""".stripMargin),

    q("q55_cube", RelOps.cubeAgg,
      """SELECT
        |  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
        |  o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin),

    q("q49_window_suite", RelOps.windowSuite,
      """SELECT c_nationkey, c_custkey, c_acctbal,
        |  CAST(row_number() OVER w AS INT) AS rn,
        |  CAST(rank() OVER w AS INT) AS rnk,
        |  CAST(dense_rank() OVER w AS INT) AS drnk,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cum_dist,
        |  first_value(c_custkey) OVER w AS richest_custkey,
        |  lead(c_acctbal, 1) OVER w AS next_bal,
        |  lag(c_acctbal, 1) OVER w AS prev_bal
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_nationkey, rn""".stripMargin),

    q("q50_percentiles", RelOps.percentiles,
      """SELECT o_orderstatus,
        |  quantile_cont(o_totalprice, 0.5) AS median_price,
        |  quantile_cont(o_totalprice, 0.9) AS p90_price,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    q("q51_date_math", RelOps.dateMath,
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) AS d,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month_start,
        |  CAST(dayofyear(o_orderdate) AS INT) AS doy
        |FROM orders WHERE o_orderkey % 37 = 0 ORDER BY o_orderkey""".stripMargin),

    q("q52_array_agg", RelOps.arrayAgg,
      """SELECT c_nationkey,
        |  array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
        |  COUNT(DISTINCT c_mktsegment) AS n_segments
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),

    q("q41_json_extract", RelOps.jsonExtract,
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(min(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS min_k,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k,
        |  COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS INT)) AS n_distinct_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    q("q42_rollup", RelOps.rollupAgg,
      """SELECT
        |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        |  l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin),

    q("q43_pivot", RelOps.pivotStatus,
      """SELECT CAST(year(o_orderdate) AS INT) AS oyear,
        |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
        |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
        |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
        |FROM orders GROUP BY oyear ORDER BY oyear""".stripMargin),

    q("q44_semi_join", RelOps.semiJoin,
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey
        |                AND o_orderdate >= TIMESTAMP '1997-01-01'
        |                AND o_orderdate < TIMESTAMP '1998-01-01')
        |ORDER BY c_custkey""".stripMargin),

    // Approximate sketches, made oracle-checkable (round 7): the exact
    // columns hash-compare and the estimate folds into an engine-computed
    // bound boolean the oracle asserts as literal TRUE — an estimate
    // drifting out of bound now FAILS the gate instead of hiding behind a
    // rows-only check. Raw estimates are additionally bounded in ApproxSpec.
    q("q45_approx_distinct", RelOps.approxDistinct,
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  TRUE AS approx_ok
        |FROM lineitem""".stripMargin),

    q("q98_approx_percentile", RelOps.approxPercentiles,
      """WITH c AS (SELECT o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(2 * quantile_cont(cents, 0.5) AS BIGINT) AS median2x_cents,
        |  TRUE AS approx_ok
        |FROM c GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // Typed JSON parsing (from_json -> struct): one parse for all fields,
    // NULL-struct PERMISSIVE contract for malformed payloads. The oracle
    // guards with json_valid + TRY_CAST so a malformed payload yields NULL
    // (as Spark does) instead of erroring the whole query; the residual
    // divergence — Spark's strict typing rejects {"k": "12"} where SQL CAST
    // coerces — cannot occur on integer-typed payloads and the NULL contract
    // itself is unit-tested engine-side (SinksSpec).
    q("q99_json_typed", RelOps.jsonTyped,
      """WITH p AS (SELECT event_id, event_type,
        |    CASE WHEN json_valid(props)
        |         THEN TRY_CAST(json_extract_string(props, '$.k') AS INT) END AS k
        |  FROM events)
        |SELECT event_id, event_type, k,
        |  CAST(k // 10 AS INT) AS k_bucket,
        |  k IS NOT NULL AS parsed_ok
        |FROM p ORDER BY event_id""".stripMargin),

    // Data-profiling observability: per-column counts, oracle generated from
    // the same shared column list.
    q("q69_profile", RelOps.profileOrders,
      RelOps.ordersProfileCols.map(c =>
        s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($c) AS n_nulls,
           |  COUNT(DISTINCT $c) AS n_distinct FROM orders""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")),

    q("q48_topk_aggregator", RelOps.topKPartsAgg,
      """WITH rev AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_revenue
        |  FROM lineitem GROUP BY l_partkey),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY part_revenue DESC, l_partkey) AS INT) AS rank
        |  FROM rev)
        |SELECT rank, p_partkey, p_name, part_revenue
        |FROM ranked JOIN part ON l_partkey = p_partkey
        |WHERE rank <= 10 ORDER BY rank""".stripMargin),

    // Explicit GROUPING SETS (the non-hierarchical form ROLLUP/CUBE can't
    // express): one Expand + single hash-agg pass.
    q("q84_grouping_sets", RelOps.groupingSetsAgg,
      """SELECT CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        |  l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin),

    // Value-based RANGE frame (trailing 30 days by event time, peers
    // included regardless of tie order) — q21 covers the ROWS form.
    q("q89_range_frame", RelOps.rangeFrameSum,
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY CAST(epoch(date_trunc('second', o_orderdate)) AS BIGINT)
        |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_30d_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),

    // Unpivot (wide -> long): inverse of q43's pivot via stack().
    q("q96_unpivot", RelOps.unpivotStatus,
      """WITH p AS (SELECT CAST(year(o_orderdate) AS INT) AS oyear,
        |    COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS f,
        |    COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS o,
        |    COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS p
        |  FROM orders GROUP BY oyear)
        |SELECT oyear, 'F' AS o_orderstatus, f AS n FROM p
        |UNION ALL SELECT oyear, 'O', o FROM p
        |UNION ALL SELECT oyear, 'P', p FROM p
        |ORDER BY oyear, o_orderstatus""".stripMargin),

    // Z-order (Morton) clustering keys — multi-dimensional data layout for
    // parquet min/max skipping on BOTH interleaved columns (engine.Layout).
    q("q82_zorder_keys", engine.Layout.zorderKeys,
      s"""SELECT c_custkey, c_nationkey,
         |  CAST($zorderExpr AS BIGINT) AS zval
         |FROM customer ORDER BY c_custkey""".stripMargin),
  )

  // ---------------------------------------------------------------------------
  // Extension operators: text analysis / dedup / similarity / event-time
  // (the training-data-pipeline surface; see ext/ and streaming/ packages)
  // ---------------------------------------------------------------------------

  /** Shared DuckDB CTE: distinct 3-word shingles per doc (mirrors Dedup.shingles:
    * 1-based list indexing, list_distinct before unnest). */
  private val shingleCte =
    """d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
      |       WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(words) - 1),
      |         i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS sh FROM d)""".stripMargin

  /** Shared DuckDB CTE: MinHash band hashes (mirrors Dedup.minhashBands —
    * same universal-hash seeds, same 28-bit md5-prefix base hash). */
  private val bandsCte = {
    val sigLines = ext.Dedup.seedsAB.zipWithIndex
      .map { case ((a, b), i) => s"  min((h * $a + $b) % ${ext.Dedup.P}) AS s$i" }
      .mkString(",\n")
    val bandLines = (0 until 6)
      .map(j => s"  s${2 * j} * ${ext.Dedup.P} + s${2 * j + 1} AS band$j")
      .mkString(",\n")
    s"""$shingleCte,
       |hashed AS (SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 7)) AS BIGINT) AS h FROM sh),
       |sig AS (SELECT doc_id,
       |$sigLines
       |FROM hashed GROUP BY doc_id),
       |wide AS (SELECT doc_id,
       |$bandLines
       |FROM sig),
       |bands AS (SELECT doc_id, CAST(unnest(range(0, 6)) AS INT) AS band_idx,
       |  unnest([band0, band1, band2, band3, band4, band5]) AS band_hash FROM wide)""".stripMargin
  }

  /** DuckDB 16-bit SimHash SQL, generated to mirror Dedup.simhash bit-for-bit. */
  /** SimHash CTE chain (terminal CTE `simh`: doc_id, simhash16), named to
    * coexist with [[bandsCte]] in one WITH clause (q167/q168 combine both
    * near-dup signals); [[simhashSql]] (q30) is the same chain selected. */
  private val simhashCte: String = {
    val bitSums = (0 until 16)
      .map(b => s"  SUM(CASE WHEN (h16 >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS bit$b")
      .mkString(",\n")
    val sig = (0 until 16)
      .map(b => s"(CASE WHEN bit$b > 0 THEN ${1 << b} ELSE 0 END)")
      .mkString(" + ")
    s"""smt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |smh AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 4)) AS BIGINT) AS h16 FROM smt),
       |smb AS (SELECT doc_id,
       |$bitSums
       |FROM smh GROUP BY doc_id),
       |simh AS (SELECT doc_id, CAST($sig AS INT) AS simhash16 FROM smb)""".stripMargin
  }

  private val simhashSql: String =
    s"WITH $simhashCte\nSELECT doc_id, simhash16 FROM simh ORDER BY doc_id"

  /** 60-bit SimHash CTE chain (terminal CTE `sim60`) mirroring
    * Dedup.simhash60 bit-for-bit: 15 md5 hex digits per token (60 bits —
    * positive in a signed BIGINT in both engines). */
  private val simhash60Cte: String = {
    val bitSums = (0 until 60)
      .map(b => s"  SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS bit$b")
      .mkString(",\n")
    val sig = (0 until 60)
      .map(b => s"(CASE WHEN bit$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""s60t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |s60h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM s60t),
       |s60b AS (SELECT doc_id,
       |$bitSums
       |FROM s60h GROUP BY doc_id),
       |sim60 AS (SELECT doc_id, CAST($sig AS BIGINT) AS sig FROM s60b)""".stripMargin
  }

  /** Shared DuckDB CTE: embeddings as double lists + L2 norm + LSH bucket
    * (mirrors Similarity.vecs / Similarity.lshBuckets). The sum carries all
    * 20 possible plane bits (the law's cap); masking the low `np` bits
    * (`lshpl` in [[vecsCte]] — the same exact-integer bit_length law as
    * `Similarity.lshPlanesFor`) is identical to bucketing with the first
    * `np` planes, because bit p of the bucket IS plane p. */
  private val lshBucketExpr: String = (0 until 20).map { p =>
    s"(CASE WHEN list_sum(list_transform(range(1, len(v) + 1), d -> v[d] * " +
      s"(CASE WHEN CAST(('0x' || substr(md5('$p' || ',' || CAST(d AS VARCHAR)), 32, 1)) AS BIGINT) % 2 = 1 " +
      s"THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END))) > 0 THEN ${1L << p} ELSE 0 END)"
  }.mkString("(", " + ", ") % (SELECT CAST(1 AS BIGINT) << np FROM lshpl)")

  private val vecsCte =
    """e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
      |lshpl AS (SELECT GREATEST(8, LEAST(20,
      |    CASE WHEN m <= 1 THEN 0 ELSE length(bin(m - 1)) END)) AS np
      |  FROM (SELECT CAST((COUNT(*) + 255) // 256 AS BIGINT) AS m FROM e))""".stripMargin

  /** DuckDB k-means CTE chain (mirrors Similarity.kmeansStatePath, 2 Lloyd
    * rounds unrolled): quantize to exact integers (floor of a power-of-two
    * multiply — bit-identical across IEEE engines), seed on
    * vec_id % max(61, ⌊√n⌋) — the same corpus-adaptive law as the engine
    * (cell count ≈ √n; the 61 floor keeps small fixtures on the original
    * sample, so sf0.01 results are unchanged) — assign by integer squared
    * distance with (dist, cid) tie-break, update by floor(sum/count) of
    * exact-in-double integer sums. */
  private def kmAssign(prev: String, out: String): String =
    s"""$out AS (SELECT vec_id, q, cid FROM (
       |        SELECT n.vec_id, n.q, c.cid,
       |          row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |            list_sum(list_transform(list_zip(n.q, c.cq), z -> (z[1]-z[2])*(z[1]-z[2]))), c.cid) AS rn
       |        FROM kn n CROSS JOIN $prev c) WHERE rn = 1)""".stripMargin

  private def kmUpdate(prev: String, out: String): String =
    s"""$out AS (SELECT cid, CAST(t.d AS INT) AS dim, COUNT(*) AS n_vecs,
       |         CAST(floor(CAST(SUM(q[CAST(t.d AS INT)]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS comp
       |       FROM $prev, LATERAL (SELECT unnest(range(1, len(q) + 1)) AS d) t
       |       GROUP BY cid, dim)""".stripMargin

  /** Shared SCD2-history CTE (q113/q211): full customer history after one
    * update application — `kept` carries closed + unchanged rows, `newv` the
    * new versions and inserts. */
  private val scd2Cte: String =
    """cur AS (SELECT c_custkey, c_mktsegment, DATE '2020-01-01' AS effective_date,
      |                    CAST(NULL AS DATE) AS end_date, TRUE AS is_current FROM customer),
      |upd AS (SELECT c_custkey AS u_key,
      |          CASE WHEN c_custkey % 5 = 0 THEN 'SEG_CHANGED' ELSE c_mktsegment END AS u_seg
      |        FROM customer WHERE c_custkey % 11 <> 0
      |        UNION ALL
      |        SELECT c_custkey + 1000000, c_mktsegment FROM customer WHERE c_custkey % 13 = 0),
      |j AS (SELECT cur.c_custkey AS k, cur.c_mktsegment AS seg,
      |             cur.effective_date, cur.end_date, upd.u_key, upd.u_seg
      |      FROM cur FULL OUTER JOIN upd ON cur.c_custkey = upd.u_key),
      |kept AS (
      |  SELECT k AS c_custkey, seg AS c_mktsegment, effective_date,
      |    CASE WHEN u_key IS NULL OR NOT (seg IS NOT DISTINCT FROM u_seg)
      |         THEN DATE '2020-06-15' ELSE DATE '2099-12-31' END AS end_date,
      |    NOT (u_key IS NULL OR NOT (seg IS NOT DISTINCT FROM u_seg)) AS is_current
      |  FROM j WHERE k IS NOT NULL),
      |newv AS (
      |  SELECT u_key AS c_custkey, u_seg AS c_mktsegment,
      |    DATE '2020-06-15' AS effective_date,
      |    DATE '2099-12-31' AS end_date, TRUE AS is_current
      |  FROM j
      |  WHERE u_key IS NOT NULL AND (k IS NULL OR NOT (seg IS NOT DISTINCT FROM u_seg)))""".stripMargin

  private val kmCte: String =
    s"""kn AS (SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS q
       |       FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, q AS cq FROM kn
       |       WHERE vec_id % (SELECT greatest(CAST(61 AS BIGINT),
       |         CAST(floor(sqrt(COUNT(*))) AS BIGINT)) FROM kn) = 0),
       |${kmAssign("c0", "a1")},
       |${kmUpdate("a1", "u1")},
       |c1 AS (SELECT cid, list(comp ORDER BY dim) AS cq FROM u1 GROUP BY cid),
       |${kmAssign("c1", "a2")},
       |${kmUpdate("a2", "u2")}""".stripMargin

  /** DuckDB BPE round (mirrors TextStats.bpeMerges): weighted adjacent-pair
    * count over the spaced dictionary, argmax with (freq DESC, pair) order,
    * dictionary rewrite by literal replace. */
  private def bpeRound(prev: String, k: Int): String =
    s"""p$k AS (SELECT t.a, t.b, CAST(SUM(cnt) AS BIGINT) AS freq
       |       FROM (SELECT string_split(trim(sp), '  ') AS syms, cnt FROM $prev) s,
       |            LATERAL (SELECT unnest(list_transform(range(1, len(syms)), i -> syms[i])) AS a,
       |                            unnest(list_transform(range(1, len(syms)), i -> syms[i+1])) AS b) t
       |       GROUP BY t.a, t.b),
       |b$k AS (SELECT a, b, a || ' ' || b AS pair, freq FROM p$k
       |        ORDER BY freq DESC, pair LIMIT 1),
       |w$k AS (SELECT replace(sp, ' ' || b$k.a || '  ' || b$k.b || ' ',
       |                       ' ' || b$k.a || b$k.b || ' ') AS sp, cnt
       |        FROM $prev, b$k
       |        UNION ALL
       |        SELECT sp, cnt FROM $prev
       |        WHERE NOT EXISTS (SELECT 1 FROM b$k))""".stripMargin

  // symbol-boundary-safe spaced form (mirrors TextStats.bpeMerges): symbols
  // joined by DOUBLE spaces with single-space end padding, so the merge
  // pattern " a  b " only matches complete symbols and its replacement
  // " ab " keeps the invariant for consecutive merges
  private val bpeCte: String =
    s"""v AS (SELECT w, COUNT(*) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) WHERE len(w) > 0 GROUP BY w),
       |w0 AS (SELECT ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS sp, cnt FROM v),
       |${bpeRound("w0", 1)},
       |${bpeRound("w1", 2)},
       |${bpeRound("w2", 3)}""".stripMargin

  /** DuckDB per-plane projection (mirrors Similarity.lshProjections — the
    * signed sum BEFORE the sign is taken, which multi-probe needs). */
  private def lshProjSql(p: Int): String =
    s"list_sum(list_transform(range(1, len(v) + 1), d -> v[d] * " +
      s"(CASE WHEN CAST(('0x' || substr(md5('$p' || ',' || CAST(d AS VARCHAR)), 32, 1)) AS BIGINT) % 2 = 1 " +
      s"THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)))"

  /** Oracle-side stopword set, generated from the SAME list the engine uses
    * ([[ext.TextStats.stopWords]]) so the gate/capstone thresholds cannot
    * drift between engines. */
  private val stop9 = ext.TextStats.stopWords.map(w => s"'$w'").mkString("(", ",", ")")

  /** BM25 oracle fragments generated from the SAME fixed query-term list the
    * engine scores ([[ext.TextStats.Bm25QueryTerms]]): the IN-set, one pivot
    * column per term, and the fixed-order left-assoc sum — so the oracle adds
    * the per-term doubles in exactly the order the engine does. */
  private val bm25Terms =
    ext.TextStats.Bm25QueryTerms.map(t => s"'$t'").mkString("(", ", ", ")")
  private val bm25PivotSql = ext.TextStats.Bm25QueryTerms
    .map(t => s"          max(CASE WHEN term = '$t' THEN term_score END) AS s_$t")
    .mkString(",\n")
  private val bm25SumSql = ext.TextStats.Bm25QueryTerms
    .map(t => s"coalesce(s_$t, 0.0)").mkString(" + ")

  /** Content-addressed split CASE over an id expression, generated from the
    * SAME band constants the engine uses ([[ext.TextStats.TrainUpper]]/
    * [[ext.TextStats.ValUpper]]). */
  private def splitCaseSql(idExpr: String): String =
    s"(CASE WHEN CAST(('0x' || substr(md5(CAST($idExpr AS VARCHAR)), 1, 7)) AS BIGINT) % 100 < ${ext.TextStats.TrainUpper} THEN 'train' " +
      s"WHEN CAST(('0x' || substr(md5(CAST($idExpr AS VARCHAR)), 1, 7)) AS BIGINT) % 100 < ${ext.TextStats.ValUpper} THEN 'val' " +
      "ELSE 'test' END)"

  /** Shared DuckDB chunking fragment (mirrors TextStats.chunkDocs: 64-token
    * chunks, stride 32, chunk starts stop once a start no longer extends
    * past the previous chunk's end — no strict-subset tail chunk). One
    * definition feeds q88 and the q100 capstone so the window arithmetic
    * cannot drift between them. `docsRel` must expose (doc_id, text). */
  private def chunkSql(docsRel: String): String =
    s"""cw AS (SELECT doc_id, string_split(text, ' ') AS words FROM $docsRel),
       |chx AS (SELECT doc_id, CAST(t.i AS INT) AS chunk_idx,
       |        words[(CAST(t.i AS INT) * 32 + 1):(CAST(t.i AS INT) * 32 + 64)] AS chunk
       |      FROM cw, LATERAL (SELECT unnest(range(0, greatest(0, (len(words) - 64 + 31) // 32) + 1)) AS i) t)
       |SELECT doc_id, chunk_idx, CAST(len(chunk) AS INT) AS n_chunk_tokens,
       |  md5(array_to_string(chunk, ' ')) AS chunk_md5
       |FROM chx ORDER BY doc_id, chunk_idx""".stripMargin

  /** Shared DuckDB CTE fragment: per-vector SQ8 codes (mirrors
    * Similarity.sq8CodesExpr — floor + clamp, all-zero for flat vectors).
    * Expects `v` (list<double>), `mn`, `mx` in scope. */
  private val sq8CodesSql =
    "list_transform(v, x -> CASE WHEN mx = mn THEN 0 " +
      "ELSE CAST(least(floor((x - mn) * 255.0 / (mx - mn)), 255.0) AS INT) END)"

  val extension: Seq[QueryDef] = Seq(
    q("q24_token_stats", ext.TextStats.tokenStats,
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_actual,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
        |  CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
        |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digits,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),

    q("q25_lang_id", ext.TextStats.langId,
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
        |SELECT doc_id,
        |  CAST(len(list_filter(words, w -> w IN ('the','a','of','and','is','to','in'))) AS BIGINT) AS en_markers,
        |  CAST(len(list_filter(words, w -> w IN ('el','la','de','y','que','los'))) AS BIGINT) AS es_markers,
        |  CAST(len(list_filter(words, w -> w IN ('le','la','de','et','les','des'))) AS BIGINT) AS fr_markers,
        |  CASE WHEN en_markers >= es_markers AND en_markers >= fr_markers AND en_markers > 0 THEN 'en'
        |       WHEN es_markers >= fr_markers AND es_markers > 0 THEN 'es'
        |       WHEN fr_markers > 0 THEN 'fr'
        |       ELSE 'unknown' END AS predicted_lang
        |FROM t ORDER BY doc_id""".stripMargin),

    q("q26_quality_score", ext.TextStats.qualityScore,
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents)
         |SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(words) AS BIGINT) AS n_tokens,
         |  CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
         |  CAST(len(list_filter(words, w -> w IN $stop9)) AS BIGINT) AS n_stopwords,
         |  n_chars >= 100 AND n_chars <= 20000 AS len_ok,
         |  n_tokens >= 20 AS tokens_ok,
         |  n_stopwords > 0 AS has_stopwords,
         |  len_ok AND tokens_ok AND has_stopwords AS passes_quality
         |FROM t ORDER BY doc_id""".stripMargin),

    q("q27_dedup_exact", ext.TextStats.exactDedup,
      """SELECT fp, min(doc_id) AS survivor_doc_id, COUNT(*) AS n_copies
        |FROM (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |      FROM documents)
        |GROUP BY fp ORDER BY survivor_doc_id""".stripMargin),

    q("q28_minhash_bands", ext.Dedup.minhashBands,
      s"""WITH $bandsCte
         |SELECT doc_id, band_idx, band_hash FROM bands ORDER BY doc_id, band_idx""".stripMargin),

    q("q29_minhash_pairs", (s, d) => ext.Dedup.minhashCandidatePairs(s, d),
      s"""WITH $bandsCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
         |FROM bands a JOIN bands b
         |  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""".stripMargin),

    q("q30_simhash", ext.Dedup.simhash, simhashSql),

    q("q31_ngram_jaccard", ext.Dedup.ngramJaccardPairs,
      s"""WITH $shingleCte,
         |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sh AS n_a, b.n_sh AS n_b
         |          FROM counts a JOIN counts b ON b.doc_id = a.doc_id + 1),
         |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
         |           FROM sh a JOIN sh b ON a.sh = b.sh AND b.doc_id = a.doc_id + 1
         |           GROUP BY doc_a, doc_b)
         |SELECT p.doc_a, p.doc_b, p.n_a, p.n_b, COALESCE(c.n_common, 0) AS n_common,
         |  CAST(COALESCE(c.n_common, 0) AS DOUBLE) /
         |    CAST(p.n_a + p.n_b - COALESCE(c.n_common, 0) AS DOUBLE) AS jaccard
         |FROM pairs p LEFT JOIN common c ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
         |ORDER BY p.doc_a""".stripMargin),

    q("q32_cosine_topk", (s, d) => ext.Similarity.cosineTopK(s, d),
      s"""WITH $vecsCte,
         |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 20),
         |p AS (SELECT query_id, c.vec_id AS neighbor_id,
         |        list_sum(list_transform(list_zip(qv, c.v), z -> z[1] * z[2])) / (qn * c.nrm) AS cos
         |      FROM q CROSS JOIN n c WHERE c.vec_id <> query_id),
         |r AS (SELECT query_id, neighbor_id, cos,
         |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
         |      FROM p)
         |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos_sim
         |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    q("q33_lsh_buckets", ext.Similarity.lshBucketStats,
      s"""WITH $vecsCte,
         |b AS (SELECT vec_id, CAST($lshBucketExpr AS INT) AS bucket FROM n)
         |SELECT bucket, COUNT(*) AS n_vectors FROM b GROUP BY bucket ORDER BY bucket""".stripMargin),

    q("q34_ann_topk", (s, d) => ext.Similarity.annTopK(s, d),
      s"""WITH $vecsCte,
         |b AS (SELECT vec_id, v, nrm, CAST($lshBucketExpr AS INT) AS bucket FROM n),
         |qv AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket FROM b WHERE vec_id < 20),
         |p AS (SELECT query_id, qv.bucket AS bucket, c.vec_id AS neighbor_id,
         |        list_sum(list_transform(list_zip(qv.qv, c.v), z -> z[1] * z[2])) / (qv.qn * c.nrm) AS cos
         |      FROM qv JOIN b c ON qv.bucket = c.bucket WHERE c.vec_id <> query_id),
         |r AS (SELECT query_id, bucket, neighbor_id, cos,
         |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
         |      FROM p)
         |SELECT query_id, bucket, rank, neighbor_id, round(cos, 4) AS cos_sim
         |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),

    q("q35_hourly_windows", streaming.Events.hourlyWindows,
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
        |  COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS hour_value
        |FROM events GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin),

    q("q36_sessionize", streaming.Events.sessionize,
      """WITH x AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_ts
        |           FROM events),
        |y AS (SELECT *, CASE WHEN prev_ts IS NULL
        |        OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS is_new
        |      FROM x),
        |z AS (SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |      FROM y)
        |SELECT user_id, session_idx, COUNT(*) AS n_events,
        |  CAST(date_trunc('second', min(ts)) AS TIMESTAMP) AS session_start,
        |  CAST(epoch(date_trunc('second', max(ts))) - epoch(date_trunc('second', min(ts))) AS BIGINT) AS duration_s,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |FROM z GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin),

    q("q37_asof_join", streaming.Events.asofErrorsToClicks,
      """WITH ec AS (SELECT * FROM events WHERE event_type IN ('click', 'error')),
        |x AS (SELECT *,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_event_id,
        |    last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_ts
        |  FROM ec)
        |SELECT event_id AS error_event_id, user_id, click_event_id,
        |  CAST(epoch(date_trunc('second', ts)) - epoch(date_trunc('second', click_ts)) AS BIGINT) AS gap_s
        |FROM x WHERE event_type = 'error' AND click_event_id IS NOT NULL
        |ORDER BY error_event_id""".stripMargin),

    q("q38_binary_meta", ext.Multimodal.binaryMeta,
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  md5(text) AS content_md5,
        |  CAST(ascii(substr(text, 1, 1)) AS INT) AS first_byte,
        |  source AS origin
        |FROM documents ORDER BY doc_id""".stripMargin),

    q("q39_frame_sample", (s, d) => ext.Multimodal.frameSample(s, d),
      """SELECT doc_id, CAST(t.i AS INT) AS frame_idx,
        |  md5(substr(text, CAST(t.i AS INT) * 64 + 1, 64)) AS frame_md5,
        |  CAST(length(substr(text, CAST(t.i AS INT) * 64 + 1, 64)) AS INT) AS frame_len
        |FROM documents,
        |  LATERAL (SELECT unnest(range(0, ((length(text) - 1) // 64) + 1)) AS i) t
        |ORDER BY doc_id, frame_idx""".stripMargin),

    q("q46_hash_sample", (s, d) => ext.Sampling.hashSample(s, d),
      """SELECT doc_id, lang, source,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 100 AS hash_bucket
        |FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 100 < 10
        |ORDER BY doc_id""".stripMargin),

    q("q47_stratified_sample", (s, d) => ext.Sampling.stratifiedSample(s, d),
      """SELECT lang, pick, doc_id FROM (
        |  SELECT lang, doc_id,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS pick
        |  FROM documents)
        |WHERE pick <= 20 ORDER BY lang, pick""".stripMargin),

    q("q60_winnowing", (s, d) => ext.TextStats.winnowingFingerprint(s, d),
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |           WHERE len(string_split(text, ' ')) >= 6),
        |g AS (SELECT doc_id, len(words) - 2 AS m,
        |        list_transform(range(1, len(words) - 1),
        |          i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS shingles
        |      FROM d),
        |x0 AS (SELECT doc_id, m, unnest(range(1, len(shingles) + 1)) AS p,
        |         unnest(shingles) AS sh
        |       FROM g),
        |x AS (SELECT doc_id, m, p,
        |        CAST(('0x' || substr(md5(sh), 1, 7)) AS BIGINT) AS h
        |      FROM x0),
        |y AS (SELECT doc_id, m, p,
        |        min(h) OVER (PARTITION BY doc_id ORDER BY p
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win_min
        |      FROM x)
        |SELECT doc_id, COUNT(DISTINCT win_min) AS n_fingerprints,
        |  CAST(SUM(DISTINCT win_min) AS BIGINT) AS fp_checksum
        |FROM y WHERE p <= m - 3
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    q("q57_decontaminate", ext.TextStats.decontaminate,
      // benchmark mod re-derived from COUNT(*) exactly like the engine
      // (max(50, nDocs/1000) — the fixed-benchmark law; = 50 at shipped SFs)
      s"""WITH $shingleCte,
         |m AS (SELECT GREATEST(50, COUNT(*) // 1000) AS md FROM documents),
         |bench AS (SELECT DISTINCT sh FROM sh, m WHERE sh.doc_id % m.md = 0),
         |corpus AS (SELECT sh.* FROM sh, m WHERE sh.doc_id % m.md <> 0)
         |SELECT doc_id, COUNT(*) AS n_contaminated_shingles
         |FROM corpus JOIN bench USING (sh)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    q("q58_length_histogram", ext.TextStats.lengthHistogram,
      """SELECT CAST(n_chars // 100 AS INT) AS bucket_100ch, COUNT(*) AS n_docs
        |FROM documents GROUP BY bucket_100ch ORDER BY bucket_100ch""".stripMargin),

    q("q53_embedding_dedup", (s, d) => ext.Similarity.embeddingNearDupPairs(s, d),
      s"""WITH $vecsCte,
         |b AS (SELECT vec_id, v, nrm, CAST($lshBucketExpr AS INT) AS bucket FROM n),
         |p AS (SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
         |        list_sum(list_transform(list_zip(a.v, c.v), z -> z[1] * z[2])) / (a.nrm * c.nrm) AS cos
         |      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
         |SELECT vec_a, vec_b, round(cos, 4) AS cos_sim
         |FROM p WHERE cos >= 0.95 ORDER BY vec_a, vec_b""".stripMargin),

    q("q59_sliding_windows", streaming.Events.slidingWindows,
      """WITH k AS (SELECT unnest(range(0, 4)) AS k)
        |SELECT (epoch_ns(ts) // 900000000000) * 900 - k.k * 900 AS window_start_epoch,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS window_value
        |FROM events CROSS JOIN k
        |GROUP BY window_start_epoch, event_type
        |ORDER BY window_start_epoch, event_type""".stripMargin),

    q("q54_session_window", streaming.Events.sessionWindowNative,
      """WITH x AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_ts
        |           FROM events),
        |y AS (SELECT *, CASE WHEN prev_ts IS NULL
        |        OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000 THEN 1 ELSE 0 END AS is_new
        |      FROM x),
        |z AS (SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |      FROM y)
        |SELECT user_id,
        |  CAST(date_trunc('second', min(ts)) AS TIMESTAMP) AS session_start,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |FROM z GROUP BY user_id, session_idx ORDER BY user_id, session_start""".stripMargin),

    q("q40_stub_decode", ext.Multimodal.stubDecode,
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
        |  CAST(CAST(list_sum(list_transform(range(1, 9), i -> ascii(substr(text, i, 1)))) AS BIGINT) % 480 + 1 AS INT) AS height
        |FROM documents ORDER BY doc_id""".stripMargin),

    // The flagship composed near-dup pipeline: LSH candidates → exact Jaccard
    // verification (replaces q31's consecutive-id stand-in as the production
    // path; q31 stays as the pairwise-primitive spec).
    q("q61_minhash_jaccard", ext.Dedup.minhashJaccard,
      s"""WITH $bandsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
         |         FROM bands a JOIN bands b
         |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |         GROUP BY doc_a, doc_b),
         |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |common AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
         |           FROM cand c
         |           JOIN sh a ON a.doc_id = c.doc_a
         |           JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
         |           GROUP BY c.doc_a, c.doc_b)
         |SELECT c.doc_a, c.doc_b, c.n_shared_bands, ca.n_sh AS n_a, cb.n_sh AS n_b,
         |  COALESCE(cm.n_common, 0) AS n_common,
         |  CAST(COALESCE(cm.n_common, 0) AS DOUBLE) /
         |    CAST(ca.n_sh + cb.n_sh - COALESCE(cm.n_common, 0) AS DOUBLE) AS jaccard
         |FROM cand c
         |JOIN counts ca ON ca.doc_id = c.doc_a
         |JOIN counts cb ON cb.doc_id = c.doc_b
         |LEFT JOIN common cm ON cm.doc_a = c.doc_a AND cm.doc_b = c.doc_b
         |ORDER BY c.doc_a, c.doc_b""".stripMargin),

    // Duplicate clusters: connected components of the LSH candidate graph
    // (iterative min-label propagation in Spark; transitive closure via
    // recursive CTE in the oracle).
    q("q62_dup_clusters", (s, d) => ext.Dedup.duplicateClusters(s, d),
      s"""WITH RECURSIVE $bandsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |         GROUP BY doc_a, doc_b),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |          UNION SELECT doc_b, doc_a FROM cand),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id)
         |SELECT id AS doc_id, min(r) AS cluster_id
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),

    // TF-IDF-style top terms (rational tf·N/df weight — ln is not
    // bit-identical across engines' libm; ranking is unchanged).
    q("q63_tfidf_topterms", (s, d) => ext.TextStats.tfidfTopTerms(s, d),
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (SELECT doc_id, term, tf, df,
        |             CAST(tf AS DOUBLE) * n_docs / df AS score
        |           FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rank
        |      FROM scored)
        |SELECT doc_id, rank, term, tf, df, round(score, 6) AS score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    // Gopher-style repetition quality gates.
    q("q65_repetition_stats", ext.TextStats.repetitionStats,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |bg AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tokens,
        |         unnest(list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i+1])) AS bg
        |       FROM d),
        |bgc AS (SELECT doc_id, n_tokens, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, n_tokens, bg),
        |bgs AS (SELECT doc_id, n_tokens, COUNT(*) AS n_distinct_bigrams,
        |          CAST(SUM(c) AS BIGINT) AS n_bigrams, MAX(c) AS max_bigram_count
        |        FROM bgc GROUP BY doc_id, n_tokens),
        |sh AS (SELECT doc_id,
        |         unnest(list_transform(range(1, len(words) - 1), i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS sh
        |       FROM d),
        |shs AS (SELECT doc_id, COUNT(*) AS n_shingles, COUNT(DISTINCT sh) AS n_distinct_shingles
        |        FROM sh GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens, b.n_bigrams, b.n_distinct_bigrams, b.max_bigram_count,
        |  round(b.max_bigram_count * 2.0 / b.n_tokens, 6) AS top_bigram_token_frac,
        |  s.n_shingles, s.n_distinct_shingles,
        |  round(1.0 - CAST(s.n_distinct_shingles AS DOUBLE) / s.n_shingles, 6) AS dup_shingle_frac
        |FROM bgs b JOIN shs s USING (doc_id) ORDER BY b.doc_id""".stripMargin),

    // Sequence packing into fixed-token-budget chunks per source stream.
    q("q66_sequence_pack", (s, d) => ext.TextStats.sequencePack(s, d),
      """WITH t AS (SELECT doc_id, source,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |c AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |      FROM t)
        |SELECT doc_id, source, n_tokens,
        |  cum_tokens - n_tokens AS tokens_before,
        |  (cum_tokens - n_tokens) // 2048 AS chunk_id
        |FROM c ORDER BY doc_id""".stripMargin),

    // Vocabulary build (tokenizer-training precursor).
    q("q67_vocabulary", (s, d) => ext.TextStats.vocabulary(s, d),
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |c AS (SELECT term, COUNT(*) AS term_count FROM t GROUP BY term),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY term_count DESC, term) AS INT) AS vocab_id
        |      FROM c)
        |SELECT vocab_id, term, term_count FROM r
        |WHERE vocab_id <= 100 ORDER BY vocab_id""".stripMargin),

    // Deterministic content-addressed train/val/test split.
    q("q68_split_assign", ext.TextStats.splitAssign,
      """SELECT doc_id, source,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 100 AS bucket,
        |  CASE WHEN bucket < 90 THEN 'train'
        |       WHEN bucket < 95 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Dedup survivors: the corpus minus non-canonical near-dup cluster members.
    q("q71_dedup_survivors", (s, d) => ext.Dedup.dedupSurvivors(s, d),
      s"""WITH RECURSIVE $bandsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |         GROUP BY doc_a, doc_b),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |          UNION SELECT doc_b, doc_a FROM cand),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id),
         |losers AS (SELECT id FROM reach GROUP BY id HAVING min(r) <> id)
         |SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM losers)
         |ORDER BY doc_id""".stripMargin),

    // Capstone: quality gate -> split -> pack, one declarative plan.
    q("q70_corpus_export", (s, d) => ext.TextStats.corpusExport(s, d),
      s"""WITH g AS (SELECT doc_id, source,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(string_split(text, ' '), w -> w IN $stop9)) AS BIGINT) AS n_stopwords
         |  FROM documents),
         |f AS (SELECT * FROM g
         |      WHERE n_chars BETWEEN 100 AND 20000 AND n_tokens >= 20 AND n_stopwords > 0),
         |sp AS (SELECT *,
         |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) % 100 AS bucket
         |  FROM f),
         |sp2 AS (SELECT *, CASE WHEN bucket < 90 THEN 'train'
         |                       WHEN bucket < 95 THEN 'val'
         |                       ELSE 'test' END AS split FROM sp),
         |c AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY split, source ORDER BY doc_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |      FROM sp2)
         |SELECT doc_id, split, source, n_tokens,
         |  (cum_tokens - n_tokens) // 2048 AS chunk_id
         |FROM c ORDER BY doc_id""".stripMargin),

    // IVF ANN: content-addressed coarse centroids, Voronoi cell assignment,
    // 2-cell probe search (the second scale path beside hyperplane LSH).
    q("q72_ivf_ann", (s, d) => ext.Similarity.ivfTopK(s, d),
      s"""WITH $vecsCte,
         |cents AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM n
         |          WHERE vec_id % (SELECT greatest(CAST(31 AS BIGINT),
         |            CAST(floor(sqrt(COUNT(*))) AS BIGINT)) FROM n) = 0),
         |cc AS (SELECT a.vec_id, c.centroid_id,
         |         list_sum(list_transform(list_zip(a.v, c.cv), z -> z[1] * z[2])) / (a.nrm * c.cn) AS ccos
         |       FROM n a CROSS JOIN cents c),
         |cr AS (SELECT *, CAST(row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS INT) AS crank
         |       FROM cc),
         |assigned AS (SELECT vec_id AS neighbor_id, centroid_id AS cell FROM cr WHERE crank = 1),
         |probes AS (SELECT vec_id AS query_id, centroid_id AS cell FROM cr
         |           WHERE vec_id < 20 AND crank <= 2),
         |p AS (SELECT pr.query_id, a.neighbor_id, a.cell,
         |        list_sum(list_transform(list_zip(qn.v, nn.v), z -> z[1] * z[2])) / (qn.nrm * nn.nrm) AS cos
         |      FROM probes pr
         |      JOIN assigned a ON a.cell = pr.cell
         |      JOIN n qn ON qn.vec_id = pr.query_id
         |      JOIN n nn ON nn.vec_id = a.neighbor_id
         |      WHERE a.neighbor_id <> pr.query_id),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
         |      FROM p)
         |SELECT query_id, rank, neighbor_id, cell, round(cos, 4) AS cos_sim
         |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),

    // CCNet-style repeated-segment dedup (fixed 10-token segments stand in
    // for lines — the corpus has no newlines).
    q("q73_segment_dedup", (s, d) => ext.Dedup.segmentDedup(s, d),
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |           WHERE len(string_split(text, ' ')) >= 10),
        |segs AS (SELECT doc_id,
        |    unnest(list_transform(range(0, len(words) // 10),
        |      i -> array_to_string(words[(i*10+1):(i*10+10)], ' '))) AS seg
        |  FROM d),
        |h AS (SELECT doc_id, seg, CAST(('0x' || substr(md5(seg), 1, 7)) AS BIGINT) AS h FROM segs),
        |freq AS (SELECT seg, COUNT(DISTINCT doc_id) AS nd FROM h GROUP BY seg)
        |SELECT doc_id, COUNT(*) AS n_segments,
        |  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments,
        |  CAST(COALESCE(SUM(CASE WHEN nd < 2 THEN h END), 0) AS BIGINT) AS kept_checksum
        |FROM h JOIN freq USING (seg)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Bloom-filter decontamination: md5-derived k-hash positions, so the
    // filter (false positives included) is bit-identical in the oracle.
    q("q74_bloom_decontaminate", (s, d) => ext.TextStats.bloomDecontaminate(s, d),
      s"""WITH $shingleCte,
         |posh AS (SELECT doc_id, sh,
         |    CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || sh), 1, 7)) AS BIGINT) % 65536 AS pos
         |  FROM (SELECT doc_id, sh, unnest(range(0, 3)) AS j FROM sh)),
         |m AS (SELECT GREATEST(50, COUNT(*) // 1000) AS md FROM documents),
         |bits AS (SELECT DISTINCT pos FROM posh, m WHERE doc_id % m.md = 0),
         |corpus AS (SELECT posh.* FROM posh, m WHERE doc_id % m.md <> 0),
         |hits AS (SELECT doc_id, sh FROM corpus JOIN bits USING (pos)
         |         GROUP BY doc_id, sh HAVING COUNT(*) = 3),
         |hc AS (SELECT doc_id, COUNT(*) AS n_bloom_positive FROM hits GROUP BY doc_id),
         |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh, m WHERE doc_id % m.md <> 0 GROUP BY doc_id)
         |SELECT t.doc_id, t.n_shingles, COALESCE(h.n_bloom_positive, 0) AS n_bloom_positive
         |FROM tot t LEFT JOIN hc h USING (doc_id) ORDER BY doc_id""".stripMargin),

    // Per-language exact decile band filter (ntile over a total ordering —
    // sketch-based approx percentiles would not hash-match by construction).
    q("q75_length_deciles", ext.TextStats.lengthDecileFilter,
      """SELECT doc_id, lang, n_chars, decile FROM (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS INT) AS decile
        |  FROM documents)
        |WHERE decile BETWEEN 2 AND 9 ORDER BY doc_id""".stripMargin),

    // Count-based bigram LM scoring (integer ppm scores — exact,
    // order-independent sums).
    q("q76_bigram_lm", ext.TextStats.bigramLmScore,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |b AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(words)), i -> words[i])) AS w1,
        |    unnest(list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i+1])) AS bg
        |  FROM d),
        |c2 AS (SELECT bg, COUNT(*) AS c2 FROM b GROUP BY bg),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM b GROUP BY w1),
        |s AS (SELECT doc_id, (c2.c2 * 1000000) // c1.c1 AS ppm
        |      FROM b JOIN c2 USING (bg) JOIN c1 USING (w1))
        |SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(ppm) AS BIGINT) AS lm_score_sum,
        |  round(CAST(SUM(ppm) AS DOUBLE) / COUNT(*), 6) AS avg_ppm
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Exact-integer per-source length outliers ((n·x−S)² > 4(n·Q−S²) —
    // no floats, bit-identical across engines and partition layouts).
    q("q77_length_outliers", ext.TextStats.lengthOutliers,
      """WITH s AS (SELECT source, CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(n_chars) AS HUGEINT) AS sm,
        |    CAST(SUM(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS q
        |  FROM documents GROUP BY source)
        |SELECT d.doc_id, d.source, d.n_chars, CAST(s.n AS BIGINT) AS n_docs_in_source,
        |  (s.n * d.n_chars - s.sm) * (s.n * d.n_chars - s.sm) > 4 * (s.n * s.q - s.sm * s.sm) AS is_len_outlier
        |FROM documents d JOIN s USING (source) ORDER BY d.doc_id""".stripMargin),

    // Ordered conversion funnel view -> click -> purchase (step order
    // respected: a click before any view does not count).
    q("q78_funnel", streaming.Events.funnel,
      """WITH ev AS (SELECT user_id, event_type, ts FROM events),
        |u AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        |      FROM ev GROUP BY user_id),
        |c AS (SELECT e.user_id, u.t_view,
        |        min(CASE WHEN e.event_type = 'click' AND e.ts > u.t_view THEN e.ts END) AS t_click
        |      FROM ev e JOIN u USING (user_id) GROUP BY e.user_id, u.t_view),
        |p AS (SELECT e.user_id, c.t_view, c.t_click,
        |        min(CASE WHEN e.event_type = 'purchase' AND e.ts > c.t_click THEN e.ts END) AS t_purchase
        |      FROM ev e JOIN c USING (user_id) GROUP BY e.user_id, c.t_view, c.t_click)
        |SELECT user_id,
        |  CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
        |            WHEN t_click IS NOT NULL THEN 2
        |            WHEN t_view IS NOT NULL THEN 1
        |            ELSE 0 END AS INT) AS funnel_stage,
        |  CAST(epoch(date_trunc('second', t_view)) AS BIGINT) AS first_view_s,
        |  CAST(epoch(date_trunc('second', t_click)) AS BIGINT) AS first_click_s,
        |  CAST(epoch(date_trunc('second', t_purchase)) AS BIGINT) AS first_purchase_s
        |FROM p ORDER BY user_id""".stripMargin),

    // Retention cohort triangle: first-seen-date cohorts x active-day offsets.
    q("q79_retention", streaming.Events.retentionCohorts,
      """WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |c AS (SELECT user_id, min(d) AS cohort_date FROM ev GROUP BY user_id)
        |SELECT c.cohort_date, CAST(e.d - c.cohort_date AS INT) AS day_offset,
        |  COUNT(*) AS n_active_users
        |FROM ev e JOIN c USING (user_id)
        |GROUP BY c.cohort_date, day_offset
        |ORDER BY c.cohort_date, day_offset""".stripMargin),

    // As-of join with tolerance: stale matches (> 600 s) are dropped, the
    // polars/pandas merge_asof(tolerance=...) semantics.
    q("q80_asof_tolerance", (s, d) => streaming.Events.asofWithTolerance(s, d),
      """WITH ec AS (SELECT * FROM events WHERE event_type IN ('click', 'error')),
        |x AS (SELECT *,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_event_id,
        |    last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_ts
        |  FROM ec),
        |y AS (SELECT event_id AS error_event_id, user_id, click_event_id,
        |        CAST(epoch(date_trunc('second', ts)) - epoch(date_trunc('second', click_ts)) AS BIGINT) AS gap_s
        |      FROM x WHERE event_type = 'error' AND click_event_id IS NOT NULL)
        |SELECT error_event_id, user_id, click_event_id, gap_s
        |FROM y WHERE gap_s <= 600 ORDER BY error_event_id""".stripMargin),

    // PII / dictionary scrub: pattern redaction + per-doc counts.
    q("q64_pii_redact", (s, d) => ext.TextStats.piiRedact(s, d),
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\d{4,}')) AS BIGINT) AS n_digit_runs,
        |  CAST(len(regexp_extract_all(text, '\b(customer|stream)\b')) AS BIGINT) AS n_blocked_terms,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
        |    '\d{4,}', '[NUM]', 'g'),
        |    '\b(customer|stream)\b', '[TERM]', 'g')) AS redacted_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Corpus-v2 capstone: near-dup survivors ∩ quality gate → overlapping
    // training chunks (dedup -> filter -> shape in one composition).
    q("q100_clean_corpus_chunks", (s, d) => ext.TextStats.cleanCorpusChunks(s, d),
      s"""WITH RECURSIVE $bandsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |         GROUP BY doc_a, doc_b),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |          UNION SELECT doc_b, doc_a FROM cand),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id),
         |losers AS (SELECT id FROM reach GROUP BY id HAVING min(r) <> id),
         |g AS (SELECT doc_id, text,
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    CAST(len(list_filter(string_split(text, ' '), w -> w IN $stop9)) AS BIGINT) AS n_stopwords
         |  FROM documents
         |  WHERE doc_id NOT IN (SELECT id FROM losers)),
         |f AS (SELECT doc_id, text FROM g
         |      WHERE n_chars BETWEEN 100 AND 20000 AND n_tokens >= 20 AND n_stopwords > 0),
         |${chunkSql("f")}""".stripMargin),

    // SQ8 scalar quantization of embeddings (the 4x compression step before
    // indexing); integer code stats are the exact identity of the codes.
    q("q81_sq8_quantize", ext.Similarity.sq8Quantize,
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e),
         |c AS (SELECT vec_id, mn, mx, $sq8CodesSql AS codes FROM m)
         |SELECT vec_id, mn, mx,
         |  CAST(len(codes) AS INT) AS n_dims,
         |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
         |  CAST(list_min(codes) AS INT) AS code_min,
         |  CAST(list_max(codes) AS INT) AS code_max
         |FROM c ORDER BY vec_id""".stripMargin),

    // IVF cell centroids in SQ8 code space (index maintenance for q72's IVF
    // path): exact integer code sums per (Voronoi cell, dimension).
    q("q86_ivf_centroids", (s, d) => ext.Similarity.ivfCellCentroids(s, d),
      s"""WITH $vecsCte,
         |cents AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM n
         |          WHERE vec_id % (SELECT greatest(CAST(31 AS BIGINT),
         |            CAST(floor(sqrt(COUNT(*))) AS BIGINT)) FROM n) = 0),
         |cc AS (SELECT a.vec_id, a.v, c.centroid_id,
         |         list_sum(list_transform(list_zip(a.v, c.cv), z -> z[1] * z[2])) / (a.nrm * c.cn) AS ccos
         |       FROM n a CROSS JOIN cents c),
         |cr AS (SELECT *, CAST(row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS INT) AS crank
         |       FROM cc),
         |assigned AS (SELECT vec_id, v, centroid_id AS cell FROM cr WHERE crank = 1),
         |m AS (SELECT cell, v, list_min(v) AS mn, list_max(v) AS mx FROM assigned),
         |cdx AS (SELECT cell, $sq8CodesSql AS codes FROM m),
         |x AS (SELECT cell, CAST(t.d AS INT) AS dim, codes[CAST(t.d AS INT)] AS code
         |      FROM cdx, LATERAL (SELECT unnest(range(1, len(codes) + 1)) AS d) t)
         |SELECT cell, dim, COUNT(*) AS n_vecs, CAST(SUM(code) AS BIGINT) AS code_sum
         |FROM x GROUP BY cell, dim ORDER BY cell, dim""".stripMargin),

    // Robust per-language stats: exact lower-median length + modal source,
    // both with total tie-breaks.
    q("q83_robust_stats", ext.TextStats.robustStats,
      """WITH counts AS (SELECT lang, source, COUNT(*) AS n_src FROM documents GROUP BY lang, source),
        |md AS (SELECT lang, source AS mode_source, n_src AS n_docs_mode_source,
        |         row_number() OVER (PARTITION BY lang ORDER BY n_src DESC, source) AS rn
        |       FROM counts),
        |r AS (SELECT doc_id, lang, n_chars,
        |        CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
        |        COUNT(*) OVER (PARTITION BY lang) AS n_docs
        |      FROM documents)
        |SELECT r.lang, r.n_docs, r.n_chars AS median_chars,
        |  md.mode_source, md.n_docs_mode_source
        |FROM r JOIN md ON md.lang = r.lang AND md.rn = 1
        |WHERE r.rn = (r.n_docs + 1) // 2
        |ORDER BY r.lang""".stripMargin),

    // Incremental new-batch-vs-corpus dedup: exact fingerprint match + LSH
    // band candidates, batch side only — the continuous-ingestion shape.
    q("q85_incremental_dedup", (s, d) => ext.Dedup.incrementalDedup(s, d),
      s"""WITH $bandsCte,
         |fp AS (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp FROM documents),
         |exact AS (SELECT b.doc_id, min(c.doc_id) AS exact_dup_of
         |          FROM (SELECT * FROM fp WHERE doc_id % 10 = 7) b
         |          LEFT JOIN (SELECT * FROM fp WHERE doc_id % 10 <> 7) c USING (fp)
         |          GROUP BY b.doc_id),
         |near AS (SELECT bb.doc_id, COUNT(DISTINCT cb.doc_id) AS n_near_candidates
         |         FROM (SELECT * FROM bands WHERE doc_id % 10 = 7) bb
         |         JOIN (SELECT * FROM bands WHERE doc_id % 10 <> 7) cb
         |           ON bb.band_idx = cb.band_idx AND bb.band_hash = cb.band_hash
         |         GROUP BY bb.doc_id)
         |SELECT d.doc_id, d.lang, d.source, e.exact_dup_of,
         |  COALESCE(n.n_near_candidates, 0) AS n_near_candidates,
         |  e.exact_dup_of IS NULL AND COALESCE(n.n_near_candidates, 0) = 0 AS is_new
         |FROM documents d
         |JOIN exact e ON e.doc_id = d.doc_id
         |LEFT JOIN near n ON n.doc_id = d.doc_id
         |WHERE d.doc_id % 10 = 7
         |ORDER BY d.doc_id""".stripMargin),

    // Daily event-volume anomaly flags (2-sigma in exact integer/decimal
    // arithmetic — the q77 trick applied to time-series monitoring).
    q("q87_daily_anomaly", streaming.Events.dailyAnomaly,
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
        |               FROM events GROUP BY event_type, day),
        |s AS (SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
        |        CAST(SUM(n_events) AS HUGEINT) AS sm,
        |        CAST(SUM(CAST(n_events AS HUGEINT) * n_events) AS HUGEINT) AS q
        |      FROM daily GROUP BY event_type)
        |SELECT d.event_type, d.day, d.n_events, CAST(s.n AS BIGINT) AS n_days,
        |  (s.n * d.n_events - s.sm) * (s.n * d.n_events - s.sm) > 4 * (s.n * s.q - s.sm * s.sm) AS is_anomaly
        |FROM daily d JOIN s USING (event_type) ORDER BY d.event_type, d.day""".stripMargin),

    // ANN recall@k evaluation: exact top-3 vs LSH-bucketed top-3 per query —
    // the quality monitor that runs beside any approximate index.
    q("q90_ann_recall", (s, d) => ext.Similarity.annRecall(s, d),
      s"""WITH $vecsCte,
         |qx AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 20),
         |px AS (SELECT query_id, c.vec_id AS neighbor_id,
         |        list_sum(list_transform(list_zip(qv, c.v), z -> z[1] * z[2])) / (qn * c.nrm) AS cos
         |      FROM qx CROSS JOIN n c WHERE c.vec_id <> query_id),
         |rx AS (SELECT query_id, neighbor_id,
         |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
         |      FROM px),
         |exact AS (SELECT query_id, neighbor_id FROM rx WHERE rank <= 3),
         |b AS (SELECT vec_id, v, nrm, CAST($lshBucketExpr AS INT) AS bucket FROM n),
         |qv2 AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket FROM b WHERE vec_id < 20),
         |pa AS (SELECT query_id, c.vec_id AS neighbor_id,
         |        list_sum(list_transform(list_zip(qv2.qv, c.v), z -> z[1] * z[2])) / (qv2.qn * c.nrm) AS cos
         |      FROM qv2 JOIN b c ON qv2.bucket = c.bucket WHERE c.vec_id <> query_id),
         |ra AS (SELECT query_id, neighbor_id,
         |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
         |      FROM pa),
         |ann AS (SELECT query_id, neighbor_id, 1 AS hit FROM ra WHERE rank <= 3)
         |SELECT e.query_id, COUNT(*) AS n_exact,
         |  CAST(SUM(COALESCE(a.hit, 0)) AS BIGINT) AS n_hit,
         |  CAST(SUM(COALESCE(a.hit, 0)) AS DOUBLE) / COUNT(*) AS recall
         |FROM exact e LEFT JOIN ann a USING (query_id, neighbor_id)
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin),

    // Out-of-vocabulary rate vs the corpus top-100 vocabulary (tokenizer
    // coverage gate; integer ppm rate).
    q("q91_oov_rate", (s, d) => ext.TextStats.oovRate(s, d),
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |c AS (SELECT term, COUNT(*) AS term_count FROM t GROUP BY term),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY term_count DESC, term) AS INT) AS vocab_id
        |      FROM c),
        |v AS (SELECT term, 1 AS in_vocab FROM r WHERE vocab_id <= 100),
        |dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  (CAST(SUM(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000000) // COUNT(*) AS oov_ppm
        |FROM dt LEFT JOIN v USING (term)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Largest-remainder apportionment of a 1M-token sampling budget across
    // sources (data-mixture assembly; exact integer arithmetic).
    q("q92_mixture_allocation", (s, d) => ext.TextStats.mixtureAllocation(s, d),
      """WITH tok AS (SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |             FROM documents GROUP BY source),
        |x AS (SELECT *, CAST(SUM(n_tokens) OVER () AS BIGINT) AS total_tokens FROM tok),
        |y AS (SELECT *, (1000000 * n_tokens) // total_tokens AS base_alloc,
        |        (1000000 * n_tokens) % total_tokens AS rem FROM x),
        |z AS (SELECT *, 1000000 - SUM(base_alloc) OVER () AS leftover,
        |        row_number() OVER (ORDER BY rem DESC, source) AS rk FROM y)
        |SELECT source, n_tokens, total_tokens, base_alloc,
        |  CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
        |  CAST(base_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS final_alloc
        |FROM z ORDER BY source""".stripMargin),

    // Purchase attribution: first/last-touch click ids + exact equal-split
    // ppm credits, one window pass per user (no purchase x click blowup).
    q("q94_attribution", streaming.Events.attribution,
      """WITH ec AS (SELECT * FROM events WHERE event_type IN ('click', 'purchase')),
        |x AS (SELECT *,
        |    first_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_click_id,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id,
        |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_prior_clicks
        |  FROM ec)
        |SELECT event_id AS purchase_event_id, user_id, first_click_id, last_click_id,
        |  n_prior_clicks,
        |  CASE WHEN n_prior_clicks > 0 THEN 1000000 // n_prior_clicks ELSE 0 END AS credit_ppm_each,
        |  CASE WHEN n_prior_clicks > 0
        |       THEN 1000000 - n_prior_clicks * (1000000 // n_prior_clicks)
        |       ELSE 0 END AS leftover_ppm
        |FROM x WHERE event_type = 'purchase' ORDER BY purchase_event_id""".stripMargin),

    // Simpson lexical-diversity index in exact integer ppm (the log-free
    // diversity/repetition quality signal).
    q("q95_simpson_diversity", ext.TextStats.simpsonDiversity,
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |c AS (SELECT doc_id, term, COUNT(*) AS c FROM t GROUP BY doc_id, term),
        |m AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |        COUNT(*) AS n_distinct_tokens,
        |        CAST(SUM(c * c) AS BIGINT) AS sum_sq_counts
        |      FROM c GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_distinct_tokens, sum_sq_counts,
        |  ((n_tokens * n_tokens - sum_sq_counts) * 1000000) // (n_tokens * n_tokens) AS simpson_ppm
        |FROM m ORDER BY doc_id""".stripMargin),

    // Per-language winsorization to the exact discrete [p10, p90] band
    // (order statistics by integer index — engine-exact, no interpolation).
    q("q97_winsorize", ext.TextStats.winsorize,
      """WITH r AS (SELECT doc_id, lang, n_chars,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM documents),
        |b AS (SELECT lang, MIN(n_chars) AS p10_chars, MAX(n_chars) AS p90_chars
        |      FROM r
        |      WHERE rn = (n - 1) * 10 // 100 + 1 OR rn = (n - 1) * 90 // 100 + 1
        |      GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars, b.p10_chars, b.p90_chars,
        |  least(greatest(d.n_chars, b.p10_chars), b.p90_chars) AS n_chars_winsorized
        |FROM documents d JOIN b USING (lang) ORDER BY d.doc_id""".stripMargin),

    // Cross-language shingle-overlap matrix (contamination / code-switching
    // diagnostic; joins the distinct (lang, shingle) set — no hot-key blowup).
    q("q93_lang_overlap", ext.Dedup.langOverlapMatrix,
      """WITH d AS (SELECT lang, string_split(text, ' ') AS words FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |ls0 AS (SELECT lang, unnest(list_transform(range(1, len(words) - 1),
        |          i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS sh FROM d),
        |ls AS (SELECT DISTINCT lang, sh FROM ls0)
        |SELECT a.lang AS lang_a, b.lang AS lang_b, COUNT(*) AS n_shared_shingles
        |FROM ls a JOIN ls b ON a.sh = b.sh AND a.lang < b.lang
        |GROUP BY lang_a, lang_b ORDER BY lang_a, lang_b""".stripMargin),

    // Overlapping sliding-window chunking (64-token chunks, stride 32) —
    // context-overlap training sequences; q66 packs whole docs instead.
    q("q88_chunk_overlap", (s, d) => ext.TextStats.chunkOverlap(s, d),
      s"WITH ${chunkSql("documents")}"),
  )

  /** Scale-mechanics surface (q101-q110): the operators whose POINT is the
    * physical plan — skew salting, co-located bucketed joins, partition
    * pruning, format-plural sinks — plus the round-3b relational/text/event
    * additions. Each oracle checks output identity; PlanSpec checks the plan
    * property the operator exists for. */
  val scaleOps: Seq[QueryDef] = Seq(

    // Salted join: output identical to the plain join (this oracle), hot-key
    // work scattered 8 ways. PlanSpec asserts the join key includes the salt.
    q("q101_salted_join", engine.Skew.saltedSupplierRevenue,
      """SELECT s_suppkey, s_name, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_suppkey, s_name ORDER BY s_suppkey""".stripMargin),

    // Key-share profile: the observability query that decides whether a join
    // needs salting. Integer ppm share (exact); broadcast scalar total.
    q("q102_key_shares", engine.Skew.lineitemKeyShares,
      """WITH c AS (SELECT l_suppkey, COUNT(*) AS n_rows FROM lineitem GROUP BY l_suppkey),
        |t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS tot FROM c)
        |SELECT l_suppkey, n_rows, CAST((n_rows * 1000000) // tot AS BIGINT) AS share_ppm
        |FROM c, t ORDER BY n_rows DESC, l_suppkey LIMIT 10""".stripMargin),

    // Per-doc first-occurrence 3-gram novelty: groupBy(shingle) -> min doc,
    // join back on the same partitioning, per-doc rollup. Integer ppm.
    q("q103_ngram_novelty", (s, d) => ext.TextStats.ngramNovelty(s, d),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |g AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS sh
        |      FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) r),
        |f AS (SELECT sh, min(doc_id) AS first_doc FROM g GROUP BY sh)
        |SELECT g.doc_id, COUNT(*) AS n_shingles,
        |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST((SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS novelty_ppm
        |FROM g JOIN f USING (sh)
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin),

    // Event-type transition (Markov bigram) matrix over per-user timelines,
    // ordered by event_id (the cross-engine total order; see Tables.events).
    q("q104_event_bigrams", streaming.Events.eventBigrams,
      """WITH s AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type AS next_type, COUNT(*) AS n_pairs
        |FROM s WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, next_type ORDER BY prev_type, next_type""".stripMargin),

    // MERGE INTO semantics on plain tables: updates every 7th key, inserts
    // every 13th shifted past the keyspace; `action` labels each row.
    q("q105_merge_upsert", engine.RelOps.customerMerge,
      """WITH u AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0 AS c_acctbal, c_mktsegment
        |           FROM customer WHERE c_custkey % 7 = 0),
        |i AS (SELECT c_custkey + 1000000 AS c_custkey, 'NEW_' || c_name AS c_name,
        |             c_nationkey, c_acctbal, c_mktsegment
        |      FROM customer WHERE c_custkey % 13 = 0),
        |s AS (SELECT * FROM u UNION ALL SELECT * FROM i)
        |SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
        |  COALESCE(s.c_name, t.c_name) AS c_name,
        |  COALESCE(s.c_nationkey, t.c_nationkey) AS c_nationkey,
        |  COALESCE(s.c_acctbal, t.c_acctbal) AS c_acctbal,
        |  COALESCE(s.c_mktsegment, t.c_mktsegment) AS c_mktsegment,
        |  CASE WHEN t.c_custkey IS NULL THEN 'insert'
        |       WHEN s.c_custkey IS NULL THEN 'keep'
        |       ELSE 'update' END AS action
        |FROM customer t FULL OUTER JOIN s ON t.c_custkey = s.c_custkey
        |ORDER BY c_custkey""".stripMargin),

    // Higher-order array functions over SQ8 codes: per-row projection only,
    // integer-exact stats (L1 mass, saturation, argmax, total variation).
    q("q106_vector_ops", ext.Similarity.vectorOps,
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e),
         |c AS (SELECT vec_id, $sq8CodesSql AS codes FROM m)
         |SELECT vec_id,
         |  CAST(list_sum(codes) AS BIGINT) AS l1_code,
         |  CAST(len(list_filter(codes, x -> x >= 192)) AS INT) AS n_hi,
         |  CAST(len(list_filter(codes, x -> x = 0)) AS INT) AS n_zero,
         |  CAST(list_position(codes, list_max(codes)) AS INT) AS argmax_dim,
         |  CAST(COALESCE(list_sum(list_transform(range(1, len(codes)), i -> abs(codes[i+1] - codes[i]))), 0) AS BIGINT) AS total_variation
         |FROM c ORDER BY vec_id""".stripMargin),

    // Partitioned write + partition-pruned read: only year-1997 directories
    // are scanned (PartitionFilters; PlanSpec asserts it).
    q("q107_partition_pruned", engine.Layout.partitionPrunedScan,
      """SELECT CAST(month(o_orderdate) AS INT) AS o_month, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders WHERE CAST(year(o_orderdate) AS INT) = 1997
        |GROUP BY o_month ORDER BY o_month""".stripMargin),

    // ORC sink + source roundtrip (format-plural I/O surface).
    q("q108_orc_roundtrip", engine.Bronze.orcRoundtripCustomer,
      """SELECT c_mktsegment, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS segment_balance
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // Bucketed co-located join: both facts bucket-sorted on the order key ->
    // join + per-order rollup with zero hash exchange (PlanSpec asserts).
    q("q109_bucketed_join", (s, d) => engine.Bucketing.bucketedOrderRevenue(s, d),
      """SELECT o_orderkey, o_totalprice, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey, o_totalprice ORDER BY o_orderkey""".stripMargin),

    // Token co-occurrence (PMI input): pairs restricted to the broadcast
    // top-50 vocabulary BEFORE pairing — output bounded by vocab².
    q("q119_cooccurrence", (s, d) => ext.TextStats.tokenCooccurrence(s, d),
      """WITH t AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |v AS (SELECT tok FROM (SELECT tok, COUNT(*) AS df FROM t GROUP BY tok
        |                       ORDER BY df DESC, tok LIMIT 50)),
        |vt AS (SELECT t.doc_id, t.tok FROM t JOIN v USING (tok))
        |SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS n_docs
        |FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |GROUP BY tok_a, tok_b
        |ORDER BY n_docs DESC, tok_a, tok_b LIMIT 20""".stripMargin),

    // MinHash sketch-quality monitor: signature slot-agreement estimate vs
    // exact Jaccard per candidate pair, both integer-ppm exact.
    q("q120_sketch_quality", ext.Dedup.sketchQuality,
      s"""WITH $bandsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |         GROUP BY doc_a, doc_b),
         |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |common AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
         |           FROM cand c
         |           JOIN sh a ON a.doc_id = c.doc_a
         |           JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
         |           GROUP BY c.doc_a, c.doc_b),
         |ex AS (SELECT c.doc_a, c.doc_b, ca.n_sh AS n_a, cb.n_sh AS n_b,
         |         COALESCE(cm.n_common, 0) AS n_common
         |       FROM cand c
         |       JOIN counts ca ON ca.doc_id = c.doc_a
         |       JOIN counts cb ON cb.doc_id = c.doc_b
         |       LEFT JOIN common cm ON cm.doc_a = c.doc_a AND cm.doc_b = c.doc_b),
         |eq AS (SELECT ex.*, ${(0 until 12).map(i => s"(CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END)").mkString(" + ")} AS n_eq
         |       FROM ex JOIN sig sa ON sa.doc_id = ex.doc_a
         |                JOIN sig sb ON sb.doc_id = ex.doc_b)
         |SELECT doc_a, doc_b, CAST(n_eq AS INT) AS n_eq_slots,
         |  CAST((n_eq * 1000000) // 12 AS BIGINT) AS est_ppm,
         |  CAST((n_common * 1000000) // (n_a + n_b - n_common) AS BIGINT) AS jaccard_ppm,
         |  CAST(abs((n_eq * 1000000) // 12 - (n_common * 1000000) // (n_a + n_b - n_common)) AS BIGINT) AS abs_err_ppm
         |FROM eq ORDER BY doc_a, doc_b""".stripMargin),

    // Corpus snapshot diff: added/removed/changed/unchanged between two
    // deterministic corpus versions — slim (id, fp) full-outer join.
    q("q117_snapshot_diff", (s, d) => ext.TextStats.snapshotDiff(s, d),
      """WITH v1 AS (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp1
        |            FROM documents WHERE doc_id % 3 <> 2),
        |v2 AS (SELECT doc_id, md5(lower(trim(regexp_replace(
        |           CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END,
        |           '\s+', ' ', 'g')))) AS fp2
        |       FROM documents WHERE doc_id % 3 <> 0)
        |SELECT CASE WHEN fp1 IS NULL THEN 'added'
        |            WHEN fp2 IS NULL THEN 'removed'
        |            WHEN fp1 = fp2 THEN 'unchanged'
        |            ELSE 'changed' END AS status,
        |  COUNT(*) AS n_docs,
        |  MIN(doc_id) AS min_doc_id,
        |  MAX(doc_id) AS max_doc_id
        |FROM v1 FULL OUTER JOIN v2 USING (doc_id)
        |GROUP BY status ORDER BY status""".stripMargin),

    // Per-group top-k: WindowGroupLimit keeps only k rows per group per
    // partition before the shuffle (PlanSpec asserts).
    q("q118_topk_per_group", (s, d) => ext.TextStats.topKPerLang(s, d),
      """SELECT lang, doc_id, n_chars, CAST(rk AS INT) AS rk FROM (
        |  SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 3 ORDER BY lang, rk""".stripMargin),

    // Length-biased deterministic sampling: P(keep) = n_tokens/max_tokens,
    // decided in exact integers from a 28-bit md5 prefix.
    q("q115_length_biased_sample", (s, d) => ext.Sampling.lengthBiasedSample(s, d),
      """WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |m AS (SELECT MAX(n_tokens) AS max_tokens FROM d)
        |SELECT doc_id, n_tokens, max_tokens,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) AS sample_key
        |FROM d, m
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) * max_tokens < n_tokens * 268435456
        |ORDER BY doc_id""".stripMargin),

    // Per-source duplication-rate dashboard: one scan, two-phase countDistinct.
    q("q116_source_dup_rates", (s, d) => ext.TextStats.sourceDupRates(s, d),
      """WITH f AS (SELECT source, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |           FROM documents)
        |SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_distinct,
        |  COUNT(*) - COUNT(DISTINCT fp) AS n_dup_docs,
        |  CAST(((COUNT(*) - COUNT(DISTINCT fp)) * 1000000) // COUNT(*) AS BIGINT) AS dup_ppm
        |FROM f GROUP BY source ORDER BY source""".stripMargin),

    // Interval-overlap join via hour-bucket equi-join (sessions x error
    // hours) — no nested-loop range join (PlanSpec asserts).
    q("q114_interval_join", streaming.Events.sessionErrorOverlap,
      """WITH x AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_ts
        |           FROM events),
        |y AS (SELECT *, CASE WHEN prev_ts IS NULL
        |        OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS is_new
        |      FROM x),
        |z AS (SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |      FROM y),
        |s AS (SELECT user_id, session_idx,
        |        CAST(epoch(date_trunc('second', min(ts))) AS BIGINT) AS s_start,
        |        CAST(epoch(date_trunc('second', max(ts))) AS BIGINT) AS s_end
        |      FROM z GROUP BY user_id, session_idx),
        |eh AS (SELECT DISTINCT CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600 AS h
        |       FROM events WHERE event_type = 'error')
        |SELECT s.user_id, s.session_idx, s.s_start, s.s_end,
        |  COUNT(DISTINCT eh.h) AS n_error_hours
        |FROM s JOIN eh ON eh.h BETWEEN s.s_start // 3600 AND s.s_end // 3600
        |GROUP BY s.user_id, s.session_idx, s.s_start, s.s_end
        |ORDER BY s.user_id, s.session_idx""".stripMargin),

    // SCD2 maintenance cycle: change/depart/re-enter paths in one full-outer
    // join + union (no windows over history); null-safe change detection.
    q("q113_scd2_history", engine.Scd2.customerScd2,
      s"""WITH $scd2Cte
         |SELECT * FROM kept UNION ALL SELECT * FROM newv
         |ORDER BY c_custkey, effective_date""".stripMargin),

    // CSV sink + explicit-schema source roundtrip (S1 surface, oracle-checked:
    // the rollup must match the parquet-direct computation).
    q("q111_csv_roundtrip", engine.Bronze.csvRoundtripPart,
      """SELECT p_brand, COUNT(*) AS n_parts,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS brand_value,
        |  MAX(p_size) AS max_size
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin),

    // JSON-lines sink + pinned-schema source roundtrip (event-bus interchange).
    q("q112_jsonl_roundtrip", engine.Bronze.jsonlRoundtripEvents,
      """SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  MIN(event_id) AS min_event_id, MAX(event_id) AS max_event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Top user journeys: first-8-event paths, bounded per-user state,
    // TakeOrderedAndProject for the final top-20.
    q("q110_user_paths", (s, d) => streaming.Events.userPaths(s, d),
      """WITH r AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |  FROM events),
        |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |      FROM r WHERE rn <= 8 GROUP BY user_id)
        |SELECT path, COUNT(*) AS n_users FROM p GROUP BY path
        |ORDER BY n_users DESC, path LIMIT 20""".stripMargin),

    // Dynamic partition pruning: partition-column join against a dim filtered
    // on a NON-key attribute — the pruned years are only knowable at runtime
    // (PlanSpec asserts the dynamicpruning subquery in PartitionFilters).
    q("q121_dynamic_pruning", engine.Layout.dynamicPrunedJoin,
      """WITH ydim AS (
        |  SELECT CAST(year(l_shipdate) AS INT) AS o_year, COUNT(*) AS n_items,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returns
        |  FROM lineitem GROUP BY 1),
        |sel AS (SELECT o_year, CAST(n_returns * 1000000 // n_items AS BIGINT) AS return_ppm
        |        FROM ydim WHERE n_returns * 1000000 // n_items >= 200000)
        |SELECT o.o_year, s.return_ppm, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM (SELECT *, CAST(year(o_orderdate) AS INT) AS o_year FROM orders) o
        |JOIN sel s USING (o_year)
        |GROUP BY o.o_year, s.return_ppm ORDER BY o.o_year""".stripMargin),

    // Fixed-size deterministic sample: exactly k docs by md5-priority order —
    // content-addressed reservoir equivalent; TakeOrderedAndProject plan.
    q("q122_fixed_sample", (s, d) => ext.Sampling.fixedSizeSample(s, d),
      """SELECT doc_id, lang, source,
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT) AS sample_key
        |FROM documents
        |ORDER BY sample_key, doc_id LIMIT 200""".stripMargin),

    // Exact-moment correlation/OLS: BIGINT moment sums, one double conversion,
    // identical IEEE expression shape on both engines — hash-exact corr.
    q("q123_corr_slope", (s, d) => engine.Analytics.corrSlope(engine.Tables.lineitem(s, d)),
      """WITH m AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x*y) AS BIGINT) AS sxy,
        |    CAST(SUM(x*x) AS BIGINT) AS sx2, CAST(SUM(y*y) AS BIGINT) AS sy2
        |  FROM (SELECT l_returnflag, CAST(month(l_shipdate) AS BIGINT) AS x,
        |               CAST(l_quantity AS BIGINT) AS y FROM lineitem)
        |  GROUP BY l_returnflag),
        |v AS (SELECT *,
        |        CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
        |        CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy,
        |        CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS vxy
        |      FROM m)
        |SELECT l_returnflag, n, sx, sy,
        |  CASE WHEN vx > 0 AND vy > 0 THEN CAST(floor(vxy / sqrt(vx * vy) * 1000000.0) AS BIGINT) END AS corr_e6,
        |  CASE WHEN vx > 0 THEN CAST(floor(vxy / vx * 1000000.0) AS BIGINT) END AS slope_e6
        |FROM v ORDER BY l_returnflag""".stripMargin),

    // k-anonymity profile: quasi-identifier equivalence classes below k and
    // the share of customers they expose, per nation.
    q("q124_k_anonymity", (s, d) => engine.Quality.kAnonymity(engine.Tables.customer(s, d)),
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000.0) AS INT) AS bal_band, COUNT(*) AS grp_n
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT c_nationkey, COUNT(*) AS n_groups,
        |  CAST(SUM(CASE WHEN grp_n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS risky_groups,
        |  CAST(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS BIGINT) AS risky_customers,
        |  CAST(SUM(grp_n) AS BIGINT) AS n_customers,
        |  CAST(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) * 1000000 // SUM(grp_n) AS BIGINT) AS risky_ppm
        |FROM g GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),

    // Bounded-prefix edit distance over LSH candidate pairs: the order-aware
    // verifier beside Jaccard (q61); cost bounded by candidates x prefix².
    q("q125_edit_distance", (s, d) => ext.Dedup.editDistancePairs(s, d),
      s"""WITH $bandsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |         GROUP BY doc_a, doc_b),
         |h AS (SELECT doc_id, substr(regexp_replace(text, '[ \\t\\n\\f\\r\\x0B]+', ' ', 'g'), 1, 160) AS head
         |      FROM documents)
         |SELECT c.doc_a, c.doc_b,
         |  CAST(levenshtein(ha.head, hb.head) AS BIGINT) AS lev,
         |  CAST(greatest(length(ha.head), length(hb.head)) AS BIGINT) AS max_len,
         |  CAST((greatest(length(ha.head), length(hb.head)) - levenshtein(ha.head, hb.head)) * 1000000
         |       // greatest(length(ha.head), length(hb.head)) AS BIGINT) AS sim_ppm
         |FROM cand c JOIN h ha ON ha.doc_id = c.doc_a JOIN h hb ON hb.doc_id = c.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin),

    // Quality-based canonical selection per duplicate cluster (best doc, not
    // min id): one cluster-sized window over clusters ⋈ quality.
    q("q138_canonical_selection", (s, d) => ext.Dedup.canonicalSelection(s, d),
      s"""WITH RECURSIVE $bandsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |         GROUP BY doc_a, doc_b),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |          UNION SELECT doc_b, doc_a FROM cand),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id),
         |labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |qual AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |           length(text) >= 100 AND length(text) <= 20000
         |             AND len(string_split(text, ' ')) >= 20
         |             AND len(list_filter(string_split(text, ' '), w -> w IN $stop9)) > 0
         |             AS passes_quality
         |         FROM documents),
         |r AS (SELECT l.doc_id, l.cluster_id, q.n_chars, q.passes_quality,
         |        first_value(l.doc_id) OVER (PARTITION BY l.cluster_id
         |          ORDER BY q.passes_quality DESC, q.n_chars DESC, l.doc_id) AS canonical_id
         |      FROM labels l JOIN qual q ON q.doc_id = l.doc_id)
         |SELECT doc_id, cluster_id, n_chars, passes_quality, canonical_id,
         |  doc_id = canonical_id AS is_canonical
         |FROM r ORDER BY doc_id""".stripMargin),

    // Budgeted edit-distance gate via the native banded expression: exact
    // distances <= k, sentinel k+1 beyond (= the oracle's least()).
    q("q137_bounded_lev", (s, d) => ext.Dedup.editDistanceGate(s, d),
      s"""WITH $bandsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |         GROUP BY doc_a, doc_b),
         |h AS (SELECT doc_id, substr(regexp_replace(text, '[ \\t\\n\\f\\r\\x0B]+', ' ', 'g'), 1, 160) AS head
         |      FROM documents)
         |SELECT c.doc_a, c.doc_b,
         |  CAST(LEAST(levenshtein(ha.head, hb.head), 9) AS BIGINT) AS lev_k,
         |  LEAST(levenshtein(ha.head, hb.head), 9) <= 8 AS within_budget
         |FROM cand c JOIN h ha ON ha.doc_id = c.doc_a JOIN h hb ON hb.doc_id = c.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin),

    // BPE merge-pair counting: the distributed step of BPE vocab induction.
    q("q126_bpe_pairs", (s, d) => ext.TextStats.bpePairs(s, d),
      """WITH words AS (
        |  SELECT unnest(string_split_regex(lower(text), '[ \t\n\f\r\x0B]+')) AS w FROM documents),
        |pairs AS (
        |  SELECT substr(w, CAST(i AS INT), 2) AS pair
        |  FROM (SELECT w, unnest(range(1, length(w))) AS i
        |        FROM words WHERE regexp_full_match(w, '[a-z]+') AND length(w) >= 2))
        |SELECT pair, COUNT(*) AS n_pair FROM pairs GROUP BY pair
        |ORDER BY n_pair DESC, pair LIMIT 50""".stripMargin),

    // Temperature (alpha = 0.5) mixture weights as exact integers.
    q("q127_temperature_mixture", (s, d) => ext.Sampling.temperatureMixture(s, d),
      """WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        |w AS (SELECT source, n_docs, CAST(round(sqrt(n_docs) * 1000) AS BIGINT) AS w_milli FROM c)
        |SELECT source, n_docs, w_milli,
        |  CAST(w_milli * 1000000 // (SELECT CAST(SUM(w_milli) AS BIGINT) FROM w) AS BIGINT) AS share_ppm
        |FROM w ORDER BY source""".stripMargin),

    // Declarative expectation suite: N rules, ONE scan (Deequ analyzer-batch
    // shape), unpivoted to per-rule rows.
    q("q128_expectations", engine.Quality.orderExpectations,
      """WITH a AS (SELECT
        |  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS r_null,
        |  CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS r_uniq,
        |  CAST(SUM(CASE WHEN o_totalprice < 0 OR o_totalprice > 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS r_range,
        |  CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS r_dom,
        |  CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
        |                  OR o_orderdate >= TIMESTAMP '2002-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS r_date
        | FROM orders)
        |SELECT 'orderkey_not_null' AS rule_name, r_null AS violations, r_null = 0 AS passed FROM a
        |UNION ALL SELECT 'orderkey_unique', r_uniq, r_uniq = 0 FROM a
        |UNION ALL SELECT 'totalprice_in_range', r_range, r_range = 0 FROM a
        |UNION ALL SELECT 'status_in_domain', r_dom, r_dom = 0 FROM a
        |UNION ALL SELECT 'orderdate_in_window', r_date, r_date = 0 FROM a
        |ORDER BY rule_name""".stripMargin),

    // Order-independent content checksum: commutative bit_xor of canonical
    // row hashes — replica/migration divergence check without sorting.
    q("q129_table_fingerprint", engine.Quality.tableFingerprint,
      """WITH f AS (SELECT o_orderpriority,
        |  CAST(('0x' || substr(md5(
        |    COALESCE(CAST(o_orderkey AS VARCHAR), '\N') || '|' ||
        |    COALESCE(CAST(o_custkey AS VARCHAR), '\N') || '|' ||
        |    COALESCE(o_orderstatus, '\N') || '|' ||
        |    COALESCE(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), '\N') || '|' ||
        |    COALESCE(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), '\N')), 1, 15)) AS BIGINT) AS fp
        |  FROM orders)
        |SELECT o_orderpriority, COUNT(*) AS n_rows,
        |  CAST(bit_xor(fp) AS BIGINT) AS fingerprint
        |FROM f GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // Corpus boilerplate share: high-doc-frequency shingles -> per-doc ppm.
    q("q130_boilerplate", (s, d) => ext.TextStats.boilerplateShare(s, d),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        |sh AS (SELECT DISTINCT doc_id,
        |         ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1] || ' ' || ws[CAST(i AS INT) + 2] AS sh
        |       FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM w)),
        |t AS (SELECT COUNT(*) AS n_total FROM documents),
        |b AS (SELECT d.sh AS bsh FROM (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh) d, t
        |      WHERE d.df * 1000000 >= 10000 * t.n_total)
        |SELECT s.doc_id, COUNT(*) AS n_shingles,
        |  CAST(SUM(CASE WHEN b.bsh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |  CAST(SUM(CASE WHEN b.bsh IS NOT NULL THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS boiler_ppm
        |FROM sh s LEFT JOIN b ON s.sh = b.bsh
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin),

    // Null-key skew guard: null FKs bypass the exchange; output identical to
    // the naive LEFT join (the oracle) — PlanSpec asserts the split.
    q("q131_null_skew_join", engine.Skew.nullSkewJoin,
      """WITH o AS (SELECT o_orderkey, o_totalprice,
        |    CASE WHEN o_orderkey % 3 <> 0 THEN o_custkey END AS loyalty_key FROM orders)
        |SELECT COALESCE(c_mktsegment, 'NO_PROGRAM') AS segment,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM o LEFT JOIN customer ON loyalty_key = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Pure-SQL surface: the same engine through spark.sql over registered
    // views; the oracle is the IDENTICAL SQL text run by DuckDB.
    q("q132_sql_surface", RelOps.sqlShippingPriority,
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
        |LIMIT 10""".stripMargin),

    // Triangle counts on the LSH candidate graph: degree-ordered edge
    // orientation (each triangle counted once at its min-order vertex).
    q("q134_triangles", (s, d) => ext.Dedup.candidateTriangles(s, d),
      s"""WITH $bandsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |         GROUP BY doc_a, doc_b),
         |deg AS (SELECT v, COUNT(*) AS deg FROM (
         |          SELECT doc_a AS v FROM cand UNION ALL SELECT doc_b FROM cand) u GROUP BY v),
         |e AS (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.doc_a < c.doc_b)
         |                  THEN c.doc_a ELSE c.doc_b END AS src,
         |             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.doc_a < c.doc_b)
         |                  THEN c.doc_b ELSE c.doc_a END AS dst
         |      FROM cand c JOIN deg da ON da.v = c.doc_a JOIN deg db ON db.v = c.doc_b),
         |w AS (SELECT e1.src, e1.dst AS w1, e2.dst AS w2
         |      FROM e e1 JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst),
         |tri AS (SELECT w.src, w.w1, w.w2
         |        FROM w JOIN cand ON w.w1 = cand.doc_a AND w.w2 = cand.doc_b)
         |SELECT doc_id, COUNT(*) AS n_triangles FROM (
         |  SELECT src AS doc_id FROM tri
         |  UNION ALL SELECT w1 FROM tri
         |  UNION ALL SELECT w2 FROM tri) corners
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Referential-integrity audit: orphan counts per FK edge of the star
    // (NULL child keys are not orphans — SQL FK semantics).
    q("q135_referential_integrity", engine.Quality.referentialIntegrity,
      """WITH
        |e1 AS (SELECT COUNT(*) AS n_rows,
        |         CAST(SUM(CASE WHEN p.pk IS NULL AND c.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        |       FROM (SELECT l_orderkey AS k FROM lineitem) c
        |       LEFT JOIN (SELECT DISTINCT o_orderkey AS pk FROM orders) p ON c.k = p.pk),
        |e2 AS (SELECT COUNT(*) AS n_rows,
        |         CAST(SUM(CASE WHEN p.pk IS NULL AND c.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        |       FROM (SELECT l_partkey AS k FROM lineitem) c
        |       LEFT JOIN (SELECT DISTINCT p_partkey AS pk FROM part) p ON c.k = p.pk),
        |e3 AS (SELECT COUNT(*) AS n_rows,
        |         CAST(SUM(CASE WHEN p.pk IS NULL AND c.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        |       FROM (SELECT l_suppkey AS k FROM lineitem) c
        |       LEFT JOIN (SELECT DISTINCT s_suppkey AS pk FROM supplier) p ON c.k = p.pk),
        |e4 AS (SELECT COUNT(*) AS n_rows,
        |         CAST(SUM(CASE WHEN p.pk IS NULL AND c.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        |       FROM (SELECT o_custkey AS k FROM orders) c
        |       LEFT JOIN (SELECT DISTINCT c_custkey AS pk FROM customer) p ON c.k = p.pk)
        |SELECT * FROM (
        |  SELECT 'lineitem.l_orderkey->orders' AS fk_edge, n_rows, n_orphans,
        |    CAST(n_orphans * 1000000 // n_rows AS BIGINT) AS orphan_ppm FROM e1
        |  UNION ALL SELECT 'lineitem.l_partkey->part', n_rows, n_orphans,
        |    CAST(n_orphans * 1000000 // n_rows AS BIGINT) FROM e2
        |  UNION ALL SELECT 'lineitem.l_suppkey->supplier', n_rows, n_orphans,
        |    CAST(n_orphans * 1000000 // n_rows AS BIGINT) FROM e3
        |  UNION ALL SELECT 'orders.o_custkey->customer', n_rows, n_orphans,
        |    CAST(n_orphans * 1000000 // n_rows AS BIGINT) FROM e4) u
        |ORDER BY fk_edge""".stripMargin),

    // JSON key histogram per event type: the schema-drift monitor ahead of
    // the typed parse (q99).
    q("q136_json_keys", RelOps.jsonKeyHistogram,
      """WITH t AS (SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type),
        |k AS (SELECT event_type, unnest(json_keys(props)) AS json_key
        |      FROM events WHERE json_valid(props))
        |SELECT k.event_type, k.json_key, COUNT(*) AS n_with_key,
        |  CAST(COUNT(*) * 1000000 // t.n_events AS BIGINT) AS coverage_ppm
        |FROM k JOIN t ON k.event_type = t.event_type
        |GROUP BY k.event_type, k.json_key, t.n_events
        |ORDER BY k.event_type, k.json_key""".stripMargin),

    // Rolling 7-day distinct users: dedup to (day, user), explode to the 7
    // window anchors, plain groupBy — no per-day re-scan of the raw events.
    q("q133_rolling_distinct", RelOps.rollingDistinctUsers,
      """WITH du AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id FROM events),
        |dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY day),
        |wau AS (SELECT day + k.k AS day, COUNT(DISTINCT user_id) AS wau
        |        FROM du CROSS JOIN (SELECT unnest(range(0, 7)) AS k) k
        |        GROUP BY 1)
        |SELECT dau.day, dau.dau, wau.wau
        |FROM dau JOIN wau ON dau.day = wau.day
        |ORDER BY dau.day""".stripMargin),

    // BM25 retrieval for a fixed query-term set: inverted-index-shaped tf
    // filter, broadcast corpus stats, per-term scores summed in a FIXED
    // term order (both engines add the same doubles left-to-right).
    q("q139_bm25", (s, d) => ext.TextStats.bm25Retrieval(s, d),
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |qt AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
         |       WHERE term IN $bm25Terms GROUP BY doc_id, term),
         |dfx AS (SELECT term, COUNT(*) AS df FROM qt GROUP BY term),
         |dlx AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
         |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dlx),
         |sc AS (SELECT qt.doc_id, qt.term,
         |         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2) /
         |           (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))) AS term_score
         |       FROM qt JOIN dfx USING (term) JOIN dlx USING (doc_id) CROSS JOIN st),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_terms_matched,
         |$bm25PivotSql
         |        FROM sc GROUP BY doc_id),
         |fin AS (SELECT doc_id, n_terms_matched, $bm25SumSql AS raw_score FROM agg)
         |SELECT doc_id, n_terms_matched, round(raw_score, 6) AS score
         |FROM fin ORDER BY raw_score DESC, doc_id LIMIT 15""".stripMargin),

    // Split-leakage audit: near-dup clusters spanning train/val/test.
    q("q140_split_leakage", (s, d) => ext.Dedup.splitLeakage(s, d),
      s"""WITH RECURSIVE $bandsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |         GROUP BY doc_a, doc_b),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |          UNION SELECT doc_b, doc_a FROM cand),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id),
         |labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |sp AS (SELECT doc_id, ${splitCaseSql("doc_id")} AS split FROM documents),
         |g AS (SELECT l.cluster_id, COUNT(*) AS n_docs,
         |        CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         |        CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
         |        CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
         |      FROM labels l JOIN sp USING (doc_id) GROUP BY l.cluster_id)
         |SELECT cluster_id, n_docs, n_train, n_val, n_test,
         |  ((CASE WHEN n_train > 0 THEN 1 ELSE 0 END) +
         |   (CASE WHEN n_val > 0 THEN 1 ELSE 0 END) +
         |   (CASE WHEN n_test > 0 THEN 1 ELSE 0 END)) > 1 AS leaks
         |FROM g WHERE n_docs >= 2 ORDER BY cluster_id""".stripMargin),

    // Deterministic count-min sketch (4 x 512, md5 row hashes) vs exact
    // counts for the top-20 tokens — sketch table <= 2048 rows at any scale.
    q("q141_countmin", (s, d) => ext.TextStats.countMinSketch(s, d),
      """WITH c AS (SELECT term, COUNT(*) AS exact_count
        |           FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |           GROUP BY term),
        |u AS (SELECT term, exact_count, CAST(t.r AS INT) AS hash_row,
        |        CAST(('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' || term), 1, 7)) AS BIGINT) % 512 AS bucket
        |      FROM c, LATERAL (SELECT unnest(range(0, 4)) AS r) t),
        |sk AS (SELECT hash_row, bucket, CAST(SUM(exact_count) AS BIGINT) AS bucket_total
        |       FROM u GROUP BY hash_row, bucket),
        |est AS (SELECT u.term, u.exact_count, MIN(bucket_total) AS cms_estimate
        |        FROM u JOIN sk USING (hash_row, bucket) GROUP BY u.term, u.exact_count)
        |SELECT term, exact_count, cms_estimate,
        |  CAST((cms_estimate - exact_count) * 1000000 // exact_count AS BIGINT) AS over_ppm
        |FROM est ORDER BY exact_count DESC, term LIMIT 20""".stripMargin),

    // Debounce / burst collapse per (user, event_type): 2-hour gap, kept
    // representative + suppressed count per burst.
    q("q142_event_debounce", (s, d) => streaming.Events.eventDebounce(s, d),
      """WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events),
        |x AS (SELECT *, lag(us) OVER (PARTITION BY user_id, event_type ORDER BY us, event_id) AS prev_us
        |      FROM e),
        |y AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 7200000000 THEN 1 ELSE 0 END AS is_new
        |      FROM x),
        |z AS (SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id, event_type ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS burst_idx
        |      FROM y)
        |SELECT user_id, event_type, burst_idx, COUNT(*) AS n_events,
        |  MIN(event_id) AS kept_event_id,
        |  CAST((MAX(us) - MIN(us)) // 1000000 AS BIGINT) AS span_s,
        |  COUNT(*) - 1 AS n_suppressed
        |FROM z GROUP BY user_id, event_type, burst_idx
        |ORDER BY user_id, event_type, burst_idx""".stripMargin),

    // Rank-ensemble curation score: three integer signals ranked per lang,
    // blended by exact rank sum.
    q("q143_rank_ensemble", ext.TextStats.qualityRankEnsemble,
      s"""WITH s AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS words FROM documents),
         |sig AS (SELECT doc_id, lang, n_chars,
         |          CAST(len(list_distinct(words)) * 1000000 // len(words) AS BIGINT) AS distinct_ppm,
         |          CAST(len(list_filter(words, w -> w IN $stop9)) * 1000000 // len(words) AS BIGINT) AS stop_ppm
         |        FROM s),
         |r AS (SELECT *,
         |        CAST(rank() OVER (PARTITION BY lang ORDER BY n_chars DESC) AS BIGINT) AS rank_len,
         |        CAST(rank() OVER (PARTITION BY lang ORDER BY distinct_ppm DESC) AS BIGINT) AS rank_diversity,
         |        CAST(rank() OVER (PARTITION BY lang ORDER BY stop_ppm DESC) AS BIGINT) AS rank_stopword
         |      FROM sig),
         |f AS (SELECT *, rank_len + rank_diversity + rank_stopword AS rank_sum FROM r)
         |SELECT doc_id, lang, n_chars, distinct_ppm, stop_ppm,
         |  rank_len, rank_diversity, rank_stopword, rank_sum,
         |  CAST(row_number() OVER (PARTITION BY lang ORDER BY rank_sum, doc_id) AS INT) AS final_rank
         |FROM f ORDER BY doc_id""".stripMargin),

    // Intra-bucket diversity in O(n) per bucket via the sum-vector identity
    // on SQ8 codes (exact integers; never the O(n^2) pair enumeration).
    q("q144_bucket_diversity", ext.Similarity.bucketDiversity,
      s"""WITH $vecsCte,
         |b AS (SELECT vec_id, v, CAST($lshBucketExpr AS INT) AS bucket FROM n),
         |m AS (SELECT vec_id, bucket, v, list_min(v) AS mn, list_max(v) AS mx FROM b),
         |cdx AS (SELECT vec_id, bucket, $sq8CodesSql AS codes FROM m),
         |sd AS (SELECT bucket, COUNT(*) AS n_vectors,
         |         CAST(SUM(list_sum(list_transform(codes, x -> CAST(x AS BIGINT) * x))) AS BIGINT) AS self_dot_sum
         |       FROM cdx GROUP BY bucket),
         |dimx AS (SELECT bucket, CAST(t.d AS INT) AS pos, codes[CAST(t.d AS INT)] AS code
         |         FROM cdx, LATERAL (SELECT unnest(range(1, len(codes) + 1)) AS d) t),
         |ds AS (SELECT bucket, pos, CAST(SUM(code) AS BIGINT) AS s FROM dimx GROUP BY bucket, pos),
         |dss AS (SELECT bucket, CAST(SUM(s * s) AS BIGINT) AS dot_ss FROM ds GROUP BY bucket)
         |SELECT sd.bucket, sd.n_vectors,
         |  sd.n_vectors * (sd.n_vectors - 1) // 2 AS n_pairs,
         |  (dss.dot_ss - sd.self_dot_sum) // 2 AS pair_dot_sum,
         |  ((dss.dot_ss - sd.self_dot_sum) // 2) // (sd.n_vectors * (sd.n_vectors - 1) // 2) AS avg_pair_dot
         |FROM sd JOIN dss USING (bucket) WHERE sd.n_vectors >= 2
         |ORDER BY sd.bucket""".stripMargin),

    // Leakage-free split: clusters assigned to one split atomically by the
    // cluster id; the doc-level vs cluster-level splits are both emitted.
    q("q146_cluster_safe_split", (s, d) => ext.Dedup.clusterSafeSplit(s, d),
      s"""WITH RECURSIVE $bandsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |         GROUP BY doc_a, doc_b),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |          UNION SELECT doc_b, doc_a FROM cand),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id),
         |labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |j AS (SELECT d.doc_id, l.cluster_id,
         |        coalesce(l.cluster_id, d.doc_id) AS effective_key
         |      FROM documents d LEFT JOIN labels l USING (doc_id))
         |SELECT doc_id, effective_key, cluster_id IS NOT NULL AS in_cluster,
         |  ${splitCaseSql("doc_id")} AS doc_split,
         |  ${splitCaseSql("effective_key")} AS assigned_split,
         |  ${splitCaseSql("doc_id")} <> ${splitCaseSql("effective_key")} AS moved
         |FROM j ORDER BY doc_id""".stripMargin),

    // Over-represented-source quota: content-addressed priority rank per
    // source, auditable kept/dropped verdict.
    q("q147_source_quota", (s, d) => ext.Sampling.sourceQuotaCap(s, d),
      """SELECT doc_id, source, priority_rank, priority_rank <= 20 AS kept
        |FROM (SELECT doc_id, source,
        |        CAST(row_number() OVER (PARTITION BY source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS priority_rank
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin),

    // Embedding drift per label between corpus halves: exact-integer L1 on
    // SQ8 centroid sums via cross-multiplication, ppm of max.
    q("q148_label_drift", ext.Similarity.labelDrift,
      s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |m AS (SELECT vec_id, label, vec_id % 2 = 0 AS is_a, v, list_min(v) AS mn, list_max(v) AS mx FROM e),
         |c AS (SELECT vec_id, label, is_a, $sq8CodesSql AS codes FROM m),
         |pd AS (SELECT label, CAST(t.d AS INT) AS pos,
         |         CAST(SUM(CASE WHEN is_a THEN codes[CAST(t.d AS INT)] ELSE 0 END) AS BIGINT) AS sum_a,
         |         CAST(SUM(CASE WHEN NOT is_a THEN codes[CAST(t.d AS INT)] ELSE 0 END) AS BIGINT) AS sum_b
         |       FROM c, LATERAL (SELECT unnest(range(1, len(codes) + 1)) AS d) t
         |       GROUP BY label, pos),
         |ct AS (SELECT label,
         |         CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |         CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |         CAST(MAX(len(codes)) AS BIGINT) AS n_dims
         |       FROM c GROUP BY label),
         |agg AS (SELECT pd.label, n_a, n_b, n_dims,
         |          CAST(SUM(abs(sum_a * n_b - sum_b * n_a)) AS BIGINT) AS l1_cross
         |        FROM pd JOIN ct USING (label) GROUP BY pd.label, n_a, n_b, n_dims)
         |SELECT label, n_a, n_b,
         |  CAST(l1_cross * 1000000 // (255 * n_a * n_b * n_dims) AS BIGINT) AS drift_ppm
         |FROM agg WHERE n_a > 0 AND n_b > 0 ORDER BY label""".stripMargin),

    // Deterministic round-robin training order across sources.
    q("q149_interleave_order", ext.Sampling.interleaveOrder,
      """WITH si AS (SELECT source, CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS source_idx
        |            FROM (SELECT DISTINCT source FROM documents)),
        |ns AS (SELECT COUNT(*) AS n_sources FROM si),
        |r AS (SELECT doc_id, source,
        |        CAST(row_number() OVER (PARTITION BY source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rank_in_source
        |      FROM documents)
        |SELECT r.doc_id, r.source, r.rank_in_source, si.source_idx,
        |  (r.rank_in_source - 1) * ns.n_sources + si.source_idx AS global_order
        |FROM r JOIN si USING (source) CROSS JOIN ns
        |ORDER BY global_order""".stripMargin),

    // Shuffle-free MinHash banding: identical table to q28, computed as a
    // pure projection (HOF fold per row) — zero exchanges before the sort.
    q("q150_minhash_inline", (s, d) => ext.Dedup.minhashBandsInline(s, d),
      s"""WITH $bandsCte
         |SELECT doc_id, band_idx, band_hash FROM bands ORDER BY doc_id, band_idx""".stripMargin),

    // Hybrid retrieval: integer reciprocal-rank fusion of the BM25 top-100
    // and an exact-phrase-count top-100 (k = 60).
    q("q151_rrf_fusion", (s, d) => ext.TextStats.rrfFusion(s, d),
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         |qt AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
         |       WHERE term IN $bm25Terms GROUP BY doc_id, term),
         |dfx AS (SELECT term, COUNT(*) AS df FROM qt GROUP BY term),
         |dlx AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
         |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dlx),
         |sc AS (SELECT qt.doc_id, qt.term,
         |         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2) /
         |           (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))) AS term_score
         |       FROM qt JOIN dfx USING (term) JOIN dlx USING (doc_id) CROSS JOIN st),
         |agg AS (SELECT doc_id,
         |$bm25PivotSql
         |        FROM sc GROUP BY doc_id),
         |fin AS (SELECT doc_id, $bm25SumSql AS raw_score FROM agg),
         |bmtop AS (SELECT doc_id, raw_score FROM fin ORDER BY raw_score DESC, doc_id LIMIT 100),
         |bmr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY raw_score DESC, doc_id) AS BIGINT) AS bm25_rank FROM bmtop),
         |ph AS (SELECT doc_id, CAST(len(string_split(text, '${ext.TextStats.RrfPhrase}')) - 1 AS BIGINT) AS phrase_count FROM documents),
         |phtop AS (SELECT doc_id, phrase_count FROM ph WHERE phrase_count > 0
         |          ORDER BY phrase_count DESC, doc_id LIMIT 100),
         |phr AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY phrase_count DESC, doc_id) AS BIGINT) AS phrase_rank FROM phtop),
         |f AS (SELECT coalesce(b.doc_id, p.doc_id) AS doc_id,
         |        coalesce(b.bm25_rank, 0) AS bm25_rank,
         |        coalesce(p.phrase_rank, 0) AS phrase_rank,
         |        coalesce(1000000 // (60 + b.bm25_rank), 0) +
         |          coalesce(1000000 // (60 + p.phrase_rank), 0) AS rrf_score
         |      FROM bmr b FULL OUTER JOIN phr p ON b.doc_id = p.doc_id)
         |SELECT doc_id, bm25_rank, phrase_rank, rrf_score
         |FROM f ORDER BY rrf_score DESC, doc_id LIMIT 10""".stripMargin),

    // Exact median/p90 from the value histogram — order statistics without
    // sorting rows; the cumulative window runs over |groups| x |values|.
    q("q152_percentiles_by_counting", RelOps.percentilesByCounting,
      """WITH hist AS (SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS v, COUNT(*) AS c
        |              FROM lineitem GROUP BY 1, 2),
        |cum AS (SELECT *,
        |          CAST(SUM(c) OVER (PARTITION BY flag ORDER BY v
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |          CAST(SUM(c) OVER (PARTITION BY flag) AS BIGINT) AS n
        |        FROM hist),
        |med AS (SELECT flag, n, MIN(v) AS median_qty FROM cum WHERE cum >= (n + 1) // 2 GROUP BY flag, n),
        |p90 AS (SELECT flag, n, MIN(v) AS p90_qty FROM cum WHERE cum >= (9 * n + 9) // 10 GROUP BY flag, n)
        |SELECT med.flag, med.n AS n_rows, median_qty, p90_qty
        |FROM med JOIN p90 ON med.flag = p90.flag
        |ORDER BY med.flag""".stripMargin),

    // Equi-depth range-bucket bounds + balance audit from the value
    // histogram (the exact-arithmetic repartitionByRange bounds).
    q("q153_equi_depth_buckets", (s, d) => RelOps.equiDepthBuckets(s, d),
      """WITH hist AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS v, COUNT(*) AS c
        |              FROM orders GROUP BY 1),
        |n_t AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM hist),
        |cum AS (SELECT v, c, CAST(SUM(c) OVER (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |        FROM hist),
        |ks AS (SELECT unnest(range(1, 8)) AS k),
        |bounds AS (SELECT ks.k, cum.v AS bound
        |           FROM cum CROSS JOIN n_t CROSS JOIN ks
        |           WHERE cum * 8 >= k * n AND (cum - c) * 8 < k * n),
        |bl AS (SELECT list_sort(list(bound)) AS bs FROM bounds),
        |b AS (SELECT cum.v, cum.c, n_t.n,
        |        CAST(len(list_filter(bl.bs, x -> x < cum.v)) AS INT) AS bucket_idx
        |      FROM cum CROSS JOIN n_t CROSS JOIN bl)
        |SELECT bucket_idx, MIN(v) AS lo, MAX(v) AS hi, CAST(SUM(c) AS BIGINT) AS n_rows,
        |  CAST(SUM(c) * 1000000 // n AS BIGINT) AS share_ppm
        |FROM b GROUP BY bucket_idx, n ORDER BY bucket_idx""".stripMargin),

    // Two-hop candidate expansion over the near-dup graph: direct degree,
    // distinct 2-hop reach, and the NEW nodes a second dedup pass would add.
    q("q154_two_hop", (s, d) => ext.Dedup.twoHopNeighbors(s, d),
      s"""WITH RECURSIVE $bandsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |         GROUP BY doc_a, doc_b),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |          UNION ALL SELECT doc_b, doc_a FROM cand),
         |deg AS (SELECT src, COUNT(*) AS n_neighbors FROM edges GROUP BY src),
         |twohop AS (SELECT DISTINCT e1.src, e2.dst
         |           FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
         |           WHERE e1.src <> e2.dst),
         |newhop AS (SELECT t.src, t.dst FROM twohop t
         |           LEFT JOIN edges e ON e.src = t.src AND e.dst = t.dst
         |           WHERE e.src IS NULL),
         |tot AS (SELECT src, COUNT(*) AS n_two_hop FROM twohop GROUP BY src),
         |nw AS (SELECT src, COUNT(*) AS n_two_hop_new FROM newhop GROUP BY src)
         |SELECT deg.src AS doc_id, deg.n_neighbors,
         |  coalesce(tot.n_two_hop, 0) AS n_two_hop,
         |  coalesce(nw.n_two_hop_new, 0) AS n_two_hop_new
         |FROM deg LEFT JOIN tot ON tot.src = deg.src LEFT JOIN nw ON nw.src = deg.src
         |ORDER BY doc_id""".stripMargin),

    // Blocked record linkage on the customer dim: (nation, segment) blocking
    // + budgeted edit-distance verifier, matched pairs with exact distance.
    q("q155_record_linkage", (s, d) => ext.Dedup.recordLinkage(s, d),
      """SELECT a.c_nationkey AS nationkey, a.c_mktsegment AS mktsegment,
        |  a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS lev
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        | AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2
        |ORDER BY custkey_a, custkey_b""".stripMargin),

    // Half-life-decayed engagement per user: staircase shift decay in exact
    // integer cents (pow()-free, order-independent, retry-safe).
    q("q156_decayed_engagement", (s, d) => streaming.Events.decayedEngagement(s, d),
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |           FROM events),
        |r AS (SELECT MAX(day) AS ref_day FROM e),
        |d AS (SELECT user_id, cents,
        |        cents // (CAST(1 AS BIGINT) << CAST(least((ref_day - day) // 7, 40) AS INT)) AS decayed_cents
        |      FROM e CROSS JOIN r)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(cents) AS BIGINT) AS raw_cents,
        |  CAST(SUM(decayed_cents) AS BIGINT) AS decayed_cents
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin),

    // Containment (near-subset) per candidate pair: |A ∩ B| / min(|A|, |B|)
    // in exact ppm — catches quote/excerpt inclusion Jaccard misses.
    q("q157_containment", (s, d) => ext.Dedup.containmentPairs(s, d),
      s"""WITH $bandsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |         GROUP BY doc_a, doc_b),
         |ids AS (SELECT doc_a AS doc_id FROM cand UNION SELECT doc_b FROM cand),
         |cs AS (SELECT s.doc_id, s.sh FROM sh s JOIN ids USING (doc_id)),
         |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM cs GROUP BY doc_id),
         |common AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
         |           FROM cand c
         |           JOIN cs sa ON sa.doc_id = c.doc_a
         |           JOIN cs sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
         |           GROUP BY c.doc_a, c.doc_b)
         |SELECT c.doc_a, c.doc_b, ca.n_sh AS n_a, cb.n_sh AS n_b,
         |  coalesce(cm.n_common, 0) AS n_common,
         |  CAST(coalesce(cm.n_common, 0) * 1000000 // least(ca.n_sh, cb.n_sh) AS BIGINT) AS containment_ppm
         |FROM cand c
         |JOIN counts ca ON ca.doc_id = c.doc_a
         |JOIN counts cb ON cb.doc_id = c.doc_b
         |LEFT JOIN common cm ON cm.doc_a = c.doc_a AND cm.doc_b = c.doc_b
         |ORDER BY c.doc_a, c.doc_b""".stripMargin),

    // Source concentration: exact-integer Gini over per-source token masses
    // + smallest source counts covering 50%/90% of the corpus.
    q("q158_source_concentration", ext.TextStats.sourceConcentration,
      """WITH m AS (SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS m
        |           FROM documents GROUP BY source),
        |x AS (SELECT *,
        |        CAST(row_number() OVER (ORDER BY m, source) AS BIGINT) AS i,
        |        CAST(SUM(m) OVER () AS BIGINT) AS total,
        |        CAST(SUM(m) OVER (ORDER BY m DESC, source
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_desc,
        |        CAST(row_number() OVER (ORDER BY m DESC, source) AS BIGINT) AS rank_desc
        |      FROM m)
        |SELECT COUNT(*) AS n_sources,
        |  MAX(total) AS total_tokens,
        |  CAST((2 * SUM(i * m) - (COUNT(*) + 1) * MAX(total)) * 1000000
        |       // (COUNT(*) * MAX(total)) AS BIGINT) AS gini_ppm,
        |  MIN(CASE WHEN cum_desc >= (total + 1) // 2 THEN rank_desc END) AS k50,
        |  MIN(CASE WHEN cum_desc >= (9 * total + 9) // 10 THEN rank_desc END) AS k90
        |FROM x""".stripMargin),

    // Classifier eval: per-class precision/recall ppm of the lang-id
    // heuristic against the ground-truth lang column.
    q("q159_langid_eval", ext.TextStats.langIdEval,
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents),
        |p AS (SELECT doc_id, lang,
        |        len(list_filter(words, w -> w IN ('the','a','of','and','is','to','in'))) AS en_m,
        |        len(list_filter(words, w -> w IN ('el','la','de','y','que','los'))) AS es_m,
        |        len(list_filter(words, w -> w IN ('le','la','de','et','les','des'))) AS fr_m
        |      FROM t),
        |pr AS (SELECT doc_id, lang,
        |         CASE WHEN en_m >= es_m AND en_m >= fr_m AND en_m > 0 THEN 'en'
        |              WHEN es_m >= fr_m AND es_m > 0 THEN 'es'
        |              WHEN fr_m > 0 THEN 'fr'
        |              ELSE 'unknown' END AS predicted_lang
        |       FROM p),
        |cells AS (SELECT lang, predicted_lang, COUNT(*) AS n FROM pr GROUP BY lang, predicted_lang),
        |bt AS (SELECT lang AS cls, CAST(SUM(n) AS BIGINT) AS n_true,
        |         CAST(SUM(CASE WHEN predicted_lang = lang THEN n ELSE 0 END) AS BIGINT) AS n_correct
        |       FROM cells GROUP BY lang),
        |bp AS (SELECT predicted_lang AS cls, CAST(SUM(n) AS BIGINT) AS n_pred FROM cells GROUP BY predicted_lang)
        |SELECT coalesce(bt.cls, bp.cls) AS cls,
        |  coalesce(n_true, 0) AS n_true, coalesce(n_pred, 0) AS n_pred,
        |  coalesce(n_correct, 0) AS n_correct,
        |  CASE WHEN coalesce(n_pred, 0) > 0
        |       THEN CAST(coalesce(n_correct, 0) * 1000000 // n_pred AS BIGINT) ELSE 0 END AS precision_ppm,
        |  CASE WHEN coalesce(n_true, 0) > 0
        |       THEN CAST(coalesce(n_correct, 0) * 1000000 // n_true AS BIGINT) ELSE 0 END AS recall_ppm
        |FROM bt FULL OUTER JOIN bp ON bt.cls = bp.cls
        |ORDER BY cls""".stripMargin),

    // Exact ROC-AUC of the en-marker score against lang='en', via the
    // Mann-Whitney U on the score histogram (doubled average ranks — exact
    // integers for ties; cross-products in DECIMAL/HUGEINT).
    q("q160_roc_auc", ext.Eval.rocAuc,
      """WITH t AS (SELECT lang,
        |    len(list_filter(string_split(text, ' '),
        |        w -> w IN ('the','a','of','and','is','to','in'))) AS score
        |  FROM documents),
        |h AS (SELECT score, CAST(COUNT(*) AS HUGEINT) AS c,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS HUGEINT) AS p
        |  FROM t GROUP BY score),
        |g AS (SELECT c, p,
        |    COALESCE(SUM(c) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM h),
        |a AS (SELECT SUM(c) AS n, SUM(p) AS n_pos,
        |    SUM(p * (2 * (cum_before + 1) + c - 1)) AS sum2 FROM g)
        |SELECT CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
        |  CAST(n - n_pos AS BIGINT) AS n_neg,
        |  CAST(sum2 - n_pos * (n_pos + 1) AS BIGINT) AS u2,
        |  CASE WHEN n_pos > 0 AND n - n_pos > 0
        |    THEN CAST((sum2 - n_pos * (n_pos + 1)) * 1000000
        |      // (2 * n_pos * (n - n_pos)) AS BIGINT)
        |    ELSE 0 END AS auc_ppm
        |FROM a""".stripMargin),

    // Truncation-stability Cohen's kappa: lang-id prediction on the full
    // document vs its first half, chance-corrected, exact integer ppm.
    q("q161_truncation_kappa", ext.Eval.truncationKappa,
      """WITH m AS (SELECT
        |    len(list_filter(string_split(text, ' '),
        |        w -> w IN ('the','a','of','and','is','to','in'))) AS en_f,
        |    len(list_filter(string_split(text, ' '),
        |        w -> w IN ('el','la','de','y','que','los'))) AS es_f,
        |    len(list_filter(string_split(text, ' '),
        |        w -> w IN ('le','la','de','et','les','des'))) AS fr_f,
        |    len(list_filter(string_split(substring(text, 1, CAST(n_chars // 2 AS INT)), ' '),
        |        w -> w IN ('the','a','of','and','is','to','in'))) AS en_h,
        |    len(list_filter(string_split(substring(text, 1, CAST(n_chars // 2 AS INT)), ' '),
        |        w -> w IN ('el','la','de','y','que','los'))) AS es_h,
        |    len(list_filter(string_split(substring(text, 1, CAST(n_chars // 2 AS INT)), ' '),
        |        w -> w IN ('le','la','de','et','les','des'))) AS fr_h
        |  FROM documents),
        |p AS (SELECT
        |    CASE WHEN en_f >= es_f AND en_f >= fr_f AND en_f > 0 THEN 'en'
        |         WHEN es_f >= fr_f AND es_f > 0 THEN 'es'
        |         WHEN fr_f > 0 THEN 'fr' ELSE 'unknown' END AS pred_full,
        |    CASE WHEN en_h >= es_h AND en_h >= fr_h AND en_h > 0 THEN 'en'
        |         WHEN es_h >= fr_h AND es_h > 0 THEN 'es'
        |         WHEN fr_h > 0 THEN 'fr' ELSE 'unknown' END AS pred_half
        |  FROM m),
        |cells AS (SELECT pred_full, pred_half, CAST(COUNT(*) AS HUGEINT) AS cn
        |  FROM p GROUP BY 1, 2),
        |t AS (SELECT SUM(cn) AS n,
        |    SUM(CASE WHEN pred_full = pred_half THEN cn ELSE 0 END) AS sum_diag
        |  FROM cells),
        |r AS (SELECT pred_full AS cls, SUM(cn) AS rn FROM cells GROUP BY 1),
        |c2 AS (SELECT pred_half AS cls, SUM(cn) AS cln FROM cells GROUP BY 1),
        |rc AS (SELECT SUM(COALESCE(rn, 0) * COALESCE(cln, 0)) AS sum_rowcol
        |  FROM r FULL OUTER JOIN c2 USING (cls))
        |SELECT CAST(n AS BIGINT) AS n, CAST(sum_diag AS BIGINT) AS sum_diag,
        |  CAST(sum_rowcol AS BIGINT) AS sum_rowcol,
        |  CAST(sum_diag * 1000000 // n AS BIGINT) AS po_ppm,
        |  CAST(sum_rowcol * 1000000 // (n * n) AS BIGINT) AS pe_ppm,
        |  CASE WHEN n * n - sum_rowcol > 0
        |    THEN CAST((n * sum_diag - sum_rowcol) * 1000000
        |      // (n * n - sum_rowcol) AS BIGINT)
        |    ELSE 0 END AS kappa_ppm
        |FROM t CROSS JOIN rc""".stripMargin),

    // 2-D pareto frontier over (length, distinct-token count): docs no other
    // doc strictly beats on both — skyline via per-length max + running max,
    // never an all-pairs dominance join.
    q("q162_pareto_frontier", ext.Eval.paretoFrontier,
      """WITH m AS (SELECT doc_id, n_chars AS x,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS y
        |  FROM documents),
        |px AS (SELECT x, MAX(y) AS max_y FROM m GROUP BY x),
        |b AS (SELECT x, MAX(max_y) OVER (ORDER BY x DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_above
        |  FROM px)
        |SELECT m.doc_id, m.x, m.y FROM m JOIN b USING (x)
        |WHERE b.best_above IS NULL OR m.y >= b.best_above
        |ORDER BY doc_id""".stripMargin),

    // Per-source decile values of n_chars mapped to corpus-wide cumulative
    // ppm — the cross-source threshold-calibration table.
    q("q163_score_calibration", ext.Eval.scoreCalibration,
      """WITH vals AS (SELECT source, n_chars AS v FROM documents),
        |h AS (SELECT source, v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM vals GROUP BY source, v),
        |cu AS (SELECT source, v, c,
        |    SUM(c) OVER (PARTITION BY source ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER (PARTITION BY source) AS n
        |  FROM h),
        |dec AS (SELECT source, decile,
        |    MIN(CASE WHEN cum >= (decile * n + 9) // 10 THEN v END) AS value
        |  FROM cu CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS decile) ds
        |  GROUP BY source, decile),
        |ch AS (SELECT v AS value, CAST(COUNT(*) AS BIGINT) AS cc FROM vals GROUP BY v),
        |cc2 AS (SELECT value, SUM(cc) OVER (ORDER BY value
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccum FROM ch),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM vals)
        |SELECT d.source, CAST(d.decile AS BIGINT) AS decile, d.value,
        |  CAST(CAST(ccum AS HUGEINT) * 1000000 // n_corpus AS BIGINT) AS corpus_ppm
        |FROM dec d JOIN cc2 USING (value) CROSS JOIN tot
        |ORDER BY source, decile""".stripMargin),

    // One exact PageRank power iteration (d=0.85, uniform start) over the
    // symmetrized near-dup candidate graph — integer ppm, truncating
    // per-edge shares, DECIMAL/HUGEINT damped combine.
    q("q164_pagerank_step", (s, d) => ext.Dedup.pagerankIteration(s, d),
      s"""WITH RECURSIVE $bandsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |         GROUP BY doc_a, doc_b),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |          UNION ALL SELECT doc_b, doc_a FROM cand),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree FROM edges GROUP BY src),
         |contrib AS (SELECT e.dst, 1000000 // d.degree AS c
         |            FROM edges e JOIN deg d ON d.src = e.src),
         |inflow AS (SELECT dst, CAST(SUM(c) AS BIGINT) AS inflow FROM contrib GROUP BY dst)
         |SELECT i.dst AS doc_id, d2.degree,
         |  CAST(150000 + CAST(850000 AS HUGEINT) * i.inflow // 1000000 AS BIGINT) AS rank_ppm
         |FROM inflow i JOIN deg d2 ON d2.src = i.dst
         |ORDER BY doc_id""".stripMargin),

    // PMI collocations: top bigrams by the exact probability ratio
    // N·c(w1,w2)/(c(w1)·c(w2)) in ppm (monotone in PMI), min pair count 5.
    q("q165_pmi_collocations", (s, d) => ext.TextStats.pmiCollocations(s, d),
      """WITH d AS (SELECT string_split(text, ' ') AS words FROM documents),
        |b AS (SELECT
        |    unnest(list_transform(range(1, len(words)), i -> words[i])) AS w1,
        |    unnest(list_transform(range(1, len(words)), i -> words[i+1])) AS w2
        |  FROM d WHERE len(words) >= 2),
        |tok AS (SELECT unnest(words) AS w FROM d),
        |u AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cu FROM tok GROUP BY w),
        |bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
        |       FROM b GROUP BY w1, w2 HAVING COUNT(*) >= 5),
        |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b)
        |SELECT bc.w1, bc.w2, bc.c_xy,
        |  CAST(CAST(nb.n AS HUGEINT) * bc.c_xy * 1000000
        |    // (CAST(u1.cu AS HUGEINT) * u2.cu) AS BIGINT) AS pmi_ratio_ppm
        |FROM bc JOIN u u1 ON bc.w1 = u1.w JOIN u u2 ON bc.w2 = u2.w CROSS JOIN nb
        |ORDER BY pmi_ratio_ppm DESC, w1, w2 LIMIT 25""".stripMargin),

    // Zone-map data-skipping audit: files a date-range predicate reads under
    // a date-clustered vs hash-scattered layout (per-file min/max pruning).
    q("q166_zonemap_audit", (s, d) => engine.Layout.zoneMapAudit(s, d),
      """WITH o AS (SELECT o_orderkey,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day
        |  FROM orders),
        |f AS (
        |  SELECT 'clustered' AS layout, day // 30 AS file_id, day FROM o
        |  UNION ALL
        |  SELECT 'hashed',
        |    CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 7)) AS BIGINT) % 64,
        |    day FROM o),
        |z AS (SELECT layout, file_id, MIN(day) AS mn, MAX(day) AS mx
        |      FROM f GROUP BY layout, file_id),
        |p AS (SELECT CAST(date_diff('day', DATE '1970-01-01', DATE '1997-03-01') AS BIGINT) AS lo,
        |             CAST(date_diff('day', DATE '1970-01-01', DATE '1997-06-30') AS BIGINT) AS hi)
        |SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_files,
        |  CAST(SUM(CASE WHEN mx >= lo AND mn <= hi THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
        |  CAST(COUNT(*) - SUM(CASE WHEN mx >= lo AND mn <= hi THEN 1 ELSE 0 END) AS BIGINT) AS files_skipped,
        |  CAST(SUM(CASE WHEN mx >= lo AND mn <= hi THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS read_ppm
        |FROM z CROSS JOIN p GROUP BY layout ORDER BY layout""".stripMargin),

    // Modularity of the SimHash top-byte partition on the MinHash candidate
    // graph: per-bucket Q_c = e_c/m − (d_c/2m)², each ratio truncating-
    // divided separately (non-negative) so div/// agree, subtracted after.
    q("q167_signal_modularity", (s, d) => ext.Dedup.simhashModularity(s, d),
      s"""WITH $bandsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |         GROUP BY doc_a, doc_b),
         |$simhashCte,
         |parts AS (SELECT doc_id, CAST(simhash16 // 256 AS BIGINT) AS bucket FROM simh),
         |ends AS (SELECT doc_a AS doc_id FROM cand UNION ALL SELECT doc_b FROM cand),
         |deg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS deg FROM ends GROUP BY doc_id),
         |degc AS (SELECT bucket, CAST(SUM(deg) AS BIGINT) AS d_c,
         |           CAST(COUNT(*) AS BIGINT) AS n_nodes
         |         FROM deg JOIN parts USING (doc_id) GROUP BY bucket),
         |ein AS (SELECT pa.bucket AS bucket, CAST(COUNT(*) AS BIGINT) AS e_in
         |        FROM cand c JOIN parts pa ON c.doc_a = pa.doc_id
         |                    JOIN parts pb ON c.doc_b = pb.doc_id
         |        WHERE pa.bucket = pb.bucket GROUP BY pa.bucket),
         |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM cand),
         |sel AS (SELECT d.bucket, d.n_nodes, d.d_c, COALESCE(e.e_in, 0) AS e_in,
         |          CAST(CAST(COALESCE(e.e_in, 0) AS HUGEINT) * 1000000 // m AS BIGINT) AS e_ppm,
         |          CAST(CAST(d.d_c AS HUGEINT) * d.d_c * 1000000
         |            // (4 * CAST(m AS HUGEINT) * m) AS BIGINT) AS dsq_ppm
         |        FROM degc d LEFT JOIN ein e USING (bucket) CROSS JOIN mm)
         |SELECT bucket, n_nodes, d_c, e_in, e_ppm, dsq_ppm,
         |  e_ppm - dsq_ppm AS q_contrib_ppm
         |FROM sel ORDER BY bucket""".stripMargin),

    // Adjusted Rand index between the MinHash CC clustering and the SimHash
    // top-byte bucketing: chance-corrected pair-counting agreement, exact
    // integers, |num|-division with the sign re-attached (div vs // on
    // negatives differ).
    q("q168_signal_agreement", (s, d) => ext.Dedup.clusteringAgreement(s, d),
      s"""WITH RECURSIVE $bandsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |         GROUP BY doc_a, doc_b),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |          UNION SELECT doc_b, doc_a FROM cand),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id),
         |labels AS (SELECT id AS doc_id, min(r) AS label_a FROM reach GROUP BY id),
         |$simhashCte,
         |parts AS (SELECT doc_id, simhash16 // 256 AS label_b FROM simh),
         |cells AS (SELECT label_a, label_b, CAST(COUNT(*) AS BIGINT) AS nij
         |          FROM labels JOIN parts USING (doc_id) GROUP BY 1, 2),
         |s1 AS (SELECT CAST(SUM(nij) AS BIGINT) AS n,
         |         CAST(SUM(nij * (nij - 1) // 2) AS BIGINT) AS sum_ij FROM cells),
         |sa AS (SELECT CAST(SUM(ai * (ai - 1) // 2) AS BIGINT) AS sum_a
         |       FROM (SELECT SUM(nij) AS ai FROM cells GROUP BY label_a)),
         |sb AS (SELECT CAST(SUM(bj * (bj - 1) // 2) AS BIGINT) AS sum_b
         |       FROM (SELECT SUM(nij) AS bj FROM cells GROUP BY label_b)),
         |t AS (SELECT n, sum_ij, sum_a, sum_b,
         |        CAST(n AS HUGEINT) * (n - 1) // 2 AS c2n
         |      FROM s1 CROSS JOIN sa CROSS JOIN sb),
         |t2 AS (SELECT n, sum_ij, sum_a, sum_b,
         |         2 * (c2n * sum_ij - CAST(sum_a AS HUGEINT) * sum_b) AS num2,
         |         c2n * (sum_a + sum_b) - 2 * CAST(sum_a AS HUGEINT) * sum_b AS den2
         |       FROM t)
         |SELECT n, sum_ij, sum_a, sum_b,
         |  CASE WHEN den2 = 0 THEN 1000000
         |       WHEN num2 >= 0 THEN CAST(num2 * 1000000 // den2 AS BIGINT)
         |       ELSE -CAST((-num2) * 1000000 // den2 AS BIGINT) END AS ari_ppm
         |FROM t2""".stripMargin),

    // Per-source vocabulary divergence: exact-integer L1 distance between a
    // source's token distribution and the corpus's, in ppm of the max (2).
    q("q145_source_divergence", ext.TextStats.sourceDivergence,
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
        |bysrc AS (SELECT source, term, COUNT(*) AS cnt_src FROM toks GROUP BY source, term),
        |st AS (SELECT source, CAST(SUM(cnt_src) AS BIGINT) AS total_src FROM bysrc GROUP BY source),
        |corpus AS (SELECT term, COUNT(*) AS cnt_corpus FROM toks GROUP BY term),
        |ct AS (SELECT CAST(SUM(cnt_corpus) AS BIGINT) AS total_corpus FROM corpus),
        |pres AS (SELECT b.source, st.total_src, ct.total_corpus,
        |           CAST(SUM(abs(b.cnt_src * ct.total_corpus - c.cnt_corpus * st.total_src)) AS BIGINT) AS l1_present,
        |           CAST(SUM(c.cnt_corpus) AS BIGINT) AS corpus_mass_present
        |         FROM bysrc b JOIN corpus c USING (term) JOIN st ON st.source = b.source CROSS JOIN ct
        |         GROUP BY b.source, st.total_src, ct.total_corpus)
        |SELECT source, total_src,
        |  CAST((l1_present + (total_corpus - corpus_mass_present) * total_src) * 1000000
        |       // (2 * total_src * total_corpus) AS BIGINT) AS divergence_ppm
        |FROM pres ORDER BY source""".stripMargin),

    // Exact two-sample KS statistic per source vs the rest of the corpus over
    // the length distribution: sup over the merged value grid of the cross-
    // multiplied integer |F_src − F_rest|, one truncating division at the end.
    q("q169_ks_test", ext.Eval.ksTest,
      """WITH vals AS (SELECT source, n_chars AS v FROM documents),
        |h AS (SELECT source, v, CAST(COUNT(*) AS BIGINT) AS c FROM vals GROUP BY source, v),
        |st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src FROM vals GROUP BY source),
        |dv AS (SELECT DISTINCT v FROM vals),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM vals),
        |grid AS (SELECT st.source, st.n_src, dv.v FROM st CROSS JOIN dv),
        |cs AS (SELECT g.source, g.n_src, g.v,
        |    SUM(COALESCE(h.c, 0)) OVER (PARTITION BY g.source ORDER BY g.v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_src
        |  FROM grid g LEFT JOIN h ON h.source IS NOT DISTINCT FROM g.source
        |                         AND h.v IS NOT DISTINCT FROM g.v),
        |ch AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cc FROM vals GROUP BY v),
        |cc2 AS (SELECT v, SUM(cc) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccum FROM ch),
        |d AS (SELECT cs.source, cs.n_src, tot.n - cs.n_src AS n_rest,
        |    abs(CAST(cs.cum_src AS HUGEINT) * (tot.n - cs.n_src)
        |        - CAST(cc2.ccum - cs.cum_src AS HUGEINT) * cs.n_src) AS diff
        |  FROM cs JOIN cc2 USING (v) CROSS JOIN tot)
        |SELECT source, n_src, n_rest,
        |  CASE WHEN n_rest > 0
        |    THEN CAST(MAX(diff) * 1000000 // (CAST(n_src AS HUGEINT) * n_rest) AS BIGINT)
        |    ELSE 0 END AS d_ppm
        |FROM d GROUP BY source, n_src, n_rest ORDER BY source""".stripMargin),

    // Pearson chi-square of lang × source independence + Cramér's V², every
    // cell contribution an exact truncating division of non-negative
    // integers so the sum is order-independent across engines.
    q("q170_chi_square", ext.Eval.chiSquare,
      """WITH cells AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
        |  FROM documents GROUP BY lang, source),
        |rr AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rn FROM cells GROUP BY lang),
        |cc AS (SELECT source, CAST(SUM(o) AS BIGINT) AS cn FROM cells GROUP BY source),
        |grid AS (SELECT rr.lang, cc.source, rr.rn, cc.cn, COALESCE(cells.o, 0) AS o0
        |  FROM rr CROSS JOIN cc
        |  LEFT JOIN cells ON cells.lang IS NOT DISTINCT FROM rr.lang
        |                 AND cells.source IS NOT DISTINCT FROM cc.source),
        |tot AS (SELECT (SELECT CAST(SUM(rn) AS BIGINT) FROM rr) AS n,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM rr) AS r,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM cc) AS c),
        |con AS (SELECT tot.n, tot.r, tot.c,
        |    CAST((CAST(tot.n AS HUGEINT) * o0 - CAST(rn AS HUGEINT) * cn)
        |       * (CAST(tot.n AS HUGEINT) * o0 - CAST(rn AS HUGEINT) * cn)
        |       * 1000000 // (CAST(tot.n AS HUGEINT) * rn * cn) AS BIGINT) AS contrib
        |  FROM grid CROSS JOIN tot)
        |SELECT n, (r - 1) * (c - 1) AS dof, CAST(SUM(contrib) AS BIGINT) AS chi2_x1e6,
        |  CASE WHEN least(r - 1, c - 1) > 0
        |    THEN CAST(SUM(contrib) // (n * least(r - 1, c - 1)) AS BIGINT)
        |    ELSE 0 END AS cramer_v2_ppm
        |FROM con GROUP BY n, r, c""".stripMargin),

    // Gini coefficient of the token-frequency distribution: exact integer
    // form on ascending frequency ranks (ties broken by term — permutation-
    // invariant within a tie group), rank window on the vocabulary frame.
    q("q171_gini_tokens", ext.Eval.giniTokens,
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |f AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS x FROM toks GROUP BY term),
        |rk AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x, term) AS i FROM f)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
        |  CAST(SUM(x) AS BIGINT) AS total_tokens,
        |  CAST((2 * SUM(CAST(i AS HUGEINT) * x)
        |        - (CAST(COUNT(*) AS HUGEINT) + 1) * SUM(x)) * 1000000
        |       // (CAST(COUNT(*) AS HUGEINT) * SUM(x)) AS BIGINT) AS gini_ppm
        |FROM rk""".stripMargin),

    // PSI of the length distribution between the doc_id-parity halves, per
    // bin (deduped decile bounds of half A); exact ppm shares, per-bin
    // rounded float term with a 1-ppm floor on zero shares.
    q("q172_psi_drift", ext.Eval.psiDrift,
      """WITH vals AS (SELECT (doc_id % 2 = 0) AS is_a, n_chars AS vv FROM documents),
        |ha AS (SELECT vv, CAST(COUNT(*) AS BIGINT) AS c FROM vals WHERE is_a GROUP BY vv),
        |cu AS (SELECT vv, SUM(c) OVER (ORDER BY vv
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER () AS n_a FROM ha),
        |dec AS (SELECT decile,
        |    MIN(CASE WHEN cum >= (decile * n_a + 9) // 10 THEN vv END) AS b
        |  FROM cu CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS decile) ds
        |  GROUP BY decile),
        |bnd AS (SELECT list_sort(list_distinct(list(b))) AS bounds FROM dec),
        |binned AS (SELECT is_a,
        |    CAST(1 + len(list_filter(bounds, x -> vv > x)) AS BIGINT) AS bin
        |  FROM vals CROSS JOIN bnd),
        |counts AS (SELECT bin,
        |    CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
        |    CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
        |  FROM binned GROUP BY bin),
        |tot AS (SELECT CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b FROM vals),
        |shares AS (SELECT bin, cnt_a, cnt_b,
        |    CAST(cnt_a * 1000000 // n_a AS BIGINT) AS p_ppm,
        |    CAST(cnt_b * 1000000 // n_b AS BIGINT) AS q_ppm
        |  FROM counts CROSS JOIN tot)
        |SELECT bin, cnt_a, cnt_b, p_ppm, q_ppm,
        |  round((greatest(p_ppm, 1) - greatest(q_ppm, 1)) / 1000000.0
        |    * ln(CAST(greatest(p_ppm, 1) AS DOUBLE) / greatest(q_ppm, 1)), 6) AS psi_term
        |FROM shares ORDER BY bin""".stripMargin),

    // PPJoin-style EXACT Jaccard-threshold self-join over 3-gram shingle
    // sets: rarest-first prefix filter + length filter, per-pair
    // list-intersect verification, integer ppm.
    q("q173_prefix_filter_join", (s, d) => ext.Dedup.prefixFilterJoin(s, d),
      """WITH dw AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |dt AS (SELECT doc_id, list_distinct(list_transform(range(1, len(words) - 1),
        |    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS toks FROM dw),
        |toks AS (SELECT doc_id, unnest(toks) AS tok FROM dt),
        |f AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM toks GROUP BY tok),
        |o AS (SELECT t.doc_id, t.tok,
        |    ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY f.df, t.tok) AS pos,
        |    CAST(COUNT(*) OVER (PARTITION BY t.doc_id) AS BIGINT) AS n
        |  FROM toks t JOIN f USING (tok)),
        |pre AS (SELECT * FROM o WHERE pos <= n - ((800000 * n + 999999) // 1000000) + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS n_a, b.n AS n_b
        |  FROM pre a JOIN pre b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  WHERE least(a.n, b.n) * 1000000 >= 800000 * greatest(a.n, b.n)),
        |j AS (SELECT c.doc_a, c.doc_b, c.n_a, c.n_b,
        |    CAST(len(list_intersect(ta.toks, tb.toks)) AS BIGINT) AS n_common
        |  FROM cand c JOIN dt ta ON ta.doc_id = c.doc_a
        |              JOIN dt tb ON tb.doc_id = c.doc_b),
        |jj AS (SELECT doc_a, doc_b, n_a, n_b, n_common,
        |    CAST(n_common * 1000000 // (n_a + n_b - n_common) AS BIGINT) AS jaccard_ppm
        |  FROM j)
        |SELECT doc_a, doc_b, n_a, n_b, n_common, jaccard_ppm
        |FROM jj WHERE jaccard_ppm >= 800000 ORDER BY doc_a, doc_b""".stripMargin),

    // Reliability diagram: en-marker score deciles (deduped bounds) vs
    // observed positive rate — the calibration half beside q160's AUC.
    q("q174_reliability_bins", ext.Eval.reliabilityBins,
      """WITH t AS (SELECT CAST(len(list_filter(string_split(text, ' '),
        |      w -> w IN ('the','a','of','and','is','to','in'))) AS BIGINT) AS score,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_pos FROM documents),
        |h AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS c, CAST(SUM(is_pos) AS BIGINT) AS p
        |  FROM t GROUP BY score),
        |cu AS (SELECT score, c, p,
        |    SUM(c) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER () AS n_tot FROM h),
        |dec AS (SELECT decile,
        |    MIN(CASE WHEN cum >= (decile * n_tot + 9) // 10 THEN score END) AS b
        |  FROM cu CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS decile) ds
        |  GROUP BY decile),
        |bnd AS (SELECT list_sort(list_distinct(list(b))) AS bounds FROM dec),
        |bh AS (SELECT CAST(1 + len(list_filter(bounds, x -> score > x)) AS BIGINT) AS bin,
        |    score, c, p FROM h CROSS JOIN bnd)
        |SELECT bin, CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(p) AS BIGINT) AS n_pos,
        |  CAST(SUM(p) * 1000000 // SUM(c) AS BIGINT) AS pos_rate_ppm,
        |  CAST(SUM(score * c) * 1000 // SUM(c) AS BIGINT) AS mean_score_milli
        |FROM bh GROUP BY bin ORDER BY bin""".stripMargin),

    // Leave-one-source-out ablation: every rest-metric by complement against
    // broadcast totals — one corpus aggregate, never |sources| passes.
    q("q175_source_ablation", ext.Eval.sourceAblation,
      """WITH base AS (SELECT source, n_chars,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en FROM documents),
        |per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src,
        |    CAST(SUM(n_chars) AS BIGINT) AS len_src,
        |    CAST(SUM(is_en) AS BIGINT) AS en_src FROM base GROUP BY source),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(n_chars) AS BIGINT) AS len_tot,
        |    CAST(SUM(is_en) AS BIGINT) AS en_tot FROM base)
        |SELECT source, n_src AS n_removed,
        |  CAST(CAST(len_tot AS HUGEINT) * 1000 // n AS BIGINT) AS mean_chars_milli_full,
        |  CASE WHEN n > n_src
        |    THEN CAST(CAST(len_tot - len_src AS HUGEINT) * 1000 // (n - n_src) AS BIGINT)
        |    ELSE 0 END AS mean_chars_milli_rest,
        |  CASE WHEN n > n_src
        |    THEN CAST(CAST(en_tot - en_src AS HUGEINT) * 1000000 // (n - n_src) AS BIGINT)
        |    ELSE 0 END AS en_share_rest_ppm
        |FROM per CROSS JOIN tot ORDER BY source""".stripMargin),

    // Exact heavy hitters via mergeable Misra-Gries candidates + exact
    // re-count (the oracle computes the same answer the direct way).
    q("q176_heavy_hitters", (s, d) => ext.TextStats.heavyHitters(s, d),
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |c AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY term),
        |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c)
        |SELECT term, cnt, CAST(cnt * 1000000 // n AS BIGINT) AS freq_ppm
        |FROM c CROSS JOIN n WHERE cnt * 1000000 >= 20000 * n
        |ORDER BY term""".stripMargin),

    // Multi-probe LSH ANN: query bucket + the two lowest-|margin| bit flips;
    // 3-table recall at 1-table index cost.
    q("q177_multiprobe_ann", (s, d) => ext.Similarity.multiprobeTopK(s, d),
      s"""WITH $vecsCte,
         |pr AS (SELECT vec_id, v, nrm,
         |  list_slice([${(0 until 20).map(lshProjSql).mkString(", ")}],
         |             1, (SELECT np FROM lshpl)) AS prj FROM n),
         |bk AS (SELECT vec_id, v, nrm, prj,
         |  CAST(list_sum(list_transform(range(1, len(prj) + 1),
         |    i -> CASE WHEN prj[CAST(i AS INT)] > 0 THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)) AS INT) AS bucket FROM pr),
         |ab AS (SELECT vec_id, v, nrm, bucket, list_transform(prj, x -> abs(x)) AS absl FROM bk),
         |a1 AS (SELECT *, CAST(list_position(absl, list_min(absl)) - 1 AS INT) AS i1 FROM ab),
         |a2 AS (SELECT *, list_transform(range(0, len(absl)),
         |    i -> CASE WHEN i = i1 THEN CAST('inf' AS DOUBLE) ELSE absl[CAST(i + 1 AS INT)] END) AS absl2 FROM a1),
         |a3 AS (SELECT *, CAST(list_position(absl2, list_min(absl2)) - 1 AS INT) AS i2 FROM a2),
         |qp AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn,
         |    unnest([bucket, xor(bucket, 1 << i1), xor(bucket, 1 << i2)]) AS bucket
         |  FROM a3 WHERE vec_id < 20),
         |cp AS (SELECT vec_id AS neighbor_id, v AS nv, nrm AS nn, bucket FROM bk),
         |p2 AS (SELECT query_id, cp.neighbor_id,
         |    list_sum(list_transform(list_zip(qv, cp.nv), z -> z[1] * z[2])) / (qn * cp.nn) AS cos
         |  FROM qp JOIN cp USING (bucket) WHERE cp.neighbor_id <> query_id),
         |r AS (SELECT query_id, neighbor_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
         |  FROM p2)
         |SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos_sim
         |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),

    // Pre-join cardinality: exact |A ⋈ B| from the two degree histograms
    // (Σ c_A·c_B), top contributing keys with share — never the join itself.
    q("q178_join_cardinality", (s, d) => engine.Skew.joinCardinality(s, d),
      """WITH a AS (SELECT o_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS rows_a
        |  FROM orders GROUP BY 1),
        |b AS (SELECT l_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS rows_b
        |  FROM lineitem GROUP BY 1),
        |pk AS (SELECT key, rows_a, rows_b,
        |    CAST(CAST(rows_a AS HUGEINT) * rows_b AS BIGINT) AS join_rows
        |  FROM a JOIN b USING (key)),
        |t AS (SELECT CAST(SUM(join_rows) AS BIGINT) AS predicted_rows FROM pk)
        |SELECT key, rows_a, rows_b, join_rows,
        |  CAST(CAST(join_rows AS HUGEINT) * 1000000 // predicted_rows AS BIGINT) AS share_ppm,
        |  predicted_rows
        |FROM pk CROSS JOIN t ORDER BY join_rows DESC, key LIMIT 10""".stripMargin),

    // Benford first-digit audit: digit histogram of integerized order totals
    // vs the literal log10(1+1/d) ppm table (no float logs in either engine).
    q("q179_benford_audit", engine.Quality.benfordAudit,
      s"""WITH v AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS v FROM orders
         |  WHERE floor(o_totalprice) > 0),
         |d AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM v),
         |c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit),
         |t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tot FROM c)
         |SELECT digit, n,
         |  CAST(n * 1000000 // n_tot AS BIGINT) AS observed_ppm,
         |  CAST(([${engine.Quality.BenfordPpm.mkString(", ")}])[CAST(digit AS INT)] AS BIGINT) AS expected_ppm,
         |  CAST(abs(n * 1000000 // n_tot
         |    - ([${engine.Quality.BenfordPpm.mkString(", ")}])[CAST(digit AS INT)]) AS BIGINT) AS abs_delta_ppm
         |FROM c CROSS JOIN t ORDER BY digit""".stripMargin),

    // Sequential Poisson sampling: exactly-k weighted-by-token-mass sample,
    // k smallest content-addressed u/w priorities (TakeOrderedAndProject).
    q("q180_weighted_sample", (s, d) => ext.Sampling.weightedPrioritySample(s, d),
      """WITH d AS (SELECT doc_id,
        |    greatest(CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT), 1) AS n_tokens
        |  FROM documents),
        |p AS (SELECT doc_id, n_tokens,
        |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)) AS BIGINT)
        |      * 1000000 // n_tokens AS BIGINT) AS priority
        |  FROM d)
        |SELECT doc_id, n_tokens, priority FROM p
        |ORDER BY priority, doc_id LIMIT 100""".stripMargin),

    // Iterated damped PageRank (3 rounds, exact integer ppm) over the
    // near-dup candidate graph; oracle unrolls the rounds as chained CTEs.
    q("q181_pagerank_rounds", (s, d) => ext.Dedup.pagerankConverged(s, d),
      s"""WITH $bandsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |         GROUP BY doc_a, doc_b),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |          UNION ALL SELECT doc_b, doc_a FROM cand),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree FROM edges GROUP BY src),
         |r0 AS (SELECT src AS doc_id, degree, CAST(1000000 AS BIGINT) AS rank_ppm FROM deg),
         |i1 AS (SELECT e.dst, CAST(SUM(r.rank_ppm // r.degree) AS BIGINT) AS inflow
         |       FROM edges e JOIN r0 r ON r.doc_id = e.src GROUP BY e.dst),
         |r1 AS (SELECT d.src AS doc_id, d.degree,
         |        CAST(150000 + CAST(850000 AS HUGEINT) * COALESCE(i.inflow, 0) // 1000000 AS BIGINT) AS rank_ppm
         |       FROM deg d LEFT JOIN i1 i ON i.dst = d.src),
         |i2 AS (SELECT e.dst, CAST(SUM(r.rank_ppm // r.degree) AS BIGINT) AS inflow
         |       FROM edges e JOIN r1 r ON r.doc_id = e.src GROUP BY e.dst),
         |r2 AS (SELECT d.src AS doc_id, d.degree,
         |        CAST(150000 + CAST(850000 AS HUGEINT) * COALESCE(i.inflow, 0) // 1000000 AS BIGINT) AS rank_ppm
         |       FROM deg d LEFT JOIN i2 i ON i.dst = d.src),
         |i3 AS (SELECT e.dst, CAST(SUM(r.rank_ppm // r.degree) AS BIGINT) AS inflow
         |       FROM edges e JOIN r2 r ON r.doc_id = e.src GROUP BY e.dst),
         |r3 AS (SELECT d.src AS doc_id, d.degree,
         |        CAST(150000 + CAST(850000 AS HUGEINT) * COALESCE(i.inflow, 0) // 1000000 AS BIGINT) AS rank_ppm
         |       FROM deg d LEFT JOIN i3 i ON i.dst = d.src)
         |SELECT doc_id, degree, rank_ppm FROM r3 ORDER BY doc_id""".stripMargin),

    // Rendezvous sharding audit: before/after shard from ONE max-over-struct
    // aggregate; adding a shard only steals docs (movers all go to shard N).
    q("q182_rendezvous_shards", (s, d) => engine.Layout.rendezvousShards(s, d),
      """WITH w AS (SELECT doc_id, unnest(range(0, 9)) AS s FROM documents),
        |h AS (SELECT doc_id, CAST(s AS BIGINT) AS s,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)), 1, 7)) AS BIGINT) AS h
        |  FROM w),
        |a AS (SELECT doc_id,
        |    max(CASE WHEN s < 8 THEN {'h': h, 's': s} END) AS before,
        |    max({'h': h, 's': s}) AS after
        |  FROM h GROUP BY doc_id)
        |SELECT before.s AS shard_before, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN after.s <> before.s THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
        |  CAST(SUM(CASE WHEN after.s <> before.s THEN 1 ELSE 0 END) * 1000000
        |    // COUNT(*) AS BIGINT) AS moved_ppm
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin),

    // Copy-on-write vs deletion-vector write amplification for a simulated
    // delete batch against the date-clustered layout (q166's files).
    q("q183_delete_amplification", (s, d) => engine.Layout.deleteAmplification(s, d),
      """WITH pf AS (SELECT
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) // 30 AS file_id,
        |    CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END AS del
        |  FROM orders),
        |f AS (SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(del) AS BIGINT) AS n_del FROM pf GROUP BY file_id),
        |t AS (SELECT
        |    CAST(SUM(CASE WHEN n_del > 0 THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
        |    CAST(SUM(CASE WHEN n_del > 0 THEN n_rows ELSE 0 END) AS BIGINT) AS cow_rows,
        |    CAST(SUM(n_del) AS BIGINT) AS dv_rows FROM f)
        |SELECT 'copy_on_write' AS strategy, files_touched, cow_rows AS rows_written,
        |  dv_rows AS rows_deleted,
        |  CASE WHEN dv_rows > 0 THEN CAST(cow_rows * 1000000 // dv_rows AS BIGINT)
        |       ELSE 0 END AS write_amp_ppm
        |FROM t
        |UNION ALL
        |SELECT 'deletion_vector', files_touched, dv_rows, dv_rows,
        |  CASE WHEN dv_rows > 0 THEN CAST(dv_rows * 1000000 // dv_rows AS BIGINT)
        |       ELSE 0 END
        |FROM t ORDER BY strategy""".stripMargin),

    // Watermark lag audit: lateness vs the running arrival-order max
    // (parallel prefix in the engine, naive global window in the oracle),
    // late-event percentiles by counting selection, ceiling seconds.
    q("q184_watermark_lag", streaming.Events.watermarkLag,
      """WITH e AS (SELECT event_id, epoch_us(ts) AS us FROM events),
        |a AS (SELECT event_id, us,
        |    us + (CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 7)) AS BIGINT) % 7200) * 1000000 AS arrival_us
        |  FROM e),
        |r AS (SELECT event_id, us,
        |    MAX(us) OVER (ORDER BY arrival_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_max
        |  FROM a),
        |l AS (SELECT CASE WHEN run_max > us THEN (run_max - us + 999999) // 1000000
        |             ELSE 0 END AS late_s FROM r),
        |h AS (SELECT late_s, CAST(COUNT(*) AS BIGINT) AS c FROM l GROUP BY late_s),
        |lh AS (SELECT late_s, c,
        |    SUM(c) OVER (ORDER BY late_s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER () AS n_late
        |  FROM h WHERE late_s > 0),
        |p AS (SELECT CAST(MAX(n_late) AS BIGINT) AS n_late,
        |    MIN(CASE WHEN cum >= (n_late + 1) // 2 THEN late_s END) AS p50_late_s,
        |    MIN(CASE WHEN cum >= (9 * n_late + 9) // 10 THEN late_s END) AS p90_late_s,
        |    MIN(CASE WHEN cum >= (99 * n_late + 99) // 100 THEN late_s END) AS p99_late_s,
        |    MAX(late_s) AS max_late_s FROM lh),
        |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n_events FROM h)
        |SELECT n_events, COALESCE(n_late, 0) AS n_late,
        |  CAST(COALESCE(n_late, 0) * 1000000 // n_events AS BIGINT) AS late_ppm,
        |  COALESCE(p50_late_s, 0) AS p50_late_s,
        |  COALESCE(p90_late_s, 0) AS p90_late_s,
        |  COALESCE(p99_late_s, 0) AS p99_late_s,
        |  COALESCE(max_late_s, 0) AS max_late_s
        |FROM t CROSS JOIN p""".stripMargin),

    // Closed-form two-feature OLS per language: normal equations by Cramer
    // on exact integer centered moments, sign-aware truncating division.
    q("q185_ols2", engine.Analytics.ols2,
      """WITH b AS (SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS z,
        |    n_chars AS y FROM documents),
        |m AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(z) AS HUGEINT) AS sz,
        |    CAST(SUM(y) AS HUGEINT) AS sy,
        |    CAST(SUM(x * x) AS HUGEINT) AS sxx0, CAST(SUM(x * z) AS HUGEINT) AS sxz0,
        |    CAST(SUM(z * z) AS HUGEINT) AS szz0, CAST(SUM(x * y) AS HUGEINT) AS sxy0,
        |    CAST(SUM(z * y) AS HUGEINT) AS szy0
        |  FROM b GROUP BY lang),
        |c AS (SELECT lang, n,
        |    n * sxx0 - sx * sx AS sxx, n * sxz0 - sx * sz AS sxz,
        |    n * szz0 - sz * sz AS szz, n * sxy0 - sx * sy AS sxy,
        |    n * szy0 - sz * sy AS szy FROM m),
        |d AS (SELECT lang, n, sxx * szz - sxz * sxz AS det,
        |    sxy * szz - szy * sxz AS b1num, szy * sxx - sxy * sxz AS b2num FROM c)
        |SELECT lang, n,
        |  CASE WHEN det > 0 THEN
        |    (CASE WHEN b1num >= 0 THEN CAST(b1num * 1000000 // det AS BIGINT)
        |          ELSE -CAST((-b1num) * 1000000 // det AS BIGINT) END)
        |  END AS beta_tokens_ppm,
        |  CASE WHEN det > 0 THEN
        |    (CASE WHEN b2num >= 0 THEN CAST(b2num * 1000000 // det AS BIGINT)
        |          ELSE -CAST((-b2num) * 1000000 // det AS BIGINT) END)
        |  END AS beta_distinct_ppm
        |FROM d ORDER BY lang""".stripMargin),

    // REAL image decode: deterministic tiny PNGs encoded AND decoded with the
    // JDK-native javax.imageio codec in mapPartitions; the oracle recomputes
    // the decoded dimensions + exact pixel sum from the closed-form pixel law.
    q("q186_image_decode", ext.Multimodal.imageDecode,
      """WITH d AS (SELECT doc_id, CAST(doc_id % 8 + 1 AS INT) AS width,
        |    CAST(doc_id % 5 + 1 AS INT) AS height FROM documents),
        |g AS (SELECT doc_id, width, height, unnest(range(0, width)) AS x FROM d),
        |gy AS (SELECT doc_id, width, height, x, unnest(range(0, height)) AS y FROM g)
        |SELECT doc_id, width, height,
        |  CAST(SUM((doc_id * 31 + 7 * x + 13 * y) % 256) AS BIGINT) AS px_sum
        |FROM gy GROUP BY doc_id, width, height ORDER BY doc_id""".stripMargin),

    // LIVE JDBC roundtrip against embedded Derby: nation written through the
    // batched/retrying overwrite sink, read back over JDBC, rolled up per
    // region; the oracle aggregates the parquet source directly.
    q("q187_jdbc_roundtrip", engine.Bronze.jdbcRoundtripNation,
      """SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n_nations,
        |  MIN(n_name) AS first_nation,
        |  CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin),

    // Iterated Lloyd k-means (2 materialized rounds) on floor(v*1024)
    // quantized embeddings — exact integer distances, floor(sum/count)
    // centroid means, (dist, cid) tie-break. Output: final per-(cell, dim)
    // sizes + centroid components.
    q("q188_kmeans_rounds", (s, d) => ext.Similarity.kmeansCentroidStats(s, d),
      s"""WITH $kmCte
         |SELECT cid AS cell, dim, n_vecs, comp FROM u2 ORDER BY cell, dim""".stripMargin),

    // SemDeDup: within-k-means-cell cosine near-dup pairs (tau = 2/5) on the
    // quantized vectors — exact integer cosine test (den²·dab² > num²·daa·dbb
    // with dab > 0), DECIMAL(38,0) in the engine, HUGEINT here; both exact.
    q("q189_semdedup", (s, d) => ext.Similarity.semDedupPairs(s, d),
      s"""WITH $kmCte,
         |nn AS (SELECT vec_id, cid, q,
         |         CAST(list_sum(list_transform(q, x -> x * x)) AS HUGEINT) AS dqq FROM a2),
         |p AS (SELECT a.cid AS cell, a.vec_id AS va, b.vec_id AS vb, a.dqq AS daa, b.dqq AS dbb,
         |        CAST(list_sum(list_transform(list_zip(a.q, b.q), z -> z[1] * z[2])) AS HUGEINT) AS dab
         |      FROM nn a JOIN nn b ON a.cid = b.cid AND a.vec_id < b.vec_id)
         |SELECT cell, va AS keep_id, vb AS drop_id FROM p
         |WHERE dab > 0 AND dab * dab * 25 > daa * dbb * 4
         |ORDER BY keep_id, drop_id""".stripMargin),

    // Hard-negative mining: per query, top-5 most-similar corpus vectors with
    // a DIFFERENT label (contrastive-training negatives).
    q("q190_hard_negatives", (s, d) => ext.Similarity.hardNegatives(s, d),
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |nl AS (SELECT vec_id, label, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        |qs AS (SELECT vec_id AS query_id, label AS query_label, v AS qv, nrm AS qn FROM nl WHERE vec_id < 20),
        |p AS (SELECT query_id, query_label, c.vec_id AS neighbor_id, c.label AS neighbor_label,
        |        list_sum(list_transform(list_zip(qv, c.v), z -> z[1] * z[2])) / (qn * c.nrm) AS cos
        |      FROM qs CROSS JOIN nl c
        |      WHERE c.vec_id <> query_id AND c.label <> query_label),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
        |      FROM p)
        |SELECT query_id, query_label, rank, neighbor_id, neighbor_label, round(cos, 4) AS cos_sim
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // Incremental embedding dedup: the arriving batch (vec_id % 10 = 7)
    // checked against the at-rest corpus LSH index — candidate = same bucket,
    // duplicate = cosine >= 0.4; the corpus is never re-paired with itself.
    q("q192_incremental_embedding_dedup",
      (s, d) => ext.Similarity.incrementalEmbeddingDedup(s, d),
      s"""WITH $vecsCte,
         |b AS (SELECT vec_id, v, nrm, CAST($lshBucketExpr AS INT) AS bucket FROM n),
         |hits AS (SELECT bb.vec_id, COUNT(*) AS n_dup_candidates, MIN(cb.vec_id) AS dup_of
         |         FROM (SELECT * FROM b WHERE vec_id % 10 = 7) bb
         |         JOIN (SELECT * FROM b WHERE vec_id % 10 <> 7) cb ON bb.bucket = cb.bucket
         |         WHERE list_sum(list_transform(list_zip(bb.v, cb.v), z -> z[1] * z[2])) / (bb.nrm * cb.nrm) >= 0.4
         |         GROUP BY bb.vec_id)
         |SELECT bb.vec_id, bb.bucket, COALESCE(h.n_dup_candidates, 0) AS n_dup_candidates,
         |  h.dup_of, h.dup_of IS NULL AS is_new
         |FROM (SELECT vec_id, bucket FROM b WHERE vec_id % 10 = 7) bb
         |LEFT JOIN hits h USING (vec_id)
         |ORDER BY vec_id""".stripMargin),

    // REAL audio decode: per-doc mono PCM16 WAV clips containerized AND
    // parsed with the JDK-native javax.sound.sampled codec; the oracle
    // recomputes samples/energy/peak from the closed-form sample law.
    q("q193_audio_decode", (s, d) => ext.Multimodal.audioDecode(s, d),
      """WITH d AS (SELECT doc_id, CAST(doc_id % 480 + 20 AS BIGINT) AS n_samples FROM documents),
        |s AS (SELECT doc_id, n_samples, ((doc_id * 17 + 11 * t.i) % 2048) - 1024 AS smp
        |      FROM d, LATERAL (SELECT unnest(range(0, n_samples)) AS i) t)
        |SELECT doc_id, n_samples, 8000 AS sample_rate,
        |  CAST(SUM(smp * smp) AS BIGINT) AS sq_sum,
        |  CAST(MAX(abs(smp)) AS BIGINT) AS peak
        |FROM s GROUP BY doc_id, n_samples ORDER BY doc_id""".stripMargin),

    // ANALYZE-style per-column stats (non-null count, exact NDV, min/max) in
    // ONE pass over orders — multiple COUNT(DISTINCT) plan through Expand.
    q("q194_column_stats", RelOps.columnStats,
      """WITH s AS (SELECT COUNT(*) AS n_rows,
        |  COUNT(o_orderstatus) AS nn1, COUNT(DISTINCT o_orderstatus) AS ndv1,
        |  CAST(MIN(o_orderstatus) AS VARCHAR) AS mn1, CAST(MAX(o_orderstatus) AS VARCHAR) AS mx1,
        |  COUNT(o_orderpriority) AS nn2, COUNT(DISTINCT o_orderpriority) AS ndv2,
        |  CAST(MIN(o_orderpriority) AS VARCHAR) AS mn2, CAST(MAX(o_orderpriority) AS VARCHAR) AS mx2,
        |  COUNT(o_custkey) AS nn3, COUNT(DISTINCT o_custkey) AS ndv3,
        |  CAST(MIN(o_custkey) AS VARCHAR) AS mn3, CAST(MAX(o_custkey) AS VARCHAR) AS mx3,
        |  COUNT(o_orderkey) AS nn4, COUNT(DISTINCT o_orderkey) AS ndv4,
        |  CAST(MIN(o_orderkey) AS VARCHAR) AS mn4, CAST(MAX(o_orderkey) AS VARCHAR) AS mx4
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT 'o_orderstatus' AS column_name, n_rows, n_rows - nn1 AS n_nulls, ndv1 AS ndv, mn1 AS min_val, mx1 AS max_val FROM s
        |  UNION ALL SELECT 'o_orderpriority', n_rows, n_rows - nn2, ndv2, mn2, mx2 FROM s
        |  UNION ALL SELECT 'o_custkey', n_rows, n_rows - nn3, ndv3, mn3, mx3 FROM s
        |  UNION ALL SELECT 'o_orderkey', n_rows, n_rows - nn4, ndv4, mn4, mx4 FROM s)
        |ORDER BY column_name""".stripMargin),

    // Incremental cluster maintenance: wave pairs (touching doc_id % 10 = 7)
    // folded into at-rest base labels with a bounded subgraph recompute. The
    // oracle is deliberately q62's full-graph transitive closure — the whole
    // point is that the incremental path returns the IDENTICAL answer.
    q("q195_incremental_clusters", (s, d) => ext.Dedup.incrementalClusters(s, d),
      s"""WITH RECURSIVE $bandsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b
         |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |         GROUP BY doc_a, doc_b),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |          UNION SELECT doc_b, doc_a FROM cand),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id)
         |SELECT id AS doc_id, min(r) AS cluster_id
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),

    // Iterated BPE merge training: 3 rounds over the word-frequency
    // dictionary — weighted pair counts, lexicographic-tie argmax, literal
    // "x y" -> "xy" dictionary rewrite; merged symbols feed later rounds.
    q("q196_bpe_merges", (s, d) => ext.TextStats.bpeMerges(s, d),
      s"""WITH $bpeCte
         |SELECT * FROM (
         |  SELECT 1 AS merge_idx, pair, freq FROM b1
         |  UNION ALL SELECT 2, pair, freq FROM b2
         |  UNION ALL SELECT 3, pair, freq FROM b3)
         |ORDER BY merge_idx""".stripMargin),

    // Preference-pair construction (DPO data prep): per source, the best-
    // vs worst-scoring doc by deterministic stopword-density ppm, via one
    // aggregate of lexicographic (score, doc_id) struct extrema — no window.
    q("q197_preference_pairs", (s, d) => ext.TextStats.preferencePairs(s, d),
      s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
         |sc AS (SELECT doc_id, source,
         |         CAST(len(list_filter(words, w -> w IN $stop9)) AS BIGINT) * 1000000
         |           // CAST(len(words) AS BIGINT) AS score_ppm
         |       FROM d WHERE len(words) > 0),
         |ch AS (SELECT source, doc_id AS chosen_id, score_ppm AS chosen_score_ppm,
         |         row_number() OVER (PARTITION BY source ORDER BY score_ppm DESC, doc_id) AS rn FROM sc),
         |rj AS (SELECT source, doc_id AS rejected_id, score_ppm AS rejected_score_ppm,
         |         row_number() OVER (PARTITION BY source ORDER BY score_ppm, doc_id) AS rn FROM sc),
         |n AS (SELECT source, COUNT(*) AS n_docs FROM sc GROUP BY source)
         |SELECT n.source, n_docs, chosen_id, chosen_score_ppm, rejected_id, rejected_score_ppm,
         |  chosen_score_ppm - rejected_score_ppm AS margin_ppm
         |FROM n
         |JOIN (SELECT * FROM ch WHERE rn = 1) c ON c.source = n.source
         |JOIN (SELECT * FROM rj WHERE rn = 1) r ON r.source = n.source
         |ORDER BY n.source""".stripMargin),

    // 60-bit SimHash Hamming ball (<= 3, the Manku production k) via
    // pigeonhole banding: distance <= 3 over 4 x 15-bit bands means >= 1
    // band matches exactly — equi-join candidates, exact XOR-popcount
    // verification. The oracle is DELIBERATELY the brute-force all-pairs
    // popcount — it shares none of the engine's pigeonhole banding, so the
    // zero-false-negative claim is what's tested.
    q("q198_simhash_hamming", (s, d) => ext.Dedup.simhashHammingPairs(s, d),
      s"""WITH $simhash60Cte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
         |FROM sim60 a JOIN sim60 b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin),

    // Schema-evolution roundtrip: two writer generations (one without the
    // source column) in one dataset dir, read back under mergeSchema; gen-1
    // rows surface a NULL source the rollup counts around.
    q("q199_schema_evolution", engine.Bronze.schemaEvolutionRoundtrip,
      """SELECT lang, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN doc_id % 2 = 1 AND source IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_source,
        |  COUNT(DISTINCT CASE WHEN doc_id % 2 = 1 THEN source END) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // REAL video pipeline: per-doc GVID frame containers (length-prefixed
    // JDK-encoded PNG frames) parsed, every 2nd frame decoded, the rest
    // skipped by the index; oracle recomputes from the frame law.
    q("q202_video_frames", (s, d) => ext.Multimodal.videoDecode(s, d),
      """WITH d AS (SELECT doc_id, CAST(doc_id % 6 + 2 AS INT) AS n_frames FROM documents),
        |f AS (SELECT doc_id, CAST(t.f AS INT) AS frame_idx,
        |        CAST((doc_id + t.f) % 8 + 1 AS INT) AS width,
        |        CAST((doc_id + t.f) % 5 + 1 AS INT) AS height
        |      FROM d, LATERAL (SELECT unnest(range(0, n_frames)) AS f) t
        |      WHERE t.f % 2 = 0),
        |g AS (SELECT doc_id, frame_idx, width, height, unnest(range(0, width)) AS x FROM f),
        |gy AS (SELECT doc_id, frame_idx, width, height, x, unnest(range(0, height)) AS y FROM g)
        |SELECT doc_id, frame_idx, width, height,
        |  CAST(SUM((doc_id * 31 + frame_idx * 17 + 7 * x + 13 * y) % 256) AS BIGINT) AS px_sum
        |FROM gy GROUP BY doc_id, frame_idx, width, height
        |ORDER BY doc_id, frame_idx""".stripMargin),

    // Tokenizer compression-rate eval: corpus symbol count after the 3 BPE
    // merges vs the character baseline, integer ppm — one row.
    q("q203_bpe_compression", (s, d) => ext.TextStats.bpeCompression(s, d),
      s"""WITH $bpeCte
         |SELECT CAST((SELECT COUNT(*) FROM w0) AS BIGINT) AS n_word_types,
         |  (SELECT CAST(SUM(cnt) AS BIGINT) FROM w0) AS n_words,
         |  (SELECT CAST(SUM(cnt * len(string_split(trim(sp), '  '))) AS BIGINT) FROM w0) AS syms_before,
         |  (SELECT CAST(SUM(cnt * len(string_split(trim(sp), '  '))) AS BIGINT) FROM w3) AS syms_after,
         |  (SELECT CAST(SUM(cnt * len(string_split(trim(sp), '  '))) AS BIGINT) FROM w3) * 1000000
         |    // (SELECT CAST(SUM(cnt * len(string_split(trim(sp), '  '))) AS BIGINT) FROM w0) AS compression_ppm""".stripMargin),

    // DSIR-style importance weights (linear integer-exact variant): per-doc
    // sum of bigram (target-share − rest-share) ppm, top-100 selection.
    q("q201_importance_weights", (s, d) => ext.TextStats.importanceWeights(s, d),
      """WITH db AS (SELECT doc_id, lang,
        |        unnest(list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i+1])) AS bg
        |      FROM (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents
        |            WHERE len(string_split(text, ' ')) >= 2)),
        |pb AS (SELECT bg,
        |         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_t,
        |         CAST(SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_r
        |       FROM db GROUP BY bg),
        |m AS (SELECT greatest(SUM(c_t), 1) AS m_t, greatest(SUM(c_r), 1) AS m_r FROM pb),
        |w AS (SELECT bg, (c_t * 1000000 // m.m_t) - (c_r * 1000000 // m.m_r) AS w_ppm FROM pb, m)
        |SELECT doc_id, lang, COUNT(*) AS n_bigrams, CAST(SUM(w_ppm) AS BIGINT) AS importance_ppm
        |FROM db JOIN w USING (bg)
        |GROUP BY doc_id, lang
        |ORDER BY importance_ppm DESC, doc_id LIMIT 100""".stripMargin),

    // Per-source release gate: quality pass rate + English share + duplicate-
    // segment rate composed into one pass/fail datasheet row per source.
    q("q200_release_gate", (s, d) => ext.TextStats.releaseGate(s, d),
      s"""WITH d AS (SELECT doc_id, source, lang, text, string_split(text, ' ') AS words FROM documents),
         |b AS (SELECT doc_id, source,
         |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en,
         |        CASE WHEN length(text) >= 100 AND length(text) <= 20000
         |              AND len(words) >= 20
         |              AND len(list_filter(words, w -> w IN $stop9)) > 0 THEN 1 ELSE 0 END AS passes
         |      FROM d),
         |ps AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(is_en) AS BIGINT) AS n_en,
         |         CAST(SUM(passes) AS BIGINT) AS n_pass FROM b GROUP BY source),
         |dw AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
         |       WHERE len(string_split(text, ' ')) >= 10),
         |segs AS (SELECT doc_id,
         |    unnest(list_transform(range(0, len(words) // 10),
         |      i -> array_to_string(words[(i*10+1):(i*10+10)], ' '))) AS seg
         |  FROM dw),
         |freq AS (SELECT seg, COUNT(DISTINCT doc_id) AS nd FROM segs GROUP BY seg),
         |perdoc AS (SELECT doc_id, COUNT(*) AS n_segments,
         |             CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |           FROM segs JOIN freq USING (seg) GROUP BY doc_id),
         |ds AS (SELECT dd.source, CAST(SUM(p.n_segments) AS BIGINT) AS n_segments,
         |         CAST(SUM(p.n_dup) AS BIGINT) AS n_dup
         |       FROM perdoc p JOIN documents dd USING (doc_id) GROUP BY dd.source)
         |SELECT ps.source, n_docs,
         |  n_en * 1000000 // n_docs AS en_ppm,
         |  n_pass * 1000000 // n_docs AS pass_ppm,
         |  CAST(COALESCE(n_dup * 1000000 // n_segments, 0) AS BIGINT) AS dup_ppm,
         |  (n_pass * 1000000 // n_docs) >= 500000
         |    AND CAST(COALESCE(n_dup * 1000000 // n_segments, 0) AS BIGINT) <= 250000 AS release_ok
         |FROM ps LEFT JOIN ds ON ds.source = ps.source
         |ORDER BY ps.source""".stripMargin),

    // C4-style rewrite: drop every 10-token segment that occurs verbatim in
    // >= 2 documents, reassemble each doc's surviving segments in order.
    q("q191_dedup_rewrite", (s, d) => ext.Dedup.segmentDedupRewrite(s, d),
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |           WHERE len(string_split(text, ' ')) >= 10),
        |segs AS (SELECT doc_id, CAST(t.i AS INT) AS idx,
        |    array_to_string(words[(t.i*10+1):(t.i*10+10)], ' ') AS seg
        |  FROM d, LATERAL (SELECT unnest(range(0, len(words) // 10)) AS i) t),
        |freq AS (SELECT seg, COUNT(DISTINCT doc_id) AS nd FROM segs GROUP BY seg)
        |SELECT doc_id, COUNT(*) AS n_segments,
        |  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  COALESCE(string_agg(CASE WHEN nd < 2 THEN seg END, ' ' ORDER BY idx), '') AS clean_text
        |FROM segs JOIN freq USING (seg)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Incremental PPJoin: an ingest wave (doc_id % 10 = 7) exact-Jaccard-
    // joined against the at-rest corpus shingle index — never a corpus
    // self-join. The oracle is DELIBERATELY the brute-force batch × corpus
    // cross join: the claim under test is that prefix filtering loses no
    // pair, so the oracle must not share the engine's filter machinery.
    q("q204_incremental_ppjoin", (s, d) => ext.Dedup.incrementalPrefixJoin(s, d),
      """WITH dw AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |dt AS (SELECT doc_id, list_distinct(list_transform(range(1, len(words) - 1),
        |    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS toks FROM dw),
        |a AS (SELECT doc_id AS doc_a, toks AS toks_a, CAST(len(toks) AS BIGINT) AS n_a
        |  FROM dt WHERE doc_id % 10 = 7),
        |b AS (SELECT doc_id AS doc_b, toks AS toks_b, CAST(len(toks) AS BIGINT) AS n_b
        |  FROM dt WHERE doc_id % 10 <> 7),
        |j AS (SELECT doc_a, doc_b, n_a, n_b,
        |    CAST(len(list_intersect(toks_a, toks_b)) AS BIGINT) AS n_common
        |  FROM a CROSS JOIN b),
        |jj AS (SELECT doc_a, doc_b, n_a, n_b, n_common,
        |    CAST(n_common * 1000000 // (n_a + n_b - n_common) AS BIGINT) AS jaccard_ppm
        |  FROM j)
        |SELECT doc_a, doc_b, n_a, n_b, n_common, jaccard_ppm
        |FROM jj WHERE jaccard_ppm >= 800000 ORDER BY doc_a, doc_b""".stripMargin),

    // Real decode + nearest-neighbor 2x downsample: the oracle recomputes the
    // resized pixel sum from the pixel law sampled at (2x, 2y).
    q("q205_image_resize", ext.Multimodal.imageResize,
      """WITH d AS (SELECT doc_id, doc_id % 8 + 1 AS w, doc_id % 5 + 1 AS h FROM documents),
        |e AS (SELECT doc_id, w, h, (w + 1) // 2 AS ow, (h + 1) // 2 AS oh FROM d)
        |SELECT doc_id, CAST(w AS INT) AS in_w, CAST(h AS INT) AS in_h,
        |  CAST(ow AS INT) AS out_w, CAST(oh AS INT) AS out_h,
        |  CAST(SUM((doc_id * 31 + 14 * tx.xx + 26 * ty.yy) % 256) AS BIGINT) AS px_sum
        |FROM e, LATERAL (SELECT unnest(range(ow)) AS xx) tx,
        |        LATERAL (SELECT unnest(range(oh)) AS yy) ty
        |GROUP BY doc_id, w, h, ow, oh ORDER BY doc_id""".stripMargin),

    // Real WAV decode + 128-sample analysis frames: per-frame exact integer
    // energy, recomputed by the oracle from the sample law.
    q("q206_audio_frames", (s, d) => ext.Multimodal.audioFrames(s, d),
      """WITH d AS (SELECT doc_id, doc_id % 480 + 20 AS n FROM documents),
        |s AS (SELECT doc_id, t.i // 128 AS f,
        |    ((doc_id * 17 + 11 * t.i) % 2048) - 1024 AS smp
        |  FROM d, LATERAL (SELECT unnest(range(n)) AS i) t)
        |SELECT doc_id, CAST(f AS INT) AS frame_idx,
        |  CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(SUM(smp * smp) AS BIGINT) AS energy
        |FROM s GROUP BY doc_id, f ORDER BY doc_id, f""".stripMargin),

    // Order-preserving compaction plan over a simulated file inventory:
    // sequential next-fit packing per partition, pure metadata arithmetic.
    q("q207_compaction_plan", (s, d) => engine.Layout.compactionPlan(s, d),
      """WITH f AS (SELECT source, doc_id // 20 AS file_id,
        |    CAST(SUM(n_chars) AS BIGINT) AS bytes
        |  FROM documents GROUP BY source, doc_id // 20),
        |c AS (SELECT source, file_id, bytes,
        |    CAST(COALESCE(SUM(bytes) OVER (PARTITION BY source ORDER BY file_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prec
        |  FROM f)
        |SELECT source, CAST(prec // 8192 AS BIGINT) AS bin_id, CAST(COUNT(*) AS BIGINT) AS n_files,
        |  CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
        |  MIN(file_id) AS first_file, MAX(file_id) AS last_file,
        |  SUM(bytes) > 8192 AS over_target
        |FROM c GROUP BY source, bin_id ORDER BY source, bin_id""".stripMargin),

    // Hierarchical anti-entropy: the engine narrows differing ranges via the
    // top->mid->leaf Merkle drill-down; the oracle computes the leaf diff
    // DIRECTLY (no hierarchy), so a drill-down that lost a range mismatches.
    q("q208_merkle_ranges", engine.Quality.merkleRangeDiff,
      """WITH h AS (SELECT doc_id // 64 AS leaf,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15)) AS BIGINT) AS h_base,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' ||
        |      CASE WHEN doc_id % 97 = 13 THEN text || ' replica-corruption' ELSE text END), 1, 15)) AS BIGINT) AS h_repl
        |  FROM documents),
        |l AS (SELECT leaf, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(bit_xor(h_base) AS BIGINT) AS fp_base,
        |    CAST(bit_xor(h_repl) AS BIGINT) AS fp_repl
        |  FROM h GROUP BY leaf)
        |SELECT leaf, leaf * 64 AS id_lo, n_docs, fp_base, fp_repl
        |FROM l WHERE fp_base <> fp_repl ORDER BY leaf""".stripMargin),

    // Johnson-Lindenstrauss sign projection: md5-derived +-1 planes over the
    // quantized vectors (exact integers both engines), plus the norm-ratio
    // audit that IS the JL distance-preservation guarantee.
    q("q209_jl_projection", (s, d) => ext.Similarity.jlProjection(s, d),
      """WITH kn AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS q FROM embeddings),
        |p AS (SELECT vec_id, q,
        |    list_transform(range(16), k -> CAST(list_sum(list_transform(range(64), d ->
        |      (CASE WHEN CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 1)) AS INT) % 2 = 0
        |        THEN 1 ELSE -1 END) * q[d + 1])) AS BIGINT)) AS pr
        |  FROM kn),
        |n AS (SELECT vec_id, pr,
        |    CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS norm2_q,
        |    CAST(list_sum(list_transform(pr, x -> x * x)) AS BIGINT) AS norm2_p
        |  FROM p)
        |SELECT vec_id, pr[1] AS proj0, pr[2] AS proj1, pr[3] AS proj2, pr[4] AS proj3,
        |  norm2_q, norm2_p,
        |  CAST(norm2_p * 1000000 // NULLIF(16 * norm2_q, 0) AS BIGINT) AS ratio_ppm
        |FROM n ORDER BY vec_id""".stripMargin),

    // Tokenizer fertility by language: the trained BPE dictionary's symbol
    // counts joined to per-language word counts — symbols per word / per
    // char, the fairness metric of a tokenizer across a language mix.
    q("q210_bpe_fertility", (s, d) => ext.TextStats.bpeFertility(s, d),
      s"""WITH $bpeCte,
         |dict AS (SELECT replace(trim(sp), '  ', '') AS w,
         |    CAST(len(string_split(trim(sp), '  ')) AS BIGINT) AS n_syms FROM w3),
         |lw AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE len(w) > 0 GROUP BY lang, w)
         |SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_words,
         |  CAST(SUM(cnt * length(w)) AS BIGINT) AS n_chars,
         |  CAST(SUM(cnt * n_syms) AS BIGINT) AS n_syms,
         |  CAST(SUM(cnt * n_syms) * 1000000 // SUM(cnt) AS BIGINT) AS fertility_ppm,
         |  CAST(SUM(cnt * n_syms) * 1000000 // SUM(cnt * length(w)) AS BIGINT) AS syms_per_char_ppm
         |FROM lw JOIN dict USING (w) GROUP BY lang ORDER BY lang""".stripMargin),

    // SCD2 time travel: the dimension AS OF a pre-update instant vs the
    // current state, one conditional-aggregate pass over the history.
    q("q211_scd2_asof", (s, d) => engine.Scd2.segmentAsOfDrift(s, d),
      s"""WITH $scd2Cte,
         |hist AS (SELECT * FROM kept UNION ALL SELECT * FROM newv)
         |SELECT c_mktsegment,
         |  CAST(SUM(CASE WHEN effective_date <= DATE '2020-03-01'
         |      AND end_date > DATE '2020-03-01' THEN 1 ELSE 0 END) AS BIGINT) AS n_asof,
         |  CAST(SUM(CASE WHEN is_current THEN 1 ELSE 0 END) AS BIGINT) AS n_current,
         |  CAST(SUM(CASE WHEN is_current THEN 1 ELSE 0 END)
         |    - SUM(CASE WHEN effective_date <= DATE '2020-03-01'
         |        AND end_date > DATE '2020-03-01' THEN 1 ELSE 0 END) AS BIGINT) AS drift
         |FROM hist GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // Span-level benchmark decontamination: segments verbatim in the
    // benchmark slice are cut and the doc reassembled in order.
    q("q212_decontaminate_rewrite", (s, d) => ext.Dedup.decontaminateRewrite(s, d),
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |           WHERE len(string_split(text, ' ')) >= 10),
        |segs AS (SELECT doc_id, CAST(t.i AS INT) AS idx,
        |    array_to_string(words[(t.i*10+1):(t.i*10+10)], ' ') AS seg
        |  FROM d, LATERAL (SELECT unnest(range(0, len(words) // 10)) AS i) t),
        |m AS (SELECT GREATEST(50, COUNT(*) // 1000) AS md FROM documents),
        |bench AS (SELECT DISTINCT seg FROM segs, m WHERE doc_id % m.md = 0)
        |SELECT s.doc_id, COUNT(*) AS n_segments,
        |  CAST(SUM(CASE WHEN b.seg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  COALESCE(string_agg(CASE WHEN b.seg IS NULL THEN s.seg END, ' ' ORDER BY idx), '') AS clean_text
        |FROM segs s LEFT JOIN bench b ON s.seg = b.seg, m
        |WHERE s.doc_id % m.md <> 0
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin),

    // Window-level code-switching audit: 20-token windows classified with
    // the q25 marker heuristic, adjacent-window disagreements counted — one
    // in-row projection, no explode, no shuffle.
    q("q213_code_switch", (s, d) => ext.TextStats.codeSwitchRate(s, d),
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |           WHERE len(string_split(text, ' ')) >= 20),
        |w AS (SELECT doc_id, list_transform(range(0, len(words) // 20),
        |    i -> words[(i*20+1):(i*20+20)]) AS wins FROM d),
        |l AS (SELECT doc_id, list_transform(wins, win -> CASE
        |    WHEN len(list_filter(win, x -> x IN ('the','a','of','and','is','to','in')))
        |           >= len(list_filter(win, x -> x IN ('el','la','de','y','que','los')))
        |     AND len(list_filter(win, x -> x IN ('the','a','of','and','is','to','in')))
        |           >= len(list_filter(win, x -> x IN ('le','la','de','et','les','des')))
        |     AND len(list_filter(win, x -> x IN ('the','a','of','and','is','to','in'))) > 0
        |    THEN 'en'
        |    WHEN len(list_filter(win, x -> x IN ('el','la','de','y','que','los')))
        |           >= len(list_filter(win, x -> x IN ('le','la','de','et','les','des')))
        |     AND len(list_filter(win, x -> x IN ('el','la','de','y','que','los'))) > 0
        |    THEN 'es'
        |    WHEN len(list_filter(win, x -> x IN ('le','la','de','et','les','des'))) > 0
        |    THEN 'fr'
        |    ELSE 'unknown' END) AS langs FROM w)
        |SELECT doc_id, CAST(len(langs) AS BIGINT) AS n_windows,
        |  CAST(len(list_distinct(langs)) AS BIGINT) AS n_lang_kinds,
        |  CAST(CASE WHEN len(langs) >= 2 THEN len(list_filter(range(1, len(langs)),
        |      i -> langs[i] <> langs[i+1])) ELSE 0 END AS BIGINT) AS n_switches,
        |  CAST(CASE WHEN len(langs) >= 2 THEN
        |      (CASE WHEN len(langs) >= 2 THEN len(list_filter(range(1, len(langs)),
        |         i -> langs[i] <> langs[i+1])) ELSE 0 END) * 1000000 // (len(langs) - 1)
        |    ELSE 0 END AS BIGINT) AS switch_ppm
        |FROM l ORDER BY doc_id""".stripMargin),

    // Right-to-erasure cascade: request set -> customer/orders/lineitem
    // purge audit (broadcast request keys, one membership pass per table).
    q("q214_delete_propagation", (s, d) => engine.Quality.deletePropagation(s, d),
      """WITH doomed_orders AS (SELECT o_orderkey FROM orders WHERE o_custkey % 59 = 3),
        |c AS (SELECT 'customer' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_before,
        |    CAST(SUM(CASE WHEN c_custkey % 59 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_purged
        |  FROM customer),
        |o AS (SELECT 'orders' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_before,
        |    CAST(SUM(CASE WHEN o_custkey % 59 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_purged
        |  FROM orders),
        |l AS (SELECT 'lineitem' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_before,
        |    CAST(SUM(CASE WHEN d.o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purged
        |  FROM lineitem li LEFT JOIN doomed_orders d ON li.l_orderkey = d.o_orderkey),
        |u AS (SELECT * FROM c UNION ALL SELECT * FROM o UNION ALL SELECT * FROM l)
        |SELECT table_name, n_before, n_purged, n_before - n_purged AS n_after
        |FROM u ORDER BY table_name""".stripMargin),

    // Backfill planner: missing month partitions coalesced into contiguous
    // ranges via the islands trick over the (calendar-bounded) month domain.
    q("q215_backfill_plan", (s, d) => engine.Layout.backfillPlan(s, d),
      """WITH mo AS (SELECT DISTINCT (year(CAST(o_orderdate AS DATE)) * 12
        |    + month(CAST(o_orderdate AS DATE)) - 1) AS m FROM orders),
        |b AS (SELECT MIN(m) AS lo, MAX(m) AS hi FROM mo),
        |spine AS (SELECT unnest(range(lo, hi + 1)) AS m FROM b),
        |ex AS (SELECT m FROM mo WHERE m % 7 <> 3),
        |miss AS (SELECT m FROM spine WHERE m NOT IN (SELECT m FROM ex)),
        |r AS (SELECT m, m - ROW_NUMBER() OVER (ORDER BY m) AS grp FROM miss)
        |SELECT printf('%04d-%02d', CAST(MIN(m) // 12 AS INT), CAST(MIN(m) % 12 + 1 AS INT)) AS start_month,
        |  printf('%04d-%02d', CAST(MAX(m) // 12 AS INT), CAST(MAX(m) % 12 + 1 AS INT)) AS end_month,
        |  CAST(COUNT(*) AS BIGINT) AS n_months
        |FROM r GROUP BY grp ORDER BY start_month""".stripMargin),

    // Effective token budget: raw vs dedup-surviving tokens per source —
    // the duplication-inflation margin a pretraining plan corrects for.
    q("q226_effective_tokens", (s, d) => ext.Dedup.effectiveTokens(s, d),
      s"""WITH RECURSIVE $bandsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |          UNION SELECT doc_b, doc_a FROM cand),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id),
         |lab AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         |losers AS (SELECT doc_id FROM lab WHERE doc_id <> cluster_id),
         |t AS (SELECT d.doc_id, d.source,
         |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |    l.doc_id IS NOT NULL AS lost
         |  FROM documents d LEFT JOIN losers l ON l.doc_id = d.doc_id)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS raw_tokens,
         |  CAST(SUM(CASE WHEN lost THEN 0 ELSE n_tokens END) AS BIGINT) AS effective_tokens,
         |  CAST((SUM(n_tokens) - SUM(CASE WHEN lost THEN 0 ELSE n_tokens END)) * 1000000
         |    // SUM(n_tokens) AS BIGINT) AS inflation_ppm
         |FROM t GROUP BY source ORDER BY source""".stripMargin),

    // JL retrieval-recall audit: exact integer top-10 in the full vs the
    // 16-dim projected space, per-query overlap — recall@k of the reduction.
    q("q225_jl_recall", (s, d) => ext.Similarity.jlRecall(s, d),
      """WITH kn AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS q FROM embeddings),
        |pr AS (SELECT vec_id, q,
        |    list_transform(range(16), k -> CAST(list_sum(list_transform(range(64), d ->
        |      (CASE WHEN CAST(('0x' || substr(md5(CAST(k AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 1)) AS INT) % 2 = 0
        |        THEN 1 ELSE -1 END) * q[d + 1])) AS BIGINT)) AS p
        |  FROM kn),
        |fq AS (SELECT vec_id AS query_id, q AS qq FROM pr WHERE vec_id < 20),
        |fd AS (SELECT query_id, c.vec_id AS cid,
        |    CAST(list_sum(list_transform(list_zip(qq, c.q), z -> z[1] * z[2])) AS BIGINT) AS dot
        |  FROM fq, pr c),
        |fr AS (SELECT query_id, cid,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot DESC, cid) AS rk FROM fd),
        |ft AS (SELECT query_id, cid FROM fr WHERE rk <= 10),
        |pq AS (SELECT vec_id AS query_id, p AS qp FROM pr WHERE vec_id < 20),
        |pd AS (SELECT query_id, c.vec_id AS cid,
        |    CAST(list_sum(list_transform(list_zip(qp, c.p), z -> z[1] * z[2])) AS BIGINT) AS dot
        |  FROM pq, pr c),
        |prk AS (SELECT query_id, cid,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot DESC, cid) AS rk FROM pd),
        |pt AS (SELECT query_id, cid FROM prk WHERE rk <= 10)
        |SELECT f.query_id, CAST(COUNT(p.cid) AS BIGINT) AS n_overlap,
        |  CAST(COUNT(p.cid) * 1000000 // 10 AS BIGINT) AS recall_ppm
        |FROM ft f LEFT JOIN pt p ON p.query_id = f.query_id AND p.cid = f.cid
        |GROUP BY f.query_id ORDER BY f.query_id""".stripMargin),

    // Cross-source duplication matrix: verified LSH pairs attributed to
    // (source, source) cells — dedup-burden attribution.
    q("q223_cross_source_dups", (s, d) => ext.Dedup.crossSourceDupMatrix(s, d),
      s"""WITH $bandsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
         |common AS (SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
         |  FROM cand c JOIN sh a ON a.doc_id = c.doc_a
         |              JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
         |  GROUP BY c.doc_a, c.doc_b),
         |lshp AS (SELECT c.doc_a, c.doc_b FROM cand c
         |  JOIN counts ca ON ca.doc_id = c.doc_a
         |  JOIN counts cb ON cb.doc_id = c.doc_b
         |  LEFT JOIN common cm ON cm.doc_a = c.doc_a AND cm.doc_b = c.doc_b
         |  WHERE COALESCE(cm.n_common, 0) * 1000000
         |      // (ca.n_sh + cb.n_sh - COALESCE(cm.n_common, 0)) >= 800000),
         |m AS (SELECT least(da.source, db.source) AS src_a,
         |    greatest(da.source, db.source) AS src_b
         |  FROM lshp JOIN documents da ON da.doc_id = lshp.doc_a
         |            JOIN documents db ON db.doc_id = lshp.doc_b)
         |SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
         |FROM m GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin),

    // Takedown expansion: removal requests close over the duplicate
    // clusters; oracle recomputes the closure by recursive transitive CTE.
    q("q224_takedown_expansion", (s, d) => ext.Dedup.takedownExpansion(s, d),
      s"""WITH RECURSIVE $bandsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |          UNION SELECT doc_b, doc_a FROM cand),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id),
         |lab AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
         |all_lab AS (SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cl
         |  FROM documents d LEFT JOIN lab l ON l.doc_id = d.doc_id),
         |hit AS (SELECT cl, MIN(doc_id) AS requested_by FROM all_lab
         |  WHERE doc_id % 83 = 11 GROUP BY cl)
         |SELECT a.doc_id, a.cl AS cluster_id,
         |  a.doc_id % 83 = 11 AS directly_requested, h.requested_by
         |FROM all_lab a JOIN hit h ON h.cl = a.cl ORDER BY a.doc_id""".stripMargin),

    // Zipf slope of the head vocabulary: integer bit-length log-log OLS,
    // sign-aware division — the corpus-naturalness health check.
    q("q222_zipf_slope", (s, d) => ext.TextStats.zipfSlope(s, d),
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |tc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM toks
        |  WHERE length(term) > 0 GROUP BY term),
        |top AS (SELECT term, c FROM tc ORDER BY c DESC, term LIMIT 1024),
        |rk AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS r FROM top),
        |pts AS (SELECT CAST(length(bin(r)) AS BIGINT) AS x,
        |    CAST(length(bin(c)) AS BIGINT) AS y FROM rk),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx FROM pts)
        |SELECT n AS n_terms, CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |  WHEN n * sxy - sx * sy >= 0
        |    THEN CAST((n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx) AS BIGINT)
        |  ELSE -CAST((-(n * sxy - sx * sy)) * 1000000 // (n * sxx - sx * sx) AS BIGINT)
        |  END AS slope_ppm
        |FROM m""".stripMargin),

    // Purged temporal split: p80-day cut by counting selection, embargo band
    // dropped; datasheet proves the split is contiguous and exactly gapped.
    q("q221_embargo_split", (s, d) => streaming.Events.embargoSplit(s, d),
      """WITH e AS (SELECT user_id,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day FROM events),
        |h AS (SELECT day, COUNT(*) AS c FROM e GROUP BY day),
        |cu AS (SELECT day, c,
        |    SUM(c) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(c) OVER () AS n FROM h),
        |ct AS (SELECT MIN(CASE WHEN cum >= (8 * n + 9) // 10 THEN day END) AS cut FROM cu),
        |t AS (SELECT user_id, day, CASE WHEN day < cut THEN 'train'
        |    WHEN day < cut + 2 THEN 'embargo_dropped' ELSE 'test' END AS split FROM e, ct)
        |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(DATE '1970-01-01' + CAST(MIN(day) AS INT) AS VARCHAR) AS first_day,
        |  CAST(DATE '1970-01-01' + CAST(MAX(day) AS INT) AS VARCHAR) AS last_day
        |FROM t GROUP BY split ORDER BY split""".stripMargin),

    // Dedup method-recall datasheet: truth via ORACLE-side brute force (the
    // prefix-filter lemma that defines engine truth stays under test);
    // methods re-derived independently and scored against it.
    q("q220_dedup_method_recall", (s, d) => ext.Dedup.dedupMethodRecall(s, d),
      s"""WITH $bandsCte,
         |counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
         |tcommon AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_common
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |scored AS (SELECT t.doc_a, t.doc_b,
         |    CAST(t.n_common * 1000000 // (ca.n_sh + cb.n_sh - t.n_common) AS BIGINT) AS jppm
         |  FROM tcommon t JOIN counts ca ON ca.doc_id = t.doc_a
         |                 JOIN counts cb ON cb.doc_id = t.doc_b),
         |truth AS (SELECT doc_a, doc_b FROM scored WHERE jppm >= 800000),
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |lsh AS (SELECT s.doc_a FROM scored s JOIN cand c
         |    ON c.doc_a = s.doc_a AND c.doc_b = s.doc_b WHERE s.jppm >= 800000),
         |keyed AS (SELECT doc_id,
         |    lower(array_to_string(string_split(text, ' ')[1:3], ' ')) AS k FROM documents),
         |rk AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY k, doc_id) AS r FROM keyed),
         |np AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
         |    greatest(a.doc_id, b.doc_id) AS doc_b
         |  FROM rk a JOIN rk b ON b.r > a.r AND b.r <= a.r + 3),
         |snm AS (SELECT s.doc_a FROM scored s JOIN np
         |    ON np.doc_a = s.doc_a AND np.doc_b = s.doc_b WHERE s.jppm >= 800000),
         |m AS (SELECT 'lsh_bands' AS method, CAST((SELECT COUNT(*) FROM lsh) AS BIGINT) AS n_found
         |  UNION ALL SELECT 'prefix_filter', (SELECT COUNT(*) FROM truth)
         |  UNION ALL SELECT 'sorted_neighborhood', (SELECT COUNT(*) FROM snm)),
         |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth)
         |SELECT method, n_truth, n_found,
         |  CAST(n_found * 1000000 // NULLIF(n_truth, 0) AS BIGINT) AS recall_ppm
         |FROM m, t ORDER BY method""".stripMargin),

    // Sorted-neighborhood dedup candidates (SNM): chunked parallel-prefix
    // rank + w-1 rank equi-joins + exact Jaccard verification; the oracle's
    // naive global ROW_NUMBER proves the chunked rank identical.
    q("q219_sorted_neighborhood", (s, d) => ext.Dedup.sortedNeighborhoodPairs(s, d),
      """WITH dw AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |keyed AS (SELECT doc_id, lower(array_to_string(words[1:3], ' ')) AS k FROM dw),
        |rk AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY k, doc_id) AS r FROM keyed),
        |pairs AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
        |    greatest(a.doc_id, b.doc_id) AS doc_b
        |  FROM rk a JOIN rk b ON b.r > a.r AND b.r <= a.r + 3),
        |dt AS (SELECT doc_id, list_distinct(list_transform(range(1, len(words) - 1),
        |    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS toks
        |  FROM dw WHERE len(words) >= 3),
        |j AS (SELECT p.doc_a, p.doc_b,
        |    CAST(len(ta.toks) AS BIGINT) AS n_a, CAST(len(tb.toks) AS BIGINT) AS n_b,
        |    CAST(len(list_intersect(ta.toks, tb.toks)) AS BIGINT) AS n_common
        |  FROM pairs p JOIN dt ta ON ta.doc_id = p.doc_a
        |               JOIN dt tb ON tb.doc_id = p.doc_b),
        |jj AS (SELECT doc_a, doc_b, n_a, n_b, n_common,
        |    CAST(n_common * 1000000 // (n_a + n_b - n_common) AS BIGINT) AS jaccard_ppm
        |  FROM j)
        |SELECT doc_a, doc_b, n_a, n_b, n_common, jaccard_ppm FROM jj
        |WHERE jaccard_ppm >= 500000 ORDER BY doc_a, doc_b""".stripMargin),

    // Unicode NFC canonicalization audit via the native graft_nfc expression;
    // planted decomposed/precomposed spellings, oracle uses nfc_normalize.
    q("q218_unicode_audit", (s, d) => ext.TextStats.unicodeAudit(s, d),
      """WITH r AS (SELECT doc_id, CASE
        |    WHEN doc_id % 3 = 0 THEN text || ' cafe' || chr(769)
        |    WHEN doc_id % 3 = 1 THEN text || ' caf' || chr(233)
        |    ELSE text END AS raw FROM documents),
        |n AS (SELECT doc_id, raw, nfc_normalize(raw) AS nfc FROM r)
        |SELECT doc_id, raw <> nfc AS changed,
        |  CAST(length(raw) AS BIGINT) AS len_raw,
        |  CAST(length(nfc) AS BIGINT) AS len_nfc
        |FROM n ORDER BY doc_id""".stripMargin),

    // Multimodal training-record manifest: text + per-modality REAL-codec
    // features in one row with presence flags; oracle recomputes every
    // feature from the closed-form pixel/sample/frame laws.
    q("q217_multimodal_manifest", (s, d) => ext.Multimodal.multimodalManifest(s, d),
      """WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words FROM documents),
        |ig AS (SELECT e.doc_id, CAST(SUM((e.doc_id * 31 + 7 * tx.xx + 13 * ty.yy) % 256) AS BIGINT) AS img_px
        |  FROM (SELECT doc_id, doc_id % 8 + 1 AS w, doc_id % 5 + 1 AS h
        |        FROM documents WHERE doc_id % 3 <> 0) e,
        |  LATERAL (SELECT unnest(range(e.w)) AS xx) tx,
        |  LATERAL (SELECT unnest(range(e.h)) AS yy) ty
        |  GROUP BY e.doc_id),
        |au AS (SELECT doc_id, CAST(SUM(smp * smp) AS BIGINT) AS audio_e FROM
        |  (SELECT a.doc_id, ((a.doc_id * 17 + 11 * t.i) % 2048) - 1024 AS smp
        |   FROM (SELECT doc_id, doc_id % 480 + 20 AS n
        |         FROM documents WHERE doc_id % 4 <> 0) a,
        |   LATERAL (SELECT unnest(range(a.n)) AS i) t) GROUP BY doc_id),
        |vf AS (SELECT v.doc_id, 2 * tf.fi AS f,
        |    (v.doc_id + 2 * tf.fi) % 8 + 1 AS w, (v.doc_id + 2 * tf.fi) % 5 + 1 AS h
        |  FROM (SELECT doc_id, doc_id % 6 + 2 AS n
        |        FROM documents WHERE doc_id % 5 <> 0) v,
        |  LATERAL (SELECT unnest(range((v.n + 1) // 2)) AS fi) tf),
        |vp AS (SELECT vf.doc_id, CAST(COUNT(DISTINCT vf.f) AS BIGINT) AS vid_frames,
        |    CAST(SUM((vf.doc_id * 31 + vf.f * 17 + 7 * tx.xx + 13 * ty.yy) % 256) AS BIGINT) AS vid_px
        |  FROM vf, LATERAL (SELECT unnest(range(vf.w)) AS xx) tx,
        |           LATERAL (SELECT unnest(range(vf.h)) AS yy) ty
        |  GROUP BY vf.doc_id)
        |SELECT d.doc_id, d.n_words,
        |  ig.doc_id IS NOT NULL AS has_image, COALESCE(ig.img_px, 0) AS img_px_sum,
        |  au.doc_id IS NOT NULL AS has_audio, COALESCE(au.audio_e, 0) AS audio_energy,
        |  vp.doc_id IS NOT NULL AS has_video, COALESCE(vp.vid_frames, 0) AS n_video_frames,
        |  COALESCE(vp.vid_px, 0) AS video_px_sum,
        |  CAST((CASE WHEN ig.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |     + (CASE WHEN au.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |     + (CASE WHEN vp.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_modalities
        |FROM d LEFT JOIN ig ON d.doc_id = ig.doc_id
        |  LEFT JOIN au ON d.doc_id = au.doc_id
        |  LEFT JOIN vp ON d.doc_id = vp.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // Incremental materialized-view maintenance: at-rest monthly rollup +
    // wave delta merged on month; oracle = the full GROUP BY recompute.
    q("q216_incremental_rollup", (s, d) => engine.Analytics.incrementalRevenueRollup(s, d),
      """SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY month ORDER BY month""".stripMargin),

    // Long-repeated-substring detection (Lee et al. ExactSubstr): maximal
    // verbatim repeats >= 5 tokens at arbitrary offsets, as maximal runs of
    // corpus-duplicated 5-grams. The oracle recomputes coverage from first
    // principles (every 5-gram, grouped, count >= 2) — it shares no filter
    // machinery with the engine's shuffle/islands plan.
    q("q227_long_repeat_spans", (s, d) => ext.Dedup.longRepeatSpans(s, d),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |  WHERE len(string_split(text, ' ')) >= 5),
        |g AS (SELECT doc_id, i AS p, array_to_string(w[i:i+4], ' ') AS gram
        |  FROM w, LATERAL (SELECT unnest(range(1, len(w) - 3)) AS i)),
        |d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |c AS (SELECT doc_id, p FROM g JOIN d USING (gram)),
        |r AS (SELECT doc_id, p, CASE WHEN p - lag(p)
        |      OVER (PARTITION BY doc_id ORDER BY p) <= 5 THEN 0 ELSE 1 END AS nr
        |  FROM c),
        |r2 AS (SELECT doc_id, p,
        |    sum(nr) OVER (PARTITION BY doc_id ORDER BY p) AS grp FROM r)
        |SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
        |  CAST(max(p) + 5 - min(p) AS BIGINT) AS span_len_tokens
        |FROM r2 GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin),

    // The removal half of ExactSubstr: every token inside a repeated span is
    // cut from every occurrence; untouched docs pass through verbatim.
    q("q228_repeat_cut", (s, d) => ext.Dedup.repeatCutRewrite(s, d),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, i AS p, array_to_string(w[i:i+4], ' ') AS gram
        |  FROM w, LATERAL (SELECT unnest(range(1, len(w) - 3)) AS i)
        |  WHERE len(w) >= 5),
        |d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |c AS (SELECT doc_id, p FROM g JOIN d USING (gram)),
        |r AS (SELECT doc_id, p,
        |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp FROM c),
        |sp AS (SELECT doc_id, min(p) AS s, max(p) + 4 AS e FROM r GROUP BY doc_id, grp),
        |tok AS (SELECT doc_id, len(w) AS nt, t.i AS i, w[t.i] AS word
        |  FROM w, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) t),
        |k2 AS (SELECT tok.*, EXISTS (SELECT 1 FROM sp WHERE sp.doc_id = tok.doc_id
        |    AND tok.i >= sp.s AND tok.i <= sp.e) AS cov FROM tok)
        |SELECT doc_id, CAST(max(nt) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN cov THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  COALESCE(string_agg(CASE WHEN NOT cov THEN word END, ' ' ORDER BY i), '')
        |    AS clean_text
        |FROM k2 GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Homoglyph-skeleton audit: planted Cyrillic/fullwidth evasions must be
    // restored by graft_skeleton (NFKC + lower + confusables). The oracle's
    // restoration check is an explicit inverse mapping table — translate
    // over the same codepoints — not the engine's Normalizer path.
    q("q229_homoglyph_skeleton", (s, d) => ext.TextStats.homoglyphSkeleton(s, d),
      """WITH d AS (SELECT doc_id, text,
        |    CASE WHEN doc_id % 7 = 3 THEN 'cyrillic'
        |         WHEN doc_id % 7 = 5 THEN 'fullwidth' ELSE 'clean' END AS variant,
        |    CASE WHEN doc_id % 7 = 3 THEN translate(text, 'aeopc', 'аеорс')
        |         WHEN doc_id % 7 = 5 THEN translate(text, 'aeo', 'ａｅｏ')
        |         ELSE text END AS dirty
        |  FROM documents)
        |SELECT doc_id, variant, dirty <> text AS changed,
        |  translate(dirty, 'аеорсａｅｏ', 'aeopcaeo') = text AS restored
        |FROM d ORDER BY doc_id""".stripMargin),

    // Sequence packing (concat-and-chunk): the corpus token stream in
    // doc_id order cut into 256-token training sequences; oracle recomputes
    // with a window cumsum and per-doc sequence-range expansion.
    q("q231_sequence_packing", (s, d) => ext.TextStats.sequencePacking(s, d),
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |c AS (SELECT doc_id, n, sum(n) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM d),
        |e AS (SELECT doc_id, n, cum, cum - n AS strt,
        |    unnest(range(CAST((cum - n) // 256 AS BIGINT),
        |                 CAST((cum - 1) // 256 + 1 AS BIGINT))) AS seq_id FROM c)
        |SELECT CAST(seq_id AS BIGINT) AS seq_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(least(cum, (seq_id + 1) * 256) -
        |           greatest(strt, seq_id * 256)) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM e GROUP BY seq_id ORDER BY seq_id""".stripMargin),

    // Incremental packing: the ingest wave (doc_id % 10 = 7) continues the
    // at-rest corpus token stream at the next sequence boundary; oracle
    // recomputes the wave manifest from the corpus total + a window cumsum.
    q("q232_incremental_packing", (s, d) => ext.TextStats.incrementalPacking(s, d),
      """WITH ct AS (SELECT COALESCE(CAST(sum(len(string_split(text, ' '))) AS BIGINT), 0)
        |    AS t FROM documents WHERE doc_id % 10 <> 7),
        |off AS (SELECT ((t + 255) // 256) * 256 AS o FROM ct),
        |d AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents
        |  WHERE doc_id % 10 = 7),
        |c AS (SELECT doc_id, n, sum(n) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + (SELECT o FROM off)
        |    AS cum FROM d),
        |e AS (SELECT doc_id, n, cum, cum - n AS strt,
        |    unnest(range(CAST((cum - n) // 256 AS BIGINT),
        |                 CAST((cum - 1) // 256 + 1 AS BIGINT))) AS seq_id FROM c)
        |SELECT CAST(seq_id AS BIGINT) AS seq_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(least(cum, (seq_id + 1) * 256) -
        |           greatest(strt, seq_id * 256)) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM e GROUP BY seq_id ORDER BY seq_id""".stripMargin),

    // LSH band-occupancy audit: the load-factor datasheet that predicts
    // candidate-pair blowup (sf1: 59x pairs at 10x docs) before the dedup
    // pass runs — per band, bucket stats + Σ s(s-1)/2 candidate pairs.
    q("q230_lsh_occupancy", (s, d) => ext.Dedup.lshOccupancyAudit(s, d),
      s"""WITH $bandsCte,
         |b AS (SELECT band_idx, band_hash, count(*) AS s FROM bands GROUP BY 1, 2)
         |SELECT band_idx, CAST(sum(s) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(max(s) AS BIGINT) AS max_bucket,
         |  CAST(sum(CASE WHEN s >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_collision_buckets,
         |  CAST(sum(s * (s - 1) // 2) AS BIGINT) AS cand_pairs,
         |  CAST(sum(s * (s - 1) // 2) * 1000000 // sum(s) AS BIGINT) AS pair_inflation_ppm
         |FROM b GROUP BY band_idx ORDER BY band_idx""".stripMargin),

    // IVF cell-balance datasheet: the probe-cost dial for the IVF family
    // (q230's counterpart for Voronoi cells) — size extremes plus exact ppm
    // imbalance and expected 1-probe scan fraction under query-follows-data.
    q("q233_ivf_cell_balance", (s, d) => ext.Similarity.ivfCellBalance(s, d),
      s"""WITH $vecsCte,
         |cents AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM n
         |          WHERE vec_id % (SELECT greatest(CAST(31 AS BIGINT),
         |            CAST(floor(sqrt(COUNT(*))) AS BIGINT)) FROM n) = 0),
         |cc AS (SELECT a.vec_id, c.centroid_id,
         |         list_sum(list_transform(list_zip(a.v, c.cv), z -> z[1] * z[2])) / (a.nrm * c.cn) AS ccos
         |       FROM n a CROSS JOIN cents c),
         |cr AS (SELECT *, CAST(row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, centroid_id) AS INT) AS crank
         |       FROM cc),
         |assigned AS (SELECT vec_id, centroid_id AS cell FROM cr WHERE crank = 1),
         |sz AS (SELECT cell, CAST(count(*) AS BIGINT) AS s FROM assigned GROUP BY cell)
         |SELECT CAST(count(*) AS BIGINT) AS n_cells,
         |  CAST(sum(s) AS BIGINT) AS n_vectors,
         |  CAST(min(s) AS BIGINT) AS min_cell,
         |  CAST(max(s) AS BIGINT) AS max_cell,
         |  CAST(CAST(max(s) AS HUGEINT) * count(*) * 1000000
         |    // CAST(sum(s) AS HUGEINT) AS BIGINT) AS imbalance_ppm,
         |  CAST(CAST(sum(s * s) AS HUGEINT) * 1000000
         |    // (CAST(sum(s) AS HUGEINT) * sum(s)) AS BIGINT) AS expected_probe_ppm
         |FROM sz""".stripMargin),

    // Semantic decontamination: every train vector's nearest held-out eval
    // item by cosine, with the contaminated flag at 0.4 — the embedding-space
    // screen beside the n-gram one (q57/q74). Eval sample is benchmark-
    // bounded (mod = max(50, n/1000), ~1k items at any scale); the oracle
    // derives the same law from COUNT(*).
    q("q234_semantic_decontaminate",
      (s, d) => ext.Similarity.semanticDecontaminate(s, d),
      s"""WITH $vecsCte,
         |m AS (SELECT greatest(CAST(50 AS BIGINT), CAST(COUNT(*) // 1000 AS BIGINT)) AS emod FROM n),
         |ev AS (SELECT vec_id AS eval_id, v AS evv, nrm AS en FROM n WHERE vec_id % (SELECT emod FROM m) = 0),
         |tr AS (SELECT * FROM n WHERE vec_id % (SELECT emod FROM m) <> 0),
         |p AS (SELECT tr.vec_id, ev.eval_id,
         |        list_sum(list_transform(list_zip(tr.v, ev.evv), z -> z[1] * z[2])) / (tr.nrm * ev.en) AS cos
         |      FROM tr CROSS JOIN ev),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, eval_id) AS INT) AS rn
         |      FROM p)
         |SELECT vec_id, eval_id AS nearest_eval_id, round(cos, 4) AS cos_sim,
         |  cos >= 0.4 AS contaminated
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin),

    // Keep-one-copy repeat cut: the conservative ExactSubstr removal policy
    // (q228's wholesale cut is the aggressive one) — each distinct repeated
    // span CONTENT survives in its corpus-first occurrence (min doc_id,
    // span_start) and is cut everywhere else. The oracle recomputes spans
    // from first principles (q227's islands rule), elects keepers with a
    // row_number over (doc_id, s), and rebuilds the text token-by-token.
    q("q235_repeat_cut_keep_one", (s, d) => ext.Dedup.repeatCutKeepOne(s, d),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, i AS p, array_to_string(w[i:i+4], ' ') AS gram
        |  FROM w, LATERAL (SELECT unnest(range(1, len(w) - 3)) AS i)
        |  WHERE len(w) >= 5),
        |d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        |c AS (SELECT doc_id, p FROM g JOIN d USING (gram)),
        |r AS (SELECT doc_id, p, CASE WHEN p - lag(p)
        |      OVER (PARTITION BY doc_id ORDER BY p) <= 5 THEN 0 ELSE 1 END AS nr
        |  FROM c),
        |r2 AS (SELECT doc_id, p,
        |    sum(nr) OVER (PARTITION BY doc_id ORDER BY p) AS grp FROM r),
        |sp AS (SELECT doc_id, min(p) AS s, max(p) + 4 AS e
        |  FROM r2 GROUP BY doc_id, grp),
        |spc AS (SELECT sp.doc_id, s, e, array_to_string(w.w[s:e], ' ') AS content
        |  FROM sp JOIN w ON sp.doc_id = w.doc_id),
        |cutsp AS (SELECT doc_id, s, e FROM (SELECT doc_id, s, e,
        |    row_number() OVER (PARTITION BY content ORDER BY doc_id, s) AS rn
        |  FROM spc) WHERE rn > 1),
        |tok AS (SELECT doc_id, len(w) AS nt, t.i AS i, w[t.i] AS word
        |  FROM w, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) t),
        |k2 AS (SELECT tok.*, EXISTS (SELECT 1 FROM cutsp
        |    WHERE cutsp.doc_id = tok.doc_id
        |    AND tok.i >= cutsp.s AND tok.i <= cutsp.e) AS cov FROM tok)
        |SELECT doc_id, CAST(max(nt) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN cov THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  COALESCE(string_agg(CASE WHEN NOT cov THEN word END, ' ' ORDER BY i), '')
        |    AS clean_text
        |FROM k2 GROUP BY doc_id ORDER BY doc_id""".stripMargin),
  )

  val all: Seq[QueryDef] = relational ++ extension ++ scaleOps

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(d => d.name -> d.run).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
