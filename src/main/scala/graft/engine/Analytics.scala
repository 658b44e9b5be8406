package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dashboard-parity analytics over the gold facts — the YoY / top-N / averages
  * / share-of-total metrics the reference delegates to Power BI DAX
  * (`Readme.md:157-196`; SURVEY §2.6). First-class queries here so a user of
  * the reference's dashboards can compute every headline number in-engine.
  */
object Analytics {

  /** Monthly sales with YoY difference and % — Dashboard 1/2 headline KPIs
    * (`Readme.md:157-159,179-181`). Input: fact_sales. */
  def monthlySalesYoY(factSales: DataFrame): DataFrame = {
    val monthly = factSales
      .groupBy(
        (col("Order_Date_SK") / 10000).cast("int").as("Year"),
        ((col("Order_Date_SK") % 10000) / 100).cast("int").as("Month"))
      .agg(sum(col("Sales_Amount")).as("Sales"))
      .coalesce(1) // one row per (year, month): lag window and sort need no exchange
    val w = Window.partitionBy(col("Month")).orderBy(col("Year"))
    monthly
      // same-period-last-year: only compare against Year-1 — if a year is
      // missing for this month, YoY is NULL (lag alone would silently compare
      // against an older year)
      .withColumn("PrevYearSales",
        when(lag(col("Year"), 1).over(w) === col("Year") - 1,
          lag(col("Sales"), 1).over(w)))
      .withColumn("YoY_Diff", col("Sales") - col("PrevYearSales"))
      .withColumn("YoY_Pct",
        round(col("YoY_Diff") * 100.0 / col("PrevYearSales"), 2))
      .orderBy("Year", "Month")
  }

  /** Top-N products by sales — Dashboard 1 (`Readme.md:165`). Scale-safe:
    * `orderBy().limit(n)` (TakeOrderedAndProject — k rows per partition cross
    * the shuffle) instead of a global single-partition window sort; the rank
    * window then runs over the n surviving rows only. */
  def topProducts(factSales: DataFrame, n: Int = 10): DataFrame = {
    val w = Window.orderBy(col("Product_Sales").desc, col("Product_ID").asc)
    factSales.groupBy(col("Product_ID"))
      .agg(sum(col("Sales_Amount")).as("Product_Sales"),
        count(lit(1)).as("Items_Sold"))
      .orderBy(col("Product_Sales").desc, col("Product_ID").asc)
      .limit(n)
      .withColumn("Rank", row_number().over(w))
      .orderBy("Rank")
  }

  /** Average daily sales / orders — Dashboard 2 (`Readme.md:163,183`):
    * two-level aggregate (per-day sum → global average). */
  def avgDaily(factOrders: DataFrame): DataFrame =
    factOrders
      .groupBy(col("Order_Date_SK"))
      .agg(
        sum(col("Total_Payment_Value")).as("day_sales"),
        count(lit(1)).as("day_orders"))
      .coalesce(1) // one row per day: the global average needs no exchange
      .agg(
        avg(col("day_sales")).as("Avg_Daily_Sales"),
        avg(col("day_orders")).as("Avg_Daily_Orders"),
        count(lit(1)).as("Days_Observed"))

  /** Share of sales per group (e.g. state, region, category) with % of total —
    * Dashboard 1's "Top 3 cities = 37%" style metric (`Readme.md:187`). */
  def shareOfSales(factSales: DataFrame, dim: DataFrame, dimKey: String,
      factKey: String, groupCol: String): DataFrame = {
    val joined = factSales.join(dim, col(factKey) === col(dimKey))
    val total = Window.partitionBy()
    joined.groupBy(col(groupCol))
      .agg(sum(col("Sales_Amount")).as("Group_Sales"))
      .coalesce(1) // one row per group: total window and sort need no exchange
      .withColumn("Pct_Of_Total",
        round(col("Group_Sales") * 100.0 / sum(col("Group_Sales")).over(total), 2))
      .orderBy(col("Group_Sales").desc)
  }

  /** Exact-moment Pearson correlation + OLS slope (q123): corr(ship month,
    * quantity) per return flag. Spark's `corr()` (and DuckDB's) accumulate
    * DOUBLE moments in partition order — the result drifts in the last ulps
    * across engines and runs, so it can never hash-match. Here the five
    * moments (Σx, Σy, Σxy, Σx², Σy²) are EXACT BIGINT sums (month ≤ 12,
    * quantity ≤ 50 keep every SUM far inside int64 at any SF), each moment
    * is converted to double once, and the corr/slope formulas are evaluated
    * in the identical expression shape on both engines: same inputs, same
    * IEEE op sequence, same bits. The variance/covariance terms multiply
    * AFTER the double conversion — n·Σy² exceeds int64 near ~6×10⁷ rows per
    * group, and Spark would wrap where DuckDB raises; double products round
    * identically on both engines instead. Zero-variance groups (one row, or
    * a constant x/y) yield NULL rather than a cross-engine NaN/Inf cast
    * divergence. One map-side-combinable pass — the two-pass-free corr for
    * distributed data. */
  def corrSlope(lineitem: DataFrame): DataFrame =
    lineitem
      .select(col("l_returnflag"),
        month(col("l_shipdate")).cast("long").as("x"),
        col("l_quantity").cast("long").as("y"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sx2"),
        sum(col("y") * col("y")).as("sy2"))
      .withColumn("vx", expr(
        "CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"))
      .withColumn("vy", expr(
        "CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"))
      .withColumn("vxy", expr(
        "CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"))
      .withColumn("corr_e6", expr(
        "CASE WHEN vx > 0 AND vy > 0 THEN CAST(floor(vxy / sqrt(vx * vy) * 1000000.0) AS BIGINT) END"))
      .withColumn("slope_e6", expr(
        "CASE WHEN vx > 0 THEN CAST(floor(vxy / vx * 1000000.0) AS BIGINT) END"))
      .select(col("l_returnflag"), col("n"), col("sx"), col("sy"),
        col("corr_e6"), col("slope_e6"))
      .orderBy("l_returnflag")

  /** Closed-form TWO-feature OLS per language (q185): document length
    * (n_chars) regressed on token count and distinct-token count via the
    * normal equations, solved by Cramer's rule on exact integer centered
    * moments — the one-pass distributed multiple regression (the iterative
    * gradient alternative is many passes; the closed form is ONE map-side-
    * combinable aggregate per group plus driver-free 2×2 algebra in the
    * projection).
    *
    * Exactness: centered moments in cross-multiplied integer form
    * (n·Σxz − Σx·Σz), Cramer numerators/determinant in DECIMAL(38,0), and
    * SIGN-AWARE truncating division (|num| div det with the sign reattached
    * — Spark `div` truncates toward zero where DuckDB `//` floors, so they
    * agree only on non-negative operands; the q168 pattern). Exact up to
    * ~10⁸ rows per group with these magnitudes; beyond that the same
    * formulas run on mean-scaled moments at bounded precision cost (the
    * q170 caveat). Collinear features (det = 0, e.g. a group where distinct
    * count is an exact multiple of token count) yield NULL coefficients
    * rather than a divide-by-zero.
    *
    * Overflow is FAIL-LOUD, not silent: past 38 digits Spark's non-ANSI
    * decimal multiply returns NULL, which would make an overflowed group
    * indistinguishable from the documented collinear det=0 NULL (DuckDB's
    * HUGEINT raises instead — a silent cross-engine divergence). The guard
    * raises once any centered moment exceeds 10¹⁵ in magnitude: products of
    * two guarded moments stay ≤ 2·10³⁰, and ×10⁶ in the coefficient scaling
    * stays ≤ 2·10³⁶ < 10³⁸, so every arithmetic step below the guard is
    * exact. */
  def ols2(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    ols2From(Tables.documents(spark, dir).select(col("lang"),
      size(split(col("text"), " ")).cast("long").as("x"),
      size(array_distinct(split(col("text"), " "))).cast("long").as("z"),
      col("n_chars").as("y")))

  /** [[ols2]]'s solver over any (lang, x, z, y) frame — also the
    * overflow-guard test surface (AnalyticsSpec plants ~10⁷-magnitude
    * features and asserts the loud failure). */
  def ols2From(base: DataFrame): DataFrame = {
    base.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("z")).as("sz"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx0"),
        sum(col("x") * col("z")).as("sxz0"),
        sum(col("z") * col("z")).as("szz0"),
        sum(col("x") * col("y")).as("sxy0"),
        sum(col("z") * col("y")).as("szy0"))
      .withColumn("sxx", expr("CAST(n AS DECIMAL(38,0)) * sxx0 - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("sxz", expr("CAST(n AS DECIMAL(38,0)) * sxz0 - CAST(sx AS DECIMAL(38,0)) * sz"))
      .withColumn("szz", expr("CAST(n AS DECIMAL(38,0)) * szz0 - CAST(sz AS DECIMAL(38,0)) * sz"))
      .withColumn("sxy", expr("CAST(n AS DECIMAL(38,0)) * sxy0 - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("szy", expr("CAST(n AS DECIMAL(38,0)) * szy0 - CAST(sz AS DECIMAL(38,0)) * sy"))
      .withColumn("det", expr(
        """CASE WHEN greatest(abs(sxx), abs(sxz), abs(szz), abs(sxy), abs(szy))
          |       > CAST(1000000000000000 AS DECIMAL(38,0))
          |  THEN CAST(raise_error(concat('ols2: centered moment magnitude for group ',
          |    CAST(lang AS STRING),
          |    ' exceeds the exact-arithmetic bound 1e15; rerun on mean-scaled moments'))
          |    AS DECIMAL(38,0))
          |  ELSE sxx * szz - sxz * sxz END""".stripMargin))
      .withColumn("b1num", expr("sxy * szz - szy * sxz"))
      .withColumn("b2num", expr("szy * sxx - sxy * sxz"))
      .select(col("lang"), col("n"),
        when(col("det") > 0,
          when(col("b1num") >= 0, expr("CAST(b1num * 1000000 div det AS BIGINT)"))
            .otherwise(expr("-CAST((-b1num) * 1000000 div det AS BIGINT)")))
          .as("beta_tokens_ppm"),
        when(col("det") > 0,
          when(col("b2num") >= 0, expr("CAST(b2num * 1000000 div det AS BIGINT)"))
            .otherwise(expr("-CAST((-b2num) * 1000000 div det AS BIGINT)")))
          .as("beta_distinct_ppm"))
      .orderBy("lang")
  }

  /** Delivery-performance KPIs from fact_orders (Dashboard 3,
    * `Readme.md:189-196`): average approval / delivery days, late share. */
  def deliveryKpis(factOrders: DataFrame): DataFrame =
    factOrders.agg(
      round(avg(col("Approval_Days")), 2).as("Avg_Approval_Days"),
      round(avg(col("Total_Delivery_Days")), 2).as("Avg_Delivery_Days"),
      sum(when(col("Customer_Delivery_Date") > col("Estimated_Delivery_Date"), 1)
        .otherwise(0)).cast("long").as("Late_Deliveries"),
      count(lit(1)).as("Total_Orders"))

  /** Incremental AGGREGATE maintenance (q216) — the batch materialized-view
    * update every warehouse schedules: a maintained monthly revenue rollup
    * (at rest, built once per dir over the corpus MINUS the wave) folded
    * with an arriving order wave's delta (o_orderkey % mod = rem, the
    * ingest-wave convention) by a FULL OUTER merge on month. The oracle is
    * DELIBERATELY the full GROUP BY recompute over all orders — the claim
    * is that state + delta returns the identical rollup without re-scanning
    * the corpus (per-wave cost = wave aggregate + month-domain-sized merge).
    *
    * Exactness discipline: partial sums live as DECIMAL in the state and the
    * delta (decimal addition is associative/exact), and cast to DOUBLE only
    * at the output boundary — merging double partials would re-add floats
    * in a different order than the oracle's single SUM and drift. */
  def incrementalRevenueRollup(spark: org.apache.spark.sql.SparkSession,
      dir: String, mod: Int = 10, rem: Int = 7): DataFrame = {
    val isWave = col("o_orderkey") % mod === rem
    def rollup(df: DataFrame): DataFrame = df
      .groupBy(expr("date_format(CAST(o_orderdate AS DATE), 'yyyy-MM')").as("month"))
      .agg(count(lit(1)).as("n_orders"), sum(Dec.d2(col("o_totalprice"))).as("rev"))
    val statePath = Fs.buildOnce(
      s"graft_mvroll_${Fs.dirTag(dir)}_m${mod}r$rem",
      spark.sessionState.newHadoopConf()) { p =>
      rollup(Tables.orders(spark, dir).filter(!isWave))
        .write.mode("overwrite").parquet(p)
    }
    val state = spark.read.parquet(statePath)
      .select(col("month").as("m_s"), col("n_orders").as("n_s"), col("rev").as("r_s"))
    val delta = rollup(Tables.orders(spark, dir).filter(isWave))
      .select(col("month").as("m_d"), col("n_orders").as("n_d"), col("rev").as("r_d"))
    // NULL-SAFE merge key: a NULL month (null o_orderdate) groups into one
    // row on both sides and in the oracle's single GROUP BY — a plain
    // equi-join would keep state-NULL and delta-NULL as two separate rows
    state.join(delta, col("m_s") <=> col("m_d"), "full_outer")
      .select(coalesce(col("m_s"), col("m_d")).as("month"),
        (coalesce(col("n_s"), lit(0L)) + coalesce(col("n_d"), lit(0L))).as("n_orders"),
        (coalesce(col("r_s"), lit(0).cast(Dec.D18_2))
          + coalesce(col("r_d"), lit(0).cast(Dec.D18_2))).cast("double").as("revenue"))
      .orderBy("month")
  }
}
