package graft.engine

import java.sql.Date

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gold dimensions: the reference's 9-dim star schema
  * (`spark_jobs/reporting.py:43-247`) as pure functions.
  *
  * Deviation from the reference, by design (SURVEY §7.4): surrogate keys come
  * from `row_number()` over the natural-key order instead of
  * `monotonically_increasing_id()` (`reporting.py:127,143,161,...`), which is
  * partition-layout-dependent and unreproducible. Date/Time SKs are value-derived
  * (yyyyMMdd / hour) exactly as the reference computes them.
  *
  * Scale note: every entity dim is a narrow projection (+ optional distinct);
  * the SK numbering is a range-partitioned sort plus a distributed sequence
  * ([[RelOps.rangedRowNumber]]), so it needs no re-shard even if a dimension
  * approached fact scale.
  */
object GoldDims {

  private def sk(name: String, orderCols: Seq[String]): DataFrame => DataFrame = df =>
    // sorted distributed sequence — the row_number values (SK keys are
    // unique), no all-to-one WindowExec even if a dimension approaches fact scale
    RelOps.rangedRowNumber(df, name, orderCols)

  /** dim_date: range-source spine + 20 calendar attributes
    * (`reporting.py:55-93`). Seeded from orders min/max purchase time, a
    * driver round-trip at construction — the only one in the gold build. */
  def dimDate(spark: SparkSession, silverOrders: DataFrame): DataFrame = {
    val mm = silverOrders.agg(
      to_date(min(col("Ord_Purchase_Time"))).as("mn"),
      to_date(max(col("Ord_Purchase_Time"))).as("mx")).head()
    dimDateFromRange(spark, mm.getDate(0), mm.getDate(1))
  }

  /** One row per day from `start` to `end`: the days of a `range` are
    * distinct by construction, so no dedup is needed. A few thousand days
    * at most, so one partition (and one file when written). */
  def dimDateFromRange(spark: SparkSession, start: Date, end: Date): DataFrame = {
    val days = java.time.temporal.ChronoUnit.DAYS.between(
      start.toLocalDate, end.toLocalDate) + 1
    spark.range(0, days, 1, 1)
      .select(date_add(lit(start), col("id").cast("int")).as("date"))
      .select(
        date_format(col("date"), "yyyyMMdd").cast("int").as("Date_SK"),
        col("date").cast("date").as("Date"),
        year(col("date")).as("Year"),
        month(col("date")).as("Month"),
        date_format(col("date"), "MMMM").as("MonthName"),
        quarter(col("date")).as("Quarter"),
        concat(lit("Q"), quarter(col("date"))).as("QuarterName"),
        weekofyear(col("date")).as("Week"),
        dayofmonth(col("date")).as("Day"),
        date_format(col("date"), "EEEE").as("DayName"),
        concat(year(col("date")), lit("-W"), lpad(weekofyear(col("date")), 2, "0")).as("YearWeek"),
        date_format(col("date"), "yyyy-MM").as("YearMonth"),
        dayofweek(col("date")).isin(1, 7).as("IsWeekend"),
        (dayofweek(col("date")) === 2).as("IsMonday"),
        dayofweek(col("date")).isin(2, 3, 4, 5, 6).as("IsWeekday"),
        lit(false).as("IsHoliday"),
        lit("").as("HolidayName"),
        year(col("date")).as("FiscalYear"),
        quarter(col("date")).as("FiscalQuarter"))
  }

  /** dim_time: 24-hour spine with period/AM-PM/business-hour when-chains
    * (`reporting.py:96-123`). */
  def dimTime(spark: SparkSession): DataFrame =
    spark.range(24)
      .select(col("id").cast("int").as("hour"))
      .select(
        col("hour").as("Time_SK"),
        col("hour").as("Hour_24"),
        when(col("hour") === 0, 12)
          .when(col("hour") <= 12, col("hour"))
          .otherwise(col("hour") - 12).as("Hour_12"),
        when(col("hour") < 12, "AM").otherwise("PM").as("AM_PM"),
        when(col("hour").between(6, 11), "Morning")
          .when(col("hour").between(12, 17), "Afternoon")
          .when(col("hour").between(18, 21), "Evening")
          .otherwise("Night").as("Time_Period"),
        col("hour").between(9, 17).as("Is_Business_Hours"),
        col("hour").between(18, 22).as("Is_Peak_Shopping"),
        concat(
          when(col("hour") === 0, "12")
            .when(col("hour") <= 12, format_string("%02d", col("hour")))
            .otherwise(format_string("%02d", col("hour") - 12)),
          lit(":00 "),
          when(col("hour") < 12, "AM").otherwise("PM")).as("Time_Display"))

  /** Zip-prefix → region band when-chain shared by customer/seller dims
    * (`reporting.py:134-138,183-187` — yes, the reference maps 40000-69999 back
    * to "Southeast"; preserved as-is). */
  private def zipRegion(zip: String): org.apache.spark.sql.Column =
    when(col(zip).between(1000, 19999), "Southeast")
      .when(col(zip).between(20000, 39999), "Northeast")
      .when(col(zip).between(40000, 69999), "Southeast")
      .when(col(zip).between(70000, 99999), "Other")
      .otherwise("Unknown")

  /** `reporting.py:126-139`. */
  def dimCustomers(silverCustomers: DataFrame): DataFrame =
    sk("Customer_SK", Seq("Customer_ID"))(
      silverCustomers.select(
        col("Cus_ID").as("Customer_ID"),
        col("Cus_Unique_ID").as("Customer_Unique_ID"),
        col("Cus_Zip_Code_Prefix").as("Customer_Zip_Code"),
        col("Cus_City").as("Customer_City"),
        col("customer_state").as("Customer_State"),
        zipRegion("Cus_Zip_Code_Prefix").as("Customer_Region")))

  /** `reporting.py:142-157`: weight bands + H×W×L volume. */
  def dimProducts(silverProducts: DataFrame): DataFrame =
    sk("Product_SK", Seq("Product_ID"))(
      silverProducts.select(
        col("Prod_ID").as("Product_ID"),
        col("Prod_Category_Name").as("Product_Category"),
        col("Prod_Weight_G").as("Product_Weight_G"),
        col("Prod_Height_CM").as("Product_Height_CM"),
        col("Prod_Width_CM").as("Product_Width_CM"),
        col("Prod_Length_CM").as("Product_Length_CM"),
        when(col("Prod_Weight_G") < 500, "Light")
          .when(col("Prod_Weight_G") < 2000, "Medium")
          .when(col("Prod_Weight_G") >= 2000, "Heavy")
          .otherwise("Unknown").as("Product_Weight_Category"),
        (col("Prod_Height_CM") * col("Prod_Width_CM") * col("Prod_Length_CM"))
          .as("Product_Volume_CM3")))

  /** `reporting.py:160-172`. */
  def dimSellers(silverSellers: DataFrame): DataFrame =
    sk("Seller_SK", Seq("Seller_ID"))(
      silverSellers.select(
        col("Sell_ID").as("Seller_ID"),
        col("Sell_Zip_Code_Prefix").as("Seller_Zip_Code"),
        col("Sell_City").as("Seller_City"),
        col("Sell_State").as("Seller_State"),
        zipRegion("Sell_Zip_Code_Prefix").as("Seller_Region")))

  /** `reporting.py:175-189`: UF state → macro-region isin chain + zip dedup. */
  def dimGeography(silverGeo: DataFrame): DataFrame =
    sk("Geography_SK", Seq("Zip_Code"))(
      silverGeo.select(
        col("Geo_Zip_Code_Prefix").as("Zip_Code"),
        col("Geo_City").as("City"),
        col("Geo_State").as("State"),
        col("Geo_Lat").as("Latitude"),
        col("Geo_Lng").as("Longitude"),
        when(col("Geo_State").isin("SP", "RJ", "MG", "ES"), "Southeast")
          .when(col("Geo_State").isin("BA", "SE", "PE", "AL", "PB", "RN", "CE", "PI", "MA"), "Northeast")
          .when(col("Geo_State").isin("PR", "SC", "RS"), "South")
          .when(col("Geo_State").isin("GO", "DF", "MT", "MS"), "Center-West")
          .when(col("Geo_State").isin("AM", "RR", "AP", "PA", "TO", "RO", "AC"), "North")
          .otherwise("Unknown").as("Region"))
        .dropDuplicates("Zip_Code"))

  /** `reporting.py:192-202`. (The reference classifies lowercase statuses but
    * silver initcap'd them — its Status_Category is always "Other"; preserved.) */
  def dimOrderStatus(silverOrders: DataFrame): DataFrame =
    sk("Order_Status_SK", Seq("Order_Status"))(
      silverOrders.select(col("Ord_Status").as("Order_Status")).distinct()
        .select(
          col("Order_Status"),
          when(col("Order_Status").isin("delivered"), "Completed")
            .when(col("Order_Status").isin("shipped", "processing"), "In Progress")
            .when(col("Order_Status").isin("canceled", "unavailable"), "Failed")
            .otherwise("Other").as("Status_Category")))

  /** `reporting.py:205-215`. */
  def dimPaymentTypes(silverPayments: DataFrame): DataFrame =
    sk("Payment_Type_SK", Seq("Payment_Type"))(
      silverPayments.select(col("Payment_Type")).distinct()
        .select(
          col("Payment_Type"),
          when(col("Payment_Type").isin("credit_card", "debit_card"), "Card")
            .when(col("Payment_Type").isin("boleto"), "Bank Transfer")
            .when(col("Payment_Type").isin("voucher"), "Voucher")
            .otherwise("Other").as("Payment_Category")))

  /** `reporting.py:218-235`. */
  def dimReviewScores(silverReviews: DataFrame): DataFrame =
    sk("Review_Score_SK", Seq("Review_Score"))(
      silverReviews.select(col("Rev_Score").cast("int").as("Review_Score")).distinct()
        .select(
          col("Review_Score"),
          when(col("Review_Score") === 1, "Very Poor")
            .when(col("Review_Score") === 2, "Poor")
            .when(col("Review_Score") === 3, "Average")
            .when(col("Review_Score") === 4, "Good")
            .when(col("Review_Score") === 5, "Excellent")
            .otherwise("Unknown").as("Score_Description"),
          when(col("Review_Score").isin(1, 2), "Negative")
            .when(col("Review_Score") === 3, "Neutral")
            .when(col("Review_Score").isin(4, 5), "Positive")
            .otherwise("Unknown").as("Score_Category")))

  /** All 9 dims, keyed like `reporting.py:237-247`, each built only when its
    * function is called: `dim_date` runs a driver min/max job at
    * construction. */
  def builders(spark: SparkSession, silver: Map[String, DataFrame]): Seq[(String, () => DataFrame)] = Seq(
    "dim_date" -> (() => dimDate(spark, silver("orders"))),
    "dim_time" -> (() => dimTime(spark)),
    "dim_customers" -> (() => dimCustomers(silver("customers"))),
    "dim_products" -> (() => dimProducts(silver("products"))),
    "dim_sellers" -> (() => dimSellers(silver("sellers"))),
    "dim_geography" -> (() => dimGeography(silver("geolocation"))),
    "dim_order_status" -> (() => dimOrderStatus(silver("orders"))),
    "dim_payment_types" -> (() => dimPaymentTypes(silver("order_payments"))),
    "dim_review_scores" -> (() => dimReviewScores(silver("order_reviews"))))
}
