package graft.engine

import java.sql.Date

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, IntegerType}

/** Gold dimensions: the reference's 9-dim star schema
  * (`spark_jobs/reporting.py:43-247`) as pure functions; building one runs
  * no job (`dim_date`'s range is observed on the silver orders write).
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

  /** dim_date: range-source spine + 20 calendar attributes
    * (`reporting.py:55-93`), one row per day from `start` to `end`, none
    * when either is NULL (no orders; a stand-in start keeps the schema). The
    * days of a `range` are distinct by construction, so no dedup is needed.
    * A few thousand days at most, so one partition (and one file). */
  def dimDateFromRange(spark: SparkSession, start: Date, end: Date): DataFrame = {
    val (from, days) =
      if (start == null || end == null) (Date.valueOf("1970-01-01"), 0L)
      else (start, java.time.temporal.ChronoUnit.DAYS.between(start.toLocalDate, end.toLocalDate) + 1)
    spark.range(0, days, 1, 1)
      .select(date_add(lit(from), col("id").cast(IntegerType)).as("date"))
      .select(
        date_format(col("date"), "yyyyMMdd").cast(IntegerType).as("Date_SK"),
        col("date").cast(DateType).as("Date"),
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
    * (`reporting.py:96-123`). 24 rows, so one partition (and one file). */
  def dimTime(spark: SparkSession): DataFrame =
    spark.range(0, 24, 1, 1)
      .select(col("id").cast(IntegerType).as("hour"))
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
  private def zipRegion(zip: String): Column =
    when(col(zip).between(1000, 19999), "Southeast")
      .when(col(zip).between(20000, 39999), "Northeast")
      .when(col(zip).between(40000, 69999), "Southeast")
      .when(col(zip).between(70000, 99999), "Other")
      .otherwise("Unknown")

  /** `reporting.py:126-139`. */
  def dimCustomers(silverCustomers: DataFrame): DataFrame =
    RelOps.rangedRowNumber(
      silverCustomers.select(
        col("Cus_ID").as("Customer_ID"),
        col("Cus_Unique_ID").as("Customer_Unique_ID"),
        col("Cus_Zip_Code_Prefix").as("Customer_Zip_Code"),
        col("Cus_City").as("Customer_City"),
        col("customer_state").as("Customer_State"),
        zipRegion("Cus_Zip_Code_Prefix").as("Customer_Region")),
      "Customer_SK", Seq("Customer_ID"))

  /** `reporting.py:142-157`: weight bands + H×W×L volume. */
  def dimProducts(silverProducts: DataFrame): DataFrame =
    RelOps.rangedRowNumber(
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
          .as("Product_Volume_CM3")),
      "Product_SK", Seq("Product_ID"))

  /** `reporting.py:160-172`. */
  def dimSellers(silverSellers: DataFrame): DataFrame =
    RelOps.rangedRowNumber(
      silverSellers.select(
        col("Sell_ID").as("Seller_ID"),
        col("Sell_Zip_Code_Prefix").as("Seller_Zip_Code"),
        col("Sell_City").as("Seller_City"),
        col("Sell_State").as("Seller_State"),
        zipRegion("Sell_Zip_Code_Prefix").as("Seller_Region")),
      "Seller_SK", Seq("Seller_ID"))

  /** `reporting.py:175-189`: UF state → macro-region isin chain + zip dedup.
    * Deviation, by design: the reference's `dropDuplicates` keeps an
    * input-order-dependent row per zip; here the least (City, State,
    * Latitude, Longitude) one. */
  def dimGeography(silverGeo: DataFrame): DataFrame =
    RelOps.rangedRowNumber(
      silverGeo.groupBy(col("Geo_Zip_Code_Prefix").as("Zip_Code"))
        .agg(min(struct(col("Geo_City").as("City"), col("Geo_State").as("State"),
          col("Geo_Lat").as("Latitude"), col("Geo_Lng").as("Longitude"))).as("g"))
        .select(col("Zip_Code"), col("g.*"))
        .withColumn("Region",
          when(col("State").isin("SP", "RJ", "MG", "ES"), "Southeast")
            .when(col("State").isin("BA", "SE", "PE", "AL", "PB", "RN", "CE", "PI", "MA"), "Northeast")
            .when(col("State").isin("PR", "SC", "RS"), "South")
            .when(col("State").isin("GO", "DF", "MT", "MS"), "Center-West")
            .when(col("State").isin("AM", "RR", "AP", "PA", "TO", "RO", "AC"), "North")
            .otherwise("Unknown")),
      "Geography_SK", Seq("Zip_Code"))

  /** `reporting.py:192-202`. (The reference classifies lowercase statuses but
    * silver initcap'd them — its Status_Category is always "Other"; preserved.) */
  def dimOrderStatus(silverOrders: DataFrame): DataFrame =
    RelOps.rangedRowNumber(
      silverOrders.select(col("Ord_Status").as("Order_Status")).distinct()
        .select(
          col("Order_Status"),
          when(col("Order_Status").isin("delivered"), "Completed")
            .when(col("Order_Status").isin("shipped", "processing"), "In Progress")
            .when(col("Order_Status").isin("canceled", "unavailable"), "Failed")
            .otherwise("Other").as("Status_Category")),
      "Order_Status_SK", Seq("Order_Status"))

  /** `reporting.py:205-215`. */
  def dimPaymentTypes(silverPayments: DataFrame): DataFrame =
    RelOps.rangedRowNumber(
      silverPayments.select(col("Payment_Type")).distinct()
        .select(
          col("Payment_Type"),
          when(col("Payment_Type").isin("credit_card", "debit_card"), "Card")
            .when(col("Payment_Type").isin("boleto"), "Bank Transfer")
            .when(col("Payment_Type").isin("voucher"), "Voucher")
            .otherwise("Other").as("Payment_Category")),
      "Payment_Type_SK", Seq("Payment_Type"))

  /** `reporting.py:218-235`. */
  def dimReviewScores(silverReviews: DataFrame): DataFrame =
    RelOps.rangedRowNumber(
      silverReviews.select(col("Rev_Score").cast(IntegerType).as("Review_Score")).distinct()
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
            .otherwise("Unknown").as("Score_Category")),
      "Review_Score_SK", Seq("Review_Score"))
}
