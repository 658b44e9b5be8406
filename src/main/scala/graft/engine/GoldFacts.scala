package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Gold facts: the reference's 3 fact tables (`spark_jobs/reporting.py:249-409`)
  * as pure functions over silver DataFrames.
  *
  * Determinism deviations (SURVEY §7.4):
  *  - `first(Payment_Type)` (`reporting.py:263,313`) → `min(...)` (at reference
  *    runtime silver already deduped payments to one row per order, so
  *    first == min == the only value; on un-deduped data min is the stable choice);
  *  - `monotonically_increasing_id()` SK → the row number over the natural
  *    key, as a range-sorted distributed sequence ([[RelOps.rangedRowNumber]];
  *    fact SK keys are unique natural keys), so the fact build never funnels
  *    through one partition for its surrogate keys at 100 TB;
  *  - the reference's `current_timestamp()` Load_Timestamp is not emitted (it
  *    is nondeterministic by nature).
  *
  * Scale: payments/items aggregate map-side before one shuffle on Ord_ID; the
  * fact joins then reuse that same key, so at 100 TB the whole build is two
  * co-partitioned shuffle stages. Dimension↔fact joins stay deferred to the BI
  * layer exactly like the reference (`Readme.md:198-204`).
  */
object GoldFacts {

  /** Appends the int year of the yyyyMMdd `dateSk`: each fact's last column,
    * its write's partition in [[Medallion.gold]]. */
  private def withYear(df: DataFrame, dateSk: String, yearCol: String): DataFrame =
    df.withColumn(yearCol, (col(dateSk) / 10000).cast(IntegerType))

  /** Payments rolled up per order (`reporting.py:260-263`): fact_sales and fact_orders join it. */
  private def paymentsPerOrder(silverPayments: DataFrame): DataFrame =
    silverPayments.groupBy(col("Ord_ID")).agg(
      sum(col("Payment_Value")).as("Total_Payment_Value"),
      sum(col("Payment_Installments")).as("Total_Installments"),
      count(col("Payment_Type")).as("Payment_Methods_Count"),
      min(col("Payment_Type")).as("Primary_Payment_Type"))

  /** Fact_Sales, grain: order item (`reporting.py:249-297`). */
  def factSales(silver: Map[String, DataFrame]): DataFrame = {
    val base = silver("order_items").alias("oi")
      .join(silver("orders").alias("o"), "Ord_ID")
      .join(paymentsPerOrder(silver("order_payments")).alias("p"), "Ord_ID")
      .select(
        col("Ord_ID").as("Order_ID"),
        col("oi.Ord_Item_ID").as("Order_Item_ID"),
        col("oi.Prod_ID").as("Product_ID"),
        col("o.Cus_ID").as("Customer_ID"),
        col("oi.Sell_ID").as("Seller_ID"),
        col("p.Primary_Payment_Type").as("Payment_Type"),
        col("o.Ord_Status").as("Order_Status"),
        date_format(col("o.Ord_Purchase_Time"), "yyyyMMdd").cast(IntegerType).as("Order_Date_SK"),
        hour(col("o.Ord_Purchase_Time")).as("Order_Time_SK"),
        col("oi.Price").as("Sales_Amount"),
        col("oi.Freight_Value").as("Freight_Value"),
        lit(1).as("Quantity"),
        col("p.Total_Payment_Value").as("Order_Payment_Value"),
        col("o.Ord_Purchase_Time").as("Order_Timestamp"))
    withYear(RelOps.rangedRowNumber(base, "Sales_SK", Seq("Order_ID", "Order_Item_ID")),
      "Order_Date_SK", "Order_Year")
  }

  /** Fact_Orders, grain: order (`reporting.py:299-363`). */
  def factOrders(silver: Map[String, DataFrame]): DataFrame = {
    val itemsAgg = silver("order_items").groupBy(col("Ord_ID")).agg(
      count(col("Ord_Item_ID")).as("Items_Count"),
      sum(col("Price")).as("Items_Total_Value"),
      sum(col("Freight_Value")).as("Total_Freight_Value"))
    val base = silver("orders").alias("o")
      .join(paymentsPerOrder(silver("order_payments")).alias("p"), "Ord_ID")
      .join(itemsAgg.alias("i"), "Ord_ID")
      .select(
        col("Ord_ID").as("Order_ID"),
        col("o.Cus_ID").as("Customer_ID"),
        col("p.Primary_Payment_Type").as("Payment_Type"),
        col("o.Ord_Status").as("Order_Status"),
        date_format(col("o.Ord_Purchase_Time"), "yyyyMMdd").cast(IntegerType).as("Order_Date_SK"),
        hour(col("o.Ord_Purchase_Time")).as("Order_Time_SK"),
        col("i.Items_Count").as("Order_Items_Count"),
        col("i.Items_Total_Value").as("Order_Items_Value"),
        col("i.Total_Freight_Value").as("Order_Freight_Value"),
        col("p.Total_Payment_Value").as("Total_Payment_Value"),
        col("p.Total_Installments").as("Total_Installments"),
        col("p.Payment_Methods_Count").as("Payment_Methods_Count"),
        col("o.Ord_Purchase_Time").as("Order_Timestamp"),
        col("o.Ord_Approved_At").as("Approved_Timestamp"),
        col("o.Ord_Delivered_Carrier_Date").as("Carrier_Delivery_Date"),
        col("o.Ord_Delivered_Customer_Date").as("Customer_Delivery_Date"),
        col("o.Ord_Estimated_Delivery_Date").as("Estimated_Delivery_Date"),
        datediff(col("o.Ord_Approved_At"), col("o.Ord_Purchase_Time")).as("Approval_Days"),
        datediff(col("o.Ord_Delivered_Customer_Date"), col("o.Ord_Purchase_Time")).as("Total_Delivery_Days"))
    withYear(RelOps.rangedRowNumber(base, "Order_SK", Seq("Order_ID")), "Order_Date_SK", "Order_Year")
  }

  /** Fact_Reviews, grain: review (`reporting.py:365-409`). */
  def factReviews(silver: Map[String, DataFrame]): DataFrame = {
    val base = silver("order_reviews").alias("r")
      .join(silver("orders").alias("o"), "Ord_ID")
      .select(
        col("r.Rev_ID").as("Review_ID"),
        col("Ord_ID").as("Order_ID"),
        col("o.Cus_ID").as("Customer_ID"),
        col("r.Rev_Score").cast(IntegerType).as("Review_Score"),
        date_format(col("r.Rev_Creation_Date"), "yyyyMMdd").cast(IntegerType).as("Review_Date_SK"),
        hour(col("r.Rev_Creation_Date")).as("Review_Time_SK"),
        col("r.Rev_Comment_Title").as("Review_Title"),
        col("r.Rev_Comment_Message").as("Review_Message"),
        length(col("r.Rev_Comment_Message")).as("Comment_Length"),
        when(col("r.Rev_Comment_Message").isNull || col("r.Rev_Comment_Message") === "", 0)
          .otherwise(1).as("Has_Comment"),
        when(col("r.Rev_Comment_Title").isNull || col("r.Rev_Comment_Title") === "", 0)
          .otherwise(1).as("Has_Title"),
        col("r.Rev_Creation_Date").as("Review_Creation_Date"),
        col("r.Rev_Answer_Timestamp").as("Review_Answer_Date"),
        datediff(col("r.Rev_Answer_Timestamp"), col("r.Rev_Creation_Date")).as("Response_Days"))
    withYear(RelOps.rangedRowNumber(base, "Review_SK", Seq("Review_ID", "Order_ID")),
      "Review_Date_SK", "Review_Year")
  }
}
