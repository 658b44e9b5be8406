package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Native

/** Silver layer: per-table clean/rename/filter/dedup, re-expressing
  * `spark_jobs/transformation.py:23-131` as pure DataFrame → DataFrame
  * functions (no JDBC round-trips, no session churn).
  *
  * Reference-faithful semantics preserved exactly (they are load-bearing for
  * row counts, SURVEY §7.4):
  *  - negated rlike filters DROP rows with NULL comment/title (NULL predicate);
  *  - `dropDuplicates(["Ord_ID"])` keeps an arbitrary survivor — here it is
  *    the first row under a total order (same multiset of keys, stable across
  *    runs);
  *  - order_items dedup by Ord_ID destroys the order-item grain (reference bug,
  *    `transformation.py:70` vs `reporting.py:250`); `cleanOrderItems` keeps
  *    the bug for parity, so silver and `fact_sales` hold one item per order;
  *  - `initcap` is the reference's PySpark 3.5 one ([[Native.initcap]]: lower
  *    the string, then title-case each space-separated word's first letter,
  *    per code point), not Spark 4's ICU default. They differ only where a
  *    case mapping changes length or needs context: "straße ß" stays
  *    "Straße ß" (ICU: "Straße Ss"), "ﬁnal" stays "ﬁnal" (ICU: "Final"),
  *    and "İstanbul" is lowered by the JDK (U+0130 becomes "i" + U+0307)
  *    before its first letter is title-cased back, giving "I" + U+0307 +
  *    "stanbul" (ICU keeps U+0130). The JDK path also never builds ICU's
  *    global title-case table, which costs a cold JVM over a second.
  */
object Silver {

  /** Deterministic keyed dedup: first row ordered by `tieBreak`. */
  private def dedupBy(df: DataFrame, key: String, tieBreak: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(tieBreak.map(col): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** `transformation.py:28-34`. */
  def cleanCustomers(df: DataFrame): DataFrame =
    df.select(
      col("customer_id").as("Cus_ID"),
      col("customer_unique_id").as("Cus_Unique_ID"),
      col("customer_zip_code_prefix").as("Cus_Zip_Code_Prefix"),
      Native.initcap(col("customer_city")).as("Cus_City"),
      col("customer_state"))

  /** `transformation.py:39-49`. */
  def cleanOrders(df: DataFrame): DataFrame =
    df.select(
      col("order_id").as("Ord_ID"),
      col("customer_id").as("Cus_ID"),
      Native.initcap(col("order_status")).as("Ord_Status"),
      col("order_purchase_timestamp").as("Ord_Purchase_Time"),
      col("order_approved_at").as("Ord_Approved_At"),
      col("order_delivered_carrier_date").as("Ord_Delivered_Carrier_Date"),
      col("order_delivered_customer_date").as("Ord_Delivered_Customer_Date"),
      col("order_estimated_delivery_date").as("Ord_Estimated_Delivery_Date"))

  /** `transformation.py:52-58`. */
  def cleanGeolocation(df: DataFrame): DataFrame =
    df.select(
      col("geolocation_zip_code_prefix").as("Geo_Zip_Code_Prefix"),
      col("geolocation_lat").as("Geo_Lat"),
      col("geolocation_lng").as("Geo_Lng"),
      Native.initcap(col("geolocation_city")).as("Geo_City"),
      col("geolocation_state").as("Geo_State"))

  /** `transformation.py:62-70`, dedup by Ord_ID included (see above). */
  def cleanOrderItems(df: DataFrame): DataFrame =
    dedupBy(
      df.select(
        col("order_id").as("Ord_ID"),
        col("order_item_id").as("Ord_Item_ID"),
        col("product_id").as("Prod_ID"),
        col("seller_id").as("Sell_ID"),
        col("shipping_limit_date").as("Shipping_Limit_Date"),
        col("price").as("Price"),
        col("freight_value").as("Freight_Value")),
      "Ord_ID", Seq("Ord_Item_ID", "Prod_ID"))

  /** `transformation.py:74-81`: dedup by order + drop 'not_defined'. */
  def cleanOrderPayments(df: DataFrame): DataFrame =
    dedupBy(
      df.select(
        col("order_id").as("Ord_ID"),
        col("payment_sequential").as("Payment_Sequential"),
        col("payment_type").as("Payment_Type"),
        col("payment_installments").as("Payment_Installments"),
        col("payment_value").as("Payment_Value")),
      "Ord_ID", Seq("Payment_Sequential", "Payment_Type"))
      .filter(col("Payment_Type") =!= "not_defined")

  /** `transformation.py:85-98`: dedup + the 5 constructive quality filters.
    * NULL comment/title rows are dropped by the negated rlike — by design. */
  def cleanOrderReviews(df: DataFrame): DataFrame =
    dedupBy(
      df.select(
        col("review_id").as("Rev_ID"),
        col("order_id").as("Ord_ID"),
        col("review_score").as("Rev_Score"),
        col("review_comment_title").as("Rev_Comment_Title"),
        col("review_comment_message").as("Rev_Comment_Message"),
        col("review_creation_date").as("Rev_Creation_Date"),
        col("review_answer_timestamp").as("Rev_Answer_Timestamp")),
      "Ord_ID", Seq("Rev_ID"))
      .filter(length(col("Rev_ID")) === 32)
      .filter(col("Rev_Score").between(1, 5))
      .filter(!col("Rev_Comment_Message").rlike("[^a-zA-Z0-9\\s.,!?]"))
      .filter(!col("Rev_Comment_Title").rlike("[^a-zA-Z0-9\\s.,!?]"))
      .filter(col("Rev_Creation_Date").rlike("^\\d{4}-\\d{2}-\\d{2}"))

  /** `transformation.py:103-111`: category prettified, 2 length cols dropped. */
  def cleanProducts(df: DataFrame): DataFrame =
    df.select(
      col("product_id").as("Prod_ID"),
      Native.initcap(regexp_replace(col("product_category_name"), "_", " ")).as("Prod_Category_Name"),
      col("product_photos_qty").as("Prod_Photos_Qty"),
      col("product_weight_g").as("Prod_Weight_G"),
      col("product_length_cm").as("Prod_Length_CM"),
      col("product_height_cm").as("Prod_Height_CM"),
      col("product_width_cm").as("Prod_Width_CM"))

  /** `transformation.py:115-120`. */
  def cleanSellers(df: DataFrame): DataFrame =
    df.select(
      col("seller_id").as("Sell_ID"),
      col("seller_zip_code_prefix").as("Sell_Zip_Code_Prefix"),
      Native.initcap(col("seller_city")).as("Sell_City"),
      col("seller_state").as("Sell_State"))
}
