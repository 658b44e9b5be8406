package graft.engine

import java.sql.Date

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, length, max, min, to_date}
import org.apache.spark.sql.types._

/** The medallion table set, declared once: the 9 Olist sources (bronze), the
  * 8 cleaned tables (silver) and the 9 dims and 3 facts of the star schema
  * (gold). The reference keys each layer by its own dict (`ingestion.py:27-37`,
  * `transformation.py:122-131`, `reporting.py:237-247`); here one entry per
  * table holds what the code knows about it. [[Pipeline.run]] writes each
  * layer's entries in declaration order, which is the order its stage submits
  * them (the first `defaultParallelism` start first) and the order of the
  * quality gate's results; [[graft.streaming.IncrementalPipeline]] looks
  * entries up by name.
  */
object Medallion {

  sealed trait Table { def name: String }

  /** A bronze table: its source CSV's file name and the schema it is read
    * with. The reference infers every schema (`ingestion.py:12`
    * `inferSchema=true`), which drifts on zip codes with leading zeros and on
    * review dates; a pinned schema also reads the file once (SURVEY §1.2). */
  final case class BronzeTable(name: String, file: String, schema: StructType) extends Table

  /** A silver table: the bronze table it cleans, its cleaner, the
    * reference's quality gate checks on it ([[Quality.check]]) and any further
    * aggregates observed on its write. */
  final case class SilverTable(bronze: BronzeTable, clean: DataFrame => DataFrame,
      checks: Seq[(String, Column)], observed: Seq[Column]) extends Table {
    def name: String = bronze.name
  }

  /** A gold table: its builder over the spark session, the silver frames and
    * the metrics observed on each silver write (calling it runs no job), and
    * the column its write is partitioned by. */
  final case class GoldTable(name: String,
      build: (SparkSession, Map[String, DataFrame], Map[String, Map[String, Any]]) => DataFrame,
      partition: Option[String]) extends Table

  /** The entry of `tables` named `name`. */
  def named[T <: Table](tables: Seq[T], name: String): T =
    tables.find(_.name == name).getOrElse(throw new NoSuchElementException(s"no medallion table $name"))

  private def olist(name: String, fields: StructField*): BronzeTable =
    BronzeTable(name, s"olist_${name}_dataset.csv", StructType(fields))

  val bronze: Seq[BronzeTable] = Seq(
    olist("order_items",
      StructField("order_id", StringType),
      StructField("order_item_id", IntegerType),
      StructField("product_id", StringType),
      StructField("seller_id", StringType),
      StructField("shipping_limit_date", TimestampType),
      StructField("price", DoubleType),
      StructField("freight_value", DoubleType)),
    olist("order_reviews",
      StructField("review_id", StringType),
      StructField("order_id", StringType),
      StructField("review_score", IntegerType),
      StructField("review_comment_title", StringType),
      StructField("review_comment_message", StringType),
      StructField("review_creation_date", StringType), // regex-validated, see Silver
      StructField("review_answer_timestamp", TimestampType)),
    olist("products",
      StructField("product_id", StringType),
      StructField("product_category_name", StringType),
      StructField("product_name_lenght", IntegerType), // sic — misspelled in source
      StructField("product_description_lenght", IntegerType),
      StructField("product_photos_qty", IntegerType),
      StructField("product_weight_g", IntegerType),
      StructField("product_length_cm", IntegerType),
      StructField("product_height_cm", IntegerType),
      StructField("product_width_cm", IntegerType)),
    olist("geolocation",
      StructField("geolocation_zip_code_prefix", IntegerType),
      StructField("geolocation_lat", DoubleType),
      StructField("geolocation_lng", DoubleType),
      StructField("geolocation_city", StringType),
      StructField("geolocation_state", StringType)),
    olist("order_payments",
      StructField("order_id", StringType),
      StructField("payment_sequential", IntegerType),
      StructField("payment_type", StringType),
      StructField("payment_installments", IntegerType),
      StructField("payment_value", DoubleType)),
    olist("orders",
      StructField("order_id", StringType),
      StructField("customer_id", StringType),
      StructField("order_status", StringType),
      StructField("order_purchase_timestamp", TimestampType),
      StructField("order_approved_at", TimestampType),
      StructField("order_delivered_carrier_date", TimestampType),
      StructField("order_delivered_customer_date", TimestampType),
      StructField("order_estimated_delivery_date", TimestampType)),
    olist("sellers",
      StructField("seller_id", StringType),
      StructField("seller_zip_code_prefix", IntegerType),
      StructField("seller_city", StringType),
      StructField("seller_state", StringType)),
    BronzeTable("product_category_name_translation", "product_category_name_translation.csv",
      StructType(Seq(
        StructField("product_category_name", StringType),
        StructField("product_category_name_english", StringType)))),
    olist("customers",
      StructField("customer_id", StringType),
      StructField("customer_unique_id", StringType),
      StructField("customer_zip_code_prefix", IntegerType),
      StructField("customer_city", StringType),
      StructField("customer_state", StringType)))

  /** Every bronze source but the category translation, which the reference
    * drops at silver. The gate's checks are `E-commerce_dag.py:22-37`; orders
    * also observes `dim_date`'s range, its first and last purchase day (both
    * NULL when orders is empty), so building gold reads no data. */
  val silver: Seq[SilverTable] = {
    def from(source: String, clean: DataFrame => DataFrame, checks: (String, Column)*) =
      SilverTable(named(bronze, source), clean, checks, Nil)
    Seq(
      from("order_items", Silver.cleanOrderItems,
        Quality.check("order_items.Ord_ID not null", col("Ord_ID").isNull),
        Quality.check("order_items.Prod_ID not null", col("Prod_ID").isNull)),
      from("order_reviews", Silver.cleanOrderReviews,
        Quality.check("order_reviews.Rev_ID not null", col("Rev_ID").isNull),
        Quality.check("order_reviews.Rev_ID length = 32", length(col("Rev_ID")) =!= 32)),
      from("products", Silver.cleanProducts),
      from("geolocation", Silver.cleanGeolocation),
      from("order_payments", Silver.cleanOrderPayments),
      SilverTable(named(bronze, "orders"), Silver.cleanOrders, Nil, Seq(
        to_date(min(col("Ord_Purchase_Time"))).as("first_purchase_day"),
        to_date(max(col("Ord_Purchase_Time"))).as("last_purchase_day"))),
      from("sellers", Silver.cleanSellers),
      from("customers", Silver.cleanCustomers))
  }

  /** The 3 facts, then the 9 dims (`reporting.py:237-247`): the facts' writes
    * run the most jobs, so they start first and do not set the stage's tail.
    * Each fact ends with the year of its yyyyMMdd date SK, which partitions its
    * write: BI date-range queries prune at the file listing, a scale lever the
    * reference's unpartitioned JDBC tables never had. */
  val gold: Seq[GoldTable] = {
    def over(name: String, partition: Option[String], build: Map[String, DataFrame] => DataFrame) =
      GoldTable(name, (_, silver, _) => build(silver), partition)
    Seq(
      over("fact_sales", Some("Order_Year"), GoldFacts.factSales),
      over("fact_orders", Some("Order_Year"), GoldFacts.factOrders),
      over("fact_reviews", Some("Review_Year"), GoldFacts.factReviews),
      GoldTable("dim_date", (spark, _, observed) => {
        val orders = observed("orders")
        GoldDims.dimDateFromRange(spark, orders("first_purchase_day").asInstanceOf[Date],
          orders("last_purchase_day").asInstanceOf[Date])
      }, None),
      GoldTable("dim_time", (spark, _, _) => GoldDims.dimTime(spark), None),
      over("dim_customers", None, s => GoldDims.dimCustomers(s("customers"))),
      over("dim_products", None, s => GoldDims.dimProducts(s("products"))),
      over("dim_sellers", None, s => GoldDims.dimSellers(s("sellers"))),
      over("dim_geography", None, s => GoldDims.dimGeography(s("geolocation"))),
      over("dim_order_status", None, s => GoldDims.dimOrderStatus(s("orders"))),
      over("dim_payment_types", None, s => GoldDims.dimPaymentTypes(s("order_payments"))),
      over("dim_review_scores", None, s => GoldDims.dimReviewScores(s("order_reviews"))))
  }
}
