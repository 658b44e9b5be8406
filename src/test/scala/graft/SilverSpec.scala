package graft

import java.sql.Timestamp

import graft.engine.Silver

/** Silver filter/dedup edge semantics from FIXTURES.md §C
  * (reference `spark_jobs/transformation.py:62-98`). */
class SilverSpec extends SparkSuite {

  private def ts(s: String) = Timestamp.valueOf(s)
  private val id32 = "a" * 32

  test("order_reviews: NULL comment/title rows are dropped by negated rlike") {
    val s = spark; import s.implicits._
    val df = Seq(
      (id32, "o1", 5, "ok title", "nice product", "2017-01-05", ts("2017-01-06 10:00:00")),
      (id32, "o2", 5, null, "nice product", "2017-01-05", ts("2017-01-06 10:00:00")),
      (id32, "o3", 5, "ok", null, "2017-01-05", ts("2017-01-06 10:00:00")))
      .toDF("review_id", "order_id", "review_score", "review_comment_title",
        "review_comment_message", "review_creation_date", "review_answer_timestamp")
    val out = Silver.cleanOrderReviews(df).collect()
    assert(out.map(_.getAs[String]("Ord_ID")).toSet == Set("o1"))
  }

  test("order_reviews: id length 31/32/33, scores 0/1/5/6, bad chars, bad date") {
    val s = spark; import s.implicits._
    def row(id: String, ord: String, score: Int, msg: String = "fine", date: String = "2017-01-05") =
      (id, ord, score, "t", msg, date, ts("2017-01-06 10:00:00"))
    val df = Seq(
      row(id32, "keep", 5),
      row("a" * 31, "short", 5),
      row("a" * 33, "long", 5),
      row(id32, "zero", 0),
      row(id32, "one", 1),
      row(id32, "six", 6),
      row(id32, "emoji", 4, msg = "bad ém char"),
      row(id32, "baddate", 4, date = "Jan 5 2017"))
      .toDF("review_id", "order_id", "review_score", "review_comment_title",
        "review_comment_message", "review_creation_date", "review_answer_timestamp")
    val kept = Silver.cleanOrderReviews(df).collect().map(_.getAs[String]("Ord_ID")).toSet
    assert(kept == Set("keep", "one"))
  }

  test("order_payments: not_defined excluded, dedup keeps one row per order") {
    val s = spark; import s.implicits._
    val df = Seq(
      ("o1", 1, "credit_card", 3, 100.0),
      ("o1", 2, "voucher", 1, 20.0),
      ("o2", 1, "not_defined", 1, 50.0),
      ("o3", 1, "boleto", 1, 75.0))
      .toDF("order_id", "payment_sequential", "payment_type", "payment_installments", "payment_value")
    val out = Silver.cleanOrderPayments(df).collect()
    assert(out.length == 2)
    val o1 = out.find(_.getAs[String]("Ord_ID") == "o1").get
    // deterministic survivor: min (Payment_Sequential, Payment_Type)
    assert(o1.getAs[String]("Payment_Type") == "credit_card")
    assert(out.exists(_.getAs[String]("Ord_ID") == "o3"))
  }

  test("order_items: reference-faithful dedup by Ord_ID vs corrected grain") {
    val s = spark; import s.implicits._
    val df = Seq(
      ("o1", 1, "p1", "s1", ts("2017-01-05 10:00:00"), 10.0, 1.0),
      ("o1", 2, "p2", "s1", ts("2017-01-05 10:00:00"), 20.0, 2.0),
      ("o2", 1, "p3", "s2", ts("2017-01-05 10:00:00"), 30.0, 3.0))
      .toDF("order_id", "order_item_id", "product_id", "seller_id",
        "shipping_limit_date", "price", "freight_value")
    val deduped = Silver.cleanOrderItems(df)
    assert(deduped.count() == 2)
    assert(deduped.filter("Ord_ID = 'o1'").head().getAs[Int]("Ord_Item_ID") == 1)
  }

  test("customers/products: initcap + category underscore cleanup") {
    val s = spark; import s.implicits._
    val cust = Seq(("c1", "u1", 13023, "sao paulo", "SP"))
      .toDF("customer_id", "customer_unique_id", "customer_zip_code_prefix",
        "customer_city", "customer_state")
    assert(Silver.cleanCustomers(cust).head().getAs[String]("Cus_City") == "Sao Paulo")
    val prod = Seq(("p1", "cama_mesa_banho", 1, 500, 10, 20, 30))
      .toDF("product_id", "product_category_name", "product_photos_qty",
        "product_weight_g", "product_length_cm", "product_height_cm", "product_width_cm")
    assert(Silver.cleanProducts(prod).head().getAs[String]("Prod_Category_Name") == "Cama Mesa Banho")
  }
}
