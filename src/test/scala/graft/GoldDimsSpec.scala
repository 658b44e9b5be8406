package graft

import java.sql.Date

import graft.engine.GoldDims
import org.apache.spark.sql.functions._

/** Gold dimension classifier edges from FIXTURES.md §C
  * (reference `spark_jobs/reporting.py:43-235`). */
class GoldDimsSpec extends SparkSuite {

  test("zip region boundaries 999/1000/19999/20000/39999/40000/69999/70000/99999/100000") {
    val s = spark; import s.implicits._
    val zips = Seq(999, 1000, 19999, 20000, 39999, 40000, 69999, 70000, 99999, 100000)
    val df = zips.map(z => (s"c$z", s"u$z", z, "City", "SP"))
      .toDF("Cus_ID", "Cus_Unique_ID", "Cus_Zip_Code_Prefix", "Cus_City", "customer_state")
    val out = GoldDims.dimCustomers(df)
      .select("Customer_Zip_Code", "Customer_Region").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out(999) == "Unknown")
    assert(out(1000) == "Southeast" && out(19999) == "Southeast")
    assert(out(20000) == "Northeast" && out(39999) == "Northeast")
    assert(out(40000) == "Southeast" && out(69999) == "Southeast") // reference maps this band back to Southeast
    assert(out(70000) == "Other" && out(99999) == "Other")
    assert(out(100000) == "Unknown")
  }

  test("product weight bands 499/500/1999/2000/null and volume H*W*L") {
    val s = spark; import s.implicits._
    val df = Seq(
      ("p1", "Cat", 1, Some(499), 2, 3, 4),
      ("p2", "Cat", 1, Some(500), 2, 3, 4),
      ("p3", "Cat", 1, Some(1999), 2, 3, 4),
      ("p4", "Cat", 1, Some(2000), 2, 3, 4),
      ("p5", "Cat", 1, None, 2, 3, 4))
      .toDF("Prod_ID", "Prod_Category_Name", "Prod_Photos_Qty", "Prod_Weight_G",
        "Prod_Length_CM", "Prod_Height_CM", "Prod_Width_CM")
    val out = GoldDims.dimProducts(df)
      .select("Product_ID", "Product_Weight_Category", "Product_Volume_CM3").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.get(2))).toMap
    assert(out("p1")._1 == "Light" && out("p2")._1 == "Medium")
    assert(out("p3")._1 == "Medium" && out("p4")._1 == "Heavy")
    assert(out("p5")._1 == "Unknown")
    assert(out("p1")._2 == 3 * 4 * 2) // Height * Width * Length
  }

  test("all 27 Brazilian UF codes classify into 5 regions; junk is Unknown") {
    val s = spark; import s.implicits._
    val ufs = Seq(
      "SP", "RJ", "MG", "ES", // Southeast
      "BA", "SE", "PE", "AL", "PB", "RN", "CE", "PI", "MA", // Northeast
      "PR", "SC", "RS", // South
      "GO", "DF", "MT", "MS", // Center-West
      "AM", "RR", "AP", "PA", "TO", "RO", "AC", // North
      "XX")
    val df = ufs.zipWithIndex.map { case (uf, i) => (i, 0.0, 0.0, "City", uf) }
      .toDF("Geo_Zip_Code_Prefix", "Geo_Lat", "Geo_Lng", "Geo_City", "Geo_State")
    val regions = GoldDims.dimGeography(df)
      .select("State", "Region").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(regions("SP") == "Southeast" && regions("MA") == "Northeast")
    assert(regions("RS") == "South" && regions("DF") == "Center-West")
    assert(regions("AC") == "North" && regions("XX") == "Unknown")
    assert(regions.values.toSet ==
      Set("Southeast", "Northeast", "South", "Center-West", "North", "Unknown"))
  }

  test("dim_time: hours 0/6/11/12/17/18/21/22/23 periods, AM_PM, business hours") {
    val t = GoldDims.dimTime(spark).collect()
      .map(r => r.getAs[Int]("Hour_24") -> r).toMap
    def period(h: Int) = t(h).getAs[String]("Time_Period")
    assert(period(0) == "Night" && period(6) == "Morning" && period(11) == "Morning")
    assert(period(12) == "Afternoon" && period(17) == "Afternoon")
    assert(period(18) == "Evening" && period(21) == "Evening" && period(22) == "Night")
    assert(t(0).getAs[Int]("Hour_12") == 12 && t(23).getAs[Int]("Hour_12") == 11)
    assert(t(11).getAs[String]("AM_PM") == "AM" && t(12).getAs[String]("AM_PM") == "PM")
    assert(t(9).getAs[Boolean]("Is_Business_Hours") && !t(18).getAs[Boolean]("Is_Business_Hours"))
    assert(t(22).getAs[Boolean]("Is_Peak_Shopping") && !t(23).getAs[Boolean]("Is_Peak_Shopping"))
    assert(t(0).getAs[String]("Time_Display") == "12:00 AM")
    assert(t(13).getAs[String]("Time_Display") == "01:00 PM")
  }

  test("date spine: contiguous over year boundary incl leap day, weekend/Monday flags") {
    val spine = GoldDims.dimDateFromRange(spark,
      Date.valueOf("2015-12-28"), Date.valueOf("2016-03-02"))
    assert(spine.count() == 66) // 4 (Dec) + 31 + 29 + 2 — includes 2016-02-29
    assert(spine.filter(col("Date") === "2016-02-29").count() == 1)
    assert(spine.select("Date_SK").distinct().count() == 66)
    val jan4 = spine.filter(col("Date") === "2016-01-04").head() // a Monday
    assert(jan4.getAs[Boolean]("IsMonday") && !jan4.getAs[Boolean]("IsWeekend"))
    assert(jan4.getAs[Int]("Date_SK") == 20160104)
    assert(jan4.getAs[String]("MonthName") == "January")
    assert(jan4.getAs[String]("YearMonth") == "2016-01")
    val sat = spine.filter(col("Date") === "2016-01-02").head()
    assert(sat.getAs[Boolean]("IsWeekend") && sat.getAs[String]("DayName") == "Saturday")
  }

  test("date spine: an empty range (no orders) gives no rows and the same schema") {
    val empty = GoldDims.dimDateFromRange(spark, null, null)
    assert(empty.count() == 0)
    assert(empty.schema == GoldDims.dimDateFromRange(spark,
      Date.valueOf("2017-03-01"), Date.valueOf("2017-03-02")).schema)
  }

  test("dim_geography: each zip's survivor does not depend on the input order") {
    val s = spark; import s.implicits._
    val rows = Seq((13023, -22.9, -47.06, "Valinhos", "SP"), (13023, -22.91, -47.07, "Campinas", "SP"),
      (20000, -22.95, -43.2, "Rio De Janeiro", "RJ"))
    def dim(in: Seq[(Int, Double, Double, String, String)]) = GoldDims.dimGeography(
      in.toDF("Geo_Zip_Code_Prefix", "Geo_Lat", "Geo_Lng", "Geo_City", "Geo_State"))
      .orderBy("Geography_SK").collect().toSeq
    val forward = dim(rows)
    assert(forward == dim(rows.reverse))
    assert(forward.map(r => r.getAs[Int]("Zip_Code") -> r.getAs[String]("City")) ==
      Seq(13023 -> "Campinas", 20000 -> "Rio De Janeiro"))
  }

  test("small dims: status/payment/review classifications + deterministic SKs") {
    val s = spark; import s.implicits._
    val pay = Seq(("o1", 1, "credit_card", 1, 1.0), ("o2", 1, "boleto", 1, 1.0),
      ("o3", 1, "voucher", 1, 1.0), ("o4", 1, "debit_card", 1, 1.0))
      .toDF("Ord_ID", "Payment_Sequential", "Payment_Type", "Payment_Installments", "Payment_Value")
    val pt = GoldDims.dimPaymentTypes(pay).collect()
      .map(r => r.getAs[String]("Payment_Type") -> r.getAs[String]("Payment_Category")).toMap
    assert(pt == Map("credit_card" -> "Card", "debit_card" -> "Card",
      "boleto" -> "Bank Transfer", "voucher" -> "Voucher"))

    val rev = Seq(("r1", "o1", 1), ("r2", "o2", 3), ("r3", "o3", 5))
      .toDF("Rev_ID", "Ord_ID", "Rev_Score")
    val rs = GoldDims.dimReviewScores(rev).collect()
      .map(r => r.getAs[Int]("Review_Score") -> (r.getAs[String]("Score_Description"), r.getAs[String]("Score_Category"))).toMap
    assert(rs(1) == ("Very Poor", "Negative") && rs(3) == ("Average", "Neutral") && rs(5) == ("Excellent", "Positive"))

    // SKs are 1..n over the natural-key order — stable across runs
    val sks = GoldDims.dimPaymentTypes(pay).orderBy("Payment_Type_SK")
      .select("Payment_Type_SK", "Payment_Type").collect()
    assert(sks.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(sks.map(_.getString(1)).toSeq == sks.map(_.getString(1)).toSeq.sorted)
  }
}
