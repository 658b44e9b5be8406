package graft

import graft.engine.{Bronze, GoldDims, Silver}
import org.apache.spark.sql.functions._

/** Silver/gold cleaners on CSVs in the real Olist header shape — the
  * null-handling and banding edge cases of the reference
  * (`transformation.py:103-120`, `reporting.py:142-172`), read through the
  * same `Bronze.readCsv` ingest the pipeline uses.
  *
  * The edge cases run on small in-repo CSVs (`src/test/resources/olist/`),
  * so they hold in any environment. The whole-dataset counts need the real
  * Olist CSVs and are canceled, not passed, where those are absent. */
class RealDataSpec extends SparkSuite {

  private val fixtureDir = getClass.getResource("/olist").getPath
  private val dataDir = "/root/reference/data"

  private def products(dir: String) = {
    val silver = Silver.cleanProducts(
      Bronze.readCsv(spark, s"$dir/olist_products_dataset.csv", "products"))
    (silver, GoldDims.dimProducts(silver))
  }

  private def sellers(dir: String) = {
    val silver = Silver.cleanSellers(
      Bronze.readCsv(spark, s"$dir/olist_sellers_dataset.csv", "sellers"))
    (silver, GoldDims.dimSellers(silver))
  }

  test("products: null category stays NULL, initcap, weight bands, null-dim volume") {
    val (silver, dim) = products(fixtureDir)
    def prod(id: String) = dim.filter(col("Product_ID") === id).head()

    // initcap(regexp_replace(NULL)) stays NULL, never the string "Null"
    val noCat = silver.filter(col("Prod_ID") === "a41e356c76fab66334f36de622ecbd3a").head()
    assert(noCat.isNullAt(noCat.fieldIndex("Prod_Category_Name")))
    assert(silver.filter(col("Prod_Category_Name").isNull).count() == 1)
    // underscore → space + initcap
    val cats = silver.select("Prod_Category_Name").collect().map(_.getString(0)).toSet
    assert(cats == Set("Perfumaria", "Artes", "Esporte Lazer", "Bebes", "Moveis Decoracao", null))

    // H×W×L volume arithmetic (16 × 10 × 14 cm), 225 g → Light
    val perfumaria = prod("1e9e8ef04dbcff4541ed26657ea517e5")
    assert(perfumaria.getAs[Number]("Product_Volume_CM3").intValue() == 16 * 10 * 14)
    assert(perfumaria.getAs[String]("Product_Weight_Category") == "Light")

    // NULL weight → Unknown; NULL dims → NULL volume, never a fake 0
    val noDims = prod("5eb564652db742ff8f28759cd8d2652a")
    assert(noDims.getAs[String]("Product_Weight_Category") == "Unknown")
    assert(noDims.isNullAt(noDims.fieldIndex("Product_Volume_CM3")))
    assert(dim.filter(col("Product_Height_CM").isNull &&
      col("Product_Volume_CM3").isNotNull).count() == 0)

    // band edges: 1000 g is Medium (< 2000), 9750 g is Heavy
    assert(prod("3aa071139cb16b67ca9e5dea641aaa2f").getAs[String]("Product_Weight_Category") == "Medium")
    assert(prod("cec09725da5ed01471d9a505e7b8ee9f").getAs[String]("Product_Weight_Category") == "Heavy")
    assert(dim.select("Product_SK").distinct().count() == 6, "surrogate keys unique")
  }

  test("sellers: city initcap, zip-band regions") {
    val (silver, dim) = sellers(fixtureDir)
    def seller(id: String) = dim.filter(col("Seller_ID") === id).head()

    val cities = silver.select("Sell_City").collect().map(_.getString(0)).toSet
    assert(cities == Set("Campinas", "Mogi Guacu", "Rio De Janeiro", "Sao Paulo"))

    // zip band 13023 (Campinas/SP) → Southeast; 20031 (Rio/RJ) lands in the
    // reference's quirky 20000-39999 → "Northeast" band (faithfully preserved);
    // the zero-padded "04195" parses to 4195, also Southeast
    assert(seller("3442f8959a84dea7ee197c632cb2df15").getAs[String]("Seller_Region") == "Southeast")
    assert(seller("ce3ad9de960102d0677a81f5d0bb7b2d").getAs[String]("Seller_Region") == "Northeast")
    assert(seller("c0f3eea2e14555b6faeea3dd58c1b1c3").getAs[String]("Seller_Region") == "Southeast")
    assert(dim.select("Seller_SK").distinct().count() == 4)
  }

  test("real Olist CSVs: whole-dataset counts (needs the reference data)") {
    assume(new java.io.File(dataDir).isDirectory, s"$dataDir is absent")
    val (silverP, dimP) = products(dataDir)
    assert(silverP.count() == 32951, "projection-only clean keeps every row")
    // 610 products have no category
    assert(silverP.filter(col("Prod_Category_Name").isNull).count() == 610)
    assert(dimP.select("Product_SK").distinct().count() == 32951)
    // weight bands partition the real distribution; NULL weight → Unknown
    val bands = dimP.groupBy("Product_Weight_Category").count().collect()
      .map(r => r.getAs[String]("Product_Weight_Category") -> r.getAs[Long]("count")).toMap
    assert(bands("Light") == 12464, "weight < 500 g on real data")
    assert(bands("Unknown") == 2, "exactly the 2 null-weight products")
    assert(bands.values.sum == 32951)
    assert(bands("Light") + bands("Medium") + bands("Heavy") == 32949)
    val nullDims = dimP.filter(col("Product_Height_CM").isNull)
    assert(nullDims.count() == 2)
    assert(nullDims.filter(col("Product_Volume_CM3").isNotNull).count() == 0)

    val (silverS, dimS) = sellers(dataDir)
    assert(silverS.count() == 3095)
    assert(dimS.select("Seller_SK").distinct().count() == 3095)
    // every real zip prefix falls in a band — no Unknown on this dataset
    assert(dimS.filter(col("Seller_Region") === "Unknown").count() == 0)
  }
}
