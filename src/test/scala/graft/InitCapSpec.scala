package graft

import java.nio.file.Files

import graft.engine.Bronze
import graft.functions.{LowerTitleCase, Native}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** [[Native.initcap]] is the reference's PySpark 3.5 `initcap` (lower, then
  * title-case each space-separated word's first letter), which is also
  * Spark 4's `initcap` with ICU case mappings off. With them on (Spark 4's
  * default) the built-in agrees on every Olist value and differs only where
  * a case mapping changes length or needs context. */
class InitCapSpec extends SparkSuite {

  /** (input, this kernel, the built-in `initcap`) for `values`, through
    * whole-stage codegen: the values are read back from parquet, so no
    * optimizer rule folds them into a local relation. */
  private def initcaps(values: Seq[String]): Seq[(String, String, String)] = {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory("graft_initcap").toString
    try {
      values.zipWithIndex.toDF("v", "i").write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir).orderBy("i")
        .select(col("v"), Native.initcap(col("v")), initcap(col("v"))).collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    } finally rmTree(dir)
  }

  private def withoutIcu[T](body: => T): T = {
    spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
    try body finally spark.conf.unset("spark.sql.icu.caseMappings.enabled")
  }

  private def interpreted(v: String): String =
    Option(LowerTitleCase(Literal.create(v, StringType)).eval()).map(_.toString).orNull

  private def assertSameAsBuiltin(values: Seq[String]): Unit =
    initcaps(values).foreach { case (v, native, builtin) =>
      assert(native == builtin, s"input '$v'")
      assert(interpreted(v) == native, s"interpreted, input '$v'")
    }

  test("equals the built-in initcap on every string column of the in-repo Olist CSVs") {
    val fixtureDir = getClass.getResource("/olist").getPath
    def strings(df: DataFrame): Seq[String] =
      df.schema.fields.filter(_.dataType == StringType).toSeq.flatMap { f =>
        df.select(col(f.name)).collect().map(_.getString(0)).toSeq
      }
    val products = Bronze.readCsv(spark, s"$fixtureDir/olist_products_dataset.csv", "products")
    val sellers = Bronze.readCsv(spark, s"$fixtureDir/olist_sellers_dataset.csv", "sellers")
    val categories = products
      .select(regexp_replace(col("product_category_name"), "_", " ")).collect().map(_.getString(0))
    val values = strings(products) ++ strings(sellers) ++ categories
    assert(values.contains("mogi guacu") && values.contains(null))
    assertSameAsBuiltin(values)
  }

  test("equals the built-in initcap on the silver and pipeline fixtures and the edge cases") {
    val fixtures = Seq("sao paulo", "cama mesa banho", "campinas", "rio de janeiro",
      "delivered", "shipped", "bed_bath_table", "SAO PAULO", "são joão del-rei")
    val edges = Seq(null, "", "sao  paulo", "sao\tpaulo", "d'oeste", "mogi-mirim", " lead", "trail ")
    assertSameAsBuiltin(fixtures ++ edges)
    assert(initcaps(edges).map(_._2) ==
      Seq(null, "", "Sao  Paulo", "Sao\tpaulo", "D'oeste", "Mogi-mirim", " Lead", "Trail "))
  }

  test("Spark 3.5's lower-then-title, not ICU's, where Spark 4's two paths differ") {
    // (input, the reference's and this kernel's output, ICU's output)
    val divergent = Seq(
      ("straße ß", "Straße ß", "Straße Ss"),
      ("ﬁnal", "ﬁnal", "Final"),
      // the JDK lowers U+0130 to "i" + U+0307 (combining dot above) and
      // title-cases the "i" back; ICU keeps the precomposed U+0130
      ("\u0130stanbul", "I\u0307stanbul", "\u0130stanbul"))
    val inputs = divergent.map(_._1)
    // the built-in without ICU case mappings is Spark 3.5's initcap
    assert(withoutIcu(initcaps(inputs)) ==
      divergent.map { case (v, spark35, _) => (v, spark35, spark35) })
    // with them, Spark 4's default, it is ICU's
    assert(initcaps(inputs) == divergent)
    inputs.zip(divergent.map(_._2)).foreach { case (v, out) => assert(interpreted(v) == out) }
  }
}
