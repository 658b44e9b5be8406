package graft

import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import graft.engine.{Analytics, Pipeline}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Guard on what a cold medallion cycle loads: one `Pipeline.run` plus the
  * five dashboard reports, in a fresh JVM as every 30-minute cycle is. Two
  * global tables that Spark 4 builds lazily, the first time a JVM needs
  * them, stay reachable for the rest of the JVM and cost over a second each
  * to build:
  *  - ICU's title-case mapping (`CaseMapImpl`), which Spark 4's
  *    `functions.initcap` uses by default; silver uses
  *    [[graft.functions.Native.initcap]] instead;
  *  - the ANTLR SQL parser (`ATNDeserializer`), which any SQL text builds:
  *    a `Column.cast(String)`, `expr`, `selectExpr` or string `filter`; the
  *    pipeline and the reports cast to `DataType`s instead.
  * The child runs with the test classpath and `-Xlog:class+load`; the guard
  * fails if either class loads. */
class ColdPathSpec extends AnyFunSuite {

  private val forbidden = Seq(
    "com.ibm.icu.impl.CaseMapImpl" -> "ICU case mapping (functions.initcap; use Native.initcap)",
    "org.antlr.v4.runtime.atn.ATNDeserializer" ->
      "the SQL parser (a Column.cast(String), expr, selectExpr or string filter; use a typed Column)")

  test("a cold pipeline cycle and its reports build neither ICU's case table nor the SQL parser") {
    val dir = Files.createTempDirectory("graft_coldpath")
    try {
      val csv = dir.resolve("csv").toString
      PipelineSpec.fixtures(csv)
      val classLog = dir.resolve("classes.log")
      val childLog = dir.resolve("child.log")
      // the parent's JVM options (the JDK 17 `--add-opens` Spark needs, the
      // session `-D`s) with a small heap and the class-load log
      val jvmOptions = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xlog"))
      val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmOptions ++
        Seq("-Xmx1g", s"-Xlog:class+load=info:file=$classLog",
          "-cp", System.getProperty("java.class.path"), "graft.ColdPathSpec",
          csv, dir.resolve("out").toString)
      val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
        .redirectOutput(childLog.toFile).start()
      if (!proc.waitFor(10, TimeUnit.MINUTES)) {
        proc.destroyForcibly()
        fail(s"cold cycle did not finish in 10 minutes:\n${Files.readString(childLog)}")
      }
      val out = Files.readString(childLog)
      assert(proc.exitValue() == 0, s"cold cycle failed:\n$out")
      assert(out.contains(ColdPathSpec.done), out)
      val loaded = Files.readAllLines(classLog).asScala.flatMap(_.split(' ').lift(1)).toSet
      val hits = forbidden.filter { case (cls, _) => loaded.contains(cls) }
      if (hits.nonEmpty) fail(hits.map { case (cls, why) => s"$cls loaded: $why" }.mkString("\n"))
    } finally graft.engine.Fs.rmTree(dir.toString)
  }
}

object ColdPathSpec {
  val done = "cold cycle done"

  /** The child: `Pipeline.run` over the CSVs in `args(0)` into `args(1)`,
    * then the five dashboard reports over its gold tables. */
  def main(args: Array[String]): Unit = {
    val Array(csv, out) = args
    val spark = GraftSession.builder(2, None).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      Pipeline.run(spark, csv, out)
      def t(n: String) = spark.read.parquet(s"$out/gold/$n")
      val reports = Seq(
        Analytics.monthlySalesYoY(t("fact_sales")),
        Analytics.topProducts(t("fact_sales")),
        Analytics.avgDaily(t("fact_orders")),
        Analytics.deliveryKpis(t("fact_orders")),
        Analytics.shareOfSales(t("fact_sales"),
          t("dim_customers").select(col("Customer_ID").as("D_Customer_ID"), col("Customer_State")),
          "D_Customer_ID", "Customer_ID", "Customer_State"))
      reports.foreach(_.collect())
      println(done)
    } finally spark.stop()
  }
}
