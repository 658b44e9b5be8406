package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, SparkPlan, TakeOrderedAndProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}

/** Plan auditor: prints the formatted physical plan of selected catalog queries
  * so pushdown / broadcast / codegen coverage can be reviewed (and regressions
  * spotted) without a notebook. Runs on the same session configuration as
  * [[Bench]] (AQE on) and executes each query on sf0.001 first, so what it
  * prints is the final adaptive plan the bench actually runs.
  * Usage: runMain graft.Explain [--summary | queryName...] */
object Explain extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    // the sf0.001 fixture is far below one initial partition's 8 MB, so
    // there is nothing to size: the count stays at the 4 cores
    val spark = GraftSession.builder(4, None).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    val dir = "/root/testdata/sf0.001"
    if (args.headOption.contains("--summary")) { summary(spark, dir); spark.stop(); return }
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      println(finalPlan(spark, dir, n).queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }

  /** The query run to completion, so its adaptive plan is final. */
  private def finalPlan(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.toRdd.count()
    df
  }

  /** One line per catalog query: shuffle count, join strategies, codegen spans,
    * scan-level pushdown — the audit table behind PLANS.md. Counted over the
    * final adaptive plan's nodes, stepping through query stages and into
    * subqueries; a reused exchange is a leaf, so it is not counted again. */
  private def summary(spark: SparkSession, dir: String): Unit = {
    println("| query | shuffles | bcast | BHJ | SMJ | TakeOrdered | WSCG spans | pushed filters |")
    println("|---|---|---|---|---|---|---|---|")
    SparkEntry.queries.keys.toSeq.sorted.foreach { n =>
      try {
        val p = finalPlan(spark, dir, n).queryExecution.executedPlan
        def count(f: PartialFunction[SparkPlan, Unit]) = collectWithSubqueries(p)(f).size
        val pushed = count { case s: FileSourceScanExec
          if s.metadata.get("PushedFilters").exists(_ != "[]") => }
        println(s"| $n | ${count { case _: ShuffleExchangeExec => }} " +
          s"| ${count { case _: BroadcastExchangeExec => }} " +
          s"| ${count { case _: BroadcastHashJoinExec => }} " +
          s"| ${count { case _: SortMergeJoinExec => }} " +
          s"| ${if (count { case _: TakeOrderedAndProjectExec => } > 0) "y" else ""} " +
          s"| ${count { case _: WholeStageCodegenExec => }} | $pushed |")
      } catch {
        case e: Throwable =>
          println(s"| $n | err:${e.getClass.getSimpleName} | | | | | | |")
      }
    }
  }
}
