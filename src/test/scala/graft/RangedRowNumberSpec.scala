package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.engine.RelOps

/** `RelOps.rangedRowNumber` against the all-to-one window it replaces:
  * on a total order both must give every row the same number. Each case
  * runs twice: with AQE coalescing (tiny inputs collapse to one sorted
  * partition) and without it (several sorted partitions, so the sequence
  * operator's per-partition count and offsets are exercised). */
class RangedRowNumberSpec extends SparkSuite {

  private def window(df: DataFrame, keys: Seq[String]): DataFrame =
    df.withColumn("sk", row_number().over(Window.orderBy(keys.map(col): _*)).cast("long"))

  private def withCoalescing[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, before)
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The numbered rows of `df`, after checking them against the window and
    * that the operator unpersisted the sorted partitions it cached (AQE
    * cleans a finished stage up from a callback, so not synchronously). */
  private def assertMatchesWindow(df: DataFrame, keys: Seq[String]): Set[Row] =
    Seq(true, false).map { coalescing =>
      withCoalescing(coalescing) {
        val got = RelOps.rangedRowNumber(df, "sk", keys)
        val want = window(df, keys)
        assert(got.columns.toSeq == want.columns.toSeq)
        val before = persisted
        val rows = got.collect().toSet
        eventually(timeout(10.seconds)) {
          assert(persisted.subsetOf(before), s"coalescing=$coalescing left an RDD persisted")
        }
        assert(rows == want.collect().toSet, s"coalescing=$coalescing")
        assert(rows.map(_.getAs[Long]("sk")) == (1L to rows.size.toLong).toSet)
        rows
      }
    }.head

  test("string keys: equals row_number over the window") {
    val s = spark; import s.implicits._
    val df = (0 until 300).map(i => (s"k${(i * 7919) % 300}", i)).toDF("k", "v").repartition(5)
    assertMatchesWindow(df, Seq("k"))
  }

  test("integer keys, negatives included: equals row_number over the window") {
    val s = spark; import s.implicits._
    val df = (0 until 300).map(i => ((i * 7919L) % 300 - 150, s"v$i")).toDF("k", "v").repartition(5)
    assertMatchesWindow(df, Seq("k"))
  }

  test("composite keys: the second key orders ties of the first") {
    val s = spark; import s.implicits._
    val df = (0 until 300).map(i => (s"g${i % 7}", (i * 7919) % 300, i)).toDF("g", "n", "v")
      .repartition(5)
    assertMatchesWindow(df, Seq("g", "n"))
  }

  test("a NULL key sorts first and gets SK 1") {
    val s = spark; import s.implicits._
    val df = (Seq(Option.empty[String]) ++ (0 until 50).map(i => Option(s"k$i")))
      .zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "v").repartition(4)
    val rows = assertMatchesWindow(df, Seq("k"))
    assert(rows.filter(_.isNullAt(0)).map(_.getAs[Long]("sk")) == Set(1L))
  }

  test("keys sharing one 2-character prefix number like any others") {
    val s = spark; import s.implicits._
    val df = (0 until 300).map(i => (f"ab${(i * 7919) % 300}%04d", i)).toDF("k", "v").repartition(5)
    assertMatchesWindow(df, Seq("k"))
  }

  test("empty input: no rows, the SK column last and LONG") {
    val s = spark; import s.implicits._
    val df = Seq.empty[(String, Int)].toDF("k", "v")
    assert(assertMatchesWindow(df, Seq("k")).isEmpty)
    val out = RelOps.rangedRowNumber(df, "sk", Seq("k"))
    assert(out.schema.last.name == "sk" && out.schema.last.dataType.typeName == "long")
  }
}
