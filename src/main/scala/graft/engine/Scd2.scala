package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension type 2 maintenance — the warehouse-update
  * capability the reference sidesteps by full-overwriting every table each run
  * (`mode('overwrite')` everywhere; history is lost). Pure-DataFrame
  * implementation: one full-outer join between current dimension state and the
  * incoming batch decides, per natural key, whether to close the current row
  * (tracked attribute changed), carry it forward, or insert a new version.
  *
  * Scale: a single co-partitioned full-outer join on the natural key + a
  * union — no windows over history, no per-row driver logic. With both sides
  * bucketed on the key ([[Bucketing]]) the join is exchange-free.
  */
object Scd2 {

  /** @param current  existing SCD2 table: key, tracked..., effective_date,
    *                 end_date (null = open), is_current
    * @param updates  incoming snapshot: key, tracked...
    * @param key      natural key column
    * @param tracked  attribute columns whose change opens a new version
    * @param batchDate effective date for this batch (a value, for determinism) */
  def apply(current: DataFrame, updates: DataFrame, key: String,
      tracked: Seq[String], batchDate: java.sql.Date): DataFrame = {
    val open = current.filter(col("is_current"))
    val closed = current.filter(!col("is_current"))

    val u = updates.select((key +: tracked).map(c => col(c).as(s"u_$c")): _*)
    val joined = open.join(u, col(key) === col(s"u_$key"), "full_outer")

    // null-safe: `=!=` yields NULL when either side is NULL, which is falsy in
    // the `when`/`filter` below — a NULL→value (or value→NULL) transition would
    // silently drop the update. `<=>` treats NULL as a comparable value.
    val changed = tracked.map(c => !(col(c) <=> col(s"u_$c"))).reduce(_ || _)
    val isNewKey = col(key).isNull
    val isDeparted = col(s"u_$key").isNull

    // current rows: keep open if unchanged; close if changed or departed
    val keptOrClosed = joined.filter(!isNewKey)
      .select(
        col(key) +:
          tracked.map(col) :+
          col("effective_date") :+
          when(isDeparted || changed, lit(batchDate)).otherwise(col("end_date")).as("end_date") :+
          when(isDeparted || changed, lit(false)).otherwise(lit(true)).as("is_current"): _*)

    // new versions: brand-new keys, or changed keys re-inserted at batchDate.
    // Departed keys are excluded explicitly: with null-safe `changed`, a
    // departed row's tracked values compare "changed" against the all-NULL
    // update side — without the guard it would insert a NULL-keyed version.
    val newVersions = joined.filter(!isDeparted && (isNewKey || changed))
      .select(
        col(s"u_$key").as(key) +:
          tracked.map(c => col(s"u_$c").as(c)) :+
          lit(batchDate).as("effective_date") :+
          lit(null).cast("date").as("end_date") :+
          lit(true).as("is_current"): _*)

    closed.unionByName(keptOrClosed).unionByName(newVersions)
  }

  /** q113 catalog entry: one SCD2 maintenance cycle on the customer dim,
    * exercising all three paths deterministically — every 5th key changes
    * its tracked segment (close + re-insert), every 11th key departs (close
    * only), every 13th key re-enters shifted past the keyspace (brand-new
    * version). The initial state opens every customer at a fixed date, so
    * the whole history is reproducible from the snapshot alone. */
  def customerScd2(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val current = cust.select(col("c_custkey"), col("c_mktsegment"),
      lit(java.sql.Date.valueOf("2020-01-01")).as("effective_date"),
      lit(null).cast("date").as("end_date"),
      lit(true).as("is_current"))
    val updates = cust.filter(col("c_custkey") % 11 =!= 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 5 === 0, lit("SEG_CHANGED"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      .unionByName(cust.filter(col("c_custkey") % 13 === 0)
        .select((col("c_custkey") + lit(1000000L)).as("c_custkey"),
          col("c_mktsegment")))
    Scd2(current, updates, "c_custkey", Seq("c_mktsegment"),
        java.sql.Date.valueOf("2020-06-15"))
      // open rows carry the SCD2 high-date sentinel at the output boundary:
      // range predicates on end_date stay sargable, and the cross-engine
      // compare never depends on NULL-date client formatting
      .withColumn("end_date",
        coalesce(col("end_date"), lit(java.sql.Date.valueOf("2099-12-31"))))
      .orderBy("c_custkey", "effective_date")
  }

  /** AS-OF reconstruction over SCD2 history (q211) — time travel for the
    * dimension layer: a row is live at instant T iff
    * effective_date ≤ T < end_date (half-open versioning intervals; the
    * high-date sentinel keeps the predicate total). The query contrasts the
    * dimension AS OF a pre-update date with the CURRENT state in ONE
    * conditional-aggregate pass over the history — never two scans, never a
    * self-join; at 100 TB the history is the big table and this is the only
    * shape that reads it once. Output: per segment, member count as-of
    * 2020-03-01 vs current, with the net drift. */
  def segmentAsOfDrift(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val t = lit(java.sql.Date.valueOf("2020-03-01"))
    customerScd2(spark, dir)
      .groupBy(col("c_mktsegment"))
      .agg(
        sum(when(col("effective_date") <= t && col("end_date") > t, 1L)
          .otherwise(0L)).as("n_asof"),
        sum(when(col("is_current"), 1L).otherwise(0L)).as("n_current"))
      .withColumn("drift", col("n_current") - col("n_asof"))
      .orderBy("c_mktsegment")
  }
}
