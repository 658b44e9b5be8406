package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.{Dec, Tables}

/** Event-time operators over the `events` table (event_id, ts, user_id,
  * event_type, value, props).
  *
  * The reference has no streaming (SURVEY §2.9 — its "real-time" is a 30-minute
  * Airflow re-run); these are the extension operators that map that cadence to
  * real event-time semantics, each in batch form (oracle-checkable against
  * DuckDB); [[IncrementalPipeline]] maps the re-run cadence itself.
  */
object Events {

  /** Tumbling 1-hour windowed aggregate (q35). The shuffle is on
    * (window, event_type); map-side partial aggregation applies. */
  def hourlyWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Dec.sum2(col("value")).as("hour_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("hour_value"))
      .orderBy("window_start", "event_type")

  /** Session windows by inactivity gap (30 min): the lag/cumsum formulation.
    * One shuffle on user_id; both window passes share that partitioning. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapMicros = 30L * 60 * 1000 * 1000
    Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMicros, 1).otherwise(0))
      .withColumn("session_idx",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        date_trunc("second", min(col("ts"))).as("session_start"),
        (unix_timestamp(date_trunc("second", max(col("ts")))) -
          unix_timestamp(date_trunc("second", min(col("ts"))))).as("duration_s"),
        Dec.sum2(col("value")).as("session_value"))
      .orderBy("user_id", "session_idx")
  }

  /** Sliding (hopping) windows: 1-hour windows every 15 minutes — each event
    * lands in duration/slide = 4 windows. Epoch-seconds window keys keep the
    * output timezone-free. Works identically under Structured Streaming. */
  def slidingWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Dec.sum2(col("value")).as("window_value"))
      .select(
        unix_timestamp(col("w.start")).as("window_start_epoch"),
        col("event_type"), col("n"), col("window_value"))
      .orderBy("window_start_epoch", "event_type")

  /** Session windows via Spark's native `session_window` grouping — the same
    * sessions as [[sessionize]] computed by the built-in merging-window
    * operator (works identically under Structured Streaming). */
  def sessionWindowNative(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), Dec.sum2(col("value")).as("session_value"))
      .select(
        col("user_id"),
        date_trunc("second", col("w.start")).as("session_start"),
        col("n_events"), col("session_value"))
      .orderBy("user_id", "session_start")

  /** Ordered funnel analysis (view → click → purchase): per user, the first
    * view, the first click STRICTLY AFTER that view, and the first purchase
    * strictly after that click — the step-order-respecting conversion funnel
    * (a click before any view does not count). Three conditional aggregates,
    * each a map-side-combinable min over one shuffle on user_id; the
    * step-(k+1) pass joins step k's (tiny, one-row-per-user) result back to
    * the events — at 100 TB each pass is a linear scan + broadcastable join,
    * never a window over the full history. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val users = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts"))).as("t_view"))
    val withClick = ev.join(users, Seq("user_id"))
      .groupBy(col("user_id"), col("t_view"))
      .agg(min(when(col("event_type") === "click" && col("ts") > col("t_view"),
        col("ts"))).as("t_click"))
    val withPurchase = ev.join(withClick, Seq("user_id"))
      .groupBy(col("user_id"), col("t_view"), col("t_click"))
      .agg(min(when(col("event_type") === "purchase" && col("ts") > col("t_click"),
        col("ts"))).as("t_purchase"))
    withPurchase
      .select(
        col("user_id"),
        (when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2)
          .when(col("t_view").isNotNull, 1)
          .otherwise(0)).cast("int").as("funnel_stage"),
        unix_timestamp(date_trunc("second", col("t_view"))).as("first_view_s"),
        unix_timestamp(date_trunc("second", col("t_click"))).as("first_click_s"),
        unix_timestamp(date_trunc("second", col("t_purchase"))).as("first_purchase_s"))
      .orderBy("user_id")
  }

  /** Retention cohort analysis: users grouped by first-seen DATE, activity
    * counted per (cohort, day-offset) — the classic triangle. Two aggregates:
    * per-user first date (one shuffle on user_id), then distinct active days
    * joined back (broadcastable per-user cohort table) and rolled up on
    * (cohort_date, day_offset). */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort_date"))
    ev.distinct()
      .join(cohort, Seq("user_id"))
      .select(col("cohort_date"), datediff(col("d"), col("cohort_date")).as("day_offset"))
      .groupBy(col("cohort_date"), col("day_offset"))
      .agg(count(lit(1)).as("n_active_users"))
      .orderBy("cohort_date", "day_offset")
  }

  /** As-of join WITH TOLERANCE: like [[asofErrorsToClicks]], but a click older
    * than `toleranceS` seconds does not match (the error row is dropped) —
    * polars/pandas `merge_asof(tolerance=...)` semantics. The gap test runs on
    * the same second-truncated values both engines output, so the boundary is
    * engine-exact. */
  def asofWithTolerance(spark: SparkSession, dir: String,
      toleranceS: Long = 600): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "error"))
      .withColumn("click_event_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_ts",
        last(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "error" && col("click_event_id").isNotNull)
      .withColumn("gap_s",
        unix_timestamp(date_trunc("second", col("ts"))) -
          unix_timestamp(date_trunc("second", col("click_ts"))))
      .filter(col("gap_s") <= toleranceS)
      .select(col("event_id").as("error_event_id"), col("user_id"),
        col("click_event_id"), col("gap_s"))
      .orderBy("error_event_id")
  }

  /** As-of join: for each 'error' event, the most recent prior 'click' by the
    * same user — composed from built-ins (union of both streams, one ordered
    * window per user, `last(..., ignoreNulls)`), per SURVEY §2.4's as-of note.
    * No custom SparkStrategy needed: one shuffle on user_id, linear scan. */
  def asofErrorsToClicks(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "error"))
      .withColumn("click_event_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_ts",
        last(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "error" && col("click_event_id").isNotNull)
      .select(
        col("event_id").as("error_event_id"),
        col("user_id"),
        col("click_event_id"),
        (unix_timestamp(date_trunc("second", col("ts"))) -
          unix_timestamp(date_trunc("second", col("click_ts")))).as("gap_s"))
      .orderBy("error_event_id")
  }

  /** Purchase attribution over the click stream: for each purchase, the
    * first-touch and last-touch click ids plus the equal-split (linear)
    * credit each prior click would receive, as an exact integer ppm share
    * (1000000 div n — the remainder is reported, never silently lost).
    * One window pass per user over the click/purchase sub-stream: running
    * first/last click (ignore-nulls) and a running click count — no
    * purchase x click pair blowup, so a heavy user costs O(events), not
    * O(clicks · purchases). */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("click_id", when(col("event_type") === "click", col("event_id")))
      .withColumn("first_click_id", first(col("click_id"), ignoreNulls = true).over(w))
      .withColumn("last_click_id", last(col("click_id"), ignoreNulls = true).over(w))
      .withColumn("n_prior_clicks",
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id").as("purchase_event_id"), col("user_id"),
        col("first_click_id"), col("last_click_id"), col("n_prior_clicks"),
        when(col("n_prior_clicks") > 0, expr("1000000 div n_prior_clicks"))
          .otherwise(lit(0L)).as("credit_ppm_each"),
        when(col("n_prior_clicks") > 0,
          lit(1000000L) - col("n_prior_clicks") * expr("1000000 div n_prior_clicks"))
          .otherwise(lit(0L)).as("leftover_ppm"))
      .orderBy("purchase_event_id")
  }

  /** Daily event-volume anomaly flags per event type: a day is anomalous when
    * its count deviates from the type's mean by more than 2 sigma —
    * the (n·x − S)² > 4·(n·Q − S²) integer form (multiply through by n²,
    * never divide), computed in DECIMAL(38,0) so there is zero floating
    * point: flags are bit-identical across engines and partition layouts,
    * and exact past the 64-bit overflow point a 100 TB event history reaches.
    *
    * Two map-side-combinable aggregates (daily counts, then per-type moment
    * sums) + a broadcast join back — the same shape as the per-source length
    * outliers ([[graft.ext.TextStats.lengthOutliers]]), applied to
    * time-series monitoring. */
  def dailyAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val dec = col("n_events").cast("decimal(38,0)")
    val stats = daily.groupBy(col("event_type")).agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(dec).as("s"),
      sum(dec * dec).as("q"))
    daily.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), col("day"), col("n_events"),
        col("n").cast("long").as("n_days"),
        ((col("n") * dec - col("s")) * (col("n") * dec - col("s")) >
          (col("n") * col("q") - col("s") * col("s")) * 4).as("is_anomaly"))
      .orderBy("event_type", "day")
  }

  /** Event-type transition counts (q104): per-user timelines ordered by
    * event_id (the arrival sequence — a total order both engines share; a
    * timestamp ordering would tie-break differently across the micro/nano
    * truncation boundary, see [[graft.engine.Tables.events]]), lagged one
    * step, rolled up into the corpus-wide bigram matrix. The Markov-chain
    * transition table behavioral models train on. Window state is one row
    * (lag 1); the rollup is map-side combinable. */
  def eventBigrams(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .select(col("prev_type"), col("event_type").as("next_type"))
      .groupBy("prev_type", "next_type")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("prev_type", "next_type")
  }

  /** Interval-overlap join (q114): user sessions × the distinct hours in
    * which errors occurred — "how many incident hours did each session
    * touch". The scalable shape is NOT a nested-loop range join: each session
    * explodes into the hour keys it covers (bounded — sessions are
    * gap-bounded, so covered hours per session are few), the error hours are
    * a distinct dim-sized set, and the overlap becomes an EQUI-join on the
    * hour key. At 100 TB this is the standard interval-join bucketing trick;
    * a BroadcastNestedLoopJoin over raw inequalities would be quadratic and
    * PlanSpec asserts it is absent. Session construction mirrors
    * [[sessionize]] (q36) exactly; the 30-min gap compares micro-precision
    * epochs on both engines (the oracle uses `epoch_us`, matching
    * [[graft.engine.Tables.events]]'s micro truncation). */
  def sessionErrorOverlap(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapMicros = 30L * 60 * 1000 * 1000
    val sessions = Tables.events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMicros, 1).otherwise(0))
      .withColumn("session_idx",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        unix_timestamp(date_trunc("second", min(col("ts")))).as("s_start"),
        unix_timestamp(date_trunc("second", max(col("ts")))).as("s_end"))
    // pure epoch//3600 buckets on BOTH sides: date_trunc('hour') would cut at
    // session-timezone boundaries (wrong key space under a half-hour-offset
    // zone) while the session coverage below is UTC-epoch arithmetic
    val errorHours = Tables.events(spark, dir)
      .filter(col("event_type") === "error")
      .select(expr("unix_timestamp(ts) div 3600").as("h"))
      .distinct()
    sessions
      .withColumn("h", explode(expr("sequence(s_start div 3600, s_end div 3600)")))
      .join(errorHours, Seq("h"))
      .groupBy("user_id", "session_idx", "s_start", "s_end")
      // each covered hour appears once (sequence is duplicate-free, errorHours
      // distinct), so a plain count suffices — no distinct-agg pass
      .agg(count(col("h")).as("n_error_hours"))
      .orderBy("user_id", "session_idx")
  }

  /** Top user journeys (q110): each user's first 8 event types (by
    * event_id) joined into a path string, then the 20 most common paths. The
    * per-user state is bounded (8 structs, sorted by the explicit
    * `rn` — collect_list alone is ordering-nondeterministic), and the final
    * `orderBy.limit` plans as TakeOrderedAndProject. */
  def userPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 8)
      .groupBy("user_id")
      .agg(expr(
        """concat_ws('>', transform(array_sort(collect_list(struct(rn, event_type))),
          |  x -> x.event_type))""".stripMargin).as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(20)
  }

  /** Half-life-decayed engagement score (q156): per user, event values
    * folded with a staircase exponential decay — value_cents div
    * 2^((ref_day − event_day) div 7) (a 7-day half-life) — entirely in exact integer
    * arithmetic (DECIMAL cents, then a power-of-two floor division per
    * halving step). The standard recency weighting for a serving-side
    * engagement/LTV feature, made bit-deterministic: a float pow() decay
    * diverges across engines and partition orders; the shift form is exact,
    * order-independent, and AQE/retry-safe. The reference day is the
    * corpus's max event day (1-row broadcast), so the score is a pure
    * function of the data. Halvings cap at 40 (a 63-bit value is zero long
    * before that). One shuffle on user_id. */
  def decayedEngagement(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    val ref = ev.agg(max(col("day")).as("ref_day"))
    ev.crossJoin(broadcast(ref))
      .withColumn("halvings",
        expr("least((ref_day - day) div 7, 40)"))
      .withColumn("decayed_cents",
        expr("cents div shiftleft(CAST(1 AS BIGINT), CAST(halvings AS INT))"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("raw_cents"),
        sum(col("decayed_cents")).as("decayed_cents"))
      .orderBy("user_id")
  }

  /** Event debounce / burst collapse (q142): consecutive events of the same
    * (user, event_type) closer than 2 hours collapse into one burst — the
    * retry-storm / double-fire suppression a feature-store ingest applies
    * before counting ("one purchase, not five rapid-fire submits"). Per
    * burst: the representative first event (min event_id — the one a
    * debounced stream would KEEP), the suppressed count, and the burst span
    * in seconds.
    *
    * Same lag-gap-cumsum shape as [[sessionize]] but keyed on (user_id,
    * event_type) — one shuffle on the composite key, both window passes and
    * the final aggregate share that partitioning.
    * Ordering is (epoch_us, event_id) per the events-table convention —
    * micro-precision ties break on the id, never on sub-micro timestamp
    * detail the two engines read differently. */
  def eventDebounce(spark: SparkSession, dir: String): DataFrame = {
    val byKey = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
    val gapMicros = 2L * 3600L * 1000000L
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(byKey))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapMicros, 1)
          .otherwise(0))
      .withColumn("burst_idx",
        sum(col("is_new")).over(byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .groupBy(col("user_id"), col("event_type"), col("burst_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("kept_event_id"),
        expr("(max(us) - min(us)) div 1000000").as("span_s"))
      .withColumn("n_suppressed", col("n_events") - 1)
      .orderBy("user_id", "event_type", "burst_idx")
  }

  /** Temporal EMBARGO split (q221) — the leakage-safe time split
    * forecasting/RL pipelines use: train is everything before the cut, test
    * everything after cut + embargo, and the embargo band between them is
    * DROPPED — examples whose features could see the test window's labels
    * (the purged split of De Prado's finance ML, applied to event data).
    * The cut is the p80 event DAY by exact counting selection (q152's
    * machinery on the day histogram — a calendar-bounded frame), broadcast
    * as a scalar; tagging is then a pure projection. Output: per split,
    * event/user counts and the day range — the datasheet that proves the
    * split is contiguous, ordered, and gapped by exactly the 2-day embargo. */
  def embargoSplit(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)").as("day"))
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cut = ev.groupBy(col("day")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .agg(min(when(col("cum") >= expr("(8 * n + 9) div 10"), col("day"))).as("cut"))
    ev.crossJoin(broadcast(cut))
      .withColumn("split",
        when(col("day") < col("cut"), "train")
          .when(col("day") < col("cut") + 2, "embargo_dropped")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("day")).as("d_lo"), max(col("day")).as("d_hi"))
      .select(col("split"), col("n_events"), col("n_users"),
        expr("CAST(date_add(DATE '1970-01-01', CAST(d_lo AS INT)) AS STRING)").as("first_day"),
        expr("CAST(date_add(DATE '1970-01-01', CAST(d_hi AS INT)) AS STRING)").as("last_day"))
      .orderBy("split")
  }

  /** Watermark lag audit (q184) — the measurement that PICKS a watermark:
    * per event, its event-time lateness relative to the maximum event time
    * among all EARLIER ARRIVALS, rolled up to the late-event percentiles a
    * pipeline reads off to set `withWatermark` (p99 lateness ⇒ the delay
    * that admits 99% of late data).
    *
    * Arrival order: the synthetic log is generated in perfect event-time
    * order (zero natural lateness at every SF), so arrival is simulated as
    * event time plus a CONTENT-ADDRESSED transport delay (md5 of the event
    * id, 0-7199 s) — deterministic, engine-reproducible, and exactly the
    * interleaved multi-source delivery a real collector sees. The audit
    * then measures the jitter spread a watermark must cover.
    *
    * The running arrival-prefix max is computed as a PARALLEL PREFIX, not a
    * single-partition window: arrivals bucket into 1-minute chunks, the
    * running max within each chunk is a bounded window, and the cross-chunk
    * carry-in is the prefix max over per-chunk maxima — a chunk-count-sized
    * frame (recurse the same trick at petabyte logs). Exactly equal to the
    * naive global window the oracle runs. Lateness percentiles use q152's
    * counting selection on the CEILING-seconds lateness histogram (a
    * sub-second straggler needs a 1 s watermark, not 0). */
  def watermarkLag(spark: SparkSession, dir: String): DataFrame =
    latenessPercentiles(arrivalLateness(
      Tables.events(spark, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("us"))))

  /** Per-event arrival lateness for [[watermarkLag]]: input (event_id, us),
    * output one row per event with its simulated arrival time and
    * ceiling-seconds lateness vs the maximum event time among
    * strictly-earlier arrivals (order: arrival_us, then event_id). */
  private def arrivalLateness(events: DataFrame): DataFrame = {
    val chunked = events
      .withColumn("arrival_us", col("us") +
        (graft.functions.Native.md5Prefix(col("event_id").cast("string"), 7) % 7200) * 1000000)
      .withColumn("chunk", expr("arrival_us div 60000000"))
    val wIn = Window.partitionBy(col("chunk"))
      .orderBy(col("arrival_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val inChunk = chunked.withColumn("max_in", max(col("us")).over(wIn))
    val wCarry = Window.orderBy(col("chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = chunked.groupBy(col("chunk")).agg(max(col("us")).as("chunk_max"))
      .withColumn("carry_in", max(col("chunk_max")).over(wCarry))
      .select(col("chunk"), col("carry_in"))
    inChunk.join(broadcast(carry), Seq("chunk"))
      .withColumn("run_max", greatest(
        coalesce(col("max_in"), lit(Long.MinValue)),
        coalesce(col("carry_in"), lit(Long.MinValue))))
      .withColumn("late_s",
        when(col("run_max") > col("us"),
          expr("(run_max - us + 999999) div 1000000"))
          .otherwise(0L))
      .select(col("event_id"), col("us"), col("arrival_us"), col("late_s"))
  }

  /** Lateness-percentile rollup over [[arrivalLateness]] rows — one row:
    * totals + p50/p90/p99/max of the LATE events (counting selection on the
    * lateness-seconds histogram, same machinery as q152). */
  private def latenessPercentiles(late: DataFrame): DataFrame = {
    val hist = late.groupBy(col("late_s")).agg(count(lit(1)).as("c"))
    val wCum = Window.orderBy(col("late_s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // counting selection over LATE events only (late_s > 0): the histogram
    // frame is lateness-domain-bounded at any log size
    val lateHist = hist.filter(col("late_s") > 0)
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n_late", sum(col("c")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    // GLOBAL aggregate (not groupBy) so an all-on-time log still yields one
    // row — matching the oracle's empty-input aggregate semantics
    val pct = lateHist.agg(
      max(col("n_late")).as("n_late"),
      min(when(col("cum") >= expr("(n_late + 1) div 2"), col("late_s"))).as("p50_late_s"),
      min(when(col("cum") >= expr("(9 * n_late + 9) div 10"), col("late_s"))).as("p90_late_s"),
      min(when(col("cum") >= expr("(99 * n_late + 99) div 100"), col("late_s"))).as("p99_late_s"),
      max(col("late_s")).as("max_late_s"))
    val totals = hist.agg(sum(col("c")).as("n_events"))
    totals.crossJoin(broadcast(pct))
      .select(col("n_events"),
        coalesce(col("n_late"), lit(0L)).as("n_late"),
        expr("CAST(coalesce(n_late, 0) * 1000000 div n_events AS BIGINT)").as("late_ppm"),
        coalesce(col("p50_late_s"), lit(0L)).as("p50_late_s"),
        coalesce(col("p90_late_s"), lit(0L)).as("p90_late_s"),
        coalesce(col("p99_late_s"), lit(0L)).as("p99_late_s"),
        coalesce(col("max_late_s"), lit(0L)).as("max_late_s"))
  }
}
