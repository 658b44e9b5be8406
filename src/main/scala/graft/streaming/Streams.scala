package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface. The reference's "real-time" is a 30-minute
  * Airflow full re-run (`Dag/E-commerce_dag.py:88`); the engine maps that
  * cadence to real incremental execution: `readStream` → event-time windows
  * with watermarks → sinks, plus custom session state via
  * `flatMapGroupsWithState`. The windowed aggregate below is the same logical
  * plan as [[Events.hourlyWindows]] — batch and stream share semantics.
  */
object Streams {

  /** Schema of an events parquet directory written with micro timestamps
    * (the streaming reader needs an explicit schema). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming tumbling 1-hour windows with a 2-hour watermark: late events
    * beyond the watermark are dropped, finalized windows emit in append mode. */
  def hourlyWindowsStream(spark: SparkSession, srcDir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(srcDir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("hour_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("hour_value"))

  final case class Ev(event_id: Long, ts: Timestamp, user_id: Long, value: Double)
  final case class SessionAcc(startMs: Long, lastMs: Long, n: Long, value: Double)
  final case class SessionOut(user_id: Long, session_start: Timestamp,
      n_events: Long, session_value: Double)

  /** Custom stateful sessionization (30-min inactivity gap) via
    * `flatMapGroupsWithState` — the per-key mutable-state form the batch
    * lag/cumsum version ([[Events.sessionize]]) can't express incrementally.
    * Emits a session when the gap is exceeded within a batch or on event-time
    * timeout. */
  def sessionizeStream(spark: SparkSession, srcDir: String): Dataset[SessionOut] = {
    import spark.implicits._
    val gapMs = 30L * 60 * 1000

    def flush(state: GroupState[SessionAcc], userId: Long): Iterator[SessionOut] =
      state.getOption.map { acc =>
        SessionOut(userId, new Timestamp(acc.startMs), acc.n, acc.value)
      }.iterator

    spark.readStream.schema(eventSchema).parquet(srcDir)
      .withWatermark("ts", "2 hours")
      .select(col("event_id"), col("ts"), col("user_id"), col("value")).as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, events: Iterator[Ev], state: GroupState[SessionAcc]) =>
          if (!state.exists && !events.hasNext && state.hasTimedOut) {
            state.remove(); Iterator.empty
          } else if (state.hasTimedOut) {
            val out = flush(state, userId).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var emitted = List.empty[SessionOut]
            var acc = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              acc match {
                case Some(a) if t - a.lastMs <= gapMs =>
                  acc = Some(a.copy(lastMs = t, n = a.n + 1, value = a.value + e.value))
                case Some(a) =>
                  emitted ::= SessionOut(userId, new Timestamp(a.startMs), a.n, a.value)
                  acc = Some(SessionAcc(t, t, 1, e.value))
                case None =>
                  acc = Some(SessionAcc(t, t, 1, e.value))
              }
            }
            acc.foreach { a =>
              state.update(a)
              state.setTimeoutTimestamp(a.lastMs + gapMs)
            }
            emitted.reverse.iterator
          }
      }
  }

  final case class EvType(event_id: Long, user_id: Long, event_type: String)
  final case class LastEv(event_id: Long, event_type: String)
  final case class Transition(user_id: Long, prev_type: String, next_type: String)

  /** Streaming form of [[Events.eventBigrams]] (q104): per-user event-type
    * transitions emitted incrementally. State is ONE fixed-size record per
    * user (the last event seen, by event_id order within each batch), so the
    * cross-batch transition comes from carried state — the Markov transition
    * feed maintained continuously instead of recomputed per run. NoTimeout:
    * state is O(distinct users), never grows with volume. Exact parity with
    * the batch bigram matrix holds when arrival order respects event_id order
    * across batches (the replay test lands waves that way); out-of-order
    * arrival degrades gracefully to arrival-order transitions. */
  def transitionsStream(spark: SparkSession, srcDir: String,
      maxFilesPerTrigger: Int = 0): Dataset[Transition] = {
    import spark.implicits._
    val reader = spark.readStream.schema(eventSchema)
    val src = (if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger) else reader)
      .parquet(srcDir)
    src.select(col("event_id"), col("user_id"), col("event_type")).as[EvType]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, events: Iterator[EvType], state: GroupState[LastEv]) =>
          val sorted = events.toSeq.sortBy(_.event_id)
          var last = state.getOption
          val out = Seq.newBuilder[Transition]
          sorted.foreach { e =>
            last.foreach(l => out += Transition(userId, l.event_type, e.event_type))
            last = Some(LastEv(e.event_id, e.event_type))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** STREAMING native session windows — the incremental form of the batch
    * `session_window` aggregate ([[Events.sessionWindowNative]], q54) and
    * the state-store-backed alternative to the hand-rolled
    * [[sessionizeStream]]: Spark merges overlapping per-key session state
    * itself and emits a session once the watermark passes its close
    * (append mode). Same 30-min gap and output shape as the batch form, so
    * replay parity is row-subset equality (append mode withholds sessions
    * newer than the final watermark — the same contract the
    * hourly-windows parity test pins). */
  def sessionWindowStream(spark: SparkSession, srcDir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(srcDir)
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        graft.engine.Dec.sum2(col("value")).as("session_value"))
      .select(col("user_id"),
        date_trunc("second", col("w.start")).as("session_start"),
        col("n_events"), col("session_value"))

  /** Stream-stream inner join with watermarks + event-time range bounds:
    * each error joined to the same user's clicks from the preceding hour.
    * Watermarks + the range condition let Spark prune both join-state sides —
    * without them stream-stream join state grows unboundedly. */
  def errorClickJoinStream(spark: SparkSession, srcDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val clicks = spark.readStream.schema(eventSchema).parquet(srcDir)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_event_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val errors = spark.readStream.schema(eventSchema).parquet(srcDir)
      .filter(col("event_type") === "error")
      .select(col("event_id").as("error_event_id"), col("user_id"), col("ts").as("error_ts"))
      .withWatermark("error_ts", "2 hours")
    errors.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") <= col("error_ts") &&
        col("click_ts") >= col("error_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("error_event_id"), col("user_id"), col("click_event_id"))
  }

  /** Streaming exact deduplication by event_id with BOUNDED state:
    * `dropDuplicatesWithinWatermark` keeps each key's state only until the
    * watermark passes it, so duplicates arriving within the watermark window
    * are dropped and state is GC'd afterwards — the streaming form of the
    * batch exact-dedup ([[graft.ext.TextStats.exactDedup]] /
    * `Silver.dedupBy`). A plain streaming `dropDuplicates` would grow its
    * key-state forever; this is the only sustainable shape for an unbounded
    * ingest at production scale. */
  def dedupStream(spark: SparkSession, srcDir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(srcDir)
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming debounce — the incremental form of the batch burst collapse
    * ([[Events.eventDebounce]], q142): within the watermark delay (= the
    * 2-hour debounce gap), only the FIRST event per (user_id, event_type) survives;
    * repeats are suppressed, and the key's state is GC'd once the watermark
    * passes it, so state stays O(active keys within the gap) — never the
    * history. Batch form emits one row per burst with the suppressed count;
    * the stream emits the kept representative (count-of-suppressed is not
    * observable from a dedup operator — a production pipeline wanting counts
    * uses the [[Events.eventDebounce]] rollup over the at-rest copy). */
  def debounceStream(spark: SparkSession, srcDir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(srcDir)
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Stream-STATIC enrichment join: the event stream joined to a static
    * dimension table (e.g. a user→segment mapping refreshed out-of-band).
    * The static side is broadcast — no streaming state at all is kept for it
    * (unlike a stream-stream join), which is why dimension enrichment at
    * 100 TB/day is always shaped this way: the unbounded side streams through,
    * the bounded side ships to every executor once per batch. Left join keeps
    * unmatched events with a default segment (a dim miss must not drop
    * revenue rows). */
  def enrichStream(spark: SparkSession, srcDir: String, dim: DataFrame): DataFrame =
    spark.readStream.schema(eventSchema).parquet(srcDir)
      .join(broadcast(dim), Seq("user_id"), "left")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), coalesce(col("segment"), lit("unknown")).as("segment"))

  final case class UserStats(user_id: Long, n_events: Long, total_value: Double,
      max_event_id: Long)

  /** Running per-user lifetime statistics via `mapGroupsWithState` (update
    * mode) — the third stateful-API shape beside `flatMapGroupsWithState`
    * sessions and `dropDuplicatesWithinWatermark` dedup: exactly ONE updated
    * row per key per micro-batch, state is a fixed-size accumulator (count,
    * sum, high-water-mark), never the event history. This is the
    * continuously-maintained feature/profile table of a production pipeline
    * (user LTV, abuse counters): at 100 TB/day the state size is
    * O(distinct keys), independent of event volume. No timeout: profiles are
    * permanent (a TTL variant would set ProcessingTimeTimeout). */
  def userStatsStream(spark: SparkSession, srcDir: String): Dataset[UserStats] = {
    import spark.implicits._
    spark.readStream.schema(eventSchema).parquet(srcDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value")).as[Ev]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (userId: Long, events: Iterator[Ev], state: GroupState[UserStats]) =>
          val prev = state.getOption.getOrElse(UserStats(userId, 0L, 0.0, Long.MinValue))
          val next = events.foldLeft(prev) { (s, e) =>
            UserStats(userId, s.n_events + 1, s.total_value + e.value,
              math.max(s.max_event_id, e.event_id))
          }
          state.update(next)
          next
      }
  }

  /** Schema of a documents parquet directory (streaming reader needs it
    * explicit). */
  val documentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Incremental near-dup BAND INDEX maintenance: new document waves landing
    * in `srcDir` are banded with the shuffle-free projection
    * ([[graft.ext.Dedup.bandsProjection]]) and APPENDED to the at-rest index
    * — the streaming realization of the deployment model the batch dedup
    * stack assumes (the band/pair index is maintained at rest and appended
    * per data drop, never recomputed over the corpus). Because banding is a
    * pure stateless projection, the whole pipeline runs under the streaming
    * parquet FILE SINK: checkpointed offsets + _spark_metadata give
    * end-to-end exactly-once, no foreachBatch and no replay guard needed.
    * Downstream (candidate generation, clustering) reads the index exactly
    * as the batch path does. */
  def bandIndexStream(spark: SparkSession, srcDir: String): DataFrame =
    graft.ext.Dedup.bandsProjection(
      spark.readStream.schema(documentSchema).parquet(srcDir))

  /** Streaming heavy-hitter CANDIDATE maintenance — the incremental form of
    * the q176 two-pass pattern: the mergeable
    * [[graft.functions.MisraGriesAggregator]] runs as a streaming typed
    * aggregation, so every new document wave updates a state of AT MOST k
    * (term, count) slots plus the exact running token total. The single
    * state key is the sketch itself, not a scale bottleneck: each micro-batch
    * still pre-aggregates map-side (partial MG buffers merge), and only
    * k-slot buffers reach the state store. The MG guarantee holds across
    * restarts and merge order: every term with lifetime frequency > n/k is in
    * the current candidate string; the periodic exact re-count (q176's pass
    * 2) runs as a cheap batch job over the at-rest corpus when needed.
    * Output (update mode): one row — space-joined sorted candidates + exact
    * total n — re-emitted per batch. */
  def heavyHitterCandidatesStream(spark: SparkSession, srcDir: String,
      k: Int = 64): Dataset[(String, Long)] = {
    import spark.implicits._
    val terms = spark.readStream.schema(documentSchema).parquet(srcDir)
      .select(explode(split(col("text"), " ")).as("term")).as[String]
    terms.groupByKey(_ => true)
      .agg(new graft.functions.MisraGriesAggregator(k).toColumn)
      .map { case (_, (cands, n)) => (cands.mkString(" "), n) }
  }

  /** Drain [[bandIndexStream]] into the parquet index at `indexPath`
    * (Trigger.AvailableNow; re-invoking with the same checkpoint processes
    * only newly-landed files). */
  def runBandIndex(spark: SparkSession, srcDir: String, indexPath: String,
      checkpoint: String): Unit = {
    val q = bandIndexStream(spark, srcDir).writeStream
      .format("parquet")
      .option("path", indexPath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Schema for a streaming vector source (vec_id, embedding). */
  val vectorSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** Decontamination-on-arrival — the streaming twin of q234 and the shape
    * production screens actually deploy as: the eval benchmark is a FIXED
    * artifact collected once at stream start
    * ([[graft.ext.Similarity.evalBenchmark]] — driver-collected, carried as
    * the codegen argmax literal), and every arriving embedding wave is screened
    * against it as a pure stateless projection plus a stream-static broadcast
    * fetch of the winning eval vector. No state store, no watermark: the
    * screen rides the file sink's checkpointed offsets + _spark_metadata for
    * end-to-end exactly-once, the same zero-state contract as
    * [[bandIndexStream]]. At 100 TB/day ingest the benchmark stays in RAM on
    * every executor and each wave costs one linear pass. */
  def deconStream(spark: SparkSession, srcDir: String, benchmarkDir: String): DataFrame = {
    val bench = graft.ext.Similarity.evalBenchmark(spark, benchmarkDir)
    val waves = graft.ext.Similarity.withNorm(
      spark.readStream.schema(vectorSchema).parquet(srcDir), col("vec_id"))
    graft.ext.Similarity.deconScreen(waves, bench)
  }

  /** Drain [[deconStream]] into the parquet verdicts at `outPath`
    * (Trigger.AvailableNow; re-invoking with the same checkpoint processes
    * only newly-landed waves). */
  def runDeconStream(spark: SparkSession, srcDir: String, benchmarkDir: String,
      outPath: String, checkpoint: String): Unit = {
    val q = deconStream(spark, srcDir, benchmarkDir).writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming vector ingest — the online form of
    * [[graft.ext.Similarity.incrementalEmbeddingDedup]] (q192). Each arriving
    * micro-batch is (1) hashed with the SAME plane literals the at-rest index
    * uses ([[graft.ext.Similarity.bucketizeVectors]] — mismatched planes make
    * the candidate join garbage), (2) verdict-joined against the index as of
    * the batch start (n_dup_candidates / dup_of / is_new), and (3) appended
    * to the index itself, so later waves see earlier waves — dedup-on-ingest:
    * first writer wins, the second wave is flagged.
    *
    * Exactly-once despite foreachBatch's at-least-once contract: both the
    * index slice and the verdict slice land in a per-batchId subdir with
    * OVERWRITE, so a replayed batch rewrites its own slice instead of
    * doubling it (the same idempotence discipline as
    * [[IncrementalPipeline.upsertUserProfilesAvailableNow]]). Readers union
    * the slices via recursive lookup. AvailableNow + checkpoint: re-invoking
    * drains only newly-landed files. */
  def runVectorIngest(spark: SparkSession, srcDir: String, indexPath: String,
      verdictPath: String, checkpoint: String): Unit = {
    val q = spark.readStream.schema(vectorSchema).parquet(srcDir).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ss = batch.sparkSession
        val bucketized = graft.ext.Similarity.bucketizeVectors(batch)
        // corpus = every committed slice EXCEPT this batch's own: a crashed-
        // and-replayed batch may already have written b$batchId, and judging
        // the batch against its own first attempt would flag every vector as
        // a duplicate of itself
        val slices = batchSlices(ss, indexPath, batchId)
        val corpus =
          if (slices.nonEmpty) ss.read.parquet(slices: _*)
          else bucketized.filter(lit(false))
        graft.ext.Similarity.dedupVerdicts(bucketized, corpus)
          .write.mode("overwrite").parquet(s"$verdictPath/b$batchId")
        bucketized.write.mode("overwrite").parquet(s"$indexPath/b$batchId")
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Committed per-batch slice paths under `root` (subdirs `b<id>`),
    * excluding `excludeBatchId`'s own slice — the shared read side of the
    * exactly-once ingest protocol ([[runVectorIngest]]/[[runTextIngest]]/
    * [[runWatermarkLagMonitor]]): a crashed-and-replayed batch must never
    * see its first attempt's output. */
  private def batchSlices(ss: SparkSession, root: String,
      excludeBatchId: Long): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(ss.sessionState.newHadoopConf())
    if (fs.exists(p))
      fs.listStatus(p).toSeq.map(_.getPath.toString)
        .filterNot(_.endsWith(s"/b$excludeBatchId"))
    else Seq.empty
  }

  /** Streaming TEXT ingest — dedup-on-arrival for documents, the online form
    * of q85's batch-vs-corpus check (and the text twin of
    * [[runVectorIngest]]): each arriving micro-batch is (1) fingerprinted
    * and MinHash-banded with the SAME projections the at-rest index uses
    * ([[graft.ext.TextStats.fingerprint]] /
    * [[graft.ext.Dedup.bandsProjection]] — the shuffle-free form), (2)
    * verdict-joined against the index as of batch start (exact_dup_of via
    * the fingerprint, n_near_candidates via shared bands, is_new iff
    * neither), and (3) appended as the index's next fp/band slices — first
    * writer wins, later waves are flagged. Exactly-once under foreachBatch's
    * at-least-once contract: verdict and index slices land in per-batchId
    * subdirs with OVERWRITE and the corpus read excludes the batch's own
    * slice ([[batchSlices]]). The batch-side hint follows the
    * guardedBroadcast law (rows AND measured bytes — see
    * [[graft.engine.RelOps.guardedBroadcast]]): a production wave is
    * usually broadcast-sized, but the operator must not ASSUME it — an
    * oversized wave (the sf1000 soak feeds 12.5 M docs per wave, whose
    * band projection alone is 9.1 GiB, past Spark's hard 8 GiB broadcast
    * ceiling) falls back to shuffle joins, keeping the per-wave cost
    * linear in wave + index mass (the documented per-wave law) instead of
    * failing the stream. The wave projections are DISK_ONLY-persisted for
    * the micro-batch's lifetime regardless — each is consumed twice (the
    * verdict join and the index-slice append), so the guard's count pass
    * is not an extra scan, it replaces a recomputation. The index is only
    * ever APPENDED, never recomputed. */
  def runTextIngest(spark: SparkSession, srcDir: String, indexPath: String,
      verdictPath: String, checkpoint: String): Unit = {
    val q = spark.readStream.schema(documentSchema).parquet(srcDir).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ss = batch.sparkSession
        val fps = batch.select(col("doc_id"),
          graft.ext.TextStats.fingerprint(col("text")).as("fp"))
          .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        val bands = graft.ext.Dedup.bandsProjection(batch)
          .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        // the guardedBroadcast law, inlined (the helper would persist a
        // second copy): count() materializes the cache, after which the
        // optimized plan's stats carry MEASURED bytes, not estimates
        def guarded(df: DataFrame): DataFrame = {
          val n = df.count()
          val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
          if (n <= 10000000L && bytes <= BigInt(256L << 20)) broadcast(df)
          else df
        }
        val fpSlices = batchSlices(ss, s"$indexPath/fp", batchId)
        val bandSlices = batchSlices(ss, s"$indexPath/bands", batchId)
        val corpusFp =
          if (fpSlices.nonEmpty) ss.read.parquet(fpSlices: _*)
          else fps.filter(lit(false))
        val corpusBands =
          if (bandSlices.nonEmpty) ss.read.parquet(bandSlices: _*)
          else bands.filter(lit(false))
        // INNER join: a broadcast hint on the outer side of a LEFT join is
        // unsatisfiable (BHJ cannot build the stream-preserved side) and
        // would silently shuffle the whole at-rest index per wave; matchless
        // batch docs get their null exact_dup_of from the left join-back
        // below, so inner semantics lose nothing and BuildLeft stays legal
        val exact = guarded(fps)
          .join(corpusFp.select(col("fp"), col("doc_id").as("c_id")), Seq("fp"))
          .groupBy(col("doc_id")).agg(min(col("c_id")).as("exact_dup_of"))
        val near = guarded(bands)
          .join(corpusBands.select(col("band_idx"), col("band_hash"),
            col("doc_id").as("cand_id")), Seq("band_idx", "band_hash"))
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("cand_id")).as("n_near_candidates"))
        batch.select(col("doc_id"), col("source"))
          .join(exact, Seq("doc_id"), "left")
          .join(near, Seq("doc_id"), "left")
          .withColumn("n_near_candidates",
            coalesce(col("n_near_candidates"), lit(0L)))
          .withColumn("is_new",
            col("exact_dup_of").isNull && col("n_near_candidates") === 0)
          .write.mode("overwrite").parquet(s"$verdictPath/b$batchId")
        fps.write.mode("overwrite").parquet(s"$indexPath/fp/b$batchId")
        bands.write.mode("overwrite").parquet(s"$indexPath/bands/b$batchId")
        fps.unpersist()
        bands.unpersist()
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming watermark-lag MONITOR — the continuous form of the batch
    * audit ([[Events.watermarkLag]], q184): each arriving micro-batch's
    * per-event lateness is computed against the high-water mark carried
    * across ALL prior batches, so the percentiles a pipeline reads off to
    * set `withWatermark` are maintained as events land instead of recomputed
    * over the log. Both forms share ONE lateness implementation
    * ([[Events.arrivalLateness]]): when waves land in arrival order
    * (arrival_us, event_id — the monitor's contract, same as
    * [[transitionsStream]]'s id-order caveat), the cross-batch result is
    * row-identical to the batch recompute.
    *
    * State is one scalar (the max event time seen) — kept as per-batch
    * 1-row carry slices under `latePath/_carry` rather than in-memory, so
    * the monitor resumes across restarts and stays exactly-once under
    * foreachBatch's at-least-once contract: lateness AND carry slices land
    * in per-batchId subdirs with OVERWRITE, and the carry read excludes the
    * batch's own slice (a crashed-and-replayed batch must not see its first
    * attempt's high-water mark — the [[runVectorIngest]] discipline).
    * The underscore prefix keeps `_carry` invisible to parquet readers of
    * `latePath`'s slices. */
  def runWatermarkLagMonitor(spark: SparkSession, srcDir: String,
      latePath: String, checkpoint: String, maxFilesPerTrigger: Int = 0): Unit = {
    val reader = spark.readStream.schema(eventSchema)
    val src = (if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger) else reader)
      .parquet(srcDir)
    val q = src
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ss = batch.sparkSession
        val priors = batchSlices(ss, s"$latePath/_carry", batchId)
        // 1-row-per-prior-batch driver seed — bounded by batch count, never
        // event volume (the A1 collect pattern)
        val carryIn =
          if (priors.isEmpty) Long.MinValue
          else ss.read.parquet(priors: _*)
            .agg(max(col("max_us"))).collect()(0).getLong(0)
        val late = graft.streaming.Events.arrivalLateness(batch, carryIn)
        late.write.mode("overwrite").parquet(s"$latePath/b$batchId")
        // new high-water mark from the COMMITTED slice (not the lineage),
        // max'd with the carry so an all-late batch never regresses it
        val batchMax = ss.read.parquet(s"$latePath/b$batchId")
          .agg(max(col("us"))).collect()(0)
        val hwm =
          if (batchMax.isNullAt(0)) carryIn
          else math.max(carryIn, batchMax.getLong(0))
        import ss.implicits._
        Seq(hwm).toDF("max_us")
          .write.mode("overwrite").parquet(s"$latePath/_carry/b$batchId")
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The monitor's read side: lateness percentiles over every committed
    * slice — same output row as batch q184 (equal to it when waves landed in
    * arrival order). */
  def watermarkLagSummary(spark: SparkSession, latePath: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(latePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val slices =
      if (fs.exists(root))
        fs.listStatus(root).toSeq.map(_.getPath.toString)
          .filter(_.split('/').last.startsWith("b"))
      else Seq.empty[String]
    require(slices.nonEmpty, s"no committed lateness slices under $latePath")
    graft.streaming.Events.latenessPercentiles(spark.read.parquet(slices: _*))
  }

  /** Streaming sequence packing — q232's ingest-wave packer as a LIVE
    * stream (the one dataset-assembly operator whose streaming twin was
    * missing while its batch form existed — VERDICT r7 #6): each arriving
    * micro-batch of documents CONTINUES the corpus token stream, cut into
    * fixed 256-token training sequences that start at the next
    * sequence boundary after the at-rest total (sealed-shard append — a
    * loader never re-reads a sealed shard to top it up, so every committed
    * manifest slice is immutable). Per-wave cost: one chunked-prefix
    * cumsum over the WAVE plus arithmetic — linear in the wave; the corpus
    * is never rescanned (its token total rides in a 1-row carry slice,
    * the [[runWatermarkLagMonitor]] discipline).
    *
    * Exactly-once under foreachBatch's at-least-once contract: manifest
    * and carry slices land in per-batchId subdirs with OVERWRITE, and the
    * carry read excludes the batch's own slice ([[batchSlices]]) — a
    * crashed-and-replayed batch recomputes from its predecessors' offsets,
    * never from its first attempt's. `_carry`'s underscore prefix keeps it
    * invisible to parquet readers of the manifest slices.
    *
    * Wave parity with the batch operator: a wave drained by this stream is
    * row-identical to [[graft.ext.TextStats.incrementalPacking]] over the
    * same at-rest corpus + wave split (StreamsSpec pins it). */
  def runPackingStream(spark: SparkSession, srcDir: String,
      manifestPath: String, checkpoint: String): Unit = {
    val seqLen = 256
    val q = spark.readStream.schema(documentSchema).parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val ss = batch.sparkSession
        val priors = batchSlices(ss, s"$manifestPath/_carry", batchId)
        // the cumulative token total is monotone in batch id, so the
        // latest carry is the max — one bounded driver seed per batch
        val corpusTokens =
          if (priors.isEmpty) 0L
          else ss.read.parquet(priors: _*)
            .agg(max(col("corpus_tokens"))).collect()(0).getLong(0)
        val offset = ((corpusTokens + seqLen - 1) / seqLen) * seqLen
        val wave = batch.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n"))
        graft.ext.TextStats.packDocs(wave, offset, seqLen)
          .write.mode("overwrite").parquet(s"$manifestPath/b$batchId")
        // wave token count from the COMMITTED slice (not the lineage); an
        // empty wave carries the total forward unchanged — no phantom
        // boundary padding from doc-less batches
        val waveToks = ss.read.parquet(s"$manifestPath/b$batchId")
          .agg(coalesce(sum(col("n_tokens")), lit(0L)))
          .collect()(0).getLong(0)
        import ss.implicits._
        Seq(if (waveToks == 0L) corpusTokens else offset + waveToks)
          .toDF("corpus_tokens")
          .write.mode("overwrite").parquet(s"$manifestPath/_carry/b$batchId")
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Drain a streaming DF into an in-memory table synchronously
    * (Trigger.AvailableNow) — the local test/dev harness for the queries above;
    * a production deployment swaps the sink for parquet/Kafka and a
    * ProcessingTime trigger (the reference's 30-min cadence ≡
    * `Trigger.ProcessingTime("30 minutes")`). */
  def runToMemory(df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Append): Unit = {
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** One wave's soak telemetry: input rows fed (incl. planted duplicates),
    * cumulative rows emitted by the sink, the dedup operator's state-store
    * rows at the wave's end, and the wave's drain wall time. */
  final case class SoakWave(wave: Int, nInput: Long, nEmittedTotal: Long,
      stateRows: Long, wallMs: Long)

  /** End-to-end streaming-medallion SOAK (round 7): replay an SF dir's
    * whole events table in `waves` contiguous EVENT-TIME slices through the
    * bounded-state [[dedupStream]] (watermarked dedup → exactly-once parquet
    * file sink), draining each wave with `Trigger.AvailableNow` against one
    * shared checkpoint — the multi-batch restart path a 30-minute-cadence
    * deployment exercises all day.
    *
    * The claim under soak is STATE BOUNDEDNESS: the dedup state store holds
    * only keys the watermark hasn't passed, so each wave's end-of-drain
    * state is O(wave), and stays FLAT as waves accumulate — on an unbounded
    * ingest the state never tracks corpus size (a plain streaming
    * dropDuplicates would). 1% of each wave is fed twice (same
    * event_id, same wave) to prove the dedup is actually doing work: the
    * sink must emit each event exactly once.
    *
    * Wave boundaries come from exact `percentile` cutoffs on the event-time
    * micros — one aggregate, no global sort/window in the harness either.
    * Telemetry is read from the terminated query's `recentProgress`
    * (max `numRowsTotal` across the drain's micro-batches). */
  def dedupSoak(spark: SparkSession, sfDir: String, scratch: String,
      waves: Int = 4): Seq[SoakWave] = {
    require(waves >= 2, "soak needs at least 2 waves")
    val stage = s"$scratch/stage"; val out = s"$scratch/out"
    val ckpt = s"$scratch/ckpt"
    graft.engine.Fs.rmTree(scratch)
    val ev = graft.engine.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
    val probs = (1 until waves).map(i => i.toDouble / waves)
      .mkString("array(", ", ", ")")
    val cuts = ev.agg(expr(s"percentile(unix_micros(ts), $probs)"))
      .head().getSeq[Double](0).map(_.toLong)
    def waveFilter(i: Int) = {
      val t = unix_micros(col("ts"))
      val lo = if (i == 1) lit(Long.MinValue) else lit(cuts(i - 2))
      val hi = if (i == waves) lit(Long.MaxValue) else lit(cuts(i - 1))
      t > lo && t <= hi
    }
    (1 to waves).map { i =>
      val wdf = ev.filter(waveFilter(i))
      val planted = wdf.filter(pmod(col("event_id"), lit(100)) < 1)
      val fed = wdf.unionAll(planted)
      val nInput = fed.count()
      fed.write.mode("append").parquet(stage)
      val t0 = System.nanoTime()
      val q = dedupStream(spark, stage).writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val wallMs = (System.nanoTime() - t0) / 1000000L
      val stateRows = q.recentProgress.toSeq
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsTotal).foldLeft(0L)(math.max)
      val emitted = spark.read.parquet(out).count()
      SoakWave(i, nInput, emitted, stateRows, wallMs)
    }
  }
}
