package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.functions.Native

/** Deterministic sampling operators for training-data curation.
  *
  * `df.sample()` is seed-stable only for a fixed partition layout — useless as
  * a reproducible dataset-versioning primitive at scale. These operators hash
  * the record key instead: membership is a pure function of the data, so the
  * same sample falls out on any cluster, any partitioning, any engine (the
  * DuckDB oracle reproduces it exactly). This is the standard content-addressed
  * split/sample scheme for corpus curation (train/val splits, decontamination
  * holdouts).
  */
object Sampling {

  /** 28-bit md5-prefix hash of the key (uniform on [0, 2²⁸)) — the one
    * content-addressed randomness primitive every sampler here derives from;
    * md5-based so any engine can recompute membership. */
  private def u28(keyCol: String) =
    Native.md5Prefix(col(keyCol).cast("string"), 7)

  /** [[u28]]'s range: 2²⁸. */
  private val U28Range = 268435456L

  /** Hash of the key into [0, 100). */
  private def pctBucket(keyCol: String) = u28(keyCol) % 100

  /** ~10% deterministic sample of documents by doc_id hash. */
  def hashSample(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("hash_bucket", pctBucket("doc_id"))
      .filter(col("hash_bucket") < 10)
      .select(col("doc_id"), col("lang"), col("source"), col("hash_bucket"))
      .orderBy("doc_id")
  }

  /** Stratified deterministic sample: 20 docs per language, chosen
    * by hash order (reproducible "random" choice within each stratum). */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("pick", row_number().over(w))
      .filter(col("pick") <= 20)
      .select(col("lang"), col("pick"), col("doc_id"))
      .orderBy("lang", "pick")
  }

  /** Fixed-size deterministic sample (q122): exactly `k` documents, chosen
    * as the k smallest md5-priority keys — the content-addressed equivalent
    * of a size-k reservoir sample (same marginal uniformity, but reproducible
    * on any engine/partitioning, unlike a stateful reservoir). Plans as
    * TakeOrderedAndProject (PlanSpec asserts): each partition forwards at
    * most k rows, so no global sort materializes — the scale-safe fixed-size
    * draw. Full tie-break via doc_id for the (never observed) equal-key case. */
  def fixedSizeSample(spark: SparkSession, dir: String, k: Int = 200): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), u28("doc_id").as("sample_key"))
      .orderBy(col("sample_key"), col("doc_id"))
      .limit(k)
  }

  /** Fixed-size WEIGHTED sample (q180) via sequential Poisson sampling
    * (Ohlsson 1998): each document draws priority u/w — the content-addressed
    * 28-bit uniform divided by its token count — and the k SMALLEST
    * priorities win, so inclusion probability is approximately proportional
    * to w at exactly-k output size. This is the fixed-size counterpart of
    * [[lengthBiasedSample]] (whose Bernoulli draw has random output size):
    * dataset curation usually wants "exactly k docs, weighted by token mass",
    * and this is the standard order-sampling scheme for it.
    *
    * Exact integer priorities (u·10⁶ div w, w floored at 1) with a doc_id
    * tie-break; plans as TakeOrderedAndProject — each partition forwards at
    * most k rows, never a global sort (the q122 scale shape, weighted). */
  def weightedPrioritySample(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    Tables.documents(spark, dir)
      // coalesce BEFORE split: on NULL text Spark's size(split(NULL)) is -1
      // (clamped to 1) while DuckDB's len(string_split(NULL)) is NULL — the
      // row's priority would diverge on any corpus with nullable text; the
      // coalesce makes the engines agree by construction (1 token either way)
      .select(col("doc_id"),
        greatest(size(split(coalesce(col("text"), lit("")), " ")).cast("long"), lit(1L)).as("n_tokens"))
      .withColumn("u", u28("doc_id"))
      .withColumn("priority", expr("CAST(u * 1000000 div n_tokens AS BIGINT)"))
      .select(col("doc_id"), col("n_tokens"), col("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(k)
  }

  /** Temperature-weighted mixture (q127): per-source sampling weights
    * proportional to n_docs^0.5 — the standard temperature reweighting
    * (alpha = 1/2) that keeps large sources from drowning small ones in a
    * training mix. Weights are kept as exact integers: sqrt of a BIGINT is
    * IEEE-correctly-rounded in both engines, round(.*1000) can never land on
    * a .5 boundary (only perfect squares yield finite sqrt digits), and the
    * shares are integer ppm — so the mix is engine-exact, not
    * approximately-equal doubles. The total attaches via collect-explode
    * over the n_sources-row weight table (round 10, VERDICT r9 #4 sweep):
    * one lineage end-to-end, instead of a `crossJoin(broadcast(total))`
    * whose total branch re-ran the corpus scan as a separate broadcast job.
    * Bounded: the collected array is one struct per SOURCE (a mixture has
    * tens of sources, not rows). */
  def temperatureMixture(spark: SparkSession, dir: String): DataFrame = {
    val weights = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w_milli", round(sqrt(col("n_docs")) * 1000).cast("long"))
    weights.agg(collect_list(struct(col("source"), col("n_docs"), col("w_milli"))).as("h"))
      .select(explode(col("h")).as("r"),
        aggregate(col("h"), lit(0L), (acc, x) => acc + x.getField("w_milli")).as("total_milli"))
      .select(col("r.source").as("source"), col("r.n_docs").as("n_docs"),
        col("r.w_milli").as("w_milli"), col("total_milli"))
      .withColumn("share_ppm", expr("w_milli * 1000000L div total_milli"))
      .select(col("source"), col("n_docs"), col("w_milli"), col("share_ppm"))
      .orderBy("source")
  }

  /** Length-biased deterministic sample (q115): P(keep) = n_tokens /
    * max_tokens — the standard debiasing draw when a corpus over-represents
    * short documents and the training mix should weight by token mass.
    * Content-addressed like [[hashSample]]: the 28-bit md5 prefix of the key
    * is compared against the length ratio IN INTEGERS (u * max < n * 2²⁸),
    * so membership is exact, reproducible on any engine, and independent of
    * partitioning.
    *
    * ONE text scan (round 10): the 1-row max branch is a separate broadcast
    * job, and an unpersisted lineage would re-read the TEXT column to
    * recompute n_tokens — doubling the scan of the corpus's heaviest column.
    * Persisting the (doc_id, n_tokens) projection (16 bytes/row, DISK_ONLY
    * for the same unified-memory reasons as
    * [[graft.engine.RelOps.guardedBroadcast]]) makes both the max branch and
    * the filter read the narrow cache; text is decoded exactly once. The
    * pruned-scan scalar branches elsewhere (decayedEngagement's ref day,
    * temporalSplit's cut) stay unpersisted by design — their re-executed
    * branch reads a NARROW column, so a corpus-sized cache would cost more
    * than it saves (BENCH.md, scalar-lineage exemption). */
  def lengthBiasedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val mx = docs.agg(max(col("n_tokens")).as("max_tokens"))
    docs.crossJoin(broadcast(mx))
      .withColumn("sample_key", u28("doc_id"))
      .filter(col("sample_key") * col("max_tokens") < col("n_tokens") * lit(U28Range))
      .select(col("doc_id"), col("n_tokens"), col("max_tokens"), col("sample_key"))
      .orderBy("doc_id")
  }

  /** Per-source quota cap (q147): at most 20 documents per source, chosen
    * by content-addressed priority (md5 of the doc id, ties on the id) — the
    * standard over-represented-domain cap in a curation mix ("no more than N
    * pages from any one host"). Every doc is emitted with its priority rank
    * and the kept/dropped verdict so the trim is auditable, not silent.
    *
    * Scale shape: one row_number window partitioned by source — the same
    * per-stratum trim as [[stratifiedSample]]; no global sort, no shuffle
    * beyond the source partitioning. */
  def sourceQuotaCap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("priority_rank", row_number().over(w).cast("int"))
      .withColumn("kept", col("priority_rank") <= 20)
      .orderBy("doc_id")
  }

  /** Deterministic training-order interleave (q149): a reproducible epoch
    * order that round-robins across sources — doc with per-source
    * content-addressed rank r (1-based) from source s (0-based index over the
    * sorted source names) lands at global position (r−1)·n_sources + s. The
    * result is the stratified shuffle a training run wants (no long runs of
    * one domain; order is a pure function of the data) WITHOUT globally
    * sorting the corpus by a random key: the per-source rank windows
    * partition by source, and the source index is a dimension-cardinality
    * frame (n_sources rows) joined broadcast. Positions are exact and
    * collision-free: r ranks are unique within a source, s is unique across
    * sources, and s < n_sources.
    *
    * The final orderBy is output-determinism cost only — a production writer
    * would `repartitionByRange(global_order)` straight to files. */
  def interleaveOrder(spark: SparkSession, dir: String): DataFrame = {
    val srcW = Window.orderBy(col("source")) // dimension-cardinality (n_sources)
    val sources = Tables.documents(spark, dir)
      .select(col("source")).distinct()
      .withColumn("source_idx", (row_number().over(srcW) - 1).cast("long"))
    val nSources = sources.agg(count(lit(1)).as("n_sources"))
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("rank_in_source", row_number().over(w).cast("long"))
      .join(broadcast(sources), Seq("source"))
      .crossJoin(broadcast(nSources))
      .withColumn("global_order",
        (col("rank_in_source") - 1) * col("n_sources") + col("source_idx"))
      .select(col("doc_id"), col("source"), col("rank_in_source"),
        col("source_idx"), col("global_order"))
      .orderBy("global_order")
  }
}
