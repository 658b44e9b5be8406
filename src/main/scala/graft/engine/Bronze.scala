package graft.engine

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, countDistinct, lit}

/** Bronze layer: ingestion. The reference reads each CSV with `inferSchema=true`
  * and overwrites a Postgres table per source, tearing the session down between
  * tables (`spark_jobs/ingestion.py:12-24` — each CSV is scanned twice and the
  * JVM restarted 9×). Here: one session, explicit schemas (single scan), and
  * Parquet as the canonical at-rest format.
  */
object Bronze {

  /** CSV → DataFrame with `table`'s pinned schema ([[Medallion.bronze]], S1). */
  def readCsv(spark: SparkSession, path: String, table: String): DataFrame =
    spark.read.option("header", "true").schema(Medallion.named(Medallion.bronze, table).schema).csv(path)

  /** Parquet sink (replaces the reference's full-overwrite JDBC writes,
    * `ingestion.py:15-22` — at 100 TB a batchsize-1000 JDBC sink is the
    * pipeline's scale ceiling; columnar parquet with optional partitioning is
    * not). */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*).parquet(path)

  /** q199: SCHEMA-EVOLUTION roundtrip — the daily 100 TB reality that a
    * table's writers gain columns over time. Two generations of the
    * documents table land in ONE dataset dir: generation 1 (even doc ids)
    * without `source`, generation 2 (odd ids) with it; the read uses
    * `mergeSchema` so the union schema resolves and gen-1 rows surface a
    * NULL source. The rollup proves the merged read end-to-end: per lang,
    * total rows vs rows that actually carry a source, and the distinct
    * source count (NULL-excluded by COUNT semantics in both engines). The
    * dataset is built at rest once per documents snapshot
    * ([[SessionMemo.atRest]]): bench loops reread, never rewrite. */
  def schemaEvolutionRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val p = SessionMemo.atRest(spark, ("schevo", dir), s"$dir/documents.parquet") { root =>
      val docs = Tables.documents(spark, dir)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"))
        .write.parquet(s"$root/data/g1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("source"))
        .write.parquet(s"$root/data/g2")
    }
    spark.read.option("mergeSchema", "true").parquet(s"$p/data/g1", s"$p/data/g2")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("source")).as("n_with_source"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")
  }

  /** ORC sink + source roundtrip (q108): the customer dim written as ORC and
    * read back for a per-segment rollup — proving the engine's source/sink
    * surface is format-plural (parquet canonical, ORC interchange; both
    * columnar, both with predicate pushdown and column pruning in Spark's
    * vectorized readers). Money sums go through the DECIMAL element cast so
    * the roundtrip is oracle-exact. */
  def orcRoundtripCustomer(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val path = Fs.overwriteVersioned(s"graft_orc_${Fs.dirTag(dir)}")(p =>
      Tables.customer(spark, dir).write.mode(SaveMode.Overwrite).orc(p))
    spark.read.orc(path)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        Dec.sum2(col("c_acctbal")).as("segment_balance"))
      .orderBy("c_mktsegment")
  }

  /** CSV sink + source roundtrip (q111): the part table written as
    * header-CSV and read back with the EXPLICIT parquet-derived schema (the
    * reference's `inferSchema=true` double-scans every file —
    * `ingestion.py:12-14`; a pinned schema reads once). Doubles round-trip
    * CSV exactly (shortest-repr print, exact parse), so the rollup is
    * oracle-identical to the parquet-direct path. */
  def csvRoundtripPart(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, max}
    val part = Tables.part(spark, dir)
    val path = Fs.overwriteVersioned(s"graft_csv_${Fs.dirTag(dir)}")(p =>
      part.write.mode(SaveMode.Overwrite).option("header", "true").csv(p))
    spark.read.schema(part.schema).option("header", "true").csv(path)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        Dec.sum2(col("p_retailprice")).as("brand_value"),
        max(col("p_size")).as("max_size"))
      .orderBy("p_brand")
  }

  /** JSON-lines sink + source roundtrip (q112): events projected to a
    * JSONL feed and read back with a pinned schema — the interchange format
    * every event bus / export job speaks. Aggregates are integer/decimal
    * exact, so the roundtrip is oracle-identical to the parquet source. */
  def jsonlRoundtripEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit, max, min}
    val ev = Tables.events(spark, dir)
      .select("event_id", "user_id", "event_type", "value")
    val path = Fs.overwriteVersioned(s"graft_jsonl_${Fs.dirTag(dir)}")(p =>
      ev.write.mode(SaveMode.Overwrite).json(p))
    spark.read.schema(ev.schema).json(path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"),
        Dec.sum2(col("value")).as("total_value"))
      .orderBy("event_type")
  }

  /** LIVE JDBC sink+source roundtrip (q187) against an embedded Apache Derby
    * database (on Spark's own classpath — no new dependency, no network):
    * the nation dim written through [[writeJdbc]] (S2/S4: overwrite mode,
    * batched inserts, retry loop), read back via `spark.read.jdbc`, and
    * rolled up per region. The reference's whole at-rest layer is Postgres
    * JDBC (`spark_jobs/ingestion.py:15-22`, `reporting.py:411-431`); this
    * exercises the identical Spark JDBC write/read code path (dialect +
    * batching + overwrite DDL) against a real SQL engine, so S2/S4 are
    * execution-tested, not just retry-loop-tested. The oracle aggregates the
    * parquet source directly — any loss/mangling in the DDL type mapping
    * (strings ride as CLOB under the Derby dialect), batch flush, or
    * read-back would hash-mismatch.
    *
    * Scale note (unchanged from SURVEY): JDBC is reference PARITY, not the
    * 100 TB path — a batchsize-N row sink is the pipeline's scale ceiling;
    * parquet is canonical at rest. Embedded Derby is single-JVM by design,
    * which local[*] satisfies.
    *
    * The DB dir is a [[SessionMemo.atRest]] entry per nation snapshot: each
    * invocation overwrites the TABLE inside the database (transactional in
    * Derby), so bench loops hold one DB copy, not N. */
  def jdbcRoundtripNation(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, min, sum}
    val dbDir = SessionMemo.atRest(spark, ("derby", dir), s"$dir/nation.parquet")(_ => ())
    System.setProperty("derby.stream.error.file", s"$dbDir/derby.log")
    val url = s"jdbc:derby:$dbDir/db;create=true"
    writeJdbc(Tables.nation(spark, dir), url, "nation", "app", "app", batchSize = 7)
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", "nation")
      .option("user", "app").option("password", "app")
      .load()
      .groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations"),
        min(col("n_name")).as("first_nation"),
        sum(col("n_nationkey")).as("key_sum"))
      .orderBy("n_regionkey")
  }

  /** JDBC sink kept for reference parity (S2/S4 semantics: overwrite, batched,
    * 3 attempts with linear backoff, 1 s then 2 s — `reporting.py:411-431`),
    * through [[Pipeline.withRetry]].
    *
    * @param onRetry  observability hook: (attempt just failed 1-based, error) —
    *                 called before each backoff sleep, NOT on the final failure
    * @param sleep    injectable backoff (tests pass a recorder; default real) */
  def writeJdbc(df: DataFrame, url: String, table: String, user: String,
      password: String, batchSize: Int = 1000,
      onRetry: (Int, Throwable) => Unit = (_, _) => (),
      sleep: Long => Unit = Thread.sleep): Unit =
    Pipeline.withRetry(s"jdbc:$table", maxRetries = 3, delayMs = 1000L,
        onRetry = (_, attempt, e) => onRetry(attempt, e), sleep = sleep) {
      df.write.format("jdbc")
        .option("url", url).option("dbtable", table)
        .option("user", user).option("password", password)
        .option("batchsize", batchSize)
        .option("isolationLevel", "NONE")
        .mode(SaveMode.Overwrite).save()
    }
}
