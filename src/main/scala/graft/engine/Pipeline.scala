package graft.engine

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, ExecutorCompletionService, Executors}

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** End-to-end bronze → silver → gold pipeline — the engine-native replacement
  * for the reference's 10-task Airflow DAG (`Dag/E-commerce_dag.py:220-222`):
  * stage sequencing with concurrent table writes inside each stage, quality
  * gate between silver and gold, Parquet sinks in a medallion directory
  * layout (`out/{bronze,silver,gold}/`), idempotent by overwrite like the
  * reference's 30-minute re-runs. Every table it writes is an entry of
  * [[Medallion]]; the gate's violation counts and `dim_date`'s range are
  * aggregates the silver entries declare, observed on their writes, so
  * neither reads data.
  *
  * Side-effect hooks replace the DAG's email notification tasks (O4).
  */
object Pipeline {

  final case class RunReport(
      silverRows: Map[String, Long],
      qualityChecks: Seq[Quality.CheckResult],
      goldTables: Seq[String])

  /** Stage-level retry (O3 — `Dag/E-commerce_dag.py:92-93`: every task runs
    * with `retries=1, retry_delay=30min`). Re-runs `body` up to `maxRetries`
    * total attempts, waiting `delayMs × attempt` after each failed one (linear
    * backoff; the JDBC sink's 1 s then 2 s); stages are idempotent (overwrite
    * sinks) so a re-run after a partial failure is safe, same as the
    * reference's Airflow re-run.
    *
    * @param onRetry observability hook (stage, attempt just failed 1-based, error)
    * @param sleep   injectable delay between attempts (default real sleep) */
  def withRetry[T](stage: String, maxRetries: Int = 2, delayMs: Long = 0L,
      onRetry: (String, Int, Throwable) => Unit = (_, _, _) => (),
      sleep: Long => Unit = Thread.sleep)(body: => T): T = {
    def attempt(n: Int): T =
      try body
      catch {
        case e: Exception if n < maxRetries =>
          onRetry(stage, n, e)
          if (delayMs > 0) sleep(delayMs * n)
          attempt(n + 1)
      }
    attempt(1)
  }

  /** Runs one stage attempt's independent `tasks` concurrently and returns
    * their results in task order. The pool (min(tasks, defaultParallelism)
    * threads) is created here, by the stage thread, so every thread inherits
    * the caller's Spark local properties, the job group included; a shared
    * pool would keep whichever stage's properties first created its threads.
    * Every task finishes before this returns or throws, and so does every
    * pool thread: a retry never races a write of the attempt it replaces. On
    * failure the first failure's own exception is rethrown, unwrapped. */
  private[graft] def concurrently[T](spark: SparkSession, stage: String)(
      tasks: Seq[() => T]): Seq[T] = {
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(tasks.size, spark.sparkContext.defaultParallelism)),
      (r: Runnable) => {
        val t = new Thread(r, s"pipeline-$stage-${threads.size}")
        t.setDaemon(true)
        threads.add(t)
        t
      })
    try {
      val done = new ExecutorCompletionService[T](pool)
      val futures = tasks.map(t => done.submit(() => t()))
      var firstFailure: Option[Throwable] = None
      for (_ <- tasks) {
        try done.take().get()
        catch { case e: ExecutionException =>
          if (firstFailure.isEmpty) firstFailure = Some(Option(e.getCause).getOrElse(e)) }
      }
      firstFailure.foreach(e => throw e)
      futures.map(_.get())
    } finally {
      pool.shutdown()
      threads.forEach(_.join())
    }
  }

  /** Run the full pipeline from an Olist CSV directory: every [[Medallion]]
    * table, layer by layer, in declaration order. Within each stage the table
    * writes are independent and run concurrently ([[concurrently]]).
    * The quality gate runs no job: it reads the silver entries' check counts
    * from the silver writes' Observations, and a failed check throws before
    * any gold write.
    * Each stage gets 2 attempts with no delay between them ([[withRetry]]'s
    * defaults, O3): the reference also allows 2 attempts but waits 30 minutes,
    * which would stall a local run.
    * @param onStageComplete notification hook (stage name) — O4 analog.
    * @param onRetry         hook fired when a stage attempt fails and will be
    *                        retried */
  def run(spark: SparkSession, csvDir: String, outDir: String,
      onStageComplete: String => Unit = _ => (),
      onRetry: (String, Int, Throwable) => Unit = (_, _, _) => ()): RunReport = {

    def staged[T](name: String)(tasks: Seq[() => T]): Seq[T] = {
      val out = withRetry(name, onRetry = onRetry)(concurrently(spark, name)(tasks))
      onStageComplete(name)
      out
    }

    // Bronze: one session, explicit schemas (vs ingestion.py's session-per-table)
    val bronze = Medallion.bronze.map(t => t.name -> Bronze.readCsv(spark, s"$csvDir/${t.file}", t.name)).toMap
    staged("bronze") {
      Medallion.bronze.map(t => () => Bronze.writeParquet(bronze(t.name), s"$outDir/bronze/${t.name}"))
    }

    // Silver: 8 cleaned tables, written once each; each write counts its own
    // rows, its checks' violations and its other declared aggregates through
    // an Observation, created per attempt as it is single-use
    val silver = Medallion.silver.map(t => t -> t.clean(bronze(t.name)))
    val silverOut = staged("silver") {
      silver.map { case (t, df) => () =>
        val metrics = Observation()
        Bronze.writeParquet(df.observe(metrics, count(lit(1)).as("rows"), t.checks.map(_._2) ++ t.observed: _*),
          s"$outDir/silver/${t.name}")
        // re-read so gold plans scan parquet instead of recomputing the
        // lineage; the schema is the one just written, so no inference job
        (t, spark.read.schema(df.schema).parquet(s"$outDir/silver/${t.name}"), metrics.get)
      }
    }
    val silverStored = silverOut.map { case (t, df, _) => t.name -> df }.toMap
    val observed = silverOut.map { case (t, _, m) => t.name -> m }.toMap

    // Quality gate between silver and gold — halts on violation (O2).
    // Deliberately NOT retried: a data-quality violation is deterministic —
    // re-running it would just re-fail after the delay.
    val checks = Quality.enforce(silverOut.flatMap { case (t, _, m) =>
      t.checks.map { case (name, _) => Quality.CheckResult(name, m(name).asInstanceOf[Long]) }
    })
    onStageComplete("quality_checks")

    // Gold: 9 dims + 3 facts. Building one runs no job (dim_date's range was
    // observed above), but each is still built inside its own write task so
    // that the 12 analyses overlap.
    staged("gold") {
      Medallion.gold.map(t => () => Bronze.writeParquet(t.build(spark, silverStored, observed),
        s"$outDir/gold/${t.name}", partitionBy = t.partition.toSeq))
    }

    RunReport(observed.map { case (n, m) => n -> m("rows").asInstanceOf[Long] }, checks,
      Medallion.gold.map(_.name).sorted)
  }
}
