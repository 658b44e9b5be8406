package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.engine.{Analytics, Pipeline}

/** One JVM of a benchmark run. `run.py` launches it, gives it generated
  * inputs, and turns the result file it writes into metrics and checks.
  *
  * Arguments (all `--key value`): workload (medallion | bi_reports | catalog
  * | gen-catalog), seed, seconds, trace (0 | 1), input, work, out, cores;
  * catalog also takes the query list file `queries`, and gen-catalog the
  * fixture `multiplier` and the file to list query `names` in.
  *
  * - medallion: one `Pipeline.run` with defaults, then the five dashboard
  *   reports read back from gold. One cycle per JVM: every cycle is a cold
  *   start, as the reference deploys it.
  * - bi_reports: gold is built and five refreshes warm up during set-up,
  *   then refreshes of seven report queries (seed-permuted order) run until
  *   `seconds` pass.
  * - catalog: `SparkEntry.queries` entries on a generated fixture, after an
  *   untimed warm pass; seed-permuted passes run until `seconds` pass.
  *
  * With trace 1, bi_reports and catalog first measure half the window
  * untraced, then register the listeners and measure the other half, so
  * one run also gives the tracing overhead. */
object Main {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private[perfbench] def cpuS(): Double = os.getProcessCpuTime / 1e9
  private[perfbench] def jitS(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  private[perfbench] def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private[perfbench] def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    // the histogram keeps a sample of compile times in ms; mean x count
    // estimates the total
    (h.getCount, h.getCount * h.getSnapshot.getMean / 1e3)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val cores = opt("cores").toInt
    val work = opt("work")
    val spark = session(cores, work)
    val result: Map[String, Any] = workload match {
      case "gen-catalog" =>
        graft.GenData.gen(spark, opt("input"), opt("multiplier").toDouble)
        Files.writeString(Paths.get(opt("names")),
          graft.SparkEntry.queries.keys.toSeq.sorted.mkString("", "\n", "\n"))
        Map("generated" -> opt("input"))
      case _ =>
        new Run(spark, workload, opt("seed").toLong, opt("seconds").toDouble,
          opt("trace") == "1", opt("input"), work, cores, opt.get("queries")).run()
    }
    Files.writeString(Paths.get(opt("out")),
      JsonMapper.builder().addModule(DefaultScalaModule).build().writeValueAsString(result))
    spark.stop()
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "52428800")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private[perfbench] def rowsJson(rows: Array[Row]): Seq[Map[String, Any]] = rows.toSeq.map { r =>
    r.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap
  }

  /** Fisher-Yates permutation of `xs` from a splitmix64 stream on (seed, k). */
  def permute[T](xs: Seq[T], seed: Long, k: Long): Seq[T] = {
    var z = seed * 0x9E3779B97F4A7C15L + k * 0xBF58476D1CE4E5B9L
    def next(): Long = {
      z += 0x9E3779B97F4A7C15L
      var x = z
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = java.lang.Long.remainderUnsigned(next(), i + 1L).toInt
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  /** The dashboard reports over a gold directory, as (name, constructor).
    * Each constructor re-reads gold parquet, as a DirectQuery refresh does. */
  def reports(spark: SparkSession, gold: String, all: Boolean): Seq[(String, () => DataFrame)] = {
    def t(n: String) = spark.read.parquet(s"$gold/$n")
    def share(dim: String, key: String, group: String) =
      Analytics.shareOfSales(t("fact_sales"),
        t(dim).select(col(key).as(s"D_$key"), col(group)), s"D_$key", key, group)
    val five = Seq[(String, () => DataFrame)](
      "monthlySalesYoY" -> (() => Analytics.monthlySalesYoY(t("fact_sales"))),
      "topProducts" -> (() => Analytics.topProducts(t("fact_sales"))),
      "avgDaily" -> (() => Analytics.avgDaily(t("fact_orders"))),
      "deliveryKpis" -> (() => Analytics.deliveryKpis(t("fact_orders"))),
      "shareOfSales_customer_state" ->
        (() => share("dim_customers", "Customer_ID", "Customer_State")))
    if (!all) five
    else five ++ Seq[(String, () => DataFrame)](
      "shareOfSales_seller_region" -> (() => share("dim_sellers", "Seller_ID", "Seller_Region")),
      "shareOfSales_product_category" ->
        (() => share("dim_products", "Product_ID", "Product_Category")))
  }
}

final class Run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
    trace: Boolean, input: String, work: String, cores: Int, queryFile: Option[String]) {
  import Main._

  private val WarmRefreshes = 5
  private val sc = spark.sparkContext
  private val baseNs = System.nanoTime()
  private var spans = new Spans(false)
  private var tr: Option[Trace] = None
  private val errors = scala.collection.mutable.ArrayBuffer[String]()
  /** One entry per timed unit: a pipeline cycle, refresh or catalog pass. */
  private val units = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
  private var firstCallMs = 0L

  private def tag(g: String): Unit = sc.setJobGroup(g, g, interruptOnCancel = false)

  private def startTrace(): Unit = {
    val t = new Trace
    sc.addSparkListener(t)
    spark.listenerManager.register(t)
    tr = Some(t)
    spans = new Spans(true)
  }

  /** JIT, GC and Spark codegen work done while `body` runs. */
  private def jvmWork(body: => Any): Map[String, Any] = {
    val jit0 = jitS(); val gc0 = gcS(); val (n0, s0) = codegen()
    body
    val (n1, s1) = codegen()
    Map("jit_s" -> (jitS() - jit0), "gc_s" -> (gcS() - gc0),
      "codegen_compiles" -> (n1 - n0), "codegen_s" -> (s1 - s0))
  }

  /** Run `op`, recording its wall and process CPU time as one unit. */
  private def unit(traced: Boolean)(op: => Map[String, Any]): Unit = {
    if (firstCallMs == 0L) firstCallMs = System.currentTimeMillis()
    val c0 = cpuS(); val j0 = jitS(); val t0 = System.nanoTime()
    val extra = op
    units += (Map("wall_s" -> (System.nanoTime() - t0) / 1e9, "cpu_s" -> (cpuS() - c0),
      "jit_s" -> (jitS() - j0), "traced" -> traced) ++ extra)
  }

  /** One query: construct, optimize, plan, execute. Phases are separate
    * spans and job groups; untraced, the same calls run back to back. */
  private def query[T](name: String, build: () => DataFrame, exec: DataFrame => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = spans.span(s"query:$name") {
      tag("construct")
      val df = spans.span("construct")(build())
      tag("optimize")
      spans.span("optimize")(df.queryExecution.optimizedPlan)
      tag("plan")
      spans.span("plan")(df.queryExecution.executedPlan)
      tag("execute")
      spans.span("execute")(exec(df))
    }
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def run(): Map[String, Any] = {
    val env = Map(
      "cores" -> cores,
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version,
      "local_dir_free_gb" -> new File(s"$work/spark-local").getUsableSpace / 1e9)
    val body: Map[String, Any] = workload match {
      case "medallion" => medallion()
      case "bi_reports" => biReports()
      case "catalog" => catalog()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    tag("harness")
    tr.foreach(_ => org.apache.spark.PerfbenchBridge.drainListenerBus(sc))
    val layers = tr.map(layerMetrics).getOrElse(Map.empty)
    // the only forced GCs, after the timed section: retained heap is the
    // least heap in use over three full collections (one reading alone can
    // catch objects a background thread allocated during the collection)
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      // Spark's ContextCleaner frees broadcast and shuffle blocks of the
      // collected objects asynchronously; let it run before reading
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    def canary(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L << 25).selectExpr("sum((id * 2654435761L) % 1000003)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    canary()
    body ++ Map(
      "workload" -> workload,
      "first_call_epoch_ms" -> firstCallMs,
      "units" -> units.toSeq,
      "retained_heap_mb" -> heapMb,
      "calibration_s" -> canary(),
      "errors" -> errors.toSeq,
      "layers" -> layers,
      "spans" -> spans.toJson(baseNs),
      "env" -> env)
  }

  // ---------------------------------------------------------------- medallion

  private def medallion(): Map[String, Any] = {
    if (trace) startTrace()
    val outDir = s"$work/medallion"
    var report: Pipeline.RunReport = null
    var retries = 0
    var rows = Map.empty[String, Any]
    val jvm = jvmWork(unit(trace) {
      Map("queries" -> spans.root("cycle", 0) {
        val next = Map("bronze" -> ("bronze", "silver"), "silver" -> ("silver", "quality"),
          "quality_checks" -> ("quality", "gold"), "gold" -> ("gold", "recount"))
        var last = System.nanoTime()
        tag("bronze")
        report = spans.span("pipeline") {
          val r = Pipeline.run(spark, input, outDir,
            onStageComplete = stage => {
              val now = System.nanoTime()
              val (name, following) = next(stage)
              spans.record(name, last, now)
              last = now
              tag(following)
            },
            onRetry = (_, _, _) => retries += 1)
          spans.record("recount", last, System.nanoTime())
          r
        }
        tag("reports")
        spans.span("reports") {
          reports(spark, s"$outDir/gold", all = false).map { case (name, build) =>
            val t0 = System.nanoTime()
            rows += name -> rowsJson(spans.span(s"report:$name")(build().collect()))
            Map("name" -> name, "s" -> (System.nanoTime() - t0) / 1e9)
          }
        }
      })
    })
    Map(
      "reports" -> rows,
      "retries" -> retries,
      "gold_dir" -> s"$outDir/gold",
      "run_report" -> Map(
        "silver_rows" -> report.silverRows,
        "quality_checks" -> report.qualityChecks.map(c => Map("name" -> c.name, "violations" -> c.violations)),
        "gold_tables" -> report.goldTables),
      "jvm" -> jvm)
  }

  // --------------------------------------------------------------- bi_reports

  private def window(traced: Boolean, secs: Double, firstUnit: Int)(one: Int => Map[String, Any]): Int = {
    val t0 = System.nanoTime()
    var k = firstUnit
    while (k == firstUnit || System.nanoTime() - t0 < secs * 1e9) {
      unit(traced)(one(k))
      k += 1
    }
    k
  }

  /** Untraced window, then (trace 1) a traced one of the same length. */
  private def measure(one: Int => Map[String, Any]): Map[String, Any] = {
    val untracedSecs = if (trace) seconds / 2 else seconds
    val k = window(traced = false, untracedSecs, 0)(one)
    if (!trace) Map.empty
    else {
      startTrace()
      Map("jvm" -> jvmWork(window(traced = true, seconds / 2, k)(one)))
    }
  }

  private def biReports(): Map[String, Any] = {
    val outDir = s"$work/medallion"
    Pipeline.run(spark, input, outDir)
    val qs = reports(spark, s"$outDir/gold", all = true)
    // untimed refreshes: a dashboard server is warm before users arrive,
    // and JIT compilation of the report plans settles over the first few
    tag("warm")
    for (k <- 1 to WarmRefreshes) permute(qs, seed, -k).foreach { case (_, build) => build().collect() }
    val last = scala.collection.mutable.Map[String, Seq[Map[String, Any]]]()
    var mismatches = 0
    val extra = measure { k =>
      val lat = spans.root("refresh", k) {
        permute(qs, seed, k).map { case (name, build) =>
          val (rows, dt) = query(name, build, _.collect())
          val js = rowsJson(rows)
          // every refresh must return what the previous one did
          if (last.get(name).exists(_ != js)) {
            mismatches += 1
            errors += s"$name: refresh $k returned different rows"
          }
          last(name) = js
          Map("name" -> name, "s" -> dt)
        }
      }
      Map("queries" -> lat)
    }
    extra ++ Map("reports" -> last.toMap, "gold_dir" -> s"$outDir/gold",
      "refresh_mismatches" -> mismatches)
  }

  // ------------------------------------------------------------------ catalog

  private def catalog(): Map[String, Any] = {
    val names = Files.readAllLines(Paths.get(queryFile.get)).asScala.map(_.trim).filter(_.nonEmpty).toSeq
    val fns = graft.SparkEntry.queries
    val missing = names.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown catalog queries: ${missing.mkString(",")}")
    val failed = scala.collection.mutable.Set[String]()
    val counts = scala.collection.mutable.Map[String, Long]()
    def runOne(name: String): Option[(Long, Double)] =
      try Some(query(name, () => fns(name)(spark, input), _.queryExecution.toRdd.count()))
      catch {
        case t: Throwable =>
          failed += name
          errors += s"$name: ${t.getClass.getSimpleName}: ${t.getMessage}".take(400)
          None
      }
    tag("warm")
    names.foreach(runOne)
    val extra = measure { k =>
      val lat = spans.root("pass", k) {
        permute(names, seed, k).flatMap { name =>
          runOne(name).map { case (n, dt) =>
            if (counts.get(name).exists(_ != n)) {
              failed += name
              errors += s"$name: pass $k counted $n rows, earlier ${counts(name)}"
            }
            counts(name) = n
            Map("name" -> name, "s" -> dt)
          }
        }
      }
      Map("queries" -> lat)
    }
    // outputs for the oracle check, outside the timed section
    tag("check")
    val dump = s"$work/catalog_out"
    names.filterNot(failed.contains).foreach { name =>
      try fns(name)(spark, input).coalesce(1).write.mode("overwrite").parquet(s"$dump/$name")
      catch {
        case t: Throwable =>
          failed += name
          errors += s"$name: dump failed: ${t.getMessage}".take(400)
      }
    }
    val oracle = graft.SparkEntry.oracleSql
    extra ++ Map("dump_dir" -> dump, "failed_queries" -> failed.toSeq.sorted,
      "oracle_sql" -> names.flatMap(n => oracle.get(n).map(n -> _)).toMap)
  }

  // ------------------------------------------------------------------- layers

  private def layerMetrics(t: Trace): Map[String, Any] = {
    val traced = units.filter(_("traced") == true)
    val n = math.max(1, traced.size).toDouble
    def g(name: String) = t.forGroup(name)
    def per(x: Double) = x / n
    val wall = traced.map(_("wall_s").asInstanceOf[Double]).sum
    val m = scala.collection.mutable.Map[String, Any]()
    def counters(prefix: String, c: Counters): Unit = {
      m(s"$prefix.jobs") = per(c.jobs.toDouble)
      m(s"$prefix.task_cpu_s") = per(c.taskCpuNs / 1e9)
      m(s"$prefix.input_bytes") = per(c.inputBytes.toDouble)
      m(s"$prefix.shuffle_bytes") = per(c.shuffleBytes.toDouble)
      m(s"$prefix.spill_bytes") = per(c.spillBytes.toDouble)
      m(s"$prefix.bytes_written") = per(c.bytesWritten.toDouble)
    }
    if (workload == "medallion") {
      Seq("bronze", "silver", "quality", "reports").foreach { s =>
        counters(s, g(s))
        m(s"$s.wall_s") = per(spans.total(s))
      }
      val gold = g("gold")
      val (facts, factsWall) = t.forWrites(_.contains("/gold/fact_"))
      val dims = new Counters
      dims.add(gold)
      dims.add(facts, -1)
      counters("gold_facts", facts)
      counters("gold_dims", dims)
      m("gold_facts.wall_s") = per(factsWall)
      m("gold_dims.wall_s") = per(spans.total("gold") - factsWall)
      m("pipeline.recount_s") = per(spans.total("recount"))
      m("pipeline.recount_jobs") = per(g("recount").jobs.toDouble)
    } else {
      val phases = Seq("construct", "optimize", "plan", "execute")
      phases.foreach { p =>
        counters(p, g(p))
        m(s"$p.wall_s") = per(spans.total(p))
      }
      val ex = g("execute")
      m("execute.stages") = per(ex.stages.toDouble)
      m("execute.tasks") = per(ex.tasks.toDouble)
      val exWall = spans.total("execute")
      m("execute.core_idle_ratio") =
        if (exWall > 0) 1.0 - (ex.taskRunMs / 1e3) / (exWall * cores) else 0.0
      if (workload == "bi_reports") {
        val all = new Counters
        phases.foreach(p => all.add(g(p)))
        counters("reports", all)
        m("reports.wall_s") = per(wall)
      }
    }
    m("traced_units") = traced.size
    m("traced_run_s") = if (traced.isEmpty) 0.0 else wall / traced.size
    m.toMap
  }
}
