package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ExecutionException
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.engine.{Analytics, Bronze, Medallion, Pipeline, Quality}
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** End-to-end bronze→silver→gold over tiny Olist-shaped CSVs. */
class PipelineSpec extends SparkSuite {

  private val csvDir = "/tmp/graft_olist_csv"
  private val outDir = "/tmp/graft_olist_out"

  private def write(name: String, content: String): Unit = PipelineSpec.write(csvDir, name, content)

  private def fixtures(): Unit = PipelineSpec.fixtures(csvDir)

  test("pipeline run: all layers written, gates pass, facts and analytics query") {
    fixtures()
    val stages = scala.collection.mutable.ArrayBuffer.empty[String]
    val report = Pipeline.run(spark, csvDir, outDir, onStageComplete = stages += _)

    assert(stages.toSeq == Seq("bronze", "silver", "quality_checks", "gold"))
    assert(report.qualityChecks.forall(_.passed))
    assert(report.silverRows.keySet == Set("customers", "orders", "geolocation", "order_items",
      "order_payments", "order_reviews", "products", "sellers"))
    report.silverRows.foreach { case (name, rows) =>
      assert(rows == spark.read.parquet(s"$outDir/silver/$name").count(), name)
    }
    assert(report.silverRows("orders") == 2)
    assert(report.goldTables.size == 12) // 9 dims + 3 facts

    val factSales = spark.read.parquet(s"$outDir/gold/fact_sales")
    assert(factSales.count() == 2)
    val dimGeo = spark.read.parquet(s"$outDir/gold/dim_geography")
    assert(dimGeo.count() == 2) // zip-deduped
    val dimDate = spark.read.parquet(s"$outDir/gold/dim_date")
    // spine spans o1..o2 purchase dates (2017-03-01 .. 2017-04-02) = 33 days
    assert(dimDate.count() == 33)

    // analytics over the produced star schema
    val top = Analytics.topProducts(factSales, n = 5).collect()
    assert(top.head.getAs[String]("Product_ID") == "p1")
    assert(top.head.getAs[Double]("Product_Sales") == 70.0)
    val factOrders = spark.read.parquet(s"$outDir/gold/fact_orders")
    val kpis = Analytics.deliveryKpis(factOrders).head()
    assert(kpis.getAs[Long]("Total_Orders") == 2)
    assert(kpis.getAs[Long]("Late_Deliveries") == 0)
  }

  test("idempotence: a second run overwrites cleanly with identical results") {
    fixtures()
    Pipeline.run(spark, csvDir, outDir)
    val first = spark.read.parquet(s"$outDir/gold/fact_orders")
      .orderBy("Order_SK").collect().map(_.toString).toSeq
    Pipeline.run(spark, csvDir, outDir)
    val second = spark.read.parquet(s"$outDir/gold/fact_orders")
      .orderBy("Order_SK").collect().map(_.toString).toSeq
    assert(first == second)
  }

  test("a source with no rows: its silver count is 0 and the run completes") {
    fixtures()
    write("olist_sellers_dataset.csv", "seller_id,seller_zip_code_prefix,seller_city,seller_state")
    val emptyOut = "/tmp/graft_olist_empty"
    val report = Pipeline.run(spark, csvDir, emptyOut)
    assert(report.silverRows("sellers") == 0)
    assert(report.silverRows("orders") == 2)
    assert(spark.read.parquet(s"$emptyOut/gold/dim_sellers").count() == 0)
    rmTree(emptyOut)
  }

  /** A run whose `file` has a header and no rows passes the quality gate
    * with 0 violations on every check and writes the year-partitioned
    * `fact` with no data file. */
  private def assertEmptyGatedSource(file: String, header: String, silver: String,
      fact: String): Unit = {
    fixtures()
    write(file, header)
    val emptyOut = "/tmp/graft_olist_empty"
    val report = Pipeline.run(spark, csvDir, emptyOut)
    assert(report.silverRows(silver) == 0)
    assert(report.qualityChecks.size == 4)
    assert(report.qualityChecks.forall(_.violations == 0L), report.qualityChecks)
    assert(report.goldTables.size == 12)
    val files = Files.walk(Paths.get(s"$emptyOut/gold/$fact"))
    try assert(!files.iterator.asScala.exists(_.toString.endsWith(".parquet")), fact)
    finally files.close()
    rmTree(emptyOut)
  }

  test("an empty order_items: the quality gate reports 0 violations and the run completes") {
    assertEmptyGatedSource("olist_order_items_dataset.csv",
      "order_id,order_item_id,product_id,seller_id,shipping_limit_date,price,freight_value",
      "order_items", "fact_sales")
  }

  test("an empty order_reviews: the quality gate reports 0 violations and the run completes") {
    assertEmptyGatedSource("olist_order_reviews_dataset.csv",
      "review_id,order_id,review_score,review_comment_title,review_comment_message,review_creation_date,review_answer_timestamp",
      "order_reviews", "fact_reviews")
  }

  test("an empty orders: dim_date and the three facts are empty and the run completes without a retry") {
    fixtures()
    write("olist_orders_dataset.csv", "order_id,customer_id,order_status,order_purchase_timestamp," +
      "order_approved_at,order_delivered_carrier_date,order_delivered_customer_date,order_estimated_delivery_date")
    val emptyOut = "/tmp/graft_olist_empty"
    val retries = ArrayBuffer.empty[String]
    val report = Pipeline.run(spark, csvDir, emptyOut,
      onRetry = (stage, attempt, _) => retries += s"$stage#$attempt")
    assert(retries.isEmpty, retries)
    assert(report.silverRows("orders") == 0)
    assert(report.goldTables.size == 12)
    assert(spark.read.parquet(s"$emptyOut/gold/dim_date").count() == 0)
    for (fact <- Seq("fact_sales", "fact_orders", "fact_reviews")) {
      val files = Files.walk(Paths.get(s"$emptyOut/gold/$fact"))
      try assert(!files.iterator.asScala.exists(_.toString.endsWith(".parquet")), fact)
      finally files.close()
    }
    rmTree(emptyOut)
  }

  test("building the 12 gold frames from silver and an observed date range runs no job") {
    fixtures()
    val silver = Medallion.silver.map(t =>
      t.name -> t.clean(Bronze.readCsv(spark, s"$csvDir/${t.bronze.file}", t.name))).toMap
    // what the silver orders write observes: dim_date's range
    val orders = Medallion.named(Medallion.silver, "orders")
    val range = silver("orders").agg(orders.observed.head, orders.observed.tail: _*).head()
    val observed = Map("orders" -> range.getValuesMap[Any](range.schema.fieldNames.toSeq))
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    val built = try {
      val frames = Medallion.gold.map(t => t.name -> t.build(spark, silver, observed)).toMap
      TestListenerBus.drain(sc)
      frames
    } finally sc.removeSparkListener(listener)
    assert(jobs.get() == 0)
    assert(built.size == 12)
    val partitioned = Medallion.gold.flatMap(t => t.partition.map(t.name -> _))
    assert(partitioned.map(_._1) == Seq("fact_sales", "fact_orders", "fact_reviews"))
    for ((fact, part) <- partitioned)
      assert(built(fact).columns.last == part, fact)
  }

  test("a planted null product_id halts the run before gold, with the scan gate's message") {
    fixtures()
    write("olist_order_items_dataset.csv",
      s"""order_id,order_item_id,product_id,seller_id,shipping_limit_date,price,freight_value
         |o1,1,p1,s1,2017-03-05 00:00:00,50.0,5.0
         |o2,1,,s1,2017-04-06 00:00:00,20.0,2.0""".stripMargin)
    val badOut = "/tmp/graft_olist_violation"
    rmTree(badOut)
    val stages = ArrayBuffer.empty[String]
    val e = intercept[IllegalArgumentException] {
      Pipeline.run(spark, csvDir, badOut, onStageComplete = stages += _)
    }
    assert(e.getMessage.contains("order_items.Prod_ID not null (1 violations)"), e.getMessage)
    assert(stages.toSeq == Seq("bronze", "silver"))
    assert(!Files.exists(Paths.get(s"$badOut/gold")))
    // the silver the run wrote fails a gate that scans it with the same message
    val silver = Medallion.silver.map(t => t.name -> spark.read.parquet(s"$badOut/silver/${t.name}")).toMap
    assert(intercept[IllegalArgumentException](Quality.gate(silver)).getMessage == e.getMessage)
    rmTree(badOut)
  }

  test("observed quality checks: the four reference checks, equal to Quality.gate over the silver parquet") {
    fixtures()
    val report = Pipeline.run(spark, csvDir, outDir)
    assert(report.qualityChecks.map(_.name) == Seq("order_items.Ord_ID not null",
      "order_items.Prod_ID not null", "order_reviews.Rev_ID not null",
      "order_reviews.Rev_ID length = 32"))
    val silver = report.silverRows.keys.map(t => t -> spark.read.parquet(s"$outDir/silver/$t")).toMap
    assert(report.qualityChecks == Quality.gate(silver))
  }

  test("the written layout is the declaration: 9 bronze, 8 silver and 12 gold table directories") {
    fixtures()
    val layoutOut = "/tmp/graft_olist_layout"
    rmTree(layoutOut)
    val report = Pipeline.run(spark, csvDir, layoutOut)
    def written(layer: String): Set[String] = {
      val listing = Files.list(Paths.get(s"$layoutOut/$layer"))
      try listing.iterator.asScala.map(_.getFileName.toString).toSet finally listing.close()
    }
    for ((layer, tables) <- Seq("bronze" -> Medallion.bronze, "silver" -> Medallion.silver,
        "gold" -> Medallion.gold))
      assert(written(layer) == tables.map(_.name).toSet, layer)
    assert(Seq(Medallion.bronze, Medallion.silver, Medallion.gold).map(_.map(_.name).distinct.size) ==
      Seq(9, 8, 12))
    assert(report.silverRows.keySet == Medallion.silver.map(_.name).toSet)
    assert(report.goldTables == Medallion.gold.map(_.name).sorted)
    rmTree(layoutOut)
  }

  /** Live threads of a stage's write pool. */
  private def poolThreads(stage: String): Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith(s"pipeline-$stage-")).toSet

  test("failed stage: the write's own exception reaches the caller after every attempt has drained") {
    fixtures()
    val failDir = "/tmp/graft_olist_fail"
    rmTree(failDir)
    Files.createDirectories(Paths.get(failDir))
    Files.writeString(Paths.get(s"$failDir/bronze"), "not a directory")
    // what one write under a regular file throws when run on its own
    val direct = intercept[Exception](Bronze.writeParquet(spark.range(1).toDF(), s"$failDir/bronze/x"))

    val retries = ArrayBuffer.empty[(String, Int, Throwable)]
    val liveAtRetry = ArrayBuffer.empty[Set[Thread]]
    val stages = ArrayBuffer.empty[String]
    val e = intercept[Exception] {
      Pipeline.run(spark, csvDir, failDir, onStageComplete = stages += _,
        onRetry = (stage, attempt, err) => {
          liveAtRetry += poolThreads("bronze")
          retries += ((stage, attempt, err))
        })
    }
    assert(!e.isInstanceOf[ExecutionException])
    assert(e.getClass == direct.getClass, e.toString)
    assert(retries.map(r => (r._1, r._2)).toSeq == Seq("bronze" -> 1), "one retry for two attempts")
    assert(retries.head._3.getClass == direct.getClass)
    assert(liveAtRetry.toSeq == Seq(Set.empty[Thread]), "no write of attempt 1 runs into attempt 2")
    assert(poolThreads("bronze").isEmpty)
    assert(stages.isEmpty)
    rmTree(failDir)
  }

  test("stage attempts: siblings of a failed write finish before the retry; no pool thread survives") {
    val running = new AtomicInteger()
    val runningAtRetry = ArrayBuffer.empty[Int]
    var attempt = 0
    val tasks = (0 until 6).map { i => () =>
      running.incrementAndGet()
      try {
        if (i == 2 && attempt == 1) throw new IllegalStateException("write 2 failed")
        Thread.sleep(200)
        i
      } finally running.decrementAndGet()
    }
    val out = Pipeline.withRetry("s", maxRetries = 2,
      onRetry = (_, _, err) => {
        assert(err.isInstanceOf[IllegalStateException] && err.getMessage == "write 2 failed")
        runningAtRetry += running.get()
      }) {
      attempt += 1
      Pipeline.concurrently(spark, "s")(tasks)
    }
    assert(out == (0 until 6))
    assert(attempt == 2)
    assert(runningAtRetry.toSeq == Seq(0))
    assert(poolThreads("s").isEmpty)

    // every task runs even after one fails, and the first failure is rethrown as is
    val finished = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      Pipeline.concurrently(spark, "s")((0 until 6).map { i => () =>
        if (i == 0) throw new IllegalStateException("first")
        Thread.sleep(100)
        if (i == 5) throw new IllegalStateException("later")
        finished.incrementAndGet()
      })
    }
    assert(e.getMessage == "first")
    assert(finished.get() == 4)
    assert(poolThreads("s").isEmpty)
  }

  /** Runs the pipeline on the fixtures with each stage's jobs under a job
    * group named after it. Returns the job group of every job started during
    * the run, in delivery order, and how many of them had started when each
    * stage completed. */
  private def runRecordingJobs(): (Seq[String], Seq[(String, Int)]) = {
    fixtures()
    val sc = spark.sparkContext
    val groups = ArrayBuffer.empty[String] // job group of each started job, in delivery order
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit = groups.synchronized {
        groups += Option(job.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      }
    }
    val next = Map("bronze" -> "silver", "silver" -> "quality_checks",
      "quality_checks" -> "gold", "gold" -> "after_gold")
    // jobs seen by the listener when each stage completed
    val boundaries = ArrayBuffer.empty[(String, Int)]
    def seen(): Int = { TestListenerBus.drain(sc); groups.synchronized(groups.size) }
    sc.addSparkListener(listener)
    try {
      val before = seen()
      sc.setJobGroup("bronze", "bronze")
      Pipeline.run(spark, csvDir, outDir, onStageComplete = stage => {
        boundaries += stage -> (seen() - before)
        sc.setJobGroup(next(stage), next(stage))
      })
      val after = seen()
      (groups.synchronized(groups.slice(before, after).toSeq), boundaries.toSeq)
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
  }

  test("job groups: every job of a stage carries the group set when that stage began; none after gold") {
    val (jobs, boundaries) = runRecordingJobs()
    var from = 0
    for ((stage, to) <- boundaries) {
      val stageJobs = jobs.slice(from, to)
      assert(stageJobs.forall(_ == stage), s"$stage: $stageJobs")
      from = to
    }
    assert(boundaries.map(_._1) == Seq("bronze", "silver", "quality_checks", "gold"))
    assert(jobs.slice(0, boundaries.head._2).nonEmpty, "bronze ran jobs")
    assert(jobs.size == boundaries.last._2, s"jobs after gold: ${jobs.drop(boundaries.last._2)}")
  }

  test("the quality gate runs no job: none starts between the silver and quality_checks callbacks") {
    val (jobs, boundaries) = runRecordingJobs()
    val at = boundaries.toMap
    assert(at("silver") > at("bronze"), "silver ran jobs")
    assert(at("quality_checks") == at("silver"),
      s"gate jobs: ${jobs.slice(at("silver"), at("quality_checks"))}")
  }

  test("gold dim_date and dim_time are each written as one data file") {
    fixtures()
    Pipeline.run(spark, csvDir, outDir)
    for (dim <- Seq("dim_date", "dim_time")) {
      val listing = Files.list(Paths.get(s"$outDir/gold/$dim"))
      val parts = try listing.iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("part-")).toList finally listing.close()
      assert(parts.size == 1, s"$dim data files: $parts")
    }
  }
}

object PipelineSpec {

  def write(csvDir: String, name: String, content: String): Unit = {
    Files.createDirectories(Paths.get(csvDir))
    Files.writeString(Paths.get(s"$csvDir/$name"), content)
  }

  /** Tiny Olist-shaped CSVs, one file per source table, into `csvDir`. */
  def fixtures(csvDir: String): Unit = {
    val id = "x" * 32
    write(csvDir, "olist_customers_dataset.csv",
      s"""customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state
         |c1,u1,13023,campinas,SP
         |c2,u2,20000,rio de janeiro,RJ""".stripMargin)
    write(csvDir, "olist_orders_dataset.csv",
      s"""order_id,customer_id,order_status,order_purchase_timestamp,order_approved_at,order_delivered_carrier_date,order_delivered_customer_date,order_estimated_delivery_date
         |o1,c1,delivered,2017-03-01 14:30:00,2017-03-01 15:00:00,2017-03-03 09:00:00,2017-03-06 11:00:00,2017-03-10 00:00:00
         |o2,c2,shipped,2017-04-02 09:10:00,2017-04-02 10:00:00,,,2017-04-12 00:00:00""".stripMargin)
    write(csvDir, "olist_order_items_dataset.csv",
      s"""order_id,order_item_id,product_id,seller_id,shipping_limit_date,price,freight_value
         |o1,1,p1,s1,2017-03-05 00:00:00,50.0,5.0
         |o2,1,p1,s1,2017-04-06 00:00:00,20.0,2.0""".stripMargin)
    write(csvDir, "olist_order_payments_dataset.csv",
      s"""order_id,payment_sequential,payment_type,payment_installments,payment_value
         |o1,1,credit_card,3,55.0
         |o2,1,boleto,1,22.0""".stripMargin)
    write(csvDir, "olist_order_reviews_dataset.csv",
      s"""review_id,order_id,review_score,review_comment_title,review_comment_message,review_creation_date,review_answer_timestamp
         |$id,o1,5,great,loved it,2017-03-07 10:00:00,2017-03-08 09:00:00""".stripMargin)
    write(csvDir, "olist_products_dataset.csv",
      s"""product_id,product_category_name,product_name_lenght,product_description_lenght,product_photos_qty,product_weight_g,product_length_cm,product_height_cm,product_width_cm
         |p1,cama_mesa_banho,40,200,2,800,30,10,20""".stripMargin)
    write(csvDir, "olist_sellers_dataset.csv",
      s"""seller_id,seller_zip_code_prefix,seller_city,seller_state
         |s1,1001,sao paulo,SP""".stripMargin)
    write(csvDir, "olist_geolocation_dataset.csv",
      s"""geolocation_zip_code_prefix,geolocation_lat,geolocation_lng,geolocation_city,geolocation_state
         |13023,-22.9,-47.06,campinas,SP
         |13023,-22.91,-47.07,campinas,SP
         |20000,-22.95,-43.2,rio de janeiro,RJ""".stripMargin)
    write(csvDir, "product_category_name_translation.csv",
      s"""product_category_name,product_category_name_english
         |cama_mesa_banho,bed_bath_table""".stripMargin)
  }
}
