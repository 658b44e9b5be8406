package graft

import java.nio.file.{Files, Paths}

import graft.streaming.IncrementalPipeline

/** Incremental ingestion semantics: each landed file processed exactly once. */
class IncrementalSpec extends SparkSuite {

  private val srcDir = "/tmp/graft_incr_src"
  private val outDir = "/tmp/graft_incr_out"

  private def land(name: String, rows: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(srcDir))
    val header = "order_id,customer_id,order_status,order_purchase_timestamp," +
      "order_approved_at,order_delivered_carrier_date,order_delivered_customer_date," +
      "order_estimated_delivery_date"
    Files.writeString(Paths.get(s"$srcDir/$name"), (header +: rows).mkString("\n"))
  }

  test("streaming medallion: second batch appends without reprocessing the first") {
    rmTree(srcDir); rmTree(outDir)

    land("batch1.csv", Seq(
      "o1,c1,delivered,2017-03-01 14:30:00,2017-03-01 15:00:00,,,2017-03-10 00:00:00",
      "o2,c2,shipped,2017-03-02 09:10:00,2017-03-02 10:00:00,,,2017-03-12 00:00:00"))
    IncrementalPipeline.runOrdersAvailableNow(spark, srcDir, outDir)
    val afterFirst = spark.read.parquet(s"$outDir/silver/orders")
    assert(afterFirst.count() == 2)
    assert(afterFirst.filter("Ord_Status = 'Delivered'").count() == 1) // initcap applied

    land("batch2.csv", Seq(
      "o3,c3,invoiced,2017-03-03 11:00:00,2017-03-03 12:00:00,,,2017-03-13 00:00:00"))
    IncrementalPipeline.runOrdersAvailableNow(spark, srcDir, outDir)
    val afterSecond = spark.read.parquet(s"$outDir/silver/orders")
    assert(afterSecond.count() == 3) // appended exactly once, batch1 not re-read
    assert(afterSecond.select("Ord_ID").distinct().count() == 3)
  }

  private val itemsSrc = "/tmp/graft_incr_items_src"
  private val itemsOut = "/tmp/graft_incr_items_out"

  private def landItems(name: String, rows: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(itemsSrc))
    val header = "order_id,order_item_id,product_id,seller_id,shipping_limit_date,price,freight_value"
    Files.writeString(Paths.get(s"$itemsSrc/$name"), (header +: rows).mkString("\n"))
  }

  test("parameterized stream: order_items cleaned (keyed dedup) + appended incrementally") {
    rmTree(itemsSrc); rmTree(itemsOut)
    // o1 has a duplicate Ord_ID row — cleanOrderItems keeps one (reference parity)
    landItems("b1.csv", Seq(
      "o1,1,p1,s1,2017-03-05 00:00:00,10.0,2.0",
      "o1,2,p2,s1,2017-03-05 00:00:00,20.0,2.0",
      "o2,1,p3,s2,2017-03-06 00:00:00,30.0,3.0"))
    IncrementalPipeline.runTableAvailableNow(spark, "order_items", itemsSrc, itemsOut)
    val first = spark.read.parquet(s"$itemsOut/silver/order_items")
    assert(first.count() == 2, "per-batch keyed dedup applied before the sink")
    assert(first.select("Ord_ID").distinct().count() == 2)

    landItems("b2.csv", Seq("o3,1,p4,s3,2017-03-07 00:00:00,40.0,4.0"))
    IncrementalPipeline.runTableAvailableNow(spark, "order_items", itemsSrc, itemsOut)
    val second = spark.read.parquet(s"$itemsOut/silver/order_items")
    assert(second.count() == 3, "second batch appended without reprocessing the first")
  }

  test("partition-level gold refresh rewrites only the targeted year") {
    val s = spark; import s.implicits._
    import java.sql.Timestamp
    def ts(x: String) = Timestamp.valueOf(x)
    val out = "/tmp/graft_gold_refresh"
    rmTree(out)
    def writeSilver(orders: Seq[(String, String, String, Timestamp)], mode: String): Unit = {
      orders.map { case (o, c, st, t) => (o, c, st, t, t, t, t, t) }
        .toDF("Ord_ID", "Cus_ID", "Ord_Status", "Ord_Purchase_Time", "Ord_Approved_At",
          "Ord_Delivered_Carrier_Date", "Ord_Delivered_Customer_Date", "Ord_Estimated_Delivery_Date")
        .write.mode(mode).parquet(s"$out/silver/orders")
      orders.map { case (o, _, _, t) => (o, 1, "p1", "s1", t, 10.0, 1.0) }
        .toDF("Ord_ID", "Ord_Item_ID", "Prod_ID", "Sell_ID", "Shipping_Limit_Date", "Price", "Freight_Value")
        .write.mode(mode).parquet(s"$out/silver/order_items")
      orders.map { case (o, _, _, _) => (o, 1, "credit_card", 1, 11.0) }
        .toDF("Ord_ID", "Payment_Sequential", "Payment_Type", "Payment_Installments", "Payment_Value")
        .write.mode(mode).parquet(s"$out/silver/order_payments")
    }
    writeSilver(Seq(
      ("o1", "c1", "Delivered", ts("2017-03-01 14:30:00")),
      ("o2", "c2", "Shipped", ts("2018-05-02 09:10:00"))), "overwrite")
    // Order_SK is unique after each refresh: the refreshed years continue
    // after the kept partitions' greatest SK instead of restarting at 1
    def assertUniqueSks(): Unit = {
      val f = spark.read.parquet(s"$out/gold/fact_orders")
      val sks = f.select("Order_ID", "Order_SK").collect().map(r => r.getString(0) -> r.getLong(1))
      assert(sks.map(_._2).distinct.length == sks.length, s"duplicate Order_SK: ${sks.sorted.mkString(", ")}")
    }
    IncrementalPipeline.refreshGoldOrderYears(spark, out, Seq(2017, 2018))
    assertUniqueSks()
    val dir2017 = new java.io.File(s"$out/gold/fact_orders/Order_Year=2017")
    val files2017 = dir2017.listFiles().map(f => f.getName -> f.lastModified()).toSet
    assert(spark.read.parquet(s"$out/gold/fact_orders").count() == 2)

    // a late 2018 order arrives — refresh ONLY 2018
    writeSilver(Seq(("o3", "c3", "Invoiced", ts("2018-06-01 10:00:00"))), "append")
    IncrementalPipeline.refreshGoldOrderYears(spark, out, Seq(2018))
    assertUniqueSks()
    val fact = spark.read.parquet(s"$out/gold/fact_orders")
    assert(fact.count() == 3)
    assert(fact.filter("Order_Year = 2018").count() == 2)
    val files2017After = dir2017.listFiles().map(f => f.getName -> f.lastModified()).toSet
    assert(files2017After == files2017, "the untargeted 2017 partition must be untouched")

    // deletion: silver corrected so 2018 has NO orders → the refreshed year's
    // stale partition must disappear (dynamic overwrite alone would keep it)
    writeSilver(Seq(("o1", "c1", "Delivered", ts("2017-03-01 14:30:00"))), "overwrite")
    IncrementalPipeline.refreshGoldOrderYears(spark, out, Seq(2018))
    assertUniqueSks()
    val after = spark.read.parquet(s"$out/gold/fact_orders")
    assert(after.filter("Order_Year = 2018").count() == 0, "deleted year fully removed")
    assert(after.count() == 1, "2017 still served")
  }

  test("quality gate in foreachBatch: a violating batch halts the stream, nothing committed") {
    val src = "/tmp/graft_incr_gate_src"
    val out = "/tmp/graft_incr_gate_out"
    rmTree(src); rmTree(out)
    Files.createDirectories(Paths.get(src))
    val header = "order_id,order_item_id,product_id,seller_id,shipping_limit_date,price,freight_value"
    Files.writeString(Paths.get(s"$src/good.csv"),
      (header +: Seq("o1,1,p1,s1,2017-03-05 00:00:00,10.0,2.0")).mkString("\n"))
    IncrementalPipeline.runTableAvailableNow(spark, "order_items", src, out)
    assert(spark.read.parquet(s"$out/silver/order_items").count() == 1)

    // empty product_id parses as NULL → "order_items.Prod_ID not null" violation → stream fails
    Files.writeString(Paths.get(s"$src/bad.csv"),
      (header +: Seq("o9,1,,s1,2017-03-08 00:00:00,5.0,1.0")).mkString("\n"))
    val e = intercept[Exception] {
      IncrementalPipeline.runTableAvailableNow(spark, "order_items", src, out)
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: rootMessages(x.getCause))
    assert(rootMessages(e).exists(m => m != null && m.contains("quality gate failed")))
    assert(spark.read.parquet(s"$out/silver/order_items").count() == 1,
      "the violating batch must not be committed")
  }

  test("streaming upsert sink: deltas fold additively, exactly once, across waves") {
    import org.apache.spark.sql.functions._
    val src = "/tmp/graft_upsert_src"
    val target = "/tmp/graft_upsert_target"
    val ckpt = "/tmp/graft_upsert_ckpt"
    Seq(src, target, target + "__next", ckpt).foreach(rmTree)
    Files.createDirectories(Paths.get(src))

    // the file-stream source needs flat files in srcDir, so write each wave
    // to a staging dir and move the part file in
    def landFlat(name: String, rows: Seq[(Long, Long, String, Double)]): Unit = {
      import spark.implicits._
      val stage = s"$src-stage"
      rmTree(stage)
      rows.toDF("event_id", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$src/$name"))
      rmTree(stage)
    }

    landFlat("wave1.parquet", Seq(
      (1L, 10L, "click", 1.50), (2L, 10L, "view", 2.25), (3L, 20L, "click", 4.00)))
    IncrementalPipeline.upsertUserProfilesAvailableNow(spark, src, target, ckpt)
    val v1 = spark.read.parquet(target).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[java.math.BigDecimal]("total_value").toPlainString)).toSet
    assert(v1 == Set((10L, 2L, "3.75"), (20L, 1L, "4.00")))

    landFlat("wave2.parquet", Seq(
      (4L, 10L, "click", 0.25), (5L, 30L, "view", 9.99)))
    IncrementalPipeline.upsertUserProfilesAvailableNow(spark, src, target, ckpt)
    val v2 = spark.read.parquet(target).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[java.math.BigDecimal]("total_value").toPlainString)).toSet
    assert(v2 == Set((10L, 3L, "4.00"), (20L, 1L, "4.00"), (30L, 1L, "9.99")),
      "wave-2 deltas fold onto wave-1 totals without reprocessing wave 1")

    // a re-run with no new files must be a no-op (exactly-once folding)
    IncrementalPipeline.upsertUserProfilesAvailableNow(spark, src, target, ckpt)
    val v3 = spark.read.parquet(target).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[java.math.BigDecimal]("total_value").toPlainString)).toSet
    assert(v3 == v2, "no new files -> no state change")

    // crash recovery: simulate dying between delete and rename — the tmp
    // snapshot (with _SUCCESS) exists, the target does not; the next batch
    // (same checkpoint lineage) must first complete the swap, then fold its
    // own wave on top
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(target + "__next"), true)
    assert(fs.rename(new org.apache.hadoop.fs.Path(target),
      new org.apache.hadoop.fs.Path(target + "__next")), "fixture: stage the crash state")
    landFlat("wave3.parquet", Seq((6L, 20L, "view", 1.00)))
    IncrementalPipeline.upsertUserProfilesAvailableNow(spark, src, target, ckpt)
    val v5 = spark.read.parquet(target).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[java.math.BigDecimal]("total_value").toPlainString)).toSet
    assert(v5 == Set((10L, 3L, "4.00"), (20L, 2L, "5.00"), (30L, 1L, "9.99")),
      "recovery completes the interrupted swap, then folds the new wave")

    // checkpoint-lineage loss: a FRESH checkpoint replays everything as its
    // batch 0, bundling already-folded and new data indistinguishably — the
    // sink must fail loudly (restore the checkpoint or rebuild the target),
    // never silently skip or double-fold
    rmTree(ckpt)
    val e = intercept[Exception] {
      IncrementalPipeline.upsertUserProfilesAvailableNow(spark, src, target, ckpt)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("checkpoint lineage mismatch")))
    val v6 = spark.read.parquet(target).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[java.math.BigDecimal]("total_value").toPlainString)).toSet
    assert(v6 == v5, "a refused fold must leave the target untouched")
  }

  test("streaming upsert sink: torn target is replaced from a committed snapshot or fails loudly") {
    val src = "/tmp/graft_upsert2_src"
    val target = "/tmp/graft_upsert2_target"
    val ckpt = "/tmp/graft_upsert2_ckpt"
    Seq(src, target, target + "__next", target + "__old", ckpt).foreach(rmTree)
    Files.createDirectories(Paths.get(src))
    def landFlat(name: String, rows: Seq[(Long, Long, String, Double)]): Unit = {
      import spark.implicits._
      val stage = s"$src-stage"
      rmTree(stage)
      rows.toDF("event_id", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$src/$name"))
      rmTree(stage)
    }
    def state(): Set[(Long, Long, String)] = spark.read.parquet(target).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[java.math.BigDecimal]("total_value").toPlainString)).toSet

    landFlat("wave1.parquet", Seq((1L, 10L, "click", 1.00), (2L, 20L, "view", 2.00)))
    IncrementalPipeline.upsertUserProfilesAvailableNow(spark, src, target, ckpt)
    assert(state() == Set((10L, 1L, "1.00"), (20L, 1L, "2.00")))

    // ADVICE scenario: crash midway through removing the old target — the tmp
    // snapshot is committed, the target dir survives PARTIALLY (data files
    // with valid lineage stamps, no _SUCCESS). exists() alone would fold onto
    // the partial history and silently lose rows; the marker check must
    // replace it from tmp instead.
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(target),
      new org.apache.hadoop.fs.Path(target + "__next")), "fixture: stage committed tmp")
    Files.createDirectories(Paths.get(target))
    val aPart = new java.io.File(target + "__next").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(aPart.toPath, Paths.get(target, aPart.getName))
    landFlat("wave2.parquet", Seq((3L, 10L, "click", 0.50)))
    IncrementalPipeline.upsertUserProfilesAvailableNow(spark, src, target, ckpt)
    assert(state() == Set((10L, 2L, "1.50"), (20L, 1L, "2.00")),
      "torn target replaced from the committed tmp, then the new wave folds once")

    // torn target with NO committed snapshot anywhere: both silent options
    // lose rows, so the sink must refuse to fold
    fs.delete(new org.apache.hadoop.fs.Path(target, "_SUCCESS"), false)
    landFlat("wave3.parquet", Seq((4L, 30L, "view", 9.00)))
    val e = intercept[Exception] {
      IncrementalPipeline.upsertUserProfilesAvailableNow(spark, src, target, ckpt)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("torn state")))
  }
}
