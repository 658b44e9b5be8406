package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{Bronze, Bucketing, Layout, RelOps, Skew, Tables}
import graft.streaming.Events

/** Functional tests for the q101-q110 scale-mechanics surface. Each operator
  * whose oracle is "same output as the plain form" is asserted against that
  * plain form computed directly here; the plan-shape properties live in
  * PlanSpec.
  */
class ScaleOpsSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(r => (0 until r.length).map(i => String.valueOf(r.get(i))))

  test("q101 salted join output is row-identical to the unsalted join") {
    val salted = Skew.saltedSupplierRevenue(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val plain = li.join(Tables.supplier(spark, dir),
        li("l_suppkey") === col("s_suppkey"))
      .groupBy("s_suppkey", "s_name")
      .agg(count(lit(1)).as("n_items"),
        engine.Dec.sumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy("s_suppkey")
    assert(rows(salted) == rows(plain))
    assert(!salted.columns.contains("__salt"))
  }

  test("q102 key shares: ppm shares are exact and bounded") {
    val shares = Skew.lineitemKeyShares(spark, dir).collect()
    assert(shares.nonEmpty && shares.length <= 10)
    val ppm = shares.map(_.getAs[Long]("share_ppm"))
    assert(ppm.sum <= 1000000L, "top-N shares cannot exceed the whole")
    assert(ppm.forall(p => p >= 0 && p <= 1000000L))
    val counts = shares.map(_.getAs[Long]("n_rows"))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b }, "descending by count")
  }

  test("q103 ngram novelty: the first document is fully novel; ratios bounded") {
    val nov = ext.TextStats.ngramNovelty(spark, dir).collect()
    assert(nov.nonEmpty)
    val first = nov.minBy(_.getAs[Long]("doc_id"))
    assert(first.getAs[Long]("n_novel") == first.getAs[Long]("n_shingles"),
      "the min-doc_id document's shingles all first-occur there")
    assert(first.getAs[Long]("novelty_ppm") == 1000000L)
    assert(nov.forall { r =>
      val n = r.getAs[Long]("n_shingles"); val k = r.getAs[Long]("n_novel")
      k >= 0 && k <= n && r.getAs[Long]("novelty_ppm") == k * 1000000L / n
    })
  }

  test("q104 event bigrams: pair count identity (events - users with events)") {
    val pairs = Events.eventBigrams(spark, dir)
      .agg(sum("n_pairs")).collect()(0).getLong(0)
    val ev = Tables.events(spark, dir)
    val nEvents = ev.count()
    val nUsers = ev.select("user_id").distinct().count()
    assert(pairs == nEvents - nUsers,
      "each user with k events contributes exactly k-1 transitions")
  }

  test("q105 merge upsert: action counts match the change batch; keeps untouched rows") {
    val cust = Tables.customer(spark, dir)
    val nCust = cust.count()
    val nUpd = cust.filter(col("c_custkey") % 7 === 0).count()
    val nIns = cust.filter(col("c_custkey") % 13 === 0).count()
    val merged = RelOps.customerMerge(spark, dir)
    val byAction = merged.groupBy("action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byAction.getOrElse("update", 0L) == nUpd)
    assert(byAction.getOrElse("insert", 0L) == nIns)
    assert(byAction.getOrElse("keep", 0L) == nCust - nUpd)
    assert(merged.count() == nCust + nIns)
    // an updated row carries the new balance, a kept row the original
    val orig = cust.filter(col("c_custkey") === 7).select("c_acctbal")
      .collect()(0).getDouble(0)
    val upd = merged.filter(col("c_custkey") === 7).select("c_acctbal")
      .collect()(0).getDouble(0)
    assert(upd == orig + 100.0)
  }

  test("mergeUpsert assigns the source value on match even when it is NULL (MERGE semantics)") {
    val s = spark; import s.implicits._
    val target = Seq((1L, "keep-me", 10.0), (2L, "stale", 20.0))
      .toDF("k", "comment", "amount")
    val source = Seq((2L, Option.empty[String], 25.0), (3L, Some("new"), 30.0))
      .toDF("k", "comment", "amount")
    val merged = engine.RelOps.mergeUpsert(target, source, "k")
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("comment"),
        r.getAs[Double]("amount"), r.getAs[String]("action"))).toSet
    assert(merged == Set(
      (1L, "keep-me", 10.0, "keep"),
      (2L, null, 25.0, "update"), // the source's NULL clears the field
      (3L, "new", 30.0, "insert")))
  }

  test("q106 vector ops: L1 mass equals q81's code_sum; stats internally consistent") {
    val ops = ext.Similarity.vectorOps(spark, dir)
    val quant = ext.Similarity.sq8Quantize(spark, dir)
      .select(col("vec_id"), col("code_sum"), col("n_dims"))
    val joined = ops.join(quant, "vec_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getAs[Long]("l1_code") == r.getAs[Long]("code_sum"),
        "nonnegative codes: L1 mass == plain sum")
      val d = r.getAs[Int]("n_dims")
      assert(r.getAs[Int]("argmax_dim") >= 1 && r.getAs[Int]("argmax_dim") <= d)
      assert(r.getAs[Int]("n_hi") + r.getAs[Int]("n_zero") <= d)
      assert(r.getAs[Long]("total_variation") >= 0L)
    }
  }

  test("q107 partition-pruned scan matches the direct computation") {
    val viaLayout = Layout.partitionPrunedScan(spark, dir)
    val direct = Tables.orders(spark, dir)
      .filter(year(col("o_orderdate")) === 1997)
      .groupBy(month(col("o_orderdate")).cast("int").as("o_month"))
      .agg(count(lit(1)).as("n_orders"), engine.Dec.sum2(col("o_totalprice")).as("revenue"))
      .orderBy("o_month")
    assert(rows(viaLayout) == rows(direct))
  }

  test("q108 ORC roundtrip matches the parquet-direct rollup") {
    val viaOrc = Bronze.orcRoundtripCustomer(spark, dir)
    val direct = Tables.customer(spark, dir)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        engine.Dec.sum2(col("c_acctbal")).as("segment_balance"))
      .orderBy("c_mktsegment")
    assert(rows(viaOrc) == rows(direct))
  }

  test("q109 bucketed join matches the plain join+rollup") {
    val bucketed = Bucketing.bucketedOrderRevenue(spark, dir, numBuckets = 8)
    val o = Tables.orders(spark, dir)
    val plain = o.join(Tables.lineitem(spark, dir), o("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey", "o_totalprice")
      .agg(count(lit(1)).as("n_items"),
        engine.Dec.sumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy("o_orderkey")
    assert(rows(bucketed) == rows(plain))
  }

  test("q115 length-biased sample: keep probability proportional to token count") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mx = docs.values.max
    val kept = ext.Sampling.lengthBiasedSample(spark, dir).collect()
    assert(kept.nonEmpty && kept.length < docs.size, "a strict, non-empty subsample")
    // the longest document is always kept (P = 1, u28 < 2^28 strictly)
    val longest = docs.maxBy(_._2)._1
    assert(kept.exists(_.getAs[Long]("doc_id") == longest))
    // determinism: same members on a re-run
    val again = ext.Sampling.lengthBiasedSample(spark, dir).collect()
    assert(kept.map(_.getAs[Long]("doc_id")).toSeq ==
      again.map(_.getAs[Long]("doc_id")).toSeq)
    assert(kept.forall { r =>
      r.getAs[Long]("sample_key") * mx < r.getAs[Long]("n_tokens") * 268435456L
    })
  }

  test("q119 cooccurrence: pairs drawn from the top vocabulary, counts bounded") {
    val out = ext.TextStats.tokenCooccurrence(spark, dir).collect()
    assert(out.nonEmpty && out.length <= 20)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
    val vocab = toks.groupBy("tok").count()
      .orderBy(col("count").desc, col("tok")).limit(50)
      .collect().map(_.getString(0)).toSet
    val nDocs = Tables.documents(spark, dir).count()
    out.foreach { r =>
      assert(vocab.contains(r.getAs[String]("tok_a")) &&
        vocab.contains(r.getAs[String]("tok_b")))
      assert(r.getAs[String]("tok_a") < r.getAs[String]("tok_b"))
      assert(r.getAs[Long]("n_docs") >= 1 && r.getAs[Long]("n_docs") <= nDocs)
    }
    val counts = out.map(_.getAs[Long]("n_docs"))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
  }

  test("q120 sketch quality: estimate and exact sides are internally consistent with q61") {
    val sq = ext.Dedup.sketchQuality(spark, dir).collect()
    assert(sq.nonEmpty)
    sq.foreach { r =>
      val eq = r.getAs[Int]("n_eq_slots")
      assert(eq >= 0 && eq <= 12)
      assert(r.getAs[Long]("est_ppm") == eq.toLong * 1000000L / 12L)
      assert(r.getAs[Long]("abs_err_ppm") ==
        math.abs(r.getAs[Long]("est_ppm") - r.getAs[Long]("jaccard_ppm")))
    }
    // same candidate-pair set and exact-jaccard values as q61
    val fromQ61 = ext.Dedup.minhashJaccard(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[Long]("n_common") * 1000000L /
          (r.getAs[Long]("n_a") + r.getAs[Long]("n_b") - r.getAs[Long]("n_common")))).toMap
    assert(sq.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet == fromQ61.keySet)
    sq.foreach { r =>
      assert(r.getAs[Long]("jaccard_ppm") ==
        fromQ61((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))))
    }
  }

  test("q117 snapshot diff: statuses partition the union of both versions") {
    val out = ext.TextStats.snapshotDiff(spark, dir).collect()
      .map(r => r.getAs[String]("status") -> r.getAs[Long]("n_docs")).toMap
    val n = Tables.documents(spark, dir).count()
    val v1 = Tables.documents(spark, dir).filter(col("doc_id") % 3 =!= 2).count()
    val v2 = Tables.documents(spark, dir).filter(col("doc_id") % 3 =!= 0).count()
    assert(out.values.sum == v1 + v2 - (out.getOrElse("unchanged", 0L) + out.getOrElse("changed", 0L)),
      "every doc in either version appears in exactly one status")
    assert(out.getOrElse("added", 0L) == n - v1, "v2-only docs (doc_id % 3 == 0 removed from v1)")
    assert(out.getOrElse("removed", 0L) == n - v2)
    assert(out.getOrElse("changed", 0L) > 0, "the amended-text path must be non-empty")
  }

  test("q118 per-group top-k: exactly k rows per language, correctly ranked") {
    val out = ext.TextStats.topKPerLang(spark, dir).collect()
    val byLang = out.groupBy(_.getAs[String]("lang"))
    byLang.foreach { case (lang, rows) =>
      assert(rows.length <= 3, lang)
      assert(rows.map(_.getAs[Int]("rk")).sorted.toSeq == (1 to rows.length))
      val chars = rows.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("n_chars"))
      assert(chars.zip(chars.tail).forall { case (a, b) => a >= b }, lang)
    }
    // rank-1 docs are the true per-language maxima
    val maxima = Tables.documents(spark, dir).groupBy("lang")
      .agg(max("n_chars").as("mx")).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("mx")).toMap
    byLang.foreach { case (lang, rows) =>
      assert(rows.find(_.getAs[Int]("rk") == 1).get.getAs[Long]("n_chars") == maxima(lang))
    }
  }

  test("q116 source dup rates: totals reconcile with the corpus-wide exact dedup") {
    val rates = ext.TextStats.sourceDupRates(spark, dir).collect()
    assert(rates.nonEmpty)
    rates.foreach { r =>
      val n = r.getAs[Long]("n_docs"); val d = r.getAs[Long]("n_distinct")
      assert(d >= 1 && d <= n)
      assert(r.getAs[Long]("n_dup_docs") == n - d)
      assert(r.getAs[Long]("dup_ppm") == (n - d) * 1000000L / n)
    }
    val totalDocs = rates.map(_.getAs[Long]("n_docs")).sum
    assert(totalDocs == Tables.documents(spark, dir).count())
  }

  test("outputs are shuffle-partition invariant (4 vs 13 partitions)") {
    val names = Seq("q46_hash_sample", "q47_stratified_sample",
      "q103_ngram_novelty", "q115_length_biased_sample", "q116_source_dup_rates")
    val prior = spark.conf.get("spark.sql.shuffle.partitions")
    for (n <- names) {
      val fn = Catalog.queries(n)
      spark.conf.set("spark.sql.shuffle.partitions", "13")
      val a = try rows(fn(spark, dir))
        finally spark.conf.set("spark.sql.shuffle.partitions", prior)
      val b = rows(fn(spark, dir))
      assert(a == b, s"$n changed output across partition counts")
    }
  }

  test("q114 interval join matches a brute-force overlap recomputation") {
    val out = Events.sessionErrorOverlap(spark, dir).collect()
    assert(out.nonEmpty)
    // brute-force check: for each output session, recount overlapping error
    // hours directly from the raw events
    val errHours = Tables.events(spark, dir)
      .filter(col("event_type") === "error")
      .select(expr("unix_timestamp(ts) div 3600"))
      .distinct().collect().map(_.getLong(0)).toSet
    out.foreach { r =>
      val lo = r.getAs[Long]("s_start") / 3600
      val hi = r.getAs[Long]("s_end") / 3600
      val expected = (lo to hi).count(errHours.contains)
      assert(r.getAs[Long]("n_error_hours") == expected,
        s"session ${r.getAs[Long]("user_id")}/${r.getAs[Long]("session_idx")}")
      assert(expected > 0, "inner join must only emit overlapping sessions")
    }
    // completeness: EVERY session with an overlapping error hour must be
    // emitted — derive the full session list independently from q36's output
    val allSessions = Events.sessionize(spark, dir).collect().map { r =>
      val s = r.getAs[java.sql.Timestamp]("session_start").getTime / 1000
      (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx"),
        s, s + r.getAs[Long]("duration_s"))
    }
    val expectedOverlapping = allSessions.count { case (_, _, s, e) =>
      (s / 3600 to e / 3600).exists(errHours.contains)
    }
    assert(out.length == expectedOverlapping,
      "an overlapping session is missing from the interval-join output")
  }

  test("q113 scd2: one open row per surviving key; closed rows for changed+departed") {
    val cust = Tables.customer(spark, dir)
    val nCust = cust.count()
    val nDeparted = cust.filter(col("c_custkey") % 11 === 0).count()
    val nChanged = cust.filter(col("c_custkey") % 5 === 0 && col("c_custkey") % 11 =!= 0).count()
    val nNew = cust.filter(col("c_custkey") % 13 === 0).count()
    val hist = engine.Scd2.customerScd2(spark, dir)
    assert(hist.filter(!col("is_current")).count() == nChanged + nDeparted,
      "closed = changed + departed")
    assert(hist.filter(col("is_current")).count() == nCust - nDeparted + nNew,
      "open = survivors + re-entries")
    assert(hist.count() == nCust + nChanged + nNew)
    val dupOpen = hist.filter(col("is_current")).groupBy("c_custkey").count()
      .filter(col("count") > 1).count()
    assert(dupOpen == 0, "at most one open version per key")
  }

  test("q111 CSV roundtrip matches the parquet-direct rollup") {
    val viaCsv = Bronze.csvRoundtripPart(spark, dir)
    val direct = Tables.part(spark, dir)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_parts"),
        engine.Dec.sum2(col("p_retailprice")).as("brand_value"),
        max(col("p_size")).as("max_size"))
      .orderBy("p_brand")
    assert(rows(viaCsv) == rows(direct))
  }

  test("q112 JSONL roundtrip matches the parquet-direct rollup") {
    val viaJson = Bronze.jsonlRoundtripEvents(spark, dir)
    val direct = Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("event_id")).as("min_event_id"),
        max(col("event_id")).as("max_event_id"),
        engine.Dec.sum2(col("value")).as("total_value"))
      .orderBy("event_type")
    assert(rows(viaJson) == rows(direct))
  }

  test("q110 user paths: bounded path length, user conservation, deterministic") {
    val paths = Events.userPaths(spark, dir).collect()
    assert(paths.nonEmpty && paths.length <= 20)
    assert(paths.forall(_.getAs[String]("path").split(">").length <= 8))
    val nUsers = Tables.events(spark, dir).select("user_id").distinct().count()
    assert(paths.map(_.getAs[Long]("n_users")).sum <= nUsers)
    val again = Events.userPaths(spark, dir).collect()
    assert(paths.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("q121 dynamic pruning matches the direct derived-year join (non-vacuously)") {
    val pruned = Layout.dynamicPrunedJoin(spark, dir)
    val dim = Tables.lineitem(spark, dir)
      .groupBy(year(col("l_shipdate")).cast("int").as("o_year"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returns"))
      .withColumn("return_ppm", expr("n_returns * 1000000L div n_items"))
      .filter(col("return_ppm") >= 200000L)
      .select("o_year", "return_ppm")
    val plain = Tables.orders(spark, dir)
      .withColumn("o_year", year(col("o_orderdate")).cast("int"))
      .join(dim, Seq("o_year"))
      .groupBy("o_year", "return_ppm")
      .agg(count(lit(1)).as("n_orders"),
        engine.Dec.sum2(col("o_totalprice")).as("revenue"))
      .orderBy("o_year")
    val got = rows(pruned)
    assert(got.nonEmpty, "no year cleared the return-share threshold — fixture drift")
    assert(got == rows(plain))
  }

  test("q122 fixed-size sample: exactly k docs, the k smallest priority keys") {
    val k = 10
    val got = ext.Sampling.fixedSizeSample(spark, dir, k = k).collect()
    assert(got.length == k)
    val expected = Tables.documents(spark, dir)
      .select(col("doc_id"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 7), 16, 10)
          .cast("long").as("key"))
      .collect().map(r => (r.getLong(1), r.getLong(0))).sorted.take(k)
      .map(_._2).toSeq
    assert(got.map(_.getAs[Long]("doc_id")).toSeq == expected)
  }

  test("q123 exact-moment corr: perfect linear fixture is exactly 1000000") {
    import spark.implicits._
    val li = (1 to 12).map(m =>
      ("A", java.sql.Timestamp.valueOf(f"2020-$m%02d-15 00:00:00"), m.toDouble))
      .toDF("l_returnflag", "l_shipdate", "l_quantity")
    val out = engine.Analytics.corrSlope(li).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("corr_e6") == 1000000L)
    assert(out.head.getAs[Long]("slope_e6") == 1000000L)
    // real data: correlation stays inside [-1, 1] after the e6 scaling
    val real = engine.Analytics.corrSlope(Tables.lineitem(spark, dir)).collect()
    assert(real.nonEmpty)
    assert(real.forall(r => math.abs(r.getAs[Long]("corr_e6")) <= 1000000L))
    // zero-variance group (single row): NULL, not a NaN/Inf cast divergence
    val z = engine.Analytics.corrSlope(
      Seq(("Z", java.sql.Timestamp.valueOf("2020-01-15 00:00:00"), 5.0))
        .toDF("l_returnflag", "l_shipdate", "l_quantity")).collect().head
    assert(z.isNullAt(z.fieldIndex("corr_e6")) && z.isNullAt(z.fieldIndex("slope_e6")))
  }

  test("q124 k-anonymity: planted classes flag exactly the sub-k ones") {
    import spark.implicits._
    val df = ((1 to 5).map(_ => (1, "AUTO", 500.0)) ++
      (1 to 2).map(_ => (1, "BIKE", 1500.0)) ++
      Seq((2, "AUTO", -100.0)))
      .toDF("c_nationkey", "c_mktsegment", "c_acctbal")
    val out = engine.Quality.kAnonymity(df, k = 5).collect()
      .map(r => r.getAs[Int]("c_nationkey") -> r).toMap
    val n1 = out(1)
    assert(n1.getAs[Long]("n_groups") == 2 && n1.getAs[Long]("risky_groups") == 1)
    assert(n1.getAs[Long]("risky_customers") == 2 && n1.getAs[Long]("n_customers") == 7)
    assert(n1.getAs[Long]("risky_ppm") == 2L * 1000000L / 7L)
    val n2 = out(2) // single negative-balance customer: floor bands to -1, fully risky
    assert(n2.getAs[Long]("risky_ppm") == 1000000L && n2.getAs[Long]("n_groups") == 1)
  }

  test("q125 edit distance: planted identical docs verify at sim 1000000; bounds hold") {
    import spark.implicits._
    val tmp = "/tmp/graft_test_docs_ed"
    rmTree(tmp)
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "totally different content words here now"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val ed = ext.Dedup.editDistancePairs(spark, tmp).collect()
    val p12 = ed.find(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    assert(p12.nonEmpty, "identical docs must surface as an LSH candidate pair")
    assert(p12.get.getAs[Long]("lev") == 0L && p12.get.getAs[Long]("sim_ppm") == 1000000L)
    val real = ext.Dedup.editDistancePairs(spark, dir).collect()
    assert(real.forall { r =>
      val l = r.getAs[Long]("lev"); val m = r.getAs[Long]("max_len")
      l >= 0 && l <= m && r.getAs[Long]("sim_ppm") == (m - l) * 1000000L / m
    })
  }

  test("q126 BPE pairs: hand-counted fixture; rejects non-[a-z] and 1-char words") {
    import spark.implicits._
    val tmp = "/tmp/graft_test_docs_bpe"
    rmTree(tmp)
    Seq((1L, "aaa bb aaa"), (2L, "ab AB x9 a"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = ext.TextStats.bpePairs(spark, tmp).collect()
      .map(r => r.getAs[String]("pair") -> r.getAs[Long]("n_pair")).toSeq
    assert(got == Seq("aa" -> 4L, "ab" -> 2L, "bb" -> 1L))
  }

  test("q127 temperature mixture: exact integer weights, shares conserve") {
    val m = ext.Sampling.temperatureMixture(spark, dir).collect()
    assert(m.nonEmpty)
    assert(m.forall { r =>
      r.getAs[Long]("w_milli") ==
        math.round(math.sqrt(r.getAs[Long]("n_docs").toDouble) * 1000)
    })
    val shares = m.map(_.getAs[Long]("share_ppm"))
    assert(shares.sum <= 1000000L && shares.forall(s => s > 0 && s < 1000000L))
    // temperature flattens: the weight spread is the SQRT of the size spread
    val byN = m.sortBy(_.getAs[Long]("n_docs"))
    val sizeRatio = byN.last.getAs[Long]("n_docs").toDouble / byN.head.getAs[Long]("n_docs")
    val wRatio = byN.last.getAs[Long]("w_milli").toDouble / byN.head.getAs[Long]("w_milli")
    assert(wRatio <= sizeRatio / wRatio * 1.01, "weights must grow sub-linearly in size")
  }

  test("q128 expectations: planted violations are counted per rule") {
    import spark.implicits._
    val df = Seq(
      (Option.empty[Long], 10.0, "O"),   // null key
      (Some(1L), 20.0, "O"),
      (Some(1L), -5.0, "X"),             // dup key + negative price + bad status
      (Some(2L), 30.0, "F"))
      .toDF("k", "price", "status")
    val out = engine.Quality.expect(df, Seq(
      "k_not_null" -> sum(when(col("k").isNull, 1L).otherwise(0L)),
      "k_unique" -> (count(col("k")) - countDistinct(col("k"))),
      "price_nonneg" -> sum(when(col("price") < 0, 1L).otherwise(0L)),
      "status_domain" -> sum(when(!col("status").isin("O", "F"), 1L).otherwise(0L))))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out("k_not_null") == ((1L, false)))
    assert(out("k_unique") == ((1L, false)))
    assert(out("price_nonneg") == ((1L, false)))
    assert(out("status_domain") == ((1L, false)))
    // the real orders table passes its whole suite
    val real = engine.Quality.orderExpectations(spark, dir).collect()
    assert(real.length == 5 && real.forall(_.getAs[Boolean]("passed")))
  }

  test("q129 fingerprint: equals a locally-recomputed XOR; order-independent") {
    val got = engine.Quality.tableFingerprint(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_rows"), r.getAs[Long]("fingerprint"))).toMap
    // recompute the same 60-bit row hashes row-by-row on the driver and fold
    // with XOR in a DIFFERENT (collection) order
    val rows = Tables.orders(spark, dir).select(
      col("o_orderpriority"),
      conv(substring(md5(concat_ws("|",
        col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
        col("o_orderstatus"), col("o_totalprice").cast(engine.Dec.D18_2).cast("string"),
        col("o_orderdate").cast("date").cast("string"))), 1, 15), 16, 10)
        .cast("long").as("fp"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val local = rows.reverse.groupBy(_._1).map { case (k, vs) =>
      k -> (vs.length.toLong, vs.map(_._2).foldLeft(0L)(_ ^ _)) }
    assert(got == local)
  }

  test("q130 boilerplate: planted common shingle flagged, unique tails are not") {
    import spark.implicits._
    val tmp = "/tmp/graft_test_docs_boiler"
    rmTree(tmp)
    // 150 docs: unique-shingle df (1/150 ≈ 6667 ppm) sits BELOW the 1%
    // threshold, the shared header (df = 150) far above it
    (1 to 150).map(i => (i.toLong, s"common header line u${i}a u${i}b u${i}c"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = ext.TextStats.boilerplateShare(spark, tmp).collect()
    assert(out.length == 150)
    // per doc: 4 shingles, exactly "common header line" is boilerplate
    assert(out.forall(r => r.getAs[Long]("n_shingles") == 4L &&
      r.getAs[Long]("n_boiler") == 1L &&
      r.getAs[Long]("boiler_ppm") == 250000L))
  }

  test("q133 rolling distinct: WAU bounds and a brute-force day recompute") {
    val out = engine.RelOps.rollingDistinctUsers(spark, dir).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[Long]("wau") >= r.getAs[Long]("dau")),
      "a day's actives are a subset of its trailing week's actives")
    // brute-force one day: distinct users over [day-6, day]
    val probe = out(out.length / 2).getAs[Long]("day")
    val brute = Tables.events(spark, dir)
      .select(expr("unix_timestamp(ts) div 86400").as("day"), col("user_id"))
      .filter(col("day") >= probe - 6 && col("day") <= probe)
      .select("user_id").distinct().count()
    assert(out.find(_.getAs[Long]("day") == probe).get.getAs[Long]("wau") == brute)
  }

  test("q134 triangles: planted K3 counted once per vertex; corner sum divisible by 3") {
    import spark.implicits._
    val tmp = "/tmp/graft_test_docs_tri"
    rmTree(tmp)
    // three identical docs form K3 (one triangle); the isolated near-pair
    // (4,5) and the singleton (6) contribute none
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    Seq((1L, dup), (2L, dup), (3L, dup),
      (4L, "totally different words appear here now indeed"),
      (5L, "totally different words appear here now indeed"),
      (6L, "nothing shares shingles with this one at all"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = ext.Dedup.candidateTriangles(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_triangles")).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // real corpus: per-vertex memberships always sum to 3 x #triangles
    val real = ext.Dedup.candidateTriangles(spark, dir).collect()
    assert(real.map(_.getAs[Long]("n_triangles")).sum % 3 == 0)
  }

  test("q135 referential integrity: planted orphan counted, NULL key is not") {
    import spark.implicits._
    val child = Seq(Some(1L), Some(2L), Some(99L), Option.empty[Long]).toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val r = engine.Quality.fkOrphans("t.fk->p", child, "fk", parent, "pk").collect().head
    assert(r.getAs[Long]("n_rows") == 4L && r.getAs[Long]("n_orphans") == 1L)
    assert(r.getAs[Long]("orphan_ppm") == 250000L)
    // the star fixture itself is referentially clean
    val real = engine.Quality.referentialIntegrity(spark, dir).collect()
    assert(real.length == 4 && real.forall(_.getAs[Long]("n_orphans") == 0L))
  }

  test("q136 json keys: stable producer -> full coverage of the single key") {
    val out = engine.RelOps.jsonKeyHistogram(spark, dir).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[String]("json_key") == "k" &&
      r.getAs[Long]("coverage_ppm") == 1000000L))
  }

  test("q138 canonical selection: exactly one canonical per cluster; quality beats length beats id") {
    val out = ext.Dedup.canonicalSelection(spark, dir).collect()
    if (out.nonEmpty) {
      val byCluster = out.groupBy(_.getAs[Long]("cluster_id"))
      byCluster.values.foreach { grp =>
        assert(grp.count(_.getAs[Boolean]("is_canonical")) == 1)
        val canon = grp.find(_.getAs[Boolean]("is_canonical")).get
        val key = (r: org.apache.spark.sql.Row) =>
          (!r.getAs[Boolean]("passes_quality"), -r.getAs[Long]("n_chars"),
            r.getAs[Long]("doc_id"))
        assert(grp.map(key).min == key(canon),
          "canonical must be the (quality, length, id)-best member")
        assert(grp.forall(_.getAs[Long]("canonical_id") ==
          canon.getAs[Long]("doc_id")))
      }
    }
  }

  test("q139 bm25: scores positive and descending, matched terms within the query set") {
    val out = ext.TextStats.bm25Retrieval(spark, dir).collect()
    assert(out.nonEmpty && out.length <= 15)
    val scores = out.map(_.getAs[Double]("score"))
    assert(scores.forall(_ > 0))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, "descending by score")
    assert(out.forall { r =>
      val m = r.getAs[Int]("n_terms_matched")
      m >= 1 && m <= ext.TextStats.Bm25QueryTerms.length
    })
  }

  test("q140 split leakage: split counts partition each cluster; leak flag consistent") {
    val out = ext.Dedup.splitLeakage(spark, dir).collect()
    out.foreach { r =>
      val (n, tr, va, te) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_train"),
        r.getAs[Long]("n_val"), r.getAs[Long]("n_test"))
      assert(n >= 2 && tr + va + te == n, "splits must partition the cluster")
      val spanned = Seq(tr, va, te).count(_ > 0)
      assert(r.getAs[Boolean]("leaks") == (spanned > 1))
    }
  }

  test("q141 count-min estimates never underestimate and are exact-count-consistent") {
    val out = ext.TextStats.countMinSketch(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("cms_estimate") >= r.getAs[Long]("exact_count"),
        "CMS is an overestimate sketch")
      assert(r.getAs[Long]("over_ppm") >= 0)
    }
    // the exact counts must agree with a direct token count
    val direct = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach(r => assert(direct(r.getAs[String]("term")) == r.getAs[Long]("exact_count")))
  }

  test("q142 debounce: bursts partition each (user, type) stream; kept id is the min") {
    val out = Events.eventDebounce(spark, dir)
    val totalBurstEvents = out.agg(sum("n_events")).collect()(0).getLong(0)
    assert(totalBurstEvents == Tables.events(spark, dir).count())
    val bad = out.filter(col("n_suppressed") =!= col("n_events") - 1).count()
    assert(bad == 0)
    // within a burst every event is within gap of its predecessor, so a
    // multi-event burst's span must be positive
    assert(out.filter(col("n_events") > 1 && col("span_s") < 0).count() == 0)
  }

  test("q143 rank ensemble: final_rank is a 1..n permutation per language") {
    val out = ext.TextStats.qualityRankEnsemble(spark, dir).collect()
    out.groupBy(_.getAs[String]("lang")).values.foreach { grp =>
      val ranks = grp.map(_.getAs[Int]("final_rank")).sorted
      assert(ranks.toSeq == (1 to grp.length).toSeq, "per-lang permutation")
    }
    out.foreach { r =>
      assert(r.getAs[Long]("rank_sum") ==
        r.getAs[Long]("rank_len") + r.getAs[Long]("rank_diversity") + r.getAs[Long]("rank_stopword"))
    }
  }

  test("q144 bucket diversity: O(n) identity equals the brute-force pair sum") {
    val out = ext.Similarity.bucketDiversity(spark, dir).collect()
    assert(out.nonEmpty, "sf0.001 embeddings must fill more than one bucket member")
    // recompute the pairwise mass brute-force from the quantized codes
    val coded = ext.Similarity.lshBuckets(spark, dir)
      .withColumn("mn", array_min(col("v")))
      .withColumn("mx", array_max(col("v")))
      .withColumn("codes", expr(
        "transform(v, x -> CASE WHEN mx = mn THEN 0 " +
          "ELSE CAST(least(floor((x - mn) * 255D / (mx - mn)), 255D) AS INT) END)"))
      .select("bucket", "codes").collect()
      .map(r => r.getAs[Int]("bucket") -> r.getSeq[Int](1).toArray)
    val byBucket = coded.groupBy(_._1)
    out.foreach { r =>
      val vs = byBucket(r.getAs[Int]("bucket")).map(_._2)
      val brute = (for {
        i <- vs.indices; j <- (i + 1) until vs.length
      } yield vs(i).zip(vs(j)).map { case (a, b) => a.toLong * b }.sum).sum
      assert(r.getAs[Long]("pair_dot_sum") == brute,
        s"sum-vector identity must equal brute force in bucket ${r.getAs[Int]("bucket")}")
      assert(r.getAs[Long]("n_pairs") == vs.length.toLong * (vs.length - 1) / 2)
    }
  }

  test("q145 source divergence: ppm bounded and zero only for a perfectly average source") {
    val out = ext.TextStats.sourceDivergence(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val d = r.getAs[Long]("divergence_ppm")
      assert(d >= 0 && d <= 1000000L)
    }
    // all sources together must cover the corpus token mass
    val total = out.map(_.getAs[Long]("total_src")).sum
    val direct = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " "))).count()
    assert(total == direct)
  }

  test("q146 cluster-safe split eliminates every leak q140 finds") {
    val out = ext.Dedup.clusterSafeSplit(spark, dir).collect()
    assert(out.nonEmpty)
    // all members of a cluster get the cluster's split
    out.filter(_.getAs[Boolean]("in_cluster"))
      .groupBy(_.getAs[Long]("effective_key")).values.foreach { grp =>
        assert(grp.map(_.getAs[String]("assigned_split")).distinct.length == 1,
          "a cluster must land in exactly one split")
      }
    // singletons keep their content-addressed split
    out.filterNot(_.getAs[Boolean]("in_cluster")).foreach { r =>
      assert(r.getAs[String]("doc_split") == r.getAs[String]("assigned_split"))
      assert(!r.getAs[Boolean]("moved"))
    }
    out.foreach(r => assert(r.getAs[Boolean]("moved") ==
      (r.getAs[String]("doc_split") != r.getAs[String]("assigned_split"))))
  }

  test("q147 source quota: ranks are per-source permutations; kept iff within cap") {
    val out = ext.Sampling.sourceQuotaCap(spark, dir).collect()
    out.groupBy(_.getAs[String]("source")).values.foreach { grp =>
      val ranks = grp.map(_.getAs[Int]("priority_rank")).sorted
      assert(ranks.toSeq == (1 to grp.length).toSeq)
    }
    out.foreach(r => assert(r.getAs[Boolean]("kept") == (r.getAs[Int]("priority_rank") <= 20)))
  }

  test("q148 label drift: ppm bounded; identical halves would read zero") {
    val out = ext.Similarity.labelDrift(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val d = r.getAs[Long]("drift_ppm")
      assert(d >= 0 && d <= 1000000L)
      assert(r.getAs[Long]("n_a") > 0 && r.getAs[Long]("n_b") > 0)
    }
  }

  test("q149 interleave: global positions unique, consecutive ranks stride by n_sources") {
    val out = ext.Sampling.interleaveOrder(spark, dir).collect()
    val orders = out.map(_.getAs[Long]("global_order"))
    assert(orders.length == orders.distinct.length, "positions must be collision-free")
    val n = out.map(_.getAs[Long]("source_idx")).max + 1
    out.groupBy(_.getAs[String]("source")).values.foreach { grp =>
      val sorted = grp.sortBy(_.getAs[Long]("rank_in_source")).map(_.getAs[Long]("global_order"))
      assert(sorted.zip(sorted.tail).forall { case (a, b) => b - a == n },
        "within a source, consecutive ranks are n_sources apart")
    }
  }

  test("q150 inline minhash bands are row-identical to the agg form (q28)") {
    assert(rows(ext.Dedup.minhashBandsInline(spark, dir)) ==
      rows(ext.Dedup.minhashBands(spark, dir)))
  }

  test("q151 rrf fusion: scores match the rank formula and descend") {
    val out = ext.TextStats.rrfFusion(spark, dir).collect()
    assert(out.nonEmpty)
    def contrib(rank: Long): Long = if (rank == 0L) 0L else 1000000L / (60L + rank)
    out.foreach { r =>
      val (b, p) = (r.getAs[Long]("bm25_rank"), r.getAs[Long]("phrase_rank"))
      assert(b > 0 || p > 0, "a fused doc must appear in at least one signal")
      assert(r.getAs[Long]("rrf_score") == contrib(b) + contrib(p))
    }
    val scores = out.map(_.getAs[Long]("rrf_score"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("q152 counting percentiles equal the sort-based order statistics") {
    val out = engine.RelOps.percentilesByCounting(spark, dir).collect()
    assert(out.nonEmpty)
    val byFlag = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_quantity").cast("long")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).groupBy(_._1)
    out.foreach { r =>
      val vs = byFlag(r.getAs[String]("flag")).map(_._2).sorted
      val n = vs.length
      assert(r.getAs[Long]("n_rows") == n.toLong)
      assert(r.getAs[Long]("median_qty") == vs((n + 1) / 2 - 1), "lower median")
      assert(r.getAs[Long]("p90_qty") == vs((9 * n + 9) / 10 - 1), "ceil-rank p90")
    }
  }

  test("q153 equi-depth buckets partition all rows into near-balanced, disjoint ranges") {
    val out = engine.RelOps.equiDepthBuckets(spark, dir).collect()
    assert(out.nonEmpty && out.length <= 8)
    val total = Tables.orders(spark, dir).count()
    assert(out.map(_.getAs[Long]("n_rows")).sum == total, "buckets must partition the table")
    // disjoint, ordered ranges
    val ranges = out.sortBy(_.getAs[Int]("bucket_idx")).map(r =>
      (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
    ranges.foreach { case (lo, hi) => assert(lo <= hi) }
    ranges.zip(ranges.tail).foreach { case ((_, hi), (lo2, _)) => assert(hi < lo2) }
    // balance: every bucket within 3x of the ideal share (duplicate-heavy
    // value domains can skew; the audit exists to EXPOSE that, not hide it)
    out.foreach { r =>
      val share = r.getAs[Long]("share_ppm")
      assert(share > 0 && share <= 375000L, s"bucket ${r.getAs[Int]("bucket_idx")} share $share")
    }
  }

  test("q166 zone-map audit: clustered layout prunes, hashed layout reads everything") {
    val rows = engine.Layout.zoneMapAudit(spark, dir).collect()
      .map(r => r.getAs[String]("layout") -> r).toMap
    assert(rows.keySet == Set("clustered", "hashed"))
    rows.values.foreach { r =>
      assert(r.getAs[Long]("n_files") > 0)
      assert(r.getAs[Long]("files_hit") + r.getAs[Long]("files_skipped") ==
        r.getAs[Long]("n_files"))
    }
    // the whole point of the audit: a date predicate skips most date-
    // clustered files and no hash-scattered ones (every md5 bucket spans
    // the full date range once it holds a handful of rows)
    assert(rows("clustered").getAs[Long]("read_ppm") <
      rows("hashed").getAs[Long]("read_ppm"))
    assert(rows("hashed").getAs[Long]("files_skipped") == 0L)
  }

  test("q164 pagerank step: ranks consistent with a direct per-node recomputation") {
    val out = ext.Dedup.pagerankIteration(spark, dir).collect()
    if (out.nonEmpty) {
      val pairs = spark.read.parquet(ext.Dedup.candidatePairsPath(spark, dir))
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      out.foreach { r =>
        val id = r.getAs[Long]("doc_id")
        val deg = adj(id).size.toLong
        assert(r.getAs[Long]("degree") == deg)
        // exact integer recomputation: truncating per-edge share, truncating
        // damped combine — must match the distributed form bit-for-bit
        val inflow = adj(id).map(j => 1000000L / adj(j).size).sum
        assert(r.getAs[Long]("rank_ppm") == 150000L + 850000L * inflow / 1000000L)
      }
      // a uniform start conserves mass only in expectation; sanity: every
      // rank is at least the damping floor
      assert(out.forall(_.getAs[Long]("rank_ppm") >= 150000L))
    }
  }

  test("q154 two-hop expansion: counts consistent with a direct adjacency recomputation") {
    val out = ext.Dedup.twoHopNeighbors(spark, dir).collect()
    if (out.nonEmpty) {
      val pairs = spark.read.parquet(
        ext.Dedup.candidatePairsPath(spark, dir))
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      out.foreach { r =>
        val id = r.getAs[Long]("doc_id")
        val direct = adj(id)
        val twoHop = direct.flatMap(adj).filter(_ != id)
        assert(r.getAs[Long]("n_neighbors") == direct.size.toLong)
        assert(r.getAs[Long]("n_two_hop") == twoHop.size.toLong)
        assert(r.getAs[Long]("n_two_hop_new") == (twoHop -- direct).size.toLong)
      }
    }
  }

  test("q155 record linkage: pairs respect blocking, bounded lev agrees with full lev") {
    val out = ext.Dedup.recordLinkage(spark, dir).collect()
    assert(out.nonEmpty, "TPC-H customer names differ in digits; blocks must yield matches")
    val names = Tables.customer(spark, dir)
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getString(3)))).toMap
    def fullLev(s: String, t: String): Int = {
      val d = Array.tabulate(s.length + 1, t.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to s.length; j <- 1 to t.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (s(i - 1) == t(j - 1)) 0 else 1))
      d(s.length)(t.length)
    }
    out.foreach { r =>
      val (na, ka, sa) = names(r.getAs[Long]("custkey_a"))
      val (nb, kb, sb) = names(r.getAs[Long]("custkey_b"))
      assert(ka == kb && sa == sb, "pairs must share the block key")
      assert(r.getAs[Long]("lev") == fullLev(na, nb).toLong && r.getAs[Long]("lev") <= 2)
    }
  }

  test("q155 Ed-Join prefix filter is COMPLETE: exactly the brute-force block matches") {
    // the round-8 rarest-gram prefix blocking (kq+1 lemma) must never MISS
    // a pair the quadratic verifier would match — recall == 1 by theorem,
    // pinned here against an in-JVM brute force over every (nk, seg) block
    val got = ext.Dedup.recordLinkage(spark, dir).collect()
      .map(r => (r.getAs[Long]("custkey_a"), r.getAs[Long]("custkey_b"))).toSet
    def fullLev(s: String, t: String): Int = {
      val d = Array.tabulate(s.length + 1, t.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to s.length; j <- 1 to t.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (s(i - 1) == t(j - 1)) 0 else 1))
      d(s.length)(t.length)
    }
    val rows = Tables.customer(spark, dir)
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3)))
    val brute = (for {
      (ka, na, nka, sga) <- rows; (kb, nb, nkb, sgb) <- rows
      if ka < kb && nka == nkb && sga == sgb && fullLev(na, nb) <= 2
    } yield (ka, kb)).toSet
    assert(got == brute,
      s"missed=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
  }

  test("q155 short-string degenerate case: disjoint-gram pairs below the kq+1 lemma still match") {
    // 'ab' vs 'cd' share ZERO q-grams at edit distance 2 — the prefix
    // lemma's guarantee needs > k·q distinct grams, so these pairs only
    // surface through the direct-pairing fallback (ADVICE r8). The long
    // names check the prefix path still runs beside it, and the cross
    // short↔long pair ('ab' vs 'abc', lev 1, disjoint single grams) checks
    // the fallback pairs short records against the WHOLE block.
    val s = spark; import s.implicits._
    val recs = Seq(
      (1L, "ab", 1, "SEG"), (2L, "cd", 1, "SEG"), (3L, "abc", 1, "SEG"),
      (4L, "Customer#000000004", 1, "SEG"), (5L, "Customer#000000005", 1, "SEG"),
      (6L, "zz", 2, "SEG") // different block: must never pair with 1/2/3
    ).toDF("c_custkey", "c_name", "nk", "seg")
    val got = ext.Dedup.recordLinkageOn(recs).collect()
      .map(r => (r.getAs[Long]("custkey_a"), r.getAs[Long]("custkey_b"),
        r.getAs[Long]("lev"))).toSet
    // lev(cd,abc)=3 > k: generated by the fallback, rejected by the verifier
    assert(got == Set((1L, 2L, 2L), (1L, 3L, 1L), (4L, 5L, 1L)))
  }

  test("q156 decayed engagement: decayed never exceeds raw and never goes negative") {
    val rows = Events.decayedEngagement(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("decayed_cents") <= r.getAs[Long]("raw_cents"))
      assert(r.getAs[Long]("decayed_cents") >= 0)
    }
  }

  test("q157 containment: bounded by ppm, >= jaccard's intersection view, subset flags") {
    val out = ext.Dedup.containmentPairs(spark, dir).collect()
    out.foreach { r =>
      val (na, nb, common) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Long]("n_common"))
      assert(common <= math.min(na, nb), "intersection cannot exceed either set")
      val c = r.getAs[Long]("containment_ppm")
      assert(c >= 0 && c <= 1000000L)
      // containment >= jaccard always (same numerator, smaller denominator)
      val jacPpm = common * 1000000L / (na + nb - common)
      assert(c >= jacPpm)
    }
  }

  test("q158 source concentration: gini in [0,1e6); coverage counts consistent") {
    val r = ext.TextStats.sourceConcentration(spark, dir).collect()(0)
    val g = r.getAs[Long]("gini_ppm")
    assert(g >= 0 && g < 1000000L)
    val (n, k50, k90) = (r.getAs[Long]("n_sources"), r.getAs[Long]("k50"), r.getAs[Long]("k90"))
    assert(k50 >= 1 && k50 <= k90 && k90 <= n, "50% needs no more sources than 90%")
    // recompute coverage directly
    val masses = Tables.documents(spark, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("t"))
      .groupBy("source").agg(sum("t").as("m")).collect()
      .map(x => (x.getString(0), x.getLong(1))).sortBy(x => (-x._2, x._1)).map(_._2)
    val total = masses.sum
    def kFor(thr: Long) = masses.scanLeft(0L)(_ + _).tail.indexWhere(_ >= thr) + 1
    assert(k50 == kFor((total + 1) / 2).toLong)
    assert(k90 == kFor((9 * total + 9) / 10).toLong)
  }

  test("q131 null-skew join is row-identical to the naive left join") {
    val split = engine.Skew.nullSkewJoin(spark, dir)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"),
        when(col("o_orderkey") % 3 =!= 0, col("o_custkey")).as("loyalty_key"))
    val naive = o.join(Tables.customer(spark, dir).select("c_custkey", "c_mktsegment"),
        col("loyalty_key") === col("c_custkey"), "left")
      .groupBy(coalesce(col("c_mktsegment"), lit("NO_PROGRAM")).as("segment"))
      .agg(count(lit(1)).as("n_orders"),
        engine.Dec.sum2(col("o_totalprice")).as("revenue"))
      .orderBy("segment")
    assert(rows(split) == rows(naive))
    // non-vacuous: the null band exists and is materialized under the sentinel
    assert(split.collect().exists(_.getAs[String]("segment") == "NO_PROGRAM"))
  }

  test("q178 join cardinality: the histogram prediction equals the materialized join size") {
    val out = Skew.joinCardinality(spark, dir).collect()
    assert(out.length == 10)
    val predicted = out.head.getAs[Long]("predicted_rows")
    assert(out.forall(_.getAs[Long]("predicted_rows") == predicted))
    val actual = Tables.orders(spark, dir).select(col("o_orderkey"))
      .join(Tables.lineitem(spark, dir).select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"))
      .count()
    assert(predicted == actual, "degree-sum must be the EXACT join size")
    // per-row identity and top-ordering
    assert(out.forall(r => r.getAs[Long]("join_rows") ==
      r.getAs[Long]("rows_a") * r.getAs[Long]("rows_b")))
    assert(out.map(_.getAs[Long]("join_rows")).toSeq ==
      out.map(_.getAs[Long]("join_rows")).sortBy(-_).toSeq)
  }

  test("q179 benford: expected table sums to exactly 1e6; counts reconcile") {
    assert(engine.Quality.BenfordPpm.sum == 1000000L)
    val out = engine.Quality.benfordAudit(spark, dir).collect()
    val digits = out.map(_.getAs[Long]("digit")).toSet
    assert(digits.subsetOf((1L to 9L).toSet) && digits.nonEmpty)
    val nOrders = Tables.orders(spark, dir)
      .filter(expr("floor(o_totalprice)") > 0).count()
    assert(out.map(_.getAs[Long]("n")).sum == nOrders,
      "digit histogram must partition the qualifying orders")
    out.foreach { r =>
      val d = r.getAs[Long]("digit").toInt
      assert(r.getAs[Long]("expected_ppm") == engine.Quality.BenfordPpm(d - 1))
      assert(r.getAs[Long]("abs_delta_ppm") ==
        math.abs(r.getAs[Long]("observed_ppm") - r.getAs[Long]("expected_ppm")))
    }
  }

  test("q180 weighted sample: exactly k, priority-ordered, biased toward long docs") {
    val out = ext.Sampling.weightedPrioritySample(spark, dir, k = 100).collect()
    assert(out.length == 100)
    val prios = out.map(_.getAs[Long]("priority")).toSeq
    assert(prios == prios.sorted, "rows are the k smallest priorities in order")
    // weighting bias: the weighted draw's mean token count must exceed the
    // corpus mean (deterministic on this fixture — u/w priorities favor
    // token-heavy docs)
    val sampleMean = out.map(_.getAs[Long]("n_tokens")).sum.toDouble / out.length
    val corpus = Tables.documents(spark, dir)
      .select(size(split(col("text"), " ")).cast("long").as("t"))
      .agg(avg(col("t"))).head().getDouble(0)
    assert(sampleMean > corpus,
      s"weighted sample mean $sampleMean must exceed corpus mean $corpus")
  }
}
