package graft

import java.sql.Date

import graft.engine.{GoldDims, Silver}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

/** Property-based invariants (scalacheck driving small Spark jobs).
  * Few cases per property — each case is a full Spark job. */
class PropertySpec extends SparkSuite {

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(8)

  private def check(p: Prop): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, r.status.toString)
  }

  test("property: keyed dedup always yields unique keys and a subset of input rows") {
    val s = spark; import s.implicits._
    val gen = Gen.listOfN(30, Gen.zip(Gen.choose(1, 5), Gen.choose(1, 100)))
    check(Prop.forAll(gen) { pairs =>
      pairs.nonEmpty ==> {
        val df = pairs.map { case (k, v) => (s"k$k", v, s"p$v", "s", new java.sql.Timestamp(0L), 1.0, 1.0) }
          .toDF("order_id", "order_item_id", "product_id", "seller_id",
            "shipping_limit_date", "price", "freight_value")
        val out = Silver.cleanOrderItems(df)
        val keys = out.select("Ord_ID").collect().map(_.getString(0))
        keys.length == keys.distinct.length &&
          keys.toSet == pairs.map(p => s"k${p._1}").toSet
      }
    })
  }

  test("property: date spine is contiguous with no gaps or duplicates") {
    val gen = Gen.zip(Gen.choose(0L, 20000L), Gen.choose(0L, 400L))
    check(Prop.forAll(gen) { case (startDay, len) =>
      val start = Date.valueOf(java.time.LocalDate.ofEpochDay(startDay))
      val end = Date.valueOf(java.time.LocalDate.ofEpochDay(startDay + len))
      val spine = GoldDims.dimDateFromRange(spark, start, end)
      val dates = spine.select("Date").collect().map(_.getDate(0).toLocalDate).sortBy(_.toEpochDay)
      dates.length == len + 1 &&
        dates.head == start.toLocalDate && dates.last == end.toLocalDate &&
        dates.sliding(2).forall { case Array(a, b) => b.toEpochDay == a.toEpochDay + 1; case _ => true }
    })
  }

  test("property: zip-region classifier is total (never null) over any int zip") {
    val s = spark; import s.implicits._
    val gen = Gen.listOfN(40, Gen.choose(Int.MinValue / 2, Int.MaxValue / 2))
    check(Prop.forAll(gen) { zips =>
      zips.nonEmpty ==> {
        val df = zips.zipWithIndex.map { case (z, i) => (s"c$i", s"u$i", z, "City", "SP") }
          .toDF("Cus_ID", "Cus_Unique_ID", "Cus_Zip_Code_Prefix", "Cus_City", "customer_state")
        val regions = GoldDims.dimCustomers(df).select("Customer_Region").collect().map(_.getString(0))
        regions.forall(r => Set("Southeast", "Northeast", "Other", "Unknown").contains(r))
      }
    })
  }

  test("property: decimal money sums are identical across arbitrary repartitioning") {
    val s = spark; import s.implicits._
    val gen = Gen.zip(Gen.listOfN(200, Gen.choose(0L, 999999L)), Gen.choose(1, 16))
    check(Prop.forAll(gen) { case (cents, parts) =>
      cents.nonEmpty ==> {
        val df = cents.map(c => c / 100.0).toDF("v")
        val a = df.repartition(parts).agg(graft.engine.Dec.sum2(col("v"))).head().getDouble(0)
        val b = df.coalesce(1).agg(graft.engine.Dec.sum2(col("v"))).head().getDouble(0)
        a == b // bit-identical regardless of partition/accumulation order
      }
    })
  }

  test("property: dup-cluster labels are component members and never exceed the doc id") {
    val s = spark; import s.implicits._
    // random near-dup groups: docs in the same group share identical text.
    // A FRESH dir per iteration: the dedup stack's at-rest indexes
    // (Dedup.candidatePairsPath) are build-once per source dir per JVM —
    // rewriting one dir with different content would serve the first
    // iteration's cached index (the documented immutable-dir contract).
    var iter = 0
    val gen = Gen.listOfN(12, Gen.choose(0, 3))
    check(Prop.forAll(gen) { groups =>
      groups.nonEmpty ==> {
        iter += 1
        val dir = s"/tmp/graft_prop_cc/$iter"
        val docs = groups.zipWithIndex.map { case (g, i) =>
          (i.toLong, (1 to 30).map(w => s"g${g}tok$w").mkString(" "))
        }
        docs.toDF("doc_id", "text")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        val out = graft.ext.Dedup.duplicateClusters(spark, dir).collect()
          .map(r => r.getLong(0) -> r.getLong(1))
        val ids = out.map(_._1).toSet
        out.forall { case (id, label) => label <= id && ids.contains(label) } &&
          // same text → same cluster (exact dups always collide in every band)
          out.groupBy { case (id, _) => groups(id.toInt) }
            .values.forall(grp => grp.map(_._2).toSet.size == 1)
      }
    })
  }

  test("property: graft_bounded_lev == min(levenshtein, k+1) on random strings") {
    import org.apache.spark.unsafe.types.UTF8String
    val gen = Gen.zip(
      Gen.listOf(Gen.oneOf('a', 'b', 'c')).map(_.mkString),
      Gen.listOf(Gen.oneOf('a', 'b', 'c')).map(_.mkString),
      Gen.choose(0, 6))
    check(Prop.forAll(gen) { case (a, b, k) =>
      val ref = UTF8String.fromString(a).levenshteinDistance(UTF8String.fromString(b))
      graft.functions.GraftStrings.boundedLev(
        UTF8String.fromString(a), UTF8String.fromString(b), k) == math.min(ref, k + 1)
    })
  }

  test("property: graft_bounded_lev ascii byte path == char path on mixed alphabets") {
    import org.apache.spark.unsafe.types.UTF8String
    // mixed ASCII / non-ASCII (é is 2 UTF-8 bytes, 日 is 3): one non-ASCII
    // char on either side must route the pair to the char path and still
    // agree with Spark's reference — pins the r14 byte fast path's
    // dispatch and both implementations' equality
    val gen = Gen.zip(
      Gen.listOf(Gen.oneOf('a', 'b', 'é', '日')).map(_.mkString),
      Gen.listOf(Gen.oneOf('a', 'b', 'é', '日')).map(_.mkString),
      Gen.choose(0, 4))
    check(Prop.forAll(gen) { case (a, b, k) =>
      val ref = UTF8String.fromString(a).levenshteinDistance(UTF8String.fromString(b))
      graft.functions.GraftStrings.boundedLev(
        UTF8String.fromString(a), UTF8String.fromString(b), k) == math.min(ref, k + 1)
    })
    // long ASCII inputs exercise the thread-local row growth past the
    // 64-slot initial size
    val a64 = "x" * 100 + "abc"
    val b64 = "x" * 100 + "acd"
    assert(graft.functions.GraftStrings.boundedLev(
      UTF8String.fromString(a64), UTF8String.fromString(b64), 3) == 2)
    val long1 = ("abcdefgh" * 20) + "q"
    val long2 = "z" + ("abcdefgh" * 20)
    val ref = UTF8String.fromString(long1).levenshteinDistance(UTF8String.fromString(long2))
    assert(graft.functions.GraftStrings.boundedLev(
      UTF8String.fromString(long1), UTF8String.fromString(long2), 200) == ref)
  }

  test("property: Morton zValue is a bijection that preserves per-dimension order at fixed other") {
    val s = spark; import s.implicits._
    val gen = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 65535L), Gen.choose(0L, 65535L)))
    check(Prop.forAll(gen) { pairs =>
      pairs.nonEmpty ==> {
        val distinct = pairs.distinct
        val out = distinct.toDF("a", "b")
          .select(col("a"), col("b"), graft.engine.Layout.zValue(col("a"), col("b")).as("z"))
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        // bijective on distinct inputs, and monotone in each dim when the other is fixed
        out.values.toSeq.distinct.length == distinct.length &&
          out.forall { case ((a, b), z) =>
            z >= 0 && out.forall { case ((a2, b2), z2) =>
              (a2 != a || b2 == b || (z2 > z) == (b2 > b)) &&
                (b2 != b || a2 == a || (z2 > z) == (a2 > a))
            }
          }
      }
    })
  }

  test("property: mixture allocation sums to the budget with per-source error < 1") {
    val s = spark; import s.implicits._
    val gen = Gen.listOfN(5, Gen.choose(1, 50))
    check(Prop.forAll(gen) { sizes =>
      sizes.nonEmpty ==> {
        val docs = sizes.zipWithIndex.flatMap { case (n, si) =>
          (0 until n).map(j => ((si * 1000 + j).toLong, (1 to 7).map(k => s"w$k").mkString(" "), s"src$si"))
        }
        docs.toDF("doc_id", "text", "source")
          .write.mode("overwrite").parquet("/tmp/graft_prop_mix/documents.parquet")
        val out = graft.ext.TextStats.mixtureAllocation(spark, "/tmp/graft_prop_mix").collect()
        val budget = 1000000L
        val total = out.map(_.getAs[Long]("n_tokens")).sum
        out.map(_.getAs[Long]("final_alloc")).sum == budget &&
          out.forall { r =>
            val exact = budget.toDouble * r.getAs[Long]("n_tokens") / total
            math.abs(r.getAs[Long]("final_alloc") - exact) < 1.0 // largest-remainder bound
          }
      }
    })
  }

  test("property: split assignment bands are consistent for arbitrary doc ids") {
    val s = spark; import s.implicits._
    val gen = Gen.listOfN(20, Gen.choose(0L, 1000000L))
    check(Prop.forAll(gen) { rawIds =>
      rawIds.nonEmpty ==> {
        val ids = rawIds.distinct
        ids.map(i => (i, "x", "src")).toDF("doc_id", "text", "source")
          .write.mode("overwrite").parquet("/tmp/graft_prop_split/documents.parquet")
        val out = graft.ext.TextStats.splitAssign(spark, "/tmp/graft_prop_split").collect()
        out.length == ids.length && out.forall { r =>
          val (b, sp) = (r.getAs[Long]("bucket"), r.getAs[String]("split"))
          b >= 0 && b < 100 &&
            sp == (if (b < 90) "train" else if (b < 95) "val" else "test")
        }
      }
    })
  }

  test("property: mergeUpsert matches a reference map-merge on arbitrary batches") {
    val s = spark; import s.implicits._
    // rows: (key, Option[payload]) — None payloads exercise the NULL-clears-
    // field MERGE path; keys overlap between target and source by design
    val row = Gen.zip(Gen.choose(1L, 8L), Gen.option(Gen.choose(0, 99)))
    val gen = Gen.zip(Gen.listOfN(10, row), Gen.listOfN(6, row))
    check(Prop.forAll(gen) { case (tRows, sRows) =>
      (tRows.nonEmpty && sRows.nonEmpty) ==> {
        // unique keys per side (mergeUpsert's contract: source/target are keyed)
        val t = tRows.distinctBy(_._1)
        val src = sRows.distinctBy(_._1)
        val tDf = t.map { case (k, v) => (k, v.map(Integer.valueOf).orNull) }
          .toDF("k", "payload")
        val sDf = src.map { case (k, v) => (k, v.map(Integer.valueOf).orNull) }
          .toDF("k", "payload")
        val out = engine.RelOps.mergeUpsert(tDf, sDf, "k").collect()
          .map(r => r.getAs[Long]("k") ->
            (Option(r.getAs[Integer]("payload")), r.getAs[String]("action"))).toMap
        val tm = t.toMap
        val sm = src.toMap
        val expected = (tm.keySet ++ sm.keySet).map { k =>
          val action =
            if (!tm.contains(k)) "insert"
            else if (!sm.contains(k)) "keep"
            else "update"
          // MERGE semantics: the source value wins on any match, even when NULL
          k -> (sm.getOrElse(k, tm(k)), action)
        }.toMap
        out.size == expected.size && expected.forall { case (k, (pv, act)) =>
          out(k)._2 == act && out(k)._1.map(_.toInt) == pv
        }
      }
    })
  }

  test("property: a second SCD2 application of the same snapshot is a no-op") {
    val s = spark; import s.implicits._
    val row = Gen.zip(Gen.choose(1L, 6L), Gen.choose(0, 3))
    val gen = Gen.zip(Gen.listOfN(8, row), Gen.listOfN(8, row))
    check(Prop.forAll(gen) { case (curRows, updRows) =>
      (curRows.nonEmpty && updRows.nonEmpty) ==> {
        val cur = curRows.distinctBy(_._1)
          .map { case (k, v) => (k, s"v$v", Date.valueOf("2020-01-01"),
            null.asInstanceOf[Date], true) }
          .toDF("k", "attr", "effective_date", "end_date", "is_current")
        val upd = updRows.distinctBy(_._1)
          .map { case (k, v) => (k, s"v$v") }.toDF("k", "attr")
        val once = engine.Scd2(cur, upd, "k", Seq("attr"), Date.valueOf("2020-06-15"))
        // applying the SAME snapshot again must change nothing: every open row
        // now agrees with the update side, departed keys are already closed
        val twice = engine.Scd2(once, upd, "k", Seq("attr"), Date.valueOf("2020-12-31"))
        def canon(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(_.toString).sorted.toSeq
        canon(once) == canon(twice)
      }
    })
  }

  test("property: counting-selection percentiles equal sort-based order statistics") {
    val s = spark; import s.implicits._
    val gen = Gen.listOfN(40, Gen.zip(Gen.choose(1, 3), Gen.choose(0L, 20L)))
    check(Prop.forAll(gen) { pairs =>
      pairs.nonEmpty ==> {
        val df = pairs.map { case (g, v) => (s"g$g", v) }.toDF("g", "v")
        val out = engine.RelOps.percentilesByCountingOn(df).collect()
        val byG = pairs.groupBy(_._1)
        out.forall { r =>
          val vs = byG(r.getString(0).drop(1).toInt).map(_._2).sorted
          val n = vs.length
          r.getAs[Long]("n_rows") == n.toLong &&
            r.getAs[Long]("median_v") == vs((n + 1) / 2 - 1) &&
            r.getAs[Long]("p90_v") == vs((9 * n + 9) / 10 - 1)
        } && out.length == byG.size
      }
    })
  }

  test("property: prefix-filter join equals all-pairs brute force on random corpora") {
    val s = spark; import s.implicits._
    // tiny vocab + short docs → dense cross-doc shingle sharing, collisions
    // of every kind the filters must survive; threshold low enough that
    // matches are common
    val docGen = Gen.listOfN(12,
      Gen.choose(3, 9).flatMap(len => Gen.listOfN(len, Gen.choose(0, 5))))
    val fewCases = SCTest.Parameters.default.withMinSuccessfulTests(4)
    val caseId = new java.util.concurrent.atomic.AtomicInteger()
    val r = SCTest.check(fewCases, Prop.forAll(docGen) { wordLists =>
      wordLists.nonEmpty ==> {
        val docs = wordLists.zipWithIndex.map { case (ws, i) =>
          (i.toLong, ws.map(w => s"w$w").mkString(" "))
        }
        // fresh dir per case: prefixFilterJoin's shingle table is an at-rest
        // build-once index keyed on the (immutable) source dir — rewriting
        // one dir across cases would serve a stale build, which is the
        // documented mutable-source caveat, not a bug under test here
        val dir = s"/tmp/graft_prop_ppj_${caseId.incrementAndGet()}"
        docs.toDF("doc_id", "text")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        val out = ext.Dedup
          .prefixFilterJoin(spark, dir, thresholdPpm = 500000L)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("n_common"))).toSet
        // every generated doc has >= 3 words, so all shingle windows are full
        val sets = docs.map { case (id, t) =>
          id -> t.split(" ").sliding(3).map(_.mkString(" ")).toSet
        }.toMap
        val ids = sets.keys.toSeq
        val expected = (for {
          a <- ids; b <- ids if a < b
          o = sets(a).intersect(sets(b)).size.toLong
          u = sets(a).size + sets(b).size - o
          if o * 1000000L / u >= 500000L
        } yield (a, b, o)).toSet
        out == expected
      }
    })
    assert(r.passed, r.status.toString)
  }

  test("property: incremental ppjoin equals batch-x-corpus brute force on random corpora") {
    val s = spark; import s.implicits._
    // 24 docs → ids 7 and 17 form the ingest wave (doc_id % 10 = 7); same
    // dense-collision vocabulary as the self-join property above
    val docGen = Gen.listOfN(24,
      Gen.choose(3, 9).flatMap(len => Gen.listOfN(len, Gen.choose(0, 5))))
    val fewCases = SCTest.Parameters.default.withMinSuccessfulTests(4)
    val caseId = new java.util.concurrent.atomic.AtomicInteger()
    val r = SCTest.check(fewCases, Prop.forAll(docGen) { wordLists =>
      wordLists.nonEmpty ==> {
        val docs = wordLists.zipWithIndex.map { case (ws, i) =>
          (i.toLong, ws.map(w => s"w$w").mkString(" "))
        }
        val dir = s"/tmp/graft_prop_ippj_${caseId.incrementAndGet()}"
        docs.toDF("doc_id", "text")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        val out = ext.Dedup
          .incrementalPrefixJoin(spark, dir, thresholdPpm = 500000L)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("n_common"))).toSet
        val sets = docs.map { case (id, t) =>
          id -> t.split(" ").sliding(3).map(_.mkString(" ")).toSet
        }.toMap
        val ids = sets.keys.toSeq
        val expected = (for {
          a <- ids if a % 10 == 7
          b <- ids if b % 10 != 7
          o = sets(a).intersect(sets(b)).size.toLong
          u = sets(a).size + sets(b).size - o
          if o * 1000000L / u >= 500000L
        } yield (a, b, o)).toSet
        out == expected
      }
    })
    assert(r.passed, r.status.toString)
  }

  test("property: backfill plan equals a driver-side islands recompute on random date sets") {
    val s = spark; import s.implicits._
    val gen = Gen.nonEmptyListOf(Gen.choose(0, 120)) // month offsets from 1995-01
    val fewCases = SCTest.Parameters.default.withMinSuccessfulTests(8)
    val caseId = new java.util.concurrent.atomic.AtomicInteger()
    val r = SCTest.check(fewCases, Prop.forAll(gen) { offsets =>
      val dir = s"/tmp/graft_prop_bkf_${caseId.incrementAndGet()}"
      val rows = offsets.zipWithIndex.map { case (off, i) =>
        (i.toLong, java.sql.Date.valueOf(
          java.time.LocalDate.of(1995 + off / 12, off % 12 + 1, 15)), 1L, "O", 1.0)
      }
      rows.toDF("o_orderkey", "o_orderdate", "o_custkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      val out = graft.engine.Layout.backfillPlan(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toList
      // driver-side reference: spine lo..hi, existing = months with data and
      // m % 7 != 3, missing runs coalesced
      val ms = offsets.map(off => (1995 + off / 12) * 12 + (off % 12)).distinct.sorted
      val (lo, hi) = (ms.min, ms.max)
      val existing = ms.filter(_ % 7 != 3).toSet
      val missing = (lo to hi).filterNot(existing)
      def fmt(m: Int) = f"${m / 12}%04d-${m % 12 + 1}%02d"
      val runs = missing.foldLeft(List.empty[(Int, Int)]) {
        case ((a, b) :: t, m) if m == b + 1 => (a, m) :: t
        case (acc, m) => (m, m) :: acc
      }.reverse.map { case (a, b) => (fmt(a), fmt(b), (b - a + 1).toLong) }
      out == runs
    })
    assert(r.passed, r.status.toString)
  }

  test("property: compaction plan equals a driver-side next-fit recompute on random inventories") {
    val s = spark; import s.implicits._
    val gen = Gen.nonEmptyListOf(Gen.choose(1L, 15000L)) // file byte sizes
    val fewCases = SCTest.Parameters.default.withMinSuccessfulTests(8)
    val caseId = new java.util.concurrent.atomic.AtomicInteger()
    val r = SCTest.check(fewCases, Prop.forAll(gen) { sizes =>
      val dir = s"/tmp/graft_prop_cmp_${caseId.incrementAndGet()}"
      // one doc per file (doc_id = 20*i), n_chars = the file's byte size
      sizes.zipWithIndex.map { case (b, i) => (20L * i, "t", "s1", b) }
        .toDF("doc_id", "text", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = graft.engine.Layout.compactionPlan(spark, dir).collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getBoolean(6))).toList
      val target = 8192L
      var cum = 0L
      val assigned = sizes.zipWithIndex.map { case (b, i) =>
        val bin = cum / target; cum += b; (bin, i.toLong, b)
      }
      val expected = assigned.groupBy(_._1).toList.sortBy(_._1).map {
        case (bin, fs) =>
          val bytes = fs.map(_._3).sum
          (bin, fs.size.toLong, bytes, fs.map(_._2).min, fs.map(_._2).max,
            bytes > target)
      }
      out == expected
    })
    assert(r.passed, r.status.toString)
  }

  test("property: Misra-Gries guarantee survives arbitrary merge trees") {
    import graft.functions.MisraGriesAggregator
    // pure JVM property (no Spark): random streams, random capacity, random
    // partition split + pairwise merge order — candidates must contain every
    // item with freq > n/k, and the total count must be exact
    val gen = for {
      k <- Gen.choose(2, 12)
      items <- Gen.listOfN(300, Gen.choose(0, 30).map(i => s"t$i"))
      nParts <- Gen.choose(1, 6)
    } yield (k, items, nParts)
    check(Prop.forAll(gen) { case (k, items, nParts) =>
      val agg = new MisraGriesAggregator(k)
      val parts = items.grouped(math.max(1, items.size / nParts)).toList
      val buffers = parts.map(p => p.foldLeft(agg.zero)(agg.reduce))
      val merged = buffers.reduceLeft(agg.merge)
      val (cands, n) = agg.finish(merged)
      val exact = items.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
      val mustSurvive = exact.collect { case (t, c) if c * k > items.size => t }.toSet
      n == items.size.toLong &&
        mustSurvive.subsetOf(cands.toSet) &&
        cands.size <= k
    })
  }

  test("property: bpe merges equal a driver-side reference on random corpora") {
    val s = spark; import s.implicits._
    // words over a 2-letter alphabet maximize pair collisions and ties;
    // the reference replicates the exact contract: overlapping adjacent
    // pairs weighted by word count, (freq DESC, pair ASC) argmax,
    // leftmost-non-overlapping global replace (Java String.replace — the
    // same semantics Spark's and DuckDB's literal replace implement)
    val wordGen = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b")).map(_.mkString))
    val gen = Gen.listOfN(12, wordGen)
    def reference(words: Seq[String], rounds: Int): Seq[(Int, String, Long)] = {
      // symbol arrays, true-BPE merge: adjacent (a, b) occurrences fuse
      // left-to-right without overlap — the ground truth the engine's
      // boundary-safe string encoding must reproduce
      var dict: Seq[(Array[String], Long)] = words.groupBy(identity).map { case (w, xs) =>
        w.toCharArray.map(_.toString) -> xs.size.toLong }.toSeq
      def applyMerge(syms: Array[String], a: String, b: String): Array[String] = {
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        out.toArray
      }
      val out = scala.collection.mutable.ArrayBuffer[(Int, String, Long)]()
      for (k <- 1 to rounds) {
        val freq = scala.collection.mutable.Map[(String, String), Long]()
        for ((syms, cnt) <- dict; i <- 0 until syms.length - 1)
          freq((syms(i), syms(i + 1))) = freq.getOrElse((syms(i), syms(i + 1)), 0L) + cnt
        if (freq.nonEmpty && out.size == k - 1) {
          val ((a, b), f) = freq.toSeq.minBy { case ((x, y), c) => (-c, x + " " + y) }
          out += ((k, a + " " + b, f))
          dict = dict.map { case (syms, cnt) => applyMerge(syms, a, b) -> cnt }
        }
      }
      out.toSeq
    }
    // bpeStatePath's training state is a SessionMemo.atRest entry per
    // (session, source dir), rebuilt when the dir's documents.parquet
    // changes; each random case still gets its own dir, so no case's answer
    // depends on that change being detected
    var case_i = 0
    check(Prop.forAll(gen) { words =>
      words.nonEmpty ==> {
        case_i += 1
        val d = s"/tmp/graft_prop_bpe/c$case_i"
        words.zipWithIndex.map { case (w, i) => (i.toLong, w, "en", "s", 1L) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").parquet(s"$d/documents.parquet")
        val got = graft.ext.TextStats.bpeMerges(spark, d).collect()
          .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
        got == reference(words, 3)
      }
    })
  }

  test("property: semdedup pairs equal brute-force integer cosine within each cell") {
    val s = spark; import s.implicits._
    // random quantized vectors in random cells; the engine's within-cell
    // DECIMAL test must agree with exact BigInt arithmetic on every pair
    val vecGen = Gen.listOfN(4, Gen.choose(-1024L, 1024L))
    val rowGen = Gen.zip(Gen.choose(0L, 2L), vecGen)
    val gen = Gen.listOfN(12, rowGen)
    check(Prop.forAll(gen) { rows =>
      rows.nonEmpty ==> {
        val members = rows.zipWithIndex
          .map { case ((cell, q), i) => (i.toLong, q.toArray, cell) }
        val df = members.toDF("vec_id", "q", "cell")
        val got = graft.ext.Similarity.semDedupPairsFrom(df, 2, 5).collect()
          .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("drop_id"))).toSet
        val want = (for {
          (a, b) <- members.combinations(2).map(l => (l(0), l(1))).toSeq
            if a._3 == b._3
          dab = a._2.zip(b._2).map { case (x, y) => BigInt(x) * BigInt(y) }.sum
          daa = a._2.map(x => BigInt(x) * BigInt(x)).sum
          dbb = b._2.map(x => BigInt(x) * BigInt(x)).sum
          if dab > 0 && dab * dab * 25 > daa * dbb * 4
        } yield (math.min(a._1, b._1), math.max(a._1, b._1))).toSet
        got == want
      }
    })
  }

  test("property: dedup rewrite reassembles exactly the corpus-unique segments, in order") {
    val s = spark; import s.implicits._
    // tiny 2-word vocabulary forces heavy cross-doc segment collisions
    val segGen = Gen.listOfN(10, Gen.oneOf("x", "y")).map(_.mkString(" "))
    val docGen = Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, segGen))
    val gen = Gen.listOfN(5, docGen)
    check(Prop.forAll(gen) { docs =>
      docs.nonEmpty ==> {
        val rows = docs.zipWithIndex.map { case (segs, i) =>
          (i.toLong, segs.mkString(" "), "en", "s", 1L) }
        rows.toDF("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").parquet("/tmp/graft_prop_rewrite/documents.parquet")
        val out = graft.ext.Dedup.segmentDedupRewrite(spark, "/tmp/graft_prop_rewrite")
          .collect().map(r => r.getAs[Long]("doc_id") ->
            ((r.getAs[Long]("n_dropped"), r.getAs[String]("clean_text")))).toMap
        val freq = docs.flatten.groupBy(identity).map { case (sg, xs) =>
          sg -> docs.count(_.contains(sg)) } // distinct docs containing the segment
        docs.zipWithIndex.forall { case (segs, i) =>
          val kept = segs.filter(sg => freq(sg) < 2)
          out(i.toLong) == ((segs.size.toLong - kept.size, kept.mkString(" ")))
        }
      }
    })
  }
}
