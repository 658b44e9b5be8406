package graft

import graft.functions.{FloatDotProduct, GraftExtensions, VectorExpressions}
import org.apache.spark.sql.functions._

/** Native expression + optimizer-rule behavior. */
class VectorSpec extends SparkSuite {

  test("one function table: a GraftExtensions session carries every native name; register adds none") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    assert(spark.conf.get("spark.sql.extensions") == classOf[GraftExtensions].getName)
    val registry = spark.sessionState.functionRegistry
    val names = GraftExtensions.functions.map(_._1)
    assert(names.size == 10 && names.distinct == names)
    val missing = names.filterNot(n => registry.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"injected session lacks $missing")
    val before = registry.listFunction().toSet
    VectorExpressions.register(spark)
    assert(registry.listFunction().toSet == before)
  }

  test("graft_dot equals the HOF formulation bit-for-bit") {
    val s = spark; import s.implicits._
    VectorExpressions.register(spark)
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(0.1f, -0.2f, 0.3f), Array(-0.4f, 0.5f, 0.25f)))
      .toDF("a", "b")
      .withColumn("ad", col("a").cast("array<double>"))
      .withColumn("bd", col("b").cast("array<double>"))
    val out = df.select(
      expr("graft_dot(ad, bd)").as("native"),
      expr("aggregate(zip_with(ad, bd, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x)").as("hof"))
      .collect()
    out.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("graft_dot_long equals the HOF formulation; null array yields null") {
    val s = spark; import s.implicits._
    VectorExpressions.register(spark)
    val df = Seq(
      (Array(1024L, -512L, 768L), Array(256L, 512L, -64L)),
      (Array(0L, 0L, 0L), Array(7L, 8L, 9L)))
      .toDF("a", "b")
    val out = df.select(
      expr("graft_dot_long(a, b)").as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, x) -> acc + x)").as("hof"))
      .collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    val nul = df.select(expr("graft_dot_long(CAST(NULL AS ARRAY<BIGINT>), b)")).collect()
    assert(nul.forall(_.isNullAt(0)))
  }

  test("graft_bounded_lev: SQL-callable; equals least(levenshtein, k+1) on real text") {
    VectorExpressions.register(spark)
    val heads = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .limit(25).selectExpr("substring(text, 1, 80) AS h")
    val pairs = heads.crossJoin(heads.withColumnRenamed("h", "h2"))
    val bad = pairs.filter(
      expr("graft_bounded_lev(h, h2, 5) != least(levenshtein(h, h2), 6)")).count()
    assert(bad == 0)
    // null propagation + negative-bound clamp
    val edge = spark.sql(
      "SELECT graft_bounded_lev(CAST(NULL AS STRING), 'x', 3) AS a, " +
        "graft_bounded_lev('x', 'x', -2) AS b, graft_bounded_lev('x', 'y', -2) AS c")
      .collect().head
    assert(edge.isNullAt(0) && edge.getInt(1) == 0 && edge.getInt(2) == 1)
  }

  test("graft_nfc: composes decomposed sequences, identity on canonical text, null-safe") {
    val s = spark; import s.implicits._
    VectorExpressions.register(spark)
    val decomposed = "cafe\u0301"   // e + combining acute
    val precomposed = "caf\u00e9"   // U+00E9
    val stacked = "e\u0327\u0301" // e + combining cedilla + combining acute
    val df = Seq((decomposed, precomposed, stacked)).toDF("d", "p", "st")
    val r = df.selectExpr(
      "graft_nfc(d) AS a", "graft_nfc(p) AS b", "graft_nfc('plain ascii') AS c",
      "graft_nfc(CAST(NULL AS STRING)) AS n", "graft_nfc(st) AS e5")
      .collect().head
    assert(r.getString(0) == precomposed, "decomposed e+U+0301 composes to U+00E9")
    assert(r.getString(1) == precomposed, "precomposed input is untouched")
    assert(r.getString(2) == "plain ascii")
    assert(r.isNullAt(3), "null propagates")
    // JDK reference on the combining stack - whatever the spec says, match it
    val ref = java.text.Normalizer.normalize(stacked, java.text.Normalizer.Form.NFC)
    assert(r.getString(4) == ref)
  }


  test("graft_skeleton: Cyrillic/Latin homoglyph dups collapse to one key; NFKC folds fullwidth and ligatures") {
    val s = spark; import s.implicits._
    VectorExpressions.register(spark)
    val latin = "the secret cheap meds offer"
    // every a/e/o/p/c swapped for its Cyrillic homoglyph — byte-distinct,
    // visually identical; raw exact dedup and shingle dedup both miss it
    val cyrillic = latin.map {
      case 'a' => 'а'; case 'e' => 'е'; case 'o' => 'о'
      case 'p' => 'р'; case 'c' => 'с'; case ch => ch
    }
    assert(cyrillic != latin)
    val fullwidth = "ｏﬀｅｒ"  // fullwidth o/e + ligature ff (U+FB00)
    val df = Seq((latin, cyrillic, fullwidth, "MiXeD CаSe")).toDF("l", "cy", "fw", "mx")
    val r = df.selectExpr(
      "graft_skeleton(l) AS a", "graft_skeleton(cy) AS b",
      "graft_skeleton(fw) AS c", "graft_skeleton(mx) AS d",
      "graft_skeleton(CAST(NULL AS STRING)) AS n").collect().head
    assert(r.getString(0) == latin, "clean lowercase ASCII is its own skeleton")
    assert(r.getString(1) == latin, "homoglyph dup collapses onto the Latin key")
    assert(r.getString(2) == "offer", "NFKC folds fullwidth + ligature, then lowercase")
    assert(r.getString(3) == "mixed case", "uppercase homoglyphs lowered then mapped")
    assert(r.isNullAt(4), "null propagates")
    // the dedup claim itself: grouping by skeleton finds the planted pair
    val groups = Seq((0L, latin), (1L, cyrillic), (2L, "unrelated text"))
      .toDF("doc_id", "text")
      .selectExpr("graft_skeleton(text) AS k", "doc_id")
      .groupBy("k").count().collect().map(_.getLong(1)).sorted
    assert(groups.toSeq == Seq(1L, 2L), "skeleton exact-dedup groups the homoglyph pair")
  }

  test("SpecializeFloatDot rewrites cast form to FloatDotProduct with identical results") {
    VectorExpressions.register(spark)
    // parquet source (array<float>), so constant folding can't pre-evaluate
    val df = graft.engine.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"),
        expr("graft_dot(CAST(embedding AS array<double>), CAST(embedding AS array<double>))").as("d"))
    val optimized = df.queryExecution.optimizedPlan
    val hasSpecialized = optimized.expressions.exists(_.exists {
      case _: FloatDotProduct => true
      case _ => false
    })
    assert(hasSpecialized, s"expected FloatDotProduct in optimized plan:\n$optimized")
    // d = ||v||^2 — spot check positivity and finiteness over real data
    val vals = df.limit(50).collect().map(_.getDouble(1))
    assert(vals.forall(v => v > 0 && !v.isNaN && !v.isInfinite))
  }

  test("graft_dot null semantics: null array yields null") {
    val s = spark; import s.implicits._
    VectorExpressions.register(spark)
    val df = Seq((Some(Array(1.0, 2.0)), None: Option[Array[Double]]))
      .toDF("a", "b")
      .select(expr("graft_dot(a, b)").as("d"))
    assert(df.head().isNullAt(0))
  }

  test("TopKAggregator output is identical to the window-based top-k") {
    val winBased = graft.engine.RelOps.topKParts(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).toSeq
    val aggBased = graft.engine.RelOps.topKPartsAgg(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).toSeq
    assert(aggBased == winBased)
  }

  test("graft_argmax_cell equals the relational max_by argmax; ties break to the lower cid") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    VectorExpressions.register(spark)
    val dir = "/root/testdata/sf0.001"
    val all = graft.engine.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    // every 7th vector as a centroid — small mod so several cells populate
    val centRows = all.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id"), col("v"), col("nrm")).orderBy("vec_id").collect()
    val cents = centRows.toSeq.map(r =>
      graft.ext.IvfCentroidLit(r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "argmax_cell_test",
      exprs => graft.functions.ArgMaxCell(exprs(0), exprs(1), Literal.create(cents)),
      "scala_udf")
    val viaExpr = all.withColumn("cell", expr("argmax_cell_test(v, nrm)"))
      .select("vec_id", "cell")
    val centsDf = spark.createDataFrame(spark.sparkContext.parallelize(centRows.toSeq),
      centRows.head.schema)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"), col("nrm").as("cn"))
    val viaRel = all.crossJoin(broadcast(centsDf))
      .withColumn("ccos", expr("graft_dot(v, cv)") / (col("nrm") * col("cn")))
      .groupBy(col("vec_id")).agg(
        max_by(col("centroid_id"),
          struct(col("ccos"), (-col("centroid_id")).as("tb"))).as("cell"))
    val diff = viaExpr.exceptAll(viaRel).union(viaRel.exceptAll(viaExpr)).count()
    assert(diff == 0, s"argmax expression diverges from the relational form on $diff rows")

    // tie-break law: a vector equidistant from two identical centroids picks
    // the LOWER cid (the oracle's ORDER BY ccos DESC, centroid_id)
    val twin = Seq(
      graft.ext.IvfCentroidLit(9L, Seq(1.0, 0.0), 1.0),
      graft.ext.IvfCentroidLit(4L, Seq(1.0, 0.0), 1.0))
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "argmax_cell_twin",
      exprs => graft.functions.ArgMaxCell(exprs(0), exprs(1), Literal.create(twin)),
      "scala_udf")
    val s2 = spark; import s2.implicits._
    val picked = Seq((Seq(0.5, 0.5), math.sqrt(0.5)))
      .toDF("v", "nrm")
      .select(expr("argmax_cell_twin(v, nrm)").as("cell"))
      .head().getLong(0)
    assert(picked == 4L, s"tie must break to the lower cid, got $picked")
  }

  test("graft_argmin_cell equals the relational argmin; all-way ties break to the lowest cid; empty table -1") {
    val s = spark; import s.implicits._
    import graft.ext.CentroidLit
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.expressions.Window
    // deliberately NOT cid-sorted: the tie-break must come from the compare,
    // not the input order
    val cents = Seq(
      CentroidLit(3L, Seq(0L, 0L)),
      CentroidLit(1L, Seq(10L, 0L)),
      CentroidLit(7L, Seq(0L, 10L)))
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "test_km_argmin",
      exprs => graft.functions.ArgMinCellL2(exprs(0), Literal.create(cents)),
      "scala_udf")
    val qs = Seq(
      (0L, Seq(1L, 0L)),   // nearest (0,0) -> cid 3
      (1L, Seq(9L, 1L)),   // nearest (10,0) -> cid 1
      (2L, Seq(5L, 5L)),   // d = 50 to ALL three -> lowest cid 1
      (3L, Seq(0L, 11L)))  // nearest (0,10) -> cid 7
      .toDF("id", "q")
    val fast = qs.selectExpr("id", "test_km_argmin(q) AS cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val slow = qs.crossJoin(cents.toDF("cid", "cq"))
      .withColumn("d", expr(
        "aggregate(zip_with(q, cq, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("d"), col("cid"))))
      .filter(col("rn") === 1).select("id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == slow, "codegen argmin must equal the relational (dist, cid) argmin")
    assert(fast(2L) == 1L, "the all-way tie must resolve to the lowest cid")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "test_km_argmin_empty",
      exprs => graft.functions.ArgMinCellL2(
        exprs(0), Literal.create(Seq.empty[CentroidLit])),
      "scala_udf")
    val sentinel = qs.selectExpr("test_km_argmin_empty(q) AS cell")
      .collect().map(_.getLong(0)).toSet
    assert(sentinel == Set(-1L), "empty centroid table must yield the -1 sentinel")
  }

  test("graft_minhash_sig equals the interpreted HOF fold; under 3 words yields null") {
    val s = spark; import s.implicits._
    graft.functions.VectorExpressions.register(spark)
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b c",                       // exactly one shingle
      "dup dup dup dup",             // duplicate shingles (min is multiset-invariant)
      "too short").toDF("text").selectExpr("split(text, ' ') AS words")
    val hofSlots = graft.ext.Dedup.seedsAB.map { case (a, b) =>
      s"aggregate(hs, CAST(${graft.ext.Dedup.P} AS BIGINT), (acc, x) -> least(acc, (x * ${a}L + ${b}L) % ${graft.ext.Dedup.P}L))"
    }.mkString("array(", ", ", ")")
    val rows = docs
      // sequence(1, 0) is DESCENDING [1, 0], not empty — guard the short doc
      .withColumn("shs", expr(
        """CASE WHEN size(words) >= 3 THEN transform(sequence(1, size(words)-2),
          |  i -> concat_ws(' ', element_at(words, i), element_at(words, i+1), element_at(words, i+2)))
          |ELSE array() END""".stripMargin))
      .withColumn("hs", expr(
        "transform(shs, sh -> CAST(conv(substring(md5(sh), 1, 7), 16, 10) AS BIGINT))"))
      .selectExpr("graft_minhash_sig(words) AS fast",
        s"CASE WHEN size(words) >= 3 THEN $hofSlots END AS slow")
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), "null exactly when no shingle exists")
      if (!r.isNullAt(0))
        assert(r.getSeq[Long](0) == r.getSeq[Long](1),
          "codegen signature must equal the HOF fold bit-for-bit")
    }
    assert(rows.count(_.isNullAt(0)) == 1, "only the 2-word doc is null")
  }

  test("graft_gram_hashes: window equality, boundary safety, short docs empty") {
    val s = spark; import s.implicits._
    VectorExpressions.register(spark)
    // identical 3-word windows hash identically; all others differ
    val h = Seq("a b c d a b c").toDF("text")
      .selectExpr("graft_gram_hashes(split(text, ' '), 3) AS h")
      .collect()(0).getSeq[Long](0)
    assert(h.length == 5, "7 words -> 5 trigram positions")
    assert(h(0) == h(4), "equal word windows must hash equal")
    assert(h.distinct.length == 4, "the four distinct windows must differ")
    // word boundaries are hashed per word — the concat form's aliasing
    // (["a b","c"] vs ["a","b c"] both join to "a b c") cannot occur
    val alias = Seq(Tuple1(Seq("a b", "c")), Tuple1(Seq("a", "b c")))
      .toDF("arr").selectExpr("graft_gram_hashes(arr, 2)[0] AS g")
      .collect().map(_.getLong(0))
    assert(alias(0) != alias(1), "per-word hashing must see the boundary")
    // fewer than n words -> empty array (explodes to nothing), never null
    val short = Seq("a b").toDF("text")
      .selectExpr("graft_gram_hashes(split(text, ' '), 3) AS h").collect()(0)
    assert(!short.isNullAt(0) && short.getSeq[Long](0).isEmpty)
    // n = 1 degenerates to per-word hashes: repeated word -> repeated hash
    val uni = Seq("x y x").toDF("text")
      .selectExpr("graft_gram_hashes(split(text, ' '), 1) AS h")
      .collect()(0).getSeq[Long](0)
    assert(uni.length == 3 && uni(0) == uni(2) && uni(0) != uni(1))
  }

  test("bloom predicate: no false negatives, empty keys -> None, positions match scalar") {
    val s = spark; import s.implicits._
    import graft.functions.BloomProbes
    val keys = Seq(11L, 22L, 33L).toDF("gh")
    val bc = graft.engine.RelOps.bloomPredicate(keys, "gh").get
    val probe = Seq(
      (1L, Seq(11L, 5L, 22L)), // positions 1 and 3 are members
      (2L, Seq(7L, 8L)), // no members (modulo fpp, ~0 at this size)
      (3L, Seq(33L))).toDF("id", "hs")
    val pos = probe.select(col("id"), BloomProbes.positions(col("hs"), bc).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // every true member MUST survive (no false negatives)
    assert(pos(1L).contains(1) && pos(1L).contains(3))
    assert(pos(3L) == Seq(1))
    // the scalar form agrees with the array form position-by-position
    val scal = probe.select(col("id"), filter(sequence(lit(1), size(col("hs"))),
        i => BloomProbes.mightContain(element_at(col("hs"), i), bc)).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(pos == scal, "array and scalar bloom forms disagree")
    // empty key set -> None (caller emits a constant-false filter)
    assert(graft.engine.RelOps.bloomPredicate(
      keys.filter("gh < 0"), "gh").isEmpty)
  }

  test("graft_sq8 equals the transform/CASE HOF quantizer bit-for-bit") {
    val s = spark; import s.implicits._
    VectorExpressions.register(spark)
    // flat vector (mx = mn -> all zero), negatives, a boundary value at mx,
    // a single-element vector, an empty vector, and irregular doubles whose
    // (x-mn)*255/(mx-mn) lands near the 255 clamp
    val df = Seq(
      Seq(0.5, 0.5, 0.5, 0.5),
      Seq(-1.25, 0.0, 0.75, 2.0),
      Seq(1e-9, -1e-9, 0.3333333333333333, 0.9999999999),
      Seq(42.0),
      Seq.empty[Double],
      Seq(-0.0, 0.0, 1.0)
    ).toDF("v")
    val out = df.select(
      expr("graft_sq8(v)").as("native"),
      expr("""transform(v, x -> CASE WHEN array_max(v) = array_min(v) THEN 0
        ELSE CAST(least(floor((x - array_min(v)) * 255D / (array_max(v) - array_min(v))), 255D) AS INT) END)""").as("hof"))
      .collect()
    out.foreach { r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1),
        s"codes diverge: native=${r.getSeq[Int](0)} hof=${r.getSeq[Int](1)}")
    }
    // null array -> null, matching transform-over-null
    val nr = df.sparkSession.sql(
      "SELECT graft_sq8(CAST(NULL AS ARRAY<DOUBLE>))").head()
    assert(nr.isNullAt(0))
  }
  test("graft_md5_prefix equals conv(substring(md5, 1, n), 16, 10) bit-for-bit") {
    val s = spark; import s.implicits._
    VectorExpressions.register(spark)
    val rows = Seq("", "a", "hello world", "Customer#000000001",
      "élève café", "日本語 テスト",
      "j:three word shingle", "0:x", "a b c d e f g")
    val df = rows.toDF("t")
    Seq(1, 4, 7, 15).foreach { n =>
      val bad = df.filter(
        expr(s"graft_md5_prefix(t, $n) != CAST(conv(substring(md5(t), 1, $n), 16, 10) AS BIGINT)"))
        .count()
      assert(bad == 0, s"mismatch at nHex=$n")
    }
    // random strings, wider sweep through codegen
    val rand = spark.range(5000).selectExpr(
      "concat('s', CAST(id * 2654435761 % 1000003 AS STRING), repeat('x', CAST(id % 7 AS INT))) AS t")
    val bad = rand.filter(
      "graft_md5_prefix(t, 7) != CAST(conv(substring(md5(t), 1, 7), 16, 10) AS BIGINT)").count()
    assert(bad == 0)
    // null propagation
    val nul = spark.sql("SELECT graft_md5_prefix(CAST(NULL AS STRING), 7)").collect()
    assert(nul.head.isNullAt(0))
  }

  test("bitmap contains: long positions are range-checked before truncation") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    // one byte, all 8 bits set: valid positions are exactly 0..7
    val bc = spark.sparkContext.broadcast(Array[Byte](0xFF.toByte))
    val e = graft.functions.BitmapContainsLong(Literal(0L), bc)
    assert(e.test(0L) && e.test(7L))
    assert(!e.test(8L) && !e.test(-1L))
    // positions >= 2^32 must NOT alias into range via int truncation
    // (v.toInt of 2^32 is 0, of 2^32+3 is 3 — both would falsely hit)
    assert(!e.test(1L << 32))
    assert(!e.test((1L << 32) + 3L))
    assert(!e.test(Long.MaxValue))
  }

}
