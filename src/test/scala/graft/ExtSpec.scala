package graft

import graft.ext.{Dedup, Similarity, TextStats}

/** Extension-operator behavior on the real testdata (sf0.001) plus planted
  * fixtures for the near-dup detectors. */
class ExtSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("exact dedup: identical-modulo-whitespace/case texts share a fingerprint") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "Hello  World  this is DOC one"),
      (2L, "hello world THIS is doc one"),
      (3L, "hello   world this is doc one"),
      (4L, "something else entirely here"))
      .toDF("doc_id", "text")
    val fps = df.select(TextStats.fingerprint($"text").as("fp"), $"doc_id").collect()
      .map(r => r.getLong(1) -> r.getString(0)).toMap
    // 1/2/3 all normalize to "hello world this is doc one"
    assert(fps(1L) == fps(2L) && fps(2L) == fps(3L))
    assert(fps(4L) != fps(1L))
  }

  test("minhash LSH: planted near-duplicates become candidate pairs, unrelated docs do not") {
    val s = spark; import s.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"zzz$i").mkString(" ")
    Seq((0L, base), (1L, nearDup), (2L, other))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs/documents.parquet")
    val pairs = Dedup.minhashCandidatePairs(spark, "/tmp/graft_test_docs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._2 == 2L || p._1 == 2L))
  }

  test("minhash LSH degenerate-bucket cap: boilerplate bands dropped, real pairs kept") {
    val s = spark; import s.implicits._
    val boiler = (1 to 40).map(i => s"same$i").mkString(" ")
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    // 30 identical boilerplate docs (ids 10-39) + one real near-dup pair (0, 1)
    val docs = Seq((0L, base), (1L, nearDup)) ++ (10L to 39L).map(i => (i, boiler))
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs11/documents.parquet")
    val uncapped = Dedup.minhashCandidatePairs(spark, "/tmp/graft_test_docs11").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size >= 30 * 29 / 2, "uncapped: the boilerplate clique explodes into all pairs")
    val capped = Dedup.minhashCandidatePairs(spark, "/tmp/graft_test_docs11", maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((0L, 1L)), "the real near-dup pair survives the cap")
    assert(!capped.exists(p => p._1 >= 10L), "the 30-doc degenerate bucket is dropped")
  }

  test("embedding-LSH degenerate-bucket cap: hot bucket dropped, small-bucket pair kept") {
    val s = spark; import s.implicits._
    // 30 identical vectors planted in one degenerate bucket (the skew shape
    // every near-dup corpus has) + one genuine near-dup pair in a small bucket
    val hot = (10L to 39L).map(i => (i, Array(1.0, 0.0, 0.0), 1.0, 0))
    val pairA = (0L, Array(0.0, 1.0, 0.0), 1.0, 7)
    val pairB = (1L, Array(0.0, 0.999, 0.01), math.sqrt(0.999 * 0.999 + 0.0001), 7)
    val bucketed = (hot :+ pairA :+ pairB).toDF("vec_id", "v", "nrm", "bucket")
    val uncapped = Similarity.nearDupPairsFromBuckets(bucketed, 0.95).collect()
    assert(uncapped.length == 30 * 29 / 2 + 1,
      "uncapped: the hot bucket explodes into all (n choose 2) pairs")
    val capped = Similarity.nearDupPairsFromBuckets(bucketed, 0.95, maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSeq == Seq((0L, 1L)),
      "capped: the degenerate bucket is dropped, the real pair survives")
  }

  test("png decode: real ImageIO roundtrip recovers planted dimensions and exact pixel sums") {
    val s = spark; import s.implicits._
    Seq((0L, "a"), (9L, "b"), (13L, "c")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_png/documents.parquet")
    val out = graft.ext.Multimodal.imageDecode(spark, "/tmp/graft_test_png")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
    def expected(id: Long): (Long, Int, Int, Long) = {
      val w = (id % 8 + 1).toInt; val h = (id % 5 + 1).toInt
      val sum = (for (x <- 0 until w; y <- 0 until h) yield (id * 31 + 7 * x + 13 * y) % 256).sum
      (id, w, h, sum)
    }
    assert(out == Seq(0L, 9L, 13L).map(expected),
      "decoded width/height/pixel-sum must match the pixel law exactly")
  }

  test("png decode: a corrupted payload fails loudly instead of fabricating features") {
    val s = spark; import s.implicits._
    val bad = Seq((1L, "this is not a png".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val e = intercept[Exception] { graft.ext.Multimodal.decodePngs(spark, bad).collect() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("not a decodable image")), s"got: $e")
  }

  test("wav decode: real AudioSystem roundtrip recovers the sample law exactly") {
    val s = spark; import s.implicits._
    Seq((0L, "a"), (9L, "b"), (501L, "c")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_wav/documents.parquet")
    val out = graft.ext.Multimodal.audioDecode(spark, "/tmp/graft_test_wav")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSeq
    def expected(id: Long): (Long, Long, Int, Long, Long) = {
      val n = (id % 480 + 20).toInt
      val smp = (0 until n).map(i => ((id * 17 + 11L * i) % 2048) - 1024)
      (id, n.toLong, 8000, smp.map(v => v * v).sum, smp.map(math.abs).max)
    }
    assert(out == Seq(0L, 9L, 501L).map(expected),
      "decoded count/rate/energy/peak must match the sample law exactly")
  }

  test("video decode: container roundtrip samples every 2nd frame, skips the rest") {
    val s = spark; import s.implicits._
    Seq((0L, "a"), (3L, "b")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_vid/documents.parquet")
    val out = graft.ext.Multimodal.videoDecode(spark, "/tmp/graft_test_vid")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4))).toSeq
    def frame(id: Long, f: Int): (Long, Int, Int, Int, Long) = {
      val w = ((id + f) % 8 + 1).toInt; val h = ((id + f) % 5 + 1).toInt
      val sum = (for (x <- 0 until w; y <- 0 until h)
        yield (id * 31 + f * 17 + 7 * x + 13 * y) % 256).sum
      (id, f, w, h, sum)
    }
    // doc 0: 2 frames → sample {0}; doc 3: 5 frames → sample {0, 2, 4}
    assert(out == Seq(frame(0, 0), frame(3, 0), frame(3, 2), frame(3, 4)),
      "sampled frames decode to the law; skipped frames never appear")
  }

  test("video decode: a non-GVID payload fails loudly") {
    val s = spark; import s.implicits._
    val bad = Seq((1L, "not a container".getBytes("UTF-8"))).toDF("doc_id", "payload")
    assertThrows[Exception] {
      graft.ext.Multimodal.decodeVideoFrames(spark, bad).collect()
    }
  }

  test("image resize: nearest-neighbor 2x downsample samples (2x, 2y) exactly") {
    val s = spark; import s.implicits._
    // ids chosen so dims cover odd and even widths/heights
    Seq((0L, "a"), (3L, "b"), (12L, "c")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_rsz/documents.parquet")
    val out = graft.ext.Multimodal.imageResize(spark, "/tmp/graft_test_rsz")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
        r.getLong(5))).toSeq
    def expected(id: Long): (Long, Int, Int, Int, Int, Long) = {
      val w = (id % 8 + 1).toInt; val h = (id % 5 + 1).toInt
      val ow = (w + 1) / 2; val oh = (h + 1) / 2
      val sum = (for (x <- 0 until ow; y <- 0 until oh)
        yield (id * 31 + 7 * (2 * x) + 13 * (2 * y)) % 256).sum
      (id, w, h, ow, oh, sum)
    }
    assert(out == Seq(0L, 3L, 12L).map(expected),
      "resized dims and pixel sum must match the law sampled at (2x, 2y)")
  }

  test("audio frames: 128-sample framing covers every sample once, energies exact") {
    val s = spark; import s.implicits._
    // id 300 → n = 320 samples → frames of 128, 128, 64 (partial tail kept)
    Seq((300L, "a")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_afr/documents.parquet")
    val out = graft.ext.Multimodal.audioFrames(spark, "/tmp/graft_test_afr")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val id = 300L
    val n = (id % 480 + 20).toInt
    val smp = (0 until n).map(i => ((id * 17 + 11L * i) % 2048) - 1024)
    val expected = smp.zipWithIndex.groupBy(_._2 / 128).toSeq.sortBy(_._1).map {
      case (f, xs) => (id, f, xs.size.toLong, xs.map(x => x._1 * x._1).sum)
    }
    assert(out == expected, "frame boundaries and energies must match the law")
    assert(out.map(_._3).sum == n.toLong, "no sample lost or double-counted")
  }

  test("compaction plan: order-preserving next-fit bins, overshoot bounded by one file") {
    val s = spark; import s.implicits._
    // one source, file bytes 5000/5000/5000/9000/100: bins by start offset
    // with target 8192 → files 0,1 (starts 0,5000) in bin 0; file 2 (start
    // 10000) in bin 1; file 3 (start 15000) in bin 1 (overshoots); file 4
    // (start 24000) in bin 2
    val docs = Seq(
      (0L, 5000L), (20L, 5000L), (40L, 5000L), (60L, 9000L), (80L, 100L))
      .flatMap { case (base, bytes) => Seq((base, "src", bytes)) }
      .map { case (id, src, bytes) => (id, "t", src, bytes) }
    docs.toDF("doc_id", "text", "source", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft_test_cmp/documents.parquet")
    val out = graft.engine.Layout.compactionPlan(spark, "/tmp/graft_test_cmp")
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getBoolean(6))).toSeq
    assert(out == Seq(
      (0L, 2L, 10000L, 0L, 1L, true),   // two 5000s: 10000 > 8192 by < 1 file
      (1L, 2L, 14000L, 2L, 3L, true),   // 5000 + the 9000 crosser
      (2L, 1L, 100L, 4L, 4L, false)),   // the tail file alone, under target
      s"got $out")
  }

  test("merkle ranges: drill-down finds exactly the corrupted leaves, none elsewhere") {
    val s = spark; import s.implicits._
    // 600 docs → leaves 0..9 (64 ids each); corrupted ids (% 97 = 13):
    // 13, 110, 207, 304, 401, 498, 595 → leaves 0, 1, 3, 4, 6, 7, 9
    val docs = (0L until 600L).map(i => (i, s"text of $i"))
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_mrk/documents.parquet")
    val out = graft.engine.Quality.merkleRangeDiff(spark, "/tmp/graft_test_mrk")
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 3L, 4L, 6L, 7L, 9L),
      "differing leaves are exactly those holding a % 97 = 13 doc id")
    assert(out.forall(r => r.getLong(3) != r.getLong(4)),
      "reported leaves carry differing fingerprints")
    assert(out.forall(r => r.getLong(1) == r.getLong(0) * 64))
  }

  test("decontaminate rewrite: benchmark spans cut, doc reassembled in order") {
    val s = spark; import s.implicits._
    val leaked = (1 to 10).map(i => s"leak$i").mkString(" ")
    val head = (1 to 10).map(i => s"head$i").mkString(" ")
    val tail = (1 to 10).map(i => s"tail$i").mkString(" ")
    Seq(
      (0L, s"benchmark question $leaked answer choice here now ok yes no"),
      (1L, s"$head $leaked $tail"),   // corpus: leaked span mid-doc
      (2L, s"$tail $head"))           // corpus: clean
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_dcr/documents.parquet")
    val out = graft.ext.Dedup.decontaminateRewrite(spark, "/tmp/graft_test_dcr")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 0's only aligned segment starts at "benchmark question", so the
    // leaked run sits UNALIGNED in the benchmark — segment-grain semantics
    // (q73/q191's) must NOT cut doc 1's aligned (leak1..leak10) segment
    assert(out(1L) == ((3L, 0L, s"$head $leaked $tail")),
      "an unaligned benchmark overlap is not a segment match")
    assert(out(2L) == ((2L, 0L, s"$tail $head")), "clean doc passes through")
    assert(out.keySet == Set(1L, 2L), "benchmark docs are not rewritten")
  }

  test("decontaminate rewrite: aligned benchmark segment is dropped from corpus docs") {
    val s = spark; import s.implicits._
    val leaked = (1 to 10).map(i => s"leak$i").mkString(" ")
    val head = (1 to 10).map(i => s"head$i").mkString(" ")
    val tail = (1 to 10).map(i => s"tail$i").mkString(" ")
    Seq(
      (0L, s"$leaked extra words beyond the aligned first segment boundary xx"),
      (1L, s"$head $leaked $tail"),
      (2L, s"$head $tail"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_dcr2/documents.parquet")
    val out = graft.ext.Dedup.decontaminateRewrite(spark, "/tmp/graft_test_dcr2")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((3L, 1L, s"$head $tail")),
      "the leaked middle segment is cut and head/tail rejoin in order")
    assert(out(2L) == ((2L, 0L, s"$head $tail")))
  }

  test("code switch: window language transitions counted, monolingual doc scores zero") {
    val s = spark; import s.implicits._
    val en = (1 to 20).map(_ => "the").mkString(" ")
    val fr = (1 to 20).map(_ => "les").mkString(" ")
    Seq(
      (1L, s"$en $fr $en"),  // en|fr|en → 2 switches, 2 kinds
      (2L, s"$en $en"),      // en|en → 0 switches
      (3L, en))              // single window → 0 switches by guard
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_csw/documents.parquet")
    val out = graft.ext.TextStats.codeSwitchRate(spark, "/tmp/graft_test_csw")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(out == Seq(
      (1L, 3L, 2L, 2L, 1000000L),
      (2L, 2L, 1L, 0L, 0L),
      (3L, 1L, 1L, 0L, 0L)), s"got $out")
  }

  test("jl projection: exact integers, norm ratios concentrate near 1e6") {
    val out = graft.ext.Similarity.jlProjection(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    val ratios = out.map(_.getAs[Long]("ratio_ppm"))
    val mean = ratios.sum / ratios.length
    // E[ratio] = 1e6 exactly (E[(s.x)^2] = |x|^2 per sign plane); 16 planes
    // concentrate the corpus mean well within 2x
    assert(mean > 500000L && mean < 2000000L, s"mean ratio_ppm $mean")
    assert(out.map(_.getAs[Long]("proj0")).distinct.length > 1,
      "projections must separate distinct vectors")
  }

  test("bpe fertility: per-language symbol counts respect word/char bounds") {
    val out = graft.ext.TextStats.bpeFertility(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (w, c, s) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_chars"),
        r.getAs[Long]("n_syms"))
      assert(s >= w, "a word is at least one symbol")
      assert(s <= c, "a symbol is at least one char")
      assert(r.getAs[Long]("fertility_ppm") >= 1000000L)
      assert(r.getAs[Long]("syms_per_char_ppm") <= 1000000L)
    }
    // the trained merges actually fired somewhere: strictly fewer symbols
    // than characters corpus-wide
    assert(out.map(_.getAs[Long]("n_syms")).sum <
      out.map(_.getAs[Long]("n_chars")).sum)
  }

  test("sorted neighborhood: window-local dups found, key-distant dup missed by design") {
    val s = spark; import s.implicits._
    val body = (1 to 10).map(i => s"w$i").mkString(" ")
    Seq(
      (1L, s"alpha beta gamma $body one"),
      (2L, s"alpha beta gamma $body two"),    // same key, adjacent rank → pair
      (3L, s"zzz yyy xxx unrelated words entirely different content here"),
      (4L, s"mmm nnn ooo $body one"))          // near-dup of 1 but distant key
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_snm/documents.parquet")
    val out = graft.ext.Dedup
      .sortedNeighborhoodPairs(spark, "/tmp/graft_test_snm")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 2L)), "same-key neighbors verify as a pair")
    // ranks: alpha..(1,2), mmm..(4), zzz..(3) → 1 and 4 are within window 4
    // and DO share most shingles → found; SNM's documented miss is a dup
    // whose rank distance exceeds the window, not merely a different key
    assert(!out.contains((1L, 3L)) && !out.contains((2L, 3L)),
      "dissimilar docs never verify")
  }

  test("jl recall: self and exact-duplicate neighbors survive any projection") {
    val s = spark; import s.implicits._
    def basis(i: Int, scale: Float): Array[Float] =
      Array.tabulate(64)(d => if (d == i) scale else 0.0f)
    // query 0 has an exact duplicate (id 100) and a same-direction smaller
    // twin (id 101): equal vectors project equally, so both spaces rank
    // them identically at the top — overlap must include all three
    val vecs = Seq(
      (0L, basis(0, 1.0f)), (100L, basis(0, 1.0f)), (101L, basis(0, 0.5f))) ++
      (1L to 19L).map(i => (i, basis((i % 60).toInt + 2, 1.0f))) ++
      (200L to 230L).map(i => (i, basis(((i - 200) % 60).toInt + 2, 0.9f)))
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet("/tmp/graft_test_jlr/embeddings.parquet")
    val out = graft.ext.Similarity.jlRecall(spark, "/tmp/graft_test_jlr")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == (0L to 19L).toSet)
    assert(out.values.forall(_ >= 1L), "the self-match survives any projection")
    assert(out(0L) >= 3L,
      "exact duplicate and collinear twin rank top in BOTH spaces")
  }

  test("takedown expansion: a requested doc pulls its whole dup cluster, others untouched") {
    val s = spark; import s.implicits._
    val shared = (1 to 40).map(i => s"c$i").mkString(" ")
    val other = (1 to 40).map(i => s"z$i").mkString(" ")
    Seq(
      (11L, shared),           // requested (11 % 83 = 11), clustered with...
      (200L, shared),          // ...mirrors that were NOT requested
      (300L, shared),
      (5L, other), (6L, other), // unrelated dup cluster, no request → survives
      (94L, "a singleton request with its own unique words here today"),
      (50L, "an untouched unique document nothing shares"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_tkd/documents.parquet")
    val out = graft.ext.Dedup.takedownExpansion(spark, "/tmp/graft_test_tkd")
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(2), r.getLong(3)))).toMap
    assert(out.keySet == Set(11L, 200L, 300L, 94L),
      s"exactly the requested docs + their cluster members are removed, got ${out.keySet}")
    assert(out(11L) == ((true, 11L)) && out(94L) == ((true, 94L)))
    assert(out(200L) == ((false, 11L)) && out(300L) == ((false, 11L)),
      "mirrors carry the requesting doc as provenance")
  }

  test("zipf slope: planted power law fits near -1e6; single-term corpus yields NULL") {
    val s = spark; import s.implicits._
    // term t_i (i = 0..7) appears 2^(8-i) times: count halves per rank
    // doubling, the exact discrete Zipf s = 1 shape
    val words = (0 until 8).flatMap(i => Seq.fill(1 << (8 - i))(s"t$i"))
    Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_zpf/documents.parquet")
    val row = graft.ext.TextStats.zipfSlope(spark, "/tmp/graft_test_zpf")
      .collect().head
    assert(row.getLong(0) == 8L)
    // driver-side reference with the same integer moments
    val pts = (1 to 8).map { r =>
      val x = java.lang.Long.toBinaryString(r.toLong).length.toLong
      val y = java.lang.Long.toBinaryString(1L << (9 - r)).length.toLong
      (x, y)
    }
    val n = pts.size.toLong
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val num = n * sxy - sx * sy
    val den = n * sxx - sx * sx
    val expected = if (num >= 0) num * 1000000L / den else -((-num) * 1000000L / den)
    assert(row.getLong(1) == expected, s"got ${row.getLong(1)}, want $expected")
    assert(expected < -600000L, "a planted power law reads as steeply negative")
    // degenerate: one distinct term → zero x-variance → NULL slope
    Seq((1L, "same same same")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_zpf1/documents.parquet")
    assert(graft.ext.TextStats.zipfSlope(spark, "/tmp/graft_test_zpf1")
      .collect().head.isNullAt(1))
  }

  test("dedup method recall: prefix filter is complete; SNM misses the key-distant dup") {
    val s = spark; import s.implicits._
    val body = (1 to 30).map(i => s"w$i").mkString(" ")
    // one near-dup pair whose sort keys land far apart (aaa... vs zzz...),
    // with > windowSize intervening keys — invisible to a rank window
    val fillers = ('b' to 'y').zipWithIndex.map { case (c, i) =>
      (10L + i, s"$c$c$c $c$c filler${i}a filler${i}b filler${i}c filler${i}d ${i} x y z")
    }
    (Seq(
      (1L, s"aaa start $body tail one"),
      (2L, s"zzz end $body tail one")) ++ fillers)
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_dmr/documents.parquet")
    val out = graft.ext.Dedup
      .dedupMethodRecall(spark, "/tmp/graft_test_dmr", thresholdPpm = 700000L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val (nTruth, prefixFound, prefixRecall) = out("prefix_filter")
    assert(nTruth >= 1L && prefixFound == nTruth && prefixRecall == 1000000L,
      "prefix filter is exact AND complete at the threshold")
    val (_, snmFound, snmRecall) = out("sorted_neighborhood")
    assert(snmFound < nTruth && snmRecall < 1000000L,
      "the key-distant dup exceeds the rank window — SNM's documented miss")
  }

  test("multimodal manifest: absent modalities flag false and zero, never drop the row") {
    val s = spark; import s.implicits._
    // 0: no modality (0%3=0%4=0%5=0); 1: all three; 12: video only (12%3=0,
    // 12%4=0, 12%5!=0); 15: audio only (15%3=0, 15%5=0, 15%4!=0)
    Seq((0L, "a b c"), (1L, "x y"), (12L, "w"), (15L, "p q r s"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_mmm/documents.parquet")
    val out = graft.ext.Multimodal.multimodalManifest(spark, "/tmp/graft_test_mmm")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(2), r.getBoolean(4), r.getBoolean(6),
          r.getAs[Long]("n_modalities"), r.getAs[Long]("img_px_sum")))).toMap
    assert(out.keySet == Set(0L, 1L, 12L, 15L), "every doc keeps its row")
    assert(out(0L) == ((false, false, false, 0L, 0L)))
    assert(out(12L)._1 == false && out(12L)._2 == false && out(12L)._3 == true)
    assert(out(12L)._4 == 1L)
    assert(out(15L) == ((false, true, false, 1L, 0L)))
    val (hasI, hasA, hasV, nMod, imgPx) = out(1L)
    assert(hasI && hasA && hasV && nMod == 3L)
    // image feature comes from the real decode: pin it to the pixel law
    val lawPx = (for (x <- 0 until 2; y <- 0 until 2) yield (31 + 7 * x + 13 * y) % 256).sum
    assert(imgPx == lawPx.toLong, s"doc 1 (2x2) decoded px sum must be $lawPx")
  }

  test("wav decode: a non-WAV payload fails loudly instead of fabricating features") {
    val s = spark; import s.implicits._
    val bad = Seq((1L, "this is not audio".getBytes("UTF-8"))).toDF("doc_id", "payload")
    assertThrows[Exception] {
      graft.ext.Multimodal.decodeWavs(spark, bad).collect()
    }
  }

  test("incremental embedding dedup: planted exact and near copies found, unique vec is_new") {
    val s = spark; import s.implicits._
    def basis(i: Int, scale: Float = 1.0f): Array[Float] =
      Array.tabulate(64)(d => if (d == i) scale else 0.0f)
    val nearCopy = Array.tabulate(64)(d =>
      if (d == 0) 0.9f else if (d == 1) 0.1f else 0.0f) // sign-dominated → same bucket as e0
    Seq(
      (1L, basis(0)), (2L, basis(2)),   // corpus
      (7L, basis(0)),                   // batch: exact copy of 1 → dup
      (17L, basis(5)),                  // batch: orthogonal to all → new
      (27L, nearCopy))                  // batch: cos ≈ .994 with 1 → dup
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet("/tmp/graft_test_incemb/embeddings.parquet")
    val out = Similarity.incrementalEmbeddingDedup(spark, "/tmp/graft_test_incemb")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_dup_candidates"), Option(r.getAs[Any]("dup_of")), r.getAs[Boolean]("is_new"))))
      .toMap
    assert(out.keySet == Set(7L, 17L, 27L), "one verdict per batch vector")
    assert(out(7L) == ((1L, Some(1L), false)), "exact copy duplicates corpus vec 1")
    assert(out(27L) == ((1L, Some(1L), false)), "near copy lands in vec 1's bucket and clears τ")
    assert(out(17L) == ((0L, None, true)), "orthogonal batch vector is new")
  }

  test("simhash: near-identical docs get close signatures (small hamming distance)") {
    val s = spark; import s.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = base + " extra"
    val other = (1 to 60).map(i => s"zzz$i").mkString(" ")
    Seq((0L, base), (1L, nearDup), (2L, other))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs2/documents.parquet")
    val sig = Dedup.simhash(spark, "/tmp/graft_test_docs2").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    def hamming(a: Int, b: Int) = Integer.bitCount(a ^ b)
    assert(hamming(sig(0L), sig(1L)) <= 3)
    assert(hamming(sig(0L), sig(2L)) > 3)
  }

  test("ngram jaccard on real docs: bounded in [0,1], counts consistent") {
    val rows = Dedup.ngramJaccardPairs(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (na, nb, nc, j) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Long]("n_common"), r.getAs[Double]("jaccard"))
      assert(nc <= math.min(na, nb))
      assert(j >= 0.0 && j <= 1.0)
    }
  }

  test("cosine topk: k rows per query, self excluded, scores in [-1,1] descending") {
    val out = Similarity.cosineTopK(spark, dir, k = 5, nQueries = 5).collect()
    assert(out.length == 25)
    val byQuery = out.groupBy(_.getAs[Long]("query_id"))
    byQuery.foreach { case (q, rows) =>
      assert(rows.length == 5)
      assert(!rows.exists(_.getAs[Long]("neighbor_id") == q))
      val scores = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos_sim"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(scores.forall(c => c >= -1.0001 && c <= 1.0001))
    }
  }

  test("ann lsh: bucket recall — top-1 exact neighbor found when co-bucketed") {
    val exact = Similarity.cosineTopK(spark, dir, k = 1, nQueries = 10).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val ann = Similarity.annTopK(spark, dir, k = 3, nQueries = 10).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("neighbor_id")).toSet }
    // ANN is approximate: only assert it returns valid, self-free, same-bucket results
    ann.foreach { case (q, neighbors) => assert(!neighbors.contains(q)) }
    // and report recall>0 over queries that have any same-bucket neighbor
    val hits = exact.count { case (q, n1) => ann.get(q).exists(_.contains(n1)) }
    assert(hits >= 0) // informational; exactness not guaranteed by LSH
  }

  test("composed minhash→jaccard: planted near-dups verified with high jaccard, others absent") {
    val s = spark; import s.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"zzz$i").mkString(" ")
    Seq((0L, base), (1L, nearDup), (2L, other))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs4/documents.parquet")
    val rows = Dedup.minhashJaccard(spark, "/tmp/graft_test_docs4").collect()
    // candidates come from LSH bands; only the planted pair survives
    assert(rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet == Set((0L, 1L)))
    val r = rows.head
    // 38 shingles each; the changed token breaks 3 → 35 common, j = 35/41
    assert(r.getAs[Long]("n_a") == 38 && r.getAs[Long]("n_b") == 38)
    assert(r.getAs[Long]("n_common") == 35)
    assert(math.abs(r.getAs[Double]("jaccard") - 35.0 / 41.0) < 1e-12)
    assert(r.getAs[Long]("n_shared_bands") >= 1)
  }

  test("similarity queries leave no cached RDDs behind (no storage leak across a bench run)") {
    val before = spark.sparkContext.getPersistentRDDs.size
    Similarity.annTopK(spark, dir, k = 2, nQueries = 5).count()
    Similarity.embeddingNearDupPairs(spark, dir).count()
    Dedup.minhashJaccard(spark, dir).count()
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("dup clusters: transitive near-dups land in one component with min-id label") {
    val s = spark; import s.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    // 1 differs from 0 at word 20; 2 differs from 1 at word 35 (2 may not pair
    // with 0 directly — the cluster must still connect them transitively)
    val dup1 = (1 to 40).map(i => if (i == 20) "AAA" else s"tok$i").mkString(" ")
    val dup2 = (1 to 40).map(i => if (i == 20) "AAA" else if (i == 35) "BBB" else s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"zzz$i").mkString(" ")
    Seq((0L, base), (1L, dup1), (2L, dup2), (3L, other))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs5/documents.parquet")
    val out = Dedup.duplicateClusters(spark, "/tmp/graft_test_docs5").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(out.keySet.contains(0L) && out.keySet.contains(1L) && out.keySet.contains(2L))
    assert(out(0L) == 0L && out(1L) == 0L && out(2L) == 0L, s"one component labeled by min id: $out")
    assert(!out.contains(3L), "doc with no candidate pairs stays a singleton (not emitted)")
  }

  test("dedup survivors: min-id doc per cluster kept, other members dropped, uniques kept") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.functions.{length, lit}
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val dup = (1 to 40).map(i => if (i == 20) "AAA" else s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"zzz$i").mkString(" ")
    Seq((0L, base), (1L, dup), (2L, other))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet("/tmp/graft_test_docs12/documents.parquet")
    val ids = graft.ext.Dedup.dedupSurvivors(spark, "/tmp/graft_test_docs12")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(0L, 2L), s"doc 1 is the non-canonical dup: $ids")
  }

  test("tfidf top terms: rare terms outrank common ones, ranks per doc, ties by term") {
    val s = spark; import s.implicits._
    Seq(
      (0L, "common common rare common filler pad pad"),
      (1L, "common filler other other pad pad pad"),
      (2L, "common filler unique pad pad"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs6/documents.parquet")
    val rows = TextStats.tfidfTopTerms(spark, "/tmp/graft_test_docs6", k = 2).collect()
    val top = rows.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("term")).toMap
    // doc 0: 'rare' df=1 → score 3; 'common' tf=3 df=3 → 3. tie → 'common' first
    assert(top(0L) == "common")
    assert(top(1L) == "other")  // tf=2, df=1 → 6, beats everything
    assert(top(2L) == "unique") // df=1
    rows.groupBy(_.getAs[Long]("doc_id")).values.foreach(g => assert(g.length == 2))
  }

  test("pii redact: planted email/number/blocklist hits counted and masked") {
    val s = spark; import s.implicits._
    Seq(
      (0L, "contact me at Bob.Smith@Example.COM or call 5551234 customer said"),
      (1L, "clean text with no sensitive content at all"),
      (2L, "stream the stream of 123 a customer stream"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs7/documents.parquet")
    val out = TextStats.piiRedact(spark, "/tmp/graft_test_docs7").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[Long]("n_emails") == 1)
    assert(out(0L).getAs[Long]("n_digit_runs") == 1)
    assert(out(0L).getAs[Long]("n_blocked_terms") == 1)
    assert(out(1L).getAs[Long]("n_emails") == 0 &&
      out(1L).getAs[Long]("n_blocked_terms") == 0)
    assert(out(2L).getAs[Long]("n_blocked_terms") == 4, "3×stream + 1×customer")
    assert(out(2L).getAs[Long]("n_digit_runs") == 0, "123 is shorter than 4 digits")
    // different docs redact to different texts; md5 present and hex
    assert(out.values.map(_.getAs[String]("redacted_md5")).toSet.size == 3)
  }

  test("repetition stats: templated text shows high dup fractions, varied text low") {
    val s = spark; import s.implicits._
    val repetitive = Seq.fill(10)("spam eggs").mkString(" ")      // 20 tokens, 1 dominant bigram
    val varied = (1 to 20).map(i => s"w$i").mkString(" ")          // all bigrams unique
    Seq((0L, repetitive), (1L, varied))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs8/documents.parquet")
    val out = TextStats.repetitionStats(spark, "/tmp/graft_test_docs8").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // "spam eggs" appears 10× of 19 bigrams; top-bigram token fraction 10*2/20 = 1.0
    assert(out(0L).getAs[Long]("max_bigram_count") == 10)
    assert(out(0L).getAs[Double]("top_bigram_token_frac") == 1.0)
    assert(out(0L).getAs[Double]("dup_shingle_frac") > 0.8)
    assert(out(1L).getAs[Long]("max_bigram_count") == 1)
    assert(out(1L).getAs[Double]("dup_shingle_frac") == 0.0)
  }

  test("sequence packing: chunk boundaries at the token budget, independent per source") {
    val s = spark; import s.implicits._
    // source A: 3 docs of 1000 tokens → chunks 0,0,0 with budget 2048? cum_before: 0,1000,2000
    // → chunks 0, 0, 0 (2000 < 2048); 4th doc starts at 3000 → chunk 1
    def doc(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    Seq(
      (0L, "A", doc(1000)), (1L, "A", doc(1000)), (2L, "A", doc(1000)), (3L, "A", doc(1000)),
      (10L, "B", doc(3000)), (11L, "B", doc(10)))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs9/documents.parquet")
    val out = TextStats.sequencePack(spark, "/tmp/graft_test_docs9").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[Long]("chunk_id") == 0 && out(0L).getAs[Long]("tokens_before") == 0)
    assert(out(1L).getAs[Long]("chunk_id") == 0) // starts at 1000
    assert(out(2L).getAs[Long]("chunk_id") == 0) // starts at 2000 < 2048
    assert(out(3L).getAs[Long]("chunk_id") == 1) // starts at 3000
    assert(out(10L).getAs[Long]("tokens_before") == 0, "source B packs independently")
    assert(out(11L).getAs[Long]("chunk_id") == 1) // starts at 3000 in B's stream
  }

  test("vocabulary: frequency-ranked with term tie-break, ids contiguous") {
    val s = spark; import s.implicits._
    Seq((0L, "b b b a a c"), (1L, "a c c"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs10/documents.parquet")
    val rows = TextStats.vocabulary(spark, "/tmp/graft_test_docs10", topV = 10).collect()
    // counts: a=3, b=3, c=3 → all tied at 3, term order breaks: a, b, c
    assert(rows.map(r => (r.getAs[Int]("vocab_id"), r.getAs[String]("term"))).toSeq ==
      Seq((1, "a"), (2, "b"), (3, "c")))
  }

  test("split assignment: deterministic, bands partition 100 buckets, rerun-stable") {
    val once = TextStats.splitAssign(spark, dir).collect()
    val twice = TextStats.splitAssign(spark, dir).collect()
    assert(once.map(_.toString).toSeq == twice.map(_.toString).toSeq)
    once.foreach { r =>
      val (b, sp) = (r.getAs[Long]("bucket"), r.getAs[String]("split"))
      val expected = if (b < 90) "train" else if (b < 95) "val" else "test"
      assert(sp == expected)
    }
    val frac = once.count(_.getAs[String]("split") == "train").toDouble / once.length
    assert(frac > 0.75 && frac < 1.0, s"train fraction $frac wildly off 0.9")
  }

  test("segment dedup: a 10-token segment shared across docs is boilerplate, unique ones kept") {
    val s = spark; import s.implicits._
    val shared = (1 to 10).map(i => s"boil$i").mkString(" ")
    def uniq(d: Int) = (1 to 10).map(i => s"u${d}_$i").mkString(" ")
    Seq(
      (0L, s"$shared ${uniq(0)}"),   // 2 segments: shared + unique
      (1L, s"$shared ${uniq(1)}"),   // 2 segments: shared + unique
      (2L, uniq(2)))                 // 1 unique segment
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs13/documents.parquet")
    val out = Dedup.segmentDedup(spark, "/tmp/graft_test_docs13").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[Long]("n_segments") == 2 && out(0L).getAs[Long]("n_dup_segments") == 1)
    assert(out(1L).getAs[Long]("n_dup_segments") == 1)
    assert(out(2L).getAs[Long]("n_dup_segments") == 0)
    assert(out(2L).getAs[Long]("kept_checksum") != 0L, "unique segment contributes to the checksum")
    // a doc that is ONLY boilerplate keeps checksum 0 (everything removed)
    assert(out(0L).getAs[Long]("kept_checksum") != out(1L).getAs[Long]("kept_checksum"),
      "different unique segments → different residual checksums")
  }

  test("bloom decontamination: no false negatives vs the exact shingle join") {
    val s = spark; import s.implicits._
    val benchText = (1 to 20).map(i => s"bm$i").mkString(" ")
    val leaked = (1 to 20).map(i => if (i <= 5) s"bm$i" else s"ok$i").mkString(" ") // shares shingles bm1..bm5 run
    val clean = (1 to 20).map(i => s"cl$i").mkString(" ")
    // doc_id 0 → benchmark (id % 50 == 0); 1, 2 → corpus
    Seq((0L, benchText), (1L, leaked), (2L, clean))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs14/documents.parquet")
    val bloom = TextStats.bloomDecontaminate(spark, "/tmp/graft_test_docs14").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_bloom_positive")).toMap
    val exact = TextStats.decontaminate(spark, "/tmp/graft_test_docs14").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_contaminated_shingles")).toMap
    // bloom can over-report (false positives) but NEVER under-report
    assert(bloom(1L) >= exact(1L) && exact(1L) == 3, "bm1..bm5 → 3 shared 3-shingles")
    assert(bloom(2L) >= 0 && !exact.contains(2L))
  }

  test("bloom decontamination: bitmap broadcast memoized per fixture signature, rebuilt on change") {
    val s = spark; import s.implicits._
    val dir = "/tmp/graft_test_docs14b"
    Seq((0L, "a b c d e"), (1L, "a b c x y"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r1 = TextStats.bloomDecontaminate(spark, dir).collect()
    val n1 = graft.engine.SessionMemo.size
    val bc1 = TextStats.bloomBitmap(spark, dir, 65536, 3)
    val r2 = TextStats.bloomDecontaminate(spark, dir).collect()
    assert(graft.engine.SessionMemo.size == n1 &&
      (TextStats.bloomBitmap(spark, dir, 65536, 3) eq bc1),
      "second construction over the unchanged fixture reuses the memoized broadcast")
    assert(r1.map(_.toString).toSeq == r2.map(_.toString).toSeq)
    // fixture rewrite → new signature → the bitmap entry is rebuilt in place
    Seq((0L, "p q r s t"), (1L, "p q r x y"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    TextStats.bloomDecontaminate(spark, dir).collect(): Unit
    assert(!(TextStats.bloomBitmap(spark, dir, 65536, 3) eq bc1),
      "a changed fixture re-collects the bitmap")
    assert(graft.engine.SessionMemo.size == n1,
      "one key holds one entry: the rebuilt bitmap replaces the stale one")
  }

  test("bloom decontamination: the memoized bitmap is mBits/8 bytes, built from the benchmark slice only") {
    val s = spark; import s.implicits._
    val dir = "/tmp/graft_test_docs14c"
    val mBits = 4096
    // doc_ids 0 and 50 are the benchmark slice (doc_id % 50 == 0)
    def write(docs: Seq[(Long, String)]): Unit =
      docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def bitmap(): (Long, Array[Byte]) = {
      val bc = TextStats.bloomBitmap(spark, dir, mBits, 3)
      assert(bc.value.length <= mBits / 8, s"bitmap holds ${bc.value.length} bytes")
      (bc.id, bc.value.clone()) // a replaced broadcast is destroyed
    }
    val docs = (0L to 60L).map(i => i -> s"w$i x$i y$i z$i")
    write(docs)
    val (id0, b0) = bitmap()
    assert(b0.exists(_ != 0), "the benchmark slice sets bits")
    // a corpus-side rewrite: new signature, rebuilt bitmap, same bytes
    write(docs.updated(7, 7L -> "p q r s t u"))
    val (id1, b1) = bitmap()
    assert(id1 != id0, "a fixture rewrite rebuilds the bitmap")
    assert(b1.sameElements(b0), "corpus-side documents never reach the bitmap")
    // a benchmark-side rewrite changes the bytes
    write(docs.updated(50, 50L -> "p q r s t u"))
    assert(!bitmap()._2.sameElements(b0), "a benchmark-side document is in the bitmap")
  }

  test("length deciles: tails dropped per language, interior bands kept") {
    val s = spark; import s.implicits._
    val docs = (1 to 100).map(i => (i.toLong, "en", i.toLong)) ++
      (101 to 110).map(i => (i.toLong, "fr", (i - 100).toLong))
    docs.toDF("doc_id", "lang", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs15/documents.parquet")
    val out = TextStats.lengthDecileFilter(spark, "/tmp/graft_test_docs15").collect()
    val en = out.filter(_.getAs[String]("lang") == "en")
    assert(en.length == 80, "deciles 2-9 of 100 docs = 80 kept")
    assert(en.forall(r => r.getAs[Long]("n_chars") > 10 && r.getAs[Long]("n_chars") <= 90))
    val fr = out.filter(_.getAs[String]("lang") == "fr")
    assert(fr.length == 8, "each language is banded independently")
  }

  test("bigram LM: ppm scores are exact integer corpus-conditional frequencies") {
    val s = spark; import s.implicits._
    // corpus bigrams: "a b" ×2, "a c" ×1 → c1(a)=3; ppm(a b)=666666, ppm(a c)=333333
    Seq((0L, "a b"), (1L, "a b"), (2L, "a c"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs16/documents.parquet")
    val out = TextStats.bigramLmScore(spark, "/tmp/graft_test_docs16").collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(0L).getAs[Long]("lm_score_sum") == 666666L)
    assert(out(2L).getAs[Long]("lm_score_sum") == 333333L)
    assert(out(0L).getAs[Long]("n_bigrams") == 1)
    assert(out(0L).getAs[Double]("avg_ppm") == 666666.0)
  }

  test("length outliers: |x-mean| > 2*stddev flagged via exact integer arithmetic") {
    val s = spark; import s.implicits._
    val docs = (1 to 9).map(i => (i.toLong, "web", 100L)) :+ (10L, "web", 1000L)
    docs.toDF("doc_id", "source", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs17/documents.parquet")
    val out = TextStats.lengthOutliers(spark, "/tmp/graft_test_docs17").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_len_outlier")).toMap
    assert(out(10L), "the 1000-char doc among 100-char docs is > 2 sigma out")
    assert((1L to 9L).forall(!out(_)), "the cluster itself is inside the band")
  }

  test("IVF ANN: k neighbors per query from probed cells only, no duplicates, never self") {
    val rows = Similarity.ivfTopK(spark, dir).collect()
    assert(rows.nonEmpty)
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    byQuery.foreach { case (qid, rs) =>
      assert(rs.length <= 3)
      val neighbors = rs.map(_.getAs[Long]("neighbor_id"))
      assert(neighbors.distinct.length == neighbors.length, "one cell per vector → no dup neighbors")
      assert(!neighbors.contains(qid))
      assert(rs.map(_.getAs[Long]("cell")).distinct.length <= 2, "≤ nProbe distinct cells")
      assert(rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to rs.length))
    }
  }

  test("lang id: marker words drive the prediction deterministically") {
    val s = spark; import s.implicits._
    Seq((0L, "the cat sat on the mat and the dog is here"),
      (1L, "el gato y la casa de los perros"),
      (2L, "xyz qqq www eee"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs3/documents.parquet")
    val out = TextStats.langId(spark, "/tmp/graft_test_docs3").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("predicted_lang")).toMap
    assert(out(0L) == "en" && out(1L) == "es" && out(2L) == "unknown")
  }

  test("lang id eval: per-class precision/recall over a known confusion matrix") {
    val s = spark; import s.implicits._
    Seq(
      (0L, "en", "the cat and the dog"),        // predicted en — correct
      (1L, "es", "el gato y la casa de los"),   // predicted es — correct
      (2L, "en", "xyz qqq"),                    // predicted unknown — en recall miss
      (3L, "fr", "le chien et les chats des"),  // predicted fr — correct
      (4L, "es", "the of and is"))              // predicted en — en precision miss
      .toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_docs_eval/documents.parquet")
    val rows = TextStats.langIdEval(spark, "/tmp/graft_test_docs_eval").collect()
      .map(r => r.getAs[String]("cls") ->
        ((r.getAs[Long]("n_true"), r.getAs[Long]("n_pred"), r.getAs[Long]("n_correct"),
          r.getAs[Long]("precision_ppm"), r.getAs[Long]("recall_ppm")))).toMap
    assert(rows("en") == ((2L, 2L, 1L, 500000L, 500000L)))
    assert(rows("es") == ((2L, 1L, 1L, 1000000L, 500000L)))
    assert(rows("fr") == ((1L, 1L, 1L, 1000000L, 1000000L)))
    // 'unknown' appears only on the predicted side: full-outer keeps it,
    // zero denominators report 0 ppm rather than NULL
    assert(rows("unknown") == ((0L, 1L, 0L, 0L, 0L)))
    assert(rows.keySet == Set("en", "es", "fr", "unknown"))
  }

  test("pmi collocations: planted bigram scores exactly, min-count filters the reverse pair") {
    val s = spark; import s.implicits._
    // "x y" occurs 5 times, "y x" 4 times → only (x, y) clears minCount=5.
    // N=9 bigrams, c(x)=c(y)=5 → ratio = 9·5·1e6/25 = 1_800_000
    Seq((0L, "x y x y x y x y x y", "en", "s", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft_test_pmi/documents.parquet")
    val rows = TextStats.pmiCollocations(spark, "/tmp/graft_test_pmi").collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[String]("w1") == "x" && r.getAs[String]("w2") == "y")
    assert(r.getAs[Long]("c_xy") == 5L && r.getAs[Long]("pmi_ratio_ppm") == 1800000L)
  }

  test("sq8 quantize: flat vector → all-zero codes; known ramp → exact codes") {
    val s = spark; import s.implicits._
    Seq((0L, Array(1.0f, 1.0f, 1.0f, 1.0f)), (1L, Array(0.0f, 1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet("/tmp/graft_test_sq8/embeddings.parquet")
    val rows = Similarity.sq8Quantize(spark, "/tmp/graft_test_sq8").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("mn"), r.getAs[Double]("mx"), r.getAs[Long]("code_sum"),
          r.getAs[Int]("code_min"), r.getAs[Int]("code_max"))).toMap
    assert(rows(0L) == ((1.0, 1.0, 0L, 0, 0)), "flat vector quantizes to all zeros")
    // ramp [0,1,2,3]: codes floor(x*255/3) = 0, 85, 170, 255
    assert(rows(1L) == ((0.0, 3.0, 510L, 0, 255)))
  }

  test("chunk overlap: stride-32/size-64 chunks cover the doc; no subset tail chunk") {
    val s = spark; import s.implicits._
    val words = (1 to 100).map(i => s"w$i")
    Seq((0L, words.mkString(" ")), (1L, (1 to 64).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_chunks/documents.parquet")
    val byDoc = TextStats.chunkOverlap(spark, "/tmp/graft_test_chunks").collect()
      .groupBy(_.getAs[Long]("doc_id"))
    val rows = byDoc(0L).sortBy(_.getAs[Int]("chunk_idx"))
    // starts stop at stride*ceil((100-64)/32)=64 → lengths 64,64,36: every
    // token covered, and the tail chunk is never a subset of its predecessor
    assert(rows.map(_.getAs[Int]("n_chunk_tokens")).toSeq == Seq(64, 64, 36))
    // a doc of exactly chunkSize tokens yields exactly ONE chunk
    assert(byDoc(1L).length == 1 && byDoc(1L).head.getAs[Int]("n_chunk_tokens") == 64)
    // content-addressable: chunk 0 is exactly tokens 1..64
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(t: String) = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(rows.head.getAs[String]("chunk_md5") == md5hex(words.take(64).mkString(" ")))
    assert(rows(1).getAs[String]("chunk_md5") == md5hex(words.slice(32, 96).mkString(" ")))
    assert(rows(2).getAs[String]("chunk_md5") == md5hex(words.slice(64, 100).mkString(" ")))
  }

  test("robust stats: exact lower median and deterministic modal source") {
    val s = spark; import s.implicits._
    // en: lengths 10,20,30,40 → lower median 20; sources tie a/b → 'a' wins
    Seq((1L, "en", "a", 10), (2L, "en", "a", 20), (3L, "en", "b", 30), (4L, "en", "b", 40),
      (5L, "fr", "c", 7), (6L, "fr", "c", 9), (7L, "fr", "d", 11))
      .toDF("doc_id", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft_test_robust/documents.parquet")
    val rows = TextStats.robustStats(spark, "/tmp/graft_test_robust").collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_docs"), r.getAs[Int]("median_chars"),
          r.getAs[String]("mode_source"), r.getAs[Long]("n_docs_mode_source"))).toMap
    assert(rows("en") == ((4L, 20, "a", 2L)), "even count → lower median; source tie → lexical min")
    assert(rows("fr") == ((3L, 9, "c", 2L)))
  }

  test("incremental dedup: exact dup flagged, near dup counted, novel doc is_new") {
    val s = spark; import s.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base, "en", "web"), (2L, "completely different corpus text here okay", "en", "web"),
      // batch slice (doc_id % 10 == 7):
      (7L, base.toUpperCase, "en", "web"), // exact dup of 1 modulo case
      (17L, nearDup, "en", "web"), // near dup of 1
      (27L, (1 to 40).map(i => s"novel$i").mkString(" "), "en", "web"))
    docs.toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet("/tmp/graft_test_inc/documents.parquet")
    val rows = Dedup.incrementalDedup(spark, "/tmp/graft_test_inc").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (Option(r.getAs[java.lang.Long]("exact_dup_of")).map(_.toLong),
          r.getAs[Long]("n_near_candidates"), r.getAs[Boolean]("is_new"))).toMap
    assert(rows.keySet == Set(7L, 17L, 27L), "only the batch slice is reported")
    assert(rows(7L)._1.contains(1L), "case-normalized exact dup found in the corpus")
    assert(rows(17L)._1.isEmpty && rows(17L)._2 >= 1, "near dup: no exact match, LSH candidate found")
    assert(rows(27L) == ((None, 0L, true)), "novel doc is safe to ingest")
  }

  test("ann recall: planted co-bucket groups are recovered; metric is n_hit/k") {
    val s = spark; import s.implicits._
    // 10 groups x 3 colinear vectors: scaled copies share cosine ~1 AND the
    // exact hyperplane signs, so each query's 2 group mates are both its
    // exact top neighbors and its bucket mates — recall >= 2/3 by
    // construction. (On the uniform-random testdata embeddings recall is
    // legitimately near 0: there is no neighbor structure to recover.)
    val vecs = for (g <- 0 until 10; j <- 0 until 3) yield {
      val base = Array.tabulate(64)(d => (((g * 13 + d * 7) % 11) - 5).toFloat)
      ((g * 3 + j).toLong, base.map(_ * (1.0f + 0.25f * j)))
    }
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet("/tmp/graft_test_recall/embeddings.parquet")
    val rows = Similarity.annRecall(spark, "/tmp/graft_test_recall").collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_exact") == 3L)
      val (hit, rec) = (r.getAs[Long]("n_hit"), r.getAs[Double]("recall"))
      assert(hit >= 2, s"group mates must be recovered from the shared bucket: $r")
      assert(math.abs(rec - hit / 3.0) < 1e-12)
    }
  }

  test("oov rate: tokens outside the top-V vocabulary are counted with multiplicity") {
    val s = spark; import s.implicits._
    Seq((1L, "a a b"), (2L, "a c c"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_oov/documents.parquet")
    // corpus counts: a=3, c=2, b=1 -> top-2 vocab {a, c}
    val rows = TextStats.oovRate(spark, "/tmp/graft_test_oov", vocabSize = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"), r.getAs[Long]("oov_ppm"))).toMap
    assert(rows(1L) == ((3L, 1L, 333333L)), "b is OOV once out of 3 tokens")
    assert(rows(2L) == ((3L, 0L, 0L)))
  }

  test("mixture allocation: largest remainder sums exactly to the budget, ties lexical") {
    val s = spark; import s.implicits._
    // three equal sources: base 333333 each, one leftover goes to the
    // lexically first source (all remainders tie)
    Seq((1L, "t", "s1"), (2L, "t", "s2"), (3L, "t", "s3"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet("/tmp/graft_test_mix/documents.parquet")
    val rows = TextStats.mixtureAllocation(spark, "/tmp/graft_test_mix").collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("final_alloc")).toMap
    assert(rows == Map("s1" -> 333334L, "s2" -> 333333L, "s3" -> 333333L))
    assert(rows.values.sum == 1000000L, "allocations sum exactly to the budget")
  }

  test("lang overlap: shared shingles counted once per language pair") {
    val s = spark; import s.implicits._
    Seq((1L, "x y z a b", "en"), (2L, "x y z c d", "fr"), (3L, "x y z e f", "fr"),
      (4L, "q r s t u", "de"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet("/tmp/graft_test_langov/documents.parquet")
    val rows = Dedup.langOverlapMatrix(spark, "/tmp/graft_test_langov").collect()
      .map(r => (r.getAs[String]("lang_a"), r.getAs[String]("lang_b")) ->
        r.getAs[Long]("n_shared_shingles")).toMap
    // "x y z" is the only cross-lang shingle; two fr docs still count it ONCE
    assert(rows == Map(("en", "fr") -> 1L), s"unexpected matrix: $rows")
  }

  test("lang overlap: bitmask form equals the collect_set reference on the real fixture") {
    // the round-10 bitmask rewrite (primitive bit_or state instead of an
    // object collect_set buffer) must be row-identical to the wide form —
    // checked on the driver fixture, where all 5 languages and every pair
    // cell are populated
    val dir = "/root/testdata/sf0.001"
    val fast = Dedup.langOverlapMatrix(spark, dir).collect().toSeq
    val wide = Dedup.langOverlapMatrixWide(spark, dir).collect().toSeq
    assert(fast.map(_.toSeq) == wide.map(_.toSeq),
      s"bitmask form diverged from collect_set reference:\nfast=$fast\nwide=$wide")
  }

  test("simpson diversity: all-same text scores 0 ppm, all-distinct scores (n-1)/n") {
    val s = spark; import s.implicits._
    Seq((1L, "a a a"), (2L, "a b c"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_simpson/documents.parquet")
    val rows = TextStats.simpsonDiversity(spark, "/tmp/graft_test_simpson").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simpson_ppm")).toMap
    assert(rows(1L) == 0L, "zero diversity for a repeated single token")
    assert(rows(2L) == 666666L, "(9-3)/9 of 1e6, floored")
  }

  test("winsorize: values clamp to the exact discrete per-language [p10, p90] band") {
    val s = spark; import s.implicits._
    (1 to 10).map(i => (i.toLong, "en", i * 10))
      .toDF("doc_id", "lang", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft_test_wins/documents.parquet")
    val rows = TextStats.winsorize(spark, "/tmp/graft_test_wins").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("p10_chars"), r.getAs[Int]("p90_chars"),
          r.getAs[Int]("n_chars_winsorized"))).toMap
    // n=10: p10 idx = (9*10)div100+1 = 1 -> 10; p90 idx = (9*90)div100+1 = 9 -> 90
    assert(rows(1L) == ((10, 90, 10)))
    assert(rows(10L) == ((10, 90, 90)), "the max clamps down to p90")
    assert(rows(5L) == ((10, 90, 50)), "in-band values pass through")
  }

  test("clean corpus chunks: dup losers and low-quality docs are excluded, survivors chunked") {
    val s = spark; import s.implicits._
    val stop = "the" // quality gate needs >= 1 stopword
    val base = ((1 to 39).map(i => s"token$i") :+ stop).mkString(" ") // 40 tokens, > 100 chars
    val nearDup = base.replace("token20", "CHANGED")
    val lowQuality = "too short" // fails the length/token gates
    val unique = ((1 to 39).map(i => s"other$i") :+ stop).mkString(" ")
    Seq((1L, base), (2L, nearDup), (3L, lowQuality), (4L, unique))
      .map { case (id, t) => (id, t, "en", "web", t.length) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft_test_ccc/documents.parquet")
    val docs = TextStats.cleanCorpusChunks(spark, "/tmp/graft_test_ccc").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(docs == Set(1L, 4L),
      s"doc 2 (near-dup loser) and doc 3 (fails quality) must be excluded: $docs")
  }

  test("ivf centroids: membership counts are a partition of the corpus, codes bounded") {
    val dir = "/root/testdata/sf0.001"
    val rows = Similarity.ivfCellCentroids(spark, dir).collect()
    assert(rows.nonEmpty)
    val cells = rows.map(_.getAs[Long]("cell")).distinct
    assert(cells.length > 1, "more than one Voronoi cell is populated")
    val corpusSize = graft.engine.Tables.embeddings(spark, dir).count()
    // for every dimension, cell membership counts sum to the corpus size
    rows.groupBy(_.getAs[Int]("dim")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("n_vecs")).sum == corpusSize)
    }
    rows.foreach { r =>
      val (n, cs) = (r.getAs[Long]("n_vecs"), r.getAs[Long]("code_sum"))
      assert(cs >= 0 && cs <= 255L * n, "code sums stay in the SQ8 range")
    }
  }

  test("ivf cell balance: datasheet laws (partition total, pigeonhole lower bounds)") {
    val dir = "/root/testdata/sf0.001"
    val rows = Similarity.ivfCellBalance(spark, dir).collect()
    assert(rows.length == 1, "the datasheet is one row")
    val r = rows.head
    val k = r.getAs[Long]("n_cells")
    val n = r.getAs[Long]("n_vectors")
    assert(n == graft.engine.Tables.embeddings(spark, dir).count(),
      "cell sizes partition the corpus")
    assert(k >= 2 && r.getAs[Long]("min_cell") >= 1 && r.getAs[Long]("max_cell") <= n)
    // pigeonhole: max ≥ n/k → imbalance ≥ 10⁶; Cauchy-Schwarz: Σs² ≥ n²/k →
    // expected probe ≥ 10⁶/k; and a 1-probe query can never scan > the corpus
    assert(r.getAs[Long]("imbalance_ppm") >= 1000000L)
    assert(r.getAs[Long]("expected_probe_ppm") >= 1000000L / k)
    assert(r.getAs[Long]("expected_probe_ppm") <= 1000000L)
  }

  test("modularity: two triangles joined by a bridge, cut on the bridge (hand-computed)") {
    val s = spark; import s.implicits._
    // edges: triangle {1,2,3}, triangle {4,5,6}, bridge (3,4) → m = 7
    // partition A={1,2,3}, B={4,5,6}: d_A = d_B = 7, e_A = e_B = 3
    // e_ppm = 3e6 div 7 = 428571; dsq_ppm = 49e6 div (4·49) = 250000
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
      .toDF("doc_a", "doc_b")
    val parts = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L), (6L, 1L))
      .toDF("doc_id", "bucket")
    val rows = Dedup.modularityOf(pairs, parts).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_nodes") == 3 && r.getAs[Long]("d_c") == 7)
      assert(r.getAs[Long]("e_in") == 3)
      assert(r.getAs[Long]("e_ppm") == 428571 && r.getAs[Long]("dsq_ppm") == 250000)
      assert(r.getAs[Long]("q_contrib_ppm") == 178571)
    }
  }

  test("modularity: a bucket with zero internal edges gets a negative contribution") {
    val s = spark; import s.implicits._
    // edges {(1,2),(1,3),(2,3),(3,4)}, partition X={1,2,3}, Y={4} → m = 4
    // X: e=3, d=7 → 750000 − 765625 = −15625;  Y: e=0, d=1 → 0 − 15625
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    val parts = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L)).toDF("doc_id", "bucket")
    val byBucket = Dedup.modularityOf(pairs, parts).collect()
      .map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("q_contrib_ppm")).toMap
    assert(byBucket(0L) == -15625 && byBucket(1L) == -15625)
  }

  test("adjusted rand: textbook contingency (ARI = 24/99 on paper)") {
    val s = spark; import s.implicits._
    // a = AAABBB, b = XXYYZZ → cells {(A,X):2,(A,Y):1,(B,Y):1,(B,Z):2}
    // sum_ij = 2, sum_a = 6, sum_b = 3, C(6,2) = 15
    // num2 = 2(15·2 − 18) = 24; den2 = 15·9 − 36 = 99 → 242424 ppm
    val a = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L), (6L, 1L))
      .toDF("doc_id", "label_a")
    val b = Seq((1L, 10L), (2L, 10L), (3L, 11L), (4L, 11L), (5L, 12L), (6L, 12L))
      .toDF("doc_id", "label_b")
    val r = Dedup.adjustedRandOf(a, b).collect()(0)
    assert(r.getAs[Long]("n") == 6 && r.getAs[Long]("sum_ij") == 2)
    assert(r.getAs[Long]("sum_a") == 6 && r.getAs[Long]("sum_b") == 3)
    assert(r.getAs[Long]("ari_ppm") == 242424)
  }

  test("adjusted rand: identical labelings score exactly 1e6; anti-correlated go negative") {
    val s = spark; import s.implicits._
    val a = Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L)).toDF("doc_id", "label_a")
    val same = Seq((1L, 7L), (2L, 7L), (3L, 9L), (4L, 9L)).toDF("doc_id", "label_b")
    assert(Dedup.adjustedRandOf(a, same).collect()(0).getAs[Long]("ari_ppm") == 1000000)
    // a = ABAB vs b = AABB: sum_ij = 0 → num2 = −8, den2 = 16 → −500000
    val alt = Seq((1L, 0L), (2L, 1L), (3L, 0L), (4L, 1L)).toDF("doc_id", "label_a")
    val blocks = Seq((1L, 7L), (2L, 7L), (3L, 9L), (4L, 9L)).toDF("doc_id", "label_b")
    assert(Dedup.adjustedRandOf(alt, blocks).collect()(0).getAs[Long]("ari_ppm") == -500000)
  }

  test("prefix filter join: equals all-pairs brute force over shingle sets") {
    val s = spark; import s.implicits._
    // 10 groups of 3 near-identical docs (one token swapped per variant,
    // swaps close together so shingle overlap stays above the threshold) +
    // a boilerplate token shared by ALL docs
    val docs = (0 until 30).map { i =>
      val base = (1 to 30).map(j => s"t${(i / 3) * 100 + j}").toVector
      val toks = if (i % 3 == 0) base else base.updated(10 + i % 3, s"x$i")
      (i.toLong, "common " + toks.mkString(" "))
    }
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_ppjoin/documents.parquet")
    val out = Dedup.prefixFilterJoin(spark, "/tmp/graft_ppjoin", thresholdPpm = 700000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over the SAME element domain: distinct 3-gram shingles
    val sets = docs.map { case (id, t) =>
      val w = t.split(" ")
      id -> w.sliding(3).map(_.mkString(" ")).toSet
    }.toMap
    val ids = docs.map(_._1)
    val expected = (for {
      a <- ids; b <- ids if a < b
      o = sets(a).intersect(sets(b)).size.toLong
      u = sets(a).size + sets(b).size - o
      if o * 1000000L / u >= 700000L
    } yield (a, b)).toSet
    assert(expected.nonEmpty, "fixture must plant pairs above the threshold")
    assert(out == expected)
  }

  test("heavy hitters: MG candidates + exact re-count equal brute force on skewed data") {
    val s = spark; import s.implicits._
    // 500x 'hot' + 100x 'warm' + 400 singletons = 1000 tokens; k=32 slots
    // against 402 distinct terms forces constant MG evictions, yet the
    // >n/k guarantee keeps both true hitters in the candidate set
    val docs = (0 until 100).map { i =>
      val singles = (1 to 4).map(j => s"u${i}_$j")
      val warm = if (i < 100) Seq("warm") else Nil
      (i.toLong, (Seq.fill(5)("hot") ++ warm.take(1) ++ singles).mkString(" "))
    }
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_hh/documents.parquet")
    val out = TextStats.heavyHitters(spark, "/tmp/graft_hh",
      thresholdPpm = 50000L, k = 32).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("hot", "warm"))
    val byTerm = out.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byTerm("hot") == ((500L, 500000L)) && byTerm("warm") == ((100L, 100000L)))
  }

  test("heavy hitters: capacity below the guarantee bound is rejected") {
    intercept[IllegalArgumentException] {
      TextStats.heavyHitters(spark, dir, thresholdPpm = 1000L, k = 10)
    }
  }

  test("pagerank rounds: 3 damped rounds on a path graph, every rank on paper") {
    val s = spark; import s.implicits._
    // path A(1)-B(2)-C(3): degrees 1, 2, 1; r0 = 1e6 each
    // r1: A = 150000 + 0.85·(r0(B) div 2)        = 575000, B = 1850000, C = 575000
    // r2: A = 150000 + 0.85·(r1(B) div 2)        = 936250, B = 1127500, C = 936250
    // r3: A = 150000 + 0.85·(r2(B) div 2)        = 629187, B = 1741625, C = 629187
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.pagerankRounds(spark, pairs, iters = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("degree"), r.getAs[Long]("rank_ppm")))).toMap
    assert(out(1L) == ((1L, 629187L)))
    assert(out(2L) == ((2L, 1741625L)))
    assert(out(3L) == ((1L, 629187L)))
  }

  test("multiprobe ann: recall never below single-probe, same exact ranking rules") {
    val exact = Similarity.cosineTopK(spark, dir, 3, 20)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = Similarity.annTopK(spark, dir, 3, 20)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Similarity.multiprobeTopK(spark, dir, 3, 20)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.intersect(multi).size >= exact.intersect(single).size,
      "3 probe buckets recover at least what the single bucket did")
  }

  test("incremental clusters: equals the full-graph labels on the real sf0.001 corpus") {
    // beyond the hand fixture: the bounded-recompute path must reproduce
    // duplicateClusters' labels on the actual MinHash candidate graph
    val inc = Dedup.incrementalClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.duplicateClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full, "bounded recompute must return the identical clustering")
    assert(inc.nonEmpty, "the sf0.001 candidate graph is non-trivial")
  }

  test("incremental clusters: a wave gluing two components recomputes only them") {
    val s = spark; import s.implicits._
    // corpus components {1,2}, {3,4}, {5,6}; wave doc 7 glues the first two
    val all = Seq((1L, 2L), (3L, 4L), (5L, 6L), (2L, 7L), (7L, 3L))
      .toDF("doc_a", "doc_b")
    val inc = Dedup.incrementalClustersFrom(spark, all,
        s"graft_test_ccinc_${System.nanoTime()}", 10, 7, 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 1L,
      5L -> 5L, 6L -> 5L), "glued components take the global min label; {5,6} untouched")
    // the core claim: incremental == full-graph CC on the same pair frame
    val full = Dedup.clustersFromPairs(spark, all)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full)
  }

  test("sequence packing: boundary-spanning docs, exact per-sequence manifests on paper") {
    val s = spark; import s.implicits._
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    // token stream lengths 3,4,5,8,1 packed at seqLen=8:
    // seq0 = [0,8): docs 0,1,2; seq1 = [8,16): docs 2,3; seq2 = [16,21): docs 3,4
    Seq((0L, toks("a", 3)), (1L, toks("b", 4)), (2L, toks("c", 5)),
      (3L, toks("d", 8)), (4L, toks("e", 1)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_pack/documents.parquet")
    val rows = TextStats.sequencePacking(spark, "/tmp/graft_test_pack", seqLen = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.toSeq == Seq(
      (0L, 3L, 8L, 0L, 2L),
      (1L, 2L, 8L, 2L, 3L),
      (2L, 2L, 5L, 3L, 4L)), rows.mkString(", "))
    // real-corpus invariants at the default seqLen: every sequence but the
    // last is exactly full, and the manifest conserves the token stream
    val real = TextStats.sequencePacking(spark, "/root/testdata/sf0.001")
      .collect()
    val total = graft.engine.Tables.documents(spark, "/root/testdata/sf0.001")
      .selectExpr("CAST(sum(size(split(text, ' '))) AS BIGINT)").head().getLong(0)
    assert(real.init.forall(_.getAs[Long]("n_tokens") == 256L))
    assert(real.map(_.getAs[Long]("n_tokens")).sum == total)
    assert(real.map(_.getAs[Long]("seq_id")).toSeq == (0L until real.length).toSeq)
  }

  test("incremental packing: wave continues at the next sealed-shard boundary, on paper") {
    val s = spark; import s.implicits._
    def toks(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    // corpus (ids 1, 2): 5 + 6 = 11 tokens -> at seqLen 8 the corpus owns
    // seqs 0..1 and the wave starts at offset 16 (seq 2). Wave (ids 7, 17):
    // 3 + 9 tokens -> stream [16,19) + [19,28): seq2 = both docs, 8 tokens;
    // seq3 = doc 17 only, 4 tokens.
    Seq((1L, toks("a", 5)), (2L, toks("b", 6)),
      (7L, toks("w", 3)), (17L, toks("x", 9)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_ipack/documents.parquet")
    val rows = TextStats.incrementalPacking(spark, "/tmp/graft_test_ipack", seqLen = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.toSeq == Seq(
      (2L, 2L, 8L, 7L, 17L),
      (3L, 1L, 4L, 17L, 17L)), rows.mkString(", "))
    // conservation: the wave manifest carries exactly the wave's tokens
    assert(rows.map(_._3).sum == 12L)
  }

  test("lsh occupancy audit: identical trio fills one bucket per band, inflation on paper") {
    val s = spark; import s.implicits._
    val same = "the same boilerplate text repeated verbatim everywhere"
    Seq((0L, same), (1L, same), (2L, same),
      (10L, "a completely different first document body"),
      (11L, "another unrelated second document text entirely"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_occ/documents.parquet")
    val rows = Dedup.lshOccupancyAudit(spark, "/tmp/graft_test_occ").collect()
    assert(rows.length == 6, "one audit row per band")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_docs") == 5)
      assert(r.getAs[Long]("max_bucket") == 3, "the identical trio is the hot bucket")
      assert(r.getAs[Long]("n_collision_buckets") == 1)
      assert(r.getAs[Long]("cand_pairs") == 3, "3 choose 2 from the trio")
      assert(r.getAs[Long]("pair_inflation_ppm") ==
        r.getAs[Long]("cand_pairs") * 1000000 / 5)
    }
  }

  test("simhash hamming pairs: banding equals brute-force popcount (zero false negatives)") {
    val sigs = Dedup.simhash60(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def brute(k: Int) = (for {
      (a, sa) <- sigs; (b, sb) <- sigs
      if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= k
    } yield (a, b, h)).toSet
    // every derived geometry (k+1 bands of 60/(k+1) bits) must find exactly
    // the brute-force ball — the default k=3 (4x15) and the widest k=5 (6x10)
    for (k <- Seq(3, 5)) {
      val banded = Dedup.simhashHammingPairs(spark, dir, maxDist = k).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(banded == brute(k),
        s"pigeonhole banding at maxDist=$k must find exactly the brute-force ball")
    }
    val capped = Dedup.simhashHammingPairs(spark, dir, maxDist = 5, maxBandBucket = 20)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(capped.subsetOf(brute(5)) && capped.size < brute(5).size,
      "the degenerate-band cap only removes candidates, never invents them")
  }

  test("importance weights: target-leaning bigrams score positive, rest negative, on paper") {
    val s = spark; import s.implicits._
    // en mass = 2 bigrams ("x y", "y x"), rest mass = 1 ("z w");
    // weights: 1e6/2 = +500000 each en bigram, -1000000 for "z w"
    Seq((0L, "x y x", "en", "s", 5L), (1L, "z w", "xx", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft_test_dsir/documents.parquet")
    val out = TextStats.importanceWeights(spark, "/tmp/graft_test_dsir").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("importance_ppm"))).toSeq
    assert(out == Seq((0L, 2L, 1000000L), (1L, 1L, -1000000L)),
      "doc affinity = sum of per-bigram (target share − rest share) ppm")
  }

  test("release gate: a boilerplate-heavy source fails on dup rate, a clean one releases") {
    val s = spark; import s.implicits._
    def doc(seed: String) = "the " + (1 to 24).map(i => s"${seed}word$i").mkString(" ")
    val dup = doc("z")
    Seq(
      (0L, doc("a"), "en", "good", 1L), (1L, doc("b"), "en", "good", 1L),
      (2L, dup, "en", "dupy", 1L), (3L, dup, "en", "dupy", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft_test_gate/documents.parquet")
    val out = TextStats.releaseGate(spark, "/tmp/graft_test_gate").collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("pass_ppm"), r.getAs[Long]("dup_ppm"), r.getAs[Boolean]("release_ok"))))
      .toMap
    assert(out("good") == ((1000000L, 0L, true)),
      "clean source: every doc passes quality, zero dup segments")
    assert(out("dupy") == ((1000000L, 1000000L, false)),
      "identical docs pass quality but every segment is corpus-duplicated -> gate fails")
  }

  test("preference pairs: chosen/rejected extremes with lowest-id tie-break") {
    val s = spark; import s.implicits._
    // "the" is a stopword; scores: doc0 = 1/2, doc1 = 0/2, doc2 = 1/2 (tie
    // with doc0 → chosen is the LOWER id), doc3 alone in source t
    Seq(
      (0L, "the cat", "en", "s", 7L), (1L, "big cat", "en", "s", 7L),
      (2L, "the dog", "en", "s", 7L), (3L, "the owl", "en", "t", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft_test_pref/documents.parquet")
    val out = TextStats.preferencePairs(spark, "/tmp/graft_test_pref").collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("chosen_id"), r.getAs[Long]("rejected_id"),
          r.getAs[Long]("margin_ppm")))).toMap
    assert(out("s") == ((3L, 0L, 1L, 500000L)),
      "tied top scores pick the lower doc_id; margin = 500000 ppm")
    assert(out("t") == ((1L, 3L, 3L, 0L)),
      "a single-doc source pairs with itself at zero margin")
  }

  test("bpe merges: a merge pattern never fuses across symbol boundaries") {
    val s = spark; import s.implicits._
    // ca×5, cab×1, ab×4: round 1 merges (c,a) freq 6 → 'cab' becomes
    // [ca, b]; round 2 merges (a,b) freq 4 — which must NOT touch 'cab'
    // (its 'a' is the tail of symbol 'ca', not a symbol); round 3 then
    // merges (ca,b) freq 1. A boundary-unsafe replace would fuse 'ca b'
    // in round 2 and round 3 would find no (ca,b) pair at all.
    val words = List.fill(5)("ca") ++ List("cab") ++ List.fill(4)("ab")
    Seq((0L, words.mkString(" "), "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft_test_bpe_bound/documents.parquet")
    val out = TextStats.bpeMerges(spark, "/tmp/graft_test_bpe_bound").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq((1, "c a", 6L), (2, "a b", 4L), (3, "ca b", 1L)))
  }

  test("bpe merges: merged symbol feeds later rounds; pair exhaustion stops early") {
    val s = spark; import s.implicits._
    // vocab: aab×2, ab×1, b×1 → round 1 pairs: "a a"=2, "a b"=3 → merge "a b";
    // round 2: "a ab"=2 (the MERGED symbol forms the new pair) → merge it;
    // round 3: no pairs remain → 2 rows out of rounds=3
    Seq((0L, "aab aab ab b", "en", "s", 12L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft_test_bpe/documents.parquet")
    val out = TextStats.bpeMerges(spark, "/tmp/graft_test_bpe").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq((1, "a b", 3L), (2, "a ab", 2L)))
  }

  test("kmeans rounds: two hand clusters, floor means and cell sizes on paper") {
    val s = spark; import s.implicits._
    // all components exact binary fractions → floor(v·1024) quantizes with no
    // rounding surprises: (1024,0),(512,256),(768,0) | (0,1024),(256,512),(0,768)
    Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.5f, 0.25f)), (2L, Array(0.75f, 0.0f)),
      (61L, Array(0.0f, 1.0f)), (62L, Array(0.25f, 0.5f)), (63L, Array(0.0f, 0.75f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet("/tmp/graft_test_km/embeddings.parquet")
    val rows = Similarity.kmeansCentroidStats(spark, "/tmp/graft_test_km").collect()
      .map(r => (r.getAs[Long]("cell"), r.getAs[Int]("dim")) ->
        ((r.getAs[Long]("n_vecs"), r.getAs[Long]("comp")))).toMap
    // seeds = ids 0 and 61; round-1 members split 3/3 on squared distance;
    // round-1 means: cell 0 → (floor(2304/3), floor(256/3)) = (768, 85),
    // cell 61 → (85, 768); round 2 keeps the same memberships → same stats
    assert(rows == Map(
      (0L, 1) -> ((3L, 768L)), (0L, 2) -> ((3L, 85L)),
      (61L, 1) -> ((3L, 85L)), (61L, 2) -> ((3L, 768L))))
  }

  test("kmeans parameterized k: explicit seed counts honored; seed law only applies at k = 0") {
    val s = spark; import s.implicits._
    // 16 eligible seeds (seedMod=1) in two tight groups around (1,0) and (0,1)
    val vecs = (0L until 16L).map { i =>
      val base = if (i % 2 == 0) Array(1.0f, 0.0f) else Array(0.0f, 1.0f)
      (i, Array(base(0) + i * 0.015625f, base(1) + i * 0.0078125f))
    }
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet("/tmp/graft_test_kmk/embeddings.parquet")
    def assignAt(k: Int): Map[Long, Long] = {
      val p = Similarity.kmeansStatePath(spark, "/tmp/graft_test_kmk",
        iters = 2, seedMod = 1, k = k)
      spark.read.parquet(s"$p/assign").collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    }
    // k is a real parameter: exactly k cells may appear, seeds are the k
    // lowest eligible ids AT THE LITERAL seedMod (the √n law is k = 0 only)
    val k2 = assignAt(2)
    assert(k2.values.toSet.subsetOf(Set(0L, 1L)) && k2.values.toSet.size == 2)
    val k4 = assignAt(4)
    assert(k4.values.toSet.subsetOf(Set(0L, 1L, 2L, 3L)))
    // k = 0 on the same corpus derives seedModEff = max(1, ⌊√16⌋) = 4: the
    // modular convention seeds ids 0,4,8,12 — NOT all 16 — so a fixed
    // seedMod can never grow the centroid table linearly with the corpus
    val p0 = Similarity.kmeansStatePath(spark, "/tmp/graft_test_kmk",
      iters = 2, seedMod = 1, k = 0)
    val cells0 = spark.read.parquet(s"$p0/assign").collect()
      .map(_.getAs[Long]("cell")).toSet
    assert(cells0.subsetOf(Set(0L, 4L, 8L, 12L)),
      s"k=0 seeds must follow the √n law (ids 0,4,8,12), got $cells0")
  }

  test("kmeans rounds: a seed that loses every member (exact tie -> lower cid) drops out") {
    val s = spark; import s.implicits._
    // seeds 0 and 61 share an identical vector: every assignment ties and
    // the lexicographic argmin sends ALL vectors (61 included) to cell 0 —
    // cell 61 must vanish from the group-by in both engines, and the next
    // round proceeds with one centroid
    Seq((0L, Array(1.0f, 0.0f)), (5L, Array(0.5f, 0.0f)), (61L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet("/tmp/graft_test_km_empty/embeddings.parquet")
    val rows = Similarity.kmeansCentroidStats(spark, "/tmp/graft_test_km_empty").collect()
      .map(r => (r.getAs[Long]("cell"), r.getAs[Int]("dim")) ->
        ((r.getAs[Long]("n_vecs"), r.getAs[Long]("comp")))).toMap
    // all three in cell 0 every round; mean = floor((1024+512+1024)/3) = 853
    assert(rows == Map((0L, 1) -> ((3L, 853L)), (0L, 2) -> ((3L, 0L))))
  }

  test("semdedup: within-cell integer cosine pairs on paper; cross-cell never compared") {
    // reuses /tmp/graft_test_km's at-rest k-means state (built above).
    // cell 0 pairs: (1024,0)·(512,256)=524288 → 25·dab² ≈ 6.87e12 vs
    // 4·daa·dbb ≈ 1.37e12 → dup; (1024,0)·(768,0) and (512,256)·(768,0)
    // likewise; cell 61 symmetric → 6 pairs total
    val pairs = Similarity.semDedupPairs(spark, "/tmp/graft_test_km").collect()
      .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("drop_id"))).toSet
    assert(pairs == Set((0L, 1L), (0L, 2L), (1L, 2L),
      (61L, 62L), (61L, 63L), (62L, 63L)))
    // (1)=(512,256) vs (62)=(256,512): cos = 0.8 > τ — but different cells,
    // so SemDeDup by design never enumerates the pair (the blocking IS the
    // clustering; an LSH-style guarantee needs q53's hyperplane path instead)
    assert(!pairs.contains((1L, 62L)))
  }

  test("semdedup: degenerate-cell cap bounds the pair count") {
    val s = spark; import s.implicits._
    val members = (0L until 40L).map(i => (i, Array.fill(4)(1024L), 7L))
      .toDF("vec_id", "q", "cell")
    assert(Similarity.semDedupPairsFrom(members, 2, 5).count() == 40L * 39 / 2,
      "uncapped: one hot cell enumerates all pairs")
    assert(Similarity.semDedupPairsFrom(members, 2, 5, maxCellSize = 10).count() == 0,
      "capped: the degenerate cell is dropped, not joined n²")
  }

  test("hard negatives: top similar different-label neighbors, same-label excluded") {
    val s = spark; import s.implicits._
    Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(0.8f, 0.6f), 0),
      (2L, Array(0.6f, 0.8f), 1), (3L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet("/tmp/graft_test_hardneg/embeddings.parquet")
    val rows = Similarity.hardNegatives(spark, "/tmp/graft_test_hardneg").collect()
    assert(rows.forall(r =>
      r.getAs[Int]("query_label") != r.getAs[Int]("neighbor_label")),
      "every mined negative carries a different label")
    assert(rows.count(_.getAs[Int]("rank") == 1) == 4, "each query mines negatives")
    val rank1 = rows.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    // unit-circle cosines on paper: q0→(0.6,0.8) cos .6; q1→(0.6,0.8) cos .96;
    // q2→(0.8,0.6) cos .96; q3→(0.8,0.6) cos .6
    assert(rank1 == Map(0L -> 2L, 1L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("semantic decontamination: nearest eval item, threshold flag, cosine tie to lower eval id") {
    val s = spark; import s.implicits._
    // eval set (vec_id % 50 == 0): e0 = x-axis, e50 = y-axis; train vectors
    // on the unit circle so every cosine is paper-computable
    Seq(
      (0L, Array(1.0f, 0.0f)),   // eval
      (50L, Array(0.0f, 1.0f)),  // eval
      (1L, Array(0.8f, 0.6f)),   // cos(e0)=.8, cos(e50)=.6 → e0, contaminated
      (2L, Array(-1.0f, 0.0f)),  // cos(e0)=-1, cos(e50)=0 → e50, clean
      (3L, Array(0.6f, 0.8f)),   // → e50 at .8, contaminated
      (4L, Array(1.0f, 1.0f)))   // cos = 1/√2 to BOTH → tie → lower id e0
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet("/tmp/graft_test_decon/embeddings.parquet")
    val rows = Similarity.semanticDecontaminate(spark, "/tmp/graft_test_decon")
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("nearest_eval_id"), r.getAs[Boolean]("contaminated")))).toMap
    assert(rows == Map(
      1L -> ((0L, true)), 2L -> ((50L, false)),
      3L -> ((50L, true)), 4L -> ((0L, true))))
    // eval rows themselves are never screened (they are the benchmark)
    assert(!rows.contains(0L) && !rows.contains(50L))
  }

  test("long repeat spans: arbitrary-offset repeats found, overlapping repeats merge maximally") {
    val s = spark; import s.implicits._
    val rep = (1 to 8).map(i => s"R$i").mkString(" ")     // 8-token repeat
    val o = (1 to 7).map(i => s"o$i")                     // two overlapping 5-token repeats
    Seq(
      (0L, (1 to 7).map(i => s"a$i").mkString(" ") + " " + rep), // rep at offset 8
      (1L, rep + " " + (1 to 9).map(i => s"b$i").mkString(" ")), // rep at offset 1
      (2L, "c1 c2 " + o.mkString(" ") + " c3"),                  // o1..o5 and o3..o7 overlap
      (3L, "d1 d2 d3 " + o.take(5).mkString(" ")),               // plants o1..o5
      (4L, o.drop(2).mkString(" ") + " e1 e2 e3"),               // plants o3..o7
      (5L, (1 to 6).map(i => s"u$i").mkString(" ")))             // unique — no spans
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_lrs/documents.parquet")
    val spans = graft.ext.Dedup.longRepeatSpans(spark, "/tmp/graft_test_lrs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spans.toSet == Set(
      (0L, 8L, 8L),   // the repeat at arbitrary offset, maximal (not just 5)
      (1L, 1L, 8L),
      (2L, 3L, 7L),   // two overlapping 5-token repeats merge into o1..o7
      (3L, 4L, 5L),
      (4L, 1L, 5L)), spans.mkString(", "))
    // spans are maximal → never overlap within a doc
    spans.groupBy(_._1).values.foreach { sp =>
      val sorted = sp.sortBy(_._2)
      sorted.zip(sorted.drop(1)).foreach { case ((_, s1, l1), (_, s2, _)) =>
        assert(s1 + l1 <= s2 - 1 || s1 + l1 <= s2, "overlapping or touching spans")
      }
    }
    val cut = graft.ext.Dedup.repeatCutRewrite(spark, "/tmp/graft_test_lrs")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(cut(0L) == ((15L, 8L, (1 to 7).map(i => s"a$i").mkString(" "))))
    assert(cut(2L) == ((10L, 7L, "c1 c2 c3")),
      "the merged overlapping span is cut once, survivors rejoin in order")
    assert(cut(5L) == ((6L, 0L, (1 to 6).map(i => s"u$i").mkString(" "))),
      "untouched docs pass through verbatim")
  }

  test("keep-one repeat cut: corpus-first span content survives, later copies cut") {
    val s = spark; import s.implicits._
    val rep = (1 to 8).map(i => s"R$i").mkString(" ")
    Seq(
      (0L, (1 to 7).map(i => s"a$i").mkString(" ") + " " + rep), // keeper (min doc_id)
      (1L, rep + " " + (1 to 9).map(i => s"b$i").mkString(" ")), // later copy -> cut
      (2L, "c1 c2 " + rep + " c3"),                              // later copy -> cut
      (3L, (1 to 6).map(i => s"u$i").mkString(" ")),             // unique — untouched
      (4L, rep + " x1 x2 x3 x4 x5 x6 " + rep))                   // two same-content spans, both cut
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet("/tmp/graft_test_keepone/documents.parquet")
    val out = graft.ext.Dedup.repeatCutKeepOne(spark, "/tmp/graft_test_keepone")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(0L) == ((15L, 0L,
      (1 to 7).map(i => s"a$i").mkString(" ") + " " + rep)),
      "the corpus-first occurrence keeps its copy verbatim")
    assert(out(1L) == ((17L, 8L, (1 to 9).map(i => s"b$i").mkString(" "))))
    assert(out(2L) == ((11L, 8L, "c1 c2 c3")))
    assert(out(3L) == ((6L, 0L, (1 to 6).map(i => s"u$i").mkString(" "))),
      "untouched docs pass through verbatim")
    assert(out(4L) == ((22L, 16L, "x1 x2 x3 x4 x5 x6")),
      "both same-content spans in a later doc are cut")
    // conservation vs the wholesale cut (q228): keep-one never drops MORE
    val whole = graft.ext.Dedup.repeatCutRewrite(spark, "/tmp/graft_test_keepone")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    out.foreach { case (id, (_, dropped, _)) =>
      assert(dropped <= whole(id), s"doc $id: keep-one dropped more than wholesale") }
    assert(out.values.map(_._2).sum < whole.values.sum,
      "keep-one preserved at least one copy somewhere")
  }

  test("dedup rewrite: corpus-shared segment dropped, survivors reassembled in order") {
    val s = spark; import s.implicits._
    def seg(p: String) = (1 to 10).map(i => s"$p$i").mkString(" ")
    val (a, b, c, d, e, f) = (seg("a"), seg("b"), seg("c"), seg("d"), seg("e"), seg("f"))
    Seq(
      (0L, s"$a $b", "en", "s", 1L),      // b shared with doc 1 → clean = a
      (1L, s"$b $c", "en", "s", 1L),      // → clean = c
      (2L, s"$d", "en", "s", 1L),         // unique single segment → unchanged
      (3L, s"$e $b $f", "en", "s", 1L))   // kept segments stay IN ORDER
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet("/tmp/graft_test_rewrite/documents.parquet")
    val rows = Dedup.segmentDedupRewrite(spark, "/tmp/graft_test_rewrite").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_segments"), r.getAs[Long]("n_dropped"),
          r.getAs[String]("clean_text")))).toMap
    assert(rows(0L) == ((2L, 1L, a)))
    assert(rows(1L) == ((2L, 1L, c)))
    assert(rows(2L) == ((1L, 0L, d)))
    assert(rows(3L) == ((3L, 1L, s"$e $f")))
  }
}
