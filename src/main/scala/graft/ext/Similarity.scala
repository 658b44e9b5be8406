package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.functions.Native

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * array<float>, label).
  *
  * Two paths, mirroring how a production vector pipeline scales:
  *  - [[cosineTopK]]: brute-force exact top-k — the small-query-set baseline.
  *    The (tiny) query set is broadcast against one linear pass over the
  *    corpus; ranking shuffles only the candidate rows on query_id.
  *  - [[lshBuckets]] / [[annTopK]]: random-hyperplane LSH — the 100 TB path.
  *    Each vector hashes to an 8-bit bucket in one projection pass; candidate
  *    generation is an equi-join on the bucket (~1/256 of brute force).
  *
  * The ±1 hyperplane components are md5-parity-derived but — crucially —
  * computed ONCE on the driver and embedded as array literals in the plan
  * (64×8 = 512 md5 calls total), not per row: the naive in-expression form
  * costs |corpus| × 512 md5 calls (25M+ at sf0.1). The DuckDB oracle still
  * derives the same signs symbolically in SQL; both engines see identical
  * plane matrices.
  *
  * Dot products use the native codegen'd [[graft.functions.DotProduct]]
  * expression (`graft_dot`, one expression for float, double and bigint
  * arrays) — see that file for why the HOF form was replaced.
  */
/** One k-means centroid for [[Similarity.kmeansStatePath]]'s per-round
  * assignment literal: quantized integer components `cq`. Field order is the
  * `graft_argmin_cell` struct contract: (cid, cq). Top-level so
  * `typedlit` gets a stable TypeTag. */
case class CentroidLit(cid: Long, cq: Seq[Long])

/** One IVF coarse centroid for [[Similarity.assignCells]]'s typed-literal
  * argmax path (q72/q86): raw double components plus the precomputed norm.
  * Top-level so `typedlit` gets a stable TypeTag. Field order is the
  * `graft_argmax_cell` struct contract: (cid, cv, cn). */
case class IvfCentroidLit(cid: Long, cv: Seq[Double], cn: Double)

object Similarity {

  /** embedding as array<double> plus its L2 norm. `cast` (not a `transform`
    * lambda) keeps the projection in codegen; norms and dots use the native
    * [[graft.functions.DotProduct]] expression, the norm over the raw float
    * embedding (no cast copy). */
  private def vecs(spark: SparkSession, dir: String): DataFrame =
    withNorm(Tables.embeddings(spark, dir), col("vec_id"))

  /** `keep`, the embedding cast to array<double> as `v`, and its L2 norm
    * `nrm`, dotted from the raw float embedding in the same projection. */
  private[graft] def withNorm(df: DataFrame, keep: Column*): DataFrame =
    df.select(keep :+ col("embedding").cast("array<double>").as("v") :+
      sqrt(Native.dot(col("embedding"), col("embedding"))).as("nrm"): _*)

  private def cosQN: Column = Native.dot(col("qv"), col("nv")) / (col("qn") * col("nn"))

  /** Exact brute-force cosine top-k for query vectors vec_id < nQueries. */
  def cosineTopK(spark: SparkSession, dir: String, k: Int = 5, nQueries: Int = 20): DataFrame = {
    val all = vecs(spark, dir)
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val corpus = all.select(col("vec_id").as("neighbor_id"), col("v").as("nv"), col("nrm").as("nn"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    broadcast(q).crossJoin(corpus)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosQN)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Deterministic ±1 hyperplane component for (plane p, 1-based dim d):
    * parity of the last md5 hex digit of "p,d" — same derivation the oracle
    * SQL performs symbolically. */
  def planeSign(p: Int, d: Int): Double =
    if (Integer.parseInt(md5hex(s"$p,$d").substring(31), 16) % 2 == 1) 1.0 else -1.0

  private def planeLiteral(p: Int, dim: Int): String =
    (1 to dim).map(d => if (planeSign(p, d) > 0) "1D" else "-1D")
      .mkString("array(", ",", ")")

  /** Embedding dimensionality of the testdata `embeddings` table; it must
    * match `size(embedding)` exactly (a mismatched plane literal would zip
    * to NULL projections). */
  private val EmbeddingDim = 64

  /** LSH bucket per vector ([[lshPlanesFor]] bits): bit p = sign of the
    * projection onto (driver-precomputed) hyperplane p. The dim is the
    * constant [[EmbeddingDim]] (not probed with a per-call `head()` job —
    * that was an extra Spark job per invocation); a per-row guard raises if
    * the corpus dim disagrees, because a mismatched plane literal would zip
    * to NULL projections and silently collapse every vector into bucket 0
    * (degrading ANN to an all-pairs join). */
  def lshBuckets(spark: SparkSession, dir: String): DataFrame =
    // single source of truth: the bucket is DERIVED from the projection
    // array in [[lshProjections]] (which also owns the dim guard), so the
    // q33/q34/q53 bucketing and q177's multi-probe margins can never
    // disagree on plane signs or guard behavior
    lshProjections(spark, dir).drop("prj")

  /** ANN top-k: exact cosine ranking restricted to the query's LSH bucket.
    * The bucket table appears on both join sides and is served from the
    * at-rest index ([[lshProjectionsPath]]) — built once per embeddings
    * snapshot per session, so the two sides are two cheap
    * parquet reads, not two re-runs of the projection pass. */
  def annTopK(spark: SparkSession, dir: String, k: Int = 3, nQueries: Int = 20): DataFrame = {
    val all = lshBuckets(spark, dir)
    val q = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"), col("bucket"))
    val corpus = all.select(col("vec_id").as("neighbor_id"), col("v").as("nv"), col("nrm").as("nn"), col("bucket"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    broadcast(q).join(corpus, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosQN)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("bucket"), col("rank"), col("neighbor_id"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** Embedding-cosine near-duplicate dedup: candidate pairs come from the LSH
    * buckets (never all-pairs), pairs at cosine ≥ 0.95 mark the higher vec_id
    * as a duplicate of the lower, and survivors are the non-dominated ids.
    * Output: one row per duplicate pair found (may legitimately be empty on
    * corpora with no near-dups — the oracle computes the same set). Every
    * bucket is kept, matching the exhaustive oracle. */
  def embeddingNearDupPairs(spark: SparkSession, dir: String): DataFrame =
    nearDupPairsFromBuckets(
      graft.engine.Bucketing.readTable(spark, lshBucketedTable(spark, dir))
        .hint("merge"),
      0.95)

  /** Bucket-CLUSTERED at-rest form of the LSH index, for the consumers that
    * self-join it on `bucket` (q53). The flat parquet form
    * ([[lshProjectionsPath]]) leaves the pair join to exchange both sides at
    * query time, and each side carries the 64-double vector — the round-10
    * sf1000 probe measured that as q53's breach (37× for 10× rows): pair
    * mass grew only 8.4× (the plane law held — occupancy stayed ≤ 256), but
    * the 2 × 11 GB vector-payload shuffle + sort spill made the per-pair
    * cost grow 4.4× on top. Clustering the index on its bucket key at WRITE
    * time (Spark native bucketBy + sortBy via [[graft.engine.Bucketing]],
    * bucket count from the corpus-adaptive row law) makes the self-join
    * exchange-free at every later read — the once-per-drop cost model every
    * at-rest structure in this engine uses, and exactly how a production
    * vector store lays out its index (clustered by posting/cell key).
    * Results unchanged: layout is not semantics, the oracle agrees row for
    * row. Built once per embeddings snapshot per session, a
    * [[graft.engine.SessionMemo.atRest]] entry, so a rebuilt session (a new
    * catalog) builds its own. Returns the table name. */
  def lshBucketedTable(spark: SparkSession, dir: String): String =
    graft.engine.Bucketing.tableAt(graft.engine.SessionMemo.atRest(
        spark, ("lshbk", dir), s"$dir/embeddings.parquet") { p =>
      val idx = spark.read.parquet(lshProjectionsPath(spark, dir))
        .select(col("vec_id"), col("v"), col("nrm"), col("bucket"))
      // parquet metadata count — no full scan; sizes the file-bucket layout
      val buckets = graft.engine.Bucketing.bucketCountFor(idx.count())
      graft.engine.Bucketing.writeBucketed(idx, p, "bucket", buckets)
    })

  /** [[embeddingNearDupPairs]]'s pair machinery over any pre-bucketed frame
    * with (vec_id, v, nrm, bucket) — also the planted-degenerate-bucket test
    * surface (ExtSpec feeds a frame whose vectors all share one bucket and
    * asserts the cap bounds the candidate pair count).
    *
    * @param maxBucketSize if > 0, buckets holding more vectors are DROPPED
    *   before the within-bucket pair join — the same degenerate-bucket guard
    *   as [[graft.ext.Dedup.minhashCandidatePairs]]. The within-bucket join is
    *   (n_b²)/2 per bucket; on a skewed embedding distribution one hot bucket
    *   otherwise produces a pair blowup AQE can split but not shrink. A
    *   dropped bucket's vectors are that similar to EACH OTHER that the
    *   hyperplanes cannot separate them — at 100 TB the operational response
    *   is re-bucketing that slice with more planes, not enumerating its
    *   pairs. */
  def nearDupPairsFromBuckets(all: DataFrame, threshold: Double,
      maxBucketSize: Long = 0L): DataFrame = {
    // the bucket-size frame is ≤ 2^nPlanes rows — broadcast by construction;
    // with the at-rest index the sizing pass is one extra small parquet scan
    val kept =
      if (maxBucketSize <= 0) all
      else all.join(
        broadcast(all.groupBy(col("bucket"))
          .agg(count(lit(1)).as("bucket_n"))
          .filter(col("bucket_n") <= maxBucketSize)
          .select(col("bucket"))),
        Seq("bucket"), "left_semi")
    val a = kept.select(col("vec_id").as("vec_a"), col("v").as("qv"), col("nrm").as("qn"), col("bucket"))
    val b = kept.select(col("vec_id").as("vec_b"), col("v").as("nv"), col("nrm").as("nn"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", cosQN)
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** ANN recall@k — the evaluation harness every approximate index needs
    * beside it: per query, how many of the EXACT top-k neighbors
    * ([[cosineTopK]]) the LSH-bucketed [[annTopK]] recovered, for k = 3 and
    * the first 20 vectors as queries. Both sides are already-scaled
    * pipelines; the eval adds one (query_id, neighbor_id) equi-join over
    * 60 rows — negligible at any corpus size, so recall can be monitored
    * continuously in production. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = cosineTopK(spark, dir, k = 3)
      .select(col("query_id"), col("neighbor_id"))
    val ann = annTopK(spark, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    exact.join(ann, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"))
      .select(col("query_id"), col("n_exact"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact").cast("double")).as("recall"))
      .orderBy("query_id")
  }

  /** Corpus-adaptive hyperplane count (round 8, found by the sf100 gate):
    * with a FIXED plane count the expected bucket occupancy n/2^p grows
    * linearly with the corpus and every within-bucket pair join grows
    * QUADRATICALLY — q53 measured 55× for 10× rows at sf100 (2 M vectors in
    * 256 buckets ≈ 7.8 k per bucket ≈ 7.8 G candidate pairs). This is the
    * LSH face of the fixed-parameter defect class the k-means seedMod and
    * IVF nlist hit this round: an index parameter sized once must follow
    * the data.
    *
    * Law: the smallest p with expected occupancy n/2^p ≤ 256, floored at 8
    * (so every driver-tested fixture up to n = 65,536 keeps the original
    * 8-plane buckets — oracle results unchanged) and capped at 20 (1 M
    * buckets; past that a single hash table stops being the right
    * structure). Computed in EXACT integer arithmetic — bit_length of
    * ⌈n/256⌉ − 1 — because both engines must derive the identical count
    * (a float log2 could round differently at exact-power boundaries; the
    * oracle uses DuckDB's `length(bin(...))` of the same integer).
    *
    * The trade this dial makes is the single-table LSH trade: more planes
    * = bounded candidate mass but lower per-pair recall (a cos-0.95 pair
    * agrees on one plane w.p. ≈ 0.9, so recall ≈ 0.9^p). That is WHY the
    * family ships q90 (recall monitor) and q177 (multi-probe, which buys
    * the recall back at one table's footprint) beside the index — the
    * production response to a too-coarse OR too-fine table is measured
    * there, not guessed here. */
  def lshPlanesFor(n: Long): Int = {
    val m = (n + 255L) / 256L
    val bits = if (m <= 1L) 0
    else 64 - java.lang.Long.numberOfLeadingZeros(m - 1L)
    math.max(8, math.min(20, bits))
  }

  /** The LSH projection/bucket table materialized ONCE per embeddings
    * snapshot per session ([[graft.engine.SessionMemo.atRest]])
    * — the vector family's at-rest index, the same build-once cost model as
    * [[graft.ext.Dedup.candidatePairsPath]]'s band
    * index: q33/q34/q53/q90/q144/q177 all read this table instead of each
    * re-running the projection pass (nPlanes × 64-element dot products per
    * vector per consumer). At 100 TB this is exactly how a vector store
    * deploys — buckets are computed at ingest and kept beside the
    * embeddings. The plane count is derived from COUNT(*) via
    * [[lshPlanesFor]] (a STREAM appending to an existing index pins the
    * count the index was built with instead, [[bucketizeVectors]]). The
    * derived count is a [[graft.engine.SessionMemo]] entry: deriving it runs
    * a COUNT(*) job, and every consumer of the at-rest index (each
    * invocation) would otherwise pay that count just to NAME an index
    * already on disk. */
  def lshProjectionsPath(spark: SparkSession, dir: String): String = {
    val planes = graft.engine.SessionMemo(spark, ("lshPlanes", dir),
      s"$dir/embeddings.parquet")(lshPlanesFor(Tables.embeddings(spark, dir).count()))
    graft.engine.SessionMemo.atRest(spark, ("lshprj", dir),
        s"$dir/embeddings.parquet") { p =>
      bucketizeVectors(Tables.embeddings(spark, dir), planes)
        .write.mode("overwrite").parquet(p)
    }
  }

  /** [[lshBuckets]] plus the raw per-plane projection array — the margin
    * information multi-probe needs. Served from the at-rest index
    * ([[lshProjectionsPath]]); same guard, same plane literals; the bucket is
    * derived FROM the projections so the two can never disagree. */
  private def lshProjections(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Fs.readParquet(spark, lshProjectionsPath(spark, dir))

  /** Bucketize ANY (vec_id, embedding: array<float>) frame with the SHARED
    * plane literals — the index-build projection (one corpus scan, pure
    * codegen'd projection, no shuffle) exposed on its own, because
    * a streaming ingest (StreamsSpec) must hash an arriving micro-batch with
    * exactly the planes the at-rest index was built with, or its candidate
    * join is garbage. The plane count is EXPLICIT here (not the
    * [[lshPlanesFor]] law): an index's geometry is frozen at creation, and
    * a stream appending to it must pin that frozen count — deriving from a
    * growing corpus mid-stream would silently re-bucket later waves.
    * Output: vec_id, v (double), nrm, prj, bucket. */
  def bucketizeVectors(df: DataFrame, nPlanes: Int = 8): DataFrame = {
    val dim = EmbeddingDim
    val base = withNorm(df, col("vec_id"))
    val prjArr = (0 until nPlanes).map { p =>
      s"aggregate(zip_with(v, ${planeLiteral(p, dim)}, (x, s) -> x * s), " +
        "CAST(0 AS DOUBLE), (a, x) -> a + x)"
    }.mkString("array(", ", ", ")")
    val guarded = s"CASE WHEN size(v) <> $dim THEN " +
      s"CAST(raise_error(concat('lshProjections: embedding dim ', " +
      s"CAST(size(v) AS STRING), ' != configured $dim')) AS ARRAY<DOUBLE>) " +
      s"ELSE $prjArr END"
    val bucket = (0 until nPlanes).map { p =>
      s"(CASE WHEN element_at(prj, ${p + 1}) > 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString("CAST((", " + ", ") AS INT)")
    base.select(col("vec_id"), col("v"), col("nrm"), expr(guarded).as("prj"))
      .withColumn("bucket", expr(bucket))
  }

  /** Multi-probe LSH ANN top-k (q177): each query searches its own bucket
    * PLUS the two buckets obtained by flipping the hyperplane bits with the
    * smallest projection margin — the planes the vector most nearly
    * straddles, exactly where its near neighbors land when they fall on the
    * other side (Lv et al., "Multi-Probe LSH", VLDB 2007). Recall approaches
    * what 3 independent hash tables would give, at the index footprint and
    * build cost of ONE table — the memory/recall trade a 100 TB vector store
    * actually wants.
    *
    * Probe derivation is pure integer/array projection: i1 = argmin |prj|,
    * i2 = argmin over the remainder (first-match tie-break, identical in
    * both engines on identical doubles); probes = bucket ⊕ 2^i1, ⊕ 2^i2.
    * The three probe buckets are distinct by construction, so a corpus
    * vector (one bucket) matches at most one probe — no dedup stage needed.
    * The probe explode multiplies only the BROADCAST query side by 3; the
    * corpus side still makes one pass, hashed on bucket. */
  def multiprobeTopK(spark: SparkSession, dir: String, k: Int = 3,
      nQueries: Int = 20): DataFrame = {
    val all = lshProjections(spark, dir)
    val q = all.filter(col("vec_id") < nQueries)
      .withColumn("absl", expr("transform(prj, x -> abs(x))"))
      .withColumn("i1", expr("CAST(array_position(absl, array_min(absl)) - 1 AS INT)"))
      .withColumn("absl2", expr(
        "transform(sequence(0, size(absl) - 1), " +
          "i -> IF(i = i1, CAST('Infinity' AS DOUBLE), element_at(absl, i + 1)))"))
      .withColumn("i2", expr("CAST(array_position(absl2, array_min(absl2)) - 1 AS INT)"))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(expr(
          "array(bucket, bucket ^ shiftleft(1, i1), bucket ^ shiftleft(1, i2))"))
          .as("bucket"))
    val corpus = all.select(col("vec_id").as("neighbor_id"), col("v").as("nv"),
      col("nrm").as("nn"), col("bucket"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    broadcast(q).join(corpus, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosQN)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** Bucket histogram — the observability query for LSH balance (skew here is
    * what would motivate salting at scale). */
  def lshBucketStats(spark: SparkSession, dir: String): DataFrame =
    lshBuckets(spark, dir)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy("bucket")

  /** Per-vector SQ8 codes (shared by [[sq8Quantize]] and
    * [[ivfCellCentroids]]): scalar quantization of each component into 0..255
    * against the vector's own [mn, mx] range. `floor` + `least` clamp instead
    * of `round`: floor on identical IEEE doubles is bit-deterministic across
    * engines, with no rounding-mode semantics to match. A flat vector
    * (mx = mn) quantizes to all-zero codes. */
  /** Round 10: the HOF form —
    * `transform(v, x -> CASE WHEN mx = mn THEN 0 ELSE
    * CAST(least(floor((x - mn) * 255D / (mx - mn)), 255D) AS INT) END)` —
    * was replaced by the codegen expression
    * [[graft.functions.Sq8Codes]] (`graft_sq8`). CollapseProject inlined the
    * mn/mx aliases into the interpreted lambda, which then re-evaluated
    * array_min/array_max PER ELEMENT: an O(dim²) per-row tax the sf1000
    * probe surfaced as 20-minute q86 tasks parked in ArrayMin.nullSafeEval.
    * Identical double arithmetic order inside the expression → codes are
    * bit-for-bit the old values; every oracle unchanged. */
  private def sq8Codes: Column = Native.sq8(col("v"))

  /** SQ8 scalar quantization of the embedding column — the compression step a
    * 100 TB vector store applies before indexing (4x smaller than float32,
    * 8x smaller than the double working form). Pure per-row projection:
    * no shuffle, stays in whole-stage codegen, scales linearly.
    * Output: per-vector quantization params + integer code statistics (the
    * exact-integer identity of the quantized vector, oracle-checkable). */
  def sq8Quantize(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir)
      .select(col("vec_id"), col("v"),
        array_min(col("v")).as("mn"), array_max(col("v")).as("mx"))
      .withColumn("codes", sq8Codes)
      .select(
        col("vec_id"), col("mn"), col("mx"),
        size(col("codes")).as("n_dims"),
        expr("aggregate(codes, 0L, (a, x) -> a + x)").as("code_sum"),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"))
      .orderBy("vec_id")

  /** Higher-order-function suite over the SQ8 code arrays (q106): L1 mass,
    * saturation counts, argmax dimension, total variation — the per-vector
    * diagnostics a vector store computes when validating a quantized index
    * segment. Everything stays in `transform`/`filter`/`aggregate`/`sequence`
    * over the array column: per-row projection, no explode (so no row-count
    * blowup), no shuffle before the output sort, whole-stage codegen
    * throughout. Integer code space makes every stat oracle-exact. */
  def vectorOps(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir)
      .select(col("vec_id"), col("v"),
        array_min(col("v")).as("mn"), array_max(col("v")).as("mx"))
      .withColumn("codes", sq8Codes)
      .select(
        col("vec_id"),
        expr("aggregate(codes, 0L, (a, x) -> a + x)").as("l1_code"),
        expr("size(filter(codes, x -> x >= 192))").cast("int").as("n_hi"),
        expr("size(filter(codes, x -> x = 0))").cast("int").as("n_zero"),
        expr("array_position(codes, array_max(codes))").cast("int").as("argmax_dim"),
        // guarded: sequence(1, 0) would DESCEND ([1,0] → element_at index 0)
        // on a 1-dim vector rather than produce an empty list
        expr("""CASE WHEN size(codes) <= 1 THEN 0L
              ELSE aggregate(transform(sequence(1, size(codes) - 1),
                i -> abs(element_at(codes, i + 1) - element_at(codes, i))),
              0L, (a, x) -> a + x) END""").as("total_variation"))
      .orderBy("vec_id")

  /** Corpus-adaptive centroid sample shared by the IVF pair (q72/q86):
    * `vec_id % mod == 0` with `mod = max(31, floor(sqrt(n)))`, so the cell
    * count follows the standard IVF sizing nlist ≈ √n (FAISS guideline:
    * assignment work n·nlist = n^1.5, expected cell size √n — both probe cost
    * and assignment cost grow with the SAME √n factor). The round-8 sf10 gate
    * caught the original FIXED mod 31: a linearly-growing centroid table makes
    * assignment n²/31 dots (at 200 k vectors that was 1.3 G candidate rows —
    * 103-160× for 10× data). The floor keeps small fixtures on the original
    * sample (mod 31 up to n = 961), so the sf0.01 oracle results are
    * unchanged; the oracle derives the same law from COUNT(*).
    *
    * The sample is COLLECTED — nlist rows bounded by √n, never corpus-sized:
    * the same driver-seed contract as the k-means centroid loop below, and
    * the same deployment shape as every real IVF implementation, which holds
    * the coarse-quantizer table in RAM on every node. The loud require is the
    * k-means seedless-corpus guard: an empty sample would otherwise surface
    * as [[graft.functions.ArgMaxCell]]'s -1 sentinel cell. */
  private def centroidLits(all: DataFrame, spark: SparkSession): Seq[IvfCentroidLit] = {
    val n = all.count()
    val mod = math.max(31L, math.floor(math.sqrt(n.toDouble)).toLong)
    val rows = all.filter(col("vec_id") % mod === 0)
      .select(col("vec_id"), col("v"), col("nrm")).orderBy("vec_id").collect()
    require(rows.nonEmpty, s"ivf: no centroid sample (vec_id % $mod == 0) in the corpus")
    rows.toSeq.map(r => IvfCentroidLit(r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
  }

  /** The collected sample back as a DataFrame — the probe-selection side of
    * [[ivfTopK]] ranks it relationally (nQueries × nlist rows). */
  private def centroidFrame(spark: SparkSession, cents: Seq[IvfCentroidLit]): DataFrame = {
    import spark.implicits._
    cents.toDF("centroid_id", "cv", "cn")
  }

  /** Nearest-centroid cell id per vector as a PURE PROJECTION: the √n-sized
    * centroid sample rides as one typed literal and
    * [[graft.functions.ArgMaxCell]] (`graft_argmax_cell`) computes the
    * argmax-cosine cell in whole-stage codegen — no n × nlist candidate
    * materialization at all. The relational forms this replaced are
    * documented on the expression: the window form shuffled ~660 GB of
    * candidate rows at sf10; the `max_by` form sort-aggregated them
    * (array-typed buffers fall off HashAggregate); measured 9.0 s → 2.1 s
    * for the sf10 assignment. Same winner bit-for-bit: total double order,
    * ties to the lower cid (the oracle's ORDER BY ccos DESC, centroid_id). */
  private def assignCells(all: DataFrame, cents: Seq[IvfCentroidLit]): DataFrame =
    // the centroid table rides INSIDE the expression node as a literal: a
    // column reference is not foldable at analysis time
    all.withColumn("cell", Native.argmaxCell(col("v"), col("nrm"), typedlit(cents)))

  /** [[graft.functions.ArgMaxCell]]'s cell as an equi-join key, NOT NULL: a
    * NULL vector's NULL cell becomes the expression's own -1 "no cell",
    * which no centroid or eval id (a multiple of a mod ≥ 31) equals, so the
    * join keeps the same rows. From a nullable key the optimizer infers
    * `isnotnull(cell)` and pushes it below the projection, where it
    * evaluated the argmax a second time per corpus row (q72, q234). */
  private def cellKey(v: Column, nrm: Column, cents: Column): Column =
    coalesce(Native.argmaxCell(v, nrm, cents), lit(-1L))

  /** IVF cell centroids in SQ8 code space — the index-maintenance counterpart
    * of [[ivfTopK]]: per (Voronoi cell, dimension), the count and exact integer
    * sum of the member vectors' SQ8 codes (FAISS's IVF+SQ8 layout). Float
    * centroid means would be order-dependent; integer code sums are exact, so
    * the oracle can hash-match the index content bit-for-bit.
    *
    * Scale shape: cell assignment is one corpus pass against the broadcast
    * √n-sized centroid sample ([[centroidLits]]), argmax as a codegen projection
    * ([[assignCells]] — no window over the corpus); the per-(cell, dim) rollup
    * is a map-side-combinable hash aggregate over cells × dims rows (tiny
    * output). No self-join anywhere. */
  def ivfCellCentroids(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val assigned = assignCells(all, centroidLits(all, spark))
      .select(col("vec_id"), col("v"), col("cell"))
    assigned
      .withColumn("mn", array_min(col("v")))
      .withColumn("mx", array_max(col("v")))
      .withColumn("codes", sq8Codes)
      .select(col("cell"), posexplode(col("codes")).as(Seq("pos", "code")))
      .select(col("cell"), (col("pos") + 1).cast("int").as("dim"), col("code"))
      .groupBy(col("cell"), col("dim"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("code").cast("long")).as("code_sum"))
      .orderBy("cell", "dim")
  }

  /** IVF (inverted-file) ANN top-k — the second classic scale path beside
    * hyperplane LSH ([[annTopK]]), and the one real vector stores default to:
    * partition the corpus into Voronoi cells around coarse centroids, then
    * search only the 2 cells nearest each query (the first 20 vectors are
    * the queries; top-3 neighbors each).
    *
    * Centroids are a content-addressed SAMPLE of the corpus itself
    * (`vec_id % mod == 0` — sampling data points as coarse centroids is
    * standard IVF practice and, unlike Lloyd iterations, is deterministic and
    * exactly reproducible in the DuckDB oracle; the cell count follows the
    * nlist ≈ √n law, see [[centroidLits]]). Three stages, all n^1.5-bounded
    * or broadcast:
    *
    *  1. cell assignment: one pass over the corpus × broadcast centroid
    *     table, argmax cosine folded map-side (ties to the lower centroid id,
    *     [[assignCells]]). At 100 TB this is the partitioning write — each
    *     cell is a parquet partition.
    *  2. probe selection: each query ranks the same broadcast centroid table,
    *     keeps 2 cells (20 × nCents rows — a window is fine at
    *     that cardinality).
    *  3. search: queries equi-join the assignment on cell id — the scan
    *     touches ~2/nCells of the corpus, never all of it. Exact cosine +
    *     per-query top-k inside the probed cells only.
    *
    * Each vector lives in exactly one cell, so probing distinct cells can
    * never produce duplicate neighbors. */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val lits = centroidLits(all, spark)
    val cents = centroidFrame(spark, lits)
    val assigned = all
      .select(col("vec_id").as("neighbor_id"), col("v").as("nv"),
        col("nrm").as("nn"), cellKey(col("v"), col("nrm"), typedlit(lits)).as("cell"))
    val byCos = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("centroid_id").asc)
    val probes = all.filter(col("vec_id") < 20)
      .crossJoin(broadcast(cents))
      .withColumn("ccos", Native.dot(col("v"), col("cv")) / (col("nrm") * col("cn")))
      .withColumn("crank", row_number().over(byCos))
      .filter(col("crank") <= 2)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("centroid_id").as("cell"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    broadcast(probes).join(assigned, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosQN)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cell"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** IVF cell-balance datasheet (q233): one row summarizing the Voronoi
    * partition [[assignCells]] produces — the probe-cost dial for the IVF
    * family, the same role q230's occupancy audit plays for LSH banding.
    * Alongside the cell count and size extremes, two exact-integer ppm
    * ratios a vector-store operator alarms on BEFORE query latency degrades:
    *
    *  - `imbalance_ppm` = max_cell · nlist · 10⁶ div n — how far the hottest
    *    cell sits above the uniform mean (10⁶ = perfectly balanced). A
    *    skewed coarse quantizer makes nProbe latency unpredictable; the
    *    operational response is re-sampling/re-training centroids.
    *  - `expected_probe_ppm` = Σ s² · 10⁶ div n² — the expected corpus
    *    fraction scanned by a 1-probe query whose distribution FOLLOWS the
    *    data (a query lands in cell i with probability sᵢ/n and scans sᵢ
    *    rows). Uniform cells give 10⁶/nlist; a rising value predicts
    *    probe-cost blowup exactly the way pair_inflation_ppm predicts
    *    candidate blowup in q230.
    *
    * Shape: the same projection-only assignment as [[ivfCellCentroids]] plus
    * one map-side-combinable hash aggregate over nlist rows. The ppm
    * products run in DECIMAL(38,0) (HUGEINT on the oracle side) so no
    * shard-size bound is needed for exactness. */
  def ivfCellBalance(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val assigned = assignCells(all, centroidLits(all, spark))
    assigned.groupBy(col("cell")).agg(count(lit(1)).as("s"))
      .agg(
        count(lit(1)).as("n_cells"),
        sum(col("s")).as("n_vectors"),
        min(col("s")).as("min_cell"),
        max(col("s")).as("max_cell"),
        sum(col("s") * col("s")).as("sum_sq"))
      .select(
        col("n_cells"), col("n_vectors"), col("min_cell"), col("max_cell"),
        expr("CAST(CAST(max_cell AS DECIMAL(38,0)) * n_cells * 1000000 div " +
          "CAST(n_vectors AS DECIMAL(38,0)) AS BIGINT)").as("imbalance_ppm"),
        expr("CAST(CAST(sum_sq AS DECIMAL(38,0)) * 1000000 div " +
          "(CAST(n_vectors AS DECIMAL(38,0)) * n_vectors) AS BIGINT)").as("expected_probe_ppm"))
  }

  /** Intra-bucket diversity in O(n) per bucket (q144): the exact sum of all
    * pairwise SQ8-code dot products within each LSH bucket via the sum-vector
    * identity Σ_{i<j} ⟨c_i,c_j⟩ = (⟨S,S⟩ − Σ_i ⟨c_i,c_i⟩) / 2 with
    * S = Σ_i c_i elementwise — the curation metric "how self-similar is this
    * bucket" WITHOUT the O(n²) pair enumeration a naive diversity probe
    * would run. High average pairwise similarity flags a bucket of
    * templated/mirrored content worth a closer dedup pass.
    *
    * Everything is exact integer arithmetic on the quantized codes (floats
    * would make the per-dimension sums order-dependent): per-row self-dots
    * fold in codegen, the per-(bucket, dim) sums and the final per-bucket
    * rollup are map-side-combinable hash aggregates. Long range: with d ≤
    * 64 dims and codes ≤ 255, ⟨S,S⟩ ≤ d·(255·n)² — overflow needs a single
    * bucket of ~10⁹ vectors; re-bucket with more planes (or lift to
    * DECIMAL(38,0)) long before that.
    *
    * avg_pair_dot is the floor integer division of the pair-dot mass by the
    * pair count (exact; same `div`//`//` on both engines). */
  def bucketDiversity(spark: SparkSession, dir: String): DataFrame = {
    val coded = lshBuckets(spark, dir)
      .withColumn("mn", array_min(col("v")))
      .withColumn("mx", array_max(col("v")))
      .withColumn("codes", sq8Codes)
      .select(col("vec_id"), col("bucket"), col("codes"),
        expr("aggregate(codes, 0L, (a, x) -> a + CAST(x AS BIGINT) * x)").as("self_dot"))
    val perBucket = coded.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("self_dot")).as("self_dot_sum"))
    val dimSums = coded
      .select(col("bucket"), posexplode(col("codes")).as(Seq("pos", "code")))
      .groupBy(col("bucket"), col("pos"))
      .agg(sum(col("code").cast("long")).as("s"))
      .groupBy(col("bucket"))
      .agg(sum(col("s") * col("s")).as("dot_ss"))
    perBucket.join(dimSums, Seq("bucket"))
      .filter(col("n_vectors") >= 2)
      // the grand dot Σ_{i,j} minus the diagonal is exactly 2·Σ_{i<j}, so the
      // halving is exact integer division (never a truncation)
      .withColumn("n_pairs", expr("n_vectors * (n_vectors - 1) div 2"))
      .withColumn("pair_dot_sum", expr("(dot_ss - self_dot_sum) div 2"))
      .select(col("bucket"), col("n_vectors"), col("n_pairs"), col("pair_dot_sum"),
        expr("pair_dot_sum div n_pairs").as("avg_pair_dot"))
      .orderBy("bucket")
  }

  /** Embedding drift monitor per label (q148): compare the SQ8 integer
    * centroid of each label's vectors between two corpus halves (stand-in:
    * even vs odd vec_id — in production the two sides are consecutive
    * snapshot drops) as the exact-integer L1 distance between mean code
    * vectors, scaled to ppm of the max possible (255 per dimension). A label
    * whose embedding mass moved — encoder drift, upstream distribution
    * shift, a corrupted re-embed — shows a large drift_ppm without any float
    * accumulation (mean comparison is done by cross-multiplying the integer
    * sums: |sumA·nB − sumB·nA| per dim, denominated in 255·nA·nB·dims).
    *
    * Scale shape: one linear pass computes codes, one posexplode + hash
    * aggregate per (label, dim) with both halves' sums as conditional
    * aggregates in the SAME pass (no self-join of the two halves), then a
    * label-level rollup — output is n_labels rows.
    *
    * The cross-products and the ppm scaling run in DECIMAL(38,0): l1_cross
    * is quadratic in the label's size (bounded by 255·nA·nB·dims), so a
    * drifted label of ~50 k vectors per half already clears int64 after the
    * ×10⁶ — Spark would wrap where the DuckDB oracle promotes to HUGEINT. */
  def labelDrift(spark: SparkSession, dir: String): DataFrame = {
    val coded = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("mn", array_min(col("v")))
      .withColumn("mx", array_max(col("v")))
      .withColumn("codes", sq8Codes)
      .select(col("vec_id"), col("label"), (col("vec_id") % 2 === 0).as("is_a"),
        col("codes"))
    val perDim = coded
      .select(col("label"), col("is_a"), posexplode(col("codes")).as(Seq("pos", "code")))
      .groupBy(col("label"), col("pos"))
      .agg(
        sum(when(col("is_a"), col("code").cast("long")).otherwise(0L)).as("sum_a"),
        sum(when(!col("is_a"), col("code").cast("long")).otherwise(0L)).as("sum_b"))
    val counts = coded.groupBy(col("label"))
      .agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"),
        max(size(col("codes"))).cast("long").as("n_dims"))
    perDim.join(broadcast(counts), Seq("label"))
      .groupBy(col("label"), col("n_a"), col("n_b"), col("n_dims"))
      .agg(sum(abs(col("sum_a").cast("decimal(38,0)") * col("n_b") -
        col("sum_b").cast("decimal(38,0)") * col("n_a"))).as("l1_cross"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .withColumn("drift_ppm",
        expr("CAST(l1_cross * 1000000 div " +
          "(255 * CAST(n_a AS DECIMAL(38,0)) * n_b * n_dims) AS BIGINT)"))
      .select(col("label"), col("n_a"), col("n_b"), col("drift_ppm"))
      .orderBy("label")
  }

  /** q192: incremental batch-vs-corpus EMBEDDING dedup — the vector twin of
    * [[graft.ext.Dedup.incrementalDedup]] (q85), the shape a streaming ingest
    * actually needs: a small arriving batch ([[graft.engine.RelOps.inWave]]
    * on vec_id stands in for it) checked against the big at-rest corpus
    * WITHOUT re-pairing the corpus against itself. Both sides read the at-rest LSH index
    * ([[lshProjectionsPath]]); candidates are an equi-join on the bucket with
    * the BATCH side broadcast, so the corpus makes one hashed pass and is
    * never re-projected per batch. Output: one row per batch vector —
    * candidate count at cosine ≥ 0.4, the lowest duplicate corpus id, and the
    * is_new verdict; batch vectors with an empty bucket neighborhood come
    * back via the left join, not dropped. */
  def incrementalEmbeddingDedup(spark: SparkSession, dir: String): DataFrame = {
    val all = lshBuckets(spark, dir)
    val isBatch = graft.engine.RelOps.inWave(col("vec_id"))
    dedupVerdicts(all.filter(isBatch), all.filter(!isBatch))
  }

  /** [[incrementalEmbeddingDedup]]'s verdict join over any two bucketed
    * frames with (vec_id, v, nrm, bucket) — also the per-micro-batch body of
    * the STREAMING ingest form (StreamsSpec wires it inside foreachBatch
    * against a growing at-rest index). Batch side broadcasts; one hashed
    * corpus pass. */
  def dedupVerdicts(arriving: DataFrame, corpus: DataFrame): DataFrame = {
    val batch = arriving
      .select(col("vec_id"), col("v").as("qv"), col("nrm").as("qn"), col("bucket"))
    val indexed = corpus
      .select(col("bucket"), col("vec_id").as("c_id"), col("v").as("nv"), col("nrm").as("nn"))
    val hits = broadcast(batch).join(indexed, Seq("bucket"))
      .withColumn("cos", cosQN)
      .filter(col("cos") >= 0.4)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_dup_candidates"), min(col("c_id")).as("dup_of"))
    batch.select(col("vec_id"), col("bucket"))
      .join(hits, Seq("vec_id"), "left")
      .withColumn("n_dup_candidates", coalesce(col("n_dup_candidates"), lit(0L)))
      .withColumn("is_new", col("dup_of").isNull)
      .orderBy("vec_id")
  }

  // ------------------------------------------------------------------
  // Iterated Lloyd k-means + SemDeDup-style semantic dedup
  // ------------------------------------------------------------------

  /** Johnson-Lindenstrauss SIGN projection (q209) — the dimensionality
    * reduction a 100 TB vector corpus applies BEFORE the ANN stack: project
    * each 64-dim embedding onto 16 ±1 sign vectors (Achlioptas 2003's
    * database-friendly JL variant — signs, not Gaussians, so the projection
    * is exact integer arithmetic on the [[KmScale]]-quantized vectors and
    * every engine agrees bit-for-bit).
    *
    * The sign matrix is md5-derived per (plane, dim) — deterministic and
    * SQL-reproducible — but computed ONCE driver-side and embedded as
    * 16 literal arrays, so the per-row work is 16 codegen'd
    * integer dots ([[graft.functions.DotProduct]] over array<bigint>): zero
    * per-row hashing, no HOF
    * lambdas, no shuffle — a pure projection stage.
    *
    * Output carries the JL audit alongside the head of the projection:
    * `ratio_ppm` = ‖proj‖²·10⁶ / (16·‖q‖²), whose concentration around
    * 10⁶ (E[(s·x)²] = ‖x‖² per sign plane) is the distance-preservation
    * guarantee downstream ANN relies on. */
  def jlProjection(spark: SparkSession, dir: String): DataFrame = {
    val (nPlanes, dim) = (JlPlanes, EmbeddingDim)
    val q = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr(
        s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * ${KmScale}D) AS BIGINT))")
        .as("q"))
      // same fail-loud dim contract as [[lshBuckets]]: a mismatched vector
      // would silently zero-pad the dot product
      .withColumn("q", expr(
        s"CASE WHEN size(q) = $dim THEN q ELSE raise_error('jlProjection: expected dim $dim, got ' || size(q)) END"))
    val projected = (0 until nPlanes).foldLeft(q) { (df, k) =>
      df.withColumn(s"p$k",
        Native.dot(col("q"), array((0 until dim).map(d => lit(jlSign(k, d))): _*)))
    }
    val norm2p = (0 until nPlanes).map(k => col(s"p$k") * col(s"p$k"))
      .reduce(_ + _)
    projected
      .withColumn("norm2_q", Native.dot(col("q"), col("q")))
      .withColumn("norm2_p", norm2p)
      .select(col("vec_id"),
        col("p0").as("proj0"), col("p1").as("proj1"),
        col("p2").as("proj2"), col("p3").as("proj3"),
        col("norm2_q"), col("norm2_p"),
        when(col("norm2_q") === 0, lit(null).cast("long"))
          .otherwise(expr(s"CAST(norm2_p * 1000000 div ($nPlanes * norm2_q) AS BIGINT)"))
          .as("ratio_ppm"))
      .orderBy("vec_id")
  }

  /** The JL projection's sign-plane count: 64 → 16 dims. */
  private val JlPlanes = 16

  /** The md5-derived ±1 JL sign matrix entry for (plane k, dim d) — shared
    * by [[jlProjection]] (q209) and [[jlRecall]] (q225) so the projection
    * and its retrieval audit can never use different planes. */
  private[ext] def jlSign(k: Int, d: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$k:$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if (Integer.parseInt(hex.substring(0, 1), 16) % 2 == 0) 1L else -1L
  }

  /** JL retrieval-RECALL audit (q225) — the downstream half of q209's norm
    * audit: does top-10 retrieval in the 16-dim projected space return the
    * same neighbors as the full 64-dim space? Per query (vec_id < 20, the
    * q190 convention), exact top-k by integer dot product is computed in
    * BOTH spaces (full tie-break dot DESC, vec_id — the self-match ranks
    * first in each, identically) and the overlap counted — recall@k of the
    * reduced index against the full one, the number that decides whether
    * 4× dimension reduction is admissible before the ANN stack. All
    * arithmetic is exact integers (quantized components, ±1 planes), so
    * both engines agree on every rank.
    *
    * Scale shape: the query side is k·dim-bounded → broadcast into one
    * corpus pass per space; per-query rank trims via WindowGroupLimit
    * (q190's shape); the overlap join is (queries × k)-sized.
    *
    * Reading the number: the self-match survives any projection (equal
    * vectors project equally), so recall ≥ 1/k by construction; on the
    * synthetic RANDOM corpus recall@10 sits near 0.2 — random embeddings
    * have near-uniform pairwise similarity, the regime where JL provably
    * cannot keep fine ranks at 4× reduction. That LOW number is the audit
    * working: it says "raise the plane count or skip the reduction for this
    * corpus", which is exactly the decision the operator exists to
    * inform (clustered real-model embeddings score far higher). */
  def jlRecall(spark: SparkSession, dir: String): DataFrame = {
    val (topK, nPlanes, dim) = (10, JlPlanes, EmbeddingDim)
    val qv = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr(
        s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * ${KmScale}D) AS BIGINT))")
        .as("q"))
      .withColumn("q", expr(
        s"CASE WHEN size(q) = $dim THEN q ELSE raise_error('jlRecall: expected dim $dim, got ' || size(q)) END"))
    val projected = (0 until nPlanes).foldLeft(qv) { (df, k) =>
      df.withColumn(s"p$k",
        Native.dot(col("q"), array((0 until dim).map(d => lit(jlSign(k, d))): _*)))
    }.withColumn("p", array((0 until nPlanes).map(k => col(s"p$k")): _*))
      .select(col("vec_id"), col("q"), col("p"))
    def topkIn(space: String): DataFrame = {
      val queries = projected.filter(col("vec_id") < 20)
        .select(col("vec_id").as("query_id"), col(space).as("qvec"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("dot").desc, col("vec_id"))
      broadcast(queries).crossJoin(projected.select(col("vec_id"), col(space).as("cvec")))
        .withColumn("dot", Native.dot(col("qvec"), col("cvec")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= topK)
        .select(col("query_id"), col("vec_id"))
    }
    val full = topkIn("q")
    val proj = topkIn("p").withColumn("hit", lit(1))
    full.join(proj, Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_overlap"))
      .withColumn("recall_ppm", expr(s"n_overlap * 1000000 div $topK"))
      .orderBy("query_id")
  }

  /** Quantization scale for the integer k-means domain. 1024 = 2^10: the
    * multiply is an exponent shift on an exact float32-derived double, so
    * `floor(v * 1024)` is bit-identical in every IEEE-754 engine — the whole
    * iterated pipeline below runs on exact integers and never accumulates a
    * float rounding difference across rounds (sums of doubles are
    * order-DEPENDENT; sums of longs are not). */
  val KmScale = 1024L

  /** Iterated Lloyd k-means state, materialized ONCE per (embeddings
    * snapshot, iters, seedMod, k) per session
    * ([[graft.engine.SessionMemo.atRest]]) — the IVF-training analog of
    * [[graft.ext.Dedup.candidatePairsPath]]'s at-rest cost model. Layout:
    * `q/` quantized vectors, `c0..cN/` per-round centroids, `assign/` the
    * FINAL (vec_id, cell, q) assignment (q rides along so pair consumers
    * never re-join the corpus), `stats/` the final per-(cell, dim)
    * aggregate. q188 reads `stats`; [[semDedupPairs]] (q189) reads
    * `assign` — one training run serves both.
    *
    * Scale shape (the Spark-MLlib KMeans pattern): each round collects the k
    * centroid rows to the driver — bounded by k·dim, INDEPENDENT of corpus
    * size — and binds them into ONE codegen expression
    * ([[graft.functions.ArgMinCellL2]], `graft_argmin_cell`), so assignment
    * is a pure projection over the corpus (no n×k join materialization, no
    * window, no interpreted lambda) and the centroid update is the round's
    * ONE shuffle (posexplode → map-side-combinable sum/count per
    * (cell, dim)). Rounds materialize to parquet, so round k's lineage never
    * re-evaluates rounds 1..k-1. The quantized corpus is written core-spread
    * (`defaultParallelism`) because every downstream pass over it is
    * CPU-bound per row — the codec-feed rule, not the I/O `maxPartitionBytes`
    * dial.
    *
    * Seed law (round 8, found by the sf100 gate): the modular-seed
    * convention draws every `vec_id % seedMod == 0` vector, so a FIXED
    * seedMod grows the centroid table linearly with the corpus and
    * assignment becomes n²/seedMod distance evaluations — at 2 M vectors
    * that was 32.8 k centroids and ~an hour per Lloyd round even before the
    * interpreted-HOF tax. `k = 0` therefore derives
    * `seedModEff = max(seedMod, ⌊√n⌋)` from COUNT(*) — cell count ≈ √n, the
    * same FAISS-guideline sizing the IVF pair adopted in round 8
    * ([[centroidLits]]), training work n·√n, expected cell size √n. The
    * floor keeps small fixtures on the original sample (seedMod 61 up to
    * n = 3721), so sf0.01/sf0.1 oracle results are unchanged; the oracle
    * derives the same law from COUNT(*). `k > 0` takes exactly the k
    * lowest-id eligible seeds at the LITERAL seedMod — k itself bounds the
    * table there (round 7's parameterized-k contract, pinned in `ExtSpec`).
    *
    * Exactness: components are bounded by |v|·2^10 (≤ 2^11 for any |v| ≤ 2),
    * so squared distances fit a BIGINT up to dim 2^40 and the per-(cell,dim)
    * sums to 2^42 rows per cell. The centroid mean floor(sum/count) divides
    * exact-in-double integers (< 2^53): IEEE division + floor is identical
    * across engines even at representability edges. Ties in the argmin break
    * to the LOWEST cid on equal distance in both engines (strict `<` in the
    * expression's fold; `ORDER BY dist, cid` in the oracle). */
  def kmeansStatePath(spark: SparkSession, dir: String, iters: Int = 2,
      seedMod: Int = 61, k: Int = 0): String =
    graft.engine.SessionMemo.atRest(spark, ("km", dir, iters, seedMod, k),
        s"$dir/embeddings.parquet") { p =>
      Tables.embeddings(spark, dir)
        .select(col("vec_id"), expr(
          s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * ${KmScale}D) AS BIGINT))")
          .as("q"))
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$p/q")
      val qv = spark.read.parquet(s"$p/q")
      val seedModEff: Long =
        if (k > 0) seedMod.toLong
        else math.max(seedMod.toLong,
          math.floor(math.sqrt(qv.count().toDouble)).toLong)
      val eligible = qv.filter(col("vec_id") % seedModEff === 0)
        .select(col("vec_id").as("cid"), col("q").as("cq"))
      (if (k > 0) eligible.orderBy("cid").limit(k) else eligible)
        .write.mode("overwrite").parquet(s"$p/c0")
      for (it <- 1 to iters) {
        // k centroid rows to the driver (bounded by k·dim, never corpus-sized)
        val cents = spark.read.parquet(s"$p/c${it - 1}")
          .orderBy("cid").collect()
        // fail loudly on a seedless corpus: an empty centroid literal would
        // assign every vector a NULL cell while the oracle's empty-seed CTE
        // chain yields zero rows — a silent cross-engine divergence
        require(cents.nonEmpty,
          s"kmeans: no seed vectors (vec_id % $seedModEff == 0) in $dir")
        // ONE codegen expression per round ([[graft.functions.ArgMinCellL2]]):
        // the driver-collected centroids ride INSIDE the expression node as a
        // foldable literal (the IVF assignment's mechanism), and the
        // exact-integer argmin with the (dist, cid) tie-break runs as one
        // primitive loop in WholeStageCodegen. This replaced the round-7 dual
        // path (unrolled literal small-k / typed-array HOF large-k): the HOF
        // form paid an interpreted lambda per (row, centroid) — the sf100
        // gate measured the 2 M × 32.8 k assignment at ~an hour per round —
        // and the unrolled form's plan size grew with k.
        val lits = cents.toSeq.map(r => CentroidLit(r.getLong(0), r.getSeq[Long](1)))
        val assigned = qv.withColumn("cell", Native.argminCell(col("q"), typedlit(lits)))
        def updFrom(a: DataFrame): DataFrame = a
          .select(col("cell"), posexplode(col("q")).as(Seq("pos", "comp")))
          .groupBy(col("cell"), col("pos"))
          .agg(sum(col("comp")).as("s"), count(lit(1)).as("n"))
          .withColumn("comp",
            floor(col("s").cast("double") / col("n").cast("double")).cast("long"))
        if (it == iters) {
          // final round: materialize the assignment FIRST (q rides along so
          // [[semDedupPairs]] reads (vec_id, cell, q) directly — the at-rest
          // trade every index in this repo makes), then derive the stats
          // from the parquet — ONE corpus-wide argmin evaluation, not one
          // per output table. No c$iters either: nothing reads centroids
          // past c{iters-1}.
          assigned.select(col("vec_id"), col("cell"), col("q"))
            .write.mode("overwrite").parquet(s"$p/assign")
          updFrom(spark.read.parquet(s"$p/assign"))
            .select(col("cell"), (col("pos") + 1).cast("int").as("dim"),
              col("n").as("n_vecs"), col("comp"))
            .write.mode("overwrite").parquet(s"$p/stats")
        } else {
          updFrom(assigned).groupBy(col("cell"))
            .agg(expr("transform(array_sort(collect_list(struct(pos, comp))), e -> e.comp)")
              .as("cq"))
            .select(col("cell").as("cid"), col("cq"))
            .write.mode("overwrite").parquet(s"$p/c$it")
        }
      }
    }

  /** q188: the final k-means round's per-(cell, dim) aggregate — cluster
    * sizes and exact integer centroid components after 2 Lloyd rounds.
    * Empty cells (a seed that lost every member) drop out of the group-by in
    * both engines. */
  def kmeansCentroidStats(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Fs.readParquet(spark, s"${kmeansStatePath(spark, dir)}/stats")
      .select(col("cell"), col("dim"), col("n_vecs"), col("comp"))
      .orderBy("cell", "dim")

  /** q189: SemDeDup (Abbas et al., arXiv:2303.09540) — semantic near-dup
    * pruning where the BLOCKING key is the learned k-means cell rather than a
    * random LSH bucket: within each cell, pairs whose cosine exceeds
    * 2/5 mark the higher vec_id as a duplicate of the lower.
    * Candidates are only ever generated within a cell (never all-pairs), the
    * cluster structure comes from [[kmeansStatePath]]'s at-rest state, and
    * the cosine test is EXACT integer arithmetic on the quantized vectors:
    * cos > t  ⟺  dab > 0 ∧ den²·dab² > num²·daa·dbb — DECIMAL(38,0) products
    * here (≤ 23 digits for dim ≤ 4096, |v| ≤ 2), HUGEINT in the oracle; both
    * exact, so the engines agree on every boundary. */
  def semDedupPairs(spark: SparkSession, dir: String): DataFrame =
    semDedupPairsFrom(
      graft.engine.Fs.readParquet(spark, s"${kmeansStatePath(spark, dir)}/assign"), 2, 5)

  /** [[semDedupPairs]]'s pair machinery over any (vec_id, q, cell) frame —
    * also the planted-degenerate-cell test surface. `maxCellSize` is the
    * same guard as [[nearDupPairsFromBuckets]]: a cell the clustering could
    * not split is DROPPED from pair enumeration rather than joined n², and
    * the operational response at scale is re-clustering that slice with more
    * seeds. 0 keeps every cell, matching the exhaustive oracle. */
  def semDedupPairsFrom(members: DataFrame, tauNum: Long, tauDen: Long,
      maxCellSize: Long = 0L): DataFrame = {
    val kept =
      if (maxCellSize <= 0) members
      else members.join(
        broadcast(members.groupBy(col("cell"))
          .agg(count(lit(1)).as("cell_n"))
          .filter(col("cell_n") <= maxCellSize)
          .select(col("cell"))),
        Seq("cell"), "left_semi")
    // self-norms once per VECTOR (n·dim work), not once per pair (n²·dim)
    val normed = kept.withColumn("dqq", Native.dot(col("q"), col("q")))
    val a = normed.select(col("cell"), col("vec_id").as("vec_a"),
      col("q").as("qa"), col("dqq").as("daa"))
    val b = normed.select(col("cell"), col("vec_id").as("vec_b"),
      col("q").as("qb"), col("dqq").as("dbb"))
    a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("dab", Native.dot(col("qa"), col("qb")))
      .filter(col("dab") > 0 &&
        expr(s"CAST(dab AS DECIMAL(38,0)) * dab * ${tauDen * tauDen}") >
        expr(s"CAST(daa AS DECIMAL(38,0)) * dbb * ${tauNum * tauNum}"))
      .select(col("cell"), col("vec_a").as("keep_id"), col("vec_b").as("drop_id"))
      .orderBy("keep_id", "drop_id")
  }

  /** q190: hard-negative mining for contrastive training — per query vector,
    * the top-5 most cosine-similar corpus vectors with a DIFFERENT label
    * (queries: vec_id < 20)
    * (similar-but-wrong is exactly what a contrastive loss needs to see).
    * Same scale shape as [[cosineTopK]]: the tiny query set broadcasts
    * against one linear corpus pass; only candidate rows shuffle for the
    * per-query rank. A production variant swaps the exact pass for the
    * at-rest LSH index ([[lshProjectionsPath]]) exactly as q34 does. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val all = withNorm(Tables.embeddings(spark, dir), col("vec_id"), col("label"))
    val q = all.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("label").as("query_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val corpus = all.select(col("vec_id").as("neighbor_id"),
      col("label").as("neighbor_label"), col("v").as("nv"), col("nrm").as("nn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    broadcast(q).crossJoin(corpus)
      .filter(col("neighbor_id") =!= col("query_id") &&
        col("neighbor_label") =!= col("query_label"))
      .withColumn("cos", cosQN)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("query_label"), col("rank"),
        col("neighbor_id"), col("neighbor_label"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** q234: semantic decontamination — screen the TRAIN corpus against a
    * held-out EVAL benchmark by embedding cosine, the screen modern LLM data
    * pipelines run beside the n-gram one (q57/q74 catch verbatim leakage;
    * paraphrased or re-rendered benchmark items only surface in embedding
    * space — the "semantic dedup/decontamination" step in the Phi and Llama
    * data reports). Eval membership is content-addressed (`vec_id % evalMod
    * == 0`, the engine's deterministic-split convention); every train vector
    * reports its nearest eval item, the cosine, and the `contaminated` flag
    * at cosine ≥ 0.4 — downstream release gates (q200's shape) consume the flag,
    * auditors the margin.
    *
    * Scale shape — the bounded-seed pattern (same sanctioned driver-collect
    * as the IVF/k-means seeds): a benchmark is thousands of items while the
    * corpus is billions, so the eval set is COLLECTED and carried as a typed
    * literal inside [[graft.functions.ArgMaxCell]] — nearest-eval assignment
    * is then a pure whole-stage-codegen projection over one corpus scan: no
    * n × m candidate materialization, no shuffle of the corpus at all (the
    * relational window/max_by forms of this argmax are the measured sf10
    * losers documented on the expression). The
    * only join is the broadcast fetch of the winning eval vector (eval-sized
    * build side) to expose the cosine itself. At 100 TB: benchmark in RAM on
    * every executor, corpus streams through once.
    *
    * The eval sample is BENCHMARK-BOUNDED: `evalMod = max(50, n/1000)` from
    * COUNT(*), so the sample saturates at ~1,000 items as the corpus grows —
    * real benchmarks are fixed-size, and a corpus-proportional sample (the
    * naive `% 50`) would make the screen n·m = n²/50: the same
    * linearly-growing-literal defect the sf10 gate caught in the IVF fixed-mod
    * centroids (q72/q86). The oracle re-derives the identical law from
    * COUNT(*); small fixtures (n ≤ 50,000) stay on mod 50, so sf0.01/sf0.1
    * results are unchanged by the law.
    *
    * A loud `require` rejects an empty eval sample (a benchmark-less screen
    * would silently pass everything — same guard contract as the IVF seeds). */
  def semanticDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val bench = evalBenchmark(spark, dir)
    // the eval members themselves are excluded HERE, not inside the screen:
    // this batch form screens the same corpus the benchmark was sampled
    // from (eval rows would trivially self-match at cos 1.0), but a
    // streaming ingest screens a DIFFERENT corpus against a collected
    // benchmark — an arriving vector whose id merely aliases the
    // benchmark's membership mod must still be screened
    // ([[graft.streaming.Streams.deconStream]] screens every wave row).
    deconScreen(vecs(spark, dir).filter(col("vec_id") % bench.evalMod =!= 0), bench)
      .orderBy("vec_id")
  }

  /** The driver-collected eval benchmark ready for screening: the eval
    * vectors as one literal Column (the [[graft.functions.ArgMaxCell]]
    * table), the eval dimension frame for the cosine fetch, and the derived
    * membership mod. One value object so the batch screen (q234) and the
    * streaming ingest screen ([[graft.streaming.Streams.deconStream]]) share
    * one benchmark artifact — in deployment the benchmark is COLLECTED ONCE
    * (a fixed artifact) and corpora/waves are screened against it. */
  case class EvalBenchmark(evals: Column, evalDim: DataFrame, evalMod: Long)

  /** Collect the benchmark from `dir` (see [[semanticDecontaminate]] for the
    * sizing law and scale argument). */
  def evalBenchmark(spark: SparkSession, dir: String): EvalBenchmark = {
    val all = vecs(spark, dir)
    val evalMod = math.max(50L, all.count() / 1000L)
    val evalRows = all.filter(col("vec_id") % evalMod === 0)
      .orderBy("vec_id").collect()
    require(evalRows.nonEmpty,
      s"decontaminate: no eval sample (vec_id % $evalMod == 0) in the corpus")
    val evalLits = evalRows.toSeq.map(r =>
      IvfCentroidLit(r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    import spark.implicits._
    EvalBenchmark(typedlit(evalLits), evalLits.toDF("eval_id", "ev", "en"), evalMod)
  }

  /** The screen itself over any (vec_id, v, nrm) frame — batch or streaming
    * micro-batch alike (stateless projection + stream-static broadcast join,
    * so the streaming form runs under the exactly-once file sink with zero
    * state). Screens EVERY input row — corpus-membership exclusions (the
    * batch same-corpus case drops the eval rows themselves) belong to the
    * caller, so a stream screening a foreign corpus can never silently skip
    * an arriving vector whose id aliases the benchmark's membership mod.
    * Unordered; the batch catalog entry adds the output sort. */
  def deconScreen(vframe: DataFrame, bench: EvalBenchmark): DataFrame =
    vframe
      .withColumn("nearest_eval_id", cellKey(col("v"), col("nrm"), bench.evals))
      .join(broadcast(bench.evalDim), col("nearest_eval_id") === col("eval_id"))
      .withColumn("cos", Native.dot(col("v"), col("ev")) / (col("nrm") * col("en")))
      .select(col("vec_id"), col("nearest_eval_id"),
        round(col("cos"), 4).as("cos_sim"),
        (col("cos") >= 0.4).as("contaminated"))
}
