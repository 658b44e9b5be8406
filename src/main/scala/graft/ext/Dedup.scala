package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.functions.Native

/** Near-duplicate detection operators (MinHash+LSH, SimHash, n-gram Jaccard)
  * over the `documents` table.
  *
  * Scale design: all three avoid the O(n²) all-pairs comparison.
  *  - MinHash/LSH: ONE md5 per distinct shingle, expanded into `numSeeds`
  *    independent hash slots with a universal-hash family
  *    h_i(x) = (a_i·H(x) + b_i) mod p (p = 2³¹−1, H = 28-bit md5 prefix) —
  *    integer arithmetic both engines compute exactly. All 12 minima fold in a
  *    single hash aggregate (no seed explode), bands pack 2 slots into one
  *    64-bit value, and candidate pairs come from per-bucket id lists — the
  *    signature pipeline runs ONCE, not once per join side.
  *  - SimHash: one explode + one aggregate per doc; grouping on the signature
  *    finds exact-signature buckets.
  *  - n-gram Jaccard: evaluated only on candidate pairs, never all pairs.
  *
  * At 100 TB the shuffle keys are the band buckets; a hot band (boilerplate
  * text) skews that aggregate — AQE skew handling applies, and the band value
  * can be salted with a shingle-count suffix if needed.
  *
  * Hashing is md5-based (not Spark's murmur/xxhash) so the DuckDB oracle can
  * recompute identical values.
  */
object Dedup {

  /** Universal-hash modulus (2³¹ − 1, prime). */
  val P: Long = 2147483647L

  /** Default Jaccard threshold (ppm) for the exact-similarity families
    * (q173 prefix-filter join, q204 recall audit, incremental dedup). Named
    * so the PlanSpec position-filter pin derives its expected ceil-div
    * denominator from the SAME constant the operator uses, instead of a
    * hard-coded literal that silently desyncs when the default moves
    * (round-10 ADVICE low). */
  val DefaultJaccardPpm: Long = 800000L

  /** 12 fixed (a, b) seed pairs → 6 bands × 2 rows. Arbitrary odd constants
    * < 2³¹; the oracle SQL embeds the same values. */
  val seedsAB: Seq[(Long, Long)] = Seq(
    (1099087573L, 98764321L), (2034674923L, 1122334455L),
    (1293847261L, 778899001L), (1847265431L, 445566771L),
    (1555555557L, 246813579L), (1777777781L, 135792467L),
    (1234567891L, 987654323L), (1987654321L, 123456791L),
    (1357913579L, 864208642L), (1468024681L, 975319753L),
    (1696969697L, 314159265L), (1818181819L, 271828183L))

  /** words → distinct 3-word shingles, 1-based indexing to mirror DuckDB lists. */
  private val shingles: Column = expr(
    """array_distinct(transform(sequence(1, size(words)-2),
      |  i -> concat_ws(' ', element_at(words, i), element_at(words, i+1), element_at(words, i+2))))""".stripMargin)

  private def docShingles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), explode(shingles).as("sh"))

  /** Per-document MinHash band hashes: (doc_id, band_idx 0..5, band_hash),
    * ordered for the oracle. Internal consumers use [[bandsUnordered]] — a
    * sort below an aggregate/join is eliminated by Catalyst anyway, but a
    * sort above a WRITE is not, and materializing bands must not pay a range
    * shuffle for ordering nobody reads. */
  def minhashBands(spark: SparkSession, dir: String): DataFrame =
    bandsUnordered(spark, dir).orderBy("doc_id", "band_idx")

  /** Per-document 12-slot MinHash signature (s0..s11): ONE md5 per (doc,
    * shingle), 28-bit prefix as the integer hash base, all 12 universal-hash
    * minima folded in a single aggregate. Shared by the band construction
    * and the sketch-quality monitor (q120). */
  private def minhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    val sigCols = seedsAB.zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % P).as(s"s$i")
    }
    docShingles(spark, dir)
      .select(col("doc_id"),
        Native.md5Prefix(col("sh"), 7).as("h"))
      .groupBy(col("doc_id"))
      .agg(sigCols.head, sigCols.tail: _*)
  }

  /** Shuffle-FREE MinHash banding (q150): the same (doc_id, band_idx,
    * band_hash) table as [[minhashBands]], computed as a pure per-row
    * projection — the per-doc shingle array is folded to all 12 universal-
    * hash minima with higher-order `aggregate`, never exploded into a
    * groupBy. The explode + map-side-combined agg of [[minhashSignatures]]
    * shuffles only ~12 longs per doc per partition (cheap), but it is still
    * a full repartition of the corpus at 100 TB; this form has ZERO
    * exchanges before the output sort (PlanSpec pins that), so signature
    * computation rides whatever partitioning the scan already has — the
    * shape to prefer when banding feeds a same-partitioning write.
    * Oracle-identical to q28 (same md5 base hash, same seed family, fold
    * init = P is +inf for values in [0, P)). */
  def minhashBandsInline(spark: SparkSession, dir: String): DataFrame =
    bandsProjection(Tables.documents(spark, dir))
      .orderBy("doc_id", "band_idx")

  /** The shuffle-free banding as a reusable PROJECTION over any frame with
    * (doc_id, text) — the form [[minhashBandsInline]] wraps for the catalog
    * and [[graft.streaming.Streams.bandIndexStream]] applies per micro-batch
    * (a pure projection is exactly what the streaming file sink can run
    * with end-to-end exactly-once semantics and zero state).
    *
    * The 12-slot signature is ONE native codegen expression
    * ([[graft.functions.MinHashSignature]], `graft_minhash_sig`) rather than
    * the composable `transform`-hash + 12 × `aggregate`-fold HOF pipeline the
    * first cut used: higher-order lambdas evaluate interpreted with per-
    * (shingle, slot) boxing, and under heap pressure that allocation rate
    * made sf10 timings swing run-to-run (7 ↔ 36 s). The expression is
    * bit-identical (same md5-prefix base hash, same seed family — the q150
    * oracle recomputes q28's exhaustive form) and keeps the whole signature
    * inside WholeStageCodegen. */
  def bandsProjection(docs: DataFrame): DataFrame = {
    val bandCols = (0 until 6).map { j =>
      (element_at(col("sig"), 2 * j + 1) * P + element_at(col("sig"), 2 * j + 2)).as(s"band$j")
    }
    val stackExpr = (0 until 6).map(j => s"$j, band$j").mkString("stack(6, ", ", ", ") AS (band_idx, band_hash)")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 3)
      .withColumn("sig", Native.minhashSig(col("words")))
      .select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"), expr(stackExpr))
  }

  private def bandsUnordered(spark: SparkSession, dir: String): DataFrame = {
    val bandCols = (0 until 6).map { j =>
      (col(s"s${2 * j}") * P + col(s"s${2 * j + 1}")).as(s"band$j")
    }
    val stackExpr = (0 until 6).map(j => s"$j, band$j").mkString("stack(6, ", ", ", ") AS (band_idx, band_hash)")
    minhashSignatures(spark, dir)
      .select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"), expr(stackExpr))
  }

  /** LSH candidate pairs: documents sharing >= 1 band hash. Pairs are generated
    * from per-bucket sorted id lists (collect_list + pair explode), so the
    * signature pipeline is evaluated once — no self-join recompute.
    *
    * @param maxBucketSize if > 0, buckets with more ids are DROPPED before
    *   pair explosion — the standard LSH degenerate-band guard: a band hash
    *   shared by k documents (boilerplate text) emits k·(k−1)/2 pairs and is
    *   non-discriminative anyway. At 100 TB this cap is what bounds both the
    *   per-bucket collect_list and the candidate-pair output; 0 (default)
    *   keeps every bucket, matching the exhaustive oracle. */
  def minhashCandidatePairs(spark: SparkSession, dir: String,
      maxBucketSize: Int = 0): DataFrame =
    bandsUnordered(spark, dir)
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= 2 &&
        (if (maxBucketSize > 0) size(col("ids")) <= maxBucketSize else lit(true)))
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids) - i - 1),
          |            y -> named_struct('doc_a', x, 'doc_b', y))))""".stripMargin)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .orderBy("doc_a", "doc_b")

  /** LSH band-occupancy audit (q230) — the operational dial behind the
    * round-7 sf1 findings: when the corpus outgrows its signature space,
    * candidate pairs stop scaling linearly (measured here: 10× docs → 59×
    * MinHash pairs, and 155× for the old 4-bit SimHash bands), and the
    * number that TELLS you is bucket occupancy, not query latency. Per
    * band: docs, buckets, max bucket, collision buckets, candidate pairs
    * Σ s·(s−1)/2, and pair inflation (candidate pairs per doc, ppm) — the
    * load factor an operator watches to decide when to enable the
    * `maxBucketSize` cap or widen bands. One groupBy on (band_idx,
    * band_hash) with map-side partial agg, then a 6-group rollup: strictly
    * cheaper than the candidate join it predicts, so it can run on every
    * data drop BEFORE the dedup pass commits to a plan. */
  def lshOccupancyAudit(spark: SparkSession, dir: String): DataFrame =
    // r14: the audit consumes the ZERO-EXCHANGE inline banding projection
    // (graft_minhash_sig — oracle-identical to the groupBy form, the
    // q150 == q28 equivalence) instead of bandsUnordered, so the only
    // exchange left is the (band_idx, band_hash) occupancy aggregate
    // itself — one corpus repartition removed at any scale. q28 keeps the
    // explode + aggregate form deliberately: that IS the operator it
    // declares.
    bandsProjection(Tables.documents(spark, dir))
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("s"))
      .groupBy(col("band_idx"))
      .agg(sum(col("s")).cast("long").as("n_docs"),
        count(lit(1)).as("n_buckets"),
        max(col("s")).cast("long").as("max_bucket"),
        sum(when(col("s") >= 2, 1L).otherwise(0L)).as("n_collision_buckets"),
        sum(expr("s * (s - 1) div 2")).cast("long").as("cand_pairs"))
      .withColumn("pair_inflation_ppm",
        expr("CAST(cand_pairs * 1000000 div n_docs AS BIGINT)"))
      .orderBy("band_idx")

  /** 16-bit SimHash per document from the first 4 md5 hex digits of each token
    * (with multiplicity — standard frequency-weighted SimHash). */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h16",
        Native.md5Prefix(col("tok"), 4).cast("int"))
    val bitSums = (0 until 16).map { b =>
      sum(when(shiftright(col("h16"), b).bitwiseAND(lit(1)) === 1, 1).otherwise(-1)).as(s"bit$b")
    }
    val sig = (0 until 16).map { b =>
      when(col(s"bit$b") > 0, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)
    toks.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sig.cast("int").as("simhash16"))
      .orderBy("doc_id")
  }

  /** 60-bit SimHash per document from the first 15 md5 hex digits of each
    * token (with multiplicity — standard frequency-weighted SimHash). 60
    * bits (not 64) so the signature is positive in a signed BIGINT in BOTH
    * engines; this is the PAIR-SEARCH signature ([[simhashHammingPairs]]) —
    * the 16-bit [[simhash]] stays as the cheap bucket-label/audit form
    * (q30/q167/q168), where its tiny space is the point, not a defect. */
  def simhash60(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h", Native.md5Prefix(col("tok"), 15))
    val bitSums = (0 until 60).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
        .as(s"bit$b")
    }
    val sig = (0 until 60).map { b =>
      when(col(s"bit$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    toks.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sig.as("simhash60"))
  }

  /** q198: SimHash Hamming-ball pair search via PIGEONHOLE banding (Manku,
    * Jarvelin & Sarma, WWW 2007): all pairs within Hamming distance ≤
    * `maxDist` of each other's [[simhash60]] signature. The banding is
    * DERIVED from the threshold — `maxDist + 1` bands of `60 / (maxDist+1)`
    * bits (60 divides evenly for every maxDist ≤ 5): distance ≤ maxDist
    * flips cannot touch every band, so two near signatures MUST agree
    * exactly on ≥ 1 band — candidates are an equi-join on (band_idx,
    * band_value), never all-pairs, with zero false negatives by the
    * pigeonhole argument; the exact popcount of the XOR verifies each
    * candidate. The MINIMUM complete band count is used deliberately:
    * bands = maxDist+1 maximizes band width, and width is the
    * collision-control knob.
    *
    * Default `maxDist = 3` is the published production configuration
    * (Manku et al. run 64-bit fingerprints at k = 3 for 8 B-page web
    * dedup), giving 4 × 15-bit bands. Round 8 measured WHY the previous
    * ≤ 5 default was wrong on both axes at scale: 10-bit bands hold
    * n/1024 of the corpus each (avg bucket 488 at sf10's 500 k docs —
    * 733 M candidate pairs, 67 s), and the distance-5 shell dominated the
    * output 6:1 over all nearer shells combined (1.4 M of 2.2 M pairs at
    * sf1) — on a low-entropy corpus the wide ball mostly enumerates
    * signature crowding, not near-duplicates (the planted dups live at
    * ham 0-1). At k = 3 / 15-bit bands the sf1 candidate volume drops
    * 5.2× (46.5 M vs 242.8 M) and the output stays dup-dominated.
    *
    * Scale note (round 7, measured): this operator originally banded the
    * 16-bit q30 signature into 4-bit chunks — 16 values per band, so every
    * band bucket held n/16 of the corpus and candidates grew n²/16: the sf1
    * growth gate clocked it at 155× for 10× docs (354 s). Band width is
    * the dial; the audit that tells you when to widen (or to grow the
    * signature beyond 60 bits) is the occupancy datasheet (q230).
    * `maxBandBucket` is the same degenerate-bucket guard as the
    * MinHash/embedding paths: a band value the corpus piles onto is
    * dropped from candidate generation rather than joined n² (0 = keep
    * all, matching the exhaustive oracle). */
  def simhashHammingPairs(spark: SparkSession, dir: String, maxDist: Int = 3,
      maxBandBucket: Long = 0L): DataFrame = {
    // the pigeonhole guarantee needs bands > maxDist; 60 bits cap the
    // minimum-complete geometry at 6 bands. Reject rather than
    // under-deliver (silently missing pairs).
    require(maxDist >= 0 && maxDist < 6,
      s"simhashHammingPairs: a 60-bit signature supports maxDist <= 5, got $maxDist")
    val nBands = maxDist + 1
    val width = 60 / nBands
    val mask = (1L << width) - 1
    val bands = simhash60(spark, dir)
      .select(col("doc_id"), col("simhash60"),
        explode(expr(
          s"""transform(sequence(0, ${nBands - 1}), b ->
             |  named_struct('bidx', b, 'bval', shiftright(simhash60, b * $width) & $mask))""".stripMargin))
          .as("band"))
      .select(col("doc_id"), col("simhash60"),
        col("band.bidx").as("bidx"), col("band.bval").as("bval"))
    // Per-bucket sorted (doc_id, sig) lists + in-row pair explosion — the
    // [[minhashCandidatePairs]] shape — instead of the band-keyed SELF-JOIN
    // (r13 optimization pass, guide §2.4/§1.2): a self-join does not share
    // lineage, so the 60-column signature aggregate (the query's dominant
    // stage) EXECUTED TWICE per pass, and both sides paid a band-keyed
    // exchange. One groupBy now runs the signature pipeline once and one
    // exchange carries (band, doc_id, sig) — identical pairs by
    // construction (the list is doc_id-sorted, i < j ⟺ doc_a < doc_b).
    // The bucket cap folds into the same aggregate (size(ms)), replacing
    // the separate occupancy pre-join of the capped variant outright.
    val bucketOk =
      if (maxBandBucket <= 0) lit(true)
      else size(col("ms")) <= maxBandBucket
    bands
      .groupBy(col("bidx"), col("bval"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash60")))).as("ms"))
      .filter(size(col("ms")) >= 2 && bucketOk)
      .select(explode(expr(
        """flatten(transform(ms, (x, i) ->
          |  transform(slice(ms, i + 2, size(ms) - i - 1),
          |    y -> named_struct('doc_a', x.doc_id, 'doc_b', y.doc_id,
          |                      'hamming', CAST(bit_count(x.simhash60 ^ y.simhash60) AS INT)))))""".stripMargin)).as("p"))
      // verify BEFORE deduplicating: the popcount is a codegen'd per-row op
      // while distinct is a shuffle — filtering first shrinks the exchange
      // from every banded candidate to only the pairs inside the ball
      .filter(col("p.hamming") <= maxDist)
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.hamming").as("hamming"))
      .distinct() // a pair may agree on several bands
      .orderBy("doc_a", "doc_b")
  }

  /** n-gram (3-word shingle) Jaccard similarity on a fixed consecutive-id pair
    * grid — a deterministic, oracle-checkable demo of the pairwise-Jaccard
    * primitive. The production composition (LSH candidates → Jaccard) is
    * [[minhashJaccard]].
    *
    * The intersection join keys on the COMPOSITE (doc_b, sh) = (doc_a+1, sh) —
    * never on the raw shingle alone — so a boilerplate shingle shared by k
    * documents hashes to k distinct join keys instead of one hot key with a
    * k² match blowup. */
  def ngramJaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = docShingles(spark, dir) // already distinct per (doc, shingle)
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val pairs = counts.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")),
        col("doc_b") === col("doc_a") + 1)
    val common = sh.select(col("doc_id").as("doc_a"), col("sh"))
      // composite equi-join: Catalyst extracts (doc_a + 1, sh) = (doc_b, sh)
      // as the hash keys — the pair constraint prunes BEFORE matching
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        col("doc_b") === col("doc_a") + 1 && col("sh_b") === col("sh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs.join(common, Seq("doc_a", "doc_b"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .select(
        col("doc_a"), col("doc_b"), col("n_a"), col("n_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double")).as("jaccard"))
      .orderBy("doc_a")
  }

  /** PPJoin-style EXACT Jaccard-threshold self-join over 3-gram SHINGLE sets
    * (q173) — the deterministic complement to the MinHash path: where LSH
    * banding is probabilistic (tunable false-negative rate), prefix filtering
    * guarantees EVERY pair with shingle-set Jaccard ≥ t is found, still
    * without an all-pairs join. Reference semantics: exact near-dup joins à
    * la Xiao et al., "Efficient Similarity Joins for Near Duplicate
    * Detection" (WWW 2008) — built from composed Spark relational ops only,
    * over the SAME shingle domain as the MinHash stack (q28/q31/q61), so its
    * output is directly comparable to the probabilistic path's.
    *
    * Why shingles and not unigram tokens: prefix filtering lives or dies on
    * element rarity. Unigrams on a small vocabulary have NO rare elements, so
    * every prefix posting list is huge and the prefix self-join degenerates
    * toward posting² (measured 40+ s at sf0.1, ≈ DuckDB's own cost on the
    * same formulation); 3-gram shingles are sparse, posting lists short, and
    * the same corpus verifies in a few seconds with near-perfect filter
    * selectivity.
    *
    * The three classic filters, in exact integer arithmetic (t in ppm):
    *  - prefix filter: order each doc's shingles by ascending global document
    *    frequency (rarest first, ties by shingle); if J(a,b) ≥ t, the first
    *    |s| − ceil(t·|s|) + 1 shingles of BOTH docs must intersect, so only
    *    prefix shingles are joined.
    *  - length filter: J(a,b) ≥ t ⟹ t·max(|a|,|b|) ≤ min(|a|,|b|), applied
    *    as least·10⁶ ≥ t_ppm·greatest before verification.
    *  - position filter (round 10): a candidate row generated at prefix
    *    positions (i, j) bounds the overlap by 1 + min(m_a − i, m_b − j),
    *    which must reach α = ⌈t·(m_a+m_b)/(1+t)⌉ — pruned BEFORE the
    *    pair-distinct exchange, where the Zipf head's Σ posting² mass lives
    *    (the sf300 probe filled the disk in exactly that exchange).
    *
    * Verification joins each candidate pair to the two docs' DISTINCT token
    * ARRAYS (one row per doc) and counts the overlap with a codegen'd
    * `array_intersect` — |pairs| array ops instead of the exploded
    * (pair × token) equi-join, whose match stream is |pairs|·|tokens| rows
    * (measured 4× wall-clock on a template-heavy corpus where a 0.9
    * threshold still yields ~10 candidates per doc). Arrays ride the
    * candidate join keyed on doc id, so a hot boilerplate token still never
    * becomes a join key. The final predicate keeps floor(o·10⁶/u) ≥ t_ppm,
    * which for integer t_ppm is exactly o/u ≥ t.
    *
    * Scale shape (round 10): the prefix set lives AT REST, bucket-clustered
    * on tok_h ([[prefixIndexTable]] — built once per (snapshot, threshold) like
    * every other index here), so the query itself is a co-located self-join
    * over sorted bucket scans (zero exchange, zero sort) + the position/
    * length filters + the pair-distinct + array verification. */
  def prefixFilterJoin(spark: SparkSession, dir: String,
      thresholdPpm: Long = DefaultJaccardPpm): DataFrame = {
    val docToks = graft.engine.Fs.readParquet(spark, shingleTokensPath(spark, dir))
    val prefix = graft.engine.Bucketing.readTable(
      spark, prefixIndexTable(spark, dir, thresholdPpm)).hint("merge")
    // POSITION filter (the third classic PPJoin filter — round 10, after the
    // sf300 probe ENOSPC'd in exactly this stage): a candidate generated at
    // prefix positions (pos_a, pos_b) can reach overlap at most
    // 1 + min(m_a − pos_a, m_b − pos_b) (the match itself plus the shorter
    // remaining suffix — both prefixes are sorted by ONE global order), and
    // J_class ≥ t needs overlap ≥ α = ⌈t·(m_a+m_b)/(1+t)⌉. Soundness with
    // the pair-distinct below: a true pair's FIRST common token in the
    // global order lies within both prefixes (any shared prefix token is
    // common, and the first common token precedes it in both docs) and
    // bounds the TRUE overlap, so that generating row always survives —
    // rows the filter drops are duplicates distinct() would discard anyway.
    // Effect is on the distinct's INPUT: the raw pair stream (Σ posting²
    // over prefix postings — the Zipf head's quadratic mass) is pruned
    // before the exchange, which is what filled the disk at 15 M docs.
    val alphaDen = 1000000L + thresholdPpm
    val cand = prefix.select(col("tok_h"), col("doc_id").as("doc_a"),
        col("n").as("n_a"), col("m").as("m_a"), col("pos").as("pos_a"))
      .join(prefix.select(col("tok_h"), col("doc_id").as("doc_b"),
        col("n").as("n_b"), col("m").as("m_b"), col("pos").as("pos_b")),
        Seq("tok_h"))
      .filter(col("doc_a") < col("doc_b") &&
        least(col("n_a"), col("n_b")) * 1000000L >=
          lit(thresholdPpm) * greatest(col("n_a"), col("n_b")) &&
        lit(1L) + least(col("m_a") - col("pos_a"), col("m_b") - col("pos_b")) >=
          expr(s"($thresholdPpm * (m_a + m_b) + ${alphaDen - 1L}) div $alphaDen"))
      // narrow the distinct to the pair itself: n_a/n_b were dead weight in
      // the exchange (verification re-derives sizes from the arrays) — half
      // the per-row shuffle bytes of the heaviest stage on the path
      .select(col("doc_a"), col("doc_b")).distinct()
    verifyPairs(cand, docToks, thresholdPpm)
  }

  /** Bucket-clustered at-rest PREFIX INDEX for [[prefixFilterJoin]] —
    * (doc_id, n, m, pos, tok_h), one row per prefix token, CLUSTERED on the
    * join key tok_h (native bucketBy + sortBy via [[graft.engine.Bucketing]],
    * corpus-adaptive bucket count).
    *
    * Round 10, second sf300 ENOSPC: building the prefix INLINE re-ran the
    * full token-stream df join + per-doc aggregate for BOTH self-join sides
    * (the lineage is not shared across a self-join), ~80 GB of transient
    * shuffle at 15 M docs, then exchanged both sides AGAIN on tok_h at query
    * time. The prefix set is a once-per-(drop, threshold) artifact exactly
    * like the shingle postings ([[shingleTokensPath]]) and the LSH index
    * ([[graft.ext.Similarity.lshBucketedTable]]): pay the token-stream
    * shuffle once at write time, and every later self-join consumes
    * co-located sorted scans with zero exchange and zero sort.
    *
    * The filter machinery runs on xxhash64 of the shingle, not the string:
    * the df aggregate, the ordering, and the prefix self-join all
    * shuffle/compare 8-byte longs instead of ~25-byte strings. Collision
    * soundness: work on the hash-CLASS domain — each doc's hash multiset is
    * deduplicated before prefixing, and the prefix length derives from the
    * CLASS-set size m (J_class ≥ J_element ≥ t, since merging classes can
    * only grow the intersection and shrink the union, so the lemma on class
    * sets covers every true pair). A cross-doc collision can only ADD
    * candidates (same join key), which exact string-level verification
    * removes; a within-doc collision shrinks m and lengthens nothing it
    * shouldn't — the prefix is computed on exactly the deduped class set.
    * Per-doc rarest-first order via an array sort (38-element in-row
    * sorts), not a row_number window (which range-sorts every exploded
    * row). The table is a [[graft.engine.SessionMemo.atRest]] entry, so a
    * rebuilt session (a new catalog) builds its own. Returns its name. */
  def prefixIndexTable(spark: SparkSession, dir: String,
      thresholdPpm: Long): String =
    graft.engine.Bucketing.tableAt(graft.engine.SessionMemo.atRest(
        spark, ("ppfx", dir, thresholdPpm), s"$dir/documents.parquet") { p =>
      val docToks = graft.engine.Fs.readParquet(spark, shingleTokensPath(spark, dir))
      // layout sizing: ~13 prefix rows per doc at t = 0.8 (plen ≈ 0.2·m + 1,
      // E[m] ≈ 38 on 10-100-token docs) — a heuristic is fine for LAYOUT
      // (bucket count changes no results), and the doc count is a parquet
      // metadata read, not a scan
      val buckets = graft.engine.Bucketing.bucketCountFor(docToks.count() * 13L)
      val toks = docToks
        .select(col("doc_id"), size(col("toks")).cast("long").as("n"),
          explode(col("toks")).as("tok"))
        .select(col("doc_id"), col("n"), xxhash64(col("tok")).as("tok_h"))
      val freq = toks.groupBy(col("tok_h")).agg(count(lit(1)).as("df"))
      val prefix = toks.join(freq, Seq("tok_h"))
        .groupBy(col("doc_id"), col("n"))
        .agg(sort_array(collect_list(struct(col("df"), col("tok_h")))).as("ord"))
        .withColumn("ordd", array_distinct(col("ord")))
        .withColumn("m", size(col("ordd")).cast("long"))
        .withColumn("plen",
          col("m") - expr(s"($thresholdPpm * m + 999999) div 1000000") + 1)
        .selectExpr("doc_id", "n", "m",
          "posexplode(slice(ordd, 1, CAST(plen AS INT))) AS (i, p)")
        .select(col("doc_id"), col("n"), col("m"),
          (col("i") + 1).cast("long").as("pos"), col("p.tok_h").as("tok_h"))
      graft.engine.Bucketing.writeBucketed(prefix, p, "tok_h", buckets)
    })

  /** The shared EXACT-verification tail of every candidate-then-verify
    * pipeline over the shingle-array index ([[prefixFilterJoin]],
    * [[incrementalPrefixJoin]], [[sortedNeighborhoodPairs]]): candidate
    * (doc_a, doc_b) pairs joined to the two docs' DISTINCT shingle arrays,
    * overlap via codegen'd `array_intersect`, and the single ppm rounding
    * rule `floor(o·10⁶/u) ≥ t` — one definition, so the verification
    * discipline cannot drift between blocking methods. */
  private def verifyPairs(cand: DataFrame, docToks: DataFrame,
      thresholdPpm: Long): DataFrame =
    // NOTE (r14, checked and left alone): the rename-below-the-join shape
    // here LOOKS like it would build the token-table broadcast twice, but
    // plan canonicalization normalizes the aliases and the second build is
    // already a ReusedExchange (plans/r14/q173_prefix_filter_join_before
    // .txt:132) — an aliased-self-join rewrite measured plan-identical and
    // was reverted.
    cand.select(col("doc_a"), col("doc_b"))
      .join(docToks.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"),
        size(col("toks")).cast("long").as("n_a")), Seq("doc_a"))
      .join(docToks.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"),
        size(col("toks")).cast("long").as("n_b")), Seq("doc_b"))
      .withColumn("n_common",
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("long"))
      .withColumn("jaccard_ppm", expr(
        "CAST(n_common * 1000000 div (n_a + n_b - n_common) AS BIGINT)"))
      .filter(col("jaccard_ppm") >= thresholdPpm)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        col("n_common"), col("jaccard_ppm"))
      .orderBy("doc_a", "doc_b")

  /** Per-document 3-gram shingle ARRAYS at rest — (doc_id, toks), one row per
    * doc — materialized ONCE per documents snapshot per session
    * ([[graft.engine.SessionMemo.atRest]]). The shingle projection
    * (split + 3-gram transform + array_distinct) is the most expensive
    * row-wise work on the exact-join paths and is consumed on multiple
    * lineage paths per query (prefix machinery + both verification sides in
    * [[prefixFilterJoin]]; corpus index + verification in
    * [[incrementalPrefixJoin]]) — the candidateShinglesPath at-rest cost
    * model, threshold-independent so every threshold and every consumer
    * shares one build. */
  def shingleTokensPath(spark: SparkSession, dir: String): String =
    graft.engine.SessionMemo.atRest(spark, ("ppjtoks", dir),
        s"$dir/documents.parquet") { p =>
      Tables.documents(spark, dir)
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .filter(size(col("words")) >= 3)
        .select(col("doc_id"), shingles.as("toks"))
        .write.mode("overwrite").parquet(p)
    }

  /** Corpus-side token document frequencies AT REST — (tok_h, df) over the
    * non-wave docs only ([[graft.engine.RelOps.inWave]]), materialized once
    * per documents snapshot per session: the maintained corpus statistic the deployed ingest path
    * reuses each wave
    * (advisor round 6 — the previous form recomputed a global df over
    * corpus ∪ batch per call, a full corpus shuffle per wave). */
  def corpusDfPath(spark: SparkSession, dir: String): String =
    graft.engine.SessionMemo.atRest(spark, ("ppjdf", dir),
        s"$dir/documents.parquet") { p =>
      graft.engine.Fs.readParquet(spark, shingleTokensPath(spark, dir))
        .filter(!graft.engine.RelOps.inWave(col("doc_id")))
        .select(explode(col("toks")).as("tok"))
        .groupBy(xxhash64(col("tok")).as("tok_h"))
        .agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(p)
    }

  /** Shared prefix projection for [[incrementalPrefixJoin]]: the
    * |s| − ceil(t·|s|) + 1 head of each doc's tokens under the
    * (df asc, tok_h asc) total order. Input must carry
    * (doc_id, n, tok_h, df). */
  private def prefixHeads(toksWithDf: DataFrame, thresholdPpm: Long): DataFrame =
    toksWithDf
      .groupBy(col("doc_id"), col("n"))
      .agg(sort_array(collect_list(struct(col("df"), col("tok_h")))).as("ord"))
      .withColumn("ordd", array_distinct(col("ord")))
      .withColumn("m", size(col("ordd")).cast("long"))
      .withColumn("plen",
        col("m") - expr(s"($thresholdPpm * m + 999999) div 1000000") + 1)
      .select(col("doc_id"), col("n"),
        explode(expr("slice(ordd, 1, CAST(plen AS INT))")).as("p"))
      .select(col("doc_id"), col("n"), col("p.tok_h").as("tok_h"))

  /** Corpus-side prefix POSTINGS at rest — (tok_h, doc_id, n) for each
    * corpus doc's df-ordered prefix head, built once per (documents
    * snapshot, threshold) per session beside [[corpusDfPath]]. This
    * is the index an ingest pipeline maintains between waves; per-wave work
    * never touches it beyond the posting-list probe. */
  def corpusPrefixPath(spark: SparkSession, dir: String, thresholdPpm: Long): String =
    graft.engine.SessionMemo.atRest(spark, ("ppjpre", dir, thresholdPpm),
        s"$dir/documents.parquet") { p =>
      val dfTab = graft.engine.Fs.readParquet(spark, corpusDfPath(spark, dir))
      val toks = graft.engine.Fs.readParquet(spark, shingleTokensPath(spark, dir))
        .filter(!graft.engine.RelOps.inWave(col("doc_id")))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n"),
          explode(col("toks")).as("tok"))
        .select(col("doc_id"), col("n"), xxhash64(col("tok")).as("tok_h"))
        .join(dfTab, Seq("tok_h"))
      prefixHeads(toks, thresholdPpm)
        .write.mode("overwrite").parquet(p)
    }

  /** Incremental PPJoin (q204) — the EXACT-join counterpart of q85's
    * incremental MinHash check: an arriving batch
    * ([[graft.engine.RelOps.inWave]] on doc_id) prefix-joined against the AT-REST
    * corpus prefix postings ([[corpusPrefixPath]]) only. The corpus is
    * never self-joined, never re-shingled, and — since round 7 — never
    * re-aggregated per wave: df ([[corpusDfPath]]) and the corpus prefix
    * index both live at rest, so the per-wave cost is
    * (batch shingles × prefix posting lists), linear in the wave, not the
    * corpus.
    *
    * Same two exact filters as [[prefixFilterJoin]] in the R-S form (Xiao et
    * al., WWW 2008 §5): the prefix lemma holds for ANY shared global token
    * order, so both sides order by the CORPUS df snapshot (rarest first —
    * df is the performance knob, not a correctness input; wave tokens the
    * corpus has never seen rank rarest via df = 0) and take the
    * |s| − ceil(t·|s|) + 1 head; the length filter prunes before
    * verification. Verification is the same hash-class-domain argument as
    * [[prefixFilterJoin]]: candidates on xxhash64 classes (collisions only
    * ADD candidates), exact string-level `array_intersect` decides — which
    * is also why switching the order from global df to the corpus snapshot
    * cannot change output (only candidate supersets differ).
    *
    * Output: one row per (batch doc, corpus doc) pair with J ≥ t — the
    * verdict stream an ingest pipeline turns into drop/keep decisions
    * (q85's is_new column is this table's emptiness per doc). */
  def incrementalPrefixJoin(spark: SparkSession, dir: String,
      thresholdPpm: Long = DefaultJaccardPpm): DataFrame = {
    val docToks = graft.engine.Fs.readParquet(spark, shingleTokensPath(spark, dir))
    val corpusDf = graft.engine.Fs.readParquet(spark, corpusDfPath(spark, dir))
    // batch side ONLY is computed per wave: explode, look up the at-rest df
    // (left join — unseen tokens coalesce to df 0), take the prefix head
    val batchToks = docToks.filter(graft.engine.RelOps.inWave(col("doc_id")))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n"),
        explode(col("toks")).as("tok"))
      .select(col("doc_id"), col("n"), xxhash64(col("tok")).as("tok_h"))
      .join(corpusDf, Seq("tok_h"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
    // R-S prefix join: the small batch side builds the hash table; the
    // at-rest corpus posting stream probes it (broadcast-eligible at
    // ingest-wave sizes)
    val cand = prefixHeads(batchToks, thresholdPpm)
      .select(col("tok_h"), col("doc_id").as("doc_a"), col("n").as("n_a"))
      .join(graft.engine.Fs.readParquet(spark,
          corpusPrefixPath(spark, dir, thresholdPpm))
          .select(col("tok_h"), col("doc_id").as("doc_b"), col("n").as("n_b")),
        Seq("tok_h"))
      .filter(least(col("n_a"), col("n_b")) * 1000000L >=
        lit(thresholdPpm) * greatest(col("n_a"), col("n_b")))
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b")).distinct()
    verifyPairs(cand, docToks, thresholdPpm)
  }

  /** The LSH candidate-pair table (every bucket kept) materialized ONCE per
    * documents snapshot per session ([[graft.engine.SessionMemo.atRest]]) — the
    * near-dup stack's at-rest index, the same once-per-data-drop cost model
    * as [[graft.engine.Layout]]'s layouts: q61/q62/q71/q100/q120/q125/q134
    * all consume this table, and the MinHash signature pipeline runs at the
    * FIRST consumer, not once per query. At 100 TB this is exactly how the
    * stack deploys (the band/pair index is maintained at rest and appended
    * per batch, see [[incrementalDedup]]). */
  def candidatePairsPath(spark: SparkSession, dir: String): String =
    graft.engine.SessionMemo.atRest(spark, ("cand", dir),
        s"$dir/documents.parquet") { p =>
      minhashCandidatePairs(spark, dir)
        .select(col("doc_a"), col("doc_b"), col("n_shared_bands"))
        .write.mode("overwrite").parquet(p)
    }

  /** Shingles restricted to candidate docs (left_semi), materialized once
    * per documents snapshot beside [[candidatePairsPath]] — the
    * exact-verification stages
    * (q61/q120) read it on three lineage paths. */
  def candidateShinglesPath(spark: SparkSession, dir: String): String =
    graft.engine.SessionMemo.atRest(spark, ("candsh", dir),
        s"$dir/documents.parquet") { p =>
      val cand = graft.engine.Fs.readParquet(spark, candidatePairsPath(spark, dir))
      val candIds = cand.select(col("doc_a").as("doc_id"))
        .union(cand.select(col("doc_b").as("doc_id"))).distinct()
      docShingles(spark, dir).join(candIds, Seq("doc_id"), "left_semi")
        .write.mode("overwrite").parquet(p)
    }

  /** The composed near-duplicate pipeline — MinHash/LSH candidate generation
    * feeding exact n-gram Jaccard verification. This is the production path a
    * 100 TB dedup run takes:
    *
    *  1. [[minhashCandidatePairs]] proposes (doc_a, doc_b) pairs sharing ≥ 1
    *     LSH band (linear in corpus size, never all-pairs);
    *  2. shingle sets are restricted to candidate documents BEFORE any shingle
    *     join (semi-join on doc id — at sf levels the candidate set is orders
    *     of magnitude smaller than the corpus);
    *  3. the intersection is computed per pair via a composite-key equi-join
    *     (doc_b, sh) — a hot boilerplate shingle cannot produce a k² match
    *     blowup because the doc id is part of the hash key.
    *
    * Output: one row per candidate pair with exact Jaccard, ordered for
    * determinism. Downstream dedup keeps pairs with jaccard ≥ threshold. */
  def minhashJaccard(spark: SparkSession, dir: String): DataFrame =
    candidateOverlapCounts(spark, dir)
      .select(
        col("doc_a"), col("doc_b"), col("n_shared_bands"),
        col("n_a"), col("n_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double")).as("jaccard"))
      .orderBy("doc_a", "doc_b")

  /** Per-candidate-pair shingle-set sizes and intersection — the shared
    * verification core of [[minhashJaccard]] (q61, symmetric Jaccard) and
    * [[containmentPairs]] (q157, asymmetric containment). One row per
    * candidate pair: (doc_a, doc_b, n_shared_bands, n_a, n_b, n_common),
    * unordered (callers append their metric and sort).
    *
    * Both tables come from the dir-keyed at-rest index
    * ([[candidatePairsPath]]): cand sits on three lineage paths below (id
    * restriction, intersection, final join) and candSh on three more —
    * without materialization the whole MinHash pipeline would re-evaluate
    * per path (PLANS.md exchange counts exposed the duplication). */
  private def candidateOverlapCounts(spark: SparkSession, dir: String): DataFrame = {
    val cand = graft.engine.Fs.readParquet(spark, candidatePairsPath(spark, dir))
    val candSh = graft.engine.Fs.readParquet(spark, candidateShinglesPath(spark, dir))
    val counts = candSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val common = cand.select(col("doc_a"), col("doc_b"))
      .join(candSh.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
      // composite key (doc_b, sh): per-pair intersection, skew-immune
      .join(candSh.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    cand
      .join(counts.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), Seq("doc_b"))
      .join(common, Seq("doc_a", "doc_b"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
  }

  /** Bounded-prefix edit-distance verification (q125) of LSH candidate
    * pairs: levenshtein over the first 160 chars of the
    * whitespace-normalized text. Edit distance is O(len²) per pair —
    * unusable corpus-wide, fine as a VERIFICATION stage once candidate
    * generation bounds the pair count and the prefix bounds the per-pair
    * cost. Complements the Jaccard verifier ([[minhashJaccard]]): Jaccard
    * sees shingle-SET overlap, edit distance sees ORDER (a paragraph-
    * shuffled near-dup keeps high Jaccard but gains edit distance).
    * Similarity is integer ppm of the longer prefix, so the output is
    * engine-exact. */
  def editDistancePairs(spark: SparkSession, dir: String): DataFrame = {
    // explicit whitespace class: Java's \s includes \x0B, RE2's does not —
    // the one character where the two engines' \s sets differ
    val heads = Tables.documents(spark, dir)
      .select(col("doc_id"),
        substring(regexp_replace(col("text"), "[ \\t\\n\\f\\r\\x0B]+", " "),
          1, 160).as("head"))
    graft.engine.Fs.readParquet(spark, candidatePairsPath(spark, dir))
      .select(col("doc_a"), col("doc_b"))
      .join(heads.select(col("doc_id").as("doc_a"), col("head").as("head_a")), Seq("doc_a"))
      .join(heads.select(col("doc_id").as("doc_b"), col("head").as("head_b")), Seq("doc_b"))
      .withColumn("lev", levenshtein(col("head_a"), col("head_b")).cast("long"))
      .withColumn("max_len",
        greatest(length(col("head_a")), length(col("head_b"))).cast("long"))
      .withColumn("sim_ppm", expr("(max_len - lev) * 1000000L div max_len"))
      .select(col("doc_a"), col("doc_b"), col("lev"), col("max_len"), col("sim_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  /** Budgeted edit-distance gate (q137): [[editDistancePairs]]'s production
    * form — the native banded `graft_bounded_lev` expression
    * ([[graft.functions.BoundedLevenshtein]]) evaluates only the |i−j| ≤ k
    * DP band (k = 8, over the same 160-char prefixes), so per-pair cost
    * scales with the edit BUDGET (O(k·len)) instead of the prefix area
    * (O(len²)). Distances ≤ k are exact, k+1 is
    * the beyond-budget sentinel — which is all a keep/drop dedup gate needs,
    * and exactly what the oracle's `least(levenshtein, k+1)` checks. */
  def editDistanceGate(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    val heads = Tables.documents(spark, dir)
      .select(col("doc_id"),
        substring(regexp_replace(col("text"), "[ \\t\\n\\f\\r\\x0B]+", " "),
          1, 160).as("head"))
    graft.engine.Fs.readParquet(spark, candidatePairsPath(spark, dir))
      .select(col("doc_a"), col("doc_b"))
      .join(heads.select(col("doc_id").as("doc_a"), col("head").as("head_a")), Seq("doc_a"))
      .join(heads.select(col("doc_id").as("doc_b"), col("head").as("head_b")), Seq("doc_b"))
      .withColumn("lev_k",
        Native.boundedLev(col("head_a"), col("head_b"), k).cast("long"))
      .withColumn("within_budget", col("lev_k") <= k)
      .select(col("doc_a"), col("doc_b"), col("lev_k"), col("within_budget"))
      .orderBy("doc_a", "doc_b")
  }

  /** Containment / near-subset detection (q157): per LSH candidate pair,
    * |A∩B| / min(|A|, |B|) in exact integer ppm — the ASYMMETRIC companion
    * of Jaccard (q61): a short document fully quoted inside a long one has
    * low Jaccard (the union is large) but containment ≈ 1, and quote/
    * excerpt inclusion is precisely what a training-corpus dedup must catch
    * that symmetric similarity misses. Same at-rest candidate tables and
    * composite-key intersection join as q61 ([[candidateOverlapCounts]] —
    * skew-immune, never all-pairs). */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    candidateOverlapCounts(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"), col("n_common"),
        expr("n_common * 1000000 div least(n_a, n_b)").as("containment_ppm"))
      .orderBy("doc_a", "doc_b")

  /** Blocked record linkage over the customer dimension (q155) — the
    * relational-entity counterpart of the document near-dup stack: the
    * match verifier is the native banded Levenshtein expression
    * (`graft_bounded_lev`, k = 2), O(k·|name|) per pair instead of the
    * full DP matrix; matched pairs (distance ≤ k) emit with their exact
    * distance.
    *
    * Candidate generation (upgraded round 8 after the sf10 gate caught the
    * original): attribute blocking on (nation, segment) alone is Σ block²
    * — 9·10⁹ verifier calls at 1.5 M customers / 125 blocks; the first
    * sf10 run spent 15+ min inside `boundedLev`. Within each attribute
    * block, candidates now come from Ed-Join-style prefix filtering on
    * q-grams (Xiao, Wang, Lin, VLDB 2008 — the edit-distance sibling of
    * q173's PPJoin): a pair within edit distance k can lose at most k·q
    * distinct q-gram types (each edit touches ≤ q gram windows), so under
    * ANY shared total order of grams, two matching records must share a
    * gram among their k·q + 1 FIRST grams. Ordering grams by global
    * (document frequency, gram) puts the RAREST grams in the prefix —
    * constant name prefixes ("Customer#…", the hot segment that defeats
    * naive segment-pigeonhole blocking here) rank last and never join.
    * Per-record cost: one gram explode (≤ |name| rows), one df lookup
    * (broadcast), a kq+1-row prefix — candidate volume rides gram rarity,
    * LINEAR in records. Records with ≤ k·q distinct grams are OUTSIDE the
    * lemma (k edits can destroy their whole gram set — two short disjoint
    * names share no gram yet may match): they fall back to direct pairing
    * within their attribute block (see the degenerate-case branch in
    * [[recordLinkageOn]]). q = 3 is measured,
    * not guessed: q = 4 (bigger prefix, 9 grams) ran 3× SLOWER at sf10 —
    * zero-padded ids leave most 4-grams zero-heavy, so the wider prefix
    * adds candidates faster than the longer gram removes them.
    *
    * Inherent scale bound, measured by the sf10 gate: on DENSE key domains
    * the OUTPUT is superlinear — at sf10 the 9-digit name space is 0.15 %
    * occupied, so a typical name has ~11 neighbors within 2 digit edits
    * (8.29 M matched pairs measured over 1.5 M records)
    * and matches grow ~14× per 10× records (sf0.1: 1.5 k customers →
    * sparse matches; sf10: 1.5 M → ~10⁷ matched pairs). No candidate
    * scheme beats output size; real linkage corpora (person/company
    * names) are sparse in their string space and stay match-linear. The
    * verifier stays budgeted either way. */
  def recordLinkage(spark: SparkSession, dir: String): DataFrame =
    recordLinkageOn(
      Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey").as("nk"),
          col("c_mktsegment").as("seg")))

  /** [[recordLinkage]]'s core over ANY (c_custkey, c_name, nk, seg) frame —
    * split out so the short-string degenerate path can be pinned on
    * synthetic records (the fixture's 18-char names never exercise it). */
  def recordLinkageOn(recs: DataFrame): DataFrame = {
    val spark = recs.sparkSession
    val (k, q) = (2, 3)
    val pfx = k * q + 1
    val c = recs
      .withColumn("grams", expr(
        s"array_distinct(transform(sequence(1, greatest(length(c_name) - $q + 1, 1)), i -> substring(c_name, i, $q)))"))
    // global gram rarity — one small aggregate (gram space is bounded by
    // the name alphabet), broadcast back onto the exploded grams
    val df = c.select(explode(col("grams")).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df"))
    // per-record rarest-first prefix via an IN-ROW array sort over the
    // ≤ |name| joined (df, gram) structs — replaces the row_number window
    // (exchange + range SORT of the full exploded gram stream) with a hash
    // aggregate + a ~16-element per-row sort (r13 optimization pass; the
    // q173 prefix-index discipline — same-day A/B at sf0.1 read
    // 3.1/4.2 s vs the window form's 5.1 s (min-of-3 each), and the
    // asymptotic argument is one-sided: a hash aggregate is O(n) against
    // the window sort's O(n log n), with map-side partial aggregation the
    // window cannot do). (df, gram) is a total order, so the prefix is
    // deterministic, exactly as the window form was.
    val prefix = c.select(col("c_custkey"), col("c_name"), col("nk"), col("seg"),
        explode(col("grams")).as("gram"))
      .join(broadcast(df), Seq("gram"))
      .groupBy(col("c_custkey"), col("c_name"), col("nk"), col("seg"))
      .agg(slice(sort_array(collect_list(struct(col("df"), col("gram")))),
        1, pfx).as("pg"))
      .select(col("c_custkey"), col("c_name"), col("nk"), col("seg"),
        explode(col("pg.gram")).as("gram"))
      // EXPLICIT join-key partitioning at cluster parallelism (r14; guide
      // §2.2/§2.5): the candidate join below fans out ~23× (2.44 M rows
      // from a 105 k-row prefix stream at sf0.1) and the verifier +
      // pair-distinct partials run INSIDE the join stage — but AQE sizes
      // that stage from its INPUT bytes (~6 MB → coalesced to ~6
      // partitions), so the whole verify phase ran on a fraction of the
      // cores. AQE cannot see fan-out; an explicit-N repartition is the
      // documented way to keep it from coalescing a stage whose output,
      // not input, is the cost. defaultParallelism is cluster-adaptive
      // (total cores), not a local constant; the join inherits this
      // distribution (same keys), so no extra exchange is added — the
      // prefix exchange moves from AQE-sized to parallelism-sized.
      // Measured min-of-3 probe at sf0.1: join+verify 2.0-2.4 → 1.4 s;
      // full q155 2.9 → ~1.9 s.
      .repartition(spark.sparkContext.defaultParallelism,
        col("nk"), col("seg"), col("gram"))
    // NOTE (r14, measured and reverted): rewriting this self-join with
    // dataset aliases so the two sides share one ReusedExchange ran 3.20 →
    // 4.55 s (min-of-3, clean canaries). Mechanism: the shared exchange
    // serializes the two per-record aggregate finals behind the broadcast
    // build, while the rename-below form runs both cheap side pipelines
    // CONCURRENTLY on idle cores — same one-sided trade the r13 negative
    // result recorded for the bucket-explosion rewrite. The duplicated
    // work here is the cheap prefix projection, not the verify domain
    // (contrast verifyPairs, where sharing the token-table build won).
    val a = prefix.select(col("c_custkey").as("custkey_a"),
      col("c_name").as("name_a"), col("nk"), col("seg"), col("gram"))
    val b = prefix.select(col("c_custkey").as("custkey_b"),
      col("c_name").as("name_b"), col("nk"), col("seg"), col("gram"))
    val prefixCands = a.join(b, Seq("nk", "seg", "gram"))
      .filter(col("custkey_a") < col("custkey_b"))
      .select(col("nk"), col("seg"), col("custkey_a"), col("custkey_b"),
        col("name_a"), col("name_b"))
    // Degenerate-case fallback: the kq+1 prefix lemma only guarantees a
    // shared prefix gram when a record has MORE than k·q distinct grams —
    // k edits can destroy a short record's entire gram set (e.g. 'ab' vs
    // 'cd': zero shared grams, edit distance 2). Any pair INVOLVING such a
    // record must therefore be verified directly: short records pair with
    // every record in their attribute block. Cost is |short| × block size —
    // zero when the corpus has no sub-(k·q+q−1)-char keys (this fixture:
    // names are 18 chars, the frame below is empty and the union free), and
    // linear while short keys are rare; a corpus that is MOSTLY short
    // strings is outside Ed-Join's regime and should block on length
    // instead (ADVICE r8).
    val shortSide = c.filter(size(col("grams")) <= k * q)
      .select(col("c_custkey").as("key_s"), col("c_name").as("name_s"),
        col("nk"), col("seg"))
    val shortCands = shortSide
      .join(c.select(col("c_custkey").as("key_o"), col("c_name").as("name_o"),
        col("nk"), col("seg")), Seq("nk", "seg"))
      .filter(col("key_s") =!= col("key_o"))
      .select(col("nk"), col("seg"),
        least(col("key_s"), col("key_o")).as("custkey_a"),
        greatest(col("key_s"), col("key_o")).as("custkey_b"),
        when(col("key_s") < col("key_o"), col("name_s")).otherwise(col("name_o")).as("name_a"),
        when(col("key_s") < col("key_o"), col("name_o")).otherwise(col("name_s")).as("name_b"))
    prefixCands.unionByName(shortCands)
      .distinct()
      // Catalyst pushes this filter BELOW the distinct (lev's inputs are
      // grouping keys) — so the 0.5µs codegen verifier runs per candidate
      // row and only MATCHES reach the aggregate. That ordering is right:
      // an sf10 experiment that forced dedup-before-verify (names as
      // first() aggregates) hash-aggregated the full candidate volume and
      // ran 4× SLOWER (1272 s vs 318 s) — shuffling a wide row costs more
      // than verifying it
      .withColumn("lev", Native.boundedLev(col("name_a"), col("name_b"), k).cast("long"))
      .filter(col("lev") <= k)
      .select(col("nk").as("nationkey"), col("seg").as("mktsegment"),
        col("custkey_a"), col("custkey_b"), col("lev"))
      .orderBy("custkey_a", "custkey_b")
  }

  /** Triangle counts (q134) on the LSH candidate graph — the standard graph
    * density probe over near-dup candidates: a doc in many triangles sits in
    * a tightly-interlinked duplicate cluster (template families), while
    * pairwise-only candidates are usually hash noise. Distributed shape is
    * the degree-ordered orientation (Suri & Vassilvitskii's MR triangle
    * count): each undirected edge points from its lower-(degree, id)
    * endpoint to the higher one, so every triangle is counted exactly once
    * at its minimum-order vertex and the wedge self-join fans out by the
    * SMALLEST degree in each edge — the hub vertex of a star never pivots,
    * which is what keeps wedge volume near |E|^1.5 instead of deg_max².
    * Edges and oriented edges are materialized once (each feeds 2-3 lineage
    * paths). Output: per-doc triangle membership counts. */
  def candidateTriangles(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.engine.Fs.scratchDir("graft_tri")
    val pairs = graft.engine.Fs.readParquet(spark, candidatePairsPath(spark, dir))
      .select(col("doc_a"), col("doc_b"))
    val deg = pairs.select(col("doc_a").as("v"))
      .unionAll(pairs.select(col("doc_b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val lower = col("da") < col("db") ||
      (col("da") === col("db") && col("doc_a") < col("doc_b"))
    pairs
      .join(deg.select(col("v").as("doc_a"), col("deg").as("da")), Seq("doc_a"))
      .join(deg.select(col("v").as("doc_b"), col("deg").as("db")), Seq("doc_b"))
      .select(when(lower, col("doc_a")).otherwise(col("doc_b")).as("src"),
        when(lower, col("doc_b")).otherwise(col("doc_a")).as("dst"))
      .write.mode("overwrite").parquet(s"$tmp/edges")
    val e = spark.read.parquet(s"$tmp/edges")
    val wedges = e.select(col("src"), col("dst").as("w1"))
      .join(e.select(col("src"), col("dst").as("w2")), Seq("src"))
      .filter(col("w1") < col("w2"))
    val tris = wedges.join(pairs,
      col("w1") === col("doc_a") && col("w2") === col("doc_b"))
      .select(col("src"), col("w1"), col("w2"))
    tris.select(col("src").as("doc_id"))
      .unionAll(tris.select(col("w1").as("doc_id")))
      .unionAll(tris.select(col("w2").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
      .orderBy("doc_id")
  }

  /** Two-hop candidate expansion (q154): per document in the near-dup
    * candidate graph, its direct degree, the count of distinct nodes exactly
    * two hops away, and how many of those are NEW (not already direct
    * neighbors) — the "check the neighbors of my neighbors" expansion a
    * second-pass dedup runs when LSH recall needs a boost (transitive
    * near-dups whose own band hashes missed each other).
    *
    * Scale shape: one self-join of the edge list on the mid vertex (shuffle
    * co-partitions both sides on the join key), one distinct, one left-anti
    * against the direct edges; every intermediate is bounded by Σ deg² —
    * which the LSH bucket cap bounds in turn (that cap exists precisely so
    * degree-squared terms stay manageable at 100 TB). */
  def twoHopNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.engine.Fs.readParquet(spark, candidatePairsPath(spark, dir))
      .select(col("doc_a"), col("doc_b"))
    val edges = pairs.unionAll(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("n_neighbors"))
    val twoHop = edges.select(col("src"), col("dst").as("mid"))
      .join(edges.select(col("src").as("mid"), col("dst")), Seq("mid"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    val newTwoHop = twoHop.join(edges, Seq("src", "dst"), "left_anti")
    val totals = twoHop.groupBy(col("src")).agg(count(lit(1)).as("n_two_hop"))
    val news = newTwoHop.groupBy(col("src")).agg(count(lit(1)).as("n_two_hop_new"))
    deg.join(totals, Seq("src"), "left")
      .join(news, Seq("src"), "left")
      .select(col("src").as("doc_id"), col("n_neighbors"),
        coalesce(col("n_two_hop"), lit(0L)).as("n_two_hop"),
        coalesce(col("n_two_hop_new"), lit(0L)).as("n_two_hop_new"))
      .orderBy("doc_id")
  }

  /** One exact PageRank power iteration (q164, damping 0.85, uniform start)
    * over the symmetrized near-dup candidate graph — the centrality signal a
    * canonical-selection pass ranks on (the most-connected member of a dup
    * cluster is the best keep candidate, and rank separates hubs from
    * periphery where raw degree ties). Arithmetic is exact integer ppm:
    * each node passes `1000000 div degree` to every neighbor (truncating
    * division — identical in both engines), and the damped combine runs its
    * cross-product in DECIMAL(38,0) so a 10⁷-degree hub cannot overflow.
    *
    * Scale shape: the standard pregel step as three hash aggregates/joins —
    * degree on src, per-edge contribution via an equi-join on src (colocated
    * with the degree shuffle), inflow on dst. No broadcast required, no
    * iteration-k lineage blowup (single step; the iterated form would
    * materialize per round exactly like [[dupClusters]]). */
  def pagerankIteration(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.engine.Fs.readParquet(spark, candidatePairsPath(spark, dir))
      .select(col("doc_a"), col("doc_b"))
    val edges = pairs.unionAll(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("degree"))
    val inflow = edges.join(deg, Seq("src"))
      .select(col("dst"), expr("1000000 div degree").as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
    inflow.join(deg.select(col("src").as("dst"), col("degree")), Seq("dst"))
      .select(col("dst").as("doc_id"), col("degree"),
        expr("CAST(150000 + CAST(850000 AS DECIMAL(38,0)) * inflow div 1000000 AS BIGINT)")
          .as("rank_ppm"))
      .orderBy("doc_id")
  }

  /** Iterated damped PageRank (q181) — [[pagerankIteration]] run to
    * three rounds, the centrality signal actually used for canonical
    * selection (one round separates hubs from periphery poorly on chains;
    * three rounds is where template-cluster ranks stabilize). Exact integer
    * ppm throughout: per-edge contribution r div deg (truncating, identical
    * in both engines), damped combine 150000 + 850000·inflow div 10⁶ with
    * the cross-product in DECIMAL(38,0).
    *
    * The iteration discipline is [[duplicateClusters]]'s: every round's rank
    * frame is MATERIALIZED to scratch parquet before the next round reads
    * it. Load-bearing at any scale — the rank frame feeds both the
    * contribution join and the next round, so unmaterialized lineage doubles
    * per round and round k re-runs the whole candidate pipeline O(2^k)
    * times; with the round-trip each round is two scans + one shuffle. The
    * oracle unrolls the same three rounds as chained CTEs. */
  def pagerankConverged(spark: SparkSession, dir: String): DataFrame =
    pagerankRounds(spark,
      graft.engine.Fs.readParquet(spark, candidatePairsPath(spark, dir))
        .select(col("doc_a"), col("doc_b")),
      3)

  /** [[pagerankConverged]]'s mechanism over any undirected (doc_a, doc_b)
    * pair frame — also the hand-fixture test surface (ExtSpec computes a
    * 3-round path graph on paper). */
  def pagerankRounds(spark: SparkSession, pairs: DataFrame, iters: Int): DataFrame = {
    // versioned-overwrite scratch (NOT a fresh dir per call): N bench passes
    // hold one copy of edges + rank frames, not N; a frame returned by a
    // PREVIOUS invocation fails loudly on the deleted version rather than
    // silently reading torn data — graft.engine.Fs.overwriteVersioned's
    // contract, the same lifecycle the other iterative operators use
    val tmp = graft.engine.Fs.overwriteVersioned("graft_pr") { p =>
      pairs.unionAll(pairs.select(col("doc_b"), col("doc_a")))
        .toDF("src", "dst")
        .write.mode("overwrite").parquet(s"$p/edges")
      val e = spark.read.parquet(s"$p/edges")
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("degree"))
      deg.select(col("src").as("doc_id"), col("degree"), lit(1000000L).as("rank_ppm"))
        .write.mode("overwrite").parquet(s"$p/r0")
      for (k <- 1 to iters) {
        val prev = spark.read.parquet(s"$p/r${k - 1}")
        val inflow = e
          .join(prev.select(col("doc_id").as("src"), col("degree"), col("rank_ppm")),
            Seq("src"))
          .select(col("dst"), expr("rank_ppm div degree").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
        prev.select(col("doc_id"), col("degree"))
          .join(inflow.select(col("dst").as("doc_id"), col("inflow")),
            Seq("doc_id"), "left")
          .select(col("doc_id"), col("degree"),
            expr("CAST(150000 + CAST(850000 AS DECIMAL(38,0)) * coalesce(inflow, 0) div 1000000 AS BIGINT)")
              .as("rank_ppm"))
          .write.mode("overwrite").parquet(s"$p/r$k")
      }
    }
    spark.read.parquet(s"$tmp/r$iters").orderBy("doc_id")
  }

  /** Duplicate CLUSTERS from the LSH candidate graph: connected components via
    * iterative min-label propagation WITH POINTER JUMPING — the final step of
    * a dedup pipeline (pairs → clusters → keep one canonical doc per cluster).
    *
    * Each iteration is two distributed joins + a min-aggregate; the loop runs
    * on the driver but touches no data there (no collect). After the neighbor
    * min-propagation step, labels are shortcut through themselves
    * (label(v) ← min(label(v), label(label(v)))), so the label frontier
    * doubles per round and convergence needs O(log diameter) iterations, not
    * O(diameter) — a boilerplate chain 1000 docs deep converges in ~10 rounds
    * instead of 1000. The first propagation round is folded into the label
    * INIT (label₀ = min(id, neighbors)), and convergence is detected by the
    * label-SUM invariant: labels are per-node monotone non-increasing, so any
    * change strictly decreases the total — one tiny aggregate over the
    * just-written snapshot replaces a join against the previous iteration.
    * A fixed budget of 68 rounds bounds the worst case: pointer jumping
    * needs O(log diameter) <= O(log n) rounds, and 68 covers any graph
    * whose node ids fit a BIGINT ([[clustersFromPairs]]). A budget sized
    * for one SF silently becomes too small when chance LSH collisions knit
    * a giant component at 10x the corpus (measured at sf1: 59x the
    * candidate pairs of sf0.1, diameter past a 10-round budget — the
    * round-7 growth gate caught exactly this).
    *
    * The edge set and each iteration's label frame are MATERIALIZED to
    * parquet (a scratch dir under java.io.tmpdir; at cluster scale this is
    * the Spark checkpoint dir on durable storage). This is load-bearing, not
    * an optimization nicety: `labels` appears twice per iteration (join +
    * union), so an unmaterialized lineage doubles every round — iteration k
    * would re-evaluate the whole MinHash candidate pipeline O(2^k) times.
    * With the round-trip each iteration is three cheap scans, and the
    * RETURNED frame reads one small parquet — no cache entries leak.
    *
    * Output: (doc_id, cluster_id = min doc_id of the component) for every doc
    * that appears in ≥ 1 candidate pair; docs with no candidates are
    * implicitly their own singleton cluster. Every LSH bucket is kept,
    * matching the exhaustive oracle. */
  def duplicateClusters(spark: SparkSession, dir: String): DataFrame =
    clustersFromPairs(spark,
      graft.engine.Fs.readParquet(spark, candidatePairsPath(spark, dir))
        .select(col("doc_a"), col("doc_b")))

  /** [[duplicateClusters]]'s connected-components core over ANY (doc_a,
    * doc_b) pair frame — factored out so the INCREMENTAL maintenance path
    * ([[incrementalClusters]]) can run it on a bounded subgraph, and so
    * fixtures can drive it directly. Same protocol: pointer-jumping
    * min-label propagation, per-round parquet materialization, observed
    * label-sum convergence confirmed on committed snapshots, fail-loud.
    * A positive `maxIters` replaces the 68-round budget (the hand-fixture
    * path of [[incrementalClustersFrom]]). */
  def clustersFromPairs(spark: SparkSession, pairs: DataFrame,
      maxIters: Int = 0): DataFrame = {
    val tmp = graft.engine.Fs.scratchDir("graft_cc")
    val edges = pairs
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
    // auto budget: log2(nodes) + 4 rounds always suffices for pointer
    // jumping (diameter <= nodes, reach doubles per round) — so a CONSTANT
    // 68 (= log2(2^63) + 4 + 1) suffices for any graph whose node ids fit a
    // BIGINT. The budget is a fail-loud BACKSTOP, never the exit condition
    // (the label-sum fixed point is), so the previous distinct+count pass
    // over the edge list that tightened 68 down to log2(n)+4 bought nothing
    // a correct run could observe — a full per-invocation scan spent on a
    // number the loop never reaches (guide §1.2: don't compute things you
    // throw away; removed in the r13 optimization pass, one fewer job per
    // CC invocation at every scale).
    val iterBudget = if (maxIters > 0) maxIters else 68
    // round 0 folded into the init: label0 = min(id, min neighbor) — one
    // aggregate instead of a full propagation iteration
    // convergence metric rides ON the snapshot write via CollectMetrics
    // (df.observe): the label sum is computed by the same tasks that write
    // the parquet, so each round costs exactly ONE job — no follow-up scan
    // of the just-written snapshot. DECIMAL(38,0): a 64-bit sum of ~10⁹ node
    // ids would overflow (ANSI throw).
    def writeObserved(df: DataFrame, path: String): java.math.BigDecimal = {
      val obs = org.apache.spark.sql.Observation()
      df.observe(obs,
          coalesce(sum(col("label").cast("decimal(38,0)")),
            lit(java.math.BigDecimal.ZERO)).as("label_sum"))
        .write.mode("overwrite").parquet(path)
      obs.get("label_sum").asInstanceOf[java.math.BigDecimal]
    }
    def committedSum(s: SparkSession, path: String): java.math.BigDecimal =
      s.read.parquet(path)
        .agg(coalesce(sum(col("label").cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO)))
        .head().getDecimal(0)
    var prevSum = writeObserved(
      edges.groupBy(col("src"))
        .agg(least(min(col("dst")), col("src")).as("label"))
        .select(col("src").as("id"), col("label")),
      s"$tmp/labels0")
    var labels = spark.read.parquet(s"$tmp/labels0")
    var converged = false
    var i = 0
    while (!converged && i < iterBudget) {
      // step 1: neighbor min-propagation (each node takes the min of its own
      // and its neighbors' labels)
      val prop = labels.join(edges, col("id") === col("src"))
        .select(col("dst").as("id"), col("label"))
        .union(labels)
        .groupBy("id").agg(min(col("label")).as("label"))
      // step 2: pointer jumping — shortcut each label through ITS label.
      // Every label is itself a node id (the min of a set of node ids that
      // includes the labeled node), so the self-join always resolves; labels
      // are monotone non-increasing, hence label(label(v)) <= label(v) and
      // `least` + coalesce only defend against a hypothetical miss.
      val shortcut = prop
        .join(prop.select(col("id").as("j_id"), col("label").as("j_label")),
          col("label") === col("j_id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("j_label"), col("label"))).as("label"))
      // convergence via the label-sum invariant: per-node labels are monotone
      // non-increasing, so ANY change strictly decreases the total — observed
      // on the write itself
      val s = writeObserved(shortcut, s"$tmp/labels${i + 1}")
      labels = spark.read.parquet(s"$tmp/labels${i + 1}")
      // Observed accumulator sums can in principle over-count on speculative/
      // retried tasks at cluster scale (the committed files would not) — in
      // EITHER direction that matters: an inflated sum masking a real change
      // would declare convergence on partially-propagated (wrong) labels.
      // So the observed equality is only a TRIGGER; the verdict comes from
      // the committed snapshots (two tiny scans, paid once at the fixed
      // point, not per round).
      if (s.compareTo(prevSum) == 0)
        converged = committedSum(spark, s"$tmp/labels${i + 1}")
          .compareTo(committedSum(spark, s"$tmp/labels$i")) == 0
      prevSum = s
      i += 1
    }
    // Not converged by observed sums within budget: the committed snapshots
    // are still the ground truth (an over-counted metric could have masked
    // the fixed point on every round) — one last committed comparison before
    // failing.
    if (!converged && i >= 1)
      converged = committedSum(spark, s"$tmp/labels$i")
        .compareTo(committedSum(spark, s"$tmp/labels${i - 1}")) == 0
    // Partial propagation is WRONG output (one component reported as two) —
    // fail loudly rather than return it: a component the budget cannot
    // cover is an error, not a truncation.
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters did not converge within its budget of $iterBudget " +
          "iterations (component diameter exceeds the budget)")
    // eager scratch cleanup: the returned frame reads ONLY the final labels
    // dir (which the shutdown hook reclaims at JVM exit)
    graft.engine.Fs.rmTree(s"$tmp/pairs")
    (0 until i).foreach(j => graft.engine.Fs.rmTree(s"$tmp/labels$j"))
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** q195: INCREMENTAL cluster maintenance — a just-ingested wave's candidate
    * pairs (those touching a [[graft.engine.RelOps.inWave]] doc_id) folded
    * into the EXISTING
    * at-rest cluster labels with a BOUNDED recompute, never full-graph CC:
    *
    *  1. base labels = [[clustersFromPairs]] over corpus-only pairs (both
    *     endpoints outside the wave) — the at-rest state, built once per
    *     (pairs snapshot, wave);
    *  2. affected components = base labels of any corpus node a batch pair
    *     touches (the affected-label set is batch-bounded → broadcast);
    *  3. recompute subgraph = batch pairs + corpus pairs INSIDE affected
    *     components. Base components are closed under corpus edges, so one
    *     endpoint semi-join selects exactly the in-component edges;
    *  4. CC on the subgraph; every untouched component's labels pass through
    *     unchanged (anti-join).
    *
    * The output EQUALS full-graph CC (the oracle runs the same transitive
    * closure as q62 over ALL pairs): a batch pair gluing two base components
    * pulls both into the subgraph, pure-batch nodes enter via their pairs,
    * and min-id labels of untouched components cannot change. At 100 TB this
    * is the difference between re-clustering the corpus per ingest wave and
    * recomputing only the components the wave touches. */
  def incrementalClusters(spark: SparkSession, dir: String): DataFrame =
    incrementalClustersFrom(spark,
      graft.engine.Fs.readParquet(spark, candidatePairsPath(spark, dir))
        .select(col("doc_a"), col("doc_b")),
      s"$dir/documents.parquet", 10, 7, 0)

  /** [[incrementalClusters]]'s machinery over any pair frame — also the
    * hand-fixture surface. `fixture` is the path `all` derives from: it keys
    * the at-rest base labels ([[graft.engine.SessionMemo.atRest]]); a hand
    * fixture passes a path unique to its planted graph. */
  def incrementalClustersFrom(spark: SparkSession, all: DataFrame,
      fixture: String, mod: Int, rem: Int, maxIters: Int): DataFrame = {
    val isBatchPair = (col("doc_a") % mod === rem) || (col("doc_b") % mod === rem)
    val corpusPairs = all.filter(!isBatchPair)
    val batchPairs = all.filter(isBatchPair)
    val basePath = graft.engine.SessionMemo.atRest(spark,
        ("ccbase", fixture, mod, rem, maxIters), fixture) { p =>
      clustersFromPairs(spark, corpusPairs, maxIters)
        .write.mode("overwrite").parquet(p)
    }
    val base = graft.engine.Fs.readParquet(spark, basePath)
    val touched = batchPairs.select(col("doc_a").as("doc_id"))
      .union(batchPairs.select(col("doc_b").as("doc_id"))).distinct()
    val affected = base.join(touched, Seq("doc_id"), "left_semi")
      .select(col("cluster_id")).distinct()
    val affectedNodes = base.join(broadcast(affected), Seq("cluster_id"), "left_semi")
      .select(col("doc_id"))
    val subCorpus = corpusPairs.join(
      affectedNodes.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
    // Materialize the recompute subgraph ONCE before the CC loop (r13
    // optimization pass, guide §1.2 / §5 lineage-truncation): the loop
    // re-executes its input lineage on every round (labels0 aggregate +
    // each round's propagation join), which is fine when the input is a
    // parquet scan (q62) but here the input is the whole affected-subgraph
    // pipeline — batch split + two semi-joins against the base labels —
    // and was re-running per round (profiled: 67 jobs per q195 pass vs
    // q62's 34 for the same loop). One scratch write truncates that to a
    // scan; versioned-overwrite so N bench passes hold one copy
    // (the pagerank-rounds lifecycle).
    val subPath = graft.engine.Fs.overwriteVersioned("graft_ccinc") { p =>
      subCorpus.unionAll(batchPairs)
        .write.mode("overwrite").parquet(s"$p/pairs")
    }
    val recomputed = clustersFromPairs(
      spark, spark.read.parquet(s"$subPath/pairs"), maxIters)
    base.join(affectedNodes, Seq("doc_id"), "left_anti")
      .unionAll(recomputed.select(col("doc_id"), col("cluster_id")))
      .orderBy("doc_id")
  }

  /** Sketch-quality monitor (q120): per LSH candidate pair, the MinHash
    * signature ESTIMATE of Jaccard (equal-slot fraction — the unbiased
    * estimator the sketch is built on) against the EXACT shingle Jaccard,
    * plus the absolute error. The continuous check that the 12-slot budget
    * still tracks reality on current data, the MinHash counterpart of q90's
    * ANN recall monitor. Integer ppm on both sides, so the comparison is
    * oracle-exact. Cost: the [[minhashJaccard]] pipeline (exact side) + one
    * signatures join per pair side — candidate-bounded, never all-pairs. */
  def sketchQuality(spark: SparkSession, dir: String): DataFrame = {
    val exact = minhashJaccard(spark, dir)
      .select("doc_a", "doc_b", "n_a", "n_b", "n_common")
    val sig = minhashSignatures(spark, dir)
    val sa = sig.select(col("doc_id").as("doc_a") +:
      (0 until 12).map(i => col(s"s$i").as(s"a$i")): _*)
    val sb = sig.select(col("doc_id").as("doc_b") +:
      (0 until 12).map(i => col(s"s$i").as(s"b$i")): _*)
    val nEq = (0 until 12)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    exact.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .withColumn("n_eq_slots", nEq.cast("int"))
      .select(col("doc_a"), col("doc_b"), col("n_eq_slots"),
        expr("CAST(n_eq_slots AS BIGINT) * 1000000 div 12").as("est_ppm"),
        expr("n_common * 1000000L div (n_a + n_b - n_common)").as("jaccard_ppm"))
      .withColumn("abs_err_ppm", abs(col("est_ppm") - col("jaccard_ppm")))
      .orderBy("doc_a", "doc_b")
  }

  /** The fixed 10-token segments of each doc of at least 10 tokens, in
    * order — the cut shared by [[segmentDedup]], [[segmentDedupRewrite]]
    * and [[decontaminateRewrite]]. */
  private def segments(spark: SparkSession, dir: String,
      explodeFn: Column => Column): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 10)
      .select(col("doc_id"), explodeFn(expr(
        """transform(sequence(0, size(words) div 10 - 1),
          |  i -> concat_ws(' ', slice(words, i * 10 + 1, 10)))""".stripMargin)))

  /** CCNet-style repeated-SEGMENT dedup statistics: documents are chopped into
    * fixed 10-token segments ([[segments]]) (this corpus has no newlines, so fixed
    * windows stand in for CCNet's lines/paragraphs), each segment is hashed,
    * and a segment is boilerplate iff it appears in ≥ 2 DISTINCT documents.
    * Per doc: segment counts and the integer checksum of the KEPT (non-
    * boilerplate) segments — the identity of the residual document after
    * cross-doc paragraph dedup.
    *
    * Scale shape: one map-side-combinable groupBy on the segment hash builds
    * the (unique-keyed) frequency table; docs join it 1:1 per segment — a hot
    * boilerplate segment is a popular DIM key, never a k² pair blowup. The
    * per-doc rollup is a second hash aggregate. No window, no self-join. */
  def segmentDedup(spark: SparkSession, dir: String): DataFrame = {
    val segs = segments(spark, dir, explode(_).as("seg"))
      .select(col("doc_id"),
        Native.md5Prefix(col("seg"), 7).as("h"),
        col("seg"))
    val freq = segs.groupBy(col("seg"))
      .agg(countDistinct(col("doc_id")).as("n_docs_with_seg"))
    segs.join(freq, Seq("seg"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("n_docs_with_seg") >= 2, 1L).otherwise(0L)).as("n_dup_segments"),
        coalesce(sum(when(col("n_docs_with_seg") < 2, col("h"))), lit(0L)).as("kept_checksum"))
      .orderBy("doc_id")
  }

  /** q191: [[segmentDedup]]'s REWRITE form — the deliverable a real pipeline
    * ships: each document's text reassembled from only the segments that are
    * NOT corpus-wide duplicates (the C4 recipe: drop any span that occurs
    * verbatim in ≥ 2 documents, keep the rest in original order). Where
    * [[segmentDedup]] reports per-doc dup statistics, this emits the cleaned
    * text itself, so the output is the next pipeline stage's input.
    *
    * Scale shape: segments explode once, the corpus-frequency aggregate is
    * map-side combinable on the segment string, and reassembly is a per-doc
    * collect_list whose ORDER is restored by array_sort on the in-doc segment
    * index (collect_list order is partition-dependent; the sort makes the
    * rebuilt text deterministic under any shuffle layout). Docs whose every
    * segment is boilerplate come out with empty text, not dropped — the
    * downstream length filter decides their fate, same as C4. */
  def segmentDedupRewrite(spark: SparkSession, dir: String): DataFrame = {
    val segs = segments(spark, dir, posexplode(_).as(Seq("idx", "seg")))
    val freq = segs.groupBy(col("seg"))
      .agg(countDistinct(col("doc_id")).as("n_docs_with_seg"))
    segs.join(freq, Seq("seg"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("n_docs_with_seg") >= 2, 1L).otherwise(0L)).as("n_dropped"),
        expr("""concat_ws(' ',
               |  transform(
               |    array_sort(collect_list(
               |      IF(n_docs_with_seg < 2, struct(idx, seg), NULL))),
               |    e -> e.seg))""".stripMargin).as("clean_text"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination REWRITE (q212) — the span-level removal the
    * doc-level flag (q57) and bloom screen (q74) feed: every 10-token
    * segment that appears VERBATIM among the benchmark docs' segments
    * (doc_id % benchModFor(dir) = 0 — the shared q57/q74 fixed-benchmark
    * law, = 50 at shipped SFs) is dropped from each corpus
    * doc and the surviving text REASSEMBLED in original order — what
    * contamination-sensitive pipelines actually ship (flagging a 10k-token
    * doc for one leaked question wastes the doc; cutting the span keeps it).
    * Same in-row order restoration as [[segmentDedupRewrite]] (array_sort on
    * the segment index — collect_list order is partition-dependent; no
    * window). The benchmark segment set is benchmark-sized → broadcast; the
    * corpus side is one segment explode + one aggregate. */
  def decontaminateRewrite(spark: SparkSession, dir: String): DataFrame = {
    val segs = segments(spark, dir, posexplode(_).as(Seq("idx", "seg")))
    // benchmark membership follows the fixed-benchmark law
    // ([[graft.ext.TextStats.benchModFor]], round 10) — the bench segment
    // set is ~1000 docs' segments at ANY corpus size, so this broadcast is
    // bounded by construction (the old fixed % 50 grew it with the corpus)
    val mod = TextStats.benchModFor(spark, dir)
    val bench = segs.filter(col("doc_id") % mod === 0)
      .select(col("seg")).distinct().withColumn("hit", lit(1))
    segs.filter(col("doc_id") % mod =!= 0)
      .join(broadcast(bench), Seq("seg"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        expr("""concat_ws(' ',
               |  transform(
               |    array_sort(collect_list(
               |      IF(hit IS NULL, struct(idx, seg), NULL))),
               |    e -> e.seg))""".stripMargin).as("clean_text"))
      .orderBy("doc_id")
  }

  /** Sorted-neighborhood near-dup candidates (q219) — the THIRD classic
    * blocking method beside LSH banding (q29) and prefix filtering (q173):
    * sort the corpus by a normalized sort key (here the first 3 words,
    * lowercased), slide a fixed window of 4 over the sorted order, and
    * verify exactly the pairs that fall within a window (Hernández &
    * Stolfo, SIGMOD 1995). Where LSH is probabilistic and prefix-filter is
    * threshold-exact, SNM is CHEAP and key-local: it finds near-dups whose
    * edits keep the sort key (template/prefix-stable duplicates — most
    * crawl dups) at the cost of one sort, and is the method of choice when
    * the duplicate signal concentrates in a prefix field (titles, URLs,
    * names).
    *
    * Scale shape: the global rank is a CHUNKED PARALLEL PREFIX, not a
    * single-partition window (q184's pattern): rows chunk on the key's
    * first character (order-aligned), rank within each chunk is a
    * partitioned window, and the cross-chunk offset is a cumulative count
    * over the chunk-count-sized frame — proven equal to the naive global
    * ROW_NUMBER by the oracle. Neighborhood pairing is 3 equi-joins on
    * rank (rank+j = rank2) — boundary pairs across chunks still pair,
    * because pairing reads rank VALUES, not chunk locality. Verification is
    * the shared `array_intersect` shape on the at-rest shingle arrays
    * ([[shingleTokensPath]]). A pathologically hot first character recurses
    * to a longer prefix — the same escape hatch q184 documents. */
  def sortedNeighborhoodPairs(spark: SparkSession, dir: String,
      thresholdPpm: Long = 500000L): DataFrame = {
    val docToks = graft.engine.Fs.readParquet(spark, shingleTokensPath(spark, dir))
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"),
        lower(concat_ws(" ", slice(split(col("text"), " "), 1, 3))).as("k"))
      .withColumn("c", substring(col("k"), 1, 1))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c")).orderBy(col("k"), col("doc_id"))
    val wOff = org.apache.spark.sql.expressions.Window.orderBy(col("c"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offs = keyed.groupBy(col("c")).agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(wOff), lit(0L)))
      .select(col("c"), col("off"))
    val ranked = keyed.withColumn("ri", row_number().over(wIn))
      .join(broadcast(offs), Seq("c"))
      .select(col("doc_id"), (col("off") + col("ri")).as("r"))
    // ranks are unique, so the unordered pair at gap g arises from exactly
    // one branch (j = g) exactly once — no dedup pass needed (the oracle's
    // DISTINCT is equally vacuous)
    val within = (1 until 4).map { j =>
      ranked.select(col("doc_id").as("id_a"), (col("r") + j).as("r2"))
        .join(ranked.select(col("doc_id").as("id_b"), col("r").as("r2")), Seq("r2"))
        .select(least(col("id_a"), col("id_b")).as("doc_a"),
          greatest(col("id_a"), col("id_b")).as("doc_b"))
    }.reduce(_ unionByName _)
    verifyPairs(within, docToks, thresholdPpm)
  }

  /** Dedup METHOD-RECALL datasheet (q220) — the comparison a pipeline owner
    * reads before picking a blocking method: at one Jaccard threshold, how
    * many true near-dup pairs each candidate generator actually surfaces.
    * Ground truth is [[prefixFilterJoin]] — EXACT AND COMPLETE at the
    * threshold by the prefix-filter lemma (the oracle independently
    * recomputes truth by brute force, so the lemma itself stays under
    * test); methods are LSH banding ([[minhashJaccard]], probabilistic
    * recall) and sorted-neighborhood ([[sortedNeighborhoodPairs]],
    * key-local recall). Every method exact-verifies its candidates, so
    * found ⊆ truth by construction and recall is n_found/n_truth — no
    * intersection join needed (precision is 1.0 for all three, which is
    * the point of candidate-then-verify architectures).
    *
    * Scale shape: three already-bounded pipelines (each documented at its
    * definition) + three 1-row aggregates + a broadcast scalar join. All
    * three share the at-rest shingle/band indexes, so the marginal cost of
    * the comparison is the aggregates. */
  def dedupMethodRecall(spark: SparkSession, dir: String,
      thresholdPpm: Long = DefaultJaccardPpm): DataFrame = {
    // truth is the most expensive pipeline here — aggregated ONCE, IN-PLAN
    // (r14; previously an eager `.count()` at construction time): the
    // 1-row count subtree appears twice (its method row and the n_truth
    // broadcast), but both sit above the SAME canonical aggregate exchange,
    // which exchange reuse collapses to one execution. In-plan, the truth
    // pipeline's stages overlap the lsh/snm aggregates inside one job
    // instead of serializing a driver round-trip before them, and the
    // builder is lazy like every other catalog builder. Measured (solo
    // bench, min-of-N, same day): 2.38 → 1.54 s.
    val truthCount = prefixFilterJoin(spark, dir, thresholdPpm)
      .agg(count(lit(1)).as("n_truth"))
    val lsh = minhashJaccard(spark, dir)
      .filter(expr(s"n_common * 1000000 div (n_a + n_b - n_common) >= $thresholdPpm"))
      .select(col("doc_a"), col("doc_b"))
    val snm = sortedNeighborhoodPairs(spark, dir, thresholdPpm)
      .select(col("doc_a"), col("doc_b"))
    def counted(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_found")).select(lit(name).as("method"), col("n_found"))
    counted("lsh_bands", lsh)
      .unionByName(truthCount.select(lit("prefix_filter").as("method"),
        col("n_truth").as("n_found")))
      .unionByName(counted("sorted_neighborhood", snm))
      .crossJoin(broadcast(truthCount))
      .select(col("method"), col("n_truth"), col("n_found"),
        // nullif mirrors the DuckDB oracle: an empty truth set (no near-dup
        // pairs at the threshold) yields NULL recall, not ANSI div-by-zero
        expr("CAST(n_found * 1000000 div nullif(n_truth, 0) AS BIGINT)")
          .as("recall_ppm"))
      .orderBy("method")
  }

  /** Cross-SOURCE duplication matrix (q223) — dedup-burden attribution: for
    * every source pair, how many verified near-dup pairs span them (who is
    * mirroring whom), plus each source's within-source count on the
    * diagonal. The pair stream is the at-rest LSH candidate index verified
    * at [[DefaultJaccardPpm]] ([[minhashJaccard]]'s columns carry exact counts), so
    * the matrix costs two dim-sized joins over an already-bounded pair set
    * — the corpus is never rescanned. Output ordered (src_a ≤ src_b,
    * lexicographic). The release-gate (q200) says IF a source is dirty;
    * this says WITH WHOM. */
  def crossSourceDupMatrix(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashJaccard(spark, dir)
      .filter(expr(s"n_common * 1000000 div (n_a + n_b - n_common) >= $DefaultJaccardPpm"))
      .select(col("doc_a"), col("doc_b"))
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("s_a")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("s_b")), Seq("doc_b"))
      .select(least(col("s_a"), col("s_b")).as("src_a"),
        greatest(col("s_a"), col("s_b")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_dup_pairs"))
      .orderBy("src_a", "src_b")
  }

  /** TAKEDOWN expansion (q224) — rights-holder removal with near-dup
    * closure: deleting only the requested doc leaves its mirrors serving
    * the same content, so a takedown expands through the duplicate-cluster
    * labels ([[clustersPath]], the at-rest CC index) to every member of a
    * requested doc's cluster. Requests are deterministic
    * (doc_id % 83 = 11); output: one row per REMOVED doc with its cluster,
    * whether it was directly requested, and the request that pulled it in
    * (min requested id in the cluster — auditable provenance). The corpus
    * pays one broadcast semi-join against the request-hit cluster set;
    * un-clustered requested docs (singletons, absent from the pair graph)
    * remove just themselves via the label fallback. */
  def takedownExpansion(spark: SparkSession, dir: String): DataFrame = {
    val requested = col("doc_id") % 83 === 11
    val labels = graft.engine.Fs.readParquet(spark, clustersPath(spark, dir))
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    // every doc gets a label: clustered docs their component id, singletons
    // themselves (clustersPath only covers docs in the candidate graph)
    val labeled = docs.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cl"))
    val hit = labeled.filter(requested)
      .groupBy(col("cl")).agg(min(col("doc_id")).as("requested_by"))
    labeled.join(broadcast(hit), Seq("cl"))
      .select(col("doc_id"), col("cl").as("cluster_id"),
        requested.as("directly_requested"),
        col("requested_by"))
      .orderBy("doc_id")
  }

  /** EFFECTIVE token budget (q226) — the one number a pretraining plan is
    * built on: per source, raw tokens vs tokens surviving near-dup removal
    * (the [[dedupSurvivors]] policy — non-canonical cluster members drop),
    * with the duplication inflation in ppm. Raw corpus statistics overstate
    * the budget exactly by this margin; epoch math done on raw counts
    * silently over-trains on duplicated sources. One corpus scan for token
    * counts, one broadcast anti-join against the (tiny) loser set from the
    * at-rest cluster labels — the corpus is never re-paired. */
  def effectiveTokens(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val losers = graft.engine.Fs.readParquet(spark, clustersPath(spark, dir))
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id")).withColumn("lost", lit(1))
    toks.join(broadcast(losers), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("raw_tokens"),
        sum(when(col("lost").isNull, col("n_tokens")).otherwise(0L))
          .as("effective_tokens"))
      .withColumn("inflation_ppm", expr(
        "CAST((raw_tokens - effective_tokens) * 1000000 div raw_tokens AS BIGINT)"))
      .orderBy("source")
  }

  /** Corpus row count, a [[graft.engine.SessionMemo]] entry (a parquet
    * metadata read) — sizes corpus-proportional exchanges. */
  private[graft] def docCount(spark: SparkSession, dir: String): Long =
    graft.engine.SessionMemo(spark, ("docs", dir), s"$dir/documents.parquet")(
      Tables.documents(spark, dir).count())

  /** Cross-language shingle-overlap matrix: for each (lang_a < lang_b) pair,
    * the number of DISTINCT 3-word shingles both language slices contain —
    * the cross-lingual contamination / code-switching diagnostic a corpus
    * card reports.
    *
    * Shape (reworked round 8 after the sf10 sweep measured the self-join
    * form at 15.7× for 10× rows / 35 s): ONE `groupBy(sh)` collecting each
    * shingle's language set — `collect_set` is partial-aggregable, so the
    * per-partition dedup happens map-side — then the L·(L−1)/2 pairs expand
    * IN-ROW from the sorted set (L is bounded by the language inventory) and
    * a tiny pair rollup. The previous form shuffled the distinct (lang,
    * shingle) table twice more through a sort-merge SELF-join on the shingle
    * string; under a Heaps-growing vocabulary the distinct-shingle table
    * grows faster than the corpus, so those extra shingle-mass shuffles are
    * exactly the wrong place to spend them. */
  def langOverlapMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Round 10 (the sf1000 probe ENOSPC'd in the shingle aggregate): the
    // language INVENTORY is a bounded corpus statistic (a corpus card lists
    // tens of languages, not thousands) — collect it once from a lang-only
    // pruned scan (the q234 eval / centroidLits driver-seed discipline) and
    // aggregate a LANG BITMASK per shingle with `bit_or`. collect_set kept
    // an array-of-strings ObjectAggregate state: the per-shingle agg fell
    // out of whole-stage codegen into the sort-based fallback, spilling raw
    // object buffers for the full distinct-shingle mass (~2.5 G types at
    // 50 M docs). An 8-byte primitive state stays in the codegen hash map,
    // partial-combines map-side, and shuffles a long instead of an array.
    // Pairs expand in-row from the mask bits against the sorted inventory,
    // so output order matches the collect_set form exactly. EXACT semantics,
    // same oracle; >62 languages falls back to the wide form. The inventory
    // is a [[graft.engine.SessionMemo]] entry (round-10 ADVICE low): it is a
    // corpus constant, and re-collecting it per invocation added a full
    // lang-column scan to every call.
    val langs: Seq[String] = graft.engine.SessionMemo(spark, ("langs", dir),
      s"$dir/documents.parquet")(
      Tables.documents(spark, dir)
        .filter(col("lang").isNotNull)
        .select(col("lang")).distinct().orderBy("lang").as[String].collect().toSeq)
    if (langs.length > 62) return langOverlapMatrixWide(spark, dir)
    val bitOf: Column = langs.zipWithIndex.foldLeft(lit(0L): Column) {
      case (acc, (l, i)) => when(col("lang") === l, lit(1L << i)).otherwise(acc) }
    val n = langs.length
    // Round 11 (the q103/q130 treatment, VERDICT r10 #4): the mask
    // aggregate groups on the 64-bit in-row shingle hash (codegen
    // [[graft.functions.GramHashes]]), not the raw string — round 10 fixed
    // this exchange's STATE (8-byte bitmask vs collect_set objects) but the
    // KEY still shipped every distinct shingle string; 16-byte rows cut the
    // remaining exchange mass ~3-4×. Shingle identity is internal (only
    // lang-pair counts leave), collision note as in ngramNovelty: a merge
    // ORs two shingles' masks — expected colliding pairs ≈ 0.03 at 10⁹
    // distinct shingles; the string-keyed oracle re-verifies per run.
    // the mask aggregate's reduce side holds one (hash, mask) entry per
    // distinct shingle IN ITS PARTITION: at the session default of
    // #cores partitions the per-task hash map crosses its memory cliff
    // around ~10 M docs and HashAggregate falls into sort-based spilling
    // — the round-11 sf300 probe measured 5.2× for 3× rows from exactly
    // that fallback I/O, on an aggregate that is otherwise linear. Scale
    // the exchange's partition count with the corpus (~1 partition per
    // 100k docs ≈ 5M distinct shingles ≈ 80 MB of map per task) so the
    // per-task state stays hash-resident at any SF — on a real cluster
    // this is just "more reducers".
    //
    // DELIBERATE TRADEOFF, measured (round 12, round-11 ADVICE #1): the
    // repartition below the aggregate suppresses MAP-SIDE partial combine
    // — the exchange carries the raw doc-distinct posting stream (16-byte
    // rows), not partition-distinct (sh, mask) states. That is the FASTER
    // shape for this key profile: trigram hashes are mostly DISTINCT
    // (Heaps vocabulary — key count ~ row count), so a map-side partial
    // agg buys almost no combining yet must sort-spill its overflowing
    // hash map on every map task. The MATCHED-CONDITION A/B at sf300
    // (15 M docs, same day, same 64 g heap — BENCH.md round-12 table):
    // this form 91.7 s; the partial-combine form (aggregate keeps its own
    // exchange, AQE data-sized reducers) 302.6 s — 3.3× worse, and the
    // gap is near-insensitive to executor memory (at a matched 8 g heap:
    // 94-107 s vs 152.1 s), all of it map-side UnsafeKVExternalSorter
    // I/O for ~zero exchange-mass savings. On a
    // real cluster the same math holds: partial combine pays sort I/O
    // proportional to corpus mass to remove a fraction of exchange bytes
    // bounded by the (low) in-partition key duplication rate. For
    // LOW-cardinality aggregates the opposite holds — and those keep
    // their natural partial-combining groupBy everywhere else in the
    // engine.
    val parts = math.max(spark.sparkContext.defaultParallelism,
      (docCount(spark, dir) / 100000L).toInt)
    val masks = Tables.documents(spark, dir)
      .select(col("lang"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 3)
      .select(bitOf.as("lb"),
        explode(array_distinct(Native.gramHashes(col("words"), 3))).as("sh"))
      .repartition(parts, col("sh"))
      .groupBy(col("sh"))
      .agg(bit_or(col("lb")).as("mask"))
      .filter(bit_count(col("mask")) >= 2)
    masks
      .select(col("mask"), array(langs.map(lit(_)): _*).as("la"))
      .select(explode(expr(
        s"""flatten(transform(sequence(0, ${math.max(n - 2, 0)}), i ->
           |  filter(transform(sequence(i + 1, ${math.max(n - 1, 1)}), j ->
           |    IF((shiftright(mask, i) & 1) = 1 AND (shiftright(mask, j) & 1) = 1,
           |       named_struct('lang_a', element_at(la, i + 1),
           |                    'lang_b', element_at(la, j + 1)),
           |       CAST(NULL AS STRUCT<lang_a: STRING, lang_b: STRING>))),
           |    s -> s IS NOT NULL)))""".stripMargin)).as("p"))
      .groupBy(col("p.lang_a").as("lang_a"), col("p.lang_b").as("lang_b"))
      .agg(count(lit(1)).as("n_shared_shingles"))
      .orderBy("lang_a", "lang_b")
  }

  /** The pre-round-10 collect_set form of [[langOverlapMatrix]] — kept as
    * the fallback for inventories past the 62-bit mask (and as the
    * reference formulation the bitmask form is spec-checked against). */
  private[graft] def langOverlapMatrixWide(spark: SparkSession, dir: String): DataFrame = {
    val langSets = Tables.documents(spark, dir)
      .select(col("lang"), split(col("text"), " ").as("words"))
      .filter(size(col("words")) >= 3)
      .select(col("lang"), explode(shingles).as("sh"))
      .groupBy(col("sh"))
      .agg(array_sort(collect_set(col("lang"))).as("ls"))
      .filter(size(col("ls")) >= 2)
    langSets
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ls) - 1),
          |  i -> transform(sequence(i + 1, size(ls)),
          |    j -> named_struct('lang_a', element_at(ls, i), 'lang_b', element_at(ls, j)))))""".stripMargin))
        .as("p"))
      .groupBy(col("p.lang_a").as("lang_a"), col("p.lang_b").as("lang_b"))
      .agg(count(lit(1)).as("n_shared_shingles"))
      .orderBy("lang_a", "lang_b")
  }

  /** Incremental (new-batch-vs-corpus) dedup — the shape every continuously
    * ingesting training pipeline actually runs: an incoming shard (here the
    * [[graft.engine.RelOps.inWave]] slice of doc_id) is checked against the
    * EXISTING corpus without ever comparing corpus docs to each other.
    * Per batch doc:
    *  - `exact_dup_of`: the min corpus doc_id with an identical normalized
    *    fingerprint (null if none) — a fingerprint equi-join;
    *  - `n_near_candidates`: distinct corpus docs sharing >= 1 MinHash band —
    *    an LSH-band equi-join, never all-pairs;
    *  - `is_new`: no exact dup and no near candidate -> safe to ingest.
    *
    * Scale shape: at 100 TB the corpus side of both joins is a precomputed
    * at-rest index (fingerprint table + band table, appended per batch); the
    * batch side is small, so both joins broadcast the batch. Band signatures
    * are computed ONCE here (materialized to scratch) and filtered into the
    * two sides — the corpus is never re-signed per batch in the at-rest
    * design. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val isBatch = graft.engine.RelOps.inWave(col("doc_id"))
    val docs = Tables.documents(spark, dir)
    val fps = docs.select(col("doc_id"), TextStats.fingerprint(col("text")).as("fp"))
    val exact = fps.filter(isBatch)
      .join(fps.filter(!isBatch).select(col("fp"), col("doc_id").as("c_id")),
        Seq("fp"), "left")
      .groupBy(col("doc_id"))
      .agg(min(col("c_id")).as("exact_dup_of"))
    // the at-rest band index, built once per documents snapshot (see
    // [[candidatePairsPath]]'s cost model) — in the deployed form this IS the
    // appended-per-batch table
    val bandsPath = graft.engine.SessionMemo.atRest(spark, ("bands", dir),
        s"$dir/documents.parquet")(p =>
      bandsUnordered(spark, dir).write.mode("overwrite").parquet(p))
    val bands = graft.engine.Fs.readParquet(spark, bandsPath)
    val near = bands.filter(isBatch)
      .join(bands.filter(!isBatch)
          .select(col("band_idx"), col("band_hash"), col("doc_id").as("cand_id")),
        Seq("band_idx", "band_hash"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("cand_id")).as("n_near_candidates"))
    docs.filter(isBatch)
      .select(col("doc_id"), col("lang"), col("source"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .withColumn("n_near_candidates", coalesce(col("n_near_candidates"), lit(0L)))
      .withColumn("is_new",
        col("exact_dup_of").isNull && col("n_near_candidates") === 0)
      .orderBy("doc_id")
  }

  /** The consumer-facing output of the near-dup stack: the corpus with every
    * non-canonical duplicate removed. A doc survives unless it belongs to an
    * LSH-candidate component and is not that component's min-id
    * representative ([[duplicateClusters]]). Left-anti join on the (tiny)
    * non-survivor set — the corpus scan stays linear, the cluster table is
    * broadcastable at any realistic duplicate rate.
    *
    * The clusters come from [[clustersPath]]: the fixed iteration budget
    * (a fail-loud backstop, see [[clustersFromPairs]]) covers any component
    * the graph can contain. */
  def dedupSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val losers = graft.engine.Fs.readParquet(spark, clustersPath(spark, dir))
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    Tables.documents(spark, dir)
      .join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Quality-based canonical selection (q138): within each duplicate
    * cluster, keep the BEST document — highest quality gate, then longest,
    * then min id — instead of [[dedupSurvivors]]'s min-id policy. This is
    * the curation decision real pipelines make (the shortest mirror of a
    * page often carries the min id; keeping it throws away content). One
    * window per cluster — partitions are cluster-sized, bounded by the
    * component-size cap the LSH bucket cap implies, never corpus-wide. */
  def canonicalSelection(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = graft.engine.Fs.readParquet(spark, clustersPath(spark, dir))
    val quality = TextStats.qualityScore(spark, dir)
      .select(col("doc_id"), col("n_chars"), col("passes_quality"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("passes_quality").desc, col("n_chars").desc, col("doc_id"))
    clusters.join(quality, Seq("doc_id"))
      .withColumn("canonical_id", first(col("doc_id")).over(w))
      .withColumn("is_canonical", col("doc_id") === col("canonical_id"))
      .select(col("doc_id"), col("cluster_id"), col("n_chars"),
        col("passes_quality"), col("canonical_id"), col("is_canonical"))
      .orderBy("doc_id")
  }

  /** Split-leakage audit (q140): near-duplicate clusters whose members land
    * in DIFFERENT train/val/test splits — the contamination a hash-split
    * cannot prevent on its own (near-dups of a test doc sitting in train
    * leak evaluation data into training). Composes the committed cluster
    * assignment ([[clustersPath]]) with the content-addressed split
    * ([[TextStats.splitAssign]]); output is one row per multi-doc cluster
    * with its per-split member counts and the leak verdict. The fix a real
    * pipeline applies — re-assign whole CLUSTERS to splits, not docs — is
    * exactly "group by cluster_id, pick min member's split", which this
    * audit's output feeds directly.
    *
    * Scale shape: one equi-join of the (slim) cluster table against the
    * (computed-in-place) split column, one cluster-keyed hash aggregate —
    * map-side combinable, no window, no all-pairs anything. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val clusters = graft.engine.Fs.readParquet(spark, clustersPath(spark, dir))
    val splits = TextStats.splitAssign(spark, dir).select(col("doc_id"), col("split"))
    clusters.join(splits, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
      .filter(col("n_docs") >= 2)
      .withColumn("leaks",
        (when(col("n_train") > 0, 1).otherwise(0) +
          when(col("n_val") > 0, 1).otherwise(0) +
          when(col("n_test") > 0, 1).otherwise(0)) > 1)
      .orderBy("cluster_id")
  }

  /** Leakage-free split assignment (q146) — the REMEDIATION for what
    * [[splitLeakage]] detects: every near-dup cluster is assigned to one
    * split ATOMICALLY, keyed by the cluster id (= the min member's doc id),
    * so no cluster can straddle train/test. Singleton docs keep their own
    * content-addressed split. Output: per doc, the naive per-doc split, the
    * cluster-atomic split actually assigned, and whether the doc moved.
    *
    * The split is a pure function of an id (md5 bucket), so the reassignment
    * is a PROJECTION over docs left-joined to the slim cluster table — no
    * second join against a split lookup, no shuffle beyond the cluster join
    * (broadcast at dim scale, shuffled-hash at corpus scale). */
  def clusterSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    def splitOf(idCol: Column): Column =
      TextStats.splitBand(TextStats.splitBucket(idCol))
    val clusters = graft.engine.Fs.readParquet(spark, clustersPath(spark, dir))
    // effective_key (never null) instead of a nullable cluster_id column:
    // NULL integers round-trip differently through the two engines' pandas
    // frames (float64/NaN), which would poison the hash compare
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("effective_key", coalesce(col("cluster_id"), col("doc_id")))
      .select(col("doc_id"), col("effective_key"),
        col("cluster_id").isNotNull.as("in_cluster"),
        splitOf(col("doc_id")).as("doc_split"),
        splitOf(col("effective_key")).as("assigned_split"))
      .withColumn("moved", col("doc_split") =!= col("assigned_split"))
      .orderBy("doc_id")
  }

  /** Modularity core shared by [[simhashModularity]] (q167) and its spec:
    * given the undirected edge list `pairs` (doc_a < doc_b, distinct) and a
    * node partition `parts` (doc_id, bucket), the per-bucket modularity
    * decomposition Q_c = e_c/m − (d_c/2m)² in exact integer ppm. The two
    * ratio terms are truncating-divided SEPARATELY (each non-negative, so
    * Spark `div` and DuckDB `//` agree) and subtracted AFTER — a signed
    * single division would floor on one engine and truncate on the other.
    *
    * Scale shape: degree and per-bucket sums are map-side-combinable hash
    * aggregates; the partition joins the edge list on each endpoint (two
    * equi-joins on doc id — broadcast when the partition table is small,
    * SMJ otherwise); m is a broadcast scalar. Never an all-pairs stage. */
  def modularityOf(pairs: DataFrame, parts: DataFrame): DataFrame = {
    val edges = pairs.unionAll(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("doc_id", "dst")
    val deg = edges.groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
    val degC = deg.join(parts, Seq("doc_id"))
      .groupBy(col("bucket"))
      .agg(sum(col("deg")).as("d_c"), count(lit(1)).as("n_nodes"))
    val eIn = pairs
      .join(parts.select(col("doc_id").as("doc_a"), col("bucket").as("bucket_a")), Seq("doc_a"))
      .join(parts.select(col("doc_id").as("doc_b"), col("bucket").as("bucket_b")), Seq("doc_b"))
      .filter(col("bucket_a") === col("bucket_b"))
      .groupBy(col("bucket_a").as("bucket")).agg(count(lit(1)).as("e_in"))
    val m = pairs.agg(count(lit(1)).as("m"))
    degC.join(eIn, Seq("bucket"), "left")
      .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
      .crossJoin(broadcast(m))
      .select(col("bucket"), col("n_nodes"), col("d_c"), col("e_in"),
        expr("CAST(CAST(e_in AS DECIMAL(38,0)) * 1000000 div m AS BIGINT)")
          .as("e_ppm"),
        expr("CAST(CAST(d_c AS DECIMAL(38,0)) * d_c * 1000000 div " +
          "(4 * CAST(m AS DECIMAL(38,0)) * m) AS BIGINT)").as("dsq_ppm"))
      .withColumn("q_contrib_ppm", col("e_ppm") - col("dsq_ppm"))
      .orderBy("bucket")
  }

  /** Cheap-signal partition quality (q167): the modularity of the SimHash
    * top-byte partition measured on the MinHash candidate graph. The two
    * near-dup signals are computed from DIFFERENT features (shingle minima
    * vs token-bit votes), so high modularity means the cheap per-doc
    * signature concentrates the expensive graph's edges inside its buckets —
    * the audit that justifies (or rejects) routing/sharding by SimHash
    * prefix before any pairwise stage runs at 100 TB. */
  def simhashModularity(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.engine.Fs.readParquet(spark, candidatePairsPath(spark, dir))
      .select(col("doc_a"), col("doc_b"))
    val parts = simhash(spark, dir)
      .select(col("doc_id"), expr("CAST(simhash16 div 256 AS BIGINT)").as("bucket"))
    modularityOf(pairs, parts)
  }

  /** Adjusted-Rand-index core shared by [[clusteringAgreement]] (q168) and
    * its spec: pair-counting agreement between two labelings of the same
    * nodes, chance-corrected, in exact integer arithmetic. All C(x,2) terms
    * are integers; the ARI ratio is scaled through DECIMAL(38,0) and the
    * final division is applied to |num| with the sign re-attached, because a
    * signed truncating `div` (Spark) and a signed flooring `//` (DuckDB)
    * disagree on negatives.
    *
    * Scale shape: one equi-join on doc id, then the contingency table —
    * bounded by |labels_a| × |labels_b|, not by corpus size — and its two
    * margins, all map-side-combinable hash aggregates. */
  def adjustedRandOf(a: DataFrame, b: DataFrame): DataFrame = {
    val cells = a.join(b, Seq("doc_id"))
      .groupBy(col("label_a"), col("label_b")).agg(count(lit(1)).as("nij"))
    val sumIj = cells.agg(
      sum(col("nij")).as("n"),
      sum(expr("nij * (nij - 1) div 2")).as("sum_ij"))
    val sumA = cells.groupBy(col("label_a")).agg(sum(col("nij")).as("ai"))
      .agg(sum(expr("ai * (ai - 1) div 2")).as("sum_a"))
    val sumB = cells.groupBy(col("label_b")).agg(sum(col("nij")).as("bj"))
      .agg(sum(expr("bj * (bj - 1) div 2")).as("sum_b"))
    sumIj.crossJoin(sumA).crossJoin(sumB)
      .withColumn("c2n", expr("CAST(n AS DECIMAL(38,0)) * (n - 1) div 2"))
      .withColumn("num2", expr(
        "2 * (CAST(c2n AS DECIMAL(38,0)) * sum_ij - CAST(sum_a AS DECIMAL(38,0)) * sum_b)"))
      .withColumn("den2", expr(
        "CAST(c2n AS DECIMAL(38,0)) * (sum_a + sum_b) - 2 * CAST(sum_a AS DECIMAL(38,0)) * sum_b"))
      .select(col("n"), col("sum_ij"), col("sum_a"), col("sum_b"),
        when(col("den2") === 0, lit(1000000L))
          .when(col("num2") >= 0,
            expr("CAST(num2 * 1000000 div den2 AS BIGINT)"))
          .otherwise(expr("-CAST((-num2) * 1000000 div den2 AS BIGINT)"))
          .as("ari_ppm"))
  }

  /** Near-dup signal agreement (q168): adjusted Rand index between the
    * MinHash connected-component clustering and the SimHash top-byte
    * bucketing, over the docs the candidate graph touches. ARI ≈ 1 means
    * the cheap signature recovers the expensive clustering (so sampling-
    * based audits can run on SimHash alone); ARI ≈ 0 means chance-level
    * agreement. Chance correction matters exactly here: both labelings are
    * mostly singletons, so raw Rand would read ≈ 1 regardless. */
  def clusteringAgreement(spark: SparkSession, dir: String): DataFrame = {
    val clusters = graft.engine.Fs.readParquet(spark, clustersPath(spark, dir))
      .select(col("doc_id"), col("cluster_id").as("label_a"))
    val buckets = simhash(spark, dir)
      .select(col("doc_id"), expr("CAST(simhash16 div 256 AS BIGINT)").as("label_b"))
    adjustedRandOf(clusters, buckets)
  }

  /** Long-repeated-substring detection (q227) — the Lee et al. ExactSubstr
    * method ("Deduplicating Training Data Makes Language Models Better",
    * ACL 2022), the one major LLM-dedup family the fixed-segment (q191) and
    * known-span (q212) cutters don't cover: find MAXIMAL verbatim repeats of
    * ≥ k = 5 tokens at ARBITRARY offsets across the corpus, without a
    * driver-memory suffix array.
    *
    * Distributed form: a token position p in doc d is *covered* iff the
    * k-gram starting at p occurs ≥ 2 times corpus-wide (any doc, any
    * offset — including elsewhere in d). A substring of length L ≥ k is
    * repeated iff all of its L−k+1 k-grams are covered, and conversely every
    * covered gram start heads a repeated substring of length exactly k — so
    * the union of all repeated substrings of length ≥ k is EXACTLY the union
    * of covered gram windows, and the outputs here are its maximal runs
    * (start, token length). That equivalence is what lets a groupBy replace
    * the suffix array: one shuffle on the gram's 64-bit HASH (map-side
    * partial agg over 8-byte keys), exact string verification confined to
    * the candidate hash classes, one per-doc islands window — no corpus
    * self-join, no global sort, no driver state.
    *
    * Hash-class shape (round 11 — VERDICT r10 #3, the q173 treatment; the
    * string-keyed groupBy shuffled 2-3× CORPUS MASS of 5-gram strings and
    * ENOSPC'd the sf300 probe): the counting exchange carries a 64-bit
    * gram hash (the codegen [[graft.functions.GramHashes]] primitive), so
    * no gram string is even materialized on that path. Dup-class
    * MEMBERSHIP is a Bloom predicate ([[graft.engine.RelOps
    * .bloomPredicate]] + `graft_bloom_positions`) — the class set outgrows
    * any broadcast guard at
    * probe scale, and an exact semi-join's fallback would re-shuffle the
    * whole hash stream (the first round-11 sf300 attempt filled the disk
    * in exactly that second exchange); the sketch broadcasts at ~1.8
    * bytes/key and the stream never moves. Exactness is restored by an
    * exact per-STRING re-count over the candidate positions only: a truly
    * repeated gram's FULL occurrence list is always candidate (equal grams
    * share a class; Bloom has no false negatives), so its candidate count
    * equals its global count, while singleton grams — hash-collided or
    * Bloom false positives — never reach 2 and are discarded. The
    * surviving positions are EXACTLY the string-keyed form's. Gram strings
    * live only inside candidate rows (built in-row, zipped with their
    * hashes, pruned by the sketch before any exchange), so the corpus-mass
    * exchanges are the hash count and the doc-keyed islands window below;
    * the only string exchanges are candidate-mass (the re-count and its
    * guarded membership join).
    *
    * Output: (doc_id, span_start 1-based, span_len_tokens), one row per
    * maximal run of covered TOKENS — two covered gram starts p1 < p2 merge
    * iff p2 ≤ p1 + k (their token windows overlap or touch), so spans never
    * overlap and each is the maximal contiguous covered stretch. */
  def longRepeatSpans(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    def docGrams = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= k)
    // hash-only posting stream via the codegen GramHashes primitive (no
    // gram string is ever materialized on this path, even transiently) —
    // no string ever rides this stream, so even a guard FALLBACK below
    // reshuffles 20-byte rows, never gram strings
    val hashes = docGrams
      .select(col("doc_id"), posexplode(Native.gramHashes(col("w"), k)))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("gh"))
    // repeated hash CLASSES — every truly repeated gram lands here; hash
    // collisions can only ADD classes, never hide one. Membership is a
    // BLOOM SEMI-FILTER (round 11, after the first sf300 attempt of this
    // rewrite filled the disk): the dup-class set outgrows the broadcast
    // guard long before sf300, and the semi-join fallback re-shuffled the
    // whole hash stream — the sketch broadcasts at ~1.8 bytes/key and the
    // stream never moves. False positives just become candidate positions;
    // the exact per-string re-count below discards them (false negatives
    // cannot occur), so the output is still exactly the string-keyed form's.
    // Distinct-heavy aggregate law (round 12, the q93 A/B generalized):
    // 5-gram hashes are mostly unique (key count ~ gram count), so the
    // count aggregate's map-side partial combine sort-spills corpus mass
    // for near-zero exchange savings; shipping the raw 8-byte stream into
    // corpus-scaled hash-resident reducers (the repartition suppresses the
    // partial agg before the exchange) measured 165.7 s vs 244.7 s at
    // sf300 — 1.48× — same sizing law as langOverlapMatrix (~100k docs ≈
    // 5M gram hashes ≈ 80 MB of count map per task at any SF).
    val dupParts = math.max(spark.sparkContext.defaultParallelism,
      (docCount(spark, dir) / 100000L).toInt)
    val dupH = hashes.repartition(dupParts, col("gh")).groupBy(col("gh"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2).select(col("gh"))
    // candidate stream WITH strings: positions are bloom-tested IN-ROW
    // against the row's own gram-hash array, so gram strings are only ever
    // BUILT for the ~ dup-mass survivors — never for the whole corpus (the
    // arrays_zip form materialized every gram string before filtering and
    // measured ~2.5× the round-10 wall at sf100), and nothing on this path
    // has crossed an exchange when the strings appear
    val cand = graft.engine.RelOps.bloomPredicate(dupH, "gh") match {
      case None => // no repeated class anywhere -> no candidates
        docGrams.select(col("doc_id"), lit(1).as("p"), lit("").as("gram"))
          .filter(lit(false))
      case Some(bc) =>
        // survivors come from ONE codegen loop over the hash array
        // (graft_bloom_positions); only they get a gram string built
        docGrams
          .withColumn("ghs", Native.gramHashes(col("w"), k))
          .select(col("doc_id"), explode(transform(
            Native.positions(col("ghs"), bc),
            i => struct(i.as("p"),
              concat_ws(" ", slice(col("w"), i, lit(k))).as("gram")))).as("pg"))
          .select(col("doc_id"), col("pg.p").as("p"), col("pg.gram").as("gram"))
    }
    // exact verification: within the candidate stream, a gram's count equals
    // its GLOBAL count whenever that is ≥ 2 (all occurrences of a repeated
    // gram share its hash class), so this recovers exactly the string-keyed
    // dup set; the groupBy's exchange is map-side-combined over candidate
    // (dup-mass) strings only
    val dupG = cand.groupBy(col("gram"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2).select(col("gram"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    cand.join(graft.engine.RelOps.guardedBroadcast(dupG), Seq("gram"), "left_semi")
      .select(col("doc_id"), col("p"))
      // gap-merge islands: a new run starts when the previous covered gram
      // start is more than k back (its token window no longer touches ours)
      .withColumn("new_run",
        when(col("p") - lag(col("p"), 1).over(w) <= k, 0).otherwise(1))
      .withColumn("grp", sum(col("new_run")).over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("p")).cast("long").as("span_start"),
        (max(col("p")) + k - min(col("p"))).cast("long").as("span_len_tokens"))
      .select(col("doc_id"), col("span_start"), col("span_len_tokens"))
      .orderBy("doc_id", "span_start")
  }

  /** Repeat-cut rewrite (q228) — the removal half of ExactSubstr dedup:
    * every token inside a [[longRepeatSpans]] span is dropped from EVERY
    * occurrence (Lee et al. §4.2 note boilerplate repeats are safe to cut
    * wholesale; the conservative keep-one-copy variant is
    * [[repeatCutKeepOne]], a policy choice on top of the same span table).
    * Docs shorter than 5 tokens, and docs with no repeated span, pass
    * through verbatim.
    *
    * Scale shape: the span table is joined back per doc as a collected
    * array (spans per doc are few — they are maximal, hence disjoint), and
    * the cut is a pure array expression (filter over token positions), so
    * after the span computation the rewrite is shuffle-free per doc: no
    * position-level range join, no explode of the corpus text.
    *
    * Round 11: the spans come from the AT-REST table ([[spansPath]], built
    * once per documents snapshot per session) — the q62/clustersPath
    * discipline: q227 runs the span computation live (it IS that query's operator); the
    * CONSUMER reads the materialized table. Recomputing the whole span
    * pipeline inside the rewrite doubled the probe's transient shuffle
    * mass and is what actually ENOSPC'd the round-11 sf300 attempt after
    * q227 itself fit. */
  def repeatCutRewrite(spark: SparkSession, dir: String): DataFrame = {
    val spans = graft.engine.Fs.readParquet(spark, spansPath(spark, dir))
      .withColumn("span_end", col("span_start") + col("span_len_tokens") - 1)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("sp"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("keep", expr(
        """filter(sequence(1, size(w)),
          |  i -> sp IS NULL OR NOT exists(sp,
          |    s -> i >= s.span_start AND i <= s.span_end))""".stripMargin))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        (size(col("w")) - size(col("keep"))).cast("long").as("n_dropped"),
        concat_ws(" ", expr("transform(keep, i -> element_at(w, i))")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** Conservative keep-one-copy repeat cut (q235) — the policy variant of
    * [[repeatCutRewrite]] noted there and in Lee et al. §4.2: instead of
    * dropping a repeated span from EVERY occurrence, the corpus keeps
    * exactly one copy of each distinct span CONTENT — the corpus-first
    * occurrence (min (doc_id, span_start)) survives, every other span with
    * the same token content is cut. Training-data motivation: wholesale
    * cutting deletes the text itself from the corpus; keep-one preserves
    * one natural context for the repeated passage while still collapsing
    * its duplicated mass.
    *
    * Same at-rest span table ([[spansPath]]) as q228 — the policy is a
    * choice on TOP of the spans, so both variants share the expensive
    * computation. Scale shape: span content is sliced IN-ROW from the
    * doc's own token array (spans per doc are few, maximal, disjoint — no
    * position explode), the keeper election is a partial-aggregating
    * `groupBy(content).agg(min(struct(doc_id, span_start)))` joined back —
    * NOT a window over `partitionBy(content)`: a window never
    * partial-aggregates, so all occurrences of one span content land in a
    * single task, and span content is exactly what goes pathologically hot
    * in real corpora (boilerplate repeated across millions of documents).
    * The groupBy form lets every map task contribute ONE candidate per hot
    * content (map-side combine), and the join-back is AQE-skew-splittable;
    * the result is identical by construction (min over a set is
    * associative). The span table is span-mass, not corpus-mass (only
    * repeated stretches have rows; the q227 sf300 span table is ~2% of
    * corpus tokens), and the cut itself is the same shuffle-free per-doc
    * array filter as q228. Content is compared as the exact string — the
    * election must pick the same keeper the oracle does, and span strings
    * never ride a corpus-mass exchange (hash-keying would save span-mass
    * bytes at the cost of a collision electing a wrong-content keeper). */
  def repeatCutKeepOne(spark: SparkSession, dir: String): DataFrame = {
    val docsW = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val spans = graft.engine.Fs.readParquet(spark, spansPath(spark, dir))
    val withContent = spans.join(docsW, Seq("doc_id"))
      .select(col("doc_id"), col("span_start"),
        (col("span_start") + col("span_len_tokens") - 1).as("span_end"),
        concat_ws(" ", expr(
          "slice(w, CAST(span_start AS INT), CAST(span_len_tokens AS INT))"))
          .as("content"))
    // keeper election: min (doc_id, span_start) struct per distinct content
    // (struct ordering = lexicographic over fields, matching the oracle's
    // ORDER BY doc_id, span_start); everything that is not the keeper is
    // cut. groupBy + join-back, NOT min().over(Window.partitionBy(content)):
    // the aggregate partial-combines map-side so a hot boilerplate content
    // never funnels all its occurrences into one task (see scaladoc above);
    // PlanSpec pins the partial HashAggregate / no-Window shape.
    val keepers = withContent
      .groupBy(col("content"))
      .agg(min(struct(col("doc_id"), col("span_start"))).as("kp"))
    val cutSpans = withContent.join(keepers, Seq("content"))
      .filter(col("doc_id") =!= col("kp.doc_id") ||
        col("span_start") =!= col("kp.span_start"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("sp"))
    docsW.join(cutSpans, Seq("doc_id"), "left")
      .withColumn("keep", expr(
        """filter(sequence(1, size(w)),
          |  i -> sp IS NULL OR NOT exists(sp,
          |    s -> i >= s.span_start AND i <= s.span_end))""".stripMargin))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        (size(col("w")) - size(col("keep"))).cast("long").as("n_dropped"),
        concat_ws(" ", expr("transform(keep, i -> element_at(w, i))")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** The clusters table materialized once per documents snapshot per
    * session ([[graft.engine.SessionMemo.atRest]]) —
    * the dedup stack's second at-rest index (the first is
    * [[candidatePairsPath]]): in production the cluster assignment is
    * maintained at rest and consumed by every downstream export, it is not
    * recomputed per reader. q62 still runs the clustering live (the
    * iteration IS that query's operator); the CONSUMERS (q71 survivors, the
    * q100 capstone) read this table. */
  def clustersPath(spark: SparkSession, dir: String): String =
    graft.engine.SessionMemo.atRest(spark, ("cc", dir),
        s"$dir/documents.parquet")(p =>
      duplicateClusters(spark, dir)
        .write.mode("overwrite").parquet(p))

  /** The repeat-span table materialized once per documents snapshot per
    * session — the dedup stack's third at-rest index (after [[candidatePairsPath]] and
    * [[clustersPath]]): in production the ExactSubstr span table is
    * computed once per corpus snapshot and consumed by every rewrite/audit
    * pass. q227 still computes the spans live (that IS its operator); the
    * CONSUMERS (q228's cut rewrite) read this table. */
  def spansPath(spark: SparkSession, dir: String): String =
    graft.engine.SessionMemo.atRest(spark, ("lrs", dir),
        s"$dir/documents.parquet")(p =>
      longRepeatSpans(spark, dir)
        .write.mode("overwrite").parquet(p))
}
