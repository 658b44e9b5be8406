package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-factor data generator — the sf1 (and beyond) fixture
  * the cross-SF growth gate needs above the driver's largest shipped SF
  * (sf0.1, 17 MB): every 100 TB design claim deserves at least one more
  * decade of measured scale (VERDICT round 6, top item).
  *
  * The generator reproduces the STRUCTURAL law of the driver's testdata
  * (measured from sf0.01/sf0.1, TESTDATA.md):
  *  - same schemas, key ranges, value domains and marginal distributions
  *    (uniform keys/dates/prices, TPC-H-ish `discount` 0–0.10 and `tax`
  *    0–0.08 in cents, `Customer#%09d`-style names, N(0, 0.125) 64-dim
  *    embeddings, `{"k": N}` event props);
  *  - document tokens drawn Zipf(s = 0.5) over a vocabulary that GROWS
  *    with the multiplier per Heaps' law, V(m) = 31·√m ([[vocabSize]]/
  *    [[toksOf]] — round-8 change; the round-7 fixed 31-word uniform draw
  *    saturated posting lists so the dedup families' sf1 growth measured a
  *    regime real growing-vocabulary corpora only hit far later);
  *  - same FK shape (lineitem→orders/part/supplier, orders→customer,
  *    events.user_id over customer/10 users; Poisson-like lines per order
  *    from independent uniform order keys);
  *  - same planted dedup structure, at the same RATES: 8 exact-dup text
  *    pairs per 5 000 docs (`id % 625 == 89` copies `id − 84`) and 5 % of
  *    docs a near-dup partner (`id % 100 ∈ [90, 94]` copies `id − 90`
  *    minus its trailing token) — the moduli are chosen so a dup's base is
  *    always a plain doc (no chains), keeping pair counts linear in the
  *    corpus exactly like the driver fixture's.
  *
  * Generator discipline = engine discipline: every field is a pure hash of
  * the row id (`xxhash64(id, salt)` → uniform → inverse-transform), so
  * generation is one embarrassingly-parallel projection over
  * `spark.range` — no sequential RNG, no driver state, no shuffle; the
  * same code produces sf10 or sf100 by changing one multiplier, and any
  * row can be regenerated in isolation (the property the planted-dup rules
  * exploit to reference a partner row without a join).
  *
  * Usage: `runMain graft.GenData [outDir] [multiplier]` — multiplier is
  * relative to sf0.1 (default 10 → sf1: 6 M lineitem, 1.5 M orders, 50 k
  * docs, 20 k embeddings, 1 M events).
  */
object GenData {

  private val Vocab = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  /** Vocabulary size at multiplier `mult` (relative to sf0.1): Heaps' law
    * with the literature-standard β = 0.5 — V(N) ∝ √N — anchored at the
    * driver fixture's 31 words for mult ≤ 1. A FIXED vocabulary saturates
    * the shingle space as the corpus grows (posting lists grow linearly
    * with docs, so candidate pairs in the prefix/band dedup families grow
    * quadratically — the round-7 sf1 gate measured exactly that regime);
    * real corpora grow vocabulary with size, keeping chance shingle
    * collisions — and thus candidate volume — near-linear. */
  private[graft] def vocabSize(mult: Double): Int =
    math.max(Vocab.size, math.round(Vocab.size * math.sqrt(mult)).toInt)

  /** Uniform [0,1) from (idCol, salt) — 40 high-entropy bits of xxhash64. */
  private def u(idCol: Column, salt: String): Column =
    pmod(xxhash64(idCol, lit(salt)), lit(1L << 40)).cast("double") /
      lit((1L << 40).toDouble)

  /** Uniform integer in [0, n) from (idCol, salt). */
  private def ui(idCol: Column, salt: String, n: Int): Column =
    pmod(xxhash64(idCol, lit(salt)), lit(n.toLong)).cast("int")

  /** Standard normal via Box–Muller on two hash uniforms (exact-IEEE
    * deterministic; the ln argument is clamped away from 0). */
  private def normal(idCol: Column, salt: String): Column =
    sqrt(lit(-2.0) * log(greatest(u(idCol, salt + "_1"), lit(1e-12)))) *
      cos(lit(2.0 * math.Pi) * u(idCol, salt + "_2"))

  private def pick(idCol: Column, salt: String, vals: Seq[String]): Column =
    element_at(array(vals.map(lit): _*), ui(idCol, salt, vals.size) + 1)

  /** The word string of Zipf rank `rank` ∈ [1, V]: the 31 base words for
    * ranks 1–31, then word-like synthetics (`"join2"`, `"vector7"`, …) —
    * rank determines the string alone, so growing V only APPENDS tail
    * words (rank→word is stable across multipliers). */
  private def wordOf(rank: Column): Column = {
    val base = element_at(array(Vocab.map(lit): _*),
      pmod(rank - 1, lit(Vocab.size)).cast("int") + 1)
    when(rank <= Vocab.size, base)
      .otherwise(concat(base, floor((rank - 1) / Vocab.size).cast("string")))
  }

  /** The document token array of row `idc`: 10–100 tokens, each drawn
    * Zipf(s = 0.5) over a `vocab`-word vocabulary by exact inverse-CDF —
    * the CDF of p_k ∝ k^{-1/2} is √(k/V), so rank = ⌈V·u²⌉ on a hash
    * uniform u: one closed-form expression, no rank table, no UDF.
    *
    * Exponent choice: s = 0.5 (Zipf–Mandelbrot tail range) keeps the
    * collision mass Σp² ≈ ln(V)/(4V) within ~1.4× of the driver fixture's
    * uniform-31 law at mult = 1 (0.045 vs 0.032) — so the m=1 fixture
    * still matches the driver's measured chance-candidate rates — while
    * classic s = 1 would concentrate 25% of draws on the head word and
    * inflate trigram collisions ~30× over the driver law at any V. With
    * Heaps V = 31√m, chance candidate pairs grow ~m^1.5·polylog from the
    * m² of the fixed-vocab fixture — the near-linear regime real growing
    * corpora show. */
  private[graft] def toksOf(idc: Column, vocab: Int): Column = {
    val len = (lit(10) + pmod(xxhash64(idc, lit("doclen")), lit(91L))).cast("int")
    transform(sequence(lit(1), len), j => {
      val uu = pmod(xxhash64(idc, j, lit("doctok")), lit(1L << 40))
        .cast("double") / lit((1L << 40).toDouble)
      // ⌈V·u²⌉ clamped to ≥ 1 (u = 0 hits rank 0)
      wordOf(greatest(ceil(lit(vocab.toDouble) * uu * uu), lit(1L)).cast("int"))
    })
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_sf1")
    val mult = if (args.length > 1) args(1).toDouble else 10.0
    // optional third arg: comma-separated table subset (e.g.
    // "documents,embeddings") — a deep-decade probe of the text/vector
    // families doesn't need the 25× heavier fact tables on disk
    val tables: Set[String] =
      if (args.length > 2) args(2).split(',').map(_.trim).toSet else Set.empty
    val known = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val unknown = tables -- known
    require(unknown.isEmpty,
      s"unknown table(s) ${unknown.mkString(",")}; known: ${known.toSeq.sorted.mkString(",")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.builder(cpus, None).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    gen(spark, out, mult, tables)
    spark.stop()
  }

  /** Generate every table at `mult`× sf0.1 under `out` (callable from specs
    * with an existing session). `tables` empty = all; otherwise only the
    * named tables are written (same laws, same contents — hash-addressed
    * rows don't depend on which sibling tables exist). */
  def gen(spark: SparkSession, out: String, mult: Double,
      tables: Set[String] = Set.empty): Unit = {
    import spark.implicits._
    def want(t: String): Boolean = tables.isEmpty || tables.contains(t)
    def n(base: Long): Long = math.max(1L, (base * mult).toLong)

    val nCust = n(15000); val nSupp = n(1000); val nPart = n(20000)
    val nOrders = n(150000); val nLine = n(600000); val nEvents = n(100000)
    val nDocs = n(5000); val nEmb = n(2000); val nUsers = n(1500)
    val vocab = vocabSize(mult)

    val cpus = spark.sparkContext.defaultParallelism
    def rng(rows: Long) = spark.range(0L, rows, 1L, cpus)
    val id = col("id")

    if (want("region")) Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/region.parquet")

    if (want("nation")) (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/nation.parquet")

    if (want("customer")) rng(nCust).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      ui(id, "cnat", 25).as("c_nationkey"),
      round(lit(-1000.0) + u(id, "cbal") * 11000.0, 2).as("c_acctbal"),
      pick(id, "cseg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$out/customer.parquet")

    if (want("supplier")) rng(nSupp).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      ui(id, "snat", 25).as("s_nationkey"),
      round(lit(-1000.0) + u(id, "sbal") * 11000.0, 2).as("s_acctbal"))
      .write.mode("overwrite").parquet(s"$out/supplier.parquet")

    if (want("part")) rng(nPart).select(
      id.as("p_partkey"),
      concat(pick(id, "padj", Seq("blue", "cold", "hot", "large", "new", "old",
        "red", "small")), lit(" "),
        pick(id, "pnoun", Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring",
          "rod", "widget"))).as("p_name"),
      concat(lit("Brand#"), (ui(id, "pbrand", 25) + 1).cast("string")).as("p_brand"),
      pick(id, "ptype", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      (ui(id, "psize", 50) + 1).as("p_size"),
      round(lit(900.0) + (id % 1000).cast("double") / 10.0, 2).as("p_retailprice"))
      .write.mode("overwrite").parquet(s"$out/part.parquet")

    if (want("orders")) rng(nOrders)
      .withColumn("od", pmod(xxhash64(id, lit("odate")), lit(2404L)).cast("int"))
      .select(
      id.as("o_orderkey"),
      pmod(xxhash64(id, lit("ocust")), lit(nCust)).as("o_custkey"),
      pick(id, "ostat", Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u(id, "oprice") * 499000.0, 2).as("o_totalprice"),
      expr("timestampadd(DAY, od, TIMESTAMP'1995-01-01 00:00:00')").as("o_orderdate"),
      pick(id, "oprio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    if (want("lineitem")) rng(nLine)
      .withColumn("qty", (ui(id, "lqty", 50) + 1).cast("double"))
      .withColumn("sd", (pmod(xxhash64(id, lit("lship")), lit(2499L)) + 1).cast("int"))
      .select(
        pmod(xxhash64(id, lit("lord")), lit(nOrders)).as("l_orderkey"),
        pmod(xxhash64(id, lit("lpart")), lit(nPart)).as("l_partkey"),
        pmod(xxhash64(id, lit("lsupp")), lit(nSupp)).as("l_suppkey"),
        (ui(id, "lnum", 7) + 1).as("l_linenumber"),
        col("qty").as("l_quantity"),
        round(col("qty") * (lit(900.0) + u(id, "lprice") * 1200.0), 2)
          .as("l_extendedprice"),
        (ui(id, "ldisc", 11).cast("double") / 100.0).as("l_discount"),
        (ui(id, "ltax", 9).cast("double") / 100.0).as("l_tax"),
        pick(id, "lret", Seq("A", "N", "R")).as("l_returnflag"),
        pick(id, "lstat", Seq("F", "O")).as("l_linestatus"),
        expr("timestampadd(DAY, sd, TIMESTAMP'1995-01-01 00:00:00')").as("l_shipdate"))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    if (want("events")) rng(nEvents)
      .withColumn("us", pmod(xxhash64(id, lit("ets")), lit(30L * 86400L * 1000000L)))
      .select(
      id.as("event_id"),
      expr("timestampadd(MICROSECOND, us, TIMESTAMP'2024-01-01 00:00:00')").as("ts"),
      pmod(xxhash64(id, lit("euser")), lit(nUsers)).as("user_id"),
      pick(id, "etype", Seq("click", "error", "purchase", "signup", "view"))
        .as("event_type"),
      round(u(id, "eval") * 560.0, 2).as("value"),
      format_string("{\"k\": %d}", ui(id, "ek", 100)).as("props"))
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // documents: plain text per id, with the planted dup structure described
    // in the Scaladoc (bases are provably plain — see moduli argument there).
    // Near-dup = base minus its trailing token, matching the measured driver
    // law: pair Jaccard (L-3)/(L-2) on 3-gram shingles, always >= 0.875 and
    // never exactly 1 (lengths differ), so near-dups can't leak into the
    // exact-dup census.
    val mutated = expr("slice(base_toks, 1, size(base_toks) - 1)")
    if (want("documents")) rng(nDocs)
      .withColumn("base_toks", toksOf(id - 90, vocab))
      .withColumn("toks",
        when(id % 625 === 89, toksOf(id - 84, vocab))
          .when(id % 100 >= 90 && id % 100 <= 94, mutated)
          .otherwise(toksOf(id, vocab)))
      .select(
        id.as("doc_id"),
        concat_ws(" ", col("toks")).as("text"),
        pick(id, "dlang", Seq("de", "en", "es", "fr", "zh")).as("lang"),
        concat(lit("src"), ui(id, "dsrc", 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    if (want("embeddings")) rng(nEmb).select(
      id.as("vec_id"),
      array((0 until 64).map(d =>
        (normal(id, s"emb$d") * 0.125).cast("float")): _*).as("embedding"),
      ui(id, "elabel", 10).as("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    println(s"""{"gen":"$out","mult":$mult,"vocab":$vocab,"lineitem":$nLine,""" +
      s""""orders":$nOrders,"customer":$nCust,"documents":$nDocs,""" +
      s""""embeddings":$nEmb,"events":$nEvents}""")
  }
}
