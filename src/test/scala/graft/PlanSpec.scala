package graft

import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.python.AttachDistributedSequenceExec
import org.apache.spark.sql.execution.window.WindowExec

/** Physical-plan regression tests: the 100 TB properties that make these
  * queries scale are asserted on the PLAN, not just the output, so a future
  * refactor that silently reintroduces a full scan / global sort / shuffled
  * dim join fails here rather than in production.
  */
class PlanSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    // default metadata truncation (100 chars) can hide ReadSchema columns and
    // make the pruning assertions pass vacuously
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    val df = Catalog.queries(name)(spark, dir)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("gold SK rank (rangedRowNumber): a range-sorted distributed sequence, never an all-to-one window") {
    // the SK assignment path of every gold dim and fact
    val df = spark.range(1000).selectExpr("CAST(id AS STRING) AS k", "id AS v")
    val ranked = graft.engine.RelOps.rangedRowNumber(df, "sk", Seq("k"))
    ranked.collect() // drive to completion so the adaptive plan is final
    val nodes = finalNodes(ranked.queryExecution.executedPlan)
    val text = ranked.queryExecution.executedPlan.toString
    val seq = nodes.collect { case a: AttachDistributedSequenceExec => a }
    assert(seq.size == 1, s"SK rank lost its distributed sequence:\n$text")
    assert(finalNodes(seq.head.child).exists {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }, s"the sequence is not fed by a range-partitioned sort:\n$text")
    assert(!nodes.exists(_.isInstanceOf[WindowExec]), s"a window is back in the SK rank:\n$text")
    assert(!nodes.exists {
      case e: ShuffleExchangeExec => e.outputPartitioning == SinglePartition
      case _ => false
    }, s"the SK rank gathers rows into one partition:\n$text")
  }

  test("BI report tails run on one partition: no exchange after the aggregate") {
    import graft.engine.Analytics
    import org.apache.spark.sql.functions.{col, lit}
    // four input partitions, so every exchange the plan keeps is a real one
    val fact = spark.range(0, 2000, 1, 4).select(
      (lit(20160000L) + (col("id") % 3) * 10000 + (col("id") % 12 + 1) * 100 +
        (col("id") % 28 + 1)).as("Order_Date_SK"),
      (col("id") % 50).as("Product_ID"),
      (col("id") * 1.5).as("Sales_Amount"),
      (col("id") * 2.5).as("Total_Payment_Value"))
    val dim = spark.range(0, 50, 1, 2).select(col("id").as("Prod_ID"),
      (col("id") % 5).cast("string").as("Category"))
    def exchanges(df: org.apache.spark.sql.DataFrame): Seq[ShuffleExchangeExec] = {
      df.collect() // drive to completion so the adaptive plan is final
      finalNodes(df.queryExecution.executedPlan).collect { case e: ShuffleExchangeExec => e }
    }
    for ((name, df) <- Seq("monthlySalesYoY" -> Analytics.monthlySalesYoY(fact),
        "avgDaily" -> Analytics.avgDaily(fact))) {
      val ex = exchanges(df)
      assert(ex.size == 1,
        s"$name should shuffle once, for its aggregate:\n${df.queryExecution.executedPlan}")
    }
    val share = Analytics.shareOfSales(fact, dim, "Prod_ID", "Product_ID", "Category")
    assert(!exchanges(share).exists(_.outputPartitioning == SinglePartition),
      s"shareOfSales gathers its total through an exchange:\n${share.queryExecution.executedPlan}")
  }

  test("q227 long repeat spans: semi-join candidate shape, no cartesian, no self-join") {
    val p = plan("q227_long_repeat_spans")
    assert(!p.contains("CartesianProduct"), s"cartesian in the repeat-span plan:\n$p")
    assert(p.contains("LeftSemi"), s"dup-gram membership is not a semi join:\n$p")
    // round 11 (VERDICT r10 #3): dup-class membership must be the bloom
    // SEMI-FILTER over the in-row gram hashes — the string-keyed count
    // shuffled 2-3× corpus mass of 5-gram strings and ENOSPC'd the sf300
    // probe, and an exact semi-join's guard fallback re-shuffled the whole
    // hash stream (the second disk-filler). The gh-keyed counting aggregate
    // itself runs inside the eager bloom build (RelOps.bloomPredicate +
    // graft_bloom_positions), so it is
    // not part of THIS plan; what must hold here is that candidates are
    // pruned by the sketch before any exchange and the only string-keyed
    // aggregate left is the candidate-mass exact re-count.
    assert(p.contains("graft_gram_hashes"),
      s"in-row codegen gram hashing missing from the posting stream:\n$p")
    // membership is the in-row codegen bloom position filter — NEVER a
    // shuffled membership join over the posting stream
    assert(p.contains("graft_bloom_positions"),
      s"candidate membership lost the in-row bloom position filter:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"a membership join shuffles the posting/candidate stream:\n$p")
  }

  test("q235 keep-one cut: keeper election partial-aggregates, no window funnel") {
    val p = plan("q235_repeat_cut_keep_one")
    // round 13 (VERDICT r12 #1): the election was min(struct).over(
    // Window.partitionBy(content)) — a window never partial-aggregates, so
    // every occurrence of one span content landed in ONE task, and span
    // content is exactly what goes hot in real corpora (boilerplate across
    // millions of docs). The groupBy(content).agg(min(struct)) + join-back
    // form partial-combines map-side (one candidate per content per map
    // task) and the join is AQE-skew-splittable. min over a struct buffer
    // plans as SortAggregate (not HashAggregate — struct isn't a mutable
    // buffer type); partial mode below the exchange is the scale property.
    assert(!p.linesIterator.exists(l => l.trim.startsWith("(") && l.contains(") Window")),
      s"keeper election funnels through a window again:\n$p")
    assert(p.contains("partial_min"),
      s"keeper election lost its map-side partial combine:\n$p")
  }

  test("q103/q130 shingle aggregates: grouping keys are hashed longs, strings never cross an exchange") {
    // round 11 (VERDICT r10 #4): the min-doc / df aggregates were the
    // heaviest honest sf0.1 exchanges because every distinct shingle per
    // partition crossed them as a ~40-60-byte string; the 128-bit in-row
    // hash pair keeps the key 16 bytes. EVERY grouping key in both plans
    // must be a long (#..L) — a string shingle key would end bare.
    for (q <- Seq("q103_ngram_novelty", "q130_boilerplate")) {
      val p = plan(q)
      assert(p.contains("graft_gram_hashes"),
        s"$q lost its in-row codegen shingle hashing:\n$p")
      val keyCols = p.linesIterator.filter(_.matches("""Keys \[\d+\]: \[.*"""))
        .flatMap(l => """#\d+[A-Za-z]*""".r.findAllIn(l)).toSeq
      assert(keyCols.nonEmpty && keyCols.forall(_.endsWith("L")),
        s"$q groups on a non-long key (shingle string back in an exchange?): $keyCols\n$p")
    }
  }

  test("q230 occupancy audit: aggregate-only plan — predicts the candidate join without paying one") {
    val p = plan("q230_lsh_occupancy")
    assert(!p.contains("Join"), s"the audit must not join anything:\n$p")
  }

  test("q231 sequence packing: cumsum runs chunk-partitioned, no token-level blowup joins") {
    val p = plan("q231_sequence_packing")
    assert(p.contains("hashpartitioning(__chunk"),
      s"packing cumsum lost its chunk partitioning:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in the packing plan:\n$p")
  }

  test("q234 semantic decontamination: projection argmax + one broadcast fetch — corpus never shuffles before the sort") {
    val p = plan("q234_semantic_decontaminate")
    assert(!p.contains("CartesianProduct"), s"cartesian in the decon plan:\n$p")
    assert(!p.contains("Window"), s"relational argmax window crept back in:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the eval-vector fetch must broadcast the eval-sized build side:\n$p")
    // exactly one join node: formatted explain names each node once in the
    // tree and once as a "(n) <Node>" detail header — count the headers
    assert(p.linesIterator.count(_.matches("""\(\d+\) BroadcastHashJoin.*""")) == 1 &&
      !p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus-side shuffle join in the decon plan:\n$p")
  }

  test("q01: the shipdate filter is pushed to the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"),
      s"filter not pushed:\n$p")
  }

  test("q02: scan reads only the projected columns (column pruning)") {
    val p = plan("q02_filter_project")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("o_orderkey") && readSchema.contains("o_totalprice"))
    assert(!readSchema.contains("o_comment") && !readSchema.contains("o_clerk"),
      s"scan reads columns the query never uses: $readSchema")
  }

  test("q19 star join: both dimension joins broadcast (no shuffled dim join)") {
    val p = plan("q19_star_join")
    val broadcasts = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(broadcasts >= 2, s"expected >=2 broadcast joins, plan:\n$p")
  }

  test("q11 top-k: TakeOrderedAndProject, never a global single-partition sort") {
    val p = plan("q11_topk_parts")
    assert(p.contains("TakeOrderedAndProject"), s"top-k lost its per-partition trim:\n$p")
  }

  test("q63 tfidf: trimming per-doc top-k aggregate, no window, df broadcast") {
    // round 10: the window form shuffled the (doc, term) stream twice (tf
    // groupBy + rank window) and filled the disk at 50 M docs; the typed
    // TfIdfTopKAggregator trims to k structs in its map-side partial, so
    // the only doc-keyed exchange carries k rows per doc
    val p = plan("q63_tfidf_topterms")
    assert(!p.contains("Window"), s"per-doc window is back (double shuffle):\n$p")
    assert(p.contains("TfIdfTopKAggregator") || p.contains("tfidftopkaggregator"),
      s"per-doc top-k must be the trimming typed aggregate:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab-sized df table must broadcast:\n$p")
  }

  test("q93 lang overlap: primitive bitmask aggregate — no object collect_set state") {
    // round 10: collect_set kept an array-of-strings ObjectAggregate buffer
    // whose sort-based fallback spilled raw objects for the full
    // distinct-shingle mass (ENOSPC at 50 M docs); the bit_or form stays a
    // codegen HashAggregate with an 8-byte state
    val p = plan("q93_lang_overlap")
    assert(!p.contains("collect_set") && !p.contains("ObjectHashAggregate"),
      s"per-shingle lang set is an object aggregate again:\n$p")
    assert(p.contains("bit_or"), s"lang bitmask aggregate missing:\n$p")
    // round 11: the group KEY must be the 64-bit gram hash too — round 10
    // fixed the aggregate state but still shipped distinct-shingle STRINGS
    assert(p.contains("graft_gram_hashes"),
      s"mask aggregate lost its in-row codegen shingle hashing:\n$p")
  }

  test("q31/q61 shingle intersections join on composite keys (skew immunity)") {
    // a hot boilerplate shingle must never be a join key on its own —
    // the doc id must be part of the hash key
    for (q <- Seq("q31_ngram_jaccard", "q61_minhash_jaccard")) {
      val p = plan(q)
      val keyLines = p.linesIterator.filter(l => l.contains("keys [") && l.contains("sh#")).toSeq
      assert(keyLines.nonEmpty, s"$q: no shingle join found:\n$p")
      assert(keyLines.forall(_.contains("keys [2]")),
        s"$q: shingle used as a single join key (k² hot-key blowup): $keyLines")
    }
  }

  test("q72 IVF: centroid table broadcast, no cartesian product in the plan") {
    val p = plan("q72_ivf_ann")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"centroid ranking must broadcast the centroid side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"corpus x centroids must never be a shuffled cartesian:\n$p")
  }

  test("q74 bloom: membership is an in-row bitmap probe — no join, no position explode") {
    val p = plan("q74_bloom_decontaminate")
    // r13 shape: the mBits-bounded filter rides a broadcast inside
    // graft_bitmap_contains; the corpus shingle stream is aggregated ONCE on
    // doc_id — no positions explode (3× row mass), no membership join, no
    // (doc_id, shingle)-keyed re-aggregation
    assert(p.contains("graft_bitmap_contains"),
      s"membership must be the broadcast bitmap probe:\n$p")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"bitmap probe must not join:\n$p")
  }

  test("q77 outliers: per-source stats join is broadcast (source is a tiny dim)") {
    val p = plan("q77_length_outliers")
    assert(p.contains("BroadcastHashJoin"), s"stats join must broadcast:\n$p")
  }

  test("q78 funnel: aggregate-only plan — no window over the event history") {
    val p = plan("q78_funnel")
    assert(!p.linesIterator.exists(l => l.trim.startsWith("(") && l.contains(") Window")),
      s"funnel must not window the full history:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q75 deciles: the ntile window never collapses to a single partition") {
    val p = plan("q75_length_deciles")
    assert(!p.contains("Exchange SinglePartition"),
      s"per-language window collapsed to one partition:\n$p")
  }

  test("q66 sequence packing: exactly one shuffle, partitioned by source") {
    val p = plan("q66_sequence_pack")
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty)
    assert(!p.contains("Exchange SinglePartition"),
      s"packing window collapsed to a single partition:\n$p")
  }

  test("q82 zorder keys: pure projection — no join, no window, no aggregate") {
    val p = plan("q82_zorder_keys")
    assert(!p.contains("Join") && !p.contains(") Window") && !p.contains("HashAggregate"),
      s"the layout key must be a codegen'd per-row expression:\n$p")
  }

  test("q86 IVF centroids: assignment is a pure projection — no join, no window, no sort-agg") {
    val p = plan("q86_ivf_centroids")
    // round 8: cell assignment rides the graft_argmax_cell codegen expression
    // over the literal √n centroid sample — the n × nlist candidate
    // materialization (and the SortAggregate the max_by form fell into) is
    // gone; the only remaining plan nodes are the scan, the projection, and
    // the map-side-combinable (cell, dim) rollup
    assert(!p.contains("Join"), s"assignment must not join the corpus:\n$p")
    assert(!p.contains("SortAggregate"),
      s"the rollup must stay a hash aggregate (primitive buffers):\n$p")
    assert(!p.linesIterator.exists(l => l.trim.startsWith("(") && l.contains(") Window")),
      s"no window over the corpus:\n$p")
    assert(p.contains("graft_argmax_cell"),
      s"cell assignment must be the codegen argmax expression:\n$p")
  }

  test("q233 IVF balance: projection-only assignment, hash aggregates, no join") {
    val p = plan("q233_ivf_cell_balance")
    assert(!p.contains("Join"), s"the datasheet must not join the corpus:\n$p")
    assert(!p.contains("SortAggregate"),
      s"both rollups must stay hash aggregates:\n$p")
    assert(p.contains("graft_argmax_cell"),
      s"cell assignment must be the codegen argmax expression:\n$p")
  }

  test("q87 daily anomaly: per-type stats join is broadcast (types are a tiny dim)") {
    val p = plan("q87_daily_anomaly")
    assert(p.contains("BroadcastHashJoin"), s"stats join must broadcast:\n$p")
  }

  test("q88 chunk overlap: explode-only plan — no window, no single-partition collapse") {
    val p = plan("q88_chunk_overlap")
    assert(p.contains("Generate"), s"chunking must be a per-row explode:\n$p")
    assert(!p.linesIterator.exists(l => l.trim.startsWith("(") && l.contains(") Window")),
      s"chunking must not window the corpus:\n$p")
  }

  test("q91 oov: the vocabulary join broadcasts (top-V is a dim by construction)") {
    val p = plan("q91_oov_rate")
    assert(p.contains("BroadcastHashJoin"), s"vocab join must broadcast:\n$p")
  }

  test("q90 recall: no shuffled cartesian anywhere in the eval plan") {
    val p = plan("q90_ann_recall")
    assert(!p.contains("CartesianProduct"), s"eval must broadcast the query side:\n$p")
  }

  test("q89 range frame: window keeps its per-customer partitioning") {
    val p = plan("q89_range_frame")
    assert(!p.contains("Exchange SinglePartition"),
      s"trailing-spend window collapsed to one partition:\n$p")
  }

  test("q101 salted join: the salt is part of the join key and absent from the output") {
    val p = plan("q101_salted_join")
    assert(p.contains("__salt"), s"join not salted:\n$p")
    val out = Catalog.queries("q101_salted_join")(spark, dir)
    assert(!out.columns.contains("__salt"))
  }

  test("q102 key shares: single-pass top-N+total aggregation, no scalar-total branch") {
    // round 10 (VERDICT r9 #4): top-N and total come from ONE TopKCountAggregator
    // pass — the plan must hold exactly one fact scan and no broadcast/cross
    // branch re-running the count lineage for the total
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("q102_key_shares")
      val scans = "(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(p).size
      assert(scans == 1, s"top-N and total must share ONE pass, found $scans scans:\n$p")
      assert(!p.contains("BroadcastExchange") && !p.contains("CartesianProduct"),
        s"the broadcast-scalar total branch is retired:\n$p")
      assert(p.contains("ObjectHashAggregate"),
        s"typed top-k+total aggregator missing from the plan:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q53 embedding dedup: bucket self-join is exchange-free over the clustered index") {
    // round 10 (sf1000 probe): the flat-index self-join exchanged both
    // sides WITH the 64-double vector payload — 22 GB of shuffle+sort at
    // 20 M vectors. The index is now written bucket-clustered
    // (bucketBy+sortBy), so pair generation must read co-located: no hash
    // exchange anywhere in the plan (the final orderBy's range exchange is
    // the only allowed shuffle).
    val p = plan("q53_embedding_dedup")
    assert(!p.contains("Exchange hashpartitioning"),
      s"the pair join must consume the bucket-clustered index in place:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"expected a co-located join over the bucketed scans:\n$p")
    // single-file buckets (writeBucketed's pre-write repartition) make the
    // scan report its sortBy ordering, so the ONLY Sort left is the final
    // orderBy — a second Sort means the read-side sort crept back (at 20 M
    // vectors it spilled and doubled the decade ratio)
    val sorts = "(?m)^\\(\\d+\\) Sort\\b".r.findAllIn(p).size
    assert(sorts <= 1, s"read-side sort crept back under the pair join:\n$p")
  }

  test("q115 length-biased sample: text decoded once — both branches read the cache") {
    // round 10: the 1-row max branch re-ran the (doc_id, n_tokens) lineage,
    // re-reading the TEXT column — the corpus's heaviest — a second time.
    // With the narrow projection persisted, the max branch and the filter
    // must both be InMemoryTableScans; the parquet text scan appears only
    // inside the cached relation's build plan.
    val p = plan("q115_length_biased_sample")
    val inMem = "InMemoryTableScan".r.findAllIn(p).size
    assert(inMem >= 2,
      s"both the max branch and the filter must read the cached projection:\n$p")
  }

  test("q106 vector ops: pure projection — no explode, no row-count blowup") {
    val p = plan("q106_vector_ops")
    assert(!p.contains("Generate"), s"higher-order fns must not explode the array:\n$p")
  }

  test("q107 partitioned layout: the year filter prunes partitions at the scan") {
    // build the partitioned layout ONCE, then explain the pruned read on it
    val path = "/tmp/graft_test_part_layout"
    rmTree(path)
    engine.Layout.partitionedOrdersWrite(spark, dir, path)
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    val df = engine.Layout.prunedYearRollup(spark.read.parquet(path))
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("o_year") && pf.contains("1997"),
      s"partition filter missing from scan:\n$p")
  }

  test("q109 bucketed join: zero hash exchange end-to-end") {
    val df = engine.Bucketing.bucketedOrderRevenue(spark, dir, numBuckets = 8)
    assert(!engine.Bucketing.hasShuffleExchange(df),
      s"bucketed join must not shuffle:\n${df.queryExecution.executedPlan}")
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("Bucketed: true"), s"scan not bucket-aware:\n$p")
  }

  test("q110 user paths: final top-N is TakeOrderedAndProject") {
    val p = plan("q110_user_paths")
    assert(p.contains("TakeOrderedAndProject"), s"top-N lost its per-partition trim:\n$p")
  }

  test("q119 cooccurrence: the vocabulary restriction joins as broadcast") {
    val p = plan("q119_cooccurrence")
    assert(p.contains("BroadcastHashJoin"), s"vocab must broadcast before pairing:\n$p")
    assert(!p.contains("CartesianProduct"), s"pairing must stay doc-keyed:\n$p")
  }

  test("q118 per-group top-k gets the WindowGroupLimit pushdown") {
    val p = plan("q118_topk_per_group")
    assert(p.contains("WindowGroupLimit"), s"rank<=k pushdown missing:\n$p")
  }

  test("q114 interval join: hour-bucket equi-join, no nested-loop range join") {
    val p = plan("q114_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval overlap must be an equi-join on the hour bucket:\n$p")
  }

  test("q121: the dim filter prunes fact partitions DYNAMICALLY at the scan") {
    val p = plan("q121_dynamic_pruning")
    val pf = p.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("dynamicpruning"),
      s"fact scan lost its runtime partition pruning subquery:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"year dim must broadcast:\n$p")
  }

  test("q122/q126: fixed-size sample and BPE top-N plan as TakeOrderedAndProject") {
    for (q <- Seq("q122_fixed_sample", "q126_bpe_pairs")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"),
        s"$q: top-k lost its per-partition trim:\n$p")
    }
  }

  test("q128 expectations: the whole rule suite evaluates in ONE table scan") {
    val p = plan("q128_expectations")
    val scans = "(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"rule suite must share one scan, found $scans:\n$p")
  }

  test("q132 SQL surface plans like the DataFrame form: broadcast dim + top-N trim") {
    val p = plan("q132_sql_surface")
    assert(p.contains("BroadcastHashJoin"), s"customer dim must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-10 must trim per partition:\n$p")
  }

  test("q131 null-skew join: nulls bypass the join via the union split") {
    val p = plan("q131_null_skew_join")
    assert(p.contains("Union"), s"null band must bypass the join:\n$p")
    // split shape: orders scanned once per branch + the dim — exactly one
    // join, fed by a filtered branch (the optimizer rewrites the loyalty_key
    // alias into its defining condition, so assert structure, not the name)
    val scans = "(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans == 3, s"expected 2 orders branches + 1 dim scan, got $scans:\n$p")
    assert(p.contains("BroadcastHashJoin LeftOuter"), s"dim join must broadcast:\n$p")
  }

  test("q139 bm25: no shuffled join anywhere (postings only ever join broadcast sides)") {
    val p = plan("q139_bm25")
    assert(p.contains("TakeOrderedAndProject"), s"top-k lost its per-partition trim:\n$p")
    // the df table and the 1-row corpus stats are broadcast (hash join and
    // nested-loop respectively); what must NEVER appear is a shuffle-side
    // join that would repartition the postings by a non-doc key
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"postings must not shuffle for a join:\n$p")
  }

  test("q141 count-min: one token-count lineage, no self-join back onto it") {
    val p = plan("q141_countmin")
    // bucket totals come from a window over the vocab-sized frame, so the
    // corpus-scale explode + count appears exactly ONCE in the plan
    val scans = "(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"token lineage must be evaluated once, found $scans scans:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must trim per partition:\n$p")
  }

  test("q142 debounce: windows and burst rollup share one (user, type) shuffle") {
    val p = plan("q142_event_debounce")
    // detail-header exchanges: the key shuffle + the deterministic output sort
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges == 2,
      s"expected exactly the key shuffle + output sort, got $exchanges:\n$p")
  }

  test("q144 bucket diversity: no cross/nested-loop join, all joins broadcast") {
    val p = plan("q144_bucket_diversity")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"diversity must never enumerate pairs:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"per-bucket rollup join must broadcast:\n$p")
  }

  test("q150 inline minhash: zero exchanges before the output sort") {
    val p = plan("q150_minhash_inline")
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"signature fold must be projection-only, got $exchanges:\n$p")
    assert(!p.contains("HashAggregate"), s"no aggregate may appear:\n$p")
  }

  test("q60 winnowing: in-row sliding minima — no window, only the determinism sort exchanges") {
    // r14: a doc's window minima depend only on its own shingle-hash array,
    // so the posexplode + doc-keyed exchange + sort + window must stay
    // collapsed into a per-row projection
    val p = plan("q60_winnowing")
    assert(!p.contains("Window"), s"winnowing must not use a window:\n$p")
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges == 1,
      s"only the determinism sort may exchange, got $exchanges:\n$p")
  }

  test("q230 lsh occupancy: consumes the inline banding projection — no doc-keyed aggregate") {
    // r14: the audit rides graft_minhash_sig (oracle-identical to the
    // explode + aggregate form), so the only exchanges are the occupancy
    // aggregate and the determinism sort — the corpus repartition into a
    // doc-keyed signature aggregate must stay gone
    val p = plan("q230_lsh_occupancy")
    assert(p.contains("graft_minhash_sig"),
      s"occupancy must use the inline signature projection:\n$p")
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges <= 3, s"expected no doc-keyed exchange, got $exchanges:\n$p")
  }

  test("q151 rrf: each signal trims per-partition before its bounded rank window") {
    val p = plan("q151_rrf_fusion")
    val takeOrdered = p.linesIterator.count(_.contains("TakeOrderedAndProject"))
    // three trims: the BM25 signal, the phrase signal, and the final fusion —
    // losing any one of them means a rank window (or the fusion) runs over an
    // unbounded frame
    assert(takeOrdered >= 3, s"both signals + the fusion must trim per partition:\n$p")
  }

  test("q152 counting percentiles: one fact scan, both thresholds in one aggregate") {
    val p = plan("q152_percentiles_by_counting")
    val scans = "(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"median and p90 must share one histogram pass, found $scans scans:\n$p")
  }

  test("q153 equi-depth buckets: one fact scan; branches reuse the histogram exchange") {
    // exchange reuse is a static-planner property; under AQE the pre-execution
    // explain shows the unreused initial plan (AQE re-applies reuse at runtime)
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("q153_equi_depth_buckets")
      val scans = "(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(p).size
      assert(scans == 1, s"bounds and bucketing must reuse the cumulative histogram, found $scans:\n$p")
      assert(p.contains("ReusedExchange"), s"histogram exchange must be reused:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q145 source divergence: vocabulary joins broadcast, postings never shuffle twice") {
    val p = plan("q145_source_divergence")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      s"corpus vocab + totals must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no big-big join exists in this shape:\n$p")
  }

  test("q154 two-hop expansion: every graph join is an equi-join (no nested-loop blowup)") {
    val p = plan("q154_two_hop")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"hop expansion must stay equi-join keyed on the shared endpoint:\n$p")
  }

  test("q155 record linkage: the self-join key IS the composite block key (never cartesian)") {
    val p = plan("q155_record_linkage")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"blocking must bound the pair space via an equi-join:\n$p")
    // both blocking attributes must be part of the join key — dropping one
    // quietly multiplies the per-block pair count
    val joinKeys = p.linesIterator
      .filter(l => l.contains("Left keys") || l.contains("Right keys")).mkString
    assert(joinKeys.contains("nationkey") || joinKeys.contains("nk"),
      s"nation must be a blocking key:\n$p")
    assert(joinKeys.contains("mktsegment") || joinKeys.contains("seg"),
      s"market segment must be a blocking key:\n$p")
  }

  test("q156 decayed engagement: the reference date broadcasts as a scalar, never a shuffle") {
    val p = plan("q156_decayed_engagement")
    // the single-row max-date frame joins via broadcast; the big side must
    // not shuffle for it
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"scalar reference date must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no shuffled or cartesian join belongs in this shape:\n$p")
  }

  test("q157 containment: intersection joins on the composite (doc, shingle) key") {
    val p = plan("q157_containment")
    val smjKeys = p.linesIterator.filter(_.contains("Left keys")).mkString
    assert(smjKeys.contains("doc_b") && smjKeys.contains("sh"),
      s"per-pair intersection must key on (doc_b, sh) — a hot shingle alone would k²-blow up:\n$p")
  }

  test("q160 roc auc: one corpus scan — ranks come from the score histogram, not a global sort") {
    val p = plan("q160_roc_auc")
    val scans = "(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"AUC must not rescan or row-rank the corpus, found $scans scans:\n$p")
  }

  test("q161 truncation kappa: both predictions come off ONE scan (sequential projections)") {
    // scan-sharing flows through the reused cells exchange — a static-planner
    // property (AQE re-applies reuse at runtime but hides it pre-execution)
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("q161_truncation_kappa")
      val scans = "(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(p).size
      assert(scans == 1, s"full and half predictions must share one scan, found $scans:\n$p")
      assert(p.contains("ReusedExchange"),
        s"margins and totals must reuse the confusion-matrix exchange:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q162 pareto: skyline joins back by broadcast, never an all-pairs dominance join") {
    val p = plan("q162_pareto_frontier")
    assert(p.contains("BroadcastHashJoin"), s"distinct-x skyline must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"no pairwise dominance comparison belongs in the plan:\n$p")
  }

  test("q163 calibration: corpus histogram and total broadcast to the tiny decile table") {
    val p = plan("q163_score_calibration")
    assert(p.contains("BroadcastHashJoin"), s"corpus cum-histogram must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no big-big join exists in this shape:\n$p")
  }

  test("q164 pagerank step: every propagation join is an equi-join on a node id") {
    val p = plan("q164_pagerank_step")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the pregel step must stay keyed on src/dst:\n$p")
  }

  test("q165 pmi: the top-N is TakeOrderedAndProject, never a global sort") {
    val p = plan("q165_pmi_collocations")
    assert(p.contains("TakeOrderedAndProject"),
      s"collocation top-N must trim per partition:\n$p")
  }

  test("q166 zone-map audit: both layouts come off ONE orders scan (map-explode)") {
    val p = plan("q166_zonemap_audit")
    val scans = "(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"layout simulation must not rescan orders, found $scans scans:\n$p")
    assert(!p.contains("Join"), s"no join belongs in this shape:\n$p")
  }

  test("q159 langid eval: truth and prediction come off ONE scan (no doc_id self-join)") {
    // AQE off: the ReusedExchange pin is a static-planner property
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("q159_langid_eval")
      val scans = "(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(p).size
      assert(scans == 1, s"prediction must not re-scan or re-join documents, found $scans scans:\n$p")
      assert(p.contains("ReusedExchange"),
        s"the confusion-matrix exchange must be shared by both class rollups:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /** The q169-q175 eval family all claim "ONE corpus scan, every derived
    * frame reuses the base aggregate's exchange" — pinned per query because
    * a single broken pruning guard (or a plain equi outer join pushing
    * IsNotNull into one branch) silently doubles the corpus passes. */
  private def assertSingleScan(name: String): Unit = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan(name)
      val scans = "(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(p).size
      assert(scans == 1, s"$name must scan the corpus once, found $scans:\n$p")
      assert(p.contains("ReusedExchange"),
        s"$name: derived frames must reuse the base aggregate's exchange:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q169 ks test: one corpus scan across all five derived frames") {
    assertSingleScan("q169_ks_test")
  }

  test("q170 chi square: one corpus scan across cells, margins, and totals") {
    assertSingleScan("q170_chi_square")
  }

  test("q171 gini: one scan, rank window on the vocabulary frame, no joins") {
    val p = plan("q171_gini_tokens")
    val scans = "(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans == 1 && !p.contains("Join"),
      s"gini is a histogram + one bounded window, nothing else:\n$p")
  }

  test("q172 psi drift: one corpus scan; bins aggregate histogram rows") {
    assertSingleScan("q172_psi_drift")
  }

  test("q174 reliability bins: one corpus scan; bounds share the histogram exchange") {
    assertSingleScan("q174_reliability_bins")
  }

  test("q175 source ablation: one corpus scan; totals re-aggregate the per-source frame") {
    assertSingleScan("q175_source_ablation")
  }

  test("q173 prefix filter join: array-intersect verification, joins keyed on doc ids") {
    val p = plan("q173_prefix_filter_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"prefix filtering must bound the pair space via equi-joins:\n$p")
    // verification must count overlap via per-pair array_intersect — the
    // exploded (pair x token) equi-join streams |pairs|*|tokens| rows and
    // was measured 4x slower on a template-heavy corpus
    assert(p.contains("array_intersect"),
      s"verify stage lost its array-intersect form:\n$p")
    // the POSITION filter must sit in the prefix self-join's CONDITION: the
    // raw pair stream (sum of posting^2 over the Zipf head) filled the disk
    // at 15 M docs when only prefix+length gated it — the overlap upper
    // bound 1 + min(m_a - pos_a, m_b - pos_b) >= ceil-div(alpha) prunes it
    // BEFORE the pair-distinct exchange. The expected ceil-div denominator
    // alphaDen = 1e6 + t_ppm derives from the SAME constant the operator
    // defaults to (round-10 ADVICE: a hard-coded literal desyncs silently
    // when the default moves), and the predicate must appear on a join-
    // condition line — a filter parked above the distinct would pass a bare
    // substring check while pruning nothing.
    val alphaDen = 1000000L + ext.Dedup.DefaultJaccardPpm
    assert(p.linesIterator.exists(l => l.contains("Join condition:") &&
      l.contains("pos_a") && l.contains("pos_b") && l.contains(s"div $alphaDen")),
      s"prefix self-join lost the position filter (ceil-div by $alphaDen " +
        s"on pos_a/pos_b must sit in the join condition):\n$p")
    // and the pair-distinct must shuffle ONLY the pair — sizes ride along
    // nowhere (they are re-derived from the arrays at verification)
    val distinctKeys = p.linesIterator
      .filter(l => l.contains("Keys") && l.contains("doc_a") && l.contains("doc_b"))
      .toSeq
    assert(distinctKeys.nonEmpty && distinctKeys.forall(!_.contains("n_a")),
      s"pair-distinct carries dead weight through its exchange:\n$p")
  }

  test("q176 heavy hitters: candidate INSET filter runs below the partial aggregate") {
    val p = plan("q176_heavy_hitters")
    val scans = "(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"the re-count pass must be one scan, found $scans:\n$p")
    assert(p.contains("INSET") || p.contains(" IN ("),
      s"candidate filter must prune rows before the aggregate:\n$p")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("text") && !readSchema.contains("lang"),
      s"re-count must read only the text column: $readSchema")
  }

  test("q189 semdedup: pair enumeration keyed on the k-means cell (never all-pairs)") {
    val p = plan("q189_semdedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"semantic dedup must stay an equi-join on the cluster cell:\n$p")
  }

  test("q190 hard negatives: query side broadcasts; rank window trims to k") {
    val p = plan("q190_hard_negatives")
    // the deliberate brute-force baseline: tiny query set broadcast against
    // one corpus pass — never a shuffled or unbroadcast cartesian
    assert(p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"query set must broadcast into the corpus pass:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=k must push the per-query trim below the full sort:\n$p")
  }

  test("q191 dedup rewrite: order restored by in-row array_sort, never a window") {
    val p = plan("q191_dedup_rewrite")
    assert(!p.contains("Window"),
      s"segment order must come from the per-doc array sort, not a window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the frequency join must stay keyed on the segment:\n$p")
  }

  test("q192 incremental embedding dedup: batch broadcasts into one hashed corpus pass") {
    val p = plan("q192_incremental_embedding_dedup")
    assert(p.contains("BroadcastHashJoin"),
      s"the small batch side must broadcast on the bucket key:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay an equi-join on the bucket:\n$p")
  }

  test("q193 audio decode: partition-parallel projection — no join, two exchanges (core spread + sort)") {
    val p = plan("q193_audio_decode")
    assert(!p.contains("Join"), s"decode is per-row work, no join belongs here:\n$p")
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    // round 8: a round-robin repartition of the 8-byte doc_id feed spreads
    // the CPU-bound codec pass across cores (scan splits are sized by I/O
    // bytes, not per-row CPU) — that exchange plus the output sort are the
    // only two; anything more means the codec path grew a shuffle it
    // doesn't need
    assert(exchanges <= 2, s"only core-spread + output sort may shuffle, got $exchanges:\n$p")
    assert(p.contains("RoundRobinPartitioning"),
      s"codec feed must be core-spread, not scan-split-shaped:\n$p")
  }

  test("q194 column stats: per-column two-level aggregates, each scan pruned to ONE column") {
    // round 10 (VERDICT r9 #6, the q69 lesson): the fused Expand form kept a
    // ~n-row multi-column partial-agg working set; per-column two-level
    // aggregation bounds in-flight state to one column's distinct values.
    // Four scans is the DESIGN — each must read exactly its own column, so
    // together they read the same bytes the fused single scan did.
    val p = plan("q194_column_stats")
    val scans = "(?m)^\\(\\d+\\) Scan parquet".r.findAllIn(p).size
    assert(scans == 4, s"one pruned scan per profiled column, found $scans:\n$p")
    assert(!p.contains("Expand"),
      s"the Expand multi-distinct working set is retired:\n$p")
    val schemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.size == 4 && schemas.forall(s => s.count(_ == ':') == 2),
      s"each per-column scan must read exactly one column:\n${schemas.mkString("\n")}")
  }

  // ------------------------------------------------------------------
  // AQE-ON executed-plan pins. The static pins above prove planner INTENT
  // with AQE disabled (pre-execution explain under AQE hides reuse); Bench
  // and production run AQE on, so these drive each query to completion and
  // assert the same properties on the FINAL adaptive plan — if AQE's
  // runtime re-planning ever broke exchange reuse, the bench would pay
  // double corpus scans with no test noticing. That gap is closed here.
  // ------------------------------------------------------------------

  /** Walk the final (post-execution) adaptive plan, stepping through stage
    * wrappers. A reused branch terminates at its ReusedExchangeExec leaf, so
    * a scan behind a reused stage is counted exactly once — which is the
    * point: scans counted here are scans the cluster actually paid for. */
  private def finalNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case other                    => other.children
    }
    p +: kids.flatMap(finalNodes)
  }

  private def assertSingleScanAqeOn(name: String): Unit = {
    assert(spark.conf.get("spark.sql.adaptive.enabled", "true") == "true",
      "these pins must run with AQE enabled, exactly as Bench does")
    val df = Catalog.queries(name)(spark, dir)
    df.collect() // drive to completion so the adaptive plan is final
    val nodes  = finalNodes(df.queryExecution.executedPlan)
    val scans  = nodes.count { case _: FileSourceScanExec => true; case _ => false }
    val reused = nodes.exists { case _: ReusedExchangeExec => true; case _ => false }
    assert(scans == 1,
      s"$name under AQE paid $scans corpus scans at runtime (want 1):\n${df.queryExecution.executedPlan}")
    assert(reused,
      s"$name under AQE lost exchange reuse at runtime:\n${df.queryExecution.executedPlan}")
  }

  test("AQE-on executed plans: q169-q175 eval family keeps one scan + exchange reuse") {
    for (n <- Seq("q169_ks_test", "q170_chi_square", "q172_psi_drift",
                  "q174_reliability_bins", "q175_source_ablation"))
      assertSingleScanAqeOn(n)
  }

  test("AQE-on executed plans: q153/q159/q161 keep scan-sharing and reuse") {
    for (n <- Seq("q153_equi_depth_buckets", "q159_langid_eval", "q161_truncation_kappa"))
      assertSingleScanAqeOn(n)
  }

  test("AQE-on executed plans: the other single-scan claims hold at runtime too") {
    // these pin scan count only (their static forms never claimed reuse)
    for (n <- Seq("q152_percentiles_by_counting", "q160_roc_auc",
                  "q166_zonemap_audit", "q171_gini_tokens", "q176_heavy_hitters")) {
      val df = Catalog.queries(n)(spark, dir)
      df.collect()
      val scans = finalNodes(df.queryExecution.executedPlan)
        .count { case _: FileSourceScanExec => true; case _ => false }
      assert(scans == 1,
        s"$n under AQE paid $scans corpus scans at runtime (want 1):\n${df.queryExecution.executedPlan}")
    }
  }

  test("q177 multiprobe ann: probe join broadcasts the query side, corpus scans once per side") {
    val p = plan("q177_multiprobe_ann")
    assert(p.contains("BroadcastHashJoin"),
      s"the exploded probe side must broadcast into the corpus pass:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"probing must stay an equi-join on bucket:\n$p")
  }

  test("q209 jl projection: projection-only — zero exchanges before the output sort") {
    val p = plan("q209_jl_projection")
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges == 1,
      s"16 sign dots + norms must be a pure scan, got $exchanges exchanges:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("Join"),
      s"no aggregate or join may appear:\n$p")
  }

  test("q213 code switch: one in-row pass — no explode, no aggregate, no join") {
    val p = plan("q213_code_switch")
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges == 1,
      s"windowing + classification must stay in-row, got $exchanges exchanges:\n$p")
    assert(!p.contains("Generate") && !p.contains("HashAggregate") && !p.contains("Join"),
      s"no explode/aggregate/join may appear:\n$p")
  }

  test("q204 incremental ppjoin: every join broadcasts at runtime under AQE") {
    assert(spark.conf.get("spark.sql.adaptive.enabled", "true") == "true",
      "this pin must run with AQE enabled, exactly as Bench does")
    val df = Catalog.queries("q204_incremental_ppjoin")(spark, dir)
    df.collect() // drive to completion so the adaptive plan is final
    val nodes = finalNodes(df.queryExecution.executedPlan)
    val smj = nodes.count {
      case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec => true
      case _ => false
    }
    val bhj = nodes.count {
      case _: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => true
      case _ => false
    }
    assert(smj == 0 && bhj >= 4,
      s"wave-vs-corpus joins must all broadcast at runtime (got $bhj BHJ, $smj SMJ):\n" +
        df.queryExecution.executedPlan)
  }

  test("q212 decontaminate rewrite: benchmark set broadcasts, order restored without a window") {
    val p = plan("q212_decontaminate_rewrite")
    assert(p.contains("BroadcastHashJoin"),
      s"the benchmark segment set must broadcast:\n$p")
    assert(!p.contains("Window"),
      s"order restoration must be the in-row array_sort, not a window:\n$p")
  }

  test("every unpartitioned window in the catalog sits above an aggregate/limit (dimension-bounded input)") {
    // VERDICT r9 #5: `WindowExec: No Partition Defined` warnings flood the
    // bench log; every current site is fine because its input is an
    // aggregate (histogram / per-group rollup) or a limit — row counts
    // bounded by a VALUE DOMAIN, not the fact table. Nothing asserted that,
    // so a future window over raw fact rows would hide in the same warning
    // noise until it walled at scale. This pin walks EVERY catalog query's
    // optimized logical plan: an unpartitioned Window whose subtree holds no
    // Aggregate/Limit is an unbounded single-partition sort — fail loudly.
    // Self-maintaining: new catalog entries are covered automatically.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalLimit, Window => LWindow, Deduplicate}
    val offenders = scala.collection.mutable.ListBuffer[String]()
    for ((name, fn) <- Catalog.queries.toSeq.sortBy(_._1)) {
      try {
        val lp = fn(spark, dir).queryExecution.optimizedPlan
        lp.foreach {
          case w: LWindow if w.partitionSpec.isEmpty =>
            val bounded = w.child.collectFirst {
              case _: Aggregate => ()
              case _: GlobalLimit => ()
              case _: LocalLimit => ()
              case _: Deduplicate => ()
            }.isDefined
            if (!bounded) offenders += name
          case _ => ()
        }
      } catch {
        case t: Throwable => offenders += s"$name (plan build failed: ${t.getMessage})"
      }
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows over un-aggregated input (single-partition sort " +
        s"over fact-scale rows at 100 TB): ${offenders.mkString(", ")}")
  }

  test("guardedBroadcast: bytes law — measured cached size vetoes the hint " +
      "even under the row guard") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // isolate the HINT: with auto-broadcast off, a BroadcastHashJoin in the
    // plan can only come from guardedBroadcast's decision
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = (1 to 1000).toDF("k")

      // small + narrow: inside both guards -> hinted
      val hinted = graft.engine.RelOps.guardedBroadcast((1 to 100).toDF("k"))
      val p1 = probe.join(hinted, "k").queryExecution.executedPlan.toString
      assert(p1.contains("BroadcastHashJoin"),
        s"a 100-row table must keep the broadcast hint:\n$p1")

      // few rows but WIDE: 2k rows x 8 KB pad ≈ 16 MB measured, over a 1 MB
      // bytes bound — the pre-round-10 row guard alone would have hinted it
      val wide = (1 to 2000).toDF("k").withColumn("pad", lit("x" * 8192))
      val unhinted = graft.engine.RelOps.guardedBroadcast(wide,
        maxBytes = 1L << 20)
      val p2 = probe.join(unhinted, "k").queryExecution.executedPlan.toString
      assert(!p2.contains("BroadcastHashJoin") &&
             !p2.contains("BroadcastNestedLoopJoin"),
        s"a wide table past maxBytes must fall through to the shuffle join:\n$p2")

      // row guard still applies independently of bytes
      val many = (1 to 5000).toDF("k")
      val rowCapped = graft.engine.RelOps.guardedBroadcast(many, maxRows = 10L)
      val p3 = probe.join(rowCapped, "k").queryExecution.executedPlan.toString
      assert(!p3.contains("BroadcastHashJoin"),
        s"a table past maxRows must fall through to the shuffle join:\n$p3")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("dot queries: no graft_dot reads a cast copy of its input") {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import graft.functions.DotProduct
    val names = Seq("q32_cosine_topk", "q34_ann_topk", "q53_embedding_dedup", "q72_ivf_ann",
      "q86_ivf_centroids", "q90_ann_recall", "q177_multiprobe_ann", "q189_semdedup",
      "q190_hard_negatives", "q192_incremental_embedding_dedup", "q209_jl_projection",
      "q225_jl_recall", "q233_ivf_cell_balance", "q234_semantic_decontaminate")
    names.foreach { name =>
      val optimized = Catalog.queries(name)(spark, dir).queryExecution.optimizedPlan
      val dots = scala.collection.mutable.ArrayBuffer.empty[DotProduct]
      optimized.foreachWithSubqueries(_.expressions.foreach(_.foreach {
        case d: DotProduct => dots += d
        case _ =>
      }))
      assert(dots.nonEmpty, s"$name: no graft_dot in the optimized plan:\n$optimized")
      val casted = dots.filter(_.children.exists(_.isInstanceOf[Cast]))
      assert(casted.isEmpty, s"$name dots a cast copy: ${casted.mkString("; ")}")
    }
  }

  test("q72/q234 cell joins: the corpus argmax is evaluated once per row") {
    // an `isnotnull(cell)` inferred from the cell equi-join and pushed below
    // the projection would put a second graft_argmax_cell into the scan-side
    // Filter
    import graft.functions.ArgMaxCell
    Seq("q72_ivf_ann", "q234_semantic_decontaminate").foreach { name =>
      val optimized = Catalog.queries(name)(spark, dir).queryExecution.optimizedPlan
      var n = 0
      optimized.foreachWithSubqueries(_.expressions.foreach(_.foreach {
        case _: ArgMaxCell => n += 1
        case _ =>
      }))
      assert(n == 1, s"$name: $n graft_argmax_cell evaluations per corpus row:\n$optimized")
    }
  }
}
