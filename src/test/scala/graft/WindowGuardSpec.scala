package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for unpartitioned windows (VERDICT r11 #5).
  *
  * `Window.orderBy(...)` without a `partitionBy`, and its keyless twin
  * `Window.partitionBy()`, are Spark's one legal all-to-one operator:
  * WindowExec moves the ENTIRE input to a single task (it even warns "No
  * Partition Defined for Window operation"). Both count as unpartitioned
  * here. Every such site in this engine is deliberate and BOUNDED — the
  * window runs over a post-aggregate or value-domain frame that stays small
  * at any corpus size — but nothing used to PIN that: a future corpus-mass
  * global window would hide in the same warning spam the bounded ones emit.
  * This spec is the pin: it scans the main sources for unpartitioned
  * windows and fails when a site is not on the allowlist below.
  *
  * To add a site: either partition the window (preferred — see
  * RelOps.rangedRowNumber for a distributed row number, RelOps.rangedCumsum
  * for a distributed running sum, and functions/TopKAggregator for global
  * top-k), or add an allowlist entry whose note states WHY the frame is
  * bounded at any SF (its row count must be a dimension/value-domain/chunk
  * cardinality, never proportional to the corpus).
  */
class WindowGuardSpec extends AnyFunSuite {

  /** (file relative to src/main/scala/graft, enclosing def) → boundedness. */
  private val allowlist: Map[(String, String), String] = Map(
    ("engine/Analytics.scala", "shareOfSales") ->
      "total over one row per group after the fact-scale aggregate",
    ("engine/Analytics.scala", "topProducts") ->
      "window over the n rows surviving orderBy().limit(n) (TakeOrdered), never the aggregate",
    ("engine/Layout.scala", "backfillPlan") ->
      "one row per missing month (time-dimension cardinality)",
    ("engine/RelOps.scala", "chunkedPrefixAgg") ->
      "one row per chunk — the parallel-prefix offset table of the distributed running sum itself",
    ("engine/RelOps.scala", "yoyRevenue") ->
      "one row per (year, month) after the fact-scale aggregate",
    ("engine/RelOps.scala", "shareOfTotal") ->
      "total over one row per nation after the fact-scale aggregate",
    ("engine/RelOps.scala", "topKParts") ->
      "window over the 10 rows surviving orderBy().limit(10) (TakeOrdered)",
    ("engine/RelOps.scala", "topKPartsAgg") ->
      "window over the k rows the TopKAggregator returned",
    ("engine/RelOps.scala", "surrogateDim") ->
      "one row per distinct dimension value (market segments)",
    ("engine/RelOps.scala", "equiDepthBuckets") ->
      "value-domain-bounded price histogram (distinct floor(price))",
    ("ext/Dedup.scala", "sortedNeighborhoodPairs") ->
      "one row per blocking-key first letter — the SNM chunk-offset table",
    ("ext/Eval.scala", "dedupedDecileBounds") ->
      "value-domain-bounded (value, count) histogram (Eval scale note)",
    ("ext/Eval.scala", "rocAuc") ->
      "distinct score levels, value-domain-bounded (Eval scale note)",
    ("ext/Eval.scala", "paretoFrontier") ->
      "per-source quality/size points (dimension cardinality)",
    ("ext/Eval.scala", "scoreCalibration") ->
      "distinct score levels, value-domain-bounded (Eval scale note)",
    ("ext/Eval.scala", "ksTest") ->
      "distinct metric values, value-domain-bounded histogram",
    ("ext/Eval.scala", "giniTokens") ->
      "distinct per-doc token counts (length domain, ≤ max doc length)",
    ("ext/Sampling.scala", "interleaveOrder") ->
      "one row per source (dimension cardinality)",
    ("ext/TextStats.scala", "mixtureAllocation") ->
      "one row per source after the token-count aggregate (dimension cardinality)",
    ("ext/TextStats.scala", "vocabulary") ->
      "window over the topV rows surviving orderBy().limit(topV)",
    ("ext/TextStats.scala", "rrfFusion") ->
      "window over the two k-row ranked lists being fused",
    ("ext/TextStats.scala", "sourceConcentration") ->
      "one row per source (dimension cardinality)",
    ("ext/TextStats.scala", "zipfSlope") ->
      "window over the topV rows surviving orderBy().limit(topV)",
    ("streaming/Events.scala", "embargoSplit") ->
      "one row per day (time-dimension cardinality)",
    ("streaming/Events.scala", "arrivalLateness") ->
      "one row per arrival chunk — the chunk-carry offset table",
    ("streaming/Events.scala", "latenessPercentiles") ->
      "lateness-seconds histogram, value-domain-bounded")

  // The enclosing-def attribution below keys on indent ≤ 4, so a deeply
  // nested local def is attributed to its enclosing top-level def — the
  // allowlist is keyed accordingly. Both directions of the guard (extra +
  // stale) keep the source itself as the truth; comment stripping and its
  // limits are SourceScan.stripComments's.
  test("every unpartitioned Window.orderBy site is on the bounded-frame allowlist") {
    // an orderBy with no partitionBy, or a partitionBy with no keys
    val winPat = "Window\\s*\\.\\s*(?:orderBy|partitionBy\\s*\\(\\s*\\))".r
    // enclosing top-level def: last `def name` at object-member indent
    val defPat = "(?m)^\\s{0,4}(?:private(?:\\[[a-z]+\\])?\\s+)?def\\s+([A-Za-z0-9_]+)".r
    val found: Set[(String, String)] =
      SourceScan.sources("src/main/scala/graft").flatMap { case (rel, src) =>
        winPat.findAllMatchIn(src).map { m =>
          val d = defPat.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption
            .map(_.group(1)).getOrElse("<top>")
          (rel, d)
        }
      }.toSet
    val extra = found -- allowlist.keySet
    val stale = allowlist.keySet -- found
    assert(extra.isEmpty,
      s"""NEW unpartitioned window site(s): ${extra.mkString(", ")}.
         |An unpartitioned window moves its whole input to ONE task. Either
         |partition it (rangedRowNumber / rangedCumsum / TopKAggregator
         |are the distributed alternatives) or allowlist it in
         |WindowGuardSpec with a written why-bounded argument.""".stripMargin)
    assert(stale.isEmpty,
      s"stale allowlist entries (site gone — prune them): ${stale.mkString(", ")}")
  }
}
