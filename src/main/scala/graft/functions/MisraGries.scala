package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Misra-Gries heavy-hitter sketch as a typed, MERGEABLE aggregator — the
  * scale-safe first pass of exact heavy-hitter detection. The buffer holds at
  * most k (term, count) slots plus the exact total item count; the classic
  * guarantee (Misra & Gries 1982; mergeability per Agarwal et al., "Mergeable
  * Summaries", PODS 2012) is that every term with true frequency > n/k
  * SURVIVES in the final buffer, regardless of partition order or merge tree
  * shape. Counts in the buffer are noisy (up to n/k under-counted) — callers
  * MUST treat the output as a candidate set and re-count exactly in a second
  * pass (see [[graft.ext.TextStats.heavyHitters]]), which restores full
  * determinism: the verified output is independent of how partitions merged.
  *
  * Why this beats a full groupBy at 100 TB: the shuffle carries only
  * k·numPartitions slots (k is hundreds), not the full term cardinality; the
  * driver receives ≤ k candidates. The second pass shuffles only rows
  * matching the broadcast candidate set.
  *
  * The buffer is a plain product of (Map[String, Long], Long) encoded with
  * the PRODUCT encoder, not Kryo: a Kryo blob of a mutable collection is not
  * a stable schema across Scala/Spark upgrades — the product encoding
  * (MapType(String, Long) + LongType) is.
  */
final case class MgBuffer(counts: Map[String, Long], n: Long)

class MisraGriesAggregator(k: Int)
    extends Aggregator[String, MgBuffer, (Seq[String], Long)] {

  override def zero: MgBuffer = MgBuffer(Map.empty, 0L)

  override def reduce(b: MgBuffer, t: String): MgBuffer = {
    val c = b.counts
    c.get(t) match {
      case Some(v) => MgBuffer(c.updated(t, v + 1), b.n + 1)
      case None if c.size < k => MgBuffer(c.updated(t, 1L), b.n + 1)
      case None =>
        // decrement-all: every slot loses 1, emptied slots are freed; the
        // unseen item is "cancelled" against k existing singletons. O(k),
        // but only on the full-buffer-miss path (the classic MG amortization)
        MgBuffer(
          c.iterator.collect { case (t2, v) if v > 1L => t2 -> (v - 1L) }.toMap,
          b.n + 1)
    }
  }

  override def merge(a: MgBuffer, b: MgBuffer): MgBuffer = {
    var m = a.counts
    b.counts.foreach { case (t, c) => m = m.updated(t, m.getOrElse(t, 0L) + c) }
    val trimmed =
      if (m.size <= k) m
      else {
        // subtract the (k+1)-th largest count from every slot, drop <= 0 —
        // the mergeable-summaries trim that preserves the > n/k guarantee
        val cut = m.valuesIterator.toArray.sorted(Ordering[Long].reverse).apply(k)
        m.iterator.collect { case (t, c) if c > cut => t -> (c - cut) }.toMap
      }
    MgBuffer(trimmed, a.n + b.n)
  }

  /** Candidate terms (sorted for determinism of the driver-side array) and
    * the EXACT total item count n, both from the single pass. */
  override def finish(b: MgBuffer): (Seq[String], Long) =
    (b.counts.keys.toSeq.sorted, b.n)

  override def bufferEncoder: Encoder[MgBuffer] = Encoders.product[MgBuffer]
  override def outputEncoder: Encoder[(Seq[String], Long)] =
    Encoders.product[(Seq[String], Long)]
}
