package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: gives SQL users the engine's native
  * functions by name ([[GraftExtensions.functions]]), enabled with
  * `spark.sql.extensions=graft.functions.GraftExtensions`. Every session the
  * repo builds carries it. It injects no optimizer rule. The engine itself
  * needs no name: it builds its native expressions as typed Columns
  * ([[Native]]), so its queries run the same plans in a session without
  * the extension.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
  }
}

object GraftExtensions {
  /** `n` of a width argument that must be a foldable int literal — gram and
    * hex-prefix widths are plan-time constants everywhere, never data. */
  private def intLiteral(call: String, e: Expression): Int = e.eval() match {
    case i: Int => i
    case other => throw new IllegalArgumentException(
      s"$call: n must be an int literal, got $other")
  }

  /** Every native function the engine exposes, by SQL name: the one SQL-name
    * table. [[Native]] has a typed builder for each. The broadcast probes and
    * the k-means argmin are not here: they carry a `Broadcast` or a
    * driver-collected literal, so they are typed Columns only. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", e => DotProduct(e(0), e(1))),
    ("graft_argmax_cell", e => ArgMaxCell(e(0), e(1), e(2))),
    ("graft_bounded_lev", e => BoundedLevenshtein(e(0), e(1), e(2))),
    ("graft_nfc", e => NfcNormalize(e(0))),
    ("graft_skeleton", e => ConfusableSkeleton(e(0))),
    ("graft_minhash_sig", e => MinHashSignature(e(0))),
    ("graft_sq8", e => Sq8Codes(e(0))),
    ("graft_gram_hashes", e =>
      GramHashes(e(0), intLiteral("graft_gram_hashes(words, n)", e(1)))),
    ("graft_md5_prefix", e =>
      Md5Prefix(e(0), intLiteral("graft_md5_prefix(s, n)", e(1)))))
}
