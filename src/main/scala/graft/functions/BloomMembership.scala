package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}

/** Bloom-filter membership test over a broadcast sketch
  * ([[Native.mightContain]]): true iff the long key MIGHT be in
  * the key set the sketch was built from — no false negatives, tunable false
  * positives.
  *
  * This is the scale lever behind [[graft.engine.RelOps.bloomPredicate]]:
  * a semi-join whose build side outgrows the broadcast guard otherwise falls
  * back to a shuffled join that moves the ENTIRE probe stream — for q227's
  * repeat-span candidates that fallback re-shuffled the full corpus gram
  * stream (~20 GB at 15 M docs) right after the counting exchange had
  * already paid the same mass, and the round-11 sf300 probe filled the disk
  * in exactly that pair of exchanges. A 40 M-key sketch at 0.1% fpp is
  * ~70 MB: it rides a torrent broadcast (the expression holds only the
  * `Broadcast` handle; tasks pull the bytes once per executor, exactly like
  * a broadcast-hash-join build side) and the probe stream never moves.
  *
  * Exactness contract: callers must tolerate false POSITIVES (here: extra
  * candidate positions that a later exact string verification discards).
  * False negatives cannot occur, so no true member is ever lost — the
  * soundness half that matters.
  *
  * The expression is built as a typed Column ([[Native]]), not a SQL
  * function: a SQL call cannot carry the broadcast, and the expression
  * instance holding it is self-contained (cluster-safe). */
case class BloomMightContainLong(child: Expression,
    bc: Broadcast[Array[Byte]]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_contains requires a bigint key, got $t")
  }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  @transient private lazy val bf =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bc.value))

  def test(v: Long): Boolean = bf.mightContainLong(v)

  override def nullSafeEval(v: Any): Any = test(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bloomContains", this,
      classOf[BloomMightContainLong].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.test($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Surviving 1-based POSITIONS of a long array under a Bloom membership
  * test ([[Native.positions]]): one tight codegen loop
  * per row, returning the indices whose element MIGHT be in the sketch's
  * key set.
  *
  * The array-at-once form of [[BloomMightContainLong]] for the in-row
  * candidate-pruning pattern (q227): testing each position through a
  * `filter(sequence(...), i -> graft_bloom_contains(element_at(...)))`
  * lambda runs INTERPRETED — boxed index, expression-tree eval, ~2.6·10⁸
  * lambda evaluations per corpus pass at sf100 dominated the query (the
  * hash production itself is codegen via [[GramHashes]]). Here the loop
  * body is two virtual calls on primitives; the caller then builds gram
  * strings only for the (dup-mass) survivors. */
case class BloomPositions(child: Expression,
    bc: Broadcast[Array[Byte]]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_positions requires array<bigint> input, got $t")
  }
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "graft_bloom_positions"

  @transient private lazy val bf =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bc.value))

  def positions(hs: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = hs.numElements()
    val tmp = new Array[Int](n)
    var out = 0
    var i = 0
    while (i < n) {
      if (bf.mightContainLong(hs.getLong(i))) { tmp(out) = i + 1; out += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(tmp, out))
  }

  override def nullSafeEval(hs: Any): Any =
    positions(hs.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bloomPositions", this,
      classOf[BloomPositions].getName)
    nullSafeCodeGen(ctx, ev, hs => s"${ev.value} = $self.positions($hs);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** EXACT bitmap membership test over a broadcast bit array
  * ([[Native.bitmapContains]]): true iff bit `pos` is set.
  *
  * The exact-filter sibling of [[BloomMightContainLong]] for the case where
  * the filter's bit space is FIXED and small by construction — q74's
  * Bloom-decontamination filter is `mBits` bits (8 KB at the default 65536)
  * no matter how large the corpus or benchmark grows, so the set-position
  * table can ride an ordinary broadcast and the membership test becomes a
  * per-row bit probe instead of a positions-explode + broadcast JOIN + a
  * (doc, shingle)-keyed re-aggregation (r13 optimization pass; guide §2.3
  * "shuffle fewer bytes" / §2.4 "remove shuffles outright" — the explode
  * tripled the corpus shingle stream and the re-aggregation exchanged it on
  * a 25-char string key, all to recover per-row information a bit test
  * yields in place). Unlike the Bloom sketch this is EXACT — the bitmap IS
  * the filter the oracle recomputes, bit for bit. */
case class BitmapContainsLong(child: Expression,
    bc: Broadcast[Array[Byte]]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_bitmap_contains requires a bigint position, got $t")
  }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bitmap_contains"

  def test(v: Long): Boolean = {
    val bytes = bc.value
    // range-check on the LONG before truncating: the probe takes any
    // bigint column, and `v.toInt` first would alias positions >= 2^32 into
    // the valid range — a false positive for out-of-range input (round-13
    // ADVICE)
    v >= 0L && v < bytes.length.toLong * 8L && {
      val p = v.toInt
      ((bytes(p >> 3) >> (p & 7)) & 1) == 1
    }
  }

  override def nullSafeEval(v: Any): Any = test(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("bitmapContains", this,
      classOf[BitmapContainsLong].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.test($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
