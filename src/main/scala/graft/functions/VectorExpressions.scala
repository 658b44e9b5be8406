package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StructType}

/** Native Catalyst expression for the vector-similarity hot path.
  *
  * The composable alternative — `aggregate(zip_with(a, b, (x,y) -> x*y), ...)`
  * — allocates a zipped intermediate array per row and evaluates the lambdas
  * interpreted (higher-order functions don't participate in whole-stage
  * codegen). This expression generates a tight primitive loop instead
  * (`doGenCode`), keeping the |queries| × |corpus| cosine scan inside
  * WholeStageCodegen. Accumulation is sequential left-to-right, matching the
  * HOF form and the DuckDB oracle's list_sum bit-for-bit.
  *
  * Preference order per SURVEY §7.3: built-ins first; this is the one operator
  * where the built-in form measurably loses codegen, so a scalar Expression is
  * justified (option (b) — well short of a custom SparkStrategy).
  *
  * Null handling: null array → null (BinaryExpression default); null *elements*
  * are not expected (embeddings are dense) and read as 0-filled per ArrayData.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires array<double> inputs, got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** [[DotProduct]] over array<bigint> — the integer-domain twin the quantized
  * k-means/SemDeDup family (q188/q189) runs on. Exactness contract: callers
  * bound |component| (≤ 2^11 for unit-ish embeddings at the 2^10 quantization
  * scale), so per-element products stay ≤ 2^22 and the sum ≤ 2^22·dim — far
  * inside long; Java long arithmetic would wrap silently past 2^63, which is
  * why the BOUND, not the type, is the documented safety argument (same
  * discipline as [[graft.engine.Analytics]]' moment-magnitude guard). */
case class LongDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot_long requires array<bigint> inputs, got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dot_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** SQ8 scalar quantization (q86/q98/q106/q144/q148 and the SemDeDup SQ8
  * family): codes[i] = 0 when max(v) = min(v), else
  * CAST(least(floor((v[i] − mn) · 255 / (mx − mn)), 255) AS INT) — the exact
  * integer semantics of the HOF form it replaces
  * (`transform(v, x -> CASE WHEN mx = mn THEN 0 ELSE ...)` with
  * mn = array_min(v), mx = array_max(v)).
  *
  * Why an expression: CollapseProject inlines the mn/mx aliases INTO the
  * transform lambda, and the interpreted lambda then re-evaluates
  * array_min(v)/array_max(v) PER ELEMENT — an O(dim²) per-row tax on top of
  * the interpreted-HOF overhead. The round-10 sf1000 probe caught exactly
  * this: executor stacks parked in ArrayTransform→CaseWhen→ArrayMin with
  * 20-minute tasks. This loop is O(dim) per row, primitive, and stays in
  * WholeStageCodegen. Double arithmetic order matches the HOF form
  * (((x − mn) · 255) / (mx − mn), floor, then the 255 clamp), so codes are
  * bit-identical and every oracle is unchanged.
  *
  * Null handling: null array → null (UnaryExpression default); null
  * ELEMENTS are not expected (embeddings are dense — the [[DotProduct]]
  * contract) and read as 0.0 per ArrayData. Empty array → empty codes,
  * matching transform-over-empty. */
case class Sq8Codes(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_sq8 requires array<double> input, got $t")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_sq8"

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = v.numElements()
    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    var i = 0
    while (i < n) {
      val x = v.getDouble(i)
      if (x < mn) mn = x
      if (x > mx) mx = x
      i += 1
    }
    val out = new Array[Int](n)
    if (mx != mn) {
      val range = mx - mn
      i = 0
      while (i < n) {
        val c = math.floor((v.getDouble(i) - mn) * 255d / range)
        out(i) = (if (c < 255d) c else 255d).toInt
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val mn = ctx.freshName("mn")
      val mx = ctx.freshName("mx")
      val x = ctx.freshName("x")
      val c = ctx.freshName("c")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |double $mn = Double.POSITIVE_INFINITY;
         |double $mx = Double.NEGATIVE_INFINITY;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $a.getDouble($i);
         |  if ($x < $mn) $mn = $x;
         |  if ($x > $mx) $mx = $x;
         |}
         |int[] $out = new int[$n];
         |if ($mx != $mn) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $c = java.lang.Math.floor(($a.getDouble($i) - $mn) * 255D / ($mx - $mn));
         |    $out[$i] = (int) ($c < 255D ? $c : 255D);
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Nearest-centroid argmax for the IVF family (q72/q86): given a vector `v`
  * with norm `nrm` and a FOLDABLE centroid table `cents` (array of structs
  * `(cid: bigint, cv: array<double>, cn: double)` — in practice a `typedlit`
  * of the driver-collected √n centroid sample), returns the cid maximizing
  * cosine `graft_dot(v, cv) / (nrm · cn)`, ties to the LOWEST cid.
  *
  * Why an expression and not a join/aggregate: the relational forms of this
  * argmax materialize n × nlist candidate rows — the round-8 sf10 gate
  * measured the window form at ~660 GB through one exchange, the `max_by`
  * form as a SortAggregate over the same rows (array-typed agg buffers are
  * not HashAggregate-compatible), and the `aggregate()` HOF form pays an
  * interpreted lambda per (row, centroid). This expression keeps the whole
  * scan inside WholeStageCodegen: because `cents` is foldable, it is
  * evaluated ONCE (per executor, lazily) and unpacked into primitive
  * `long[]` / `double[][]` / `double[]` tables, so the generated code is a
  * JIT-friendly nested primitive loop — no per-row allocation, no boxed
  * element access. Same once-per-plan constant-hoisting discipline as the
  * LSH plane literals (file header above).
  *
  * Ordering semantics match the relational forms this replaces: doubles
  * compare in Spark's TOTAL order (NaN greatest; ±0.0 equal — compared via
  * `Double.compare` after canonicalizing -0.0, exactly SQLOrderingUtil), and
  * equal cosines break to the lower cid — the oracle's
  * `ORDER BY ccos DESC, centroid_id`. An EMPTY centroid table returns -1;
  * callers guard with a loud `require` (a seedless corpus is a data bug, not
  * a plan state — same contract as the k-means seed guard). */
case class ArgMaxCell(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val vOk = first.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val centsOk = third.dataType match {
      case ArrayType(StructType(Array(f0, f1, f2)), _) =>
        f0.dataType == LongType &&
          (f1.dataType match { case ArrayType(DoubleType, _) => true; case _ => false }) &&
          f2.dataType == DoubleType
      case _ => false
    }
    if (!vOk || second.dataType != DoubleType || !centsOk)
      TypeCheckResult.TypeCheckFailure(
        "graft_argmax_cell requires (array<double>, double, " +
          s"array<struct<bigint, array<double>, double>>), got " +
          s"(${first.dataType}, ${second.dataType}, ${third.dataType})")
    else if (!third.foldable)
      TypeCheckResult.TypeCheckFailure(
        "graft_argmax_cell requires a foldable (literal) centroid table")
    else TypeCheckResult.TypeCheckSuccess
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_argmax_cell"

  /** The literal centroid table unpacked to primitives — once per executor
    * (@transient lazy; the serialized expression carries only the literal). */
  @transient private lazy val table: (Array[Long], Array[Array[Double]], Array[Double]) = {
    val arr = third.eval(null).asInstanceOf[ArrayData]
    val m = arr.numElements()
    val cids = new Array[Long](m)
    val cvs = new Array[Array[Double]](m)
    val cns = new Array[Double](m)
    var i = 0
    while (i < m) {
      val row = arr.getStruct(i, 3)
      cids(i) = row.getLong(0)
      cvs(i) = row.getArray(1).toDoubleArray()
      cns(i) = row.getDouble(2)
      i += 1
    }
    (cids, cvs, cns)
  }

  /** The primitive argmax loop shared by eval and the generated code. */
  def argmax(v: ArrayData, nrm: Double): Long = {
    val (cids, cvs, cns) = table
    val vArr = v.toDoubleArray()
    var bestS = Double.NegativeInfinity
    var bestC = -1L
    var found = false
    var i = 0
    while (i < cids.length) {
      val cv = cvs(i)
      val n = math.min(vArr.length, cv.length)
      var dot = 0.0
      var j = 0
      while (j < n) { dot += vArr(j) * cv(j); j += 1 }
      var s = dot / (nrm * cns(i))
      if (s == 0.0) s = 0.0 // canonicalize -0.0 (SQLOrderingUtil semantics)
      val cmp = java.lang.Double.compare(s, bestS)
      if (!found || cmp > 0 || (cmp == 0 && cids(i) < bestC)) {
        bestS = s; bestC = cids(i); found = true
      }
      i += 1
    }
    bestC
  }

  override def nullSafeEval(v: Any, nrm: Any, cents: Any): Any =
    argmax(v.asInstanceOf[ArrayData], nrm.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, nrm, _) => {
      // the expression instance rides along as a reference object; the
      // generated loop calls the same primitive argmax the interpreter uses
      // (one virtual call per ROW, primitive loops inside — the per-element
      // work is identical to inlining and stays allocation-free)
      val self = ctx.addReferenceObj("argmaxCell", this,
        classOf[ArgMaxCell].getName)
      s"${ev.value} = $self.argmax($v, $nrm);"
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Nearest-centroid argmin for k-means TRAINING (q188/q189's Lloyd rounds):
  * given a quantized vector `q` (array<bigint>) and a FOLDABLE centroid table
  * `cents` (array of structs `(cid: bigint, cq: array<bigint>)` — a
  * `Literal.create` of the driver-collected per-round centroids), returns the
  * cid minimizing the EXACT integer squared L2 distance Σ(qᵢ−cᵢ)², ties to
  * the LOWEST cid — the oracle's `ORDER BY dist, cid`.
  *
  * The integer sibling of [[ArgMaxCell]], and it exists for the same measured
  * reason: the round-8 sf100 gate caught the typed-array HOF form
  * (`array_min(transform(cents, c -> named_struct(...)))`) evaluating an
  * INTERPRETED lambda per (row, centroid) — at 2 M vectors × 32.8 k centroids
  * that was ~10¹⁰ boxed struct allocations, ~57 minutes PER Lloyd round on 32
  * cores. This expression runs the whole argmin as a JIT-friendly nested
  * primitive loop inside WholeStageCodegen: the foldable table is unpacked
  * once per executor into `long[]`/`long[][]`, one virtual call per row, zero
  * allocation per centroid.
  *
  * Exactness: components are bounded by |v|·2¹⁰ (KmScale), so each diff² ≤
  * 2²⁴ and the dim-length sum stays far inside Long — bit-identical to the
  * oracle's `list_sum((z1-z2)²)`. Mismatched lengths truncate to the shorter
  * (callers enforce uniform dims with fail-loud checks). An EMPTY table
  * returns -1; callers guard with a loud `require` (a seedless corpus is a
  * data bug, not a plan state). */
case class ArgMinCellL2(first: Expression, second: Expression)
    extends BinaryExpression {

  override def left: Expression = first
  override def right: Expression = second

  override def checkInputDataTypes(): TypeCheckResult = {
    val qOk = first.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    val centsOk = second.dataType match {
      case ArrayType(StructType(Array(f0, f1)), _) =>
        f0.dataType == LongType &&
          (f1.dataType match { case ArrayType(LongType, _) => true; case _ => false })
      case _ => false
    }
    if (!qOk || !centsOk)
      TypeCheckResult.TypeCheckFailure(
        "graft_argmin_cell requires (array<bigint>, " +
          s"array<struct<bigint, array<bigint>>>), got " +
          s"(${first.dataType}, ${second.dataType})")
    else if (!second.foldable)
      TypeCheckResult.TypeCheckFailure(
        "graft_argmin_cell requires a foldable (literal) centroid table")
    else TypeCheckResult.TypeCheckSuccess
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_argmin_cell"

  /** The literal centroid table unpacked to primitives — once per executor
    * (@transient lazy; the serialized expression carries only the literal). */
  @transient private lazy val table: (Array[Long], Array[Array[Long]]) = {
    val arr = second.eval(null).asInstanceOf[ArrayData]
    val m = arr.numElements()
    val cids = new Array[Long](m)
    val cqs = new Array[Array[Long]](m)
    var i = 0
    while (i < m) {
      val row = arr.getStruct(i, 2)
      cids(i) = row.getLong(0)
      cqs(i) = row.getArray(1).toLongArray()
      i += 1
    }
    (cids, cqs)
  }

  /** The primitive argmin loop shared by eval and the generated code. */
  def argmin(q: ArrayData): Long = {
    val (cids, cqs) = table
    val qa = q.toLongArray()
    var bestD = Long.MaxValue
    var bestC = -1L
    var found = false
    var i = 0
    while (i < cids.length) {
      val c = cqs(i)
      val n = math.min(qa.length, c.length)
      var d = 0L
      var j = 0
      while (j < n) { val t = qa(j) - c(j); d += t * t; j += 1 }
      if (!found || d < bestD || (d == bestD && cids(i) < bestC)) {
        bestD = d; bestC = cids(i); found = true
      }
      i += 1
    }
    bestC
  }

  override def nullSafeEval(q: Any, cents: Any): Any =
    argmin(q.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, _) => {
      val self = ctx.addReferenceObj("argminCell", this,
        classOf[ArgMinCellL2].getName)
      s"${ev.value} = $self.argmin($q);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(first = newLeft, second = newRight)
}

object VectorExpressions {
  /** Register the engine's native functions ([[GraftExtensions.functions]])
    * in the session's function registry so plans (and SQL) can call them,
    * plus the float-specialization optimizer rule; all idempotent. (Cluster
    * deployments get the same via [[GraftExtensions]].) */
  def register(spark: SparkSession): Unit = {
    // once per session: sessions built with GraftExtensions (or an earlier
    // register call) already carry the functions, and re-registering floods
    // every log with SimpleFunctionRegistry replace warnings
    if (spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot"))) return
    GraftExtensions.functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
    if (!spark.experimental.extraOptimizations.contains(SpecializeFloatDot))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ SpecializeFloatDot
  }
}

/** Specialization of [[DotProduct]] for raw float arrays: reads elements with
  * getFloat and widens to double inside the loop, skipping the per-row
  * materialization of two casted double arrays. float→double widening is
  * exact, so results are bit-identical to DotProduct(cast(a), cast(b)) — the
  * rewrite in [[graft.functions.SpecializeFloatDot]] is semantics-preserving.
  */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"float_dot requires array<float> inputs, got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_float_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
