package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Banded (bounded) Levenshtein distance: `min(levenshtein(a, b), k + 1)` in
  * O(k·min(n,m)) time instead of the built-in's O(n·m).
  *
  * Dedup verification never cares about the exact distance of far-apart pairs
  * — only whether a candidate is within an edit budget k (and the exact value
  * when it is). The banded DP evaluates only the |i − j| ≤ k diagonal band and
  * exits early on a length-difference > k, so per-pair cost scales with the
  * BUDGET, not the text: at prefix length 160 and k = 8 that is ~20× fewer
  * cells than the full matrix the built-in fills. The built-in cannot express
  * this (no bound parameter), which is the SURVEY §7.3 justification for a
  * custom scalar Expression — option (b), same tier as [[DotProduct]].
  *
  * Exactness contract (what the oracle checks): for any inputs,
  * `graft_bounded_lev(a, b, k) == least(levenshtein(a, b), k + 1)` — exact
  * distances ≤ k, the sentinel k+1 beyond. Distances are over UTF-16 code
  * units (identical to code points for all BMP text; the corpus fixtures are
  * ASCII).
  *
  * Null handling: any null input → null (TernaryExpression default).
  */
case class BoundedLevenshtein(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == StringType && second.dataType == StringType &&
        third.dataType == IntegerType && third.foldable)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_bounded_lev requires (string, string, foldable int bound), got " +
        s"(${first.dataType}, ${second.dataType}, ${third.dataType})")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_bounded_lev"

  override def nullSafeEval(a: Any, b: Any, k: Any): Any =
    GraftStrings.boundedLev(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // one static call — the banded DP stays a single JIT-compiled method and
    // the expression stays inside whole-stage codegen (no boxing, no
    // interpreted fallback); same shape as Spark's own levenshtein
    nullSafeCodeGen(ctx, ev, (a, b, k) =>
      s"${ev.value} = graft.functions.GraftStrings.boundedLev($a, $b, $k);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Unicode NFC canonicalization of a string column — the normalization pass
  * a 100 TB text pipeline runs BEFORE fingerprinting/dedup/tokenization:
  * composed ("é") and decomposed ("e" + U+0301) spellings of the same text
  * hash differently, so without canonicalization exact dedup silently misses
  * byte-distinct/canonically-equal duplicates and the tokenizer learns two
  * vocabularies for one grapheme. Spark ships no NFC function (SQL `lower`/
  * `translate` cannot express composition), which is the SURVEY §7.3
  * justification for a custom scalar Expression — option (b), same tier as
  * [[BoundedLevenshtein]].
  *
  * Semantics: `java.text.Normalizer.normalize(s, NFC)` — the JDK implements
  * the Unicode canonical-composition algorithm, the same spec DuckDB's
  * `nfc_normalize` implements, so the oracle can verify outputs
  * character-for-character. Null → null (UnaryExpression default); a
  * fast-path `isNormalized` check skips allocation for the (dominant)
  * already-NFC case.
  */
case class NfcNormalize(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_nfc requires a string input, got ${child.dataType}")

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(s: Any): Any =
    GraftStrings.nfc(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.GraftStrings.nfc($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Spark 3.5's `initcap`: `UTF8String.toLowerCase()` then `toTitleCase()`,
  * per code point through the JDK, which is also Spark 4's non-ICU path
  * (`CollationSupport.InitCap.execBinary`). Spark 4's default ICU path
  * builds a title-case table over every code point the first time a JVM
  * calls it; [[graft.engine.Silver]] states where the two differ. Null →
  * null; codegen is one call, inside whole-stage codegen. */
case class LowerTitleCase(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_initcap requires a string input, got ${child.dataType}")

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_initcap"

  override def nullSafeEval(s: Any): Any =
    s.asInstanceOf[UTF8String].toLowerCase().toTitleCase()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $s.toLowerCase().toTitleCase();")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Homoglyph skeleton of a string column — the anti-evasion normalization
  * pass layered ON TOP of [[NfcNormalize]]: cross-script homoglyph
  * substitution (Cyrillic 'а' U+0430 for Latin 'a') defeats every
  * shingle/MinHash/SimHash dedup signal because the signals see distinct
  * codepoints, so a skeleton key — NFKC, then ROOT-locale lowercase, then a
  * curated UTS #39 confusables subset mapped to Latin — is what exact and
  * near dedup should group on for adversarial corpora. NFKC (not NFC)
  * additionally folds compatibility variants: fullwidth 'ａ' U+FF41,
  * ligature 'ﬁ' U+FB01, circled digits — the forms spam uses to dodge
  * filters.
  *
  * The confusables table is deliberately explicit and small (Cyrillic
  * а е о р с у х і ј ѕ ԁ һ, Greek ο ν ρ) so an oracle can mirror it with a
  * `translate`; the full UTS #39 table is a data-file swap, not a design
  * change. Same custom-Expression justification as [[NfcNormalize]]: SQL
  * translate cannot express NFKC composition, and the JDK Normalizer is the
  * reference implementation. Null → null; codegen is one static call, so
  * the expression stays inside whole-stage codegen. */
case class ConfusableSkeleton(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_skeleton requires a string input, got ${child.dataType}")

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_skeleton"

  override def nullSafeEval(s: Any): Any =
    GraftStrings.skeleton(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.GraftStrings.skeleton($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GraftStrings {

  /** Curated confusables → Latin (lowercase input; uppercase homoglyphs are
    * handled by the lowercase step before this map runs). */
  private def confusableToLatin(c: Char): Char = c match {
    case 'а' => 'a' // Cyrillic а
    case 'е' => 'e' // Cyrillic е
    case 'о' => 'o' // Cyrillic о
    case 'р' => 'p' // Cyrillic р
    case 'с' => 'c' // Cyrillic с
    case 'у' => 'y' // Cyrillic у
    case 'х' => 'x' // Cyrillic х
    case 'і' => 'i' // Cyrillic і
    case 'ј' => 'j' // Cyrillic ј
    case 'ѕ' => 's' // Cyrillic ѕ
    case 'ԁ' => 'd' // Cyrillic ԁ
    case 'һ' => 'h' // Cyrillic һ
    case 'ο' => 'o' // Greek ο
    case 'ν' => 'v' // Greek ν
    case 'ρ' => 'p' // Greek ρ
    case other => other
  }

  /** NFKC → ROOT-locale lowercase → confusables map; allocation-free when
    * the input is already its own skeleton (the dominant clean-ASCII case:
    * NFKC quick-check passes and the char scan finds nothing to change). */
  def skeleton(s: UTF8String): UTF8String = {
    val str = s.toString
    val nfkc =
      if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFKC)) str
      else java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFKC)
    val lower = nfkc.toLowerCase(java.util.Locale.ROOT)
    var changed = !(lower eq str)
    val chars = lower.toCharArray
    var i = 0
    while (i < chars.length) {
      val m = confusableToLatin(chars(i))
      if (m != chars(i)) { chars(i) = m; changed = true }
      i += 1
    }
    if (!changed) s else UTF8String.fromString(new String(chars))
  }

  /** NFC-normalize, allocation-free when the input is already normalized
    * (checked with the JDK's quick-check). */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** `min(levenshtein(a, b), k + 1)` via the classic banded DP: only cells
    * with |i − j| ≤ k are evaluated (a valid alignment with ≤ k edits cannot
    * leave that band), everything outside reads as k+1. Negative k is treated
    * as 0 (the only sensible clamp: equal strings → 0, anything else → 1). */
  // Reused DP rows for [[boundedLev]] (thread-local, grown on demand —
  // the same amortized-allocation discipline as graft_md5_prefix's
  // thread-local digest): the verifier runs millions of times per query
  // on candidate streams, and per-call row allocation was measurable GC
  // traffic at q155's 2.4 M calls.
  private val levPrev = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = new Array[Int](64)
  }
  private val levCur = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = new Array[Int](64)
  }
  private def levRow(tl: ThreadLocal[Array[Int]], n: Int): Array[Int] = {
    var a = tl.get()
    if (a.length < n) { a = new Array[Int](Integer.highestOneBit(n - 1) << 1); tl.set(a) }
    a
  }

  def boundedLev(ua: UTF8String, ub: UTF8String, bound: Int): Int = {
    // ASCII fast path (r14 optimization pass): the char-array path below
    // pays a UTF-8 decode plus 4-6 allocations per call — at q155's 2.4 M
    // verifier calls that was ~2/3 of the query (probe: the lev filter
    // added 1.6 s over the bare candidate join). For all-ASCII inputs
    // bytes ARE chars, so the identical banded DP runs zero-copy over
    // UTF8String.getByte with thread-local rows. Non-ASCII inputs take the
    // original char path — bit-identical either way (PropertySpec pins
    // graft_bounded_lev == least(levenshtein, k+1) on random strings
    // including non-ASCII).
    val na = ua.numBytes; val nb = ub.numBytes
    var ascii = true
    var i = 0
    while (ascii && i < na) { if ((ua.getByte(i) & 0x80) != 0) ascii = false; i += 1 }
    i = 0
    while (ascii && i < nb) { if ((ub.getByte(i) & 0x80) != 0) ascii = false; i += 1 }
    if (ascii) return boundedLevAscii(ua, ub, bound)
    boundedLevChars(ua, ub, bound)
  }

  private def boundedLevAscii(ua: UTF8String, ub: UTF8String, bound: Int): Int = {
    val k = math.max(bound, 0)
    val swap = ua.numBytes > ub.numBytes
    val s = if (swap) ub else ua
    val t = if (swap) ua else ub
    val n0 = s.numBytes
    val m0 = t.numBytes
    // common prefix/suffix trim — the r13 identity lev(p·x·q, p·y·q) = lev(x, y)
    var pre = 0
    while (pre < n0 && s.getByte(pre) == t.getByte(pre)) pre += 1
    var se = n0; var te = m0
    while (se > pre && te > pre && s.getByte(se - 1) == t.getByte(te - 1)) {
      se -= 1; te -= 1
    }
    val n = se - pre
    val m = te - pre
    val inf = k + 1
    if (m - n > k) return inf
    val prev = levRow(levPrev, n + 1)
    val cur = levRow(levCur, n + 1)
    var i = 0
    while (i <= n) { prev(i) = math.min(i, inf); i += 1 }
    var j = 1
    while (j <= m) {
      cur(0) = math.min(j, inf)
      val tj = t.getByte(pre + j - 1)
      val lo = math.max(1, j - k)
      val hi = math.min(n, j + k)
      var x = 1
      while (x < lo) { cur(x) = inf; x += 1 }
      x = lo
      while (x <= hi) {
        val cost = if (s.getByte(pre + x - 1) == tj) 0 else 1
        var v = prev(x - 1) + cost
        if (prev(x) + 1 < v) v = prev(x) + 1
        if (cur(x - 1) + 1 < v) v = cur(x - 1) + 1
        cur(x) = math.min(v, inf)
        x += 1
      }
      while (x <= n) { cur(x) = inf; x += 1 }
      System.arraycopy(cur, 0, prev, 0, n + 1)
      j += 1
    }
    math.min(prev(n), inf)
  }

  private def boundedLevChars(ua: UTF8String, ub: UTF8String, bound: Int): Int = {
    val k = math.max(bound, 0)
    var s = ua.toString.toCharArray
    var t = ub.toString.toCharArray
    if (s.length > t.length) { val tmp = s; s = t; t = tmp }
    // Common prefix/suffix TRIM before the DP (r13 optimization pass; exact
    // — lev(p·x·q, p·y·q) = lev(x, y), the standard identity): entity keys
    // in the wild share long constant heads ("Customer#…", URL hosts,
    // zero-padded ids), and the q155 probe measured 2.4 M verifier calls at
    // sf0.1 whose 18-char inputs differ in a ≤ 6-char middle — the DP band
    // was spending > 2/3 of its cells re-matching identical text. Trimming
    // is O(len) scans against O(k·len) DP cells saved.
    var pre = 0
    val maxPre = s.length
    while (pre < maxPre && s(pre) == t(pre)) pre += 1
    var sufS = s.length
    var sufT = t.length
    while (sufS > pre && sufT > pre && s(sufS - 1) == t(sufT - 1)) {
      sufS -= 1; sufT -= 1
    }
    if (pre > 0 || sufS < s.length) {
      s = java.util.Arrays.copyOfRange(s, pre, sufS)
      t = java.util.Arrays.copyOfRange(t, pre, sufT)
    }
    val n = s.length
    val m = t.length
    val inf = k + 1
    if (m - n > k) return inf
    val prev = new Array[Int](n + 1)
    val cur = new Array[Int](n + 1)
    var i = 0
    while (i <= n) { prev(i) = math.min(i, inf); i += 1 }
    var j = 1
    while (j <= m) {
      cur(0) = math.min(j, inf)
      val lo = math.max(1, j - k)
      val hi = math.min(n, j + k)
      var x = 1
      while (x < lo) { cur(x) = inf; x += 1 }
      x = lo
      while (x <= hi) {
        val cost = if (s(x - 1) == t(j - 1)) 0 else 1
        var v = prev(x - 1) + cost
        if (prev(x) + 1 < v) v = prev(x) + 1
        if (cur(x - 1) + 1 < v) v = cur(x - 1) + 1
        cur(x) = math.min(v, inf)
        x += 1
      }
      while (x <= n) { cur(x) = inf; x += 1 }
      System.arraycopy(cur, 0, prev, 0, n + 1)
      j += 1
    }
    math.min(prev(n), inf)
  }
}

/** The integer value of the first `nHex` hex chars of `md5(s)` — the engine's
  * content-addressed hash primitive, as ONE native codegen expression:
  * `graft_md5_prefix(s, n) == conv(substring(md5(s), 1, n), 16, 10)` cast to
  * BIGINT, for 1 ≤ n ≤ 15 (≤ 60 bits, positive in a signed BIGINT in both
  * engines).
  *
  * Why an expression when the composed form exists (r13 optimization pass,
  * guide step 4 — eliminate per-row overhead in the hot map stages): the
  * composed pipeline pays, per row, a fresh MessageDigest allocation
  * (commons-codec `md5Hex`), a 32-char hex ENCODE of the full digest, a
  * substring slice, and `conv`'s generic radix parse — all to extract bits
  * the digest already holds. This expression reuses a thread-local digest
  * and reads the top 4·n bits straight off the digest bytes. Profiled at
  * sf0.1 on the shingle-mass queries (q74's 3-positions-per-shingle scan was
  * a 1.6 s single stage): the digest itself is the only remaining per-row
  * cost.
  *
  * Exactness: the first n hex chars of the lowercase digest encoding are
  * exactly the top 4·n bits of the digest read big-endian — pinned against
  * the composed form in `FunctionsSpec` (ASCII, multi-byte UTF-8, empty
  * string). MD5 is hashed over the UTF-8 bytes, same as Spark's `md5`.
  * Null → null (UnaryExpression default). The md5 base (not xxhash) is the
  * repo-wide oracle contract: DuckDB recomputes identical values.
  */
case class Md5Prefix(child: Expression, nHex: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && nHex >= 1 && nHex <= 15)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_md5_prefix requires (string, int literal in [1,15]), got " +
        s"(${child.dataType}, $nHex)")

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_md5_prefix"

  def hash(s: UTF8String): Long = {
    val md = Md5Prefix.digests.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < nHex) {
      val b = d(i >> 1) & 0xff
      v = (v << 4) | (if ((i & 1) == 0) b >>> 4 else b & 0xf)
      i += 1
    }
    v
  }

  override def nullSafeEval(s: Any): Any = hash(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("md5Prefix", this, classOf[Md5Prefix].getName)
    defineCodeGen(ctx, ev, s => s"$self.hash($s)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Prefix {
  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
}
