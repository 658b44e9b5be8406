package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.Literal

/** The engine's native expressions as typed Columns, built straight from
  * their expression nodes (through [[org.apache.spark.sql.GraftBridge]]):
  * one builder per [[GraftExtensions.functions]] entry, plus the k-means
  * argmin and the broadcast probes, which no SQL call can carry, and the
  * silver cleaners' `initcap`. Engine code builds every native expression
  * here, so it runs in any session; the SQL names in [[GraftExtensions]]
  * exist only for SQL users. */
object Native {

  /** Dot product of two array<float>, array<double> or array<bigint>
    * columns: `double` for float and double elements, `bigint` for bigint
    * ([[DotProduct]]). Dot float embeddings directly; a cast copy is never
    * needed. */
  def dot(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  def sq8(v: Column): Column = column(Sq8Codes(expression(v)))

  /** Cosine-argmax cell of `v` (norm `nrm`) over `cents`, a literal
    * array<struct<cid, cv, cn>> (e.g. `typedlit` of a collected sample). */
  def argmaxCell(v: Column, nrm: Column, cents: Column): Column =
    column(ArgMaxCell(expression(v), expression(nrm), expression(cents)))

  /** Squared-L2-argmin cell of `q` over `cents`, a literal
    * array<struct<cid, cq>>. */
  def argminCell(q: Column, cents: Column): Column =
    column(ArgMinCellL2(expression(q), expression(cents)))

  def boundedLev(a: Column, b: Column, k: Int): Column =
    column(BoundedLevenshtein(expression(a), expression(b), Literal(k)))

  def nfc(s: Column): Column = column(NfcNormalize(expression(s)))

  /** Spark 3.5's `initcap` ([[LowerTitleCase]]); no SQL name, as SQL users
    * have the built-in. */
  def initcap(s: Column): Column = column(LowerTitleCase(expression(s)))

  def skeleton(s: Column): Column = column(ConfusableSkeleton(expression(s)))

  def minhashSig(words: Column): Column = column(MinHashSignature(expression(words)))

  def gramHashes(words: Column, n: Int): Column = column(GramHashes(expression(words), n))

  def md5Prefix(s: Column, n: Int): Column = column(Md5Prefix(expression(s), n))

  /** `key` (bigint) MIGHT be in the sketch's key set. */
  def mightContain(key: Column, bc: Broadcast[Array[Byte]]): Column =
    column(BloomMightContainLong(expression(key), bc))

  /** 1-based positions of `hashes` (array<bigint>) that MIGHT be members. */
  def positions(hashes: Column, bc: Broadcast[Array[Byte]]): Column =
    column(BloomPositions(expression(hashes), bc))

  /** Bit `pos` (bigint) of the broadcast bitmap is set. */
  def bitmapContains(pos: Column, bc: Broadcast[Array[Byte]]): Column =
    column(BitmapContainsLong(expression(pos), bc))
}
