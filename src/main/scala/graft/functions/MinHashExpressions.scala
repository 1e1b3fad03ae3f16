package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature of a shingle array as ONE narrow projection — the
  * SQL function `minhash_signature(array<string>, numHashes)`.
  *
  * The composable pipeline (explode distinct shingles → groupBy(doc) with
  * numHashes min(xxhash64(seed, s)) aggregates) shuffles one row per
  * (doc, shingle) — millions of rows whose only purpose is to be
  * min-reduced right back to one row per document. This expression
  * computes the same signature per document inside the scan projection:
  * no explode, no shuffle. The dedup pipeline itself hashes its word
  * shingles straight from the text with [[ShingleMinHash]], which shares
  * this expression's per-slot seeds and min-hash inner loop.
  *
  * Hash parity: slot j of the signature is exactly
  * `min(xxhash64(lit(j), shingle))` — the per-slot seed is Spark's own
  * XxHash64 chain (seed 42 → int j → string), via XxHash64Function, so
  * signatures are bit-identical to the aggregate form and independent of
  * partitioning/cluster size.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
  extends UnaryExpression {

  require(numHashes >= 1, "numHashes must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string> input")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  // per-slot seeds: xxhash64's fold of (42, j) — precomputed once
  @transient private lazy val seeds: Array[Long] =
    MinHashSignature.slotSeeds(numHashes)

  // null for an empty (or all-null) shingle set — the aggregate reference
  // form emits NO signature row for such docs; an all-MaxValue signature
  // would instead make every empty doc collide in every LSH band
  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    MinHashSignature.compute(input.asInstanceOf[ArrayData], seeds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("minhashSeeds", seeds, "long[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |${ev.value} = graft.functions.MinHashSignature.compute($a, $seedsRef);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {

  private[functions] def slotSeeds(numHashes: Int): Array[Long] =
    Array.tabulate(numHashes)(j =>
      XxHash64Function.hash(j, IntegerType, 42L))

  /** Per-slot minima initialised to Long.MaxValue. */
  private[functions] def emptyMins(numHashes: Int): Array[Long] = {
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    mins
  }

  /** Folds one shingle — `len` bytes at `base`+`offset` — into the running
    * per-slot minima: the one min-hash inner loop, shared by this
    * expression and [[ShingleMinHash]]. `XXH64.hashUnsafeBytes` over a
    * string's bytes is what Spark's xxhash64 computes for that string. */
  private[functions] def foldMins(mins: Array[Long], seeds: Array[Long],
                                  base: AnyRef, offset: Long, len: Int): Unit = {
    var j = 0
    while (j < seeds.length) {
      val h = XXH64.hashUnsafeBytes(base, offset, len, seeds(j))
      if (h < mins(j)) mins(j) = h
      j += 1
    }
  }

  /** Loops live here as JIT-compiled Scala, invoked from generated code —
    * one virtual call per row, still inside whole-stage codegen.
    * Returns null when no non-null shingle exists (see nullable note). */
  def compute(arr: ArrayData, seeds: Array[Long]): ArrayData = {
    val mins = emptyMins(seeds.length)
    var i = 0
    var any = false
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        val s = arr.getUTF8String(i)
        foldMins(mins, seeds, s.getBaseObject, s.getBaseOffset, s.numBytes)
      }
      i += 1
    }
    if (any) UnsafeArrayData.fromPrimitiveArray(mins) else null
  }
}

/** Word k-shingle MinHash kernel over a text column: hashes every shingle
  * straight from the text's UTF-8 bytes in one pass, with no per-shingle
  * string, array or lambda.
  *
  * Shingle rule: the tokens are what `split(text, " ")` yields — the
  * segments between single spaces, so doubled, leading or trailing
  * spaces give empty tokens — and shingle i is
  * `concat_ws(" ", slice(tokens, i, k))` for i in 1..max(#tokens − k + 1, 1):
  * a text of fewer than k words is one shingle, the whole text. Because
  * the tokens were separated by exactly one space, that string is
  * byte-for-byte the range of the original text from token i's first
  * byte to token i+k−1's last, so each shingle is hashed as a byte range
  * of the input and every hash equals Spark's xxhash64 of the composed
  * string (for valid UTF-8 text; `split` decodes, so invalid bytes would
  * differ). A null text is the composable form's null: one empty shingle.
  *
  * Emits, per row (non-null):
  *  - `numHashes` > 0, `withSet` false: the MinHash signature
  *    array<long>, slot j = min(xxhash64(lit(j), shingle)) — the seeds of
  *    [[MinHashSignature]];
  *  - `numHashes` = 0, `withSet` true: the sorted distinct shingle-hash
  *    set array<long> (xxhash64, seed 42), the exact-Jaccard payload;
  *  - both: struct<sig, shingle_set>, one tokenisation for both.
  * Each mode's name starts or ends with the name of what it computes
  * (`minhash_signature`, `shingle_set`), so plan guards can count them.
  */
case class ShingleMinHash(child: Expression, shingleK: Int, numHashes: Int, withSet: Boolean)
  extends UnaryExpression {

  require(shingleK >= 1, "shingleK must be >= 1")
  require(numHashes >= 0, "numHashes must be >= 0")
  require(numHashes > 0 || withSet, "emits nothing: numHashes = 0 and no shingle set")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      // a collated string hashes its collation key, not its bytes
      case st: StringType if st.collationId == StringType.collationId =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires binary-collated string input")
    }

  override def dataType: DataType = {
    val longs = ArrayType(LongType, containsNull = false)
    if (numHashes == 0 || !withSet) longs
    else StructType(Seq(
      StructField("sig", longs, nullable = false),
      StructField("shingle_set", longs, nullable = false)))
  }
  override def prettyName: String =
    if (numHashes == 0) "shingle_set"
    else if (withSet) "minhash_signature_shingle_set"
    else "minhash_signature"
  override def nullable: Boolean = false

  @transient private lazy val seeds: Array[Long] = MinHashSignature.slotSeeds(numHashes)

  override def eval(input: InternalRow): Any =
    ShingleMinHash.compute(child.eval(input).asInstanceOf[UTF8String], shingleK, seeds, withSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val text = child.genCode(ctx)
    val seedsRef = ctx.addReferenceObj("minhashSeeds", seeds, "long[]")
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${text.code}
      $javaType ${ev.value} = ($javaType) graft.functions.ShingleMinHash.compute(
        ${text.isNull} ? null : ${text.value}, $shingleK, $seedsRef, $withSet);
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleMinHash {

  /** The kernel: one walk over `text`'s bytes. A ring of the last k token
    * starts gives each window's first byte when its last token ends.
    * Returns the signature (ArrayData), the set (ArrayData) or both
    * (InternalRow), as [[ShingleMinHash]] describes. */
  def compute(text: UTF8String, k: Int, seeds: Array[Long], withSet: Boolean): AnyRef = {
    val s = if (text == null) UTF8String.EMPTY_UTF8 else text
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val acc = new Shingles(seeds, withSet)
    val starts = new Array[Int](k)
    var tokens = 0
    var tokenStart = 0
    var i = 0
    while (i <= n) {
      if (i == n || Platform.getByte(base, off + i) == ' ') {
        // token number `tokens` spans [tokenStart, i)
        starts(tokens % k) = tokenStart
        tokens += 1
        if (tokens >= k) {
          val from = starts(tokens % k)
          acc.add(base, off + from, i - from)
        }
        tokenStart = i + 1
      }
      i += 1
    }
    if (tokens < k) acc.add(base, off, n)
    acc.result()
  }

  /** One row's signature minima and shingle hashes. */
  private final class Shingles(seeds: Array[Long], withSet: Boolean) {
    private val mins = if (seeds.isEmpty) null else MinHashSignature.emptyMins(seeds.length)
    private var set = if (withSet) new Array[Long](16) else null
    private var size = 0

    def add(base: AnyRef, offset: Long, len: Int): Unit = {
      if (mins != null) MinHashSignature.foldMins(mins, seeds, base, offset, len)
      if (set != null) {
        if (size == set.length) set = java.util.Arrays.copyOf(set, size * 2)
        set(size) = XXH64.hashUnsafeBytes(base, offset, len, 42L) // xxhash64(s)
        size += 1
      }
    }

    def result(): AnyRef = {
      val sig = if (mins == null) null else UnsafeArrayData.fromPrimitiveArray(mins)
      if (set == null) return sig
      java.util.Arrays.sort(set, 0, size)
      var distinct = 0
      var j = 0
      while (j < size) {
        if (distinct == 0 || set(j) != set(distinct - 1)) { set(distinct) = set(j); distinct += 1 }
        j += 1
      }
      val shingleSet = UnsafeArrayData.fromPrimitiveArray(set, Platform.LONG_ARRAY_OFFSET, distinct, 8)
      if (sig == null) shingleSet else InternalRow(sig, shingleSet)
    }
  }
}

object MinHashFunctions {
  /** Signature column: array<long> of numHashes seeded min-hashes. */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(shingles), numHashes))

  /** MinHash signature of `text`'s word k-shingles (see [[ShingleMinHash]]). */
  def shingleSignature(text: Column, shingleK: Int, numHashes: Int): Column =
    shingleMinHash(text, shingleK, numHashes, withSet = false)

  /** Sorted distinct xxhash64 set of `text`'s word k-shingles. */
  def shingleSet(text: Column, shingleK: Int): Column =
    shingleMinHash(text, shingleK, 0, withSet = true)

  /** struct<sig, shingle_set>: both of the above from one tokenisation. */
  def shingleSignatureAndSet(text: Column, shingleK: Int, numHashes: Int): Column =
    shingleMinHash(text, shingleK, numHashes, withSet = true)

  private def shingleMinHash(text: Column, shingleK: Int, numHashes: Int, withSet: Boolean): Column =
    ColumnBridge.column(ShingleMinHash(ColumnBridge.expression(text), shingleK, numHashes, withSet))
}
