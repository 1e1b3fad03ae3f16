package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StringType}

/** Native Catalyst vector expressions with whole-stage codegen.
  *
  * Spark's higher-order array functions (aggregate/zip_with/transform) are
  * interpreted per element — fine for occasional projections, ruinous in a
  * pairwise similarity join (measured ~100µs/pair vs ~100ns here). These
  * expressions keep the similarity hot path inside generated Java: one
  * fused loop computing dot product and both norms per pair.
  *
  * Numerics deliberately mirror the portable SQL form (per-element
  * float→double cast, left-to-right accumulation) so results bit-match
  * the DuckDB oracle and the higher-order-function reference
  * implementation.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true; case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<float> inputs")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"
  // null on dimension mismatch (mirrors zip_with's null padding in the
  // HOF reference) — truncating to the shorter array would mask
  // upstream bugs with a plausible-looking similarity
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xi = (double) $a.getFloat($i);
         |    double $yi = (double) $b.getFloat($i);
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd dot product over two array<float> columns (double acc). */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true; case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<float> inputs")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  // null on dimension mismatch — see CosineSimilarity
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0; var i = 0
    while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused set-Jaccard over two array<string> columns.
  *
  * The composable form `size(array_intersect(a,b)) / size(array_union(a,b))`
  * builds TWO throwaway result arrays per pair just to count them — in the
  * LSH verify join that is the hot path over every candidate pair. This
  * expression computes both distinct counts in one pass over each array
  * (two hash sets, zero intermediate arrays) and stays inside whole-stage
  * codegen.
  *
  * Semantics mirror the composable form exactly, including duplicate
  * inputs (distinct-count), null elements (a value present in both sides)
  * and the 0/0 → NaN edge, so swapping it in never changes oracle-checked
  * results. */
case class JaccardSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(StringType, _) => true; case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<string> inputs")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_similarity"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val setA = new java.util.HashSet[Any]()
    var i = 0
    while (i < x.numElements()) {
      setA.add(if (x.isNullAt(i)) null else x.getUTF8String(i)); i += 1
    }
    val seenB = new java.util.HashSet[Any]()
    var inter = 0
    i = 0
    while (i < y.numElements()) {
      val e = if (y.isNullAt(i)) null else y.getUTF8String(i)
      if (seenB.add(e) && setA.contains(e)) inter += 1
      i += 1
    }
    val union = setA.size + seenB.size - inter
    inter.toDouble / union
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val setA = ctx.freshName("setA")
      val seenB = ctx.freshName("seenB")
      val e = ctx.freshName("e")
      val inter = ctx.freshName("inter")
      val union = ctx.freshName("union")
      s"""
         |java.util.HashSet $setA = new java.util.HashSet();
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  $setA.add($a.isNullAt($i) ? null : $a.getUTF8String($i));
         |}
         |java.util.HashSet $seenB = new java.util.HashSet();
         |int $inter = 0;
         |for (int $i = 0; $i < $b.numElements(); $i++) {
         |  Object $e = $b.isNullAt($i) ? null : $b.getUTF8String($i);
         |  if ($seenB.add($e) && $setA.contains($e)) $inter++;
         |}
         |double $union = (double) ($setA.size() + $seenB.size() - $inter);
         |${ev.value} = (double) $inter / $union;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Jaccard over two SORTED distinct array<long> columns via linear merge —
  * zero hashing, zero allocation, pure primitive compares in codegen.
  *
  * The string-set JaccardSimilarity spends ~15µs/pair building two
  * UTF8String hash sets; at 200k+ LSH candidate pairs that is the whole
  * verify stage. Pre-hash each document's shingle set ONCE (the sorted
  * distinct xxhash64 set ShingleMinHash emits) and the per-pair cost
  * collapses to one merge over ~2·|set| longs. Distinct counts over
  * 64-bit shingle hashes equal the string counts unless two distinct
  * shingles of the same pair collide (~3e-16 per pair) — the
  * DuckDB oracle computes the string form and has always hash-matched.
  * Mirrors JaccardSimilarity's edges: 0/0 → NaN. */
case class SortedLongJaccard(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true; case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<long> inputs")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_long_jaccard"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (na, nb) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val xi = x.getLong(i); val yj = y.getLong(j)
      if (xi == yj) { inter += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (i, j, inter, na, nb, xi, yj) = (ctx.freshName("i"), ctx.freshName("j"),
        ctx.freshName("inter"), ctx.freshName("na"), ctx.freshName("nb"),
        ctx.freshName("xi"), ctx.freshName("yj"))
      s"""
         |int $na = $a.numElements(), $nb = $b.numElements();
         |int $i = 0, $j = 0, $inter = 0;
         |while ($i < $na && $j < $nb) {
         |  long $xi = $a.getLong($i); long $yj = $b.getLong($j);
         |  if ($xi == $yj) { $inter++; $i++; $j++; }
         |  else if ($xi < $yj) $i++;
         |  else $j++;
         |}
         |${ev.value} = (double) $inter / (double) ($na + $nb - $inter);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane LSH bucket key: `planes` sign bits packed into a
  * long. Plane component for (plane p, dim i) is the SAME deterministic
  * pseudo-random the composable HOF form uses —
  * (xxhash64(p, i) % 1000) / 500.0 with Spark's chained-seed XXH64 — so
  * swapping this expression in never moves a vector to a different
  * bucket (spec-asserted bit-equality).
  *
  * The HOF form recomputes planes×dims hashes per ROW interpreted; here
  * the coefficient matrix is cached per distinct width (vector dims vary
  * by row in general, but are constant within a table), so steady-state
  * per-row cost is a pure fused multiply loop inside whole-stage
  * codegen. */
case class LshBucket(child: Expression, planes: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(planes >= 1 && planes <= 63, s"planes=$planes must be in [1, 63]")

  private def elemType: DataType = child.dataType match {
    case ArrayType(et, _) => et; case _ => org.apache.spark.sql.types.NullType
  }
  override def checkInputDataTypes(): TypeCheckResult = elemType match {
    case FloatType | DoubleType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<float|double>")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_bucket"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // cache keyed on the EXACT width: the coefficient layout is row-major
  // by dims, so a wider row's array must never be reused for a narrower
  // row (coef[p*dims+i] would read the wrong plane's coefficients)
  @transient private var coefCache: Array[Double] = _
  @transient private var coefDims: Int = -1

  private def coefFor(dims: Int): Array[Double] = {
    if (coefDims != dims) {
      coefCache = LshBucket.coefficients(planes, dims)
      coefDims = dims
    }
    coefCache
  }

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val dims = x.numElements()
    val coef = coefFor(dims)
    val isFloat = elemType == FloatType
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var dot = 0.0; var i = 0
      while (i < dims) {
        val xi = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
        dot += xi * coef(p * dims + i); i += 1
      }
      if (dot > 0) bucket |= 1L << p
      p += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[LshBucket].getName.stripSuffix("$")
    // per-operator mutable coefficient cache keyed on the EXACT width
    // (see coefFor): hashed once per distinct width, reused per row
    val coef = ctx.addMutableState("double[]", "lshCoef", _ => "")
    val coefDims = ctx.addMutableState("int", "lshCoefDims", n => s"$n = -1;")
    val get = if (elemType == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, v => {
      val (p, i, dot, dims, bucket) = (ctx.freshName("p"), ctx.freshName("i"),
        ctx.freshName("dot"), ctx.freshName("dims"), ctx.freshName("bucket"))
      s"""
         |int $dims = $v.numElements();
         |if ($coefDims != $dims) {
         |  $coef = $cls.coefficients($planes, $dims);
         |  $coefDims = $dims;
         |}
         |long $bucket = 0L;
         |for (int $p = 0; $p < $planes; $p++) {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $dims; $i++) {
         |    $dot += (double) $v.$get($i) * $coef[$p * $dims + $i];
         |  }
         |  if ($dot > 0) $bucket |= 1L << $p;
         |}
         |${ev.value} = $bucket;
       """.stripMargin
    })
  }
}

object LshBucket {
  /** planes×dims plane components, row-major — EXACTLY the SQL form's
    * arithmetic: (xxhash64(p, i) % 1000) / 500.0, where xxhash64 chains
    * int children through Spark's XXH64 with seed 42. */
  def coefficients(planes: Int, dims: Int): Array[Double] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val out = new Array[Double](planes * dims)
    var p = 0
    while (p < planes) {
      val seedP = XXH64.hashInt(p, 42L)
      var i = 0
      while (i < dims) {
        out(p * dims + i) = (XXH64.hashInt(i, seedP) % 1000L).toDouble / 500.0
        i += 1
      }
      p += 1
    }
    out
  }
}

object VectorFunctions {
  /** Fused cosine similarity — use in pairwise joins and top-k scans. */
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def dotProduct(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Fused distinct-set Jaccard — use in pairwise verify joins. */
  def jaccardSim(a: Column, b: Column): Column =
    ColumnBridge.column(JaccardSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Merge-count Jaccard over sorted distinct array<long> — the
    * high-volume verify path (pre-hash sets once per doc). */
  def sortedLongJaccard(a: Column, b: Column): Column =
    ColumnBridge.column(SortedLongJaccard(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Codegen'd sign-LSH bucket key (bit-identical to the HOF form). */
  def lshBucket(vec: Column, planes: Int): Column =
    ColumnBridge.column(LshBucket(ColumnBridge.expression(vec), planes))
}
