package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftSqlInternal
import org.apache.spark.sql.types._

/** FNV-1a 64-bit hash over a binary payload.
  *
  * Parity with the reference engine's per-entry checksum
  * (reference: src/wal/block.rs:117-129, src/wal/config.rs:70-80), kept as a
  * first-class codegen'd Catalyst expression so checksum computation stays
  * inside WholeStageCodegen on the ingest path.
  */
case class Fnv1a64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"fnv1a64 requires BINARY input, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    Fnv1a64.hash(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, bytes => {
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |long $h = 0xcbf29ce484222325L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h ^= ($bytes[$i] & 0xffL);
         |  $h *= 0x100000001b3L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Fnv1a64 =
    copy(child = newChild)
  override def prettyName: String = "fnv1a64"
}

object Fnv1a64 {
  final val Offset = 0xcbf29ce484222325L
  final val Prime  = 0x100000001b3L
  def hash(bytes: Array[Byte]): Long = {
    var h = Offset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= Prime
      i += 1
    }
    h
  }
}

/** Cosine similarity between two float/double array columns, fused into a
  * single codegen'd pass (dot product + both norms in one loop). Used by the
  * similarity-search operators instead of a `zip_with`+`aggregate` chain,
  * which would materialize intermediate arrays per row pair.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  private def okType(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (okType(left.dataType) && okType(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity requires ARRAY<FLOAT|DOUBLE> inputs, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  override def dataType: DataType = DoubleType

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    val lf = elemIsFloat(left); val rf = elemIsFloat(right)
    var i = 0
    while (i < n) {
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      val getL = if (elemIsFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getR = if (elemIsFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $getL;
         |  double $yi = $getR;
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0) ? 0.0
         |  : $dot / (Math.sqrt($nx) * Math.sqrt($ny));
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimilarity =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_similarity"
}

/** Dot product of a float/double array with the deterministic
  * pseudo-random projection vector `plane` (components from
  * [[graft.operators.Similarity.projComponent]]), fused into one codegen'd
  * loop. Semantically identical to the 64-term
  * `Σ element_at(v, d+1) * projComponent(plane, d)` column chain (same
  * left-to-right accumulation order, so the DuckDB oracle reproduces it
  * bit-for-bit), but one expression node instead of ~192 — the unfused
  * tree dominated codegen compile time for the LSH/IVF operators. */
case class ProjectionDot(child: Expression, plane: Int, dims: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"projection_dot requires ARRAY<FLOAT|DOUBLE> input, got ${other.catalogString}")
  }
  override def dataType: DataType = DoubleType

  private def arrayType: ArrayType = child.dataType.asInstanceOf[ArrayType]
  private def elemIsFloat: Boolean = arrayType.elementType == FloatType
  // A null element nulls the result (parity with the element_at chain), so
  // the expression is nullable whenever elements can be null.
  override def nullable: Boolean = child.nullable || arrayType.containsNull

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val comps = ProjectionDot.components(plane, dims)
    val n = math.min(v.numElements(), dims)
    var dot = 0.0
    var d = 0
    while (d < n) {
      if (v.isNullAt(d)) return null // parity with the NULL-propagating chain
      val x = if (elemIsFloat) v.getFloat(d).toDouble else v.getDouble(d)
      dot += x * comps(d)
      d += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val comps = ctx.addReferenceObj("projComps",
        ProjectionDot.components(plane, dims), "double[]")
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val get = if (elemIsFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
      // ev.isNull is the literal `false` when !nullable — only emit the
      // null-element branch when elements can actually be null
      val nullCheck =
        if (arrayType.containsNull)
          s"if ($v.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      val assign =
        if (arrayType.containsNull) s"if (!${ev.isNull}) ${ev.value} = $dot;"
        else s"${ev.value} = $dot;"
      s"""
         |int $n = Math.min($v.numElements(), $dims);
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  $dot += ($get) * $comps[$i];
         |}
         |$assign
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): ProjectionDot =
    copy(child = newChild)
  override def prettyName: String = "projection_dot"
}

object ProjectionDot {
  /** Materialized projection vector for `plane` (same LCG constants as the
    * SQL-generated oracle). */
  def components(plane: Int, dims: Int): Array[Double] =
    Array.tabulate(dims)(d => graft.operators.Similarity.projComponent(plane, d))
}

/** All base-128 k-shingle codes of an ASCII string in one pass:
  * `code_i = Σ_d byte(i+d) * 128^(k-1-d)` for i in [0, len-k].
  *
  * Semantically identical to per-position `ascii(substr(text, i+d, 1))`
  * composition (the DuckDB-oracle formulation) for ASCII input, but O(len)
  * instead of O(len²·k): UTF8String.substring walks codepoints from the
  * start, so position-wise extraction is quadratic in document length —
  * this expression reads the byte array once with a rolling window.
  */
case class ShingleCodes(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1 && k <= 9, "base-128 shingle codes overflow beyond k=9")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_codes requires STRING input, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    ShingleCodes.compute(bytes, k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nativeSafeCodeGen(ctx, ev)

  private def nativeSafeCodeGen(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str => {
      val bytes = ctx.freshName("bytes")
      s"""
         |byte[] $bytes = $str.getBytes();
         |${ev.value} = graft.functions.ShingleCodes.compute($bytes, $k);
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): ShingleCodes =
    copy(child = newChild)
  override def prettyName: String = "shingle_codes"
}

object ShingleCodes {
  /** Rolling base-128 window over the byte array (ASCII assumption —
    * matches `ascii()` per char). Shared by interpreted + codegen paths. */
  def compute(bytes: Array[Byte], k: Int): ArrayData = {
    val n = bytes.length - k + 1
    if (n <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    var topPow = 1L
    var i = 0
    while (i < k - 1) { topPow *= 128L; i += 1 }
    val out = new Array[Long](n)
    var code = 0L
    i = 0
    while (i < k) { code = code * 128L + (bytes(i) & 0xffL); i += 1 }
    out(0) = code
    i = 1
    while (i < n) {
      code = (code - (bytes(i - 1) & 0xffL) * topPow) * 128L + (bytes(i + k - 1) & 0xffL)
      out(i) = code
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** All `numHashes` MinHash components of a string's k-shingle set in ONE
  * pass: the rolling base-128 shingle code (as [[ShingleCodes]]) feeds
  * `numHashes` running minima of `(a_j·(code mod P) + b_j) mod P` — no
  * shingle array is materialized, no explode row-fanout, and (because MIN
  * is per-row computable) no aggregation shuffle at all downstream.
  * Component values are bit-identical to min-aggregating
  * [[graft.operators.TextOps.permHash]] over the exploded shingles (the
  * DuckDB-oracle formulation): same coefficients, same modulus, MIN is
  * duplicate-insensitive. NULL when the string has no k-shingle
  * (`length < k`) — the explode+groupBy formulation drops those rows.
  */
case class MinHashSignature(child: Expression, k: Int, numHashes: Int)
    extends UnaryExpression {
  require(k >= 1 && k <= 9, "base-128 shingle codes overflow beyond k=9")
  require(numHashes >= 1 && numHashes <= 512, "numHashes out of range")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature requires STRING input, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // short strings have no shingles

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    MinHashSignature.compute(bytes, k, MinHashSignature.coeffs(numHashes))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str => {
      val co = ctx.addReferenceObj("mhCoeffs", MinHashSignature.coeffs(numHashes), "long[][]")
      val res = ctx.freshName("mhRes")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $res =
         |  graft.functions.MinHashSignature.compute($str.getBytes(), $k, $co);
         |if ($res == null) { ${ev.isNull} = true; } else { ${ev.value} = $res; }
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
  override def prettyName: String = "minhash_signature"
}

object MinHashSignature {
  private final val P = graft.operators.TextOps.P

  /** `[a_j, b_j]` pairs as a primitive matrix (codegen reference object). */
  def coeffs(numHashes: Int): Array[Array[Long]] =
    graft.operators.TextOps.hashCoeffs(numHashes)
      .map { case (a, b) => Array(a, b) }.toArray

  /** Rolling shingle codes + running minima; null when no shingle fits.
    * Shared by interpreted + codegen paths. */
  def compute(bytes: Array[Byte], k: Int, coeffs: Array[Array[Long]]): ArrayData = {
    val n = bytes.length - k + 1
    if (n <= 0) return null
    val m = coeffs.length
    val mins = Array.fill(m)(Long.MaxValue)
    var topPow = 1L
    var i = 0
    while (i < k - 1) { topPow *= 128L; i += 1 }
    var code = 0L
    i = 0
    while (i < k) { code = code * 128L + (bytes(i) & 0xffL); i += 1 }
    var pos = 0
    while (pos < n) {
      if (pos > 0)
        code = (code - (bytes(pos - 1) & 0xffL) * topPow) * 128L + (bytes(pos + k - 1) & 0xffL)
      val cm = code % P
      var j = 0
      while (j < m) {
        val v = (coeffs(j)(0) * cm + coeffs(j)(1)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      pos += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }
}

/** Distinct-k-shingle overlap statistics of two strings in one pass:
  * `struct(both, sz_a, sz_b)` where `both = |A∩B|`, `sz_* = |A|, |B|` over
  * each string's DISTINCT shingle-code set. Semantically identical to the
  * distinct-shingle equi-join + count aggregation (the DuckDB-oracle
  * formulation) but computed per ROW: sort each side's rolling codes,
  * deduplicate, merge-count — so a candidate-pair verify stage needs no
  * explode, no equi-join, and no aggregation shuffle at all. */
case class ShingleOverlap(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  require(k >= 1 && k <= 9, "base-128 shingle codes overflow beyond k=9")
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"shingle_overlap requires STRING inputs, got ${l.catalogString}, ${r.catalogString}")
    }
  override def dataType: DataType = StructType(Seq(
    StructField("both", LongType, nullable = false),
    StructField("sz_a", LongType, nullable = false),
    StructField("sz_b", LongType, nullable = false)))

  override def nullSafeEval(a: Any, b: Any): Any =
    ShingleOverlap.compute(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes,
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"${ev.value} = graft.functions.ShingleOverlap.compute($a.getBytes(), $b.getBytes(), $k);"
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ShingleOverlap =
    copy(left = l, right = r)
  override def prettyName: String = "shingle_overlap"
}

object ShingleOverlap {
  /** Sorted-distinct rolling shingle codes of `bytes` (ASCII assumption,
    * as [[ShingleCodes]]). */
  private def sortedCodes(bytes: Array[Byte], k: Int): Array[Long] = {
    val n = bytes.length - k + 1
    if (n <= 0) return Array.emptyLongArray
    var topPow = 1L
    var i = 0
    while (i < k - 1) { topPow *= 128L; i += 1 }
    val out = new Array[Long](n)
    var code = 0L
    i = 0
    while (i < k) { code = code * 128L + (bytes(i) & 0xffL); i += 1 }
    out(0) = code
    i = 1
    while (i < n) {
      code = (code - (bytes(i - 1) & 0xffL) * topPow) * 128L + (bytes(i + k - 1) & 0xffL)
      out(i) = code
      i += 1
    }
    java.util.Arrays.sort(out)
    // in-place dedup of the sorted array
    var w = 1
    i = 1
    while (i < n) {
      if (out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    if (w == n) out else java.util.Arrays.copyOf(out, w)
  }

  def compute(a: Array[Byte], b: Array[Byte], k: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val xs = sortedCodes(a, k)
    val ys = sortedCodes(b, k)
    var i = 0; var j = 0; var both = 0L
    while (i < xs.length && j < ys.length) {
      if (xs(i) == ys(j)) { both += 1; i += 1; j += 1 }
      else if (xs(i) < ys(j)) i += 1
      else j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](both, xs.length.toLong, ys.length.toLong))
  }
}

/** Winnowing fingerprint set (Schleimer–Wilkerson–Aiken's MOSS algorithm)
  * of an ASCII string in ONE fused pass: the rolling base-128 k-shingle
  * code stream (as [[ShingleCodes]]) is permutation-hashed with
  * `(a·(code mod P) + b) mod P`, every window of `w` consecutive hashes
  * contributes its minimum, and the distinct minima form the document's
  * fingerprint set. Winnowing guarantee: any substring of length
  * ≥ k + w − 1 shared by two documents yields at least one shared
  * fingerprint — the per-document, shuffle-free stand-in for
  * exact-substring (suffix-array) dedup at corpus scale. Sliding minima
  * via a monotone index deque (O(len) total, not O(len·w)); a builtin
  * `transform(sequence(..), j -> array_min(slice(..)))` formulation would
  * be O(len·w) AND re-evaluate the hash array per window once
  * CollapseProject/AQE inlines it — fusing is the only shape that stays
  * in whole-stage codegen. Fewer than `w` shingles → one window spanning
  * them all; no shingle at all (`length < k`) → NULL (matching the
  * explode+window-frame SQL-oracle formulation, which has no row to emit).
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int, a: Long, b: Long)
    extends UnaryExpression {
  require(k >= 1 && k <= 9, "base-128 shingle codes overflow beyond k=9")
  require(w >= 1 && w <= 4096, "winnow window out of range")
  require(a > 0 && a < graft.operators.TextOps.P && b >= 0 && b < graft.operators.TextOps.P,
    "hash coefficients must lie in [0, P)")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprints requires STRING input, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // short strings have no shingles

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    WinnowFingerprints.compute(bytes, k, w, a, b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str => {
      val res = ctx.freshName("wfRes")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $res =
         |  graft.functions.WinnowFingerprints.compute($str.getBytes(), $k, $w, ${a}L, ${b}L);
         |if ($res == null) { ${ev.isNull} = true; } else { ${ev.value} = $res; }
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
  override def prettyName: String = "winnow_fingerprints"
}

object WinnowFingerprints {
  private final val P = graft.operators.TextOps.P

  /** Rolling shingle hashes + monotone-deque sliding minima + first-seen
    * dedup; null when no shingle fits. Shared by interpreted + codegen
    * paths (named `compute`, NOT `eval` — an `eval` companion loses its
    * static forwarder and silently degrades codegen to interpreted). */
  def compute(bytes: Array[Byte], k: Int, w: Int, a: Long, b: Long): ArrayData = {
    val n = bytes.length - k + 1
    if (n <= 0) return null
    val hs = new Array[Long](n)
    var topPow = 1L
    var i = 0
    while (i < k - 1) { topPow *= 128L; i += 1 }
    var code = 0L
    i = 0
    while (i < k) { code = code * 128L + (bytes(i) & 0xffL); i += 1 }
    hs(0) = (a * (code % P) + b) % P
    i = 1
    while (i < n) {
      code = (code - (bytes(i - 1) & 0xffL) * topPow) * 128L + (bytes(i + k - 1) & 0xffL)
      hs(i) = (a * (code % P) + b) % P
      i += 1
    }
    if (n <= w) { // degenerate: one window spanning every shingle
      var mn = hs(0)
      i = 1
      while (i < n) { if (hs(i) < mn) mn = hs(i); i += 1 }
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(mn))
    }
    // window j covers hash indexes [j, j+w-1]; deque holds candidate minima
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    i = 0
    while (i < n) {
      while (tail > head && hs(dq(tail - 1)) >= hs(i)) tail -= 1
      dq(tail) = i; tail += 1
      if (dq(head) <= i - w) head += 1
      if (i >= w - 1) {
        val mn = hs(dq(head))
        if (seen.add(mn)) out += mn
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** Packed product-quantization code of a float/double vector in ONE fused
  * pass: for each of `subspaces` contiguous `subDim` blocks, the best
  * sub-centroid by 6-dp-quantized projection dot (ties to the HIGHER cid),
  * packed as `Σ_s cid_s · subCentroids^s`. Bit-identical to the
  * `greatest(struct(q6(projection_dot(slice(vec,…),…)), cid))` column
  * chain (the DuckDB-oracle formulation: rank sim DESC, cid DESC), but one
  * tight loop over the vector — no per-subspace array slices, no struct
  * allocations, no 32-node expression tree. That matters beyond constant
  * factors: optimizer passes (AQE re-optimization reruns CollapseProject)
  * may inline a projection into every downstream reference, so a heavy
  * code expression referenced `subspaces` times by an ADC scorer gets
  * re-evaluated per reference — this expression keeps even that worst
  * case cheap. */
case class PqCode(child: Expression,
    subspaces: Int, subCentroids: Int, subDim: Int, basePlane: Int)
    extends UnaryExpression {
  require(subspaces >= 1 && subCentroids >= 2 && subDim >= 1, "bad PQ shape")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_code requires ARRAY<FLOAT|DOUBLE> input, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  // constructor-param-only; cached so the interpreted path doesn't rebuild
  // the projection matrix per row (codegen caches it via addReferenceObj)
  @transient private lazy val comps =
    PqCode.components(basePlane, subspaces * subCentroids, subDim)

  override def nullSafeEval(input: Any): Any =
    PqCode.compute(input.asInstanceOf[ArrayData], elemIsFloat,
      subspaces, subCentroids, subDim, comps)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      // both eval paths share the SAME cached matrix instance
      val co = ctx.addReferenceObj("pqComps", comps, "double[][]")
      s"""
         |${ev.value} = graft.functions.PqCode.compute(
         |  $v, $elemIsFloat, $subspaces, $subCentroids, $subDim, $co);
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): PqCode =
    copy(child = newChild)
  override def prettyName: String = "pq_code"
}

object PqCode {
  /** Sub-centroid projection matrix: row `sIdx·subCentroids + cIdx` is the
    * `subDim` components of plane `basePlane + sIdx·subCentroids + cIdx`. */
  def components(basePlane: Int, rows: Int, subDim: Int): Array[Array[Double]] =
    Array.tabulate(rows)(r =>
      Array.tabulate(subDim)(d =>
        graft.operators.Similarity.projComponent(basePlane + r, d)))

  /** Fused argmax per subspace over 6-dp-quantized dots (micro-unit longs,
    * so the tie/ordering semantics are exactly the q6-double compare);
    * `>=` keeps the LATER cid on ties, matching `greatest`'s preference
    * for the struct with the higher cid. Shared by both eval paths. */
  def compute(v: ArrayData, isFloat: Boolean,
      subspaces: Int, subCentroids: Int, subDim: Int,
      comps: Array[Array[Double]]): Long = {
    val n = v.numElements()
    var code = 0L
    var weight = 1L
    var s = 0
    while (s < subspaces) {
      val base = s * subDim
      var bestMicro = Long.MinValue
      var bestCid = 0
      var c = 0
      while (c < subCentroids) {
        val row = comps(s * subCentroids + c)
        var dot = 0.0
        var d = 0
        val lim = math.min(subDim, n - base)
        while (d < lim) {
          val x = if (isFloat) v.getFloat(base + d).toDouble else v.getDouble(base + d)
          dot += x * row(d)
          d += 1
        }
        val micro = math.floor(dot * 1e6 + 0.5).toLong
        if (micro >= bestMicro) { bestMicro = micro; bestCid = c }
        c += 1
      }
      code += bestCid.toLong * weight
      weight *= subCentroids
      s += 1
    }
    code
  }
}

/** Scalar (int8) quantization round-trip statistics in ONE fused pass:
  * given a vector and the corpus per-dimension bounds `mn`/`mx`, each
  * component is quantized to the 8-bit grid
  * `q = floor((x−mn)/(mx−mn)·255 + 0.5)` and reconstructed as
  * `r = mn + q·(mx−mn)/255` (dims with `mx = mn` reconstruct exactly);
  * the expression returns `struct(dot, norm_v, norm_r, err_sum)` — the
  * Σx·r / Σx² / Σr² / Σ|x−r| accumulators a caller needs for the
  * reconstruction cosine and mean absolute error. Accumulation is strictly
  * index-ascending, so an unrolled left-associated SQL sum over the same
  * per-dimension formula reproduces every double bit-for-bit.
  *
  * This is the SQ8 storage layout (FAISS `ScalarQuantizer` QT_8bit shape):
  * 1 byte/dim vs 4 — the compression step between raw float corpora and
  * the PQ codes ([[PqCode]]) on the 100 TB path. One expression node per
  * row against a broadcast 1-row bounds table: no shuffle, no per-dim
  * column chain.
  */
case class Sq8Recon(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  private def okType(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(first, second, third).map(_.dataType).forall(okType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sq8_recon requires ARRAY<FLOAT|DOUBLE> (vec, mn, mx), got " +
        Seq(first, second, third).map(_.dataType.catalogString).mkString(", "))
  override def dataType: DataType = StructType(Seq(
    StructField("dot", DoubleType, nullable = false),
    StructField("norm_v", DoubleType, nullable = false),
    StructField("norm_r", DoubleType, nullable = false),
    StructField("err_sum", DoubleType, nullable = false)))

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any, mn: Any, mx: Any): Any =
    Sq8Recon.compute(
      v.asInstanceOf[ArrayData], elemIsFloat(first),
      mn.asInstanceOf[ArrayData], elemIsFloat(second),
      mx.asInstanceOf[ArrayData], elemIsFloat(third))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, mn, mx) => {
      s"""
         |${ev.value} = graft.functions.Sq8Recon.compute(
         |  $v, ${elemIsFloat(first)}, $mn, ${elemIsFloat(second)},
         |  $mx, ${elemIsFloat(third)});
       """.stripMargin
    })
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Sq8Recon =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "sq8_recon"
}

object Sq8Recon {
  /** Quantize-reconstruct-accumulate loop shared by both eval paths.
    * Formula order matches the generated SQL twin exactly:
    * `((x − m) / (M − m)) · 255 + 0.5` then `m + (q · (M − m)) / 255`. */
  def compute(v: ArrayData, vf: Boolean,
      mn: ArrayData, mnf: Boolean,
      mx: ArrayData, mxf: Boolean): org.apache.spark.sql.catalyst.InternalRow = {
    val n = math.min(v.numElements(),
      math.min(mn.numElements(), mx.numElements()))
    var dot = 0.0; var nv = 0.0; var nr = 0.0; var err = 0.0
    var d = 0
    while (d < n) {
      val x = if (vf) v.getFloat(d).toDouble else v.getDouble(d)
      val m = if (mnf) mn.getFloat(d).toDouble else mn.getDouble(d)
      val M = if (mxf) mx.getFloat(d).toDouble else mx.getDouble(d)
      val r =
        if (M == m) m
        else m + Math.floor((x - m) / (M - m) * 255.0 + 0.5) * (M - m) / 255.0
      dot += x * r; nv += x * x; nr += r * r; err += Math.abs(x - r)
      d += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](dot, nv, nr, err))
  }
}

/** Bottom-k DISTINCT long values per group — the KMV (k-minimum-values)
  * distinct-count sketch's state, as a native typed imperative aggregate.
  *
  * Scale story: the buffer is a ≤ k-element sorted set with map-side
  * partial aggregation, so a corpus-wide distinct estimate shuffles ONE
  * k-long array per group per map partition — versus the exact path's
  * full shuffle of every distinct value (`COUNT(DISTINCT)`'s expand).
  * Deterministic given the deterministic hash inputs, so the DuckDB
  * oracle reproduces the sketch (and its estimate) EXACTLY — unlike
  * HLL-style sketches there is no engine-specific randomness.
  * (KMV estimator: Bar-Yossef et al. 2002; Beyer et al. SIGMOD 2007.) */
case class BottomK(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
  require(k > 0, "bottom_k needs k > 0")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bottom_k expects BIGINT, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def trim(b: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    while (b.size > k) b.pollLast()
    b
  }

  override def update(b: java.util.TreeSet[java.lang.Long],
      input: org.apache.spark.sql.catalyst.InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) { b.add(v.asInstanceOf[Long]); trim(b) }
    b
  }

  override def merge(b: java.util.TreeSet[java.lang.Long],
      o: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    b.addAll(o); trim(b)
  }

  override def eval(b: java.util.TreeSet[java.lang.Long]): Any = {
    val arr = new Array[Long](b.size)
    val it = b.iterator(); var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  override def serialize(b: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * b.size)
    bb.putInt(b.size)
    val it = b.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new java.util.TreeSet[java.lang.Long]()
    (0 until n).foreach(_ => b.add(bb.getLong))
    b
  }

  override def withNewMutableAggBufferOffset(n: Int): BottomK =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): BottomK =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): BottomK =
    copy(child = newChild)
  override def prettyName: String = "bottom_k"
}

/** Per-group co-occurrence top-k: counts how often each id appears across
  * the group's `ids` arrays (skipping `self`), then keeps the `k` best by
  * (count desc, id asc) — the ranking of a per-document
  * `row_number() OVER (ORDER BY count DESC, id)`, without ever building
  * the (self, id) pair rows. Output: array<struct<dst, both>> in rank order.
  *
  * Scale story: the group key is a document and each input row is one of
  * its posting lists (capped upstream by a doc-frequency bound), so the
  * buffer is a primitive long→long count map sized by the document's
  * distinct neighbours, and ranking is an O(n log k) heap selection. The
  * pair-count shuffle and the pair sort of the join plan disappear.
  * Counts are integer sums, so merge order cannot change the result. */
case class CoOccurrenceTopK(ids: Expression, self: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[CoOccurrenceTopK.CountMap]
    with org.apache.spark.sql.catalyst.trees.BinaryLike[Expression] {
  import CoOccurrenceTopK.CountMap
  require(k > 0, "co_occurrence_top_k needs k > 0")

  override def left: Expression = ids
  override def right: Expression = self

  override def checkInputDataTypes(): TypeCheckResult = (ids.dataType, self.dataType) match {
    case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
    case (a, s) => TypeCheckResult.TypeCheckFailure(
      s"co_occurrence_top_k expects (ARRAY<BIGINT>, BIGINT), got " +
        s"(${a.catalogString}, ${s.catalogString})")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("dst", LongType, nullable = false),
    StructField("both", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): CountMap = new CountMap(16)

  override def update(b: CountMap,
      input: org.apache.spark.sql.catalyst.InternalRow): CountMap = {
    val arr = ids.eval(input).asInstanceOf[ArrayData]
    val s = self.eval(input)
    if (arr != null && s != null) {
      val me = s.asInstanceOf[Long]
      var i = 0
      while (i < arr.numElements()) {
        if (!arr.isNullAt(i)) {
          val id = arr.getLong(i)
          if (id != me) b.add(id, 1L)
        }
        i += 1
      }
    }
    b
  }

  override def merge(b: CountMap, o: CountMap): CountMap = {
    var s = 0
    while (s < o.keys.length) {
      if (o.counts(s) != 0L) b.add(o.keys(s), o.counts(s))
      s += 1
    }
    b
  }

  override def eval(b: CountMap): Any = {
    val keys = b.keys; val counts = b.counts
    // slot i ranks before slot j: more co-occurrences, then the smaller id
    def before(i: Int, j: Int): Boolean =
      counts(i) > counts(j) || (counts(i) == counts(j) && keys(i) < keys(j))
    // bounded heap of slots whose root is the WORST kept entry
    val m = math.min(k, b.size)
    val heap = new Array[Int](m)
    var n = 0
    def siftDown(from: Int): Unit = {
      var i = from
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = l + 1
        var w = i
        if (l < n && before(heap(w), heap(l))) w = l
        if (r < n && before(heap(w), heap(r))) w = r
        if (w == i) done = true
        else { val t = heap(i); heap(i) = heap(w); heap(w) = t; i = w }
      }
    }
    var s = 0
    while (s < keys.length) {
      if (counts(s) != 0L) {
        if (n < m) {
          heap(n) = s; n += 1
          var i = n - 1
          while (i > 0 && before(heap((i - 1) / 2), heap(i))) {
            val p = (i - 1) / 2
            val t = heap(i); heap(i) = heap(p); heap(p) = t; i = p
          }
        } else if (m > 0 && before(s, heap(0))) {
          heap(0) = s; siftDown(0)
        }
      }
      s += 1
    }
    // pop worst-first into the tail so the array ends in rank order
    val rows = new Array[Any](m)
    while (n > 0) {
      val top = heap(0)
      rows(n - 1) = org.apache.spark.sql.catalyst.InternalRow(keys(top), counts(top))
      n -= 1; heap(0) = heap(n); siftDown(0)
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  override def serialize(b: CountMap): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * b.size)
    bb.putInt(b.size)
    var s = 0
    while (s < b.keys.length) {
      if (b.counts(s) != 0L) bb.putLong(b.keys(s)).putLong(b.counts(s))
      s += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CountMap = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new CountMap(n)
    (0 until n).foreach(_ => b.add(bb.getLong, bb.getLong))
    b
  }

  override def withNewMutableAggBufferOffset(n: Int): CoOccurrenceTopK =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): CoOccurrenceTopK =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CoOccurrenceTopK =
    copy(ids = newLeft, self = newRight)
  override def prettyName: String = "co_occurrence_top_k"
}

object CoOccurrenceTopK {
  /** Open-addressing long→long count map (linear probing, load ≤ 1/2).
    * A slot is empty iff its count is 0 — every stored count is ≥ 1 — so
    * any long, 0 and negatives included, is a valid key. */
  final class CountMap(expected: Int) {
    var keys: Array[Long] = new Array[Long](capacityFor(expected))
    var counts: Array[Long] = new Array[Long](keys.length)
    var size: Int = 0

    private def capacityFor(n: Int): Int =
      Integer.highestOneBit(math.max(16, n) * 2 - 1) << 1

    private def slot(key: Long, ks: Array[Long], cs: Array[Long]): Int = {
      val mask = ks.length - 1
      // murmur3 fmix64: sequential ids must not cluster in the table
      var h = key
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
      h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
      h ^= h >>> 33
      var s = h.toInt & mask
      while (cs(s) != 0L && ks(s) != key) s = (s + 1) & mask
      s
    }

    def add(key: Long, c: Long): Unit = {
      val s = slot(key, keys, counts)
      if (counts(s) == 0L) {
        keys(s) = key; size += 1
        counts(s) = c
        if (size * 2 > keys.length) grow()
      } else counts(s) += c
    }

    private def grow(): Unit = {
      val ok = keys; val oc = counts
      keys = new Array[Long](ok.length * 2)
      counts = new Array[Long](keys.length)
      var i = 0
      while (i < ok.length) {
        if (oc(i) != 0L) {
          val s = slot(ok(i), keys, counts)
          keys(s) = ok(i); counts(s) = oc(i)
        }
        i += 1
      }
    }
  }
}

/** HDR-histogram-style quantile sketch over non-negative longs — fixed
  * exponential buckets (value's power-of-two exponent) each split into 16
  * LINEAR sub-buckets, as a native typed imperative aggregate. The state
  * is a bucket -> (count, min, max) map of at most 64·16 entries, so a
  * corpus-wide quantile shuffles ONE tiny map per group per map partition
  * (map-side combine) — versus exact percentile's full value shuffle.
  *
  * Rank guarantee: the true q-quantile lies within the [min, max] of the
  * bucket holding rank ceil(q·n); bucket width bounds the relative error
  * at ≤ 1/16 ≈ 6.25% (the HdrHistogram/DDSketch trade, Masson et al.
  * VLDB 2019, with deterministic integer bucketing instead of log()).
  * Bucketing is integer-exact and ORDER-INDEPENDENT — unlike KLL's
  * randomized compaction — so merge order across partitions cannot
  * change the result and the DuckDB oracle reproduces the sketch (and
  * its rank answers) EXACTLY. */
case class HdrHistSketch(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate
      .TypedImperativeAggregate[java.util.TreeMap[java.lang.Long, Array[Long]]]
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hdr_hist_sketch expects BIGINT, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("bucket", LongType, nullable = false),
    StructField("cnt", LongType, nullable = false),
    StructField("vmin", LongType, nullable = false),
    StructField("vmax", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): java.util.TreeMap[java.lang.Long, Array[Long]] =
    new java.util.TreeMap[java.lang.Long, Array[Long]]()

  private def add(b: java.util.TreeMap[java.lang.Long, Array[Long]],
      bucket: Long, cnt: Long, mn: Long, mx: Long): Unit = {
    val cur = b.get(bucket)
    if (cur == null) b.put(bucket, Array(cnt, mn, mx))
    else {
      cur(0) += cnt
      if (mn < cur(1)) cur(1) = mn
      if (mx > cur(2)) cur(2) = mx
    }
  }

  override def update(b: java.util.TreeMap[java.lang.Long, Array[Long]],
      input: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.TreeMap[java.lang.Long, Array[Long]] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      add(b, HdrHistSketch.bucketOf(x), 1L, x, x)
    }
    b
  }

  override def merge(b: java.util.TreeMap[java.lang.Long, Array[Long]],
      o: java.util.TreeMap[java.lang.Long, Array[Long]])
      : java.util.TreeMap[java.lang.Long, Array[Long]] = {
    val it = o.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      add(b, e.getKey, e.getValue()(0), e.getValue()(1), e.getValue()(2))
    }
    b
  }

  override def eval(b: java.util.TreeMap[java.lang.Long, Array[Long]]): Any = {
    val rows = new Array[Any](b.size)
    val it = b.entrySet().iterator(); var i = 0
    while (it.hasNext) {
      val e = it.next()
      rows(i) = org.apache.spark.sql.catalyst.InternalRow(
        e.getKey.longValue, e.getValue()(0), e.getValue()(1), e.getValue()(2))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  override def serialize(b: java.util.TreeMap[java.lang.Long, Array[Long]]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 32 * b.size)
    bb.putInt(b.size)
    val it = b.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putLong(e.getKey).putLong(e.getValue()(0))
        .putLong(e.getValue()(1)).putLong(e.getValue()(2))
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeMap[java.lang.Long, Array[Long]] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new java.util.TreeMap[java.lang.Long, Array[Long]]()
    (0 until n).foreach { _ =>
      b.put(bb.getLong, Array(bb.getLong, bb.getLong, bb.getLong))
    }
    b
  }

  override def withNewMutableAggBufferOffset(n: Int): HdrHistSketch =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): HdrHistSketch =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): HdrHistSketch =
    copy(child = newChild)
  override def prettyName: String = "hdr_hist_sketch"
}

object HdrHistSketch {
  /** 16 sub-buckets per power of two; a power of two keeps the sub-bucket
    * split an exact shift, never a multiply that could overflow. */
  val SubBuckets = 16

  /** Integer-exact bucket id: 0 for v ≤ 0; otherwise e·16 + sub where
    * e = bit length of v and sub = the top 4 bits below the leading one
    * ((v−2^(e−1))·16 div 2^(e−1), computed as a shift). The same formula
    * is expressible in ANSI SQL via length(bin(v)) / format('{:b}', v),
    * which is what the oracle twins use. */
  def bucketOf(v: Long): Long =
    if (v <= 0L) 0L
    else {
      val e = 64 - java.lang.Long.numberOfLeadingZeros(v)
      val base = 1L << (e - 1)
      val sub = if (e > 4) (v - base) >>> (e - 5) else v - base
      e.toLong * SubBuckets + sub
    }
}

/** Column-level entry points + SQL registration for graft's native functions. */
object GraftFunctions {
  def fnv1a64(c: Column): Column =
    GraftSqlInternal.column(Fnv1a64(GraftSqlInternal.expression(c)))
  def cosine_similarity(a: Column, b: Column): Column =
    GraftSqlInternal.column(
      CosineSimilarity(GraftSqlInternal.expression(a), GraftSqlInternal.expression(b)))
  def shingle_codes(c: Column, k: Int): Column =
    GraftSqlInternal.column(ShingleCodes(GraftSqlInternal.expression(c), k))
  def minhash_signature(c: Column, k: Int, numHashes: Int): Column =
    GraftSqlInternal.column(MinHashSignature(GraftSqlInternal.expression(c), k, numHashes))
  def shingle_overlap(a: Column, b: Column, k: Int): Column =
    GraftSqlInternal.column(
      ShingleOverlap(GraftSqlInternal.expression(a), GraftSqlInternal.expression(b), k))
  def winnow_fingerprints(c: Column, k: Int, w: Int, a: Long, b: Long): Column =
    GraftSqlInternal.column(
      WinnowFingerprints(GraftSqlInternal.expression(c), k, w, a, b))
  def projection_dot(c: Column, plane: Int, dims: Int = 64): Column =
    GraftSqlInternal.column(ProjectionDot(GraftSqlInternal.expression(c), plane, dims))
  def pq_code(c: Column, subspaces: Int, subCentroids: Int, subDim: Int,
      basePlane: Int): Column =
    GraftSqlInternal.column(PqCode(GraftSqlInternal.expression(c),
      subspaces, subCentroids, subDim, basePlane))
  def bottom_k(c: Column, k: Int): Column =
    GraftSqlInternal.column(
      BottomK(GraftSqlInternal.expression(c), k).toAggregateExpression())
  def co_occurrence_top_k(ids: Column, self: Column, k: Int): Column =
    GraftSqlInternal.column(CoOccurrenceTopK(GraftSqlInternal.expression(ids),
      GraftSqlInternal.expression(self), k).toAggregateExpression())
  def hdr_hist_sketch(c: Column): Column =
    GraftSqlInternal.column(
      HdrHistSketch(GraftSqlInternal.expression(c)).toAggregateExpression())
  def sq8_recon(vec: Column, mn: Column, mx: Column): Column =
    GraftSqlInternal.column(Sq8Recon(GraftSqlInternal.expression(vec),
      GraftSqlInternal.expression(mn), GraftSqlInternal.expression(mx)))

  /** Registers `fnv1a64` / `cosine_similarity` for use from SQL text. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction(
      "fnv1a64", exprs => Fnv1a64(exprs.head), "built-in")
    registry.createOrReplaceTempFunction(
      "cosine_similarity", exprs => CosineSimilarity(exprs(0), exprs(1)), "built-in")
  }
}
