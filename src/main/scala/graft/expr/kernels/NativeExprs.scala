package graft.expr.kernels

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen._
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions (with `doGenCode`) for the two hot
  * array kernels the HOF (`transform`/`aggregate`) formulations leave
  * interpreted: higher-order-function lambdas get no whole-stage
  * codegen, so a 16-permutation MinHash over a 70-element array costs
  * ~1100 boxed lambda invocations per row. These run the same math as
  * the Column-combinator versions (bit-identical results — asserted in
  * NativeExprSpec) in one tight generated loop.
  *
  * One method per kernel: each loop is written once, in a method on the
  * expression's companion (or kernel) object, and both the interpreted
  * `eval`/`nullSafeEval` and `doGenCode` call it — the generated code
  * is one static call, which stays inside the whole-stage-codegen
  * pipeline (CodegenFallback would evaluate the children interpreted
  * and box every result). NativeExprSpec's source scan fails on a
  * `doGenCode` that writes a loop of its own.
  *
  * This is the preference order the engine follows (SURVEY.md §4.2 /
  * build brief): built-in Columns first, native Expression only where
  * the built-in formulation measurably can't keep up, never a UDF. */

/** Exact integer dot product of two array<long> columns (quantized
  * embeddings, hyperplane directions). Null elements are treated as 0;
  * length mismatch folds over the common prefix (callers use
  * fixed-dim vectors). */
case class LongDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_long_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    LongDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.expr.kernels.LongDot.dot($x, $y)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): LongDot =
    copy(left = l, right = r)
}

object LongDot {
  def dot(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L; var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }
}

/** Milli-quantization of an array<double> embedding —
  * round(x·scale) half-away-from-zero as long (matches Spark's `round`
  * and DuckDB on every value a float·1000 can produce). Exists because
  * `transform` is a higher-order function and higher-order functions
  * are CodegenFallback: the declarative quantize ran an interpreted
  * lambda per element on EVERY store/encode/serve projection — the
  * single most ubiquitous expression in the ANN paths (45 call
  * sites). Null elements pass through as null. The Column wrapper
  * casts float arrays up front (float→double is exact). */
case class QuantizeArray(child: Expression, scale: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_quantize"

  override def nullSafeEval(v: Any): Any =
    QuantizeArray.quantize(v.asInstanceOf[ArrayData], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.expr.kernels.QuantizeArray.quantize($a, $scale)")

  override protected def withNewChildInternal(newChild: Expression): QuantizeArray =
    copy(child = newChild)
}

object QuantizeArray {
  def quantize(a: ArrayData, scale: Int): ArrayData = {
    val n = a.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val d = a.getDouble(i) * scale
        out(i) = if (d < 0) -Math.round(-d) else Math.round(d)
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Largest |element| of a float/double embedding as double —
  * array_max(transform(abs)) without the interpreted HOF pass. Null
  * elements are skipped (the array_max convention); empty or all-null
  * arrays yield null. NaN elements latch as the max (Spark's ordering
  * treats NaN as greater than any double), so the result is
  * order-independent and bit-equal to the HOF anchor on NaN inputs —
  * a plain `a > best` comparison would make [1.0, NaN] and [NaN, 1.0]
  * disagree. Input is cast to array<double> by the wrapper. */
case class AbsMaxArr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_absmax"
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val m = AbsMaxArr.absMax(v.asInstanceOf[ArrayData])
    if (m < 0) null else m
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = graft.expr.kernels.AbsMaxArr.absMax($a);
         |${ev.isNull} = ${ev.value} < 0;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): AbsMaxArr =
    copy(child = newChild)
}

object AbsMaxArr {
  /** The largest |element|, or -1.0 (below any absolute value, NaN
    * included) when no element is non-null — the null result, unboxed. */
  def absMax(arr: ArrayData): Double = {
    val n = arr.numElements()
    var best = -1.0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val a = math.abs(arr.getDouble(i))
        if (best < 0 || java.lang.Double.isNaN(a) || a > best) best = a
      }
      i += 1
    }
    best
  }
}

/** Per-vector symmetric int8 quantization against a precomputed amax:
  * q_i = floor(v_i·(127/amax) + 0.5) as tinyint; amax = 0 maps EVERY
  * element (null included) to 0 — the when()+transform short-circuit
  * of the HOF form it replaces; otherwise null elements stay null.
  * Input vector cast to array<double> by the wrapper. */
case class Int8Quantize(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = ArrayType(ByteType, containsNull = true)
  override def prettyName: String = "graft_int8_quantize"

  override def nullSafeEval(v: Any, am: Any): Any =
    Int8Quantize.quantize(v.asInstanceOf[ArrayData], am.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, am) => s"graft.expr.kernels.Int8Quantize.quantize($a, $am)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Int8Quantize =
    copy(left = l, right = r)
}

object Int8Quantize {
  def quantize(arr: ArrayData, amax: Double): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (amax == 0.0) out(i) = 0.toByte
      else if (!arr.isNullAt(i))
        out(i) = math.floor(arr.getDouble(i) * (127.0 / amax) + 0.5).toByte
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Exact integer dot of two array<tinyint> int8 vectors — [[LongDot]]
  * for byte arrays, so int8 serving never widens the 1-byte codes to
  * longs (two interpreted transforms per pair in the HOF form). */
case class TinyDot(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_tiny_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    TinyDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.expr.kernels.TinyDot.dot($x, $y)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): TinyDot =
    copy(left = l, right = r)
}

object TinyDot {
  def dot(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L; var i = 0
    while (i < n) { s += x.getByte(i).toLong * y.getByte(i).toLong; i += 1 }
    s
  }
}

/** SQ8 encode of a milli-quantized vector against a frozen per-dim
  * grid: c_i = clamp(floor((v_i − vmin_i)·255 / vdiff_i), 0, 255),
  * degenerate dims (vdiff = 0) → 0. One codegen'd loop with the grid
  * as reference objects — replaces two interpreted zip_withs per row
  * on the build/append/streaming-ingest path. Bit-identical to the
  * zip_with chain including its length semantics (output length =
  * max(|v|, dim); a missing side yields null, except vdiff = 0 which
  * yields 0 regardless — the when() short-circuit). */
case class Sq8Encode(child: Expression, vmin: Seq[Long], vdiff: Seq[Long])
  extends UnaryExpression {
  require(vmin.length == vdiff.length && vmin.nonEmpty,
    s"grid arrays must align, got ${vmin.length}/${vdiff.length}")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_sq8_encode"

  @transient private lazy val mnArr: Array[Long] = vmin.toArray
  @transient private lazy val vdArr: Array[Long] = vdiff.toArray

  override def nullSafeEval(v: Any): Any =
    Sq8Encode.encode(v.asInstanceOf[ArrayData], mnArr, vdArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mn = ctx.addReferenceObj("sq8vmin", mnArr, "long[]")
    val vd = ctx.addReferenceObj("sq8vdiff", vdArr, "long[]")
    defineCodeGen(ctx, ev, a => s"graft.expr.kernels.Sq8Encode.encode($a, $mn, $vd)")
  }

  override protected def withNewChildInternal(newChild: Expression): Sq8Encode =
    copy(child = newChild)
}

object Sq8Encode {
  def encode(arr: ArrayData, mn: Array[Long], vd: Array[Long]): ArrayData = {
    val n = arr.numElements()
    val len = math.max(n, mn.length)
    val out = new Array[Any](len)
    var i = 0
    while (i < len) {
      if (i < mn.length && vd(i) == 0L) out(i) = 0L
      else if (i < n && i < mn.length && !arr.isNullAt(i)) {
        val d = (arr.getLong(i) - mn(i)).toDouble * 255.0 / vd(i)
        val c = math.floor(d).toLong
        out(i) = math.max(0L, math.min(255L, c))
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** SQ8 decode: v̂_i = vmin_i + floor(c_i·vdiff_i / 255) — the
  * serving-side reconstruction, one codegen'd loop per stored row
  * (was two interpreted zip_withs per candidate per serve). Same
  * max-length/null semantics as the chain it replaces. */
case class Sq8Decode(child: Expression, vmin: Seq[Long], vdiff: Seq[Long])
  extends UnaryExpression {
  require(vmin.length == vdiff.length && vmin.nonEmpty,
    s"grid arrays must align, got ${vmin.length}/${vdiff.length}")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_sq8_decode"

  @transient private lazy val mnArr: Array[Long] = vmin.toArray
  @transient private lazy val vdArr: Array[Long] = vdiff.toArray

  override def nullSafeEval(v: Any): Any =
    Sq8Decode.decode(v.asInstanceOf[ArrayData], mnArr, vdArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mn = ctx.addReferenceObj("sq8vmin", mnArr, "long[]")
    val vd = ctx.addReferenceObj("sq8vdiff", vdArr, "long[]")
    defineCodeGen(ctx, ev, a => s"graft.expr.kernels.Sq8Decode.decode($a, $mn, $vd)")
  }

  override protected def withNewChildInternal(newChild: Expression): Sq8Decode =
    copy(child = newChild)
}

object Sq8Decode {
  def decode(arr: ArrayData, mn: Array[Long], vd: Array[Long]): ArrayData = {
    val n = arr.numElements()
    val len = math.max(n, mn.length)
    val out = new Array[Any](len)
    var i = 0
    while (i < len) {
      if (i < n && i < mn.length && !arr.isNullAt(i)) {
        val s = math.floor(arr.getLong(i).toDouble * vd(i) / 255.0).toLong
        out(i) = s + mn(i)
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Per-query PQ lookup table for ONE subspace: entry l =
  * Σ_{i<sub} qe[s·sub+i] · books(l)(s·sub+i) — the m×k ADC table build
  * that runs once per (query, subspace) on EVERY PQ/IVFPQ serve. The
  * HOF form (an `aggregate`×`zip_with` per (query, label, subspace))
  * is CodegenFallback — an interpreted lambda per element on the
  * hottest serving-path expression — and its literal codeword arrays
  * inline O(k·dim) constants into the plan; here the codebooks ride as
  * ONE reference object and the generated method is a fixed-size
  * double loop at ANY k (the ArgminCentroid discipline). Bit-identical
  * to the HOF anchor including its null semantics: an entry is null
  * iff the query slice is incomplete (vector shorter than (s+1)·sub)
  * or carries a null element; a NULL vector yields the all-null array
  * (slice(NULL) poisons every aggregate, not the CreateArray). */
case class PqSubLut(child: Expression, books: Seq[IndexedSeq[Long]],
                    s: Int, sub: Int)
  extends UnaryExpression {
  require(books.nonEmpty && sub >= 1 && s >= 0,
    s"need codebooks and a valid subspace, got ${books.length} books, s=$s, sub=$sub")
  require(books.forall(_.length >= (s + 1) * sub),
    s"every codeword vector must cover subspace $s (need ${(s + 1) * sub} dims)")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_pq_sub_lut"

  @transient private lazy val bookArr: Array[Array[Long]] =
    books.map(_.toArray).toArray

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    PqSubLut.lut(child.eval(input).asInstanceOf[ArrayData], bookArr, s * sub, sub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("pqBooks", bookArr, "long[][]")
    val childGen = child.genCode(ctx)
    ev.copy(code =
      code"""
        |${childGen.code}
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        |  graft.expr.kernels.PqSubLut.lut(${childGen.isNull} ? null : ${childGen.value},
        |    $booksRef, ${s * sub}, $sub);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): PqSubLut =
    copy(child = newChild)
}

object PqSubLut {
  /** The table entries of the `sub` dims at `off`; `arr` may be null. */
  def lut(arr: ArrayData, books: Array[Array[Long]], off: Int, sub: Int): ArrayData = {
    var ok = arr != null && arr.numElements() >= off + sub
    var i = 0
    while (ok && i < sub) { if (arr.isNullAt(off + i)) ok = false; i += 1 }
    if (!ok) return new GenericArrayData(new Array[Any](books.length))
    val out = new Array[Long](books.length)
    var l = 0
    while (l < books.length) {
      val b = books(l)
      var acc = 0L; var j = 0
      while (j < sub) { acc += arr.getLong(off + j) * b(off + j); j += 1 }
      out(l) = acc
      l += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** PQ asymmetric distance of one code row against one flat lookup
  * table: Σ_{s<m} lut[s·k + codes[s]] — the m table reads of the ADC
  * scan in one loop, where the per-subspace form ran m `element_at`
  * lookups with their own index casts on every (query, candidate) row.
  * `lut` is the m per-subspace [[PqSubLut]] arrays concatenated (k
  * entries each). A code outside [0, k), or a code row shorter than m,
  * throws — a corrupt or foreign code store fails the serve loudly and
  * never reads another subspace's slot (the ANSI `element_at` contract
  * of the per-subspace form). A null code or a null table entry makes
  * the score null. */
case class PqAdc(left: Expression, right: Expression, m: Int, k: Int)
  extends BinaryExpression {
  require(m >= 1 && k >= 1, s"need m >= 1 and k >= 1, got m=$m, k=$k")

  override def dataType: DataType = LongType
  // a null code or table entry nulls the score even when neither input
  // array is null
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_adc"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val isNull = new Array[Boolean](1)
    val acc = PqAdc.score(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], m, k, isNull)
    if (isNull(0)) null else acc
  }

  // the null flag comes back through a per-partition one-slot array, so
  // the generated row path stays on an unboxed long
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val isNull = ctx.addMutableState("boolean[]", "adcNull", v => s"$v = new boolean[1];")
    nullSafeCodeGen(ctx, ev, (lut, codes) =>
      s"""${ev.value} = graft.expr.kernels.PqAdc.score($lut, $codes, $m, $k, $isNull);
         |${ev.isNull} = $isNull[0];""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdc =
    copy(left = l, right = r)
}

object PqAdc {
  /** Σ lut[s·k + codes[s]]; sets `isNull(0)` when a code or a table
    * entry it reads is null. */
  def score(lut: ArrayData, codes: ArrayData, m: Int, k: Int, isNull: Array[Boolean]): Long = {
    checkShape(lut.numElements(), codes.numElements(), m, k)
    var acc = 0L; var nul = false; var s = 0
    while (s < m) {
      if (codes.isNullAt(s)) nul = true
      else {
        val i = slot(codes.getLong(s), s, k)
        if (lut.isNullAt(i)) nul = true else acc += lut.getLong(i)
      }
      s += 1
    }
    isNull(0) = nul
    acc
  }

  def checkShape(lutLen: Int, codesLen: Int, m: Int, k: Int): Unit = {
    if (codesLen < m) throw new ArrayIndexOutOfBoundsException(
      s"PQ code row has $codesLen codes, the index needs $m")
    if (lutLen < m * k) throw new ArrayIndexOutOfBoundsException(
      s"PQ lookup table has $lutLen entries, the index needs ${m * k}")
  }

  /** The flat table slot of `code` in subspace `s`, bounds-checked. */
  def slot(code: Long, s: Int, k: Int): Int = {
    if (code < 0L || code >= k) throw new ArrayIndexOutOfBoundsException(
      s"PQ code $code in subspace $s is outside [0, $k)")
    s * k + code.toInt
  }
}

/** MinHash signature over hashed shingles: one pass over the array
  * updating all permutation minima (vs 16 interpreted transforms).
  * Empty input → null, matching Dedup.minHashSignature. */
case class MinHashSig(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(v: Any): Any = MinHashSig.signature(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = graft.expr.kernels.MinHashSig.signature($a);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  private val seedA: Array[Long] = graft.llm.Dedup.Seeds.map(_._1).toArray
  private val seedB: Array[Long] = graft.llm.Dedup.Seeds.map(_._2).toArray

  /** The signature, or null for an empty shingle set. */
  def signature(hs: ArrayData): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return null
    val a = seedA; val b = seedB
    val mins = new Array[Long](a.length)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < a.length) {
        // Text.HashP as a literal: a constant modulus compiles to a
        // multiply, a field read to a division per (shingle, seed)
        val m = (a(j) * h + b(j)) % 2147483647L
        if (m < mins(j)) mins(j) = m
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

/** SimHash over hashed words: one pass accumulating all bit votes
  * (vs `bits` interpreted aggregate passes). Matches Dedup.simHash:
  * bit b set iff the ±1 vote sum of word-hash bit b is positive. */
case class SimHashExpr(child: Expression, bits: Int) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def nullSafeEval(v: Any): Any = SimHashExpr.simHash(v.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.expr.kernels.SimHashExpr.simHash($a, $bits)")

  override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
    copy(child = newChild)
}

object SimHashExpr {
  def simHash(arr: ArrayData, bits: Int): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < bits) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L; var b = 0
    while (b < bits) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }
}

/** Scalar kernel for [[CharEntropyMicro]] — a plain object so the
  * generated code calls ONE static method per row (the StaticInvoke
  * convention Spark builtins use for loop-heavy kernels; the call
  * stays inside the whole-stage-codegen pipeline). Identical math to
  * `Text.charEntropyFrame`'s explode+agg formulation: per-code-point
  * counts k, per-term floor(k·ln k·1e6) longs summed, h =
  * floor(ln n·1e6) − sum/n (long division). ASCII fast path (int[128]),
  * HashMap beyond. */
object CharEntropyKernel {
  def compute(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val str = s.toString
    val ascii = new Array[Long](128)
    var other: java.util.HashMap[Integer, Array[Long]] = null
    var n = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      n += 1
      if (cp < 128) ascii(cp) += 1
      else {
        if (other == null) other = new java.util.HashMap[Integer, Array[Long]]()
        val cell = other.get(cp)
        if (cell == null) other.put(cp, Array(1L)) else cell(0) += 1
      }
    }
    if (n == 0) return null
    var sum = 0L
    var c = 0
    while (c < 128) {
      val k = ascii(c)
      if (k > 0) sum += math.floor(k.toDouble * math.log(k.toDouble) * 1e6).toLong
      c += 1
    }
    if (other != null) {
      val it = other.values().iterator()
      while (it.hasNext) {
        val k = it.next()(0)
        sum += math.floor(k.toDouble * math.log(k.toDouble) * 1e6).toLong
      }
    }
    val h = math.floor(math.log(n.toDouble) * 1e6).toLong - sum / n
    new GenericArrayData(Array(n, h))
  }
}

/** Unicode NFC normalization — the canonical-composition cleaning step
  * every multilingual corpus needs BEFORE hashing/dedup (a decomposed
  * "cafe&#769;" and a precomposed "café" are different byte strings,
  * different md5s, different dedup keys — and the same text). Spark
  * has no built-in; this wraps the JDK's Normalizer (Unicode's own
  * normative algorithm, the same tables DuckDB's nfc_normalize uses)
  * as a codegen-friendly static-kernel expression. */
object NfcKernel {
  def nfc(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    // fast path: NFC-is-identity for ASCII/already-composed text
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(v: Any): Any =
    NfcKernel.nfc(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.kernels.NfcKernel.nfc($c);")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Numeric/hex HTML character-reference decoder — `&#123;` and
  * `&#x1F600;`/`&#X1f600;` to their codepoints, including astral-plane
  * ones (the JDK `char` is a UTF-16 unit; this appends the full
  * codepoint). The contract is a FIXED, oracle-replayable rewrite, not
  * the HTML5 parser: a reference decodes iff it is `&#` + 1..7
  * digits of its base + `;` and the value is a Unicode scalar
  * (1..0x10FFFF, not a surrogate); anything else — `&#xZZ;`, `&#;`,
  * unterminated digits, 8+ digit runs, `&#0;`, surrogate or
  * out-of-range values — passes through VERBATIM (malformed web text
  * must stay inspectable, not disappear). Decoding is one
  * left-to-right pass over the INPUT: produced characters are never
  * rescanned, which is exactly the semantics of the DuckDB
  * split-on-`&#` replay (every `&#` occurrence is a decode site;
  * each either becomes a codepoint or re-emits itself). */
object HtmlEntityKernel {
  def decode(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val str = s.toString
    var i = str.indexOf("&#")
    if (i < 0) return s
    val sb = new java.lang.StringBuilder(str.length)
    var pos = 0
    while (i >= 0) {
      sb.append(str, pos, i)
      var j = i + 2
      var hex = false
      if (j < str.length && (str.charAt(j) == 'x' || str.charAt(j) == 'X')) {
        hex = true; j += 1
      }
      val dStart = j
      var v = 0L
      var cont = true
      while (cont && j < str.length && j - dStart < 7) {
        val c = str.charAt(j)
        val d =
          if (c >= '0' && c <= '9') c - '0'
          else if (hex && c >= 'a' && c <= 'f') c - 'a' + 10
          else if (hex && c >= 'A' && c <= 'F') c - 'A' + 10
          else -1
        if (d < 0) cont = false
        else { v = v * (if (hex) 16L else 10L) + d; j += 1 }
      }
      val nDigits = j - dStart
      val trailingDigit = j < str.length && {
        val c = str.charAt(j)
        (c >= '0' && c <= '9') || (hex && ((c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')))
      }
      if (nDigits == 0 || trailingDigit || j >= str.length ||
        str.charAt(j) != ';' || v < 1L || v > 0x10FFFFL ||
        (v >= 0xD800L && v <= 0xDFFFL)) {
        sb.append("&#")
        pos = i + 2
      } else {
        sb.appendCodePoint(v.toInt)
        pos = j + 1
      }
      i = str.indexOf("&#", pos)
    }
    sb.append(str, pos, str.length)
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }
}

case class HtmlEntityDecode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_html_entities"

  override def nullSafeEval(v: Any): Any =
    HtmlEntityKernel.decode(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.kernels.HtmlEntityKernel.decode($c);")

  override protected def withNewChildInternal(newChild: Expression): HtmlEntityDecode =
    copy(child = newChild)
}

/** Per-row character-entropy kernel: [n_chars_counted, h_micro] in one
  * pass over the string — the PURE MAP-SIDE form of
  * `Text.charEntropyFrame`. The explode+two-agg formulation ships one
  * row per (doc, distinct char) through an exchange; at 100 TB the
  * entropy of every document is a scan-stage projection and should
  * never touch a shuffle. NULL or empty text → NULL (callers coalesce
  * the n slot to 0, matching the frame version's left join).
  * Differential-asserted equal to the declarative version in
  * NativeExprSpec. */
case class CharEntropyMicro(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_char_entropy"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else CharEntropyKernel.compute(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    ev.copy(code =
      code"""
        |${childGen.code}
        |boolean ${ev.isNull} = true;
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        |if (!${childGen.isNull}) {
        |  ${ev.value} = graft.expr.kernels.CharEntropyKernel.compute(${childGen.value});
        |  ${ev.isNull} = ${ev.value} == null;
        |}
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): CharEntropyMicro =
    copy(child = newChild)
}

/** Scalar Morton kernels shared by the native expressions below and
  * their interpreted eval paths — the same mask-spread sequence as
  * graft.io.ZOrder's Column formulation (bit-identical; asserted in
  * ZOrderSpec's differential test). */
object Morton {
  def spread1(x0: Long): Long = {
    var x = x0 & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    (x | (x << 1)) & 0x5555555555555555L
  }
  def spread2(x0: Long): Long = {
    var x = x0 & 0x1FFFFFL
    x = (x | (x << 32)) & 0x001F00000000FFFFL
    x = (x | (x << 16)) & 0x001F0000FF0000FFL
    x = (x | (x << 8)) & 0x100F00F00F00F00FL
    x = (x | (x << 4)) & 0x10C30C30C30C30C3L
    (x | (x << 2)) & 0x1249249249249249L
  }
  def z2(a: Long, b: Long): Long = spread1(a) | (spread1(b) << 1)
  def z3(a: Long, b: Long, c: Long): Long =
    spread2(a) | (spread2(b) << 1) | (spread2(c) << 2)
}

/** 2-D Morton (Z-order) interleave of two long cell indices — the
  * clustering key behind ZOrder.writeZOrdered. A native expression
  * because the Column-combinator foldLeft references its accumulator
  * twice per step: the expression TREE duplicates 2^steps ≈ 32×
  * (codegen subexpression elimination recovers the runtime, but the
  * generated source and analysis-time tree stay bloated). Here it is
  * one call of eleven straight-line statements. */
case class Morton2(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_morton2"

  override def nullSafeEval(a: Any, b: Any): Any =
    Morton.z2(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.kernels.Morton.z2($a, $b)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Morton2 =
    copy(left = l, right = r)
}

/** 3-D Morton interleave (21 bits per dimension). */
case class Morton3(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_morton3"

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    Morton.z3(a.asInstanceOf[Long], b.asInstanceOf[Long], c.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.expr.kernels.Morton.z3($a, $b, $c)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Morton3 =
    copy(first = f, second = s, third = t)
}

/** Deterministic k-means assignment: over centroids (id, vector),
  * argmin of ||c||² − 2·x·c — exactly the squared-distance order (the
  * ||x||² term is a per-row constant), ties to the LOWEST centroid id
  * (ids must ascend) — bit-identical to the struct-array_min
  * formulation it replaces (NativeExprSpec differential). The
  * [[TopNCentroids]] loop at n = 1. Centroids ride as REFERENCE
  * OBJECTS, not code literals: the generated method is a fixed-size
  * double loop whatever nlist is. The literal-chain form emitted
  * O(nlist·dim) literals and stopped COMPILING at ~400 centroids
  * (Janino limits) — the silent interpreted fallback turned the
  * 100×-scale assign pass super-linear (sf10 BenchScale caught it);
  * SemDeDup-scale nlist (~100k cells) was structurally impossible. Dot
  * loops over min(dim, |c|), the [[LongDot]] convention. */
case class ArgminCentroid(child: Expression, ids: Seq[Long],
                          cents: Seq[IndexedSeq[Long]])
  extends UnaryExpression {
  require(ids.nonEmpty && ids.length == cents.length,
    s"need one id per centroid, got ${ids.length} ids / ${cents.length} centroids")
  require(ids.sliding(2).forall(w => w.size < 2 || w(0) < w(1)),
    "centroid ids must be strictly ascending (the tie-break contract)")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_argmin_centroid"

  @transient private lazy val idArr: Array[Long] = ids.toArray
  @transient private lazy val centArr: Array[Array[Long]] =
    cents.map(_.toArray).toArray
  @transient private lazy val normArr: Array[Long] =
    centArr.map(c => c.map(x => x * x).sum)

  override def nullSafeEval(v: Any): Any =
    ArgminCentroid.argmin(v.asInstanceOf[ArrayData], idArr, centArr, normArr,
      new Array[Long](1), new Array[Long](1))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("centIds", idArr, "long[]")
    val centsRef = ctx.addReferenceObj("cents", centArr, "long[][]")
    val normsRef = ctx.addReferenceObj("centNorms", normArr, "long[]")
    // per-partition scratch: the row path allocates nothing
    val bd = ctx.addMutableState("long[]", "centBd", v => s"$v = new long[1];")
    val bid = ctx.addMutableState("long[]", "centBid", v => s"$v = new long[1];")
    defineCodeGen(ctx, ev, x =>
      s"graft.expr.kernels.ArgminCentroid.argmin($x, $idsRef, $centsRef, $normsRef, $bd, $bid)")
  }

  override protected def withNewChildInternal(newChild: Expression): ArgminCentroid =
    copy(child = newChild)
}

object ArgminCentroid {
  /** `bd` and `bid` are one-slot scratch arrays. */
  def argmin(x: ArrayData, ids: Array[Long], cents: Array[Array[Long]], norms: Array[Long],
             bd: Array[Long], bid: Array[Long]): Long = {
    TopNCentroids.nearest(x, ids, cents, norms, bd, bid)
    bid(0)
  }
}

/** The `nprobe` nearest centroids (ids, nearest-first) by the same
  * dot-identity squared-distance order as [[ArgminCentroid]] — the
  * multi-probe cell assignment: a vector near a cell BOUNDARY joins
  * its runner-up cells too, so the cell-bucketed self-joins
  * (kNN graph, SemDeDup) stop losing the neighbors that sit just
  * across the boundary (the IVF nprobe recall dial applied to the
  * similarity-JOIN side). Ordering: d = ||c||² − 2·x·c ascending,
  * ties to the LOWER centroid id (ids must ascend; strict `<` on the
  * insertion keeps earlier = lower id ahead on ties — bit-identical
  * to a sort by (d, id)). Centroids ride as reference objects, so
  * generated code is fixed-size at any nlist. n is clamped to the
  * centroid count. */
case class TopNCentroids(child: Expression, ids: Seq[Long],
                         cents: Seq[IndexedSeq[Long]], n: Int)
  extends UnaryExpression {
  require(ids.nonEmpty && ids.length == cents.length,
    s"need one id per centroid, got ${ids.length} ids / ${cents.length} centroids")
  require(ids.sliding(2).forall(w => w.size < 2 || w(0) < w(1)),
    "centroid ids must be strictly ascending (the tie-break contract)")
  require(n >= 1, s"n must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_topn_centroids"

  @transient private lazy val idArr: Array[Long] = ids.toArray
  @transient private lazy val centArr: Array[Array[Long]] =
    cents.map(_.toArray).toArray
  @transient private lazy val normArr: Array[Long] =
    centArr.map(c => c.map(x => x * x).sum)
  private val keep: Int = math.min(n, ids.length)

  override def nullSafeEval(v: Any): Any =
    TopNCentroids.top(v.asInstanceOf[ArrayData], idArr, centArr, normArr,
      new Array[Long](keep), new Array[Long](keep))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("centIds", idArr, "long[]")
    val centsRef = ctx.addReferenceObj("cents", centArr, "long[][]")
    val normsRef = ctx.addReferenceObj("centNorms", normArr, "long[]")
    val bd = ctx.addMutableState("long[]", "centBd", v => s"$v = new long[$keep];")
    val bid = ctx.addMutableState("long[]", "centBid", v => s"$v = new long[$keep];")
    defineCodeGen(ctx, ev, x =>
      s"graft.expr.kernels.TopNCentroids.top($x, $idsRef, $centsRef, $normsRef, $bd, $bid)")
  }

  override protected def withNewChildInternal(newChild: Expression): TopNCentroids =
    copy(child = newChild)
}

object TopNCentroids {
  /** `bd` and `bid` are scratch arrays of the kept length. */
  def top(x: ArrayData, ids: Array[Long], cents: Array[Array[Long]], norms: Array[Long],
          bd: Array[Long], bid: Array[Long]): ArrayData =
    new GenericArrayData(java.util.Arrays.copyOf(bid, nearest(x, ids, cents, norms, bd, bid)))

  /** The nearest-centroid loop of both centroid kernels: fills `bid`
    * with the ids of the `bid.length` nearest centroids, nearest first,
    * and `bd` (as long as `bid`) with their distances; returns how many
    * slots it filled. */
  def nearest(x: ArrayData, ids: Array[Long], cents: Array[Array[Long]], norms: Array[Long],
              bd: Array[Long], bid: Array[Long]): Int = {
    val dim = x.numElements()
    val keep = bid.length
    var cnt = 0
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val nn = math.min(dim, c.length)
      var dot = 0L; var i = 0
      while (i < nn) { dot += x.getLong(i) * c(i); i += 1 }
      val d = norms(j) - 2L * dot
      var p = cnt
      var t = 0
      while (t < cnt && p == cnt) { if (d < bd(t)) p = t; t += 1 }
      if (p < keep) {
        var q = math.min(cnt, keep - 1)
        while (q > p) { bd(q) = bd(q - 1); bid(q) = bid(q - 1); q -= 1 }
        bd(p) = d; bid(p) = ids(j)
        if (cnt < keep) cnt += 1
      }
      j += 1
    }
    cnt
  }
}

/** The IVF probe: a query's best `n` coarse labels (best first) by
  * centroid mean-dot against the centroid SUM table,
  * score(label) = (double) Σ_pos qe[pos]·s(label, pos) / cnt(label),
  * score descending, ties to the LOWER label (labels must ascend;
  * strict `>` on insertion keeps the earlier label ahead). Each label
  * carries its sum-table rows as (pos, s) pairs and its count, as
  * reference objects, so generated code is fixed-size at any nlist.
  * Null semantics follow the row form it replaces (posexplode(qe) ⋈
  * sums on pos → sum → row_number): a position past the end of the
  * query matches nothing, a null element contributes nothing, a label
  * none of whose positions match is not a candidate, and a label whose
  * matched elements are all null scores NULL and ranks after every
  * scored label. n is clamped to the candidate count; a null query
  * yields null. */
case class IvfProbe(child: Expression, ids: Seq[Long], pos: Seq[IndexedSeq[Int]],
                    sums: Seq[IndexedSeq[Long]], cnts: Seq[Long], n: Int)
  extends UnaryExpression {
  require(ids.nonEmpty && ids.length == pos.length && ids.length == sums.length &&
    ids.length == cnts.length,
    s"need one (pos, sums, cnt) per label, got ${ids.length} labels")
  require(pos.zip(sums).forall { case (p, s) => p.length == s.length },
    "every label needs one sum per position")
  require(ids.sliding(2).forall(w => w.size < 2 || w(0) < w(1)),
    "labels must be strictly ascending (the tie-break contract)")
  require(cnts.forall(_ >= 1L), "every label needs a positive count")
  require(n >= 1, s"n must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ivf_probe"

  @transient private lazy val idArr: Array[Long] = ids.toArray
  @transient private lazy val posArr: Array[Array[Int]] = pos.map(_.toArray).toArray
  @transient private lazy val sumArr: Array[Array[Long]] = sums.map(_.toArray).toArray
  @transient private lazy val cntArr: Array[Long] = cnts.toArray

  override def nullSafeEval(v: Any): Any =
    IvfProbe.top(v.asInstanceOf[ArrayData], idArr, posArr, sumArr, cntArr, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idsRef = ctx.addReferenceObj("probeIds", idArr, "long[]")
    val posRef = ctx.addReferenceObj("probePos", posArr, "int[][]")
    val sumsRef = ctx.addReferenceObj("probeSums", sumArr, "long[][]")
    val cntsRef = ctx.addReferenceObj("probeCnts", cntArr, "long[]")
    defineCodeGen(ctx, ev, x =>
      s"graft.expr.kernels.IvfProbe.top($x, $idsRef, $posRef, $sumsRef, $cntsRef, $n)")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfProbe =
    copy(child = newChild)
}

object IvfProbe {
  def top(x: ArrayData, ids: Array[Long], pos: Array[Array[Int]],
          sums: Array[Array[Long]], cnts: Array[Long], n: Int): ArrayData = {
    val dim = x.numElements()
    val keep = math.min(n, ids.length)
    val bs = new Array[Double](keep)
    val bnull = new Array[Boolean](keep)
    val bid = new Array[Long](keep)
    var cnt = 0
    var j = 0
    while (j < ids.length) {
      val p = pos(j); val s = sums(j)
      var dot = 0L; var matched = false; var scored = false
      var t = 0
      while (t < p.length) {
        val i = p(t)
        if (i < dim) {
          matched = true
          if (!x.isNullAt(i)) { scored = true; dot += x.getLong(i) * s(t) }
        }
        t += 1
      }
      if (matched) {
        val sc = if (scored) dot.toDouble / cnts(j).toDouble else 0.0
        // first slot this label ranks strictly ahead of; a NULL score
        // is never ahead of anything
        var at = cnt
        t = 0
        while (t < cnt && at == cnt) {
          if (scored && (bnull(t) || sc > bs(t))) at = t
          t += 1
        }
        if (at < keep) {
          var q = math.min(cnt, keep - 1)
          while (q > at) {
            bs(q) = bs(q - 1); bnull(q) = bnull(q - 1); bid(q) = bid(q - 1); q -= 1
          }
          bs(at) = sc; bnull(at) = !scored; bid(at) = ids(j)
          if (cnt < keep) cnt += 1
        }
      }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(bid, cnt))
  }
}

/** Codegen'd binary search over a literal sorted boundary array:
  * returns the number of boundaries <= the value (the cell index in
  * [0, |bounds|]). The scale-robust building block behind rank-based
  * Z-order cells and quantile histograms — a HOF fold over a
  * 4096-element literal array is O(n) interpreted lambda calls per
  * row; this is O(log n) inside whole-stage codegen. `bounds` must be
  * strictly increasing (callers dedupe); a Seq parameter (not Array)
  * so case-class equality/canonicalization stay value-based. */
case class SearchSortedDouble(child: Expression, bounds: Seq[Double])
  extends UnaryExpression {
  require(bounds.nonEmpty && bounds.sliding(2).forall(w => w.size < 2 || w(0) < w(1)),
    "bounds must be non-empty and strictly increasing")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_search_sorted"

  @transient private lazy val arr: Array[Double] = bounds.toArray

  override def nullSafeEval(v: Any): Any = SearchSortedDouble.cell(arr, v.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bounds", arr, "double[]")
    defineCodeGen(ctx, ev, v => s"graft.expr.kernels.SearchSortedDouble.cell($ref, $v)")
  }

  override protected def withNewChildInternal(newChild: Expression): SearchSortedDouble =
    copy(child = newChild)
}

object SearchSortedDouble {
  def cell(bounds: Array[Double], v: Double): Long = {
    val r = java.util.Arrays.binarySearch(bounds, v)
    (if (r >= 0) r + 1 else -(r + 1)).toLong
  }
}

/** Scalar kernel for [[GopherRepetition]] — the WHOLE Gopher
  * within-document repetition battery (Rae et al. 2021 Table A1) in
  * ONE pass per row, the pure map-side form of the explode+window+join
  * formulation in `Curate.gopherRepetitionFrames`: every statistic is
  * within-document, so at 100 TB the battery is a scan-stage
  * projection and should never touch a shuffle (the frame version paid
  * ~9 exchanges per call). Identical arithmetic, asserted
  * differentially in NativeExprSpec:
  *  - tokenization = filter(split(lower(text), "\\s+"), len > 0) via
  *    the SAME UTF8String.toLowerCase and java.util.regex the built-in
  *    lower()/split() use; lengths count CODE POINTS (Spark length());
  *  - lines split on "\n" over the ORIGINAL text;
  *  - top-n (n=2..4): the most frequent space-joined n-gram, ties to
  *    the CODE-POINT-smallest gram (== UTF-8 byte order == Spark's
  *    string ordering), coverage = count × (gram chars − (n−1));
  *  - dup-n (n=5..10): positions covered by any n-gram occurring ≥ 2
  *    times (coverage union), summed by word chars;
  *  - exact integer per-mille (x·1000 div y), NULL when the
  *    denominator is 0 or the source rows were absent — bit-for-bit
  *    the left-join/when semantics of the frame version.
  * Output: 12 nullable longs [n_chars, dup_line_pm, dup_line_char_pm,
  * top2..4_char_pm, dup5..10_char_pm]. */
object GopherRepKernel {
  private val WS = java.util.regex.Pattern.compile("\\s+")
  private val NL = java.util.regex.Pattern.compile("\n")

  /** Code-point count — Spark's length() semantics. */
  private def cpLen(s: String): Long =
    s.codePointCount(0, s.length).toLong

  /** Code-point order == UTF-8 byte order == Spark string `<`. */
  private[kernels] def cpCompare(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ca = a.charAt(i); val cb = b.charAt(i)
      if (ca != cb)
        return Integer.compare(Character.codePointAt(a, i),
          Character.codePointAt(b, i))
      i += 1
    }
    Integer.compare(a.length, b.length)
  }

  def compute(text: org.apache.spark.unsafe.types.UTF8String,
              loweredText: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val out = new Array[Any](12)
    // ---- line rules (original text, split on \n) ----
    val raw = text.toString
    val lines = NL.split(raw, -1)
    var nl = 0L; var dl = 0L; var nlc = 0L; var dlc = 0L
    val lineCounts = new java.util.HashMap[String, Array[Long]]()
    var li = 0
    while (li < lines.length) {
      val cell = lineCounts.get(lines(li))
      if (cell == null) lineCounts.put(lines(li), Array(1L)) else cell(0) += 1
      li += 1
    }
    val lit = lineCounts.entrySet().iterator()
    while (lit.hasNext) {
      val e = lit.next()
      val c = e.getValue()(0); val len = cpLen(e.getKey)
      nl += c; dl += c - 1; nlc += c * len; dlc += (c - 1) * len
    }
    out(1) = java.lang.Long.valueOf(dl * 1000L / nl) // nl >= 1 always
    if (nlc > 0L) out(2) = java.lang.Long.valueOf(dlc * 1000L / nlc)
    // ---- tokenization (lower + \s+ split + drop empties); the
    // lowering itself is done by Spark's own Lower expression (the
    // second child), so its case mapping can never drift from the
    // built-in lower() whatever collation/ICU mode the session runs ----
    val lowered = loweredText.toString
    val rawWords = WS.split(lowered, -1)
    var nw = 0
    var wi = 0
    while (wi < rawWords.length) {
      if (rawWords(wi).length > 0) nw += 1
      wi += 1
    }
    val words = new Array[String](nw)
    val wlen = new Array[Long](nw)
    var nChars = 0L
    var k = 0
    wi = 0
    while (wi < rawWords.length) {
      if (rawWords(wi).length > 0) {
        words(k) = rawWords(wi)
        wlen(k) = cpLen(rawWords(wi))
        nChars += wlen(k)
        k += 1
      }
      wi += 1
    }
    out(0) = java.lang.Long.valueOf(nChars)
    if (nChars == 0L) return new GenericArrayData(out) // all gram pms NULL
    // ---- top-n coverage (n = 2..4): most frequent gram, ties to the
    // code-point-smallest; NULL raw when the doc has no n-grams ----
    var n = 2
    while (n <= 4) {
      val m = nw - n + 1
      if (m >= 1) {
        val counts = new java.util.HashMap[String, Array[Long]](math.max(4, m * 2))
        val sb = new java.lang.StringBuilder
        var i = 0
        while (i < m) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(words(i + j)); j += 1
          }
          val g = sb.toString
          val cell = counts.get(g)
          if (cell == null) counts.put(g, Array(1L)) else cell(0) += 1
          i += 1
        }
        var bestC = 0L
        var bestG: String = null
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val c = e.getValue()(0)
          if (c > bestC || (c == bestC && cpCompare(e.getKey, bestG) < 0)) {
            bestC = c; bestG = e.getKey
          }
        }
        val top = bestC * (cpLen(bestG) - (n - 1))
        out(n + 1) = java.lang.Long.valueOf(top * 1000L / nChars)
      } else out(n + 1) = java.lang.Long.valueOf(0L) // coalesce(NULL,0) arm
      n += 1
    }
    // ---- dup-n coverage union (n = 5..10): word positions inside any
    // gram occurring >= 2 times, summed by word chars; the frame
    // version leaves the per-mille at coalesce(NULL,0) when a width
    // has no duplicate gram ----
    n = 5
    while (n <= 10) {
      val m = nw - n + 1
      var dup = 0L
      if (m >= 1) {
        // gram -> first position, promoted to a position list on the
        // second occurrence (memory scales with DUPLICATED grams only)
        val first = new java.util.HashMap[String, Array[Int]](math.max(4, m * 2))
        val covered = new Array[Boolean](nw)
        var any = false
        val sb = new java.lang.StringBuilder
        var i = 0
        while (i < m) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(words(i + j)); j += 1
          }
          val g = sb.toString
          val cell = first.get(g)
          if (cell == null) first.put(g, Array(i))
          else {
            // duplicate: cover the earlier occurrence(s) and this one
            var p = 0
            while (p < cell.length) {
              if (cell(p) >= 0) {
                var q = cell(p)
                while (q < cell(p) + n) { covered(q) = true; q += 1 }
              }
              p += 1
            }
            first.put(g, Array(-1)) // already-covered marker
            var q = i
            while (q < i + n) { covered(q) = true; q += 1 }
            any = true
          }
          i += 1
        }
        if (any) {
          var p = 0
          while (p < nw) { if (covered(p)) dup += wlen(p); p += 1 }
          out(n + 1) = java.lang.Long.valueOf(dup * 1000L / nChars)
        } else out(n + 1) = java.lang.Long.valueOf(0L)
      } else out(n + 1) = java.lang.Long.valueOf(0L)
      n += 1
    }
    new GenericArrayData(out)
  }
}

/** One-pass Gopher repetition battery — see [[GopherRepKernel]]. NULL
  * text → NULL array (the frame version's all-NULL left-join row).
  * `right` must be lower(`left`) — the wrapper builds it that way so
  * Spark's own Lower performs the case mapping. */
case class GopherRepetition(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_gopher_rep"

  override def nullSafeEval(t: Any, l: Any): Any =
    GopherRepKernel.compute(
      t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      l.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, l) =>
      s"${ev.value} = graft.expr.kernels.GopherRepKernel.compute($t, $l);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): GopherRepetition =
    copy(left = l, right = r)
}

/** Column wrappers (no session registration needed) + function
  * registration for SQL users via SparkSessionExtensions. */
object NativeFns {
  import org.apache.spark.sql.graftbridge.Bridge.{column, expression}

  def longDot(a: Column, b: Column): Column = column(LongDot(expression(a), expression(b)))
  def minHashSig(c: Column): Column = column(MinHashSig(expression(c)))
  def simHash(c: Column, bits: Int = 16): Column = column(SimHashExpr(expression(c), bits))
  def topK(c: Column, k: Int): Column =
    column(TopKLongs(expression(c), k).toAggregateExpression())
  def topKRows(score: Column, id: Column, payload: Column, k: Int): Column =
    column(TopKRows(expression(score), expression(id), expression(payload), k)
      .toAggregateExpression())
  // long casts up front: the expressions assume LongType inputs (the
  // private[sql] ExpectsInputTypes machinery is closed to third parties)
  def morton2(a: Column, b: Column): Column =
    column(Morton2(expression(a.cast("long")), expression(b.cast("long"))))
  def morton3(a: Column, b: Column, c: Column): Column =
    column(Morton3(expression(a.cast("long")), expression(b.cast("long")),
      expression(c.cast("long"))))
  def searchSorted(v: Column, bounds: Seq[Double]): Column =
    column(SearchSortedDouble(expression(v.cast("double")), bounds))
  def argminCentroid(eq: Column, cents: Seq[(Long, Seq[Long])]): Column =
    column(ArgminCentroid(expression(eq), cents.map(_._1),
      cents.map(_._2.toIndexedSeq)))
  def topNCentroids(eq: Column, cents: Seq[(Long, Seq[Long])], n: Int): Column =
    column(TopNCentroids(expression(eq), cents.map(_._1),
      cents.map(_._2.toIndexedSeq), n))
  /** `sums` is one (label, pos, s, cnt) row per centroid-table row. */
  def ivfProbe(qe: Column, sums: Seq[(Long, Int, Long, Long)], n: Int): Column = {
    val byLabel = sums.groupBy(_._1).toSeq.sortBy(_._1)
    column(IvfProbe(expression(qe), byLabel.map(_._1),
      byLabel.map(_._2.map(_._2).toIndexedSeq), byLabel.map(_._2.map(_._3).toIndexedSeq),
      byLabel.map(_._2.map(_._4).max), n))
  }
  def quantizeArr(e: Column, scale: Int = 1000): Column =
    column(QuantizeArray(expression(e.cast("array<double>")), scale))
  def absMaxArr(e: Column): Column =
    column(AbsMaxArr(expression(e.cast("array<double>"))))
  def int8Quantize(e: Column, amax: Column): Column =
    column(Int8Quantize(expression(e.cast("array<double>")),
      expression(amax.cast("double"))))
  def tinyDot(a: Column, b: Column): Column =
    column(TinyDot(expression(a), expression(b)))
  def pqSubLut(qe: Column, books: Seq[IndexedSeq[Long]], s: Int, sub: Int): Column =
    column(PqSubLut(expression(qe), books, s, sub))
  def pqAdc(lut: Column, codes: Column, m: Int, k: Int): Column =
    column(PqAdc(expression(lut), expression(codes), m, k))
  def sq8Encode(q: Column, quant: Seq[(Long, Long)]): Column =
    column(Sq8Encode(expression(q), quant.map(_._1), quant.map(_._2)))
  def sq8Decode(codes: Column, quant: Seq[(Long, Long)]): Column =
    column(Sq8Decode(expression(codes), quant.map(_._1), quant.map(_._2)))
  def charEntropy(text: Column): Column = column(CharEntropyMicro(expression(text)))
  def gopherRep(text: Column): Column =
    column(GopherRepetition(expression(text),
      expression(org.apache.spark.sql.functions.lower(text))))
  def nfc(text: Column): Column = column(NfcNormalize(expression(text)))
  def htmlEntities(text: Column): Column = column(HtmlEntityDecode(expression(text)))
}

/** `spark.sql.extensions=graft.expr.kernels.GraftExtensions` exposes the
  * native kernels to SQL (`SELECT graft_minhash_sig(hs) ...`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.registrations.foreach(ext.injectFunction)
}

object GraftExtensions {
  import org.apache.spark.sql.graftbridge.Bridge.{column, expression}

  /** Lift a Column combinator from the F-series scalar layer into a
    * SQL-registrable expression builder — the whole cleaning layer is
    * then reachable from `spark.sql` without any Scala. */
  private def lift1(name: String, f: Column => Column) =
    (FunctionIdentifier(name),
      new ExpressionInfo(graft.expr.Exprs.getClass.getName, name),
      // full node->Expression conversion: registry output skips the
      // DataFrame analysis step that would otherwise convert it
      (c: Seq[Expression]) => {
        // arity-checked like Spark builtins — extra args must fail
        // analysis, not be silently ignored
        if (c.length != 1) throw new IllegalArgumentException(
          s"$name expects exactly 1 argument, got ${c.length}")
        org.apache.spark.sql.graftbridge.Bridge.convert(f(column(c.head)))
      })

  private val scalarRegistrations = Seq(
    lift1("graft_clean_string", graft.expr.Exprs.cleanString),
    lift1("graft_parse_timestamp", graft.expr.Exprs.parseFlexibleTimestamp),
    lift1("graft_normalize_status", graft.expr.Exprs.normalizeStatus),
    lift1("graft_parse_interests", graft.expr.Exprs.parseInterests),
    lift1("graft_clean_bool", graft.expr.Exprs.cleanBool),
    lift1("graft_mask_email", graft.expr.Exprs.maskEmail),
    lift1("graft_pg_array", graft.expr.Exprs.pgArrayLiteral),
    lift1("graft_iso_format", graft.expr.Exprs.isoFormat),
    lift1("graft_scrub_pii", graft.llm.Text.scrubPii))

  // same arity rule as lift1: surplus args fail analysis instead of
  // being silently dropped (graft_simhash(c, 48) computing 16 bits)
  private def exactly(name: String, n: Int)(c: Seq[Expression]): Seq[Expression] = {
    if (c.length != n) throw new IllegalArgumentException(
      s"$name expects exactly $n argument(s), got ${c.length}")
    c
  }

  private val registrations = scalarRegistrations ++ Seq(
    (FunctionIdentifier("graft_long_dot"),
      new ExpressionInfo(classOf[LongDot].getName, "graft_long_dot"),
      (c: Seq[Expression]) => { exactly("graft_long_dot", 2)(c); LongDot(c(0), c(1)) }),
    (FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash_sig"),
      (c: Seq[Expression]) => { exactly("graft_minhash_sig", 1)(c); MinHashSig(c.head) }),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashExpr].getName, "graft_simhash"),
      // 1-arg = default 16 bits; 2-arg = explicit literal bit width
      (c: Seq[Expression]) => c match {
        case Seq(e) => SimHashExpr(e, 16)
        case Seq(e, Literal(b: Int, IntegerType)) if b >= 1 && b <= 63 => SimHashExpr(e, b)
        case _ => throw new IllegalArgumentException(
          "graft_simhash(col[, bits]): bits must be an integer literal in [1, 63]")
      }),
    (FunctionIdentifier("graft_top_k"),
      new ExpressionInfo(classOf[TopKLongs].getName, "graft_top_k"),
      (c: Seq[Expression]) => exactly("graft_top_k", 2)(c)(1) match {
        case Literal(v: Int, IntegerType) => TopKLongs(c(0), v)
        case Literal(v: Long, LongType) => TopKLongs(c(0), v.toInt)
        case other => throw new IllegalArgumentException(
          s"graft_top_k(col, k): k must be an integer literal, got $other")
      }),
    (FunctionIdentifier("graft_morton2"),
      new ExpressionInfo(classOf[Morton2].getName, "graft_morton2"),
      (c: Seq[Expression]) => { exactly("graft_morton2", 2)(c); Morton2(c(0), c(1)) }),
    (FunctionIdentifier("graft_morton3"),
      new ExpressionInfo(classOf[Morton3].getName, "graft_morton3"),
      (c: Seq[Expression]) => { exactly("graft_morton3", 3)(c); Morton3(c(0), c(1), c(2)) }),
    (FunctionIdentifier("graft_char_entropy"),
      new ExpressionInfo(classOf[CharEntropyMicro].getName, "graft_char_entropy"),
      (c: Seq[Expression]) => {
        exactly("graft_char_entropy", 1)(c); CharEntropyMicro(c.head) }),
    (FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (c: Seq[Expression]) => { exactly("graft_nfc", 1)(c); NfcNormalize(c.head) }),
    (FunctionIdentifier("graft_html_entities"),
      new ExpressionInfo(classOf[HtmlEntityDecode].getName, "graft_html_entities"),
      (c: Seq[Expression]) => {
        exactly("graft_html_entities", 1)(c); HtmlEntityDecode(c.head) }))

  /** Register into an already-running session. */
  def install(spark: SparkSession): Unit = registrations.foreach { case (id, info, builder) =>
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)
  }
}
