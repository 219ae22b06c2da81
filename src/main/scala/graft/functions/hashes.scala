package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for document fingerprinting — native
  * codegen'd scalar functions (no UDF serialization, stays inside
  * WholeStageCodegen; SURVEY §7.3 optional-custom-Expression path).
  */

/** Polynomial rolling hash over a string's UTF-8 bytes:
  * `h = Σ h*31 + byte (mod 2^64)` — the classic Rabin–Karp/Java-style
  * rolling fingerprint, byte-order sensitive and stable across engines
  * and JVMs. Null-safe (null in → null out).
  */
case class RollingHash(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"rolling_hash needs a string input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = h * 31L + (bytes(i) & 0xffL); i += 1 }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = $h * 31L + ($bytes[$i] & 0xffL);
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
  override def prettyName: String = "rolling_hash"
}

/** 64-bit SimHash over a token array: each token hashes to 64 bits
  * (xxhash-style mix of the rolling hash); a document bit is set when
  * the token-weighted bit-sum is positive. The production-scale sibling
  * of [[graft.ops.Dedup.simhash16]] (which stays md5-portable for the
  * DuckDB oracle). Interpreted + codegen paths share [[SimHash64.evalImpl]].
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(_: StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 needs array<string>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    SimHash64.evalImpl(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHash64.evalImpl($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}

object SimHash64 {
  /** Mix a rolling hash into 64 well-distributed bits (splitmix64). */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // evalImpl, not eval: the case class inherits Expression.eval, which
  // suppresses the static forwarder for a companion `eval` — the generated
  // Java would fail Janino and silently run interpreted.
  def evalImpl(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    var t = 0
    val n = tokens.numElements()
    while (t < n) {
      if (!tokens.isNullAt(t)) {
        val bytes = tokens.getUTF8String(t).getBytes
        var h = 0L
        var i = 0
        while (i < bytes.length) { h = h * 31L + (bytes(i) & 0xffL); i += 1 }
        h = mix(h)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      t += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Hamming distance between two simhash signatures. */
  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}

/** Word n-gram shingles of a string — the native replacement for the
  * interpreted `transform(sequence(...), i -> array_join(slice(tokens,
  * i+1, n), " "))` higher-order-function chain (HOFs evaluate via
  * per-element interpreted lambdas; this is one codegen'd pass).
  * Semantics identical to that chain over `split(trim(s), "\s+")`:
  * whitespace-run tokenization of the trimmed input; fewer than `n`
  * tokens → empty array. Null in → null out.
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType] && n >= 1)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"word_shingles needs (string, n>=1), got ${child.dataType.catalogString}, n=$n")

  override def nullSafeEval(input: Any): Any =
    WordShingles.evalImpl(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WordShingles.evalImpl($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
  override def prettyName: String = "word_shingles"
}

object WordShingles {
  // evalImpl, not eval — see SimHash64's companion note.
  def evalImpl(s: UTF8String, n: Int): ArrayData = {
    val str = s.toString.trim
    if (str.isEmpty) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val tokens = str.split("\\s+")
    if (tokens.length < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](tokens.length - n + 1)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < out.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(tokens(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Whole-document MinHash signature in ONE pass — the row-local fusion
  * of explode(shingles) → md5 ×2 → groupBy(id).agg(min×8). Semantics are
  * bit-identical to that pipeline (see [[graft.ops.Dedup.minhashSignatures]]
  * and FunctionsSpec): per 3-word shingle, two md5 hex digests
  * (`md5(s)`, `md5('~'+s)`) are sliced into four 8-hex-char chunks each,
  * and the signature is the lexicographic minimum of each chunk over the
  * doc's shingles. Returns `array<string>` of 8 chunks; docs with fewer
  * than `n` tokens (no shingles) return null — exactly the rows the
  * aggregation formulation dropped.
  *
  * Scale: this removes the minhash pipeline's widest stage — the
  * exploded (id, shingle) bag and its groupBy shuffle — making signature
  * computation embarrassingly parallel; only the narrow (id, band_hash)
  * rows ever shuffle.
  */
case class MinHashSigs(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType] && n >= 1)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_sigs needs (string, n>=1), got ${child.dataType.catalogString}, n=$n")

  override def nullSafeEval(input: Any): Any =
    MinHashSigs.evalImpl(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.MinHashSigs.evalImpl($c, $n);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
  override def prettyName: String = "minhash_sigs"
}

object MinHashSigs {
  // One digest per executor thread: DigestUtils would re-construct a
  // MessageDigest per call — millions of allocations over a shingle bag.
  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Unsigned lexicographic compare of 4-byte chunks — identical order
    * to comparing their lowercase-hex encodings (each byte maps to two
    * hex chars monotonically), so byte-level minima match the
    * `min(substring(md5hex, …))` aggregation exactly.
    */
  private def lessThan(src: Array[Byte], off: Int, min: Array[Byte]): Boolean = {
    var i = 0
    while (i < 4) {
      val a = src(off + i) & 0xff
      val b = min(i) & 0xff
      if (a != b) return a < b
      i += 1
    }
    false
  }

  /** Null when the doc has no shingles (fewer than n tokens). Token
    * bytes stream straight into the digest (no shingle strings are
    * materialized); identical token/shingle semantics to
    * [[WordShingles.evalImpl]] — same trim + `\s+` split + single-space
    * join, here as digest updates. (evalImpl, not eval — see SimHash64.)
    */
  def evalImpl(text: UTF8String, n: Int): ArrayData = {
    val str = text.toString.trim
    if (str.isEmpty) return null
    val tokens = str.split("\\s+")
    if (tokens.length < n) return null
    val tokBytes = new Array[Array[Byte]](tokens.length)
    var t = 0
    while (t < tokens.length) {
      tokBytes(t) = tokens(t).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      t += 1
    }
    val md = md5.get()
    val mins = new Array[Array[Byte]](8)
    val m = tokens.length - n + 1
    var i = 0
    while (i < m) {
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(' '.toByte)
        md.update(tokBytes(i + j))
        j += 1
      }
      val h1 = md.digest()
      md.reset()
      md.update('~'.toByte)
      j = 0
      while (j < n) {
        if (j > 0) md.update(' '.toByte)
        md.update(tokBytes(i + j))
        j += 1
      }
      val h2 = md.digest()
      var k = 0
      while (k < 8) {
        val src = if (k < 4) h1 else h2
        val off = (k % 4) * 4
        if (mins(k) == null || lessThan(src, off, mins(k))) {
          val c = new Array[Byte](4)
          System.arraycopy(src, off, c, 0, 4)
          mins(k) = c
        }
        k += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      mins.map(c => UTF8String.fromString(
        org.apache.commons.codec.binary.Hex.encodeHexString(c)): Any))
  }
}

/** Int8 scalar quantization of an embedding vector — the standard
  * 4-8× vector-store compression: `scale = maxabs/127`, `code_i =
  * clamp(floor(v_i/scale + 0.5), ±127)`. One codegen pass per row (two
  * tight loops, no HOF lambdas); an all-zero vector quantizes to all
  * zeros rather than dividing by zero. Deterministic and exactly
  * replayable cross-engine: maxabs is an exact max over exact
  * float→double casts, the scale is ONE double division, each code is
  * one more division + floor — every step IEEE-defined with a single
  * rounding, so DuckDB's `list_transform` replay produces identical
  * integers (FunctionsSpec pins byte-equivalence against Spark's own
  * transform() composition too). Null in → null out.
  */
case class QuantizeI8(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.IntegerType,
    // null elements pass through as null (the transform() composition's
    // semantics) — so the result is nullable exactly when the input is
    containsNull = child.dataType match {
      case ArrayType(_, cn) => cn
      case _ => true
    })
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"quantize_i8 needs array<double>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    QuantizeI8.evalImpl(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.QuantizeI8.evalImpl($c);")

  override protected def withNewChildInternal(newChild: Expression): QuantizeI8 =
    copy(child = newChild)
  override def prettyName: String = "quantize_i8"
}

object QuantizeI8 {
  // evalImpl, not eval — see SimHash64's companion note.
  def evalImpl(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    var maxabs = 0.0
    var i = 0
    while (i < n) {
      // null components: skipped for the scale (array_max semantics)
      // and emitted as null codes (transform semantics) — silently
      // reading a null slot as 0.0 would diverge from the composition
      // this expression is byte-equivalence-pinned against
      if (!arr.isNullAt(i)) {
        val a = math.abs(arr.getDouble(i))
        if (a > maxabs) maxabs = a
      }
      i += 1
    }
    val out = new Array[Any](n)
    if (maxabs == 0.0) {
      i = 0
      while (i < n) {
        out(i) = if (arr.isNullAt(i)) null else Integer.valueOf(0)
        i += 1
      }
    } else {
      val scale = maxabs / 127.0
      i = 0
      while (i < n) {
        if (arr.isNullAt(i)) out(i) = null
        else {
          val q = math.floor(arr.getDouble(i) / scale + 0.5)
          out(i) = if (q > 127.0) 127 else if (q < -127.0) -127 else q.toInt
        }
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Sequential-fold dot product over two `array<double>` columns — the
  * codegen'd replacement for the interpreted `zip_with` + `aggregate`
  * higher-order-function pair in the similarity hot path. Identical
  * summation order (left fold, index 0..n-1), so on DENSE arrays the
  * result matches the HOF formulation and the DuckDB oracle BITWISE
  * (FunctionsSpec pins the equivalence). Null arrays → null. Null
  * ELEMENTS are deliberately different from the HOF: a null component
  * pair is skipped (contributes 0 — the sparse-dot-product reading)
  * where zip_with+aggregate would null-propagate the whole sum;
  * embeddings are dense so no gated path sees the divergence, and
  * FunctionsSpec pins the skip semantics so it can't drift silently.
  */
case class DotProduct(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.DoubleType, _),
            ArrayType(org.apache.spark.sql.types.DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"dot_product needs two array<double>, got ${l.catalogString}, ${r.catalogString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "dot_product"
}

/** Morton (Z-order) code: interleaves the low 32 bits of two
  * non-negative longs (a even bit positions, b odd) into one long whose
  * linear order traverses the 2-D space as the Z space-filling curve —
  * the multi-dimensional data-layout key ("OPTIMIZE ZORDER BY"): rows
  * sorted by the Morton code cluster values that are close in BOTH
  * dimensions into the same parquet row groups, so min/max pruning
  * works for predicates on EITHER column, where a lexicographic sort
  * only prunes its leading column. Inputs are expected pre-bucketed to
  * ≤ 32 bits (e.g. [[graft.transform.Stats.histogramFixedWidth]]'s
  * integer bucket arithmetic or rank-scaling); values wider than 32
  * bits fail rather than silently truncate. Codegen'd via the standard
  * mask-spread (5 shift-or steps per operand, no loop).
  */
case class InterleaveBits(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.LongType,
            org.apache.spark.sql.types.LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"interleave_bits needs two longs, got ${l.catalogString}, ${r.catalogString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any =
    InterleaveBits.evalImpl(l.asInstanceOf[Long], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.InterleaveBits.evalImpl($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): InterleaveBits =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "interleave_bits"
}

object InterleaveBits {
  // evalImpl, not eval — see NormalizedMd5's companion note (text.scala).
  def evalImpl(a: Long, b: Long): Long = {
    if ((a | b) >>> 32 != 0)
      throw new IllegalArgumentException(
        s"interleave_bits inputs must fit in 32 bits, got $a, $b")
    spread(a) | (spread(b) << 1)
  }

  /** Spreads the low 32 bits of x to the even bit positions of a long
    * (the classic Morton magic-mask cascade). */
  def spread(x: Long): Long = {
    var v = x & 0xffffffffL
    v = (v | (v << 16)) & 0x0000ffff0000ffffL
    v = (v | (v << 8)) & 0x00ff00ff00ff00ffL
    v = (v | (v << 4)) & 0x0f0f0f0f0f0f0f0fL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }
}

/** Exact nearest-centroid assignment against a LITERAL codebook — the
  * ANN append-assign hot path ([[graft.ops.Similarity.assignToCodebook]]).
  * The input vector's components are micro-quantized
  * (`floor(v·1e6 + 0.5) + 2e6`, the integer-Lloyd's spelling) and the
  * exact int64 squared-L2 argmin over the embedded k×dim quantized
  * codebook is computed in ONE tight loop; ties break to the SMALLEST
  * centroid id (`cids` must be ascending — the row_number
  * (dist ASC, cid ASC) spelling the oracles replay). A composition of
  * built-in expressions (k per-centroid sum trees + least-of-structs)
  * computes the same thing but explodes generated code past Janino's
  * method limit at k=16 × dims=8 and silently falls back to interpreted
  * evaluation — this expression replaces it, and SimilaritySpec pins
  * byte-equivalence against that composition (the CLAUDE.md rule).
  * Null in → null out; missing/short components read as 0.0 before
  * quantization.
  */
case class CodebookArgmin(child: Expression, cids: IndexedSeq[Long],
    codebook: IndexedSeq[IndexedSeq[Long]]) extends UnaryExpression {
  require(cids.length == codebook.length && cids.nonEmpty,
    "codebook_argmin needs one id per centroid row")
  require(cids.sliding(2).forall(w => w.length < 2 || w(0) < w(1)),
    "codebook_argmin cids must be strictly ascending (tie-break contract)")
  // params are Seqs (STRUCTURAL equality — Catalyst canonicalization
  // and subexpression elimination compare expressions with equals, and
  // Array fields would compare by reference); the hot loops run on
  // these converted arrays
  @transient private lazy val cidsArr: Array[Long] = cids.toArray
  @transient private lazy val cbArr: Array[Array[Long]] =
    codebook.map(_.toArray).toArray

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"codebook_argmin needs array<double>, got ${t.catalogString}")
    }

  private def quantize(a: ArrayData, d: Int): Long = {
    val v = if (d < a.numElements() && !a.isNullAt(d)) a.getDouble(d) else 0.0
    java.lang.Math.floor(v * 1e6 + 0.5).toLong + 2000000L
  }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val dims = cbArr(0).length
    val qs = new Array[Long](dims)
    var d = 0
    while (d < dims) { qs(d) = quantize(a, d); d += 1 }
    var best = Long.MaxValue
    var bestCid = cidsArr(0)
    var c = 0
    while (c < cbArr.length) {
      val row = cbArr(c)
      var dist = 0L
      var i = 0
      while (i < dims) { val df = qs(i) - row(i); dist += df * df; i += 1 }
      if (dist < best) { best = dist; bestCid = cidsArr(c) }
      c += 1
    }
    bestCid
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cb = ctx.addReferenceObj("codebook", cbArr, "long[][]")
      val ids = ctx.addReferenceObj("cids", cidsArr, "long[]")
      val dims = codebook(0).length
      val qs = ctx.freshName("qs")
      val d = ctx.freshName("d")
      val v = ctx.freshName("v")
      val best = ctx.freshName("best")
      val bestCid = ctx.freshName("bestCid")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val dist = ctx.freshName("dist")
      val df = ctx.freshName("df")
      s"""
         |long[] $qs = new long[$dims];
         |for (int $d = 0; $d < $dims; $d++) {
         |  double $v = ($d < $a.numElements() && !$a.isNullAt($d))
         |    ? $a.getDouble($d) : 0.0;
         |  $qs[$d] = (long) java.lang.Math.floor($v * 1e6 + 0.5) + 2000000L;
         |}
         |long $best = Long.MAX_VALUE;
         |long $bestCid = $ids[0];
         |for (int $c = 0; $c < $cb.length; $c++) {
         |  long $dist = 0L;
         |  for (int $i = 0; $i < $dims; $i++) {
         |    long $df = $qs[$i] - $cb[$c][$i];
         |    $dist += $df * $df;
         |  }
         |  if ($dist < $best) { $best = $dist; $bestCid = $ids[$c]; }
         |}
         |${ev.value} = $bestCid;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CodebookArgmin =
    copy(child = newChild)
  override def prettyName: String = "codebook_argmin"
}

/** ColBERT-style MaxSim over integer-micros token components, fused
  * into ONE row-local codegen pass (r22): the vectors are read as
  * `nTok` contiguous `tokDim`-wide tokens, every component quantizes to
  * `floor(v·1e6 + 0.5)` (the [[graft.ops.Similarity]] pqComponents
  * spelling), and the result is
  * `Σ_qtok max_ctok Σ_k q[qtok·d+k]·c[ctok·d+k]` — exact int64.
  *
  * This replaces the exploded composition (per-component rows joined on
  * the offset, two aggregations) whose intermediate was |corpus comps| ×
  * |query comps per offset| rows; the fused loop does the identical
  * integer arithmetic per (query, corpus) PAIR row with no join key and
  * no aggregation state. Byte-equivalence with the composition is
  * pinned by FunctionsSpec (including short arrays and null elements).
  *
  * Null/absence semantics mirror the composition exactly: a component
  * beyond either array's length or NULL on either side simply does not
  * contribute (the join row would not exist / the null product is
  * skipped by sum); a (qtok, ctok) with no contributing component has
  * no dot (it is absent from the max); a query token with no dots adds
  * nothing; if NO query token contributes the result is NULL (the pair
  * would be absent from the composition's output).
  */
case class MaxSimMicros(left: Expression, right: Expression,
    nTok: Int, tokDim: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(nTok >= 1 && tokDim >= 1, "max_sim_micros needs nTok, tokDim >= 1")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.DoubleType, _),
            ArrayType(org.apache.spark.sql.types.DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"max_sim_micros needs two array<double>, got " +
            s"${l.catalogString}, ${r.catalogString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val qa = l.asInstanceOf[ArrayData]
    val ca = r.asInstanceOf[ArrayData]
    var total = 0L
    var any = false
    var qt = 0
    while (qt < nTok) {
      var best = 0L
      var bestSet = false
      var ct = 0
      while (ct < nTok) {
        var dot = 0L
        var contrib = false
        var k = 0
        while (k < tokDim) {
          val qd = qt * tokDim + k
          val cd = ct * tokDim + k
          if (qd < qa.numElements() && cd < ca.numElements() &&
              !qa.isNullAt(qd) && !ca.isNullAt(cd)) {
            dot += java.lang.Math.floor(qa.getDouble(qd) * 1e6 + 0.5).toLong *
              java.lang.Math.floor(ca.getDouble(cd) * 1e6 + 0.5).toLong
            contrib = true
          }
          k += 1
        }
        if (contrib && (!bestSet || dot > best)) { best = dot; bestSet = true }
        ct += 1
      }
      if (bestSet) { total += best; any = true }
      qt += 1
    }
    if (any) total else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (qa, ca) => {
      val total = ctx.freshName("total")
      val any = ctx.freshName("any")
      val qt = ctx.freshName("qt")
      val ct = ctx.freshName("ct")
      val k = ctx.freshName("k")
      val qd = ctx.freshName("qd")
      val cd = ctx.freshName("cd")
      val dot = ctx.freshName("dot")
      val contrib = ctx.freshName("contrib")
      val best = ctx.freshName("best")
      val bestSet = ctx.freshName("bestSet")
      s"""
         |long $total = 0L;
         |boolean $any = false;
         |for (int $qt = 0; $qt < $nTok; $qt++) {
         |  long $best = 0L;
         |  boolean $bestSet = false;
         |  for (int $ct = 0; $ct < $nTok; $ct++) {
         |    long $dot = 0L;
         |    boolean $contrib = false;
         |    for (int $k = 0; $k < $tokDim; $k++) {
         |      int $qd = $qt * $tokDim + $k;
         |      int $cd = $ct * $tokDim + $k;
         |      if ($qd < $qa.numElements() && $cd < $ca.numElements() &&
         |          !$qa.isNullAt($qd) && !$ca.isNullAt($cd)) {
         |        $dot += (long) java.lang.Math.floor($qa.getDouble($qd) * 1e6 + 0.5)
         |          * (long) java.lang.Math.floor($ca.getDouble($cd) * 1e6 + 0.5);
         |        $contrib = true;
         |      }
         |    }
         |    if ($contrib && (!$bestSet || $dot > $best)) {
         |      $best = $dot; $bestSet = true;
         |    }
         |  }
         |  if ($bestSet) { $total += $best; $any = true; }
         |}
         |${ev.isNull} = !$any;
         |${ev.value} = $total;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MaxSimMicros =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "max_sim_micros"
}

/** Column-level API + SQL registration for the custom expressions. */
object functions {
  def rolling_hash(c: Column): Column =
    GraftSqlBridge.column(RollingHash(GraftSqlBridge.expression(c)))
  def simhash64(c: Column): Column =
    GraftSqlBridge.column(SimHash64(GraftSqlBridge.expression(c)))
  def dot_product(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      DotProduct(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
  def word_shingles(c: Column, n: Int): Column =
    GraftSqlBridge.column(WordShingles(GraftSqlBridge.expression(c), n))
  def normalized_md5(c: Column): Column =
    GraftSqlBridge.column(NormalizedMd5(GraftSqlBridge.expression(c)))
  def minhash_sigs(c: Column, n: Int): Column =
    GraftSqlBridge.column(MinHashSigs(GraftSqlBridge.expression(c), n))
  def count_in_set(c: Column, words: Seq[String]): Column =
    GraftSqlBridge.column(CountInSet(GraftSqlBridge.expression(c), words))
  def nfc_normalize(c: Column): Column =
    GraftSqlBridge.column(NfcNormalize(GraftSqlBridge.expression(c)))
  def interleave_bits(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      InterleaveBits(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
  def q_grams_occ(c: Column, q: Int): Column =
    GraftSqlBridge.column(QGramsWithOcc(GraftSqlBridge.expression(c), q))
  def quantize_i8(c: Column): Column =
    GraftSqlBridge.column(QuantizeI8(GraftSqlBridge.expression(c)))
  def codebook_argmin(c: Column, cids: IndexedSeq[Long],
      codebook: IndexedSeq[IndexedSeq[Long]]): Column =
    GraftSqlBridge.column(
      CodebookArgmin(GraftSqlBridge.expression(c), cids, codebook))
  def max_sim_micros(q: Column, c: Column, nTok: Int, tokDim: Int): Column =
    GraftSqlBridge.column(MaxSimMicros(
      GraftSqlBridge.expression(q), GraftSqlBridge.expression(c), nTok, tokDim))

  /** A SQL call's literal `Int` argument (`word_shingles(text, 3)`): the
    * expressions take it at construction, so a column-valued one fails. */
  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** Every custom expression's SQL name and builder: the one table that
    * [[registerAll]] and [[graft.GraftExtensions]] both register. */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("rolling_hash", es => RollingHash(es.head)),
    ("simhash64", es => SimHash64(es.head)),
    ("dot_product", es => DotProduct(es(0), es(1))),
    ("normalized_md5", es => NormalizedMd5(es.head)),
    ("word_shingles",
      es => WordShingles(es.head, intLit(es(1), "word_shingles n"))),
    ("minhash_sigs",
      es => MinHashSigs(es.head, intLit(es(1), "minhash_sigs n"))),
    ("nfc_normalize", es => NfcNormalize(es.head)),
    ("interleave_bits", es => InterleaveBits(es(0), es(1))),
    ("q_grams_occ",
      es => QGramsWithOcc(es.head, intLit(es(1), "q_grams_occ q"))),
    ("quantize_i8", es => QuantizeI8(es.head)))

  /** Register the custom expressions for SQL use in a session. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    sqlFunctions.foreach { case (name, build) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, build, "scala_udf")
    }
}
