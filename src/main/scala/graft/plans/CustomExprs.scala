package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions (SURVEY.md §2.11 tier (b)) for the hot
  * integer kernels of the LLM-pipeline operators.
  *
  * Spark's higher-order functions (transform/aggregate/zip_with) are
  * interpreted per lambda step — fine for per-row use, pathological inside
  * O(n^2) similarity joins (bench showed minutes at sf0.1). These
  * expressions compute the same integer math as tight loops inside
  * whole-stage codegen (`doGenCode`), with an interpreted `nullSafeEval`
  * fallback. Semantics are IDENTICAL to the declarative forms and to the
  * DuckDB oracle SQL (pure Long arithmetic — associative, engine-order-free).
  */

/** Dot product of two array<long> vectors (fixed-point embeddings). */
case class FixedDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName: two FixedDots in one flat codegen scope must not collide
      val n = ctx.freshName("fdN")
      val acc = ctx.freshName("fdAcc")
      val i = ctx.freshName("fdI")
      s"""
      |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
      |long $acc = 0L;
      |for (int $i = 0; $i < $n; $i++) { $acc += $a.getLong($i) * $b.getLong($i); }
      |${ev.value} = $acc;
      |""".stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): FixedDot =
    copy(left = l, right = r)
}

/** THE polynomial rolling hash of a string (DuckDB mirror:
  * `TextUtil.sqlPolyHash`): fold (acc*31 + c) mod 1e9+7 over its Unicode
  * code points c, the values Spark's and DuckDB's `ascii()` give. Bytes
  * fold directly while ASCII and decode from the first non-ASCII byte on;
  * the fixture corpus is ASCII, so the fixtures only take the byte loop. */
case class PolyHash(child: Expression, seed: Long) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    PolyHash.hashBytes(v.asInstanceOf[UTF8String].getBytes, seed)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.PolyHash.hashBytes($c.getBytes(), ${seed}L)")
  override protected def withNewChildInternal(c: Expression): PolyHash = copy(child = c)
}

object PolyHash {
  /** The project's one 1e9+7 modulus. */
  final val M = 1000000007L
  def hashBytes(bytes: Array[Byte], seed: Long): Long = {
    var acc = seed
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b < 0) {
        val rest = new String(bytes, i, bytes.length - i,
          java.nio.charset.StandardCharsets.UTF_8)
        rest.codePoints().forEach(cp => acc = (acc * 31L + cp) % M)
        return acc
      }
      acc = (acc * 31L + b) % M
      i += 1
    }
    acc
  }
}

/** PolyHash over every element of an array<string> in one pass. */
case class PolyHashArray(child: Expression, seed: Long) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val out = new Array[Long](arr.numElements())
    var i = 0
    while (i < out.length) {
      out(i) = PolyHash.hashBytes(arr.getUTF8String(i).getBytes, seed)
      i += 1
    }
    new GenericArrayData(out)
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("phaN")
      val out = ctx.freshName("phaOut")
      val i = ctx.freshName("phaI")
      s"""
      |int $n = $c.numElements();
      |long[] $out = new long[$n];
      |for (int $i = 0; $i < $n; $i++) {
      |  $out[$i] = graft.plans.PolyHash.hashBytes($c.getUTF8String($i).getBytes(), ${seed}L);
      |}
      |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
      |""".stripMargin
    })
  override protected def withNewChildInternal(c: Expression): PolyHashArray = copy(child = c)
}

/** 60-bit SimHash of an array<long> of feature hashes: bit b is set iff the
  * majority of hashes have bit b set ((h>>b)&1 voting +1/-1). */
case class SimHash60(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    SimHash60.compute(arr.toLongArray())
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SimHash60.compute($c.toLongArray())")
  override protected def withNewChildInternal(c: Expression): SimHash60 = copy(child = c)
}

object SimHash60 {
  /** Knuth multiplicative spread: raw poly-hashes are mod 1e9+7 < 2^30, so
    * voting their bits directly would leave bits 30..59 permanently zero —
    * a 30-bit simhash in 60-bit clothing. Mirrored in the oracle SQL. */
  final val Mix = 2654435761L
  def compute(hs: Array[Long]): Long = {
    var out = 0L
    var b = 0
    while (b < 60) {
      var acc = 0L
      var i = 0
      while (i < hs.length) { acc += (((hs(i) * Mix) >> b) & 1L) * 2L - 1L; i += 1 }
      if (acc > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** Distinct word-3-gram shingles ("a_b_c") of a token array in one codegen
  * pass — semantics identical to
  * array_distinct(transform(sequence..., concat_ws("_", ...))) but without
  * the per-position interpreted lambda cost. */
case class Shingles3(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Shingles3.compute(v.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Shingles3.compute($c)")
  override protected def withNewChildInternal(c: Expression): Shingles3 = copy(child = c)
}

object Shingles3 {
  def compute(toks: ArrayData): GenericArrayData = {
    val n = toks.numElements()
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i < n - 2) {
      seen.add(UTF8String.concatWs(UTF8String.fromString("_"),
        toks.getUTF8String(i), toks.getUTF8String(i + 1), toks.getUTF8String(i + 2)))
      i += 1
    }
    new GenericArrayData(seen.toArray)
  }
}

/** All width-w token windows joined with `sep`, duplicates PRESERVED
  * (unlike [[Shingles3]], whose consumers want the distinct set) — THE
  * n-gram walk: one codegen'd pass in place of the interpreted
  * transform(sequence(...), i -> concat_ws(sep, element_at(toks, i), ...))
  * lambda. Returns the empty array below w tokens. */
case class SpansW(child: Expression, w: Int, sep: String) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  private lazy val sepU = UTF8String.fromString(sep)
  override def nullSafeEval(v: Any): Any =
    SpansW.compute(v.asInstanceOf[ArrayData], w, sepU)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sepRef = ctx.addReferenceObj("spansSep", sepU)
    defineCodeGen(ctx, ev, c => s"graft.plans.SpansW.compute($c, $w, $sepRef)")
  }
  override protected def withNewChildInternal(c: Expression): SpansW =
    copy(child = c)
}

object SpansW {
  def compute(toks: ArrayData, w: Int, sep: UTF8String): GenericArrayData = {
    val n = toks.numElements()
    val m = math.max(0, n - w + 1)
    val out = new Array[AnyRef](m)
    val win = new Array[UTF8String](w)
    var i = 0
    while (i < m) {
      var k = 0
      while (k < w) { win(k) = toks.getUTF8String(i + k); k += 1 }
      out(i) = UTF8String.concatWs(sep, win: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** The largest number of times one value occurs in an array<string>: one
  * hash count in place of the quadratic interpreted lambda pair
  * array_max(transform(array_distinct(xs), t -> size(filter(xs, x -> x = t)))).
  * NULL elements equal nothing (count 0); an empty array gives NULL. */
case class MaxFreq(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = MaxFreq.compute(v.asInstanceOf[ArrayData])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val m = ctx.freshName("maxFreq")
      s"""Long $m = graft.plans.MaxFreq.compute($c);
      |${ev.isNull} = $m == null;
      |if ($m != null) ${ev.value} = $m;""".stripMargin
    })
  override protected def withNewChildInternal(c: Expression): MaxFreq = copy(child = c)
}

object MaxFreq {
  def compute(xs: ArrayData): java.lang.Long = if (xs.numElements() == 0) null else {
    val counts = scala.collection.mutable.HashMap.empty[UTF8String, Long]
    (0 until xs.numElements()).filterNot(xs.isNullAt).foldLeft(0L) { (top, i) =>
      val k = xs.getUTF8String(i)
      counts(k) = counts.getOrElse(k, 0L) + 1
      math.max(top, counts(k))
    }
  }
}

/** The distinct minima (first-occurrence order) of the width-w windows of a
  * NULL-free array<long>, empty below w elements: one codegen'd pass for
  * array_distinct(transform(sequence(1, size(hs) - w + 1),
  * i -> array_min(slice(hs, i, w)))), which re-slices at every position. */
case class WindowMinDistinct(child: Expression, w: Int) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    WindowMinDistinct.compute(v.asInstanceOf[ArrayData].toLongArray(), w)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.WindowMinDistinct.compute($c.toLongArray(), $w)")
  override protected def withNewChildInternal(c: Expression): WindowMinDistinct = copy(child = c)
}

object WindowMinDistinct {
  def compute(hs: Array[Long], w: Int): GenericArrayData = new GenericArrayData(
    hs.iterator.sliding(w).withPartial(false).map(_.min).distinct.toArray[Any])
}

/** MinHash signature vector in one pass: sig_k = min over the input hashes
  * of (h*(2k+1) + k*12345+7) mod 1e9+7, for k in [0, nPerm). Replaces
  * nPerm interpreted transform/array_min scans with one codegen'd loop. */
case class MinHashSigs(child: Expression, nPerm: Int) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(MinHashSigs.compute(v.asInstanceOf[ArrayData].toLongArray(), nPerm))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.plans.MinHashSigs.compute($c.toLongArray(), $nPerm))")
  override protected def withNewChildInternal(c: Expression): MinHashSigs = copy(child = c)
}

object MinHashSigs {
  def compute(hs: Array[Long], nPerm: Int): Array[Long] = {
    val out = Array.fill(nPerm)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      var k = 0
      while (k < nPerm) {
        val v = (hs(i) * (2L * k + 1) + k * 12345L + 7L) % PolyHash.M
        if (v < out(k)) out(k) = v
        k += 1
      }
      i += 1
    }
    out
  }
}

/** Morton/Z-order interleave of the low 16 bits of two longs: bit i of x
  * lands at position 2i, bit i of y at 2i+1 — the space-filling-curve key a
  * multi-dimension-clustered table layout sorts by, so range predicates on
  * EITHER dimension touch few contiguous key ranges (= few files). Pure
  * integer bit ops, so the unrolled SQL mirror is bit-identical. */
case class ZOrder2(left: Expression, right: Expression)
    extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  private def interleave(x: Long, y: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 16) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val z = ctx.freshName("zAcc")
      val i = ctx.freshName("zI")
      s"""
      |long $z = 0L;
      |for (int $i = 0; $i < 16; $i++) {
      |  $z |= (($a >> $i) & 1L) << (2 * $i);
      |  $z |= (($b >> $i) & 1L) << (2 * $i + 1);
      |}
      |${ev.value} = $z;
      |""".stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ZOrder2 =
    copy(left = l, right = r)
}

/** Content-defined-chunk splitter (r15): boundaries fall where the
  * 4-char rolling polynomial (base 31, the TextUtil base) hits
  * h % 32 == 0, with the end-of-doc sentinel — ONE pass over the chars
  * replacing the interpreted per-char HOF chain (split('') allocated a
  * UTF8String PER CHARACTER, then ascii → filter(sequence) with four
  * element_at calls per position → array_sort/array_distinct → one
  * substring per chunk; measured as the bulk of dedup_cdc_chunks' 1.1 s
  * warm at sf0.1). Semantics identical to the declarative form for any
  * BMP text (charAt == code point there; the fixture corpus is ASCII —
  * the PolyHash note), including the single-empty-chunk row for an
  * empty document and the whole-text chunk when no boundary fires. */
case class CdcChunks(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    CdcChunks.compute(v.asInstanceOf[UTF8String])
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.CdcChunks.compute($c)")
  override protected def withNewChildInternal(c: Expression): CdcChunks =
    copy(child = c)
}

object CdcChunks {
  def compute(u: UTF8String): ArrayData = {
    val s = u.toString
    val n = s.length
    if (n == 0)
      return new GenericArrayData(Array[Any](UTF8String.fromString("")))
    val out = new java.util.ArrayList[AnyRef]()
    var prev = 0
    var i = 4
    while (i <= n) {
      val h = s.charAt(i - 4) * 29791 + s.charAt(i - 3) * 961 +
        s.charAt(i - 2) * 31 + s.charAt(i - 1)
      if (h % 32 == 0) {
        out.add(UTF8String.fromString(s.substring(prev, i)))
        prev = i
      }
      i += 1
    }
    if (prev < n) out.add(UTF8String.fromString(s.substring(prev, n)))
    new GenericArrayData(out.toArray)
  }
}

/** Column-API entry points for the custom expressions. */
object CustomExprs {
  private def c(e: Expression): Column = Bridge.column(e)
  private def e(col: Column): Expression = Bridge.expression(col)

  def fixed_dot(a: Column, b: Column): Column = c(FixedDot(e(a), e(b)))
  def poly_hash(s: Column, seed: Long): Column = c(PolyHash(e(s), seed))
  def poly_hash_array(s: Column, seed: Long): Column = c(PolyHashArray(e(s), seed))
  def simhash60(hs: Column): Column = c(SimHash60(e(hs)))
  def minhash_sigs(hs: Column, nPerm: Int): Column = c(MinHashSigs(e(hs), nPerm))
  def shingles3_fast(toks: Column): Column = c(Shingles3(e(toks)))
  def zorder2(x: Column, y: Column): Column = c(ZOrder2(e(x), e(y)))
  def cdc_chunks(text: Column): Column = c(CdcChunks(e(text)))
  def spans_w(toks: Column, w: Int, sep: String): Column = c(SpansW(e(toks), w, sep))
  def max_freq(xs: Column): Column = c(MaxFreq(e(xs)))
  def window_min_distinct(hs: Column, w: Int): Column = c(WindowMinDistinct(e(hs), w))

  /** Unrolled SQL mirror of [[ZOrder2]] (both engines): Σ over bit i of
    * ((x>>i)&1)<<2i | ((y>>i)&1)<<(2i+1). */
  def sqlZorder2(x: String, y: String): String =
    (0 until 16).map(i =>
      s"(((($x) >> $i) & 1) << ${2 * i}) + (((($y) >> $i) & 1) << ${2 * i + 1})")
      .mkString("(", " + ", ")")
}
