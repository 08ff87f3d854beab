package graft.analytics

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic hashing primitives for the dedup/fingerprint layer.
  * FNV-1a and the polynomial rolling hash are textbook public-domain
  * algorithms; SimHash follows Charikar (STOC 2002) as popularized for
  * near-dup detection in Manku et al. (WWW 2007).
  */
object Hashing {
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L

  def fnv1a(bytes: Array[Byte]): Long = {
    var h = FnvOffset
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= FnvPrime; i += 1 }
    h
  }

  def fnv1a(s: String): Long = fnv1a(s.getBytes("UTF-8"))

  /** 64-bit SimHash over token hashes: per-bit vote of each token's
    * FNV hash, sign of the vote becomes the output bit.
    */
  def simhash(tokens: Iterator[String]): Long = {
    val votes = new Array[Int](64)
    while (tokens.hasNext) {
      val h = fnv1a(tokens.next())
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Polynomial (Rabin–Karp) rolling hash of the whole string — the
    * document fingerprint. base 1000003, wrap-around mod 2^64.
    */
  def rollingHash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) { h = h * 1000003L + s.charAt(i); i += 1 }
    h
  }
}

/** simhash64(array<string>) → long */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash64"
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val it = (0 until arr.numElements()).iterator
      .map(i => arr.getUTF8String(i)).filter(_ != null).map(_.toString)
    Hashing.simhash(it)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** rolling_fingerprint(string) → long */
case class RollingFingerprint(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "rolling_fingerprint"
  override def nullSafeEval(v: Any): Any =
    Hashing.rollingHash(v.asInstanceOf[UTF8String].toString)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** splitmix64 — the standard 64-bit mixer (Vigna 2015, public domain);
  * used to derive the per-permutation hash family for MinHash.
  */
object SplitMix64 {
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
}

/** 2-D Hilbert curve index (the classic xy2d bit loop — Hamilton's
  * compact algorithm as given on the public Hilbert-curve literature):
  * order-`order` curve over [0, 2^order)², returning the cell's
  * position along the curve. Unlike the Morton/Z-order interleave,
  * CONSECUTIVE indexes are always 4-adjacent cells (no Z-jumps), so
  * range scans over a Hilbert-sorted layout touch tighter rectangles.
  */
object Hilbert {
  def xy2d(order: Int, x0: Long, y0: Long): Long = {
    var x = x0; var y = y0; var d = 0L
    var s: Long = 1L << (order - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}

/** hilbert_index(x, y) → long (order fixed at construction; inputs
  * must lie in [0, 2^order)).
  */
case class HilbertIndex(left: Expression, right: Expression, order: Int)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "hilbert_index"
  override def nullSafeEval(l: Any, r: Any): Any =
    Hilbert.xy2d(order, l.asInstanceOf[Long], r.asInstanceOf[Long])
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** word_shingles(text, n) / char_shingles(text, n) → array<string>:
  * distinct lowercase n-gram shingles, computed in ONE pass per row.
  * A higher-order-function formulation re-evaluates the tokenizer per
  * lambda element (O(tokens²) per row) and is vulnerable to Catalyst
  * project-collapse duplicating the whole subtree into each of the 128
  * MinHash lambdas — this expression is the scale-safe path.
  */
case class Shingles(child: Expression, n: Int, chars: Boolean)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType)
  override def nullable: Boolean = true
  override def prettyName: String = if (chars) "char_shingles" else "word_shingles"
  override def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].toString.trim.toLowerCase
    val out = new java.util.LinkedHashSet[String]()
    if (chars) {
      if (s.length < n) out.add(s)
      else { var i = 0; while (i <= s.length - n) { out.add(s.substring(i, i + n)); i += 1 } }
    } else {
      val tokens = s.split("\\s+")
      if (tokens.length < n) { if (s.nonEmpty) out.add(tokens.mkString(" ")) }
      else {
        var i = 0
        while (i <= tokens.length - n) {
          out.add(tokens.slice(i, i + n).mkString(" ")); i += 1
        }
      }
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = UTF8String.fromString(it.next()); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** minhash_bands(shingles, numHashes, numBands) → array<long>.
  *
  * One pass: each shingle is FNV-hashed once; permutation i applies the
  * splitmix64-derived affine family `a_i*h + b_i`; per-band signature
  * rows are folded into a single band hash. O(S·K) with K cheap mixes,
  * no per-element expression re-evaluation.
  */
case class MinHashBands(child: Expression, numHashes: Int, numBands: Int)
    extends UnaryExpression with CodegenFallback {
  require(numHashes % numBands == 0, "numHashes must divide into bands")
  override def dataType: DataType = ArrayType(LongType)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_bands"
  private lazy val as: Array[Long] =
    Array.tabulate(numHashes)(i => SplitMix64.mix(2L * i) | 1L)
  private lazy val bs: Array[Long] =
    Array.tabulate(numHashes)(i => SplitMix64.mix(2L * i + 1))
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var seen = false
    var s = 0
    while (s < arr.numElements()) {
      val sh = arr.getUTF8String(s)
      if (sh != null) {
        seen = true
        val h = Hashing.fnv1a(sh.getBytes)
        var i = 0
        while (i < numHashes) {
          val g = as(i) * h + bs(i)
          if (g < sig(i)) sig(i) = g
          i += 1
        }
      }
      s += 1
    }
    // no shingles → null, so exploding the bands drops the document
    // instead of colliding every empty doc into one constant bucket
    if (!seen) return null
    val rows = numHashes / numBands
    val bands = new Array[Any](numBands)
    var b = 0
    while (b < numBands) {
      var h = Hashing.FnvOffset
      var r = 0
      while (r < rows) {
        h = (h ^ sig(b * rows + r)) * Hashing.FnvPrime
        r += 1
      }
      bands(b) = h
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(bands)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** l2_normalize(array<float|double>) → array<double>, one pass. */
case class L2Normalize(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(DoubleType)
  override def nullable: Boolean = true
  override def prettyName: String = "l2_normalize"
  private def toDouble(a: Any): Double = a match {
    case f: java.lang.Float => f.toDouble
    case d: java.lang.Double => d
    case n: Number => n.doubleValue()
  }
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Double](n)
    val et = child.dataType.asInstanceOf[ArrayType].elementType
    var i = 0
    var ss = 0.0
    while (i < n) {
      val x = et match {
        case FloatType => arr.getFloat(i).toDouble
        case DoubleType => arr.getDouble(i)
        case _ => toDouble(arr.get(i, et))
      }
      out(i) = x; ss += x * x; i += 1
    }
    val norm = math.sqrt(ss)
    if (norm > 0) { i = 0; while (i < n) { out(i) /= norm; i += 1 } }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.map(java.lang.Double.valueOf(_): Any))
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** dot_product(array<double>, array<double>) → double, one pass.
  *
  * Unlike the other expressions here (one call per DOCUMENT, where the
  * per-call work dwarfs boxing), this runs once per CANDIDATE PAIR —
  * millions of calls doing 64 multiply-adds each — so it participates
  * in whole-stage codegen: the loop inlines into the join's generated
  * code with no per-row boxing or virtual dispatch.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product"
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** long_dot(array<long>, array<long>) → long: integer dot product —
  * the scoring kernel of quantized (int8) similarity search. Exact
  * 64-bit arithmetic (no rounding anywhere), codegen'd like
  * [[DotProduct]] so the per-pair hot loop stays in whole-stage
  * codegen.
  */
case class LongDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "long_dot"
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += a.getLong(i) * b.getLong(i); i += 1 }
    acc
  }
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** splitmix64_hash(long) → long: the splitmix64 mixer as a column
  * expression — the deterministic, engine-replicable hash behind
  * [[Sampling]] (DuckDB has no xxhash64, so oracle parity needs a
  * hash both engines can compute; the mix chain is 9 integer ops,
  * replicated in HUGEINT mod-2^64 on the oracle side). Codegen'd:
  * sampling filters run row-local inside the scan's generated loop.
  */
case class SplitMix64Hash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "splitmix64_hash"
  override def nullSafeEval(v: Any): Any =
    SplitMix64.mix(v.asInstanceOf[Long])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, c => {
      val x = ctx.freshName("x")
      s"""
         |long $x = $c + 0x9e3779b97f4a7c15L;
         |$x = ($x ^ ($x >>> 30)) * 0xbf58476d1ce4e5b9L;
         |$x = ($x ^ ($x >>> 27)) * 0x94d049bb133111ebL;
         |${ev.value} = $x ^ ($x >>> 31);
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Jaro–Winkler similarity kernel, byte-level to match DuckDB's
  * (rapidfuzz-derived) `jaro_winkler_similarity` exactly on ASCII and
  * byte-for-byte on any input: match window max(l1,l2)/2 − 1 (min 0),
  * greedy first-unused matching, transpositions = mismatched aligned
  * matches / 2 by INTEGER division (probed: 'abcdef'/'bcadef' →
  * 0.9444…, i.e. t=1 from 3 mismatches), jaro 0 when either side is
  * empty or m = 0, Winkler boost l·0.1·(1−jaro) for the ≤4-byte
  * common prefix only when jaro > 0.7. Static so codegen can call it.
  */
object JaroWinklerImpl {
  def jw(l: UTF8String, r: UTF8String): Double = {
    val s1 = l.getBytes; val s2 = r.getBytes
    val j = jaro(s1, s2)
    if (j <= 0.7) j
    else {
      var p = 0
      val maxP = math.min(4, math.min(s1.length, s2.length))
      while (p < maxP && s1(p) == s2(p)) p += 1
      j + p * 0.1 * (1.0 - j)
    }
  }
  private def jaro(s1: Array[Byte], s2: Array[Byte]): Double = {
    val l1 = s1.length; val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(0, math.max(l1, l2) / 2 - 1)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val hi = math.min(l2 - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && s1(i) == s2(j)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var mismatches = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1(i) != s2(k)) mismatches += 1
        k += 1
      }
      i += 1
    }
    val t = mismatches / 2
    val md = m.toDouble
    (md / l1 + md / l2 + (md - t) / md) / 3.0
  }
}

/** jaro_winkler(string, string) → double — see [[JaroWinklerImpl]].
  * The fuzzy-agreement field for Fellegi–Sunter linkage (exact
  * agreement is a 0/1 collapse of this). Codegen is one static call.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "jaro_winkler"
  override def nullSafeEval(l: Any, r: Any): Any =
    JaroWinklerImpl.jw(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.analytics.JaroWinklerImpl.jw($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** trailing_zeros63(long) → long: trailing zero bits of a positive
  * 63-bit hash, capped at 62 for h = 0 (probability 2^-63) — the KLL
  * per-item "coin flips survived" (Sketch.kllState). Exists because
  * the Column-level binary-search formulation references its
  * predecessor three times per level: the expression tree grows
  * ~3^6-fold, and compiling the generated code cost seconds of janino
  * time PER PLAN SHAPE — the dominant term of the sketch_kll* bench
  * rows, re-paid every run because codegen cache keys contain fresh
  * exprIds. One intrinsic keeps the hot path a single JVM instruction.
  */
case class TrailingZeros63(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "trailing_zeros63"
  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[Long]
    if (x == 0L) 62L else java.lang.Long.numberOfTrailingZeros(x).toLong
  }
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ($c == 0L) ? 62L : (long) java.lang.Long.numberOfTrailingZeros($c);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** quantize_int8(array<float|double>) → struct(scale double,
  * qvec array<long>): symmetric int8 quantization, scale = max |x|,
  * q = round-half-away-from-zero(x/scale·127). One pass — a
  * higher-order-function formulation re-evaluates the max-abs subtree
  * per element (the CollapseProject trap, see MinHashBands).
  */
case class QuantizeInt8(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType), StructField("qvec", ArrayType(LongType))))
  override def nullable: Boolean = true
  override def prettyName: String = "quantize_int8"
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val elemType = child.dataType.asInstanceOf[ArrayType].elementType
    def at(i: Int): Double = elemType match {
      case FloatType => arr.getFloat(i).toDouble
      case _ => arr.getDouble(i)
    }
    var scale = 0.0
    var i = 0
    while (i < n) { val a = math.abs(at(i)); if (a > scale) scale = a; i += 1 }
    val q = new Array[Any](n)
    i = 0
    while (i < n) {
      val x = at(i)
      val qv = if (scale == 0.0) 0L
        else {
          val m = math.floor(math.abs(x) / scale * 127.0 + 0.5).toLong
          if (x < 0) -m else m
        }
      q(i) = qv
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(scale,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(q))
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** java_ln(double) → double via `java.lang.Math.log` (the hardware
  * intrinsic, correctly rounded on every probed argument — bitwise
  * equal to DuckDB/glibc `ln`). Spark's own `log` routes through
  * `StrictMath.log` (fdlibm) for cross-platform stability, which is
  * off by one ulp from the correctly-rounded result on ~15% of
  * arguments — enough to break hash-match oracles for ranking
  * functions. Scoring operators that carry a DuckDB oracle use this.
  */
case class JavaLn(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "java_ln"
  override def nullSafeEval(v: Any): Any =
    java.lang.Math.log(v.asInstanceOf[Double])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = java.lang.Math.log($c);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** fnv1a_hash(string) → long: the 64-bit FNV-1a digest of the UTF-8
  * bytes (public-domain hash; same fold the MinHash/SimHash family
  * uses internally). Exposed as a Column so feature-hashing operators
  * (DSIR bucketing) share one replicable primitive: the DuckDB oracle
  * reproduces it as a HUGEINT list_reduce over unicode code points
  * (valid for ASCII corpora; multi-byte code points hash byte-wise
  * here and code-point-wise there — the gate corpus is ASCII).
  */
case class Fnv1aHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "fnv1a_hash"
  override def nullSafeEval(v: Any): Any =
    Hashing.fnv1a(v.asInstanceOf[UTF8String].getBytes)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.analytics.Hashing.fnv1a($c.getBytes());")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** hyperplane_buckets(array<double>, numPlanes, numTables) →
  * array<long>: multi-table Charikar random-hyperplane LSH. Each table
  * ANDs `numPlanes` sign bits (precision), the tables OR each other
  * (recall) — the standard (k, L) amplification; planes are
  * splitmix64-derived, recomputable on any executor, no model state.
  */
case class HyperplaneBuckets(child: Expression, numPlanes: Int, numTables: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType)
  override def nullable: Boolean = true
  override def prettyName: String = "hyperplane_buckets"
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Any](numTables)
    var t = 0
    while (t < numTables) {
      var bucket = 0L
      var p = 0
      while (p < numPlanes) {
        val plane = t * numPlanes + p
        var dot = 0.0
        var j = 0
        while (j < n) {
          val r = SplitMix64.mix(plane.toLong * 1000003L + j).toDouble / Long.MaxValue.toDouble
          dot += arr.getDouble(j) * (r * 2.0 - 1.0)
          j += 1
        }
        bucket = (bucket << 1) | (if (dot >= 0) 1L else 0L)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** nfc_normalize(string) → string: Unicode NFC canonical composition
  * (java.text.Normalizer — the JDK's ICU-derived implementation).
  * Spark has no normalization built-in; decomposed ("e" + U+0301) and
  * composed ("é") spellings of the same text must dedup/fingerprint
  * identically, so normalization is the first step of every text
  * pipeline. Codegen'd — it runs per document inside the scan stage.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "nfc_normalize"
  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      v.asInstanceOf[UTF8String].toString, java.text.Normalizer.Form.NFC))
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  java.text.Normalizer.normalize($c.toString(),
         |    java.text.Normalizer.Form.NFC));""".stripMargin)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** linear_text_score(array<string>) → struct<n_features:long,
  * margin:double>: a fasttext-shaped linear text classifier over a
  * hashed bag of features — the token array's unigrams followed by its
  * adjacent-word bigrams — where the weight of feature f is derived on
  * the fly as signed(splitmix64(fnv1a(f) + seed)) / 2^63 ∈ [-1, 1).
  * A deterministic stand-in for trained weights with the exact
  * execution shape of the real thing (hash → weight → sequential
  * accumulate): swapping in a learned weight table changes one
  * function, not the plan. `margin` is the mean feature weight,
  * accumulated in feature order (unigrams then bigrams, left to
  * right) so the IEEE sum is reproducible bit-for-bit by any engine
  * that folds sequentially. One pass, no dictionary state, row-local —
  * classification streams at scan speed over 100 TB.
  */
case class LinearTextScore(child: Expression, seed: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("n_features", LongType, nullable = false),
    StructField("margin", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "linear_text_score"
  private def weight(s: String): Double =
    SplitMix64.mix(Hashing.fnv1a(s) + seed).toDouble / 9.223372036854775808e18
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val toks = new Array[String](n)
    var i = 0
    while (i < n) {
      val u = arr.getUTF8String(i)
      toks(i) = if (u == null) "" else u.toString
      i += 1
    }
    var sum = 0.0
    var count = 0L
    i = 0
    while (i < n) { sum += weight(toks(i)); count += 1; i += 1 }
    i = 0
    while (i < n - 1) { sum += weight(toks(i) + " " + toks(i + 1)); count += 1; i += 1 }
    val margin = if (count == 0L) 0.0 else sum / count
    org.apache.spark.sql.catalyst.InternalRow(count, margin)
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** jaccard_sim(array<string>, array<string>) → double: |∩| / |∪| in
  * ONE pass (hash set of the left side, membership scan of the right).
  * The `size(array_intersect)/size(array_union)` formulation walks both
  * arrays twice and allocates two result arrays per row — this is the
  * pair-verification hot loop of the dedup operators, evaluated
  * millions of times per hot bucket, so one pass matters.
  */
case class JaccardSim(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "jaccard_sim"
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val seen = new java.util.HashSet[UTF8String](a.numElements() * 2)
    var i = 0
    while (i < a.numElements()) {
      val s = a.getUTF8String(i)
      if (s != null) seen.add(s)
      i += 1
    }
    val na = seen.size
    var inter = 0
    var nbDistinct = 0
    val bSeen = new java.util.HashSet[UTF8String](b.numElements() * 2)
    i = 0
    while (i < b.numElements()) {
      val s = b.getUTF8String(i)
      if (s != null && bSeen.add(s)) {
        nbDistinct += 1
        if (seen.contains(s)) inter += 1
      }
      i += 1
    }
    val union = na + nbDistinct - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** nearest_centroids(array<double>, top) → array<int>: indices of the
  * `top` nearest centroids by dot product (descending, ties → lower
  * index). The trained centroid matrix is baked into the expression —
  * nlist×dim doubles ride the serialized plan to every executor (the
  * broadcast-model pattern), making assignment a single row-local pass:
  * no join, no window, no shuffle.
  */
case class NearestCentroids(child: Expression, centroids: Array[Array[Double]],
                            top: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(IntegerType)
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroids"
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = math.min(top, centroids.length)
    // insertion into a size-n heap-by-scan: nlist is small (≤ thousands)
    val bestIdx = Array.fill(n)(-1)
    val bestDot = Array.fill(n)(Double.NegativeInfinity)
    var c = 0
    while (c < centroids.length) {
      val cv = centroids(c)
      val m = math.min(arr.numElements(), cv.length)
      var dot = 0.0
      var j = 0
      while (j < m) { dot += arr.getDouble(j) * cv(j); j += 1 }
      if (dot > bestDot(n - 1)) {
        var i = n - 1
        while (i > 0 && bestDot(i - 1) < dot) {
          bestDot(i) = bestDot(i - 1); bestIdx(i) = bestIdx(i - 1); i -= 1
        }
        bestDot(i) = dot; bestIdx(i) = c
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      bestIdx.filter(_ >= 0).map(java.lang.Integer.valueOf(_): Any))
  }
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** bloom_might_contain(string) → boolean: membership probe against a
  * pre-built `org.apache.spark.util.sketch.BloomFilter` (Spark's public
  * sketch API). The SERIALIZED filter rides the plan to every executor
  * (the broadcast-model pattern of [[NearestCentroids]]) and is
  * deserialized once per JVM-task; the probe itself is codegen'd so it
  * runs inside the scan's whole-stage pipeline. No false negatives by
  * construction — callers use it as an exact prefilter (rows that fail
  * the probe are definitively absent from the build side; rows that
  * pass are confirmed by a join over the ~fpp·batch survivors).
  */
case class BloomMightContain(child: Expression, bloomBytes: Array[Byte])
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "bloom_might_contain"
  @transient private lazy val bloom =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bloomBytes))
  override def nullSafeEval(v: Any): Any =
    bloom.mightContainBinary(v.asInstanceOf[UTF8String].getBytes)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val ref = ctx.addReferenceObj("bloomExpr", this, classOf[BloomMightContain].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.probe($c);")
  }
  /** Codegen entry point — keeps the lazy filter on the expression. */
  def probe(s: UTF8String): Boolean = bloom.mightContainBinary(s.getBytes)
  // Array[Byte] gets reference equality from the case class, which
  // would make two semantically identical probes never compare equal —
  // defeating expression canonicalization and subexpression
  // elimination. Compare the filter bytes by content instead.
  override def equals(other: Any): Boolean = other match {
    case that: BloomMightContain =>
      this.child == that.child &&
        java.util.Arrays.equals(this.bloomBytes, that.bloomBytes)
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() + java.util.Arrays.hashCode(bloomBytes)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object HashFunctions {
  def splitmix64_hash(c: Column): Column =
    Bridge.column(SplitMix64Hash(Bridge.expression(c)))
  def trailing_zeros63(c: Column): Column =
    Bridge.column(TrailingZeros63(Bridge.expression(c)))
  def jaro_winkler(a: Column, b: Column): Column =
    Bridge.column(JaroWinkler(Bridge.expression(a), Bridge.expression(b)))
  def hilbert_index(x: Column, y: Column, order: Int): Column =
    Bridge.column(HilbertIndex(Bridge.expression(x),
      Bridge.expression(y), order))
  def simhash64(c: Column): Column = Bridge.column(SimHash64(Bridge.expression(c)))
  def rolling_fingerprint(c: Column): Column =
    Bridge.column(RollingFingerprint(Bridge.expression(c)))
  def word_shingles(c: Column, n: Int): Column =
    Bridge.column(Shingles(Bridge.expression(c), n, chars = false))
  def char_shingles(c: Column, n: Int): Column =
    Bridge.column(Shingles(Bridge.expression(c), n, chars = true))
  def minhash_bands(c: Column, numHashes: Int, numBands: Int): Column =
    Bridge.column(MinHashBands(Bridge.expression(c), numHashes, numBands))
  def l2_normalize(c: Column): Column =
    Bridge.column(L2Normalize(Bridge.expression(c)))
  def dot_product(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))
  def hyperplane_buckets(c: Column, numPlanes: Int, numTables: Int): Column =
    Bridge.column(HyperplaneBuckets(Bridge.expression(c), numPlanes, numTables))
  def nearest_centroids(c: Column, centroids: Array[Array[Double]], top: Int): Column =
    Bridge.column(NearestCentroids(Bridge.expression(c), centroids, top))
  def jaccard_sim(a: Column, b: Column): Column =
    Bridge.column(JaccardSim(Bridge.expression(a), Bridge.expression(b)))
  def nfc_normalize(c: Column): Column =
    Bridge.column(NfcNormalize(Bridge.expression(c)))
  def linear_text_score(c: Column, seed: Long): Column =
    Bridge.column(LinearTextScore(Bridge.expression(c), seed))
  def java_ln(c: Column): Column = Bridge.column(JavaLn(Bridge.expression(c)))
  def fnv1a_hash(c: Column): Column = Bridge.column(Fnv1aHash(Bridge.expression(c)))
  def quantize_int8(c: Column): Column =
    Bridge.column(QuantizeInt8(Bridge.expression(c)))
  def bloom_might_contain(c: Column, bloomBytes: Array[Byte]): Column =
    Bridge.column(BloomMightContain(Bridge.expression(c), bloomBytes))
  def long_dot(a: Column, b: Column): Column =
    Bridge.column(LongDot(Bridge.expression(a), Bridge.expression(b)))

  /** Deterministic 6-dp OLS fit over collected (x, y) points:
    * `pts` is array<struct<x:double, y:double>> (field names matter);
    * the array is sorted ascending (x is the unique order key at every
    * call site), Σx/Σy/Σxy/Σx² are sequential IEEE folds over it, and
    * slope/intercept one fixed expression tree over those sums — so
    * the result is identical bits on any engine and any partitioning,
    * and the DuckDB oracle replays it verbatim with
    * list(... ORDER BY x) + list_reduce. Replaces the native
    * regr_slope/regr_intercept pair, whose per-partition float fold
    * order is NOT stable (the r18 text_heaps hash flip: 6-dp rounding
    * of a partition-order-dependent double is not determinism).
    * Returns struct(slope, intercept), both rounded to 6 dp with a
    * zero always +0.0; the intercept uses the UNROUNDED slope, as does
    * the oracle.
    */
  def ols_fit6(pts: Column): Column = {
    import org.apache.spark.sql.functions.{aggregate, lit, round, size, struct, array_sort, when}
    val sorted = array_sort(pts)
    def fsum(f: Column => Column): Column =
      aggregate(sorted, lit(0.0), (acc, e) => acc + f(e))
    val n = size(sorted).cast("double")
    val sx = fsum(_.getField("x"))
    val sy = fsum(_.getField("y"))
    val sxy = fsum(e => e.getField("x") * e.getField("y"))
    val sxx = fsum(e => e.getField("x") * e.getField("x"))
    // degenerate fits (< 2 points, or all-equal x) have a zero
    // denominator: NULL, like the regr_* pair, instead of an ANSI
    // divide-by-zero; the oracle replays divide by NULLIF(denom, 0)
    val denom = n * sxx - sx * sx
    val slope = when(denom =!= lit(0.0), (n * sxy - sx * sy) / denom)
    val intercept = when(denom =!= lit(0.0), (sy - slope * sx) / n)
    // -0.0 → 0.0: DuckDB's round keeps the sign of a zero result, and
    // the oracle normalizes it the same way
    def round6(v: Column): Column = {
      val r = round(v, 6)
      when(r === lit(0.0), lit(0.0)).otherwise(r)
    }
    struct(round6(slope).as("slope"), round6(intercept).as("intercept"))
  }
}
