package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot paths of the dedup/similarity
  * operators.
  *
  * The higher-order-function formulations in `graft.functions` are
  * declarative but interpret one lambda call per element — measured ~50×
  * too slow for the pair-join workloads (a minhash over sf0.01 pegged a
  * core for minutes). These expressions compute the *identical* arithmetic
  * (same fold order, same modular math — the DuckDB oracles don't change)
  * in tight JVM loops inside a single eval call. CodegenFallback costs one
  * virtual call per row, irrelevant next to the O(tokens·perms) inner work.
  */
object PortableHash {
  final val P: Long = 2147483647L
  final val ShingleBase: Long = 1000003L
  /** Knuth multiplicative scramble over [0, 2³²) — THE canonical bucket/
    * sample hash recipe (Column form: functions.hashBucket; DuckDB form:
    * sqlHashBucket; scalar form: [[scramble32]]). A bijection on
    * [0, 2³²) for odd multipliers, so distinctness is preserved.
    */
  final val KnuthScramble: Long = 2654435761L
  final val M32: Long = 4294967296L

  def scramble32(h: Long): Long = (h * KnuthScramble) % M32

  /** fold(h*31 + codepoint) mod P — identical to functions.charFoldHash. */
  def charFold(s: String): Long = {
    var h = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % P
      i += Character.charCount(cp)
    }
    h
  }

  def tokenHashes(text: String): Array[Long] = {
    val toks = text.split(" ", -1)
    val out = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { out(i) = charFold(toks(i)); i += 1 }
    out
  }

  /** Distinct word-3-gram shingle hashes, first-occurrence order. */
  def shingles(text: String): Array[Long] = {
    val th = tokenHashes(text)
    if (th.length < 3) return Array.empty
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var k = 0
    while (k <= th.length - 3) {
      val s = ((th(k) * ShingleBase + th(k + 1)) % P * ShingleBase + th(k + 2)) % P
      seen.add(s)
      k += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }
}

/** array<long> of distinct word-3-gram shingle hashes of a string. */
case class ShingleHashesExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(PortableHash.shingles(v.asInstanceOf[UTF8String].toString))
  override protected def withNewChildInternal(c: Expression): ShingleHashesExpr = copy(c)
}

/** MinHash signature (nPerms longs) of a shingle-hash array.
  * mh_i = min over s of ((a_i·s + b_i) mod P),
  * a_i = (i·2654435761+1) mod P, b_i = (i·40503+7) mod P.
  */
case class MinHashSigExpr(child: Expression, nPerms: Int)
    extends UnaryExpression with CodegenFallback {
  import PortableHash.P
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val sh = v.asInstanceOf[ArrayData].toLongArray()
    val out = new Array[Long](nPerms)
    var i = 0
    while (i < nPerms) {
      val a = (i * 2654435761L + 1L) % P
      val b = (i * 40503L + 7L) % P
      var mn = Long.MaxValue
      var k = 0
      while (k < sh.length) {
        val h = (a * sh(k) + b) % P
        if (h < mn) mn = h
        k += 1
      }
      out(i) = if (sh.isEmpty) 0L else mn
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): MinHashSigExpr =
    copy(child = c)
}

/** SimHash bit vector (nBits longs of 0/1) over token hashes WITH
  * multiplicity: bit_j = [Σ_tokens (2·parity((h·a_j+b_j) mod P) − 1) ≥ 0].
  */
case class SimHashBitsExpr(child: Expression, nBits: Int)
    extends UnaryExpression with CodegenFallback {
  import PortableHash.P
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val th = PortableHash.tokenHashes(v.asInstanceOf[UTF8String].toString)
    val out = new Array[Long](nBits)
    var j = 0
    while (j < nBits) {
      val a = (j * 1099511628211L + 3L) % P
      val b = (j * 2654435761L + 7L) % P
      var acc = 0L
      var k = 0
      while (k < th.length) {
        acc += 2L * (((th(k) * a + b) % P) % 2L) - 1L
        k += 1
      }
      out(j) = if (acc >= 0) 1L else 0L
      j += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): SimHashBitsExpr =
    copy(child = c)
}

/** Sequential-fold dot product of two double arrays (index order — matches
  * the DuckDB list fold bit-for-bit).
  *
  * Implements `doGenCode` (unlike the other graft expressions, which use
  * CodegenFallback): the dot product sits inside pair-join loops — d5
  * evaluates it millions of times per task — and generating the loop keeps
  * the whole projection inside whole-stage codegen with no per-row array
  * copying (`getDouble` reads straight out of the unsafe array).
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    require(a.numElements() == b.numElements(),
      s"dot_product: mismatched vector lengths ${a.numElements()} vs ${b.numElements()}")
    var acc = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $l.numElements();
         |if ($n != $r.numElements()) {
         |  throw new IllegalArgumentException(
         |    "dot_product: mismatched vector lengths " + $n + " vs " + $r.numElements());
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $l.getDouble($i) * $r.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Hamming distance between two equal-length long arrays.
  *
  * Generates code (like DotProductExpr): it sits inside d3's candidate
  * pair loop, and the generated loop reads straight out of the unsafe
  * arrays with no toLongArray copies.
  */
case class HammingExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    require(a.numElements() == b.numElements(),
      s"hamming: mismatched signature lengths ${a.numElements()} vs ${b.numElements()}")
    var d = 0L
    var i = 0
    val n = a.numElements()
    while (i < n) { if (a.getLong(i) != b.getLong(i)) d += 1; i += 1 }
    d
  }
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      s"""
         |final int $n = $l.numElements();
         |if ($n != $r.numElements()) {
         |  throw new IllegalArgumentException(
         |    "hamming: mismatched signature lengths " + $n + " vs " + $r.numElements());
         |}
         |long $d = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($l.getLong($i) != $r.getLong($i)) $d++;
         |}
         |${ev.value} = $d;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Random-hyperplane LSH bucket of a double array. Planes are globally
  * indexed (planeOffset + j) so multiple hash tables draw disjoint planes
  * from one family:
  * plane(g,i) = ((g·dim+i)·2654435761 mod 2^32)/2^31 − 1;
  * bucket = Σ_j [Σ_i v_i·plane(planeOffset+j,i) ≥ 0]·2^j  (i-ascending fold).
  */
case class HyperplaneBucketExpr(child: Expression, nPlanes: Int, dim: Int,
    planeOffset: Int = 0, scrambled: Boolean = false)
    extends UnaryExpression {
  override def dataType: DataType = LongType

  /** Plane matrix precomputed ONCE per expression (row j = plane
    * planeOffset+j) — the plane values are a pure function of the indices,
    * so recomputing the `(g·dim+i)·2654435761 …` arithmetic per input row
    * was pure waste. Same values bit-for-bit as the inline formula.
    *
    * The default (linear) family is a Weyl sequence — component i+1 steps
    * from component i by a CONSTANT, and plane g+1 is a shifted copy of
    * plane g. Fine for LSH *blocking* (bucket recall is measured, exact
    * verify backstops), but sign bits of such planes are strongly
    * correlated pair-to-pair, which quintuples the variance of a
    * hamming-based angle ESTIMATOR (measured σ 39.6 vs the Binomial 8 on
    * 256 bits). `scrambled` breaks the linearity with a 2-round xorshift
    * (h ^= h≫13; h·40503 mod 2³²; h ^= h≫17) — measured σ 9.3. Estimator
    * operators (d14) must use it; existing blocking users keep the linear
    * family so their oracles/anchors are unchanged.
    */
  @transient private lazy val planes: Array[Double] = {
    val out = new Array[Double](nPlanes * dim)
    var j = 0
    while (j < nPlanes) {
      val g = (planeOffset + j).toLong
      var i = 0
      while (i < dim) {
        val lin = (g * dim + i) * 2654435761L % 4294967296L
        val h = if (!scrambled) lin else {
          val h1 = lin ^ (lin >> 13)
          val h2 = h1 * 40503L % 4294967296L
          h2 ^ (h2 >> 17)
        }
        out(j * dim + i) = h.toDouble / 2147483648.0 - 1.0
        i += 1
      }
      j += 1
    }
    out
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    require(a.numElements() >= dim,
      s"hyperplane_bucket: vector length ${a.numElements()} < dim $dim")
    val pl = planes
    var bucket = 0L
    var j = 0
    while (j < nPlanes) {
      var s = 0.0
      var i = 0
      while (i < dim) { s += a.getDouble(i) * pl(j * dim + i); i += 1 }
      if (s >= 0) bucket += 1L << j
      j += 1
    }
    bucket
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val s = ctx.freshName("s")
      val b = ctx.freshName("b")
      s"""
         |if ($v.numElements() < $dim) {
         |  throw new IllegalArgumentException(
         |    "hyperplane_bucket: vector length " + $v.numElements() + " < dim $dim");
         |}
         |long $b = 0L;
         |for (int $j = 0; $j < $nPlanes; $j++) {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $dim; $i++) {
         |    $s += $v.getDouble($i) * $planesRef[$j * $dim + $i];
         |  }
         |  if ($s >= 0) $b += 1L << $j;
         |}
         |${ev.value} = $b;
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): HyperplaneBucketExpr =
    copy(child = c)
}

/** Interleaved-bit z-value (Morton code) over n long columns: bit i of
  * column k lands at position i·n + k, so a sort by the z-value clusters
  * rows that are close in EVERY dimension — the layout primitive behind
  * multi-column min-max file skipping (Delta/Iceberg `OPTIMIZE ZORDER`).
  * Inputs must already be scaled to [0, 2^bits) (see
  * Layout.snapshotCompact's `zOrderBy` mode: min-max binning, or quantile
  * ranks for skewed domains) — out-of-range values error loudly rather than
  * silently folding, which would break locality.
  */
case class ZValueExpr(children: Seq[Expression], bits: Int)
    extends Expression with CodegenFallback {
  require(children.nonEmpty && children.size * bits <= 63,
    s"zvalue: ${children.size} cols × $bits bits must fit in 63 bits")
  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def eval(input: InternalRow): Any = {
    val n = children.size
    var z = 0L
    var k = 0
    while (k < n) {
      val v = children(k).eval(input)
      if (v == null) return null
      val x = v.asInstanceOf[Long]
      if (x < 0 || x >= (1L << bits))
        throw new IllegalArgumentException(
          s"zvalue: input $x of column $k outside [0, 2^$bits) — scale " +
            "inputs (min-max or quantile binning) before interleaving")
      var i = 0
      while (i < bits) {
        z |= ((x >> i) & 1L) << (i * n + k)
        i += 1
      }
      k += 1
    }
    z
  }
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): ZValueExpr = copy(children = cs)
}

/** Portable char-fold hash of a string (fold(h*31 + codepoint) mod P). */
case class CharFoldExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    PortableHash.charFold(v.asInstanceOf[UTF8String].toString)
  override protected def withNewChildInternal(c: Expression): CharFoldExpr = copy(c)
}

/** array<string> of distinct word-3-gram shingles ("w1 w2 w3"), first-
  * occurrence order — the string-level counterpart of ShingleHashesExpr.
  */
case class StringShinglesExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val toks = v.asInstanceOf[UTF8String].toString.split(" ", -1)
    val seen = new java.util.LinkedHashSet[String]()
    var k = 0
    while (k <= toks.length - 3) {
      seen.add(toks(k) + " " + toks(k + 1) + " " + toks(k + 2))
      k += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): StringShinglesExpr = copy(c)
}

/** Count of common elements of two SORTED-ASCENDING distinct bigint
  * arrays — ≡ `size(array_intersect(a, b))` on such inputs, as one
  * merge scan straight over the unsafe arrays: no per-row hash set, no
  * allocation, codegen'd. The saturation-regime containment verify
  * (d10/d23) evaluates this on ~10⁹ candidate join rows per sf10 sweep
  * rung; `array_intersect` builds a hash set per row (~10 µs) where
  * this scans in ~100 ns.
  */
case class SortedIntersectCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements(); val m = b.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1L; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |final int $n = $l.numElements();
         |final int $m = $r.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $n && $j < $m) {
         |  final long $x = $l.getLong($i);
         |  final long $y = $r.getLong($j);
         |  if ($x == $y) { $c++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Smallest common element of two SORTED-ASCENDING distinct bigint
  * arrays — ≡ `element_at(array_intersect(a, b), 1)` on such inputs
  * (null when disjoint): the first hit of the same merge scan as
  * [[SortedIntersectCountExpr]]. d10/d23's exactly-once pair emission
  * compares this against the candidate join key, so it runs on every
  * candidate row that survives the positional filters.
  */
case class SortedIntersectHeadExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements(); val m = b.numElements()
    var i = 0; var j = 0
    while (i < n && j < m) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) return x
      else if (x < y) i += 1
      else j += 1
    }
    null
  }
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |final int $n = $l.numElements();
         |final int $m = $r.numElements();
         |int $i = 0; int $j = 0;
         |${ev.isNull} = true;
         |while ($i < $n && $j < $m) {
         |  final long $x = $l.getLong($i);
         |  final long $y = $r.getLong($j);
         |  if ($x == $y) { ${ev.isNull} = false; ${ev.value} = $x; break; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** True iff the first `n` entries of two equal-length bigint arrays
  * collide pairwise anywhere — `exists(zip_with(slice(a,1,n), slice(b,1,n),
  *   _ === _), identity)` as one codegen'd loop (no sliced-array or
  * zipped-array allocation per row). The blocked pair join
  * ([[graft.functions.blockedPairs]]) evaluates this on every
  * in-bucket candidate row for its first-collision exactly-once
  * emission — ~10¹⁰ rows at the sf10 rung's dense-blob geometry, where
  * the higher-order-function form allocates three arrays per row.
  */
case class PrefixCollideExpr(first: Expression, second: Expression,
    third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = BooleanType
  override protected def nullSafeEval(l: Any, r: Any, k: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    val lim = math.min(k.asInstanceOf[Int],
      math.min(a.numElements(), b.numElements()))
    var i = 0
    while (i < lim) {
      if (a.getLong(i) == b.getLong(i)) return true
      i += 1
    }
    false
  }
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, (l, r, k) => {
      val i = ctx.freshName("i"); val lim = ctx.freshName("lim")
      s"""
         |int $lim = $k;
         |if ($l.numElements() < $lim) $lim = $l.numElements();
         |if ($r.numElements() < $lim) $lim = $r.numElements();
         |${ev.value} = false;
         |for (int $i = 0; $i < $lim; $i++) {
         |  if ($l.getLong($i) == $r.getLong($i)) { ${ev.value} = true; break; }
         |}
       """.stripMargin
    })
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): Expression = copy(first = f, second = s, third = t)
}

/** Σ bit_count(a[i] XOR b[i]) over two equal-length bigint arrays —
  * `aggregate(zip_with(a, b, bit_count(xor)), 0, +)` as one codegen'd
  * loop. d14's 256-bit signature hamming runs on every surviving LSH
  * candidate row.
  */
case class BitHammingExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    require(a.numElements() == b.numElements(),
      s"bit_hamming: mismatched lengths ${a.numElements()} vs ${b.numElements()}")
    var d = 0L; var i = 0
    val n = a.numElements()
    while (i < n) {
      d += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i)); i += 1
    }
    d
  }
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      s"""
         |final int $n = $l.numElements();
         |if ($n != $r.numElements()) {
         |  throw new IllegalArgumentException(
         |    "bit_hamming: mismatched lengths " + $n + " vs " + $r.numElements());
         |}
         |long $d = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $d += java.lang.Long.bitCount($l.getLong($i) ^ $r.getLong($i));
         |}
         |${ev.value} = $d;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}
