package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd sketch primitives. These compute EXACTLY the same
  * md5-derived values as the composable higher-order-function forms
  * (which the DuckDB oracle still evaluates), but in tight JVM loops:
  * Catalyst lambda functions run interpreted with per-element closure
  * dispatch, which benched 10-20× slower at sf0.1 for the
  * md5-per-(element × dimension) shapes these replace.
  */
object SketchOps {

  /** Shared input validation: every input must be array<elem>. ArrayData
    * accessors do NOT widen or check (getUTF8String on an int array, or
    * getFloat on a double array, reads wrong bytes silently — the
    * VecDot lesson), so the declared type must match what the loop
    * reads.
    */
  private[functions] def requireArrayOf(name: String, elem: DataType,
      inputs: DataType*): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (inputs.forall {
        case ArrayType(t, _) => t == elem
        case _ => false
      })
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$name needs array<${elem.simpleString}> input(s), got " +
        inputs.map(_.simpleString).mkString(", "))

  private val hexDigits = "0123456789abcdef".toCharArray

  // One digest + scratch buffer per executor thread: MessageDigest
  // .getInstance per hash dominated the profile, and digest(buf,0,16)
  // makes the steady-state loop allocation-free.
  private val localMd = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))
  private val localBuf = ThreadLocal.withInitial[Array[Byte]](() =>
    new Array[Byte](16))

  private def hexify(d: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(i * 2) = hexDigits((d(i) >> 4) & 0xf).toByte
      out(i * 2 + 1) = hexDigits(d(i) & 0xf).toByte
      i += 1
    }
    out
  }

  /** MinHash signature: for seed s in 1..k, the lexicographic minimum
    * of md5hex(s + ":" + shingle). Identical to
    * transform(sequence(1,k), s -> array_min(transform(sh, md5(...)))).
    *
    * Hex encoding is order-preserving over the raw digest bytes
    * ('0'..'9' < 'a'..'f' tracks nibble order), so minima are found on
    * the 16-byte digests and only the k winners are hexified.
    */
  def minhashSig(shingles: ArrayData, k: Int): ArrayData = {
    val n = shingles.numElements()
    val md = localMd.get()
    val h = localBuf.get()
    val prefixes = new Array[Array[Byte]](k)
    var s = 0
    while (s < k) { prefixes(s) = s"${s + 1}:".getBytes("UTF-8"); s += 1 }
    val mins = new Array[Array[Byte]](k)
    var i = 0
    while (i < n) {
      val sh = shingles.getUTF8String(i).getBytes
      s = 0
      while (s < k) {
        md.reset()
        md.update(prefixes(s))
        md.update(sh)
        md.digest(h, 0, 16)
        if (mins(s) == null) { mins(s) = h.clone() }
        else if (compareBytes(h, mins(s)) < 0) System.arraycopy(h, 0, mins(s), 0, 16)
        s += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(b =>
      if (b == null) null else UTF8String.fromBytes(hexify(b))))
  }

  /** Production MinHash kernel: ONE md5 per shingle + k affine
    * permutations, vs [[minhashSig]]'s k-md5s-per-shingle. The md5
    * count is the dominant CPU line of a 100 TB sketch pass, so this
    * is the kernel a production run opts into (`fastKernel = true` on
    * the Dedup operators); the md5-lex-min kernel stays the default
    * because its published oracles pin it.
    *
    * Arithmetic (all signed-64-bit safe, replayed verbatim by the
    * DuckDB oracle):
    *   h(x)   = first 4 bytes of md5(x) as a big-endian uint32
    *            (= CAST('0x' || substr(md5(x),1,8) AS BIGINT))
    *   sig[s] = min over shingles of (a_s * h + b_s) mod P,  s = 1..k
    * with P = 4294967311 (smallest prime > 2^32) and a_s < 2^30, so
    * a_s * h < 2^62 never overflows in either engine. (a_s, b_s) come
    * from [[fastA]]/[[fastB]] — the oracle SQL embeds the same values
    * via the same functions, so the constants cannot drift.
    */
  val fastP = 4294967311L
  def fastA(s: Int): Long = ((s.toLong * 2654435761L) % 1073741789L) + 1L
  def fastB(s: Int): Long = (s.toLong * 2246822519L) % fastP

  def minhashSigFast(shingles: ArrayData, k: Int): ArrayData = {
    val n = shingles.numElements()
    val md = localMd.get()
    val d = localBuf.get()
    val a = new Array[Long](k)
    val b = new Array[Long](k)
    var s = 0
    while (s < k) { a(s) = fastA(s + 1); b(s) = fastB(s + 1); s += 1 }
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < n) {
      md.reset()
      md.update(shingles.getUTF8String(i).getBytes)
      md.digest(d, 0, 16)
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      s = 0
      while (s < k) {
        val g = (a(s) * h + b(s)) % fastP
        if (g < mins(s)) mins(s) = g
        s += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  // windowDigests' joined-token scratch, grown on demand and kept per
  // thread like the digest itself, up to 1 MB (a longer document's
  // buffer is dropped with the call)
  private val localJoin = ThreadLocal.withInitial[Array[Byte]](() =>
    new Array[Byte](4096))

  /** Rolling `w`-token window digests: element i is the raw 16-byte md5
    * of tokens i..i+w-1 joined by single spaces, i.e. exactly
    * `unhex(md5(concat_ws(' ', slice(toks, i + 1, w))))` for every
    * window in order, null tokens skipped as concat_ws skips them. A
    * null array or one with fewer than `w` tokens gives the empty
    * array (the `size(toks) >= w` branch of that composable form).
    *
    * The tokens are laid out once as their space-joined bytes, so each
    * window is a contiguous slice and costs one md5 update: no
    * per-window string, no hex, no unhex. `distinct` keeps the first
    * occurrence of each digest, in order (array_distinct's result),
    * through an open-addressing set keyed on digest bytes: linear per
    * document, where array_distinct over binary is quadratic.
    */
  def windowDigests(toks: ArrayData, w: Int, distinct: Boolean): ArrayData = {
    val m = if (toks == null) 0 else toks.numElements()
    if (m < w) return new GenericArrayData(Array.empty[Any])
    // st(j)/en(j) bound token j in the joined bytes. A null token takes
    // the start of the next non-null token and the end of the previous
    // one, so the slice [st(i), en(i+w-1)) of any window skips nulls
    // and is empty (negative) when the window holds no token at all.
    val st = new Array[Int](m)
    val en = new Array[Int](m)
    var buf = localJoin.get()
    var pos = 0
    var last = -1
    var j = 0
    while (j < m) {
      if (toks.isNullAt(j)) st(j) = -1
      else {
        val s = toks.getUTF8String(j)
        val sep = if (last < 0) 0 else 1
        if (pos + sep + s.numBytes() > buf.length) {
          buf = java.util.Arrays.copyOf(buf,
            math.max(buf.length * 2, pos + sep + s.numBytes()))
          if (buf.length <= (1 << 20)) localJoin.set(buf)
        }
        if (sep == 1) { buf(pos) = ' '.toByte; pos += 1 }
        s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + pos)
        st(j) = pos
        pos += s.numBytes()
        last = pos
      }
      en(j) = last
      j += 1
    }
    var next = pos + 1
    j = m - 1
    while (j >= 0) {
      if (st(j) < 0) st(j) = next else next = st(j)
      j -= 1
    }
    val md = localMd.get()
    md.reset()
    val n = m - w + 1
    val out = new Array[Any](n)
    val d = localBuf.get()
    // distinct mode: slot -> 1 + index into out, table at least twice
    // the window count; md5 bytes are uniform, so 4 of them hash
    var mask = 0
    var slots: Array[Int] = null
    if (distinct) {
      var cap = 16
      while (cap < 2 * n) cap <<= 1
      mask = cap - 1
      slots = new Array[Int](cap)
    }
    var kept = 0
    var i = 0
    while (i < n) {
      val len = en(i + w - 1) - st(i)
      if (len > 0) md.update(buf, st(i), len)
      md.digest(d, 0, 16)
      if (!distinct) { out(kept) = d.clone(); kept += 1 }
      else {
        var h = ((d(0) & 0xff) | (d(1) & 0xff) << 8 | (d(2) & 0xff) << 16 |
          (d(3) & 0xff) << 24) & mask
        while (slots(h) != 0 &&
            !java.util.Arrays.equals(out(slots(h) - 1).asInstanceOf[Array[Byte]], d))
          h = (h + 1) & mask
        if (slots(h) == 0) { out(kept) = d.clone(); kept += 1; slots(h) = kept }
      }
      i += 1
    }
    new GenericArrayData(if (kept == n) out else out.take(kept))
  }

  private def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** 16-bit SimHash: one md5 per token; dimension i (1..16) counts +1
    * when hex nibble i of the digest is >= 8 else -1; bit = sum > 0.
    * Identical to the nibble/instr higher-order formulation.
    */
  def simhashBits(tokens: ArrayData): ArrayData = {
    val sums = new Array[Int](16)
    val n = tokens.numElements()
    val md = localMd.get()
    val d = localBuf.get()
    var i = 0
    while (i < n) {
      md.reset()
      md.update(tokens.getUTF8String(i).getBytes)
      md.digest(d, 0, 16)
      var dim = 0
      while (dim < 16) {
        val b = d(dim / 2) & 0xff
        val nibble = if (dim % 2 == 0) b >> 4 else b & 0xf
        sums(dim) += (if (nibble >= 8) 1 else -1)
        dim += 1
      }
      i += 1
    }
    new GenericArrayData(sums.map(s => if (s > 0) 1 else 0))
  }

  /** 64-bit SimHash: one md5 per token; dimension i (0..63) reads BIT
    * i of the 128-bit digest MSB-first (byte i/8, bit 7-(i%8) — i.e.
    * hex char i/4, bit 3-(i%4) of its nibble value, which is how the
    * DuckDB oracle replays it), +1 when set else -1; sketch bit i
    * (at long position i, so bit 63 is the sign bit) is sum > 0.
    * The production-resolution variant of [[simhashBits]]: a 16-bit
    * sketch has 65 536 distinct values, so at corpus scale (5 M docs
    * at the 100× bench tier) unrelated docs collide by pigeonhole and
    * the hamming<=3 pair volume grows ~quadratically; 64 bits keeps
    * random-doc collisions vanishing while 4 disjoint 16-bit bands
    * make hamming<=3 recall EXHAUSTIVE (pigeonhole: 3 differing bits
    * touch at most 3 of 4 bands).
    */
  def simhash64(tokens: ArrayData): Long = {
    val sums = new Array[Int](64)
    val n = tokens.numElements()
    val md = localMd.get()
    val d = localBuf.get()
    var i = 0
    while (i < n) {
      md.reset()
      md.update(tokens.getUTF8String(i).getBytes)
      md.digest(d, 0, 16)
      var dim = 0
      while (dim < 64) {
        val bit = (d(dim >> 3) >> (7 - (dim & 7))) & 1
        sums(dim) += (if (bit == 1) 1 else -1)
        dim += 1
      }
      i += 1
    }
    var sk = 0L
    var dim = 0
    while (dim < 64) {
      if (sums(dim) > 0) sk |= 1L << dim
      dim += 1
    }
    sk
  }

  /** Sum of |a_i - b_i| over two equal-length int arrays (Hamming
    * distance when entries are 0/1 bits). Identical to
    * aggregate(zip_with(a, b, (x,y) -> abs(x-y)), 0, (acc,v) -> acc+v).
    */
  def absDiffSum(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    var i = 0
    var s = 0
    while (i < n) {
      s += math.abs(a.getInt(i) - b.getInt(i))
      i += 1
    }
    s
  }

  /** Intersection size of two SORTED distinct string arrays (single
    * merge walk — array_intersect builds a hash set per call).
    */
  /** Binary-search membership in a SORTED ascending int array —
    * O(log m) where array_contains is O(m), which matters when the
    * array is a per-document covered-position set that can be as long
    * as the document itself (ExactSubstr apply on dup-heavy docs).
    */
  def sortedContainsInt(arr: ArrayData, v: Int): Boolean = {
    var lo = 0
    var hi = arr.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val m = arr.getInt(mid)
      if (m == v) return true
      else if (m < v) lo = mid + 1
      else hi = mid - 1
    }
    false
  }

  def sortedIntersectSize(a: ArrayData, b: ArrayData): Int = {
    var i = 0
    var j = 0
    var n = 0
    val na = a.numElements()
    val nb = b.numElements()
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  /** [[sortedIntersectSizeLong]] over SORTED int arrays — the
    * truncated-hash pre-verify representation (high 32 bits of each
    * xxhash64, still sorted because `x >> 32` is monotone over signed
    * longs). Truncation preserves equality, so for multisets the
    * truncated intersect is an UPPER BOUND on the 64-bit intersect
    * (min is superadditive over the preimage counts), which makes the
    * truncated Jaccard a sound >= bound — the pre-verify's drop rule.
    */
  def sortedIntersectSizeInt(a: ArrayData, b: ArrayData): Int = {
    var i = 0
    var j = 0
    var n = 0
    val na = a.numElements()
    val nb = b.numElements()
    while (i < na && j < nb) {
      val x = a.getInt(i)
      val y = b.getInt(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  /** [[sortedIntersectSizeInt]] over SORTED short arrays — the 16-bit
    * pre-verify tier (high 16 bits of each xxhash64): 2 bytes/element,
    * a quarter of the exact form's exchange bytes, same upper-bound
    * soundness (truncation preserves equality); the looser bound costs
    * ~|A|·|B|/2¹⁶ expected spurious intersections per pair (~0.04 at
    * the measured m≈51), false survivors only, never wrong answers.
    */
  def sortedIntersectSizeShort(a: ArrayData, b: ArrayData): Int = {
    var i = 0
    var j = 0
    var n = 0
    val na = a.numElements()
    val nb = b.numElements()
    while (i < na && j < nb) {
      val x = a.getShort(i)
      val y = b.getShort(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  /** [[sortedIntersectSize]] over SORTED distinct long arrays — the
    * hashed-verify representation (xxhash64 per shingle): same merge
    * walk, 8-byte fixed-width compares instead of UTF8 string
    * compares, and ~3-4× fewer bytes per row across the verify join's
    * exchanges (the term that walled the 1000×-tier probe).
    */
  def sortedIntersectSizeLong(a: ArrayData, b: ArrayData): Int = {
    var i = 0
    var j = 0
    var n = 0
    val na = a.numElements()
    val nb = b.numElements()
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }
}

case class SortedContainsInt(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_contains_int"
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (array<int>, int), got (${l.simpleString}, ${r.simpleString})")
    }
  override protected def nullSafeEval(l: Any, r: Any): Any =
    SketchOps.sortedContainsInt(l.asInstanceOf[ArrayData],
      r.asInstanceOf[java.lang.Integer].intValue())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SketchOps.sortedContainsInt($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sig"
  override def checkInputDataTypes(): TypeCheckResult =
    SketchOps.requireArrayOf(prettyName, StringType, child.dataType)
  override protected def nullSafeEval(v: Any): Any =
    SketchOps.minhashSig(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SketchOps.minhashSig($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class MinHashSigFast(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sig_fast"
  override def checkInputDataTypes(): TypeCheckResult =
    SketchOps.requireArrayOf(prettyName, StringType, child.dataType)
  override protected def nullSafeEval(v: Any): Any =
    SketchOps.minhashSigFast(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SketchOps.minhashSigFast($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[SketchOps.windowDigests]]. Not null-intolerant: a null token array
  * yields the empty array, as the composable form it replaces does.
  */
case class WindowDigests(child: Expression, w: Int, distinct: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "window_digests"
  override def checkInputDataTypes(): TypeCheckResult =
    if (w < 1) TypeCheckResult.TypeCheckFailure(
      s"$prettyName: window w must be >= 1, got $w")
    else SketchOps.requireArrayOf(prettyName, StringType, child.dataType)
  override def eval(input: InternalRow): Any =
    SketchOps.windowDigests(child.eval(input).asInstanceOf[ArrayData], w, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.SketchOps.windowDigests(
          ${c.isNull} ? null : ${c.value}, $w, $distinct);""",
      isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class SimHashBits(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash_bits"
  override def checkInputDataTypes(): TypeCheckResult =
    SketchOps.requireArrayOf(prettyName, StringType, child.dataType)
  override protected def nullSafeEval(v: Any): Any =
    SketchOps.simhashBits(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SketchOps.simhashBits($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"
  override def checkInputDataTypes(): TypeCheckResult =
    SketchOps.requireArrayOf(prettyName, StringType, child.dataType)
  override protected def nullSafeEval(v: Any): Any =
    SketchOps.simhash64(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SketchOps.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class AbsDiffSum(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "abs_diff_sum"
  override def checkInputDataTypes(): TypeCheckResult =
    SketchOps.requireArrayOf(prettyName, IntegerType, left.dataType, right.dataType)
  override protected def nullSafeEval(l: Any, r: Any): Any =
    SketchOps.absDiffSum(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SketchOps.absDiffSum($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_intersect_size"
  // polymorphic over the four sorted representations: raw shingle
  // strings (the staged-index/oracle form), xxhash64 longs (the
  // hashed-verify form — see SketchOps.sortedIntersectSizeLong), and
  // truncated ints/shorts (the pre-verify bound forms —
  // SketchOps.sortedIntersectSizeInt/Short)
  private def walkFn: String = left.dataType match {
    case ArrayType(LongType, _) => "sortedIntersectSizeLong"
    case ArrayType(IntegerType, _) => "sortedIntersectSizeInt"
    case ArrayType(ShortType, _) => "sortedIntersectSizeShort"
    case _ => "sortedIntersectSize"
  }
  override def checkInputDataTypes(): TypeCheckResult = {
    val attempts = Seq(StringType, LongType, IntegerType, ShortType).map(t =>
      SketchOps.requireArrayOf(prettyName, t, left.dataType, right.dataType))
    attempts.find(_.isSuccess).getOrElse(attempts.head)
  }
  override protected def nullSafeEval(l: Any, r: Any): Any = walkFn match {
    case "sortedIntersectSizeLong" =>
      SketchOps.sortedIntersectSizeLong(
        l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    case "sortedIntersectSizeInt" =>
      SketchOps.sortedIntersectSizeInt(
        l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    case "sortedIntersectSizeShort" =>
      SketchOps.sortedIntersectSizeShort(
        l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    case _ =>
      SketchOps.sortedIntersectSize(
        l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.SketchOps.$walkFn($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SketchExpressions {
  def sortedContainsInt(arr: Column, v: Column): Column =
    GraftShim.column(SortedContainsInt(
      GraftShim.expression(arr), GraftShim.expression(v)))
  def minhashSig(shingles: Column, k: Int): Column =
    GraftShim.column(MinHashSig(GraftShim.expression(shingles), k))
  def minhashSigFast(shingles: Column, k: Int): Column =
    GraftShim.column(MinHashSigFast(GraftShim.expression(shingles), k))
  def windowDigests(tokens: Column, w: Int, distinct: Boolean): Column =
    GraftShim.column(WindowDigests(GraftShim.expression(tokens), w, distinct))
  def simhashBits(tokens: Column): Column =
    GraftShim.column(SimHashBits(GraftShim.expression(tokens)))
  def simhash64(tokens: Column): Column =
    GraftShim.column(SimHash64(GraftShim.expression(tokens)))
  def absDiffSum(a: Column, b: Column): Column =
    GraftShim.column(AbsDiffSum(
      GraftShim.expression(a), GraftShim.expression(b)))
  def sortedIntersectSize(a: Column, b: Column): Column =
    GraftShim.column(SortedIntersectSize(
      GraftShim.expression(a), GraftShim.expression(b)))
}
