package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Property tests for the custom scalar kernels (seeded random inputs;
  * no Spark session needed — these pin the JVM functions codegen calls).
  */
class PropertySpec extends AnyFunSuite {

  val rnd = new Random(42)
  def randStr(maxLen: Int): String = {
    val n = rnd.nextInt(maxLen + 1)
    (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
  }
  val trials = 500

  test("jaro_winkler: bounded, symmetric, identity") {
    (1 to trials).foreach { _ =>
      val a = randStr(20)
      val b = randStr(20)
      val s = JaroWinkler.similarity(a, b)
      assert(s >= 0.0 && s <= 1.0, s"($a, $b)")
      assert(s === JaroWinkler.similarity(b, a), s"symmetry ($a, $b)")
      assert(JaroWinkler.similarity(a, a) === 1.0)
    }
  }

  test("jaro_winkler: boost never lowers jaro, only fires above 0.7") {
    (1 to trials).foreach { _ =>
      val a = randStr(15)
      val b = randStr(15)
      val j = JaroWinkler.jaro(a, b)
      val jw = JaroWinkler.similarity(a, b)
      assert(jw >= j, s"($a, $b)")
      if (j <= 0.7) assert(jw === j, s"boost below threshold ($a, $b)")
    }
  }

  test("poly_hash: in range, stable, order-sensitive") {
    (1 to trials).foreach { _ =>
      val s = randStr(300)
      val h = PolyHash.hash(s)
      assert(h >= 0L && h < 1000000007L)
      assert(h === PolyHash.hash(s))
    }
    assert(PolyHash.hash("ab") !== PolyHash.hash("ba"))
    assert(PolyHash.hash("") === 0L)
  }

  test("sorted intersect size equals set intersection size") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(xs: Seq[String]) =
      new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])
    (1 to trials).foreach { _ =>
      val xs = (0 until rnd.nextInt(30)).map(_ => randStr(4))
      val ys = (0 until rnd.nextInt(30)).map(_ => randStr(4))
      val a = xs.distinct.sorted
      val b = ys.distinct.sorted
      assert(SketchOps.sortedIntersectSize(arr(a), arr(b)) ===
        a.toSet.intersect(b.toSet).size)
    }
  }

  test("truncated intersect is a sound upper bound on the long intersect") {
    // the pre-verify drop rule (Dedup.truncSh16): over SORTED long
    // multisets, the merge-walk intersect of the high-16-bit (and, for
    // the int kernel, high-32-bit) truncations is >= the 64-bit walk's
    // count — and the truncated projection of a sorted long array is
    // itself sorted (x >> 48 and x >> 32 are monotone). Exercised with
    // long values CLUSTERED so truncation
    // collisions actually occur (uniform 64-bit randoms would
    // essentially never collide and the bound pin would be vacuous),
    // plus duplicates, since the verify tolerates multiset inputs.
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def longs(xs: Seq[Long]) = new GenericArrayData(xs.toArray[Any])
    def ints(xs: Seq[Int]) = new GenericArrayData(xs.toArray[Any])
    def shorts(xs: Seq[Short]) = new GenericArrayData(xs.toArray[Any])
    var collisionsSeen = 0
    (1 to trials).foreach { _ =>
      // high 16 bits drawn from a SMALL space (0..7) so distinct longs
      // often share BOTH truncations; low bits random
      def gen(n: Int): Seq[Long] = (0 until n).map(_ =>
        (rnd.nextInt(8).toLong << 48) | rnd.nextInt(16).toLong)
      val a = gen(rnd.nextInt(20)).sorted
      val b = gen(rnd.nextInt(20)).sorted
      val ta = a.map(x => (x >> 32).toInt)
      val tb = b.map(x => (x >> 32).toInt)
      val sa = a.map(x => (x >> 48).toShort)
      val sb = b.map(x => (x >> 48).toShort)
      assert(ta === ta.sorted, "truncation must preserve sortedness")
      assert(sa === sa.sorted, "16-bit truncation must preserve sortedness")
      val i64 = SketchOps.sortedIntersectSizeLong(longs(a), longs(b))
      val i32 = SketchOps.sortedIntersectSizeInt(ints(ta), ints(tb))
      val i16 = SketchOps.sortedIntersectSizeShort(shorts(sa), shorts(sb))
      assert(i32 >= i64, s"bound violated: $a vs $b ($i32 < $i64)")
      assert(i16 >= i32,
        s"coarser truncation must bound the finer: $a vs $b ($i16 < $i32)")
      // reference multiset semantics for all walks
      def multiIntersect[T](x: Seq[T], y: Seq[T]): Int = {
        val cy = y.groupBy(identity).map { case (k, v) => k -> v.size }
        x.groupBy(identity).map { case (k, v) =>
          math.min(v.size, cy.getOrElse(k, 0)) }.sum
      }
      assert(i64 === multiIntersect(a, b))
      assert(i32 === multiIntersect(ta, tb))
      assert(i16 === multiIntersect(sa, sb))
      if (i32 > i64) collisionsSeen += 1
      // the jaccard bound itself: same sizes, monotone in the count
      val (na, nb) = (a.size, b.size)
      if (na + nb > 0) {
        val j64 = i64.toDouble / (na + nb - i64)
        val j32 = i32.toDouble / (na + nb - i32)
        assert(j32 >= j64)
      }
    }
    assert(collisionsSeen > 0,
      "fixture never produced a truncation collision — bound pin vacuous")
  }

  test("minhash similarity estimates jaccard on related sets") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(xs: Seq[String]) =
      new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])
    val base = (0 until 200).map(i => s"shingle_$i")
    val overlapping = (100 until 300).map(i => s"shingle_$i") // J = 1/3
    val k = 64
    val sigA = SketchOps.minhashSig(arr(base.sorted), k)
    val sigB = SketchOps.minhashSig(arr(overlapping.sorted), k)
    val agree = (0 until k).count(i =>
      sigA.getUTF8String(i).equals(sigB.getUTF8String(i)))
    val est = agree.toDouble / k
    assert(math.abs(est - 1.0 / 3.0) < 0.15, s"estimate $est far from 1/3")
  }

  test("TopKBy: any reduce/merge order equals the sorted-truncate spec") {
    // production merges partial buffers in nondeterministic order —
    // the aggregate is only correct if every shuffle of the input and
    // every split point reach the same answer as sort-and-take-k
    val agg = new TopKBy(4)
    def spec(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
      xs.sortBy { case (v, id) => (-v, id) }.take(4)
    (1 to trials).foreach { _ =>
      val xs = Seq.fill(rnd.nextInt(12))(
        (rnd.nextInt(5).toLong, rnd.nextInt(8).toLong)).distinct
      val expected = spec(xs)
      // sequential reduce over a shuffle
      val shuffled = rnd.shuffle(xs)
      assert(shuffled.foldLeft(agg.zero)(agg.reduce) === expected)
      // arbitrary split -> partial buffers -> merge (both orders)
      val cut = if (xs.isEmpty) 0 else rnd.nextInt(xs.length)
      val (l, r) = shuffled.splitAt(cut)
      val bl = l.foldLeft(agg.zero)(agg.reduce)
      val br = r.foldLeft(agg.zero)(agg.reduce)
      assert(agg.merge(bl, br) === expected)
      assert(agg.merge(br, bl) === expected, "merge must be commutative")
    }
  }

  test("pgm_ahash_bands: random images match an independent reference decode") {
    // reference implementation written from the spec, not the kernel:
    // parse canonical header, pool (r*8/h, c*8/w), threshold by
    // cross-multiplication, pack little-endian 16-bit bands
    def reference(w: Int, h: Int, px: Array[Int]): Seq[Long] = {
      val sums = new Array[Long](64); val cnts = new Array[Long](64)
      var total = 0L
      for (r <- 0 until h; c <- 0 until w) {
        val seg = (r * 8 / h) * 8 + (c * 8 / w)
        val v = px(r * w + c).toLong
        sums(seg) += v; cnts(seg) += 1; total += v
      }
      val n = w.toLong * h
      (0 until 4).map { b =>
        (0 until 16).foldLeft(0L) { (acc, j) =>
          val seg = b * 16 + j
          if (sums(seg) * n > total * cnts(seg)) acc | (1L << j) else acc
        }
      }
    }
    val expr = PgmAHashBands(
      org.apache.spark.sql.catalyst.expressions.Literal(Array.empty[Byte]))
    (1 to 200).foreach { _ =>
      val w = 1 + rnd.nextInt(24)
      val h = 1 + rnd.nextInt(24)
      val px = Array.fill(w * h)(rnd.nextInt(256))
      val payload = s"P5\n$w $h\n255\n".getBytes("UTF-8") ++
        px.map(_.toByte)
      val got = expr.compute(payload)
      assert(got != null, s"w=$w h=$h decoded null")
      val arr = (0 until 4).map(got.getLong)
      assert(arr === reference(w, h, px), s"w=$w h=$h")
    }
  }

  // ---- the dedup sketch kernels vs independent references ----

  private val wsChars = Array(' ', '\t', '\n', '\r', '\u000B', '\f')
  private val tokenPool = Array("spark", "agg", "join", "kéy", "中文",
    "a", "bb", "x1", "ß", "end.", "a-b", "", "Z")
  private def randText(): String = {
    val n = rnd.nextInt(12)
    val sb = new StringBuilder
    if (rnd.nextBoolean()) sb.append(wsChars(rnd.nextInt(wsChars.length)))
    (0 until n).foreach { _ =>
      sb.append(tokenPool(rnd.nextInt(tokenPool.length)))
      (0 to rnd.nextInt(2)).foreach(_ =>
        sb.append(wsChars(rnd.nextInt(wsChars.length))))
    }
    sb.toString
  }
  private def unsignedLt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    while (i < math.min(x.length, y.length)) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  test("word_shingles: random texts match a sliding/distinct/byte-sort reference") {
    import org.apache.spark.unsafe.types.UTF8String
    for (_ <- 1 to trials; n <- Seq(1, 2, 3, 7)) {
      val t = randText()
      // the reference mirrors the PINNED cross-engine convention:
      // SQL trim (spaces only — not JVM trim's <= U+0020 sweep), the
      // RE2 `\s` class (U+000B is NOT a separator), and limit -1
      // (leading AND trailing empty tokens kept)
      val tr = t.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      val toks = if (tr.isEmpty) Array("") else tr.split("[ \t\n\r\f]+", -1)
      val expect =
        if (toks.length < n) Seq.empty
        else toks.sliding(n).map(_.mkString(" ")).toSeq.distinct
          .sortWith(unsignedLt)
      val got = WordShingles.shingle(t, n)
      val gotSeq = (0 until got.numElements()).map(got.getUTF8String(_).toString)
      assert(gotSeq === expect, s"text=${t.map(_.toInt)} n=$n")
      // round-trip through UTF8String (the codegen path's input type)
      val _ = UTF8String.fromString(t) // parity with production encoding
    }
  }

  test("sorted_contains_int: binary search agrees with linear membership") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    (1 to trials).foreach { _ =>
      val xs = (0 until rnd.nextInt(40)).map(_ => rnd.nextInt(60)).distinct.sorted
      val arr = new GenericArrayData(xs.map(Int.box).toArray[Any])
      (-2 to 62).foreach { v =>
        assert(SketchOps.sortedContainsInt(arr, v) === xs.contains(v),
          s"xs=$xs v=$v")
      }
    }
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("minhash_sig: equals per-seed min of hex md5 strings (hex order claim included)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val k = 8
    for (_ <- 1 to 200) {
      val m = rnd.nextInt(10)
      val shingles = (0 until m).map(_ => randStr(12)).distinct
      val arr = new GenericArrayData(
        shingles.map(s => UTF8String.fromString(s)).toArray[Any])
      val got = SketchOps.minhashSig(arr, k)
      val gotSeq = (0 until k).map(i =>
        if (got.isNullAt(i)) null else got.getUTF8String(i).toString)
      // reference: min as PLAIN STRING ordering over hex digests — if
      // the kernel's digest-byte comparison were not hex-order-
      // preserving this would diverge
      val expect = (1 to k).map { s =>
        if (shingles.isEmpty) null
        else shingles.map(sh => md5hex(s + ":" + sh)).min
      }
      assert(gotSeq === expect, s"shingles=$shingles")
    }
  }

  test("minhash_sig_fast: equals the hex-parse + affine reference") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val k = 16
    for (_ <- 1 to 200) {
      val m = 1 + rnd.nextInt(10)
      val shingles = (0 until m).map(_ => randStr(12)).distinct
      val arr = new GenericArrayData(
        shingles.map(s => UTF8String.fromString(s)).toArray[Any])
      val got = SketchOps.minhashSigFast(arr, k)
      val gotSeq = (0 until k).map(got.getLong)
      // reference replays the ORACLE formulation: h parsed from the
      // first 8 HEX CHARS of the digest (what DuckDB's '0x' cast
      // reads), then (a*h + b) mod P minima — if the kernel's
      // byte-assembled h ever diverged from the hex parse, or the
      // arithmetic overflowed, this would catch it
      val expect = (1 to k).map { s =>
        shingles.map { sh =>
          val h = java.lang.Long.parseLong(md5hex(sh).substring(0, 8), 16)
          (SketchOps.fastA(s) * h + SketchOps.fastB(s)) % SketchOps.fastP
        }.min
      }
      assert(gotSeq === expect, s"shingles=$shingles")
    }
    // constants contract the signed-64 safety proof rests on
    (1 to 64).foreach { s =>
      assert(SketchOps.fastA(s) > 0 && SketchOps.fastA(s) < (1L << 30))
      assert(SketchOps.fastB(s) >= 0 && SketchOps.fastB(s) < SketchOps.fastP)
    }
  }

  test("simhash_bits: equals the nibble-vote reference") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    for (_ <- 1 to 200) {
      val m = rnd.nextInt(12)
      val tokens = (0 until m).map(_ => randStr(8))
      val arr = new GenericArrayData(
        tokens.map(s => UTF8String.fromString(s)).toArray[Any])
      val got = SketchOps.simhashBits(arr)
      val gotBits = (0 until 16).map(got.getInt)
      val expect = (0 until 16).map { dim =>
        val votes = tokens.map { t =>
          val nib = Integer.parseInt(md5hex(t).charAt(dim).toString, 16)
          if (nib >= 8) 1 else -1
        }.sum
        if (votes > 0) 1 else 0
      }
      assert(gotBits === expect, s"tokens=$tokens")
    }
  }

  test("simhash64: hex-bit-vote reference, permutation and self-concat invariance") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(tokens: Seq[String]) = new GenericArrayData(
      tokens.map(s => UTF8String.fromString(s)).toArray[Any])
    for (_ <- 1 to 200) {
      val m = rnd.nextInt(12)
      val tokens = (0 until m).map(_ => randStr(8))
      val got = SketchOps.simhash64(arr(tokens))
      // independent path: dimension i = bit 3-(i%4) of hex nibble i/4
      val expect = (0 until 64).foldLeft(0L) { (sk, dim) =>
        val votes = tokens.map { t =>
          val nib = Integer.parseInt(md5hex(t).charAt(dim / 4).toString, 16)
          if (((nib >> (3 - dim % 4)) & 1) == 1) 1 else -1
        }.sum
        if (votes > 0) sk | (1L << dim) else sk
      }
      assert(got === expect, s"tokens=$tokens")
      // the sketch is a per-dimension VOTE: token order cannot matter,
      // and doubling every vote (text ++ text) cannot change any sign
      assert(SketchOps.simhash64(arr(rnd.shuffle(tokens))) === got,
        s"permutation variance on $tokens")
      assert(SketchOps.simhash64(arr(tokens ++ tokens)) === got,
        s"self-concat variance on $tokens")
    }
  }

  test("window_digests: equals md5 of each space-joined window, nulls skipped") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    for (_ <- 1 to trials; w <- Seq(1, 2, 3, 5)) {
      // a small pool makes repeated windows common; nulls test the
      // concat_ws convention (skipped, no doubled separator)
      val toks: Seq[String] = (0 until rnd.nextInt(14)).map { _ =>
        if (rnd.nextInt(8) == 0) null else tokenPool(rnd.nextInt(5))
      }
      val arr = new GenericArrayData(
        toks.map(t => if (t == null) null else UTF8String.fromString(t)).toArray[Any])
      val all =
        if (toks.length < w) Seq.empty
        else toks.sliding(w).map(win => md5hex(win.filter(_ != null).mkString(" "))).toSeq
      for (distinct <- Seq(false, true)) {
        val got = SketchOps.windowDigests(arr, w, distinct)
        val gotHex = (0 until got.numElements()).map(i =>
          got.getBinary(i).map("%02x".format(_)).mkString)
        assert(gotHex === (if (distinct) all.distinct else all),
          s"toks=$toks w=$w distinct=$distinct")
      }
    }
    assert(SketchOps.windowDigests(null, 1, distinct = true).numElements() === 0)
  }
}
